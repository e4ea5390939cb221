package graft

import org.apache.spark.sql.SparkSession

/** One shared SparkSession builder for Verify, Bench and tests, so the
  * benched plans are byte-identical to the verified ones (UTC pinned,
  * same shuffle partitioning, same AQE behavior). Mirrors the single
  * `SessionContext` the reference builds in `src/context.rs:42-52`.
  *
  * Scale notes (100 TB): AQE is explicitly on — at real scale it
  * re-plans sort-merge joins into broadcast joins from runtime stats,
  * coalesces undersized shuffle partitions and splits skewed ones
  * (`skewJoin.enabled`). `shuffle.partitions` defaults to the local
  * core count here; on a cluster it should be ~2-3x total cores —
  * it is env-overridable for that reason.
  *
  * Generated-class cache: whole-stage codegen compiles each generated
  * class with Janino and keeps it in a JVM-wide LRU cache of
  * `spark.sql.codegen.cache.maxEntries` classes (Spark's default is
  * 100). One pass over the 22 TPC-H entries compiles ≈280-300 distinct
  * classes and replays them in the same order every pass. An LRU smaller
  * than a cyclic working set never hits, so at the default every pass
  * recompiled all of them and the JIT re-warmed each new class.
  * [[codegenCacheEntries]] holds that set with room to spare, and a
  * repeated pass compiles nothing (`CodegenCacheSpec`). Measured at 4
  * cores, sf0.1: tpch pass 20.1 → 16.1 s (median of 11), Σ task time
  * 17.1 → 8.5 s. The cost is metaspace for the retained classes: flat
  * after a tpch run (164 MB vs 163-167), +12 MB at the peak of the
  * `sbt test` JVM (264 vs 252 MB).
  *
  * The conf is STATIC: `CodeGenerator` reads it once, when that object
  * first loads, so it only takes effect here, before the JVM's first
  * query. Plans do not change, only the cache does.
  */
object Session {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** Generated-class cache size (see the object scaladoc): about 7× the
    * tpch working set.
    */
  val codegenCacheEntries = 2000

  def local(appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // events.ts is TIMESTAMP(NANOS) parquet; see Tables.load.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // bucketed saveAsTable target (in-memory catalog, files under /tmp —
      // never the repo's cwd default spark-warehouse/)
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", codegenCacheEntries.toLong)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
