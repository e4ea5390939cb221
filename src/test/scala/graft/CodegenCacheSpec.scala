package graft

import graft.queries.Tpch
import org.apache.spark.metrics.source.CodegenMetrics

/** Pins the generated-class cache size that [[Session.local]] sets.
  * Spark's default LRU of 100 classes is smaller than the cyclic working
  * set of one pass over the TPC-H entries, so at the default every
  * repeated pass recompiles every class. `CodegenMetrics` counts one
  * compilation-time sample per Janino compile, i.e. per cache miss.
  */
class CodegenCacheSpec extends SparkSpec {

  test("a repeated tpch pass compiles no generated class") {
    val entries = Tpch.queries.toSeq.sortBy(_._1)
    def round(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      entries.foreach { case (_, fn) =>
        fn(spark, sfSmoke).write.format("noop").mode("overwrite").save()
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = round()
    val second = round()
    info(s"compiled $first classes in round 1, $second in round 2")
    assert(first > 100,
      s"first round compiled $first classes: the set no longer exceeds " +
        "Spark's default cache of 100, so this test shows nothing")
    assert(second == 0, s"second round recompiled $second classes")
  }
}
