package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark driver: one closed-loop client on one `Session.local` session.
  *
  * Reads a `key=value` plan file written by `perfbench/run.py`:
  *   data, out, check_dir, check_threads, workload, seed, seconds, trace,
  *   setups, min_passes, check (comma list), pass (comma list, repeated).
  * Then
  *   1. sets up `setups` times (Session.local + Tables.register + a
  *      count(*) per table), stopping the session between rounds;
  *   2. runs the `check` order once off the clock, writing each entry to
  *      parquet under check_dir for the oracle comparison;
  *   3. runs `pass` orders until `seconds` is spent (at least `min_passes`),
  *      each entry as build (`fn(spark, dir)`) then a noop-sink write, with
  *      Bench-style release of persisted blocks off the clock before it.
  * With trace=1 it attaches a SparkListener, a QueryExecutionListener and a
  * StreamingQueryListener on every other timed pass and records spans.
  * Every set-up round and every timed entry also records `Host.delta`, so
  * run.py can take the hypervisor's steal out of its wall time.
  * Everything lands in one JSON file (`out`); run.py does the arithmetic.
  */
object Driver {
  val WindowKey = "perfbench.span"

  final class Plan(lines: Seq[(String, String)]) {
    private val m = lines.toMap
    def apply(k: String): String = m(k)
    def int(k: String): Int = m(k).trim.toInt
    def names(k: String): Seq[String] = m(k).split(',').toSeq.filter(_.nonEmpty)
    val passes: Seq[Seq[String]] =
      lines.collect { case ("pass", v) => v.split(',').toSeq.filter(_.nonEmpty) }
  }

  def readPlan(path: String): Plan = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try new Plan(src.getLines().filter(_.contains('=')).map { ln =>
      val i = ln.indexOf('='); ln.take(i).trim -> ln.drop(i + 1).trim
    }.toSeq)
    finally src.close()
  }

  /** What a timed window used, read at its edges: the JVM's CPU seconds,
    * its JIT compile milliseconds, and the jiffies all of the VM's CPUs
    * spent busy and stolen (the aggregate `cpu` line of /proc/stat: user
    * nice system idle iowait irq softirq steal). run.py takes the stolen
    * share out of the window's wall time; the rest explains a reading.
    */
  object Host {
    private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    private val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    private val stat = java.nio.file.Paths.get("/proc/stat")
    final case class Sample(cpuNs: Long, jitMs: Long, busy: Long, steal: Long)
    def sample(): Sample = {
      val j = try {
        java.nio.file.Files.readAllLines(stat).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      } catch { case NonFatal(_) => Array.fill(8)(0L) } // no /proc/stat: no steal
      Sample(os.getProcessCpuTime, jit.getTotalCompilationTime,
        j(0) + j(1) + j(2) + j(5) + j(6), j(7))
    }
    def delta(a: Sample): Map[String, Any] = {
      val b = sample()
      Map("cpu_s" -> (b.cpuNs - a.cpuNs) / 1e9, "jit_ms" -> (b.jitMs - a.jitMs),
        "busy_j" -> (b.busy - a.busy), "steal_j" -> (b.steal - a.steal))
    }
  }

  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  def main(args: Array[String]): Unit = {
    val plan = readPlan(args(0))
    val dir = plan("data")
    val trace = new Trace
    val run = trace.open("run", -1)
    val out = mutable.LinkedHashMap[String, Any](
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "spark_graft_cpus" -> graft.Session.cpus,
      "driver_mem" -> sys.env.getOrElse("SPARK_DRIVER_MEM", ""),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576)

    // 1. set-up rounds; the last session is kept
    var spark: SparkSession = null
    val setups = (1 to plan.int("setups")).map { round =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      val parent = trace.open("setup", run, "round" -> round)
      val t = mutable.LinkedHashMap[String, Any]()
      val h0 = Host.sample()
      def phase[A](name: String)(f: => A): A = {
        val id = trace.open(s"session.$name", parent)
        val t0 = System.nanoTime()
        try f finally {
          t(s"${name}_s") = (System.nanoTime() - t0) / 1e9; trace.close(id)
        }
      }
      spark = phase("start")(graft.Session.local("perfbench"))
      phase("register")(graft.Tables.register(spark, dir))
      phase("warm")(graft.Tables.all.foreach { tb =>
        spark.sql(s"SELECT count(*) FROM $tb").collect()
      })
      trace.close(parent)
      t ++= Host.delta(h0)
    }
    out("setup") = setups
    val sc = spark.sparkContext
    val queries = graft.SparkEntry.queries
    out("oracle") = (plan.names("check") ++ plan.passes.flatten).distinct
      .flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap

    def inWindow[A](name: String, parent: Int, attrs: (String, Any)*)(f: => A): (A, Double) = {
      val id = trace.open(name, parent, attrs: _*)
      sc.setLocalProperty(WindowKey, id.toString)
      val t0 = System.nanoTime()
      try (f, (System.nanoTime() - t0) / 1e9)
      finally { sc.setLocalProperty(WindowKey, null); trace.close(id) }
    }

    // Off-clock release of everything persisted, as Bench.onePass does;
    // returns (MB found, seconds spent).
    def hygiene(parent: Int): (Double, Double) = {
      val found = storageMb(spark)
      val (_, s) = inWindow("hygiene", parent) {
        spark.catalog.clearCache()
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      }
      (found, s)
    }

    // 2. check pass: off the clock, outputs to parquet as Verify writes
    // them. With check_threads > 1 the entries run concurrently (as Verify
    // runs its non-Io entries), after one release instead of one each.
    val checkId = trace.open("check", run)
    val checkT0 = System.nanoTime()
    val threads = plan.int("check_threads")
    def checkOne(name: String) = {
      if (threads == 1) hygiene(checkId)
      val t0 = System.nanoTime()
      val err =
        try {
          inWindow("entry", checkId, "name" -> name) {
            queries(name)(spark, dir).coalesce(1).write.mode("overwrite")
              .parquet(s"${plan("check_dir")}/$name")
          }
          None
        } catch { case NonFatal(e) => Some(e.toString) }
      mutable.LinkedHashMap[String, Any]("name" -> name,
        "s" -> (System.nanoTime() - t0) / 1e9, "error" -> err.orNull)
    }
    if (threads > 1) hygiene(checkId)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val pending = plan.names("check").map(n => pool.submit(() => checkOne(n)))
      out("check") = pending.map(_.get)
    } finally pool.shutdown()
    trace.close(checkId)
    out("check_wall_s") = (System.nanoTime() - checkT0) / 1e9

    // 3. timed passes
    val listeners = new Listeners(trace)
    val traced = plan("trace") == "1"
    val seconds = plan.int("seconds").toDouble
    val minPasses = plan.int("min_passes")
    val passes = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
    // stop before a pass that would end past the budget (by the last pass's
    // elapsed time, hygiene included), once min_passes are done
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var last = 0.0
    val it = plan.passes.iterator.zipWithIndex
    while (it.hasNext && (passes.size < minPasses || elapsed + last <= seconds)) {
      val (order, p) = it.next()
      val passStart = elapsed
      // traced runs alternate listener-off and listener-on passes (off, on,
      // off, ...), so the tracing overhead is measured inside the same run
      // and a linear warm-up trend cancels out of on − mean(off)
      val on = traced && p % 2 == 1
      if (on) listeners.attach(spark)
      val passId = trace.open("pass", run, "index" -> p, "traced" -> on)
      var wall = 0.0
      val entries = order.map { name =>
        val entryId = trace.open("entry", passId, "name" -> name,
          "id" -> s"${plan("workload")}/${plan("seed")}/$p/$name")
        val (retained, hyg) = hygiene(entryId)
        val e = mutable.LinkedHashMap[String, Any]("name" -> name,
          "retained_mb" -> retained, "hygiene_s" -> hyg)
        val h0 = Host.sample()
        try {
          val (df, b) = inWindow("build", entryId)(queries(name)(spark, dir))
          e("build_s") = b
          // on the clock, traced passes only: part of the tracing overhead
          if (on) e("pinned_mb") = storageMb(spark)
          val (_, w) = inWindow("write", entryId) {
            df.write.format("noop").mode("overwrite").save()
          }
          e("write_s") = w
          e ++= Host.delta(h0)
          wall += b + w
        } catch { case NonFatal(ex) => e("error") = ex.toString }
        e("post_mb") = storageMb(spark)
        if (on) org.apache.spark.perfbench.Bus.drain(sc)
        trace.close(entryId)
        e
      }
      trace.close(passId)
      if (on) listeners.detach(spark)
      passes += mutable.LinkedHashMap("index" -> p, "traced" -> on,
        "wall_s" -> wall, "entries" -> entries)
      last = elapsed - passStart
    }
    out("passes") = passes
    hygiene(run)
    spark.stop()
    trace.close(run)
    if (traced) out("spans") = trace.rows
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .writeValue(new java.io.File(plan("out")), out)
  }
}

/** In-memory span store. Times are epoch microseconds so driver-side spans
  * and listener timestamps (epoch milliseconds) share one axis. A parent of
  * -1 on a listener span means "the window it started in", resolved later
  * by interval containment.
  */
final class Trace {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000

  private final class Span(val id: Int, val parent: Int, val name: String,
                           val start: Long, var end: Long,
                           val attrs: Seq[(String, Any)])
  private val spans = mutable.ArrayBuffer[Span]()

  def add(name: String, parent: Int, start: Long, end: Long,
          attrs: (String, Any)*): Int = synchronized {
    val id = spans.size
    spans += new Span(id, parent, name, start, end, attrs)
    id
  }
  def open(name: String, parent: Int, attrs: (String, Any)*): Int =
    add(name, parent, nowUs, -1L, attrs: _*)
  def close(id: Int): Unit = end(id, nowUs)
  def end(id: Int, us: Long): Unit = synchronized { spans(id).end = us }

  def rows: Seq[Any] = synchronized {
    spans.toSeq.map { s =>
      mutable.LinkedHashMap[String, Any]("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_us" -> s.start, "end_us" -> s.end,
        "attrs" -> mutable.LinkedHashMap(s.attrs: _*))
    }
  }
}

/** The three listeners of a traced pass. Jobs take their parent window from
  * the local property the driver thread set (streaming threads inherit it);
  * stages hang under their job and carry their tasks' summed metrics.
  */
final class Listeners(trace: Trace) {
  private final class StageAcc {
    var tasks = 0; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var maxMs = 0L
    var shR = 0L; var shW = 0L; var spill = 0L
    var inB = 0L; var inR = 0L; var outB = 0L; var outR = 0L
  }
  private val jobSpan = mutable.Map[Int, Int]()
  private val stageJob = mutable.Map[Int, Int]()
  private val acc = mutable.Map[(Int, Int), StageAcc]()

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val w = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Driver.WindowKey))).map(_.toInt).getOrElse(-1)
      jobSpan(e.jobId) = trace.add("job", w, e.time * 1000, -1L, "job_id" -> e.jobId)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpan.get(e.jobId).foreach(trace.end(_, e.time * 1000))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = acc.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAcc)
      a.tasks += 1
      a.maxMs = math.max(a.maxMs, e.taskInfo.duration)
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shR += m.shuffleReadMetrics.totalBytesRead
        a.shW += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.diskBytesSpilled
        a.inB += m.inputMetrics.bytesRead; a.inR += m.inputMetrics.recordsRead
        a.outB += m.outputMetrics.bytesWritten
        a.outR += m.outputMetrics.recordsWritten
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val a = acc.remove((i.stageId, i.attemptNumber())).getOrElse(new StageAcc)
      val job = stageJob.get(i.stageId).flatMap(jobSpan.get).getOrElse(-1)
      trace.add("stage", job,
        i.submissionTime.getOrElse(0L) * 1000, i.completionTime.getOrElse(0L) * 1000,
        "stage_id" -> i.stageId, "tasks" -> a.tasks, "run_ms" -> a.runMs,
        "cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs, "max_task_ms" -> a.maxMs,
        "shuffle_read_b" -> a.shR, "shuffle_write_b" -> a.shW,
        "spill_b" -> a.spill, "input_b" -> a.inB, "input_rec" -> a.inR,
        "output_b" -> a.outB, "output_rec" -> a.outR)
    }
  }

  val qe: QueryExecutionListener = new QueryExecutionListener {
    private def phases(func: String, q: QueryExecution, ok: Boolean): Unit = {
      val ph = q.tracker.phases
      ph.foreach { case (phase, p) =>
        trace.add(s"catalyst.$phase", -1, p.startTimeMs * 1000, p.endTimeMs * 1000,
          "func" -> func, "ok" -> ok)
      }
      // stamped at the last phase's end: this callback runs later, on the
      // listener thread, possibly after the entry's window has closed
      val at = if (ph.isEmpty) trace.nowUs else ph.values.map(_.endTimeMs).max * 1000
      trace.add("catalyst.execution", -1, at, at, "func" -> func)
    }
    override def onSuccess(func: String, q: QueryExecution, ns: Long): Unit = phases(func, q, ok = true)
    override def onFailure(func: String, q: QueryExecution, ex: Exception): Unit = phases(func, q, ok = false)
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      trace.add("stream.query", -1, trace.nowUs, trace.nowUs, "query_id" -> e.id.toString)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000
      val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      trace.add("stream.batch", -1, start, start + ms * 1000,
        "query_id" -> p.id.toString, "batch_id" -> p.batchId,
        "input_rows" -> p.numInputRows,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_mem_b" -> p.stateOperators.map(_.memoryUsedBytes).sum)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(spark)
    s.listenerManager.register(qe)
    s.streams.addListener(streams)
  }
  def detach(s: SparkSession): Unit = {
    org.apache.spark.perfbench.Bus.drain(s.sparkContext)
    s.sparkContext.removeSparkListener(spark)
    s.listenerManager.unregister(qe)
    s.streams.removeListener(streams)
  }
}
