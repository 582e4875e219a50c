package perfbench

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.SparkSession

/** Command-line settings of one run (see run.py, which supplies them). */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    fixtures: String,
    work: String,
    out: String,
    cpus: Int,
    orcRows: Long)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def g(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(g("workload"), g("seed").toLong, g("seconds").toDouble, g("trace") == "1",
      g("fixtures"), g("work"), g("out"), g("cpus").toInt, g("orc-rows").toLong)
  }
}

/** One timed op of the closed loop. */
final case class Sample(op: Long, name: String, nanos: Long, traced: Boolean, ok: Boolean)

/** The single client of a closed loop: it issues one op, waits for it,
  * then issues the next. Ops are tagged with an op id (a Spark local
  * property, plus `setJobGroup` when traced) so listener counters
  * resolve to the op that caused them.
  */
final class Harness(val spark: SparkSession, val args: Args, val report: Report) {
  val sc = spark.sparkContext
  val tracer = new Tracer(args.trace)
  val ops = new OpListener
  sc.addSparkListener(ops)
  val streams = new StreamListener(() => tracer.currentOp, ops)
  spark.streams.addListener(streams)
  // jobs outside any op (setup, warm-up bookkeeping) belong to op 0
  private val NoOp = "0"
  sc.setLocalProperty(OpListener.Property, NoOp)

  val samples = mutable.ArrayBuffer.empty[Sample]
  /** Extra per-op measurements (catalyst phases, rows delivered, ...). */
  val perOp = mutable.HashMap.empty[Long, mutable.HashMap[String, Double]]
  private var lastOp = 0L
  private var untracedWallNanos = 0L

  def note(op: Long, key: String, v: Double): Unit =
    perOp.getOrElseUpdate(op, mutable.HashMap.empty)(key) = v

  /** Run `body` as one op and return its outcome and elapsed nanos. */
  def op[T](name: String, traced: Boolean)(body: Long => T): (Try[T], Long, Long) = {
    lastOp += 1
    val id = lastOp
    tracer.currentOp = id
    tracer.active = traced
    sc.setLocalProperty(OpListener.Property, id.toString)
    if (traced) sc.setJobGroup(s"perfbench-op-$id", name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val r = Try(tracer.span(name, "bench")(body(id)))
    val dt = System.nanoTime() - t0
    if (traced) sc.clearJobGroup()
    sc.setLocalProperty(OpListener.Property, NoOp)
    (r, dt, id)
  }

  def record(s: Sample): Unit = {
    samples += s
    val (a, f) = report.opsByName.getOrElse(s.name, (0, 0))
    report.opsByName(s.name) = (a + 1, f + (if (s.ok) 0 else 1))
  }

  /** Closed loop: whole passes until `args.seconds` have elapsed, and at
    * least `minPasses`. A traced run alternates untraced and traced
    * passes, at least untraced-traced-untraced, so the tracing overhead
    * is measured inside the run and JIT warm-up across passes favours
    * neither side.
    */
  def loop(atLeast: Int)(runPass: (Int, Boolean) => Unit): Unit = {
    val minPasses = math.max(atLeast, if (args.trace) 3 else 1)
    val start = System.nanoTime()
    var pass = 0
    while (pass < minPasses || System.nanoTime() - start < args.seconds * 1e9) {
      val traced = args.trace && pass % 2 == 1
      val (_, ns) = Stats.time(runPass(pass, traced))
      if (!traced) untracedWallNanos += ns
      pass += 1
    }
    tracer.active = false
    report.info("passes") = pass
    flushListeners()
  }

  def timedOps(traced: Boolean): Seq[Sample] = samples.filter(_.traced == traced).toSeq
  def untracedSeconds: Double = untracedWallNanos / 1e9

  /** Wait until listener events of every op so far were handled. */
  def flushListeners(): Unit = {
    report.check("listener events flushed", ops.flush(sc, "-1"))
    report.check("streaming queries terminated", streams.awaitQuiet(30000))
  }

  /** Median of `n` timed one-task jobs: the scheduler's empty-job floor. */
  def emptyJobMs(n: Int = 5): Double =
    Stats.median((1 to n).map(_ => Stats.ms(Stats.time(sc.parallelize(Seq(1), 1).count())._2)))

  /** Driver heap in use after forced full collections. */
  def heapRetainedMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** End-to-end metrics over the untraced ops. `rows` is the number of
    * input rows those ops scanned.
    */
  def endToEnd(rows: Double): Unit = {
    val s = timedOps(traced = false)
    val lat = s.filter(_.ok).map(x => Stats.ms(x.nanos))
    val p90 = Stats.percentile(lat, 0.9)
    val secs = untracedSeconds
    report.metric("ops_per_s", s.size / secs, "1/s")
    report.metric("latency_p50_ms", Stats.median(lat), "ms")
    report.metric("latency_p90_ms", p90, "ms")
    report.metric("scan_rows_per_s", rows / secs, "rows/s")
    report.info("latency_samples") = lat.size
    report.info("samples_beyond_p90") = lat.count(_ > p90)
    report.info("timed_seconds") = secs
    report.info("latency_ms_by_name") = Json.obj(s.filter(_.ok).groupBy(_.name).toSeq.sortBy(_._1)
      .map { case (n, xs) => n -> xs.map(x => math.round(Stats.ms(x.nanos))) })
  }

  /** Per-op means of the listener counters and span times over the
    * traced ops; layers a workload never touches read 0.
    */
  def perLayer(): Unit = {
    val traced = timedOps(traced = true)
    val ids = traced.map(_.op).toSet
    val n = math.max(1, ids.size).toDouble
    val cs = ids.toSeq.map(ops.counters)
    def mean(f: OpCounters => Double): Double = cs.map(f).sum / n
    val m = report.metric _
    m("scheduler.jobs", mean(_.jobs), "count")
    m("scheduler.stages", mean(_.stages), "count")
    m("scheduler.stage_retries", mean(_.stageRetries), "count")
    m("scheduler.tasks", mean(_.tasks), "count")
    m("scheduler.failed_tasks", mean(c => c.failedTasks + c.killedTasks), "count")
    m("scheduler.failed_jobs", mean(_.failedJobs), "count")
    m("scheduler.delay_ms", mean(_.delayMs), "ms")
    m("scheduler.unattributed_tasks", ops.unattributedTasks.toDouble, "count")
    m("operators.task_run_ms", mean(_.runMs), "ms")
    m("operators.task_cpu_ms", mean(_.cpuNs / 1e6), "ms")
    m("operators.gc_ms", mean(_.gcMs), "ms")
    m("operators.shuffle_write_bytes", mean(_.shuffleWriteBytes), "B")
    m("operators.shuffle_read_bytes", mean(_.shuffleReadBytes), "B")
    m("operators.spill_bytes", mean(_.spillBytes), "B")
    m("operators.input_rows", mean(_.inputRecords), "count")
    m("streaming.queries", mean(_.queries), "count")
    m("streaming.failed_queries", mean(_.failedQueries), "count")
    m("streaming.batches", mean(_.batches), "count")
    m("streaming.trigger_ms", mean(_.triggerMs), "ms")
    m("streaming.add_batch_ms", mean(_.addBatchMs), "ms")
    m("streaming.wal_commit_ms", mean(_.walCommitMs), "ms")
    m("streaming.offsets_commit_ms", mean(_.offsetsCommitMs), "ms")
    m("streaming.state_commit_ms", mean(_.stateCommitMs), "ms")
    m("streaming.query_planning_ms", mean(_.planningMs), "ms")
    m("streaming.state_rows_updated", mean(_.stateRowsUpdated), "count")
    m("streaming.state_memory_bytes", mean(_.stateMemoryBytes), "B")
    val tracedSecs = traced.map(_.nanos).sum / 1e9
    m("streaming.input_rows_per_s",
      if (tracedSecs > 0) cs.map(_.inputRows).sum / tracedSecs else 0.0, "rows/s")
    Seq("QueryEntry.build_ms", "catalyst.plan_ms", "catalyst.analysis_ms",
      "catalyst.optimization_ms", "catalyst.planning_ms", "operators.exec_ms",
      "TransientCaches.release_ms", "TransientCaches.pinned_bytes",
      "TransientCaches.pinned_rdds").foreach { k =>
      m(k, tracedMean(traced.map(_.name).toSet, k), unitOf(k))
    }
    val self = tracer.selfNanosByLayer(ids)
    Seq("bench", "GraftEngine", "sources", "QueryEntry", "catalyst", "operators",
      "TransientCaches").foreach(l => m(s"$l.self_ms", self.getOrElse(l, 0L) / 1e6 / n, "ms"))
    // tracing overhead: traced minus untraced passes of the same run
    val base = timedOps(traced = false).filter(_.ok).map(x => Stats.ms(x.nanos))
    val withTrace = traced.filter(_.ok).map(x => Stats.ms(x.nanos))
    val over = Stats.median(withTrace) - Stats.median(base)
    m("trace.overhead_ms", over, "ms")
    m("trace.overhead_share", over / Stats.median(base), "ratio")
    m("trace.spans", tracer.count.toDouble, "count")
    m("latency.samples", base.size.toDouble, "count")
    m("latency.beyond_p90", base.count(_ > Stats.percentile(base, 0.9)).toDouble, "count")
    // scan-layer metrics only orc_scan measures read 0 elsewhere
    Seq("sources.write_rows_per_s" -> "rows/s", "sources.orc_bytes_per_row" -> "B",
      "sources.footer_ms" -> "ms", "sources.stripe_ms" -> "ms", "sources.stripe_none_ms" -> "ms",
      "sources.decode_rows_per_s" -> "rows/s", "sources.decompress_share" -> "ratio",
      "sources.rows_delivered" -> "count", "sources.skip_ratio" -> "ratio",
      "metrics.native_scan_ms" -> "ms").foreach { case (k, u) =>
      if (!report.metrics.contains(k)) m(k, 0.0, u)
    }
  }

  /** Mean of a per-op note over the traced ops named in `names`. */
  def tracedMean(names: Set[String], key: String): Double = {
    val xs = timedOps(traced = true).filter(s => names(s.name))
      .flatMap(s => perOp.get(s.op).flatMap(_.get(key)))
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
  }

  private def unitOf(k: String): String =
    if (k.endsWith("_ms")) "ms" else if (k.endsWith("_bytes")) "B" else "count"
}
