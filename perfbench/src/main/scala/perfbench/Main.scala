package perfbench

import java.nio.file.{Files, Paths}

import graft.{EngineSession, GraftEngine}

/** Benchmark JVM: sets up one workload, runs its closed loop, and writes
  * a report (metrics, checks, run facts) as JSON to `--out`. run.py
  * starts it and turns the report into the benchmark's result line.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val report = new Report
    Files.createDirectories(Paths.get(a.work))
    val (spark, startNs) = Stats.time(EngineSession.local("perfbench", a.cpus.toString))
    val h = new Harness(spark, a, report)
    val (engine, registerNs) = Stats.time {
      val e = new GraftEngine(spark)
      e.registerViews(a.fixtures)
      e
    }
    report.metric("EngineSession.start_ms", startNs / 1e6, "ms")
    report.metric("Tables.register_ms", registerNs / 1e6, "ms")
    report.metric("scheduler.empty_job_ms", h.emptyJobMs(), "ms")
    report.info("local") = spark.sparkContext.master
    report.info("shuffle_partitions") = spark.conf.get("spark.sql.shuffle.partitions")

    val (genMs, scannedRows) = a.workload match {
      case "orc_scan" => OrcScan.run(h, engine)
      case "stream_state" => (0.0, StreamState.run(h))
      case w => sys.error(s"unknown workload $w")
    }
    report.metric("sources.generate_ms", genMs, "ms")
    report.metric("setup_s", (startNs / 1e6 + registerNs / 1e6 + genMs) / 1e3, "s")
    h.endToEnd(scannedRows)
    if (a.trace) {
      h.perLayer()
      h.tracer.write(Paths.get(a.work, "trace_spans.jsonl"))
    }
    graft.TransientCaches.release(blocking = true)
    report.metric("heap_retained_mb", h.heapRetainedMb(), "MB")
    Files.writeString(Paths.get(a.out), report.toJson.s)
    spark.stop()
  }
}
