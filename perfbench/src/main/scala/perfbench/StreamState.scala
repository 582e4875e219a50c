package perfbench

import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.{EngineSession, QueryEntry, SparkEntry, TransientCaches}

/** `stream_state`: stream entries whose micro-batches commit state and
  * checkpoints beside their reads. Each pass runs every entry once, in an
  * order drawn from the seed. An untimed first pass warms the JVM and
  * writes each entry's output as parquet, which run.py compares with the
  * entry's DuckDB oracle.
  */
object StreamState {

  /** Stateful entries on both state-store providers (q212: stream-stream
    * join, default provider; q301: session windows, RocksDB) plus the
    * stateless q188 as the control for state-commit changes.
    */
  val Entries: Seq[String] = Seq(
    "q212_stream_stream_join", "q301_stream_sessions_rocksdb", "q188_stream_ingest_dedup")

  /** A pass is three ops of 2-5 s. Figures from one pass per run varied
    * by about a fifth between runs; from three, by under a tenth.
    */
  val MinPasses = 3

  def run(h: Harness): Double = {
    val a = h.args
    val spark = h.spark
    val byName = SparkEntry.allEntries.map(e => e.name -> e).toMap
    val entries = Entries.map(n => byName.getOrElse(n, sys.error(s"unknown entry $n")))
    val oracles = entries.map(e =>
      e.name -> e.oracle.getOrElse(sys.error(s"entry ${e.name} has no static DuckDB oracle")))
    val outDir = s"${a.work}/outputs"

    def build(e: QueryEntry): DataFrame = {
      EngineSession.tune(spark)
      e.run(spark, a.fixtures)
    }

    // warm-up pass: untimed; produces the checked outputs
    val warmStart = System.nanoTime()
    new Random(a.seed).shuffle(entries).foreach { e =>
      val (res, _, _) = h.op(e.name, traced = false) { _ =>
        build(e).coalesce(1).write.mode("overwrite").parquet(s"$outDir/${e.name}")
      }
      h.report.check(s"warmup ${e.name}", res.isSuccess,
        res.failed.map(t => String.valueOf(t.getMessage).take(300)).getOrElse(""))
      TransientCaches.release(blocking = true)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      Json.obj(oracles).s)
    h.report.info("warmup_s") = (System.nanoTime() - warmStart) / 1e9
    h.report.info("oracle_entries") = oracles.map(_._1)

    def timedOp(e: QueryEntry, traced: Boolean): Unit = {
      val (res, ns, id) = h.op(e.name, traced) { op =>
        val df = h.tracer.span("QueryEntry.run", "QueryEntry")(build(e))
        if (traced) {
          h.tracer.span("queryExecution.executedPlan", "catalyst")(df.queryExecution.executedPlan)
          df.queryExecution.tracker.phases.foreach { case (phase, p) =>
            h.note(op, s"catalyst.${phase}_ms", p.durationMs.toDouble)
          }
        }
        h.tracer.span("noop.save", "operators")(
          df.write.format("noop").mode("overwrite").save())
      }
      h.record(Sample(id, e.name, ns, traced, res.isSuccess))
      h.tracer.span("TransientCaches.release", "TransientCaches")(
        TransientCaches.release(blocking = true))
      if (traced) {
        val infos = spark.sparkContext.getRDDStorageInfo
        h.note(id, "TransientCaches.pinned_rdds", infos.length.toDouble)
        h.note(id, "TransientCaches.pinned_bytes", infos.map(i => i.memSize + i.diskSize).sum.toDouble)
      }
    }

    h.loop(MinPasses) { (pass, traced) =>
      new Random(a.seed * 7919 + pass).shuffle(entries).foreach(e => timedOp(e, traced))
    }
    spanTimes(h)
    h.timedOps(traced = false).map(s => h.ops.counters(s.op).inputRecords.toDouble).sum
  }

  /** Per-op span durations for the layers the entry ops pass through. */
  private def spanTimes(h: Harness): Unit = {
    val names = Map("QueryEntry.run" -> "QueryEntry.build_ms",
      "queryExecution.executedPlan" -> "catalyst.plan_ms",
      "noop.save" -> "operators.exec_ms",
      "TransientCaches.release" -> "TransientCaches.release_ms")
    h.tracer.durations.foreach { case (op, name, ns) =>
      names.get(name).foreach(k => h.note(op, k, h.perOp.get(op).flatMap(_.get(k)).getOrElse(0.0) + ns / 1e6))
    }
  }
}
