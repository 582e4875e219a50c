package graft.metrics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Runtime breakdown bins, mirroring the reference's perf-harness
  * report (`scripts/parse_stackcollapse.py:5-10` bins: Initialization /
  * ColumnReader / RLE Decoder / Snappy Decompression / Deinit / Other)
  * in Spark-native form: after an action, walk the executed plan's SQL
  * metrics and bin accumulated nanoseconds by operator family.
  *
  * Where the reference needed perf + flamegraph post-processing to ask
  * "how much of the scan is decompression?", Spark's metrics answer
  * the equivalent question ("how much is scan vs shuffle vs agg vs
  * sort?") natively — §4.4's "measured, not ported" stance.
  */
object RuntimeBreakdown {

  final case class Bin(scanMs: Long, shuffleMs: Long, aggMs: Long,
      sortMs: Long, joinMs: Long, otherMs: Long) {
    def totalMs: Long = scanMs + shuffleMs + aggMs + sortMs + joinMs + otherMs
    def render: String = {
      def pct(v: Long) = if (totalMs == 0) 0.0 else math.round(1000.0 * v / totalMs) / 10.0
      s"scan ${pct(scanMs)}% shuffle ${pct(shuffleMs)}% agg ${pct(aggMs)}% " +
        s"sort ${pct(sortMs)}% join ${pct(joinMs)}% other ${pct(otherMs)}%"
    }
  }

  /** Collapse AQE wrappers so metric collection sees the real operators. */
  private def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case other => other.children
  }

  private def walk(p: SparkPlan): Iterator[SparkPlan] =
    Iterator(p) ++ children(p).iterator.flatMap(walk)

  /** Execute `df` through its own QueryExecution (a sink write would
    * build a fresh one, leaving these metrics at zero) and bin the
    * time-valued metrics by operator family.
    */
  def profile(df: DataFrame): Bin = {
    df.queryExecution.toRdd.foreachPartition { it =>
      while (it.hasNext) it.next()
    }
    of(df)
  }

  /** QueryExecutions that ran eagerly INSIDE an operator (e.g. the
    * pair-set materialized by `TransientCaches.localCheckpoint` in the dedup
    * path) — their metrics would otherwise be invisible to the walk
    * over the returned frame's plan, leaving those queries' breakdowns
    * at 0%. Operators note them here; `of` folds them in; the bench
    * loop drains between queries so time is attributed to the query
    * that spent it.
    */
  private val pending =
    new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.execution.QueryExecution]()

  /** Retention cap: each entry pins a full plan tree (and its session),
    * and only a bench-style caller ever drains — a long-lived engine
    * user calling dedup operators must not accumulate them forever.
    */
  private val MaxPending = 64

  /** Record `df`'s QueryExecution for breakdown attribution; call just
    * before an eager materialization of `df` and chain on the SAME
    * DataFrame instance (the metrics live in its QueryExecution).
    */
  def noteExecuted(df: DataFrame): DataFrame = {
    pending.add(df.queryExecution)
    while (pending.size > MaxPending) pending.poll()
    df
  }

  def drainPending(): Unit = pending.clear()

  /** Bin a completed query's time-valued metrics by operator family.
    * Call after the action has run (metrics accumulate during
    * execution).
    */
  def of(df: DataFrame): Bin = {
    var scan, shuffle, agg, sort, join, other = 0L
    // native-path (FastOrcSum) scan time is task-measured, not
    // SQL-metric'd — fold it into the scan bin, and reset so a later
    // breakdown of an unrelated query can't re-count it
    scan += NativeScanTime.drain() / 1000000L
    def binPlan(root: SparkPlan): Unit = walk(root).foreach { node =>
      val name = node.nodeName.toLowerCase
      // time-valued metrics are reported in ns ("time total") or ms
      val ms = node.metrics.collect {
        case (_, m) if m.metricType == "timing" => m.value
        case (_, m) if m.metricType == "nsTiming" => m.value / 1000000L
      }.sum
      if (name.contains("scan")) scan += ms
      else if (name.contains("shuffle") || name.contains("exchange")) shuffle += ms
      else if (name.contains("aggregate")) agg += ms
      else if (name.contains("sort")) sort += ms
      else if (name.contains("join")) join += ms
      else other += ms
    }
    binPlan(df.queryExecution.executedPlan)
    // fold-and-drain: each noted sub-execution is attributed to exactly
    // one breakdown (this one) and can never leak into a later,
    // unrelated query's bins — nor pin its plan tree past this call
    var qe = pending.poll()
    while (qe != null) { binPlan(qe.executedPlan); qe = pending.poll() }
    Bin(scan, shuffle, agg, sort, join, other)
  }
}
