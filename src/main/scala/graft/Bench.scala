package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (BASELINE.md §2 protocol): every declared query on
  * `SPARK_GRAFT_SF_DIR`, 1 warmup + 5 timed runs (1 timed run for
  * streaming entries — their time is a stable micro-batch scheduling
  * floor; see [[timedRunsFor]]), median wall-clock, forced through the
  * `noop` sink so the full plan materializes without sink I/O skewing
  * the number (count() would let Catalyst prune the very projections
  * being measured). The r1-shared grading prefix runs FIRST and emits
  * an early `bench_summary` line the moment it completes (r13 VERDICT
  * item 1: the r13 full sequence outran the driver's wall clock on a
  * loaded host and the round's canonical record was rc 124 with no
  * number at all — now a timeout truncates coverage, never the grade).
  *
  * Emits exactly one JSON line:
  *   {"metric":"total_median_sec","value":N,"unit":"sec",
  *    "queries":{...},"sf":...,"n_queries":N,"failed":N,
  *    "vs_prev":{...},"prev":"BENCH_HISTORY.jsonl#N",
  *    "witness":{"qNN":{"seq":s,"iso":s},...}}
  * `queries` values stay plain seconds (the driver's contract); a
  * failed query is recorded as -1.0 there, EXCLUDED from the total,
  * and counted in `failed` so a smaller total can never silently mean
  * "a query crashed". `vs_prev` is this_run/prev_run per query against
  * the newest comparable same-sf run in BENCH_HISTORY.jsonl (`{}`,
  * with no `prev` label, when no line qualifies — e.g. the first run
  * at a new sf; see [[readHistory]]). `witness` makes the record
  * self-certifying (BASELINE.md §2 protocol): the slowest queries and
  * any >1.5x vs_prev regression are re-measured ISOLATED after the
  * sequence — seq/iso ≈ 1 certifies the sequence number; a regression that
  * vanishes isolated is sequence/host noise, visible in the record
  * itself. When seq and iso THEMSELVES disagree (>1.5x either way) the
  * query is re-measured once more in a fresh child JVM and recorded as
  * `witness.<q>.fresh` — the no-shared-history tiebreaker. The line is
  * also written to BENCH_LAST.json as a file artifact.
  *
  * A second, FINAL stdout line is a compact (<1,500-char) summary —
  * `{"metric":"bench_summary",...}` with totals, the vs-r1 grade, the
  * worst per-query ratios, and per-witness verdicts — sized so the
  * driver's 2,000-char stdout tail always captures a complete JSON
  * object (the full record is ~8 KB and truncates). Also written to
  * BENCH_SUMMARY.json.
  */
object Bench {

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(s.size / 2)
  }

  /** A JSON number in full float syntax: a bare [0-9.eE+]+ class cannot
    * carry a NEGATIVE exponent, so "4.9E-4" captured as "4.9E" would
    * throw in toDouble and lose the whole run's vs_prev.
    */
  private val Num = "(-?\\d+(?:\\.\\d+)?(?:[eE][+-]?\\d+)?)"

  /** Per-query seconds in one record's text, scoped to its
    * "queries":{...} object (flat numbers by contract).
    */
  def queryTimesFromText(text: String): Map[String, Double] =
    try {
      val pair = ("\"([^\"]+)\":" + Num).r
      val start = text.indexOf("\"queries\":{")
      // NO whole-text fallback: a driver record whose tail truncated
      // away the queries object still contains witness fragments
      // ("iso_steal":0.001 next to qNN keys), and scraping those
      // manufactured 50-70x vs_prev ratios in the r9 full run — an
      // absent baseline must degrade to "no baseline", never to a
      // garbage one (the witness pass then re-measured 10 innocent
      // queries to clear labels that should never have existed)
      val scope =
        if (start >= 0) {
          val body = text.substring(start + "\"queries\":{".length)
          body.substring(0, math.max(0, body.indexOf('}')))
        } else ""
      // keys are qNN_*: immune to the wrapper's own numeric fields
      pair.findAllMatchIn(scope)
        .filter(_.group(1).matches("q\\d+\\w*"))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    } catch {
      // a malformed record degrades to "no baseline", never to losing
      // this run's results
      case scala.util.control.NonFatal(_) => Map.empty
    }

  /** The sf a record was measured at: the directory NAME of its "sf"
    * field (cross-sf ratios are meaningless), None when the field is
    * absent.
    */
  private def recordSf(text: String): Option[String] =
    "\"sf\":\\s*\"([^\"]+)\"".r.findFirstMatchIn(text).map(m => sfName(m.group(1)))

  private def sfName(sfDir: String): String = new java.io.File(sfDir).getName

  /** One BENCH_HISTORY.jsonl line, parsed once: its 1-based line number
    * (the `prev` label), sf, loaded flag ([[lineLoaded]]), per-query
    * seconds and CPU-control seconds.
    */
  final case class HistoryLine(
      number: Int,
      sf: Option[String],
      loaded: Boolean,
      queries: Map[String, Double],
      cpuControl: Option[Double])

  /** BENCH_HISTORY.jsonl in `dir`, NEWEST line first: the one source of
    * every cross-run baseline (vs_prev, total-vs-history, cpu-control).
    * The bench writes it itself, append-only, so unlike the per-round
    * wrapper records it is never truncated: a wrapper keeps only a
    * ~2,000-char stdout TAIL, which cut the `"queries":{` prefix from
    * every full-run record since r2 — the r10 defect where vs_prev
    * degraded to `{}` and the >1.5x-vs-prev witness was silently
    * disarmed. An absent or unreadable file is "no history".
    */
  def readHistory(dir: java.io.File = new java.io.File(".")): Seq[HistoryLine] =
    try {
      import scala.jdk.CollectionConverters._
      val cpuRe = ("\"cpu_control\":" + Num).r
      java.nio.file.Files.readAllLines(new java.io.File(dir, "BENCH_HISTORY.jsonl").toPath)
        .asScala.toSeq.zipWithIndex.reverse.map { case (text, i) =>
          HistoryLine(i + 1, recordSf(text), lineLoaded(text), queryTimesFromText(text),
            cpuRe.findFirstMatchIn(text).map(_.group(1).toDouble))
        }
    } catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** A same-sf line not recorded under load. The sf field must be
    * PRESENT and matching: a schema-drifted line with no sf field would
    * otherwise silently supply cross-sf ratios — the same class of
    * silent-disarm defect the history source exists to prevent.
    * Loaded-run lines are skipped (r13 ADVICE low): a steal-inflated
    * baseline makes this run's ratios read fast and under-arms the
    * regression witness.
    */
  private def quietSameSf(l: HistoryLine, sfDir: String): Boolean =
    !l.loaded && l.sf.contains(sfName(sfDir))

  /** A line usable as a run baseline for a run of `names`: quiet and
    * same-sf, covering at least half of `names` (SPARK_GRAFT_ONLY
    * partials and fresh-JVM child lines never do) and of a similar run
    * shape (see [[HistoryShapeRatio]]).
    */
  private def comparable(l: HistoryLine, sfDir: String, names: Set[String]): Boolean =
    quietSameSf(l, sfDir) &&
      l.queries.keySet.intersect(names).size >= math.max(1, names.size / 2) &&
      l.queries.size <= HistoryShapeRatio * math.max(1, names.size)

  /** Per-query seconds from the newest [[comparable]] history line, with
    * its `BENCH_HISTORY.jsonl#N` label; `(None, empty)` when no line
    * qualifies (e.g. the first run at a new sf).
    */
  def previousQueryTimes(
      history: Seq[HistoryLine],
      sfDir: String,
      names: Set[String]): (Option[String], Map[String, Double]) =
    history.find(comparable(_, sfDir, names)) match {
      case Some(l) => (Some(s"BENCH_HISTORY.jsonl#${l.number}"), l.queries)
      case None => (None, Map.empty)
    }

  /** The round-1 driver baseline (BENCH_r01.json): the fixed reference
    * every round is graded against. Its 46-query map survives intact
    * inside the driver's truncated tail, so this parse is complete.
    * Returns empty when the baseline's sf differs from `sfDir` —
    * cross-sf ratios (e.g. an sf0.01 iteration run vs the sf0.1
    * baseline) would be meaningless as grades and noisy as witness
    * triggers.
    */
  def r1QueryTimes(sfDir: String): Map[String, Double] =
    try {
      // the wrapper keeps our line string-escaped inside its own
      // "tail" field; a clean bench line has no \" sequences
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("BENCH_r01.json")), "UTF-8").replace("\\\"", "\"")
      if (recordSf(text).forall(_ == sfName(sfDir))) queryTimesFromText(text)
      else Map.empty
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** Queries witnessed isolated after the sequence (the slowest ones
    * dominate total time AND are where sequence-position noise is most
    * expensive to misread), plus any query whose vs_prev ratio exceeds
    * [[WitnessRegressionRatio]] — a regression must either reproduce
    * isolated (real) or vanish (sequence/host noise), and the record
    * distinguishes the two without a human re-run.
    */
  val WitnessSlowest = 8
  val WitnessRegressionRatio = 1.5
  /** Any query whose sequence time exceeds this multiple of its r1
    * driver baseline is witnessed regardless of absolute time or
    * vs_prev — the r7 judge found q28 at 2.48x vs r1 (0.214 s, too
    * fast and too stable vs prev for either existing trigger) left
    * unadjudicated; the grading threshold is 2x, so the record must
    * carry a verdict for every reading that crosses it.
    */
  val WitnessVsR1Ratio = 2.0
  val WitnessCap = 18

  /** Streaming entries (micro-batch-scheduling-bound: their time is a
    * Trigger.AvailableNow machinery floor, not a plan cost, and the
    * floor is stable run-to-run). Recognized by name — the `_stream`
    * infix is the inventory-wide convention (17 entries).
    */
  def isStreaming(name: String): Boolean = name.contains("_stream")

  /** Timed-run count per query (r13 VERDICT item 1): streaming entries
    * get ONE timed run — median-of-5 over a scheduling floor buys no
    * precision and cost ~70 s of the full-inventory wall clock, which
    * is what pushed the r13 bench past the driver's timeout (the
    * committed round-13 record was rc 124 / parsed null).
    */
  def timedRunsFor(name: String, default: Int): Int =
    if (isStreaming(name)) 1 else default

  /** Bench inventory order (r13 VERDICT item 1): every query with an r1
    * driver baseline runs FIRST (inventory order within each group), so
    * the vs_r1 grading signal is measured, printed, and written to
    * BENCH_SUMMARY.json before the ~290-query tail starts — a driver
    * wall-clock timeout can then truncate COVERAGE but never zero out
    * the round's graded record. Spec-pinned in EdgeCaseSpec: with the
    * real registry and the r1 baseline, the full r1-shared set precedes
    * inventory position 47.
    */
  def benchOrder(entries: Seq[QueryEntry], r1Names: Set[String]): Seq[QueryEntry] = {
    val (shared, rest) = entries.partition(e => r1Names.contains(e.name))
    shared ++ rest
  }

  /** The early (post-r1-prefix) summary line — the timeout-survivable
    * grading record. Compact and complete JSON: totals over the prefix,
    * the vs-r1 grade, worst per-query ratios, and the host signals
    * known at that point. Tagged `"phase":"r1_prefix"` so a truncated
    * round record is visibly partial, never mistaken for the full run.
    */
  /** The vs-r1 grading fragment shared by the early (r1-prefix) and
    * final summaries — ONE implementation so the timeout-survivable
    * record and the final record can never desynchronize on the
    * grading arithmetic (round-14 review finding).
    */
  def vsR1Fragment(results: Seq[(String, Double)], r1: Map[String, Double]): String = {
    def r3(x: Double): Double = math.round(x * 1000.0) / 1000.0
    val shared = results.collect {
      case (k, v) if v > 0 && r1.get(k).exists(_ > 0) => (k, v, r1(k))
    }
    if (shared.isEmpty) ""
    else {
      val ratio = r3(shared.map(_._2).sum / shared.map(_._3).sum)
      val worst = shared.map { case (k, v, b) => (k, v / b) }
        .sortBy(-_._2).take(3)
        .map { case (k, r) => s""""$k":${r3(r)}""" }.mkString("{", ",", "}")
      s""","vs_r1":$ratio,"r1_shared":${shared.size},"worst_vs_r1":$worst"""
    }
  }

  def r1PrefixSummaryJson(
      prefix: Seq[(String, Double)],
      r1: Map[String, Double],
      sfDir: String,
      cpuControl: Double,
      stealAvg: Double): String = {
    def r3(x: Double): Double = math.round(x * 1000.0) / 1000.0
    val ok = prefix.collect { case (_, v) if v >= 0 => v }
    s"""{"metric":"bench_summary","phase":"r1_prefix","total_prefix":${r3(ok.sum)},""" +
      s""""n":${prefix.size},"failed":${prefix.size - ok.size},"sf":"$sfDir"""" +
      s"""${vsR1Fragment(prefix, r1)},""" +
      s""""steal_avg":${r3(stealAvg)},"cpu_control":${r3(cpuControl)}}"""
  }

  /** Post-record quiet-host adjudication probe selection (r13 VERDICT
    * item 5): when a round's full runs self-flag as loaded and a quiet
    * probe supplies the canonical grade, the probe must cover the
    * r1-shared grading set PLUS every ≥3×-vs-prev flagged query —
    * INCLUDING streaming entries. The r13 probe excluded streaming by
    * construction, and the round's only unadjudicated residual
    * (q196_stream_ann_ingest) was exactly a streaming flag.
    */
  def quietProbeNames(
      r1Shared: Set[String],
      flaggedVsPrev: Map[String, Double]): Seq[String] =
    (r1Shared ++ flaggedVsPrev.collect {
      case (k, v) if v >= LoadedBigRegressionRatio => k
    }).toSeq.sorted

  /** Witness selection (r12 VERDICT item 1). The r12 committed record
    * showed the failure mode of a naive `(regressed ++ slowest ++
    * overR1).take(cap)`: `regressed` enumerated in INVENTORY order, so
    * on a noisy run the cap filled with early sub-second entries and
    * squeezed out the three LARGEST vs-prev regressions (q232 4.3×,
    * q139 3.8× at 16 s, q215 3.2× at 15 s) AND the entire slowest-8
    * list — the exact readings the witness pass exists for. Rules,
    * spec-pinned in EdgeCaseSpec:
    *   1. every ≥[[LoadedBigRegressionRatio]]-vs-prev reading is
    *      witnessed unconditionally (the cap EXPANDS rather than drop
    *      one);
    *   2. the slowest-[[WitnessSlowest]] are witnessed unconditionally
    *      (they dominate the total);
    *   3. remaining >1.5×-vs-prev regressions fill by vs_prev
    *      DESCENDING, then >2×-vs-r1 flags; only this tail is capped.
    * Order matters downstream: big regressions lead so the
    * [[FreshCap]]-bounded fresh-JVM pass (taken in witness order)
    * always reaches them first.
    */
  def selectWitnesses(
      results: Seq[(String, Double)],
      prev: Map[String, Double],
      r1: Map[String, Double]): Seq[String] =
    selectWitnessesWithDropped(results, prev, r1)._1

  /** [[selectWitnesses]] plus the names the cap SQUEEZED OUT (r13
    * ADVICE low): when big-regressions + slowest-8 fill the cap, the
    * >1.5×-vs-prev / >2×-vs-r1 fill tail is truncated — those names
    * must surface in the round record (`witness_dropped` in the
    * summary), or the r7 promise that every over-threshold reading
    * carries its own verdict fails silently.
    */
  def selectWitnessesWithDropped(
      results: Seq[(String, Double)],
      prev: Map[String, Double],
      r1: Map[String, Double]): (Seq[String], Seq[String]) = {
    val slowest = results.filter(_._2 > 0).sortBy(-_._2)
      .take(WitnessSlowest).map(_._1)
    val regressedSorted = results.collect {
      case (k, v) if v > 0 &&
        prev.get(k).exists(p => p > 0 && v / p > WitnessRegressionRatio) =>
        (k, v / prev(k))
    }.sortBy(-_._2)
    val bigRegressed = regressedSorted
      .filter(_._2 >= LoadedBigRegressionRatio).map(_._1)
    val overR1 = results.collect {
      case (k, v) if v > 0 &&
        r1.get(k).exists(b => b > 0 && v / b > WitnessVsR1Ratio) => k
    }
    val reserved = (bigRegressed ++ slowest).distinct
    val fill = (regressedSorted.map(_._1) ++ overR1).distinct
      .filterNot(reserved.contains)
    val room = math.max(0, WitnessCap - reserved.size)
    (reserved ++ fill.take(room), fill.drop(room))
  }

  /** Fresh-JVM tiebreaker (round-7 protocol): when a witnessed query's
    * seq and iso numbers disagree by more than this ratio in EITHER
    * direction, the in-JVM record is self-contradictory — iso ≫ seq
    * with low steal and low code-cache is a state the signature table
    * cannot classify (r6: q139 seq 4.99 s / iso 15.10 s). The only
    * measurement with no shared-JVM history at all is a new process, so
    * such queries are re-measured once in a child JVM (same flags,
    * classpath, and hygiene; nothing else has ever run in it) and the
    * result recorded as `witness.<q>.fresh`. Trust order: fresh > the
    * lower of seq/iso > the higher.
    */
  val FreshDisagreeRatio = 1.5
  val FreshCap = 18

  /** Whether a witnessed query must be re-measured in a fresh child
    * JVM. Two triggers, both mandatory (r11 VERDICT item 1):
    *   1. seq and iso disagree (>FreshDisagreeRatio either way) — the
    *      in-JVM record is self-contradictory.
    *   2. vs_prev exceeds [[WitnessRegressionRatio]] — EVEN when
    *      seq ≈ iso. A host-wide slowdown inflates the sequence and
    *      the isolated re-run TOGETHER, so seq/iso agreement is
    *      exactly the wrong evidence to close a vs-prev flag: the
    *      committed round-11 record certified q259 at 5.6× and q139 at
    *      5.8× vs r10 as `stable` off iso agreement alone, while
    *      same-session quiet-host runs showed both nominal. Only a
    *      process with no shared host-period history (a fresh child
    *      JVM, started minutes later) can adjudicate that case.
    * Pure so the seq≈iso-but-regressed case is spec-pinned.
    */
  def needsFreshJvm(seq: Double, iso: Double, vsPrev: Option[Double]): Boolean =
    seq > 0 && iso > 0 && (
      math.max(seq / iso, iso / seq) > FreshDisagreeRatio ||
        vsPrev.exists(_ > WitnessRegressionRatio))

  /** The protocol's trusted reading: fresh > min(seq, iso) — a
    * fresh-JVM measurement, when taken, overrides the in-JVM pair
    * entirely (r8: q179 was labeled seq_noise off min(seq,iso) while
    * its own fresh reading confirmed the cost). UNNORMALIZED.
    */
  def trustedReading(seq: Double, iso: Double, fresh: Option[Double]): Double =
    fresh.filter(_ > 0).getOrElse((Seq(seq, iso).filter(_ > 0) :+ seq).min)

  /** Witness verdict (pure, spec-pinned — r12 VERDICT item 2 + r13
    * ADVICE medium). Two distinct comparison classes, normalized
    * differently:
    *   - CROSS-RUN baselines (r1, prev round): the trusted reading is
    *     divided by `hostRatio` (the CPU-control-vs-history ratio,
    *     floored at 1) — a fresh JVM started on a degraded host is
    *     still degraded, and r12's q17/q18 read `confirmed` off fresh
    *     readings taken during a +32% host-skew window.
    *   - INTRA-RUN disagreement (the no-r1-baseline seq-vs-trusted
    *     test): RAW readings on both sides. Both were taken on the
    *     same skewed host, so dividing one side by hostRatio lowered
    *     the effective seq-noise bar from 1.5 to 1.5/hostRatio and
    *     mislabeled consistent costs as `seq_noise` (the committed r13
    *     BENCH_SUMMARY showed q339/q221 seq_noise on a host_loaded run
    *     — the r13 ADVICE medium finding).
    */
  def witnessVerdict(
      seq: Double, iso: Double, fresh: Option[Double],
      r1Base: Option[Double], prevSec: Option[Double],
      hostRatio: Double): String = {
    val raw = trustedReading(seq, iso, fresh)
    val norm = raw / math.max(1.0, hostRatio)
    val v0 = r1Base.filter(_ > 0) match {
      case Some(b) =>
        if (seq / b <= WitnessVsR1Ratio) "ok"
        else if (norm / b <= WitnessVsR1Ratio) "cleared"
        else "confirmed"
      case None =>
        if (raw > 0 && seq / raw > FreshDisagreeRatio) "seq_noise"
        else if (fresh.exists(_ > 0)) "cost_confirmed"
        else "stable"
    }
    prevSec.filter(_ > 0) match {
      case Some(p) if seq / p > WitnessRegressionRatio &&
          (v0 == "ok" || v0 == "stable") =>
        if (norm / p <= WitnessRegressionRatio) "prev_noise"
        else "prev_confirmed"
      case _ => v0
    }
  }

  /** One witness entry of the full record (pure, spec-pinned — r13
    * VERDICT item 6): alongside the seq/iso/fresh readings, a
    * vs-prev-flagged witness carries BOTH adjudication-basis ratios —
    * `vs_prev_trusted` (trusted reading / prior-round seconds, raw)
    * and `vs_prev_cpu` (the same divided by the CPU-control host
    * ratio, the number the verdict's cross-run comparisons actually
    * use) — so a normalized verdict like `prev_noise` is auditable
    * from the record without re-deriving the normalizer.
    */
  def witnessEntryJson(
      name: String, seq: Double, iso: Double, isoSteal: Double, cc: Double,
      fresh: Option[Double], prevSec: Option[Double], hostRatio: Double): String = {
    def r3(x: Double): Double = math.round(x * 1000.0) / 1000.0
    val freshTag = fresh.map(f => s""","fresh":$f""").getOrElse("")
    val prevTag = prevSec.filter(_ > 0).map { p =>
      val raw = trustedReading(seq, iso, fresh)
      s""","vs_prev_trusted":${r3(raw / p)}""" +
        s""","vs_prev_cpu":${r3(raw / math.max(1.0, hostRatio) / p)}"""
    }.getOrElse("")
    s""""$name":{"seq":$seq,"iso":$iso,""" +
      s""""iso_steal":${r3(isoSteal)},""" +
      s""""code_cache":${math.round(cc * 100.0) / 100.0}$freshTag$prevTag}"""
  }

  /** Loaded-host record detector (r11 VERDICT item 7, widened per r12
    * VERDICT item 2): a full-run record taken under host contention
    * must flag itself rather than be committed silently as this
    * round's canonical number. Any signal suffices —
    *   1. run-average CPU steal above 3% (the r5 hypervisor witness);
    *   2. ≥3 queries at >3× their prior-round time (r12 dropped the
    *      threshold from 4: the committed r12 record sat at exactly
    *      big_regressions = 3 and slipped through);
    *   3. the run total on SHARED queries >1.2× the median of recent
    *      same-sf full runs in BENCH_HISTORY — the steal-invisible
    *      class (CPU-frequency / co-tenant skew) that inflated the
    *      committed r12 record +32% while steal read 0.008;
    *   4. the pinned single-thread CPU-control microbenchmark >1.2×
    *      its history median — the same class, caught even when the
    *      query mix changed too much for signal 3.
    * Pure for spec-pinning.
    */
  val LoadedStealAvg = 0.03
  val LoadedBigRegressionRatio = 3.0
  val LoadedBigRegressionCount = 3
  val LoadedTotalVsHistory = 1.2
  def hostLoaded(stealAvg: Double, bigRegressions: Int,
      totalVsHistory: Option[Double] = None,
      cpuVsHistory: Option[Double] = None): Boolean =
    stealAvg >= LoadedStealAvg ||
      bigRegressions >= LoadedBigRegressionCount ||
      totalVsHistory.exists(_ > LoadedTotalVsHistory) ||
      cpuVsHistory.exists(_ > LoadedTotalVsHistory)

  /** This run's shared-query total vs the median of the newest (up to
    * 5) [[comparable]] history lines — the total-vs-history loaded-host
    * signal. Per prior line: ratio = Σ this-run seconds / Σ that-line
    * seconds over the intersection of positive readings (inventory
    * growth between rounds makes raw totals incomparable). None when
    * no line qualifies.
    */
  def totalVsHistoryRatio(
      history: Seq[HistoryLine],
      sfDir: String,
      results: Seq[(String, Double)]): Option[Double] = {
    val cur = results.collect { case (k, v) if v > 0 => k -> v }.toMap
    val ratios = history.filter(comparable(_, sfDir, cur.keySet)).take(5).flatMap { l =>
      val qs = l.queries
      val shared = qs.keySet.intersect(cur.keySet)
        .filter(k => qs(k) > 0)
      if (shared.size < math.max(1, cur.size / 2)) None
      else {
        val prevSum = shared.toSeq.map(qs).sum
        if (prevSum <= 0) None
        else Some(shared.toSeq.map(cur).sum / prevSum)
      }
    }
    if (ratios.isEmpty) None else Some(median(ratios))
  }

  /** Whether a BENCH_HISTORY line was recorded under host contention
    * (r13 ADVICE low): loaded runs used to be appended unconditionally
    * and still counted in the history medians, so the total-vs-history
    * and cpu-control baselines ratcheted UPWARD after each loaded run —
    * successive contaminated rounds masking exactly the contention
    * class signals 3–4 exist to catch. Two markers: the explicit
    * `"host_loaded":true` tag (written from r14 on), and — for lines
    * appended before the tag existed (r13's two loaded full runs) —
    * a recorded run-average steal at or over [[LoadedStealAvg]].
    */
  def lineLoaded(text: String): Boolean =
    if (text.contains("\"host_loaded\":")) text.contains("\"host_loaded\":true")
    else
      // legacy marker ONLY for pre-tag lines: the recorded run_avg is
      // 3dp-rounded, so a 0.0295-steal run that hostLoaded correctly
      // called quiet (raw < 0.03) records run_avg 0.03 — the explicit
      // tag must win or that line is retro-misclassified forever
      ("\"run_avg\":" + Num).r
        .findFirstMatchIn(text)
        .exists(_.group(1).toDouble >= LoadedStealAvg)

  /** The run-shape filter of [[comparable]] (round 14): a history
    * line's own query count must be at most this multiple of the
    * current run's. Per-query times are systematically
    * context-dependent — a query inside a 341-entry full sequence
    * runs on a JVM warmed by hundreds of prior queries, while the
    * same query in a 52-entry adjudication probe pays its share of a
    * cold JVM. Measured: a quiet probe (steal 0.014, cpu_vs_hist
    * 0.82, zero big regressions, vs_r1 0.83) read total_vs_hist
    * 1.24–1.68 against FULL-run baselines and 0.975 against the
    * like-shaped r13 probe line — the unlike-shape comparison
    * false-flags every quiet probe as loaded, and a probe's vs_prev
    * baselined on a full-run line reads 1.24-1.68x and spuriously
    * witness-flags half the probe. Full-vs-full and probe-vs-probe
    * comparisons both survive the filter; the coverage floor already
    * prevents the reverse mismatch (a full run never baselines
    * against a probe line).
    */
  val HistoryShapeRatio = 2

  /** Pinned single-thread CPU-control microbenchmark: a fixed
    * splitmix64 fold (data-independent, cache-resident, allocation-
    * free) timed after one JIT warmup. Host CPU skew — frequency
    * scaling, co-tenant contention — inflates this the same way it
    * inflates the sub-second codegen-bound queries that produced r12's
    * false `confirmed` verdicts, while genuine plan regressions leave
    * it untouched. Recorded in every full-run line; the ratio vs the
    * history median both feeds [[hostLoaded]] and normalizes witness
    * verdicts (a fresh JVM on a degraded host is still degraded — the
    * r12 q17/q18 lesson).
    */
  def cpuControlSeconds(): Double = {
    def pass(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9e3779b97f4a7c15L
      var acc = 0L
      var i = 0
      while (i < (1 << 26)) {
        x += 0x9e3779b97f4a7c15L
        var z = x
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        acc ^= z ^ (z >>> 31)
        i += 1
      }
      val dt = (System.nanoTime() - t0) / 1e9
      if (acc == 42L) System.err.println("") // keep acc live
      dt
    }
    pass() // JIT warmup
    math.min(pass(), pass())
  }

  /** Median CPU-control seconds across the newest (up to 5) quiet
    * same-sf history lines. Deliberately NOT [[comparable]]-filtered
    * (round-14 review finding): the CPU control is a pinned
    * single-thread microbench, independent of run shape and query
    * coverage — gating it on the total-vs-history filters would
    * discard valid baselines whenever the run shape changes (e.g. the
    * first probe at a new size) and silently disarm both the
    * cpu-vs-history loaded signal and the verdict normalizer, the
    * exact r12 false-confirmation class.
    */
  def cpuControlHistoryMedian(history: Seq[HistoryLine], sfDir: String): Option[Double] = {
    val vs = history.filter(quietSameSf(_, sfDir)).flatMap(_.cpuControl).filter(_ > 0).take(5)
    if (vs.isEmpty) None else Some(median(vs))
  }

  /** Measure one query in a brand-new JVM: re-exec this class with the
    * parent's own JVM flags and classpath, `SPARK_GRAFT_FRESH=1` +
    * `SPARK_GRAFT_ONLY=<name>`, and parse the single `{"fresh":{...}}`
    * stdout line. -1.0 on any failure — a broken tiebreaker must never
    * take down the bench record.
    */
  def freshJvmSeconds(name: String, sfDir: String, cpus: String): Double =
    try {
      import scala.jdk.CollectionConverters._
      val javaBin = java.nio.file.Paths.get(
        sys.props("java.home"), "bin", "java").toString
      val jvmArgs = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments.asScala.toSeq
        .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent"))
      val cmd = Seq(javaBin) ++ jvmArgs ++
        Seq("-cp", sys.props("java.class.path"), "graft.Bench")
      val pb = new ProcessBuilder(cmd.asJava)
      pb.environment().put("SPARK_GRAFT_FRESH", "1")
      pb.environment().put("SPARK_GRAFT_ONLY", name)
      pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
      pb.environment().put("SPARK_GRAFT_CPUS", cpus)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val p = pb.start()
      // watchdog: reading stdout blocks until the child exits; a hung
      // child is killed rather than hanging the whole bench
      val killer = new Thread(() => {
        if (!p.waitFor(600, java.util.concurrent.TimeUnit.SECONDS))
          p.destroyForcibly()
      })
      killer.setDaemon(true)
      killer.start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      p.waitFor()
      // scope the parse to the child's {"fresh":{...}} line — a regex
      // over the whole stdout could match the query name in unrelated
      // output (e.g. third-party JSON progress lines)
      val freshLine = out.linesIterator
        .find(_.startsWith("""{"fresh":""")).getOrElse("")
      val re = ("\"" + java.util.regex.Pattern.quote(name) + "\":" + Num).r
      re.findFirstMatchIn(freshLine).map(_.group(1).toDouble).getOrElse(-1.0)
    } catch { case scala.util.control.NonFatal(_) => -1.0 }

  /** Cumulative (busy, steal, total) jiffies from /proc/stat — the
    * hypervisor-contention witness. On a shared host, CPU STEAL is the
    * one inflater a JVM can neither see nor control: r5 measured two
    * identical-code full runs at 70.4 s and 133.8 s while a sampler
    * showed steal bursts up to 14% during the slow run. Recording the
    * per-query steal fraction in the bench line makes that visible in
    * the record itself — a query's number is trustworthy iff its
    * steal% is near zero, and a slow-total round with high steal reads
    * as a loaded host, not a plan regression. Linux-only; absent
    * silently elsewhere.
    */
  def readCpu(): Option[(Long, Long, Long)] =
    try {
      val line = scala.io.Source.fromFile("/proc/stat").getLines().next()
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal
      val steal = if (f.length > 7) f(7) else 0L
      Some((f(0) + f(1) + f(2), steal, f.sum))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** JIT code-cache occupancy (used / reserved across the CodeHeap
    * pools) — the in-JVM slowdown witness. A long codegen-heavy
    * sequence can fill the code cache; when it is full the JIT stops
    * compiling and CPU-bound queries run interpreted at 10-15× (the r5
    * witness pass measured q68 at 10.7 s isolated-at-end-of-sequence
    * vs 0.54 s in a fresh JVM, with near-zero steal — steal could not
    * explain it, occupancy does). A witness entry is trustworthy iff
    * both its steal AND its code-cache fraction are low.
    */
  def codeCacheFrac(): Double =
    try {
      import scala.jdk.CollectionConverters._
      val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getName.startsWith("CodeHeap") || p.getName == "Code Cache")
      val used = pools.map(_.getUsage.getUsed).sum.toDouble
      val max = pools.map(p => math.max(p.getUsage.getMax, 0L)).sum.toDouble
      if (max > 0) used / max else -1.0
    } catch { case scala.util.control.NonFatal(_) => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark: SparkSession = EngineSession.local("graft-bench", cpus)

    def time(fn: => Unit): Double = {
      val t0 = System.nanoTime()
      fn
      (System.nanoTime() - t0) / 1e9
    }

    // r1-shared queries FIRST (r13 VERDICT item 1) — see benchOrder
    val r1 = r1QueryTimes(sfDir)
    val entries = benchOrder(
      SparkEntry.allEntries.filter(e => SparkEntry.envSelected(e.name)),
      r1.keySet)
    val r1PrefixLen = entries.count(e => r1.contains(e.name))

    /** One hygienic measurement of `e`: GC + fresh warmup + timed
      * medians, then release everything the query pinned. Shared by the
      * sequence pass and the isolated witness pass so the two numbers
      * differ ONLY in what ran before them in this JVM.
      */
    val stealByQuery = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    def measure(e: QueryEntry, timedRuns: Int, profile: Boolean): Double = {
      // Deterministic trial hygiene (outside every timed region): a
      // driver GC lets ContextCleaner reclaim the previous queries'
      // broadcast blocks NOW rather than whenever the 30s periodic GC
      // lands mid-measurement. Before EVERY query: periodic cadences
      // (16, then 8) left whichever queries sat furthest from a GC
      // point running 2-3x their isolated times (q87/q94 at %16, q84
      // at %8 — the victims moved when entries were inserted), so the
      // only position-independent hygiene is a fresh heap per query;
      // the ~100ms pause is outside the timed region.
      System.gc()
      val cpu0 = readCpu()
      val t =
        try {
          // attribute native-path scan time and eagerly-materialized
          // sub-queries to the query about to run
          metrics.NativeScanTime.drain()
          metrics.RuntimeBreakdown.drainPending()
          // warmup doubles as the reference-style runtime-breakdown
          // profile (parse_stackcollapse bins)
          val warm = e.run(spark, sfDir)
          if (profile) System.err.println(
            s"[bench] ${e.name} breakdown: ${metrics.RuntimeBreakdown.profile(warm).render}")
          median(Seq.fill(timedRuns) {
            // streaming: drop the warmup/previous rep's dead provider
            // registry before the timed window (see the state-store
            // comment below + StateStoreHygiene)
            if (isStreaming(e.name))
              org.apache.spark.sql.graft.StateStoreHygiene.unloadAll()
            time(
              e.run(spark, sfDir).write.format("noop").mode("overwrite").save())
          })
        } catch {
          case ex: Throwable =>
            System.err.println(s"[bench] ${e.name} failed: ${ex.getMessage}")
            -1.0
        }
      for ((b0, s0, t0) <- cpu0; (b1, s1, t1) <- readCpu() if t1 > t0)
        stealByQuery(e.name) = (s1 - s0).toDouble / (t1 - t0).toDouble
      // every run of a checkpoint-using query (q20/q38/q42/q58…) pins
      // fresh block-manager memory; across 64 queries × 6 runs the
      // accumulation degrades later queries (r02: q62 read 4.0 s in the
      // full bench vs 0.56 s isolated). Free what THIS query pinned once
      // its runs finish. That includes the Ivf inverted lists and the Pq
      // encoded corpus, so each index-using query rebuilds them in its
      // own warmup. The fitted Ivf centroids and Pq codebooks (plain
      // arrays, no storage) persist for the JVM: only the first query
      // that uses a given fit pays for it, in its warmup, never in a
      // timed run. BLOCKING: an async unpersist returns immediately and the
      // block-deletion IO lands inside the NEXT query's timed runs (the
      // r5 witness pass showed text-heavy queries at 2-3x their isolated
      // times in-sequence). This runs outside every timed region, so
      // waiting here is free.
      TransientCaches.release(blocking = true)
      // streaming runs use a fresh checkpoint each time (re-runs must
      // re-pay the ingest), so each leaves a dead provider set (32
      // RocksDB instances for the rocksdb twins) that Spark unloads
      // only on the ~60 s maintenance cycle; across a sequence the
      // registry grows and runs colliding with a maintenance pass over
      // it degrade wildly (q301 measured 7.0/7.1/14.1/31.0 s
      // back-to-back). Unload here, outside every timed region.
      if (isStreaming(e.name))
        org.apache.spark.sql.graft.StateStoreHygiene.unloadAll()
      t
    }

    // fresh-JVM child mode (see freshJvmSeconds): measure the selected
    // queries with the shared hygiene and emit ONE minimal JSON line —
    // no witness pass, no vs_prev, and no BENCH_LAST.json (which would
    // clobber the parent's record).
    if (sys.env.contains("SPARK_GRAFT_FRESH")) {
      val rs = entries.map(e =>
        e.name -> measure(e, timedRuns = timedRunsFor(e.name, 3), profile = false))
      println(rs.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("""{"fresh":{""", ",", "}}"))
      spark.stop()
      return
    }

    // pinned CPU-control microbenchmark BEFORE the sequence (r12
    // VERDICT item 2): its ratio vs the history median is the
    // steal-invisible loaded-host signal and the verdict normalizer
    val cpuControl = cpuControlSeconds()
    System.err.println(f"[bench] cpu_control=$cpuControl%.3f s")

    // the sequence, r1-shared prefix first; the early summary (the
    // timeout-survivable grading record, r13 VERDICT item 1) is
    // printed AND written to BENCH_SUMMARY.json the moment the prefix
    // completes — BEFORE inventory position r1PrefixLen + 1 runs
    val resultsBuf = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    entries.zipWithIndex.foreach { case (e, i) =>
      resultsBuf += e.name -> measure(e, timedRunsFor(e.name, 5), profile = true)
      if (i + 1 == r1PrefixLen) {
        val sa = {
          val vs = stealByQuery.values
          if (vs.isEmpty) 0.0 else vs.sum / vs.size
        }
        val early = r1PrefixSummaryJson(resultsBuf.toSeq, r1, sfDir, cpuControl, sa)
        println(early)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("BENCH_SUMMARY.json"), early + "\n")
      }
    }
    val results = resultsBuf.toSeq
    // sequence-time steal, snapshotted before the witness pass reuses
    // measure() (which would overwrite entries with isolated-run steal)
    val seqSteal = stealByQuery.toMap
    // every cross-run baseline comes from BENCH_HISTORY, read once
    // BEFORE this run is appended (it must compare against PRIOR runs,
    // not itself)
    val history = readHistory()
    val totalVsHist = totalVsHistoryRatio(history, sfDir, results)
    val cpuVsHist = cpuControlHistoryMedian(history, sfDir).map(m => cpuControl / m)

    val qs = results
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val ok = results.collect { case (_, v) if v >= 0 => v }
    val failed = results.size - ok.size
    val (prevFile, prev) = previousQueryTimes(history, sfDir, entries.map(_.name).toSet)
    val vsPrev = results.collect {
      case (k, v) if v >= 0 && prev.get(k).exists(_ > 0) =>
        "\"" + k + "\":" + (math.round(1000.0 * v / prev(k)) / 1000.0)
    }.mkString("{", ",", "}")
    val prevTag = prevFile.map(f => s""","prev":"$f"""").getOrElse("")

    // ---- isolated-time witnesses --------------------------------------
    // A long in-JVM sequence can inflate individual queries (GC
    // pressure, code-cache churn, a loaded host) in ways the sequence
    // numbers alone cannot distinguish from plan regressions. Re-run
    // the slowest queries — plus anything that regressed >1.5x vs the
    // prior round — ISOLATED (same hygiene, nothing else between), and
    // record (seq, iso) pairs: a number is trustworthy iff seq/iso is
    // near 1, and a vs_prev regression that vanishes isolated is
    // sequence noise, certified by the record itself.
    val byName = results.toMap
    // selection extracted + spec-pinned (r12 VERDICT item 1): big
    // regressions and the slowest-8 are uncappable; the squeezed-out
    // fill tail is recorded, not silently dropped (r13 ADVICE low)
    val (witnessNames, witnessDropped) =
      selectWitnessesWithDropped(results, prev, r1)
    if (witnessDropped.nonEmpty) System.err.println(
      s"[bench] witness cap squeezed out: ${witnessDropped.mkString(",")}")
    val witness = witnessNames.flatMap { n =>
      entries.find(_.name == n).map { e =>
        val iso = measure(e, timedRunsFor(n, 3), profile = false)
        val cc = codeCacheFrac()
        System.err.println(
          f"[bench] witness $n: seq=${byName(n)}%.3f iso=$iso%.3f code_cache=$cc%.2f")
        (n, iso, stealByQuery.getOrElse(n, 0.0), cc)
      }
    }
    // fresh-JVM tiebreaker: self-contradictory witnesses (seq vs iso
    // off >FreshDisagreeRatio either way) AND every >1.5×-vs-prev
    // regression regardless of agreement — see needsFreshJvm
    val freshByName = witness
      .filter { case (n, iso, _, _) =>
        needsFreshJvm(byName(n), iso,
          prev.get(n).filter(_ > 0).map(p => byName(n) / p))
      }
      // largest vs-prev ratios first: if FreshCap ever binds, it binds
      // on the smallest flags, never the q232/q139/q215 class (r12
      // VERDICT item 1)
      .sortBy { case (n, _, _, _) =>
        -prev.get(n).filter(_ > 0).map(p => byName(n) / p).getOrElse(0.0)
      }
      .take(FreshCap)
      .map { case (n, _, _, _) =>
        val f = freshJvmSeconds(n, sfDir, cpus)
        System.err.println(f"[bench] fresh-JVM witness $n: fresh=$f%.3f")
        n -> f
      }.toMap
    // verdict normalizer (r12 VERDICT item 2): a fresh JVM started on
    // a degraded host is still degraded — the single-thread CPU control
    // moves with host skew and with nothing plan-shaped, so cross-run
    // baseline comparisons divide the trusted reading by this ratio
    // (floored at 1 — a FASTER host must never manufacture
    // confirmations). Intra-run comparisons stay raw (r13 ADVICE
    // medium) — see witnessVerdict.
    val hostRatio = math.max(1.0, cpuVsHist.getOrElse(1.0))
    val witnessJson = witness.map { case (n, iso, isoSteal, cc) =>
      witnessEntryJson(n, byName(n), iso, isoSteal, cc,
        freshByName.get(n), prev.get(n), hostRatio)
    }.mkString("{", ",", "}")

    // per-query steal fractions above 1% (plus the run-wide fraction):
    // the environmental trust signal — see readCpu()
    val stealJson = {
      val hot = seqSteal.collect {
        case (k, v) if v >= 0.01 => s""""$k":${math.round(v * 1000.0) / 1000.0}"""
      }
      val runWide = seqSteal.values
      val avg =
        if (runWide.isEmpty) 0.0
        else math.round(runWide.sum / runWide.size * 1000.0) / 1000.0
      s"""{"run_avg":$avg${if (hot.isEmpty) "" else hot.mkString(",", ",", "")}}"""
    }

    // loaded-host self-flag (r11 VERDICT item 7), computed BEFORE the
    // full-record line so the line itself carries it — the history
    // baselines skip flagged lines, keeping the history medians (signals 3–4)
    // from ratcheting upward after each loaded run (r13 ADVICE low)
    val stealAvgRaw = {
      val vs = seqSteal.values
      if (vs.isEmpty) 0.0 else vs.sum / vs.size
    }
    val bigRegressions = results.count { case (k, v) =>
      v > 0 && prev.get(k).exists(p => p > 0 && v / p > LoadedBigRegressionRatio)
    }
    val loaded = hostLoaded(stealAvgRaw, bigRegressions, totalVsHist, cpuVsHist)

    val line =
      s"""{"metric":"total_median_sec","value":${ok.sum},"unit":"sec","queries":$qs,""" +
        s""""sf":"$sfDir","n_queries":${results.size},"failed":$failed""" +
        s""","vs_prev":$vsPrev$prevTag,"witness":$witnessJson,"steal":$stealJson""" +
        s""","cpu_control":${math.round(cpuControl * 1000.0) / 1000.0}""" +
        s""","host_loaded":$loaded}"""
    println(line)
    // file artifact in case the wrapper's stdout scrape misses the line
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_LAST.json"), line + "\n")
    // append-only history: BENCH_LAST is overwritten per run and the
    // driver's round artifact has truncated mid-JSON before (r6) — the
    // JSONL log is the durable record either can be recovered from
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_HISTORY.jsonl"), line + "\n",
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)

    // ---- compact summary: the LAST stdout line -----------------------
    // The driver records only the final ~2,000 chars of stdout, and the
    // full record above is ~8 KB — every prior round's BENCH_r*.json
    // carried "parsed": null because the tail cut the record mid-JSON.
    // Print one final compact (<1,500-char) summary object so the tail
    // ALWAYS contains a complete record: totals, the vs-r1 grade, the
    // worst per-query ratios, and a verdict for every witnessed query.
    // Verdicts ("cleared" vs "confirmed") use the protocol trust order
    // fresh > min(seq, iso): a >2x-vs-r1 sequence reading whose
    // TRUSTED witness measurement lands back under 2x is sequence/host
    // noise, adjudicated in the record itself. When a fresh-JVM
    // reading exists it IS the verdict basis — r8's record labeled
    // q179 "seq_noise" off min(seq,iso) while its own fresh reading
    // (5.81 s, the highest of the three) confirmed the cost; deriving
    // from fresh makes that contradiction impossible by construction.
    // New queries (no r1 baseline) whose witness CONFIRMS the sequence
    // reading get "cost_confirmed", a distinct label from the
    // cleared-as-noise case.
    def r3(x: Double): Double = math.round(x * 1000.0) / 1000.0
    val vsR1Json = vsR1Fragment(results, r1)
    // verdicts via the pure, spec-pinned witnessVerdict (r12 VERDICT
    // item 2 + r13 ADVICE medium): cross-run baselines normalized by
    // hostRatio, intra-run disagreement on raw readings
    val verdicts = witness.map { case (n, iso, _, _) =>
      val v = witnessVerdict(byName(n), iso,
        freshByName.get(n).filter(_ > 0), r1.get(n), prev.get(n), hostRatio)
      s""""$n":"$v""""
    }.mkString("{", ",", "}")
    val stealAvg = r3(stealAvgRaw)
    if (loaded) System.err.println(
      s"[bench] HOST LOADED record: steal_avg=$stealAvg " +
        s"big_regressions=$bigRegressions " +
        s"total_vs_hist=${totalVsHist.fold("n/a")(r => r3(r).toString)} " +
        s"cpu_vs_hist=${cpuVsHist.fold("n/a")(r => r3(r).toString)} " +
        "— re-run on a quiet host for the canonical number")
    val tvhTag = totalVsHist.fold("")(r => s""","total_vs_hist":${r3(r)}""")
    val cvhTag = cpuVsHist.fold("")(r => s""","cpu_vs_hist":${r3(r)}""")
    // names the witness cap squeezed out (r13 ADVICE low): visible in
    // the round record, so a dropped over-threshold flag is auditable
    val droppedTag =
      if (witnessDropped.isEmpty) ""
      else witnessDropped.map("\"" + _ + "\"")
        .mkString(""","witness_dropped":[""", ",", "]")
    val summary =
      s"""{"metric":"bench_summary","total":${r3(ok.sum)},"n":${results.size},""" +
        s""""failed":$failed,"sf":"$sfDir"$vsR1Json,""" +
        s""""witness_verdicts":$verdicts$droppedTag,"steal_avg":$stealAvg,""" +
        s""""host_loaded":$loaded,"big_regressions":$bigRegressions""" +
        s"""$tvhTag$cvhTag,"full":"BENCH_LAST.json"}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_SUMMARY.json"), summary + "\n")
    println(summary)
    spark.stop()
  }
}
