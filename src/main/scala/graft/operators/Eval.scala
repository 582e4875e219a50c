package graft.operators

import graft.{QueryEntry, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType}

/** Classifier-evaluation operators — the metrics a pipeline computes
  * about its OWN filter models before trusting them at 100 TB: ROC AUC
  * (does the quality score rank the target class above the rest at
  * all?), calibration/ECE (can its value be read as a probability?),
  * and Fleiss' kappa (do independent heuristic annotators agree enough
  * that their consensus is a usable label?). All three reduce to
  * integer/decimal-exact sufficient statistics with one rounded double
  * division at the end, so the DuckDB differential oracle re-derives
  * every count and the hash pins the full computation.
  *
  * The "model" under evaluation is the q18 quality score used as a
  * detector of gold `lang = 'en'` (scores are discretized ONCE to a
  * 1e6 grid — `si = round(score·1e6)` — in both engines; every
  * downstream rank/bin/mean derives from `si`, never from the raw
  * double, so cross-engine float drift cannot reorder anything).
  *
  * Scale shape: one per-doc scoring pass each (codegen), one grouped
  * aggregation keyed by distinct grid score (≤ 1e6+1 keys — GRID-
  * bounded, not data-bounded) or by bin/category (≤ 10/5 keys), then
  * scalar rollups. The one `Window.orderBy` (q232's cumulative
  * negatives) runs over the distinct-score frame, bounded by the grid,
  * never by the corpus (the Fuzzy.scala:211 bounded-frame precedent).
  */
object Eval {

  private val S = 1000000L // score grid: 6 fractional digits

  /** (si, pos) per document: grid-rounded quality score + binary gold
    * label (lang = 'en').
    */
  private def scoredDocs(docs: DataFrame): DataFrame =
    docs.select(
      round(TextAnalysis.qualityScore(
        TextAnalysis.tokens(col("text")), col("n_chars")) * S, 0)
        .cast(LongType).as("si"),
      when(col("lang") === "en", 1L).otherwise(0L).as("pos"))

  /** DuckDB twin of [[scoredDocs]]: yields (si, pos). */
  private val scoredDocsSql: String =
    s"""SELECT CAST(ROUND((${TextAnalysis.qualityScoreSql}
       |         ) * ${S}.0, 0) AS BIGINT) AS si,
       |       CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
       |FROM (SELECT lang, n_chars,
       |             regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
       |      FROM documents) t""".stripMargin

  /** ROC AUC of the quality score as an en-detector (q232): exact
    * Mann–Whitney with tie handling, computed from per-distinct-score
    * (positives, negatives) counts — AUC = (2·concordant + ties) /
    * (2·n1·n0), all sums carried as DECIMAL(38,0) (HUGEINT in the
    * oracle) so the statistic is exact at any corpus size.
    */
  def scoreAuc(docs: DataFrame): DataFrame = {
    val per = scoredDocs(docs).groupBy("si")
      .agg(sum("pos").as("p"), (count(lit(1)) - sum("pos")).as("g"))
    // cumulative negatives strictly below each score: frame = distinct
    // grid scores (≤ 1e6+1 rows), model-sized — see class doc.
    val cum = per.withColumn("cumg",
      sum("g").over(Window.orderBy("si")) - col("g"))
    val dec = DecimalType(38, 0)
    val agg = cum.agg(
      sum(col("p").cast(dec) * col("cumg")).as("conc"),
      sum(col("p").cast(dec) * col("g")).as("ties"),
      sum("p").as("n1"), sum("g").as("n0"))
    agg.select(
      col("n1").cast(LongType).as("n_pos"),
      col("n0").cast(LongType).as("n_neg"),
      round((col("conc") * 2 + col("ties")).cast(DoubleType) /
        (lit(2.0) * col("n1") * col("n0")), 6).as("auc"))
  }

  /** Calibration report + expected calibration error (q233): the score
    * read as P(lang = 'en'), 10 equal-width bins over the grid score.
    * Per bin: count, mean confidence, empirical accuracy, |gap|; the
    * ECE column repeats the corpus-level Σ n_b/N·|acc−conf| on every
    * row. The gap numerator |1e6·pos_b − Σ si| is pure integer, so ECE
    * is exact before its one final rounded division.
    */
  def calibrationEce(docs: DataFrame): DataFrame = {
    val bin = least(floor(col("si").cast(DoubleType) / lit(100000.0))
      .cast(IntegerType), lit(9))
    val dec = DecimalType(38, 0)
    val per = scoredDocs(docs).groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"), sum("pos").as("posb"),
        sum(col("si").cast(dec)).as("ssum"))
      .withColumn("gapnum",
        abs(col("posb").cast(dec) * S - col("ssum")))
    val tot = per.agg(sum("n").as("nn"), sum("gapnum").as("gaptot"))
    per.crossJoin(broadcast(tot))
      .select(col("bin"), col("n").cast(LongType).as("n"),
        round(col("ssum").cast(DoubleType) / (lit(1.0) * S * col("n")), 6)
          .as("conf"),
        round(col("posb").cast(DoubleType) / col("n"), 6).as("acc"),
        round(col("gapnum").cast(DoubleType) / (lit(1.0) * S * col("n")), 6)
          .as("gap"),
        round(col("gaptot").cast(DoubleType) / (lit(1.0) * S * col("nn")), 6)
          .as("ece"))
      .orderBy("bin")
  }

  /** One native-orthography sentence per language (first of the q63
    * planted pair) — the decoration that gives the three raters real
    * multilingual signal; the raw fixture is ASCII word-salad on which
    * all raters collapse to 'en' and Fleiss' Pe degenerates to 1.
    */
  val raterSentences: Map[String, String] = {
    val first = scala.collection.mutable.LinkedHashMap[String, String]()
    TextAnalysis.plantedSentences.foreach { case (l, t) =>
      if (!first.contains(l)) first += (l -> t)
    }
    first.toMap
  }

  private def decorated(docs: DataFrame): DataFrame = {
    val sent = raterSentences.foldLeft(lit("")) { case (acc, (l, t)) =>
      when(col("lang") === l, lit(t)).otherwise(acc)
    }
    docs.select(col("doc_id"),
      concat(col("text"), lit(" "), sent).as("text"))
  }

  private val decoratedSql: String = {
    val cases = raterSentences.map { case (l, t) =>
      s"WHEN '$l' THEN '${t.replace("'", "''")}'"
    }.mkString(" ")
    s"""SELECT doc_id,
       |       text || ' ' || CASE lang $cases ELSE '' END AS text
       |FROM documents""".stripMargin
  }

  /** Fleiss' kappa across three heuristic lang-ID raters (q234): the
    * full marker+stopword classifier, the stopword-only rater, and the
    * marker-only rater, each labeling the lang-decorated corpus.
    * Po = Σ_i(Σ_k n_ik² − r)/(N·r·(r−1)) with r = 3 raters,
    * Pe = Σ_k (c_k/(rN))² — both from exact integer sums.
    */
  def fleissKappa(docs: DataFrame): DataFrame = {
    val deco = decorated(docs)
    val preds = deco.select(col("doc_id"), explode(array(
      TextAnalysis.langPredicted(col("text")),
      TextAnalysis.langPredictedStops(col("text")),
      TextAnalysis.langPredictedMarkers(col("text")))).as("cat"))
    val cnt = preds.groupBy("doc_id", "cat").agg(count(lit(1)).as("c"))
    val dec = DecimalType(38, 0)
    val pd = cnt.groupBy("doc_id").agg(sum(col("c") * col("c")).as("s2"))
    val t = pd.agg(count(lit(1)).as("n"),
      sum((col("s2") - 3).cast(dec)).as("ponum"))
    val pe = cnt.groupBy("cat").agg(sum("c").as("ck"))
      .agg(sum(col("ck").cast(dec) * col("ck")).as("penum"))
    val nD = col("n").cast(DoubleType)
    val po = col("ponum").cast(DoubleType) / (lit(6.0) * nD)
    val peD = col("penum").cast(DoubleType) / (lit(9.0) * nD * nD)
    t.crossJoin(pe).select(
      col("n").cast(LongType).as("n_docs"),
      round(po, 6).as("po"),
      round(peD, 6).as("pe"),
      round((po - peD) / (lit(1.0) - peD), 6).as("kappa"))
  }

  /** Poisson(1) CDF thresholds on the 2^53 uniform grid (q241):
    * P(≤k)·2^53 rounded once at codegen time — both engines compare
    * the same integers, so every bootstrap weight is exact.
    */
  val poissonThresholds: Seq[Long] = Seq(
    3313563428353948L, 6627126856707896L, 8283908570884870L,
    8836169142277195L, 8974234285125276L, 9001847313694892L)

  /** Bootstrap replica count (q241). */
  val bootstrapB = 64

  /** One-pass Poisson bootstrap CI for the corpus mean token count
    * (q241): every (doc, replica) pair draws a deterministic
    * Poisson(1) weight from the pinned SplitMix64 hash (inverse-CDF on
    * the 53-bit uniform — the q211 grid), so all B replica sums
    * accumulate in ONE scan with map-side combine to B keys; replica
    * means sort on a B-row frame for the nearest-rank 2.5/97.5%
    * interval. This is the production-shaped bootstrap: resampling by
    * per-row weights, never by materializing B copies of the corpus
    * (Poisson bootstrap à la Chamandy et al., 2012).
    */
  def bootstrapCi(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import org.apache.spark.sql.expressions.Window
    val per = docs.select(col("doc_id"),
      size(TextAnalysis.tokens(col("text"))).cast(LongType).as("x"))
    val u53 = shiftrightunsigned(
      graft.functions.GraftFunctions.splitmix64(
        col("doc_id") * bootstrapB + col("b")), 11)
    val w = poissonThresholds.map(t => when(u53 >= t, 1L).otherwise(0L))
      .reduce(_ + _)
    val reps = per.select(col("doc_id"), col("x"),
        explode(sequence(lit(0), lit(bootstrapB - 1))).as("b"))
      .select(col("b"), col("x"), w.as("w"))
      .groupBy("b")
      .agg(sum(col("w") * col("x")).as("sx"), sum("w").as("nw"))
      .select(col("b"),
        round(col("sx").cast(DoubleType) / col("nw"), 6).as("m"))
    // nearest-rank percentile over the B-row replica frame (model-sized)
    val ranked = reps.withColumn("r",
      row_number().over(Window.orderBy(col("m"), col("b"))))
    val lo = ranked.filter(col("r") === 2).select(col("m").as("ci_lo"))
    val hi = ranked.filter(col("r") === bootstrapB - 1).select(col("m").as("ci_hi"))
    val full = per.agg(count(lit(1)).as("n"),
      round(sum("x").cast(DoubleType) / count(lit(1)), 6).as("mean_tokens"))
    full.crossJoin(broadcast(lo)).crossJoin(broadcast(hi))
      .select(col("n").cast(LongType).as("n"), lit(bootstrapB).as("b_replicas"),
        col("mean_tokens"), col("ci_lo"), col("ci_hi"))
  }

  /** Wilson score intervals (q242): per-source low-quality rate
    * (grid score < 0.5) with the 95% Wilson CI — the uncertainty a
    * scorecard should carry before anyone compares two sources whose
    * doc counts differ by 100×. All inputs are exact integers; the
    * closed form is evaluated in identical term order in both engines.
    */
  def wilsonCi(docs: DataFrame): DataFrame = {
    // z² pinned as the LITERAL 3.8416, not the double product
    // 1.96*1.96 — the product differs from the decimal literal by an
    // ulp and DuckDB would parse its side as exact DECIMAL.
    val z2 = lit(3.8416)
    val scored = docs.select(col("source"),
      round(TextAnalysis.qualityScore(
        TextAnalysis.tokens(col("text")), col("n_chars")) * S, 0)
        .cast(LongType).as("si"))
    val per = scored.groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(when(col("si") < S / 2, 1L).otherwise(0L)).as("k"))
    val nD = col("n").cast(DoubleType)
    val p = col("k").cast(DoubleType) / nD
    val denom = lit(1.0) + z2 / nD
    val center = (p + z2 / (lit(2.0) * nD)) / denom
    val half = lit(1.96) * sqrt(p * (lit(1.0) - p) / nD +
      z2 / (lit(4.0) * nD * nD)) / denom
    per.select(col("source"), col("n").cast(LongType).as("n"),
        col("k").cast(LongType).as("k"),
        round(p, 6).as("rate"),
        round(center - half, 6).as("ci_lo"),
        round(center + half, 6).as("ci_hi"))
      .orderBy("source")
  }

  val entries: Seq[QueryEntry] = Seq(
    // q232 — exact tie-aware Mann–Whitney AUC; DuckDB re-derives the
    // grid scores, the per-score (pos, neg) split, the cumulative
    // concordance, and the final ratio.
    QueryEntry.sql(
      "q232_score_auc",
      s"""WITH s AS ($scoredDocsSql
         |), per AS (
         |  SELECT si, SUM(pos) AS p, COUNT(*) - SUM(pos) AS g
         |  FROM s GROUP BY 1
         |), cum AS (
         |  SELECT p, g, SUM(g) OVER (ORDER BY si) - g AS cumg FROM per
         |), agg AS (
         |  SELECT SUM(CAST(p AS HUGEINT) * cumg) AS conc,
         |         SUM(CAST(p AS HUGEINT) * g) AS ties,
         |         SUM(p) AS n1, SUM(g) AS n0
         |  FROM cum
         |)
         |SELECT CAST(n1 AS BIGINT) AS n_pos, CAST(n0 AS BIGINT) AS n_neg,
         |       ROUND(CAST(2 * conc + ties AS DOUBLE)
         |             / (2.0 * n1 * n0), 6) AS auc
         |FROM agg""".stripMargin,
    ) { (s, dir) =>
      scoreAuc(Tables(s, dir).documentsRebalanced)
    },

    // q233 — 10-bin reliability diagram + ECE from integer gap sums.
    QueryEntry.sql(
      "q233_calibration_ece",
      s"""WITH s AS ($scoredDocsSql
         |), b AS (
         |  SELECT LEAST(CAST(FLOOR(CAST(si AS DOUBLE) / 100000.0) AS INT), 9)
         |           AS bin,
         |         pos, si
         |  FROM s
         |), per AS (
         |  SELECT bin, COUNT(*) AS n, SUM(pos) AS posb,
         |         SUM(CAST(si AS HUGEINT)) AS ssum,
         |         ABS($S * CAST(SUM(pos) AS HUGEINT)
         |             - SUM(CAST(si AS HUGEINT))) AS gapnum
         |  FROM b GROUP BY 1
         |), tot AS (
         |  SELECT SUM(n) AS nn, SUM(gapnum) AS gaptot FROM per
         |)
         |SELECT bin, CAST(n AS BIGINT) AS n,
         |       ROUND(CAST(ssum AS DOUBLE) / (1.0 * $S * n), 6) AS conf,
         |       ROUND(CAST(posb AS DOUBLE) / n, 6) AS acc,
         |       ROUND(CAST(gapnum AS DOUBLE) / (1.0 * $S * n), 6) AS gap,
         |       ROUND(CAST(gaptot AS DOUBLE) / (1.0 * $S * nn), 6) AS ece
         |FROM per, tot ORDER BY bin""".stripMargin,
    ) { (s, dir) =>
      calibrationEce(Tables(s, dir).documentsRebalanced)
    },

    // q234 — Fleiss' kappa over the three raters on the decorated
    // corpus; DuckDB re-runs all three classifiers, the per-doc
    // category counts, and both agreement terms.
    QueryEntry.sql(
      "q234_fleiss_kappa",
      s"""WITH deco AS ($decoratedSql
         |), base AS (
         |  SELECT doc_id, text,
         |         regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
         |  FROM deco
         |), p1 AS (
         |  SELECT doc_id, ${TextAnalysis.langPredictedSql.linesIterator
                    .mkString(" ")} AS cat
         |  FROM (SELECT doc_id, text, toks,
         |               ${TextAnalysis.langScoresSql}
         |        FROM base) t
         |), p2 AS (
         |  SELECT doc_id, ${TextAnalysis.langStopsPredictedSql.linesIterator
                    .mkString(" ")} AS cat
         |  FROM base
         |), p3 AS (
         |  SELECT doc_id, ${TextAnalysis.langMarkersPredictedSql.linesIterator
                    .mkString(" ")} AS cat
         |  FROM base
         |), allp AS (
         |  SELECT * FROM p1 UNION ALL SELECT * FROM p2
         |  UNION ALL SELECT * FROM p3
         |), cnt AS (
         |  SELECT doc_id, cat, COUNT(*) AS c FROM allp GROUP BY 1, 2
         |), pd AS (
         |  SELECT doc_id, SUM(c * c) AS s2 FROM cnt GROUP BY 1
         |), t AS (
         |  SELECT COUNT(*) AS n, CAST(SUM(s2 - 3) AS HUGEINT) AS ponum
         |  FROM pd
         |), pe AS (
         |  SELECT SUM(CAST(ck AS HUGEINT) * ck) AS penum
         |  FROM (SELECT cat, SUM(c) AS ck FROM cnt GROUP BY 1) ct
         |)
         |SELECT CAST(n AS BIGINT) AS n_docs,
         |       ROUND(CAST(ponum AS DOUBLE) / (6.0 * n), 6) AS po,
         |       ROUND(CAST(penum AS DOUBLE) / (9.0 * n * n), 6) AS pe,
         |       ROUND((CAST(ponum AS DOUBLE) / (6.0 * n)
         |              - CAST(penum AS DOUBLE) / (9.0 * n * n))
         |             / (1.0 - CAST(penum AS DOUBLE) / (9.0 * n * n)), 6)
         |         AS kappa
         |FROM t, pe""".stripMargin,
    ) { (s, dir) =>
      fleissKappa(Tables(s, dir).documentsRebalanced)
    },

    // q241 — one-pass Poisson bootstrap CI; DuckDB replays every
    // (doc, replica) hash, weight draw, replica mean, and the
    // nearest-rank interval.
    QueryEntry.sql(
      "q241_bootstrap_ci",
      s"""WITH per AS (
         |  SELECT doc_id,
         |         CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+'))
         |              AS BIGINT) AS x
         |  FROM documents
         |), u AS (
         |  SELECT b, x,
         |         ${graft.operators.Hll.splitmixSqlFor(s"(doc_id * $bootstrapB + b)")} >> 11
         |           AS u53
         |  FROM per, (SELECT unnest(range($bootstrapB)) AS b)
         |), reps AS (
         |  SELECT b, x,
         |         ${poissonThresholds.map(t =>
               s"(CASE WHEN u53 >= $t THEN 1 ELSE 0 END)").mkString("\n         |         + ")}
         |           AS w
         |  FROM u
         |), m AS (
         |  SELECT b, ROUND(CAST(SUM(w * x) AS DOUBLE) / SUM(w), 6) AS m
         |  FROM reps GROUP BY 1
         |), ranked AS (
         |  SELECT m, row_number() OVER (ORDER BY m, b) AS r FROM m
         |), f AS (
         |  SELECT COUNT(*) AS n,
         |         ROUND(CAST(SUM(x) AS DOUBLE) / COUNT(*), 6) AS mean_tokens
         |  FROM per
         |)
         |SELECT CAST(n AS BIGINT) AS n, $bootstrapB AS b_replicas, mean_tokens,
         |       (SELECT m FROM ranked WHERE r = 2) AS ci_lo,
         |       (SELECT m FROM ranked WHERE r = ${bootstrapB - 1}) AS ci_hi
         |FROM f""".stripMargin,
    ) { (s, dir) =>
      bootstrapCi(Tables(s, dir).documentsRebalanced)
    },

    // q242 — Wilson 95% intervals for per-source low-quality rates;
    // DuckDB re-derives the grid scores, the counts, and the closed
    // form in the identical term order.
    QueryEntry.sql(
      "q242_wilson_ci",
      s"""WITH tok AS (
         |  SELECT source, n_chars,
         |         regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
         |  FROM documents
         |), sc AS (
         |  SELECT source,
         |         CAST(ROUND((${TextAnalysis.qualityScoreSql}
         |           ) * ${S}.0, 0) AS BIGINT) AS si
         |  FROM tok
         |), per AS (
         |  SELECT source, COUNT(*) AS n,
         |         SUM(CASE WHEN si < ${S / 2} THEN 1 ELSE 0 END) AS k
         |  FROM sc GROUP BY 1
         |)
         |SELECT source, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
         |       ROUND(CAST(k AS DOUBLE) / n, 6) AS rate,
         |       ROUND((CAST(k AS DOUBLE) / n + 3.8416 / (2.0 * n))
         |               / (1.0 + 3.8416 / n)
         |             - 1.96 * sqrt(CAST(k AS DOUBLE) / n
         |                           * (1.0 - CAST(k AS DOUBLE) / n) / n
         |                           + 3.8416 / (4.0 * n * n))
         |               / (1.0 + 3.8416 / n), 6) AS ci_lo,
         |       ROUND((CAST(k AS DOUBLE) / n + 3.8416 / (2.0 * n))
         |               / (1.0 + 3.8416 / n)
         |             + 1.96 * sqrt(CAST(k AS DOUBLE) / n
         |                           * (1.0 - CAST(k AS DOUBLE) / n) / n
         |                           + 3.8416 / (4.0 * n * n))
         |               / (1.0 + 3.8416 / n), 6) AS ci_hi
         |FROM per ORDER BY source""".stripMargin,
    ) { (s, dir) =>
      wilsonCi(Tables(s, dir).documentsRebalanced)
    },

    // q284 — rater reliability via one Dawid–Skene EM round (the
    // consensus-labeling step a pipeline runs before trusting cheap
    // annotators): majority label per doc (ties to the smallest
    // category), per-rater reliability π_r = agreement with majority,
    // then a reliability-WEIGHTED revote (weights = π_r on the
    // DECIMAL(18,7) grid so per-(doc, cat) weight sums are exact) and
    // the post-revote agreement. DuckDB replays both voting rounds —
    // a drifted weight or tie-break breaks the hash. Scale: the rater
    // frame is 3× corpus; all windows are per-doc (≤ 3-row frames);
    // two grouped counts + model-sized (3-row) weight joins.
    QueryEntry.sql(
      "q284_rater_reliability",
      s"""WITH deco AS ($decoratedSql
         |), base AS (
         |  SELECT doc_id, text,
         |         regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
         |  FROM deco
         |), p1 AS (
         |  SELECT doc_id, ${TextAnalysis.langPredictedSql.linesIterator
                    .mkString(" ")} AS cat
         |  FROM (SELECT doc_id, text, toks,
         |               ${TextAnalysis.langScoresSql}
         |        FROM base) t
         |), p2 AS (
         |  SELECT doc_id, ${TextAnalysis.langStopsPredictedSql.linesIterator
                    .mkString(" ")} AS cat
         |  FROM base
         |), p3 AS (
         |  SELECT doc_id, ${TextAnalysis.langMarkersPredictedSql.linesIterator
                    .mkString(" ")} AS cat
         |  FROM base
         |), allp AS MATERIALIZED (
         |  SELECT doc_id, 1 AS rater, cat FROM p1
         |  UNION ALL SELECT doc_id, 2, cat FROM p2
         |  UNION ALL SELECT doc_id, 3, cat FROM p3
         |), cnt AS (
         |  SELECT doc_id, cat, COUNT(*) AS c FROM allp GROUP BY 1, 2
         |), maj AS (
         |  SELECT doc_id, cat AS mcat
         |  FROM (SELECT doc_id, cat,
         |               row_number() OVER (PARTITION BY doc_id
         |                                  ORDER BY c DESC, cat) AS rn
         |        FROM cnt)
         |  WHERE rn = 1
         |), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM maj),
         |pi AS MATERIALIZED (
         |  SELECT rater,
         |         SUM(CASE WHEN cat = mcat THEN 1 ELSE 0 END) AS agree1,
         |         CAST(ROUND(CAST(SUM(CASE WHEN cat = mcat THEN 1 ELSE 0 END)
         |                         AS DOUBLE) / n, 7) AS DECIMAL(18,7)) AS pi7
         |  FROM allp JOIN maj USING (doc_id), nn GROUP BY rater, n
         |), sw AS (
         |  SELECT doc_id, cat, SUM(pi7) AS sw
         |  FROM allp JOIN pi USING (rater) GROUP BY 1, 2
         |), lab2 AS (
         |  SELECT doc_id, cat AS wcat
         |  FROM (SELECT doc_id, cat,
         |               row_number() OVER (PARTITION BY doc_id
         |                                  ORDER BY sw DESC, cat) AS rn
         |        FROM sw)
         |  WHERE rn = 1
         |), a2 AS (
         |  SELECT rater, SUM(CASE WHEN cat = wcat THEN 1 ELSE 0 END) AS agree2
         |  FROM allp JOIN lab2 USING (doc_id) GROUP BY 1
         |)
         |SELECT pi.rater, n AS n_docs,
         |       CAST(agree1 AS BIGINT) AS agree_majority,
         |       ROUND(CAST(agree1 AS DOUBLE) / n, 6) AS pi_majority,
         |       CAST(agree2 AS BIGINT) AS agree_weighted,
         |       ROUND(CAST(agree2 AS DOUBLE) / n, 6) AS pi_weighted
         |FROM pi JOIN a2 USING (rater), nn
         |ORDER BY rater""".stripMargin,
    ) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val preds = graft.TransientCaches.persist(decorated(Tables(s, dir).documentsRebalanced)
        .select(col("doc_id"), explode(array(
          struct(lit(1).as("rater"),
            TextAnalysis.langPredicted(col("text")).as("cat")),
          struct(lit(2).as("rater"),
            TextAnalysis.langPredictedStops(col("text")).as("cat")),
          struct(lit(3).as("rater"),
            TextAnalysis.langPredictedMarkers(col("text")).as("cat")))).as("p"))
        .select(col("doc_id"), col("p.rater").as("rater"), col("p.cat").as("cat")))
      val cnt = preds.groupBy("doc_id", "cat").agg(count(lit(1)).as("c"))
      val wMaj = Window.partitionBy("doc_id")
        .orderBy(col("c").desc, col("cat").asc)
      val maj = cnt.withColumn("rn", row_number().over(wMaj))
        .filter(col("rn") === 1).select(col("doc_id"), col("cat").as("mcat"))
      val nn = maj.agg(count(lit(1)).cast(LongType).as("n"))
      val pi = preds.join(maj, "doc_id")
        .groupBy("rater")
        .agg(sum(when(col("cat") === col("mcat"), 1L).otherwise(0L))
          .as("agree1"))
        .crossJoin(broadcast(nn))
        .select(col("rater"), col("agree1"), col("n"),
          round(col("agree1").cast(DoubleType) / col("n"), 7)
            .cast(DecimalType(18, 7)).as("pi7"))
      val sw = preds.join(broadcast(pi.select("rater", "pi7")), "rater")
        .groupBy("doc_id", "cat").agg(sum("pi7").as("sw"))
      val wW = Window.partitionBy("doc_id")
        .orderBy(col("sw").desc, col("cat").asc)
      val lab2 = sw.withColumn("rn", row_number().over(wW))
        .filter(col("rn") === 1).select(col("doc_id"), col("cat").as("wcat"))
      val a2 = preds.join(lab2, "doc_id")
        .groupBy("rater")
        .agg(sum(when(col("cat") === col("wcat"), 1L).otherwise(0L))
          .as("agree2"))
      pi.join(a2, "rater")
        .select(col("rater"), col("n").as("n_docs"),
          col("agree1").cast(LongType).as("agree_majority"),
          round(col("agree1").cast(DoubleType) / col("n"), 6).as("pi_majority"),
          col("agree2").cast(LongType).as("agree_weighted"),
          round(col("agree2").cast(DoubleType) / col("n"), 6).as("pi_weighted"))
        .orderBy("rater")
    },

    // q313 — self-BLEU corpus diversity (Zhu et al. 2018's texygen
    // metric, the standard "is the corpus repeating itself" readout —
    // high self-BLEU between neighboring documents means a source is
    // template-generated): BLEU-2 of each doc against the NEXT doc of
    // its source (candidate = successor, reference = doc; adjacent
    // pairing is the corpus-linear form — all-pairs self-BLEU is the
    // reference semantics nobody runs at scale, and q84/q20 already
    // carry the pairwise near-dup machinery). Per pair: clipped
    // unigram/bigram precisions as exact integer ratios, brevity
    // penalty exp(1 − r/c), geometric mean through 6dp-rounded lns;
    // per-pair bleu rounded once to 6dp DECIMAL; per-source mean =
    // exact-decimal cast + division (no engine round — the q309
    // halfway lesson). Zero-overlap pairs score 0 (the log would
    // diverge); the guard is replayed by the oracle.
    // Scale shape: one successor window per source, token-count joins
    // keyed by (pair, gram) — work ∝ corpus tokens; no doc×doc join.
    QueryEntry.sql(
      "q313_self_bleu",
      """WITH tok AS MATERIALIZED (
        |  SELECT doc_id, source,
        |         regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents
        |), pairs AS MATERIALIZED (
        |  SELECT source, doc_id AS ref_id,
        |         lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id)
        |           AS cand_id
        |  FROM tok QUALIFY cand_id IS NOT NULL
        |), uni AS MATERIALIZED (
        |  SELECT doc_id, tt AS g, COUNT(*) AS c
        |  FROM (SELECT doc_id, unnest(t) AS tt FROM tok) GROUP BY 1, 2
        |), bi AS MATERIALIZED (
        |  SELECT doc_id, t[i] || ' ' || t[i + 1] AS g, COUNT(*) AS c
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
        |        FROM tok) GROUP BY 1, 2
        |), lens AS MATERIALIZED (
        |  SELECT doc_id, len(t) AS n FROM tok
        |), clip1 AS (
        |  SELECT p.source, p.ref_id, p.cand_id,
        |         SUM(LEAST(uc.c, COALESCE(ur.c, 0))) AS cl, SUM(uc.c) AS tot
        |  FROM pairs p
        |  JOIN uni uc ON uc.doc_id = p.cand_id
        |  LEFT JOIN uni ur ON ur.doc_id = p.ref_id AND ur.g = uc.g
        |  GROUP BY 1, 2, 3
        |), clip2 AS (
        |  SELECT p.ref_id, p.cand_id,
        |         SUM(LEAST(bc.c, COALESCE(br.c, 0))) AS cl, SUM(bc.c) AS tot
        |  FROM pairs p
        |  JOIN bi bc ON bc.doc_id = p.cand_id
        |  LEFT JOIN bi br ON br.doc_id = p.ref_id AND br.g = bc.g
        |  GROUP BY 1, 2
        |), per_pair AS (
        |  SELECT c1.source,
        |         CASE WHEN c1.cl = 0 OR c2.cl = 0 THEN CAST(0 AS DECIMAL(18,6))
        |              ELSE CAST(ROUND(
        |                (CASE WHEN lc.n >= lr.n THEN 1.0
        |                      ELSE exp(1.0 - CAST(lr.n AS DOUBLE) / lc.n) END)
        |                * exp((ROUND(ln(CAST(c1.cl AS DOUBLE) / c1.tot), 6)
        |                       + ROUND(ln(CAST(c2.cl AS DOUBLE) / c2.tot), 6))
        |                      / 2), 6) AS DECIMAL(18,6)) END AS bleu
        |  FROM clip1 c1
        |  JOIN clip2 c2 ON c2.ref_id = c1.ref_id AND c2.cand_id = c1.cand_id
        |  JOIN lens lc ON lc.doc_id = c1.cand_id
        |  JOIN lens lr ON lr.doc_id = c1.ref_id
        |)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |       CAST(SUM(bleu) AS DOUBLE) / COUNT(*) AS mean_bleu
        |FROM per_pair GROUP BY source ORDER BY source""".stripMargin,
    ) { (s, dir) =>
      val tok = Tables(s, dir).documentsRebalanced
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokens(col("text")).as("t"))
      val wp = Window.partitionBy("source").orderBy("doc_id")
      val pairs = tok
        .select(col("source"), col("doc_id").as("ref_id"),
          lead(col("doc_id"), 1).over(wp).as("cand_id"))
        .filter(col("cand_id").isNotNull)
      val uni = tok.select(col("doc_id"), explode(col("t")).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      val bi = tok.filter(size(col("t")) >= 2)
        .select(col("doc_id"), col("t"),
          explode(sequence(lit(1), size(col("t")) - 1)).as("i"))
        .select(col("doc_id"), concat(element_at(col("t"), col("i")),
          lit(" "), element_at(col("t"), col("i") + 1)).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      val lens = tok.select(col("doc_id"), size(col("t")).as("n"))
      def clipped(grams: DataFrame) = pairs
        .join(grams.select(col("doc_id").as("cand_id"), col("g"),
          col("c").as("cc")), Seq("cand_id"))
        .join(grams.select(col("doc_id").as("ref_id"), col("g"),
          col("c").as("cr")), Seq("ref_id", "g"), "left")
        .groupBy("source", "ref_id", "cand_id")
        .agg(sum(least(col("cc"), coalesce(col("cr"), lit(0L)))).as("cl"),
          sum("cc").as("tot"))
      val c1 = clipped(uni)
      val c2 = clipped(bi).select(col("ref_id"), col("cand_id"),
        col("cl").as("cl2"), col("tot").as("tot2"))
      val D6 = DecimalType(18, 6)
      val bp = when(col("nc") >= col("nr"), lit(1.0))
        .otherwise(exp(lit(1.0) - col("nr").cast(DoubleType) / col("nc")))
      val gm = exp((round(log(col("cl").cast(DoubleType) / col("tot")), 6)
        + round(log(col("cl2").cast(DoubleType) / col("tot2")), 6)) / 2)
      val perPair = c1.join(c2, Seq("ref_id", "cand_id"))
        .join(lens.select(col("doc_id").as("cand_id"),
          col("n").as("nc")), Seq("cand_id"))
        .join(lens.select(col("doc_id").as("ref_id"),
          col("n").as("nr")), Seq("ref_id"))
        .select(col("source"),
          when(col("cl") === 0 || col("cl2") === 0, lit(0).cast(D6))
            .otherwise(round(bp * gm, 6).cast(D6)).as("bleu"))
      perPair.groupBy("source")
        .agg(count(lit(1)).as("n_pairs"),
          (sum("bleu").cast(DoubleType) / count(lit(1))).as("mean_bleu"))
        .orderBy("source")
    },
  )
}
