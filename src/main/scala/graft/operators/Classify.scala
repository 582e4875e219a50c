package graft.operators

import graft.{QueryEntry, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Trained classifiers over the document corpus — the model-FITTING
  * complement of the heuristic gates (q17 char-class lang-ID, q18
  * quality score): a full-batch gradient-descent logistic regression
  * (the fasttext/CCNet-style learned quality filter: positives = the
  * curated corpus, negatives = deterministic corruptions of it) and an
  * add-one-smoothed naive-Bayes character-bigram language classifier
  * (fit + resubstitution scoring). Both are differential-tested end to
  * end: the DuckDB oracle independently re-runs the ENTIRE training
  * loop — corpus construction, feature extraction, every gradient
  * step, the final scoring pass — so a divergence anywhere in the fit
  * breaks the hash, not just in the final prediction.
  *
  * The fixture corpus draws every lang label from one shared
  * English-like vocabulary with no punctuation (the q17 note), so both
  * tasks use the PLANTED-INPUT pattern (q63/q201/q218/q234 precedent),
  * planting identically in both engines: q250 trains against
  * whitespace-stripped "wall of text" twins (a classic Gopher-rule
  * low-quality signature), q251 classifies the orthography-augmented
  * corpus ([[augmentedDocs]] — each doc carries its language's native
  * marker tail, so char bigrams have real signal).
  *
  * Determinism follows the repo's decimal protocol (q160/q173/q206
  * precedents): per-item lossy values are rounded ONCE to a fixed
  * scale (1e7-scaled BIGINT for gradient contributions, 6dp DECIMAL
  * for per-distinct-bigram log-probs) and summed in exact integer /
  * decimal arithmetic, so partition order can never move a sum; the
  * only float ops are one sigmoid per (doc, iteration) and one `ln`
  * per distinct (lang, bigram), identically shaped in both engines.
  *
  * Scale shape (100 TB): logreg iterations are one map pass + one
  * 4-column exact aggregate each — the collected model is 4 doubles
  * (model-sized driver state, the IVF-centroid precedent); NB's model
  * is |langs| x |char-bigrams| (charset-bounded, broadcastable), all
  * per-doc work is doc-keyed, and no doc x doc pair ever forms.
  */
object Classify {

  private val lrStop = Seq("the", "a", "of", "and", "to", "is")
  private val LrIters = 3
  private val LrRate = 2.0
  private val StudentRate = 8.0
  // Platt recalibration (q296): 10 steps at rate 16 — measured ECE
  // 0.281 → 0.058 at sf0.001; q250's (3, 2.0) barely moves the curve.
  private val PlattIters = 10
  private val PlattRate = 16.0

  /** Training corpus for the quality filter: every doc as a clean
    * positive, plus — for doc_id % 3 == 0 — a whitespace-stripped
    * negative twin at id `-doc_id-1` (the collision-free negative id
    * space): one unbroken token, zero stopword hits — the surface
    * signature of extraction garbage.
    */
  def corpusWithCorruptions(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), lit(1.0).as("y"), col("text"))
      .union(docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        .select((-col("doc_id") - lit(1L)).as("doc_id"), lit(0.0).as("y"),
          regexp_replace(col("text"), " ", "").as("text")))

  /** The three surface features, each rounded once to 6dp so both
    * engines carry identical doubles: x1 = stopword ratio, x2 = mean
    * token length / 10, x3 = non-[a-z0-9 ] char ratio.
    */
  private def featureCols: Seq[Column] = {
    val tl = trim(lower(col("text")))
    val toks = split(tl, "\\s+")
    val n = size(toks).cast(DoubleType)
    val chars = length(regexp_replace(tl, "\\s+", "")).cast(DoubleType)
    Seq(
      round(size(filter(toks, t => t.isin(lrStop: _*))).cast(DoubleType) / n, 6)
        .as("x1"),
      round(chars / n / lit(10.0), 6).as("x2"),
      round(size(regexp_extract_all(tl, lit("[^a-z0-9 ]"), lit(0)))
        .cast(DoubleType) / length(tl), 6).as("x3"),
    )
  }

  /** Training frame (y, x1..x3); expects (y, text). */
  def logregFeatures(corpus: DataFrame): DataFrame =
    corpus.select(col("y") +: featureCols: _*)

  /** Fit the quality filter on a fixture dir (the model an ingest
    * pipeline loads at startup — q257 calls this BEFORE its stream).
    */
  def fittedWeights(spark: org.apache.spark.sql.SparkSession,
      dir: String): Array[Double] = {
    // r14: the GD loop takes count + 3 gradient passes over the
    // feature frame; unpersisted, each pass re-ran the corruption
    // union + regex feature extraction (every OTHER logregFit call
    // site already persists — this one feeds q292/q294/q257)
    val feats = graft.TransientCaches.persist(logregFeatures(corpusWithCorruptions(
      Tables(spark, dir).documentsRebalanced)))
    try logregFit(feats)
    finally graft.TransientCaches.unpersist(feats)
  }

  /** Score a doc frame under fitted weights: (doc_id, s6) with the
    * 1e6-scaled score — shared by the batch calibration entry and the
    * streaming ingest filter (identical arithmetic on both paths).
    */
  def scoreDocs(docs: DataFrame, w: Array[Double]): DataFrame =
    docs.select(col("doc_id") +: featureCols: _*)
      .select(col("doc_id"),
        round(sigmoid(zOf(w)) * lit(1e6), 0).cast(LongType).as("s6"))

  private def sigmoid(z: Column): Column = lit(1.0) / (lit(1.0) + exp(-z))

  /** z spelled in the SAME left-associated order as the oracle SQL —
    * FP addition order is part of the cross-engine contract.
    */
  private def zOf(w: Array[Double]): Column =
    lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") +
      lit(w(3)) * col("x3")

  /** Full-batch GD: w_j += lr * sum_i round7((y_i - s_i) * x_ij) / n,
    * gradient contributions carried as 1e7-scaled BIGINTs (exact,
    * order-free, overflow-safe to ~6e10 docs even at |r·x| ~ 15).
    * Returns the fitted weights after [[LrIters]] steps from w = 0.
    */
  def logregFit(feats: DataFrame, rate: Double = LrRate): Array[Double] =
    logregFitSteps(feats, rate).last

  /** Like [[logregFit]] but returns the weights after EACH of the
    * [[LrIters]] steps (w_1..w_k) — the per-step trajectory the
    * training-dynamics entry (q334) scores documents against. Step k
    * here is bit-identical to [[logregFit]]'s step k (same 1e7-scaled
    * gradient rounding, same 6dp HALF_UP weight rounding).
    */
  def logregFitSteps(feats: DataFrame, rate: Double = LrRate): Seq[Array[Double]] =
    logregFitStepsMulti(feats, Seq(rate)).head._2

  /** [[logregFitSteps]] for SEVERAL learning rates in the same jobs:
    * step k evaluates every rate's gradient sums in one pass over the
    * feature frame (the rates' trajectories are independent, so the
    * sums just sit side by side in one projection), and n rides along
    * with step 1's gradients (w = 0 there, so the first step needs no
    * prior count). One job per GD step instead of rates × (count + k
    * gradients) — same 1e7-scaled sums, same 6dp HALF_UP weight
    * rounding, bit-identical per-rate trajectories (r15; q264 ran
    * 3 rates × 4 jobs before).
    */
  def logregFitStepsMulti(feats: DataFrame,
      rates: Seq[Double]): Seq[(Double, Seq[Array[Double]])] = {
    val ws = rates.map(_ => Array(0.0, 0.0, 0.0, 0.0))
    val steps = rates.map(_ => Seq.newBuilder[Array[Double]])
    val xs = Seq(lit(1.0), col("x1"), col("x2"), col("x3"))
    var n = 0.0
    (1 to LrIters).foreach { it =>
      val gCols = ws.flatMap { w =>
        val r = col("y") - sigmoid(zOf(w))
        xs.map(x => sum(round(r * x * lit(1e7), 0).cast(LongType)))
      }
      val g = feats.select(
        (if (it == 1) gCols :+ count(lit(1)) else gCols): _*).head()
      if (it == 1) n = g.getLong(4 * rates.size).toDouble
      rates.indices.foreach { i =>
        val w = ws(i)
        for (j <- 0 to 3)
          w(j) = BigDecimal(
            w(j) + rates(i) * (g.getLong(4 * i + j).toDouble / 1e7 / n))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        steps(i) += w.clone()
      }
    }
    rates.zip(steps.map(_.result()))
  }

  /** Fit on clean + corrupted twins, then score both classes: per
    * label, the mean predicted keep-probability and the count the 0.5
    * gate would keep (scores 1e6-scaled once so the mean and the
    * threshold are integer-exact).
    */
  def logregScorecard(docs: DataFrame): DataFrame = {
    val feats = graft.TransientCaches.persist(logregFeatures(corpusWithCorruptions(docs)))
    val w = logregFit(feats)
    feats
      .select(col("y").cast(IntegerType).as("label"),
        round(sigmoid(zOf(w)) * lit(1e6), 0).cast(LongType).as("s6"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("s6")).cast(DoubleType) / lit(1e6) / count(lit(1)), 6)
          .as("mean_score"),
        sum(when(col("s6") >= 500000L, 1L).otherwise(0L)).as("n_kept"))
      .orderBy("label")
  }

  // -------------------------------------------------------------------
  // q251 — naive-Bayes char-bigram lang-ID
  // -------------------------------------------------------------------

  /** The orthography-augmented corpus: text || ' ' || tail(lang) (the
    * per-lang native tails live in [[TextAnalysis.langTails]] — a
    * ONE-WAY dependency; a back-reference from TextAnalysis's entries
    * into this object would race object init, the q235 NPE lesson).
    */
  def augmentedDocs(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tails = spark.createDataset(TextAnalysis.langTails).toDF("lang", "tail")
    docs.join(broadcast(tails), "lang")
      .select(col("doc_id"), col("lang"),
        concat(col("text"), lit(" "), col("tail")).as("text"))
  }

  private def tailValuesSql: String = TextAnalysis.tailValuesSql

  /** Per-doc distinct-bigram counts of the whitespace-normalized
    * lowered text (the q79 normalization): one row per bigram-producing
    * document carrying map<bigram, occurrences> — the r15 fused form of
    * the former one-row-per-OCCURRENCE explode (n·(len-1) rows), same
    * substr-by-code-point bigram unit (ClassifySpec pins equality).
    */
  private def docBigramCounts(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("lang"),
        regexp_replace(lower(col("text")), "\\s+", " ").as("t"))
      .filter(length(col("t")) >= 2)
      .select(col("doc_id"), col("lang"),
        graft.functions.GraftFunctions.charBigramCounts(col("t")).as("m"))

  /** Fit an add-one-smoothed NB bigram model on the labeled corpus and
    * re-classify every document (resubstitution): score(doc, lang) =
    * ln-prior + sum over the doc's bigram occurrences of the per-lang
    * smoothed log-prob, unseen bigrams falling back to the per-lang
    * floor ln(1/(tot_l + V)). All log-probs are 6dp DECIMALs rounded
    * once per distinct (lang, bigram); doc scores are exact integer
    * sums of their 1e6-scaled micros (a monotone bijection of the
    * former exact decimal sums — the argmax and its tiebreak cannot
    * move, and only the argmax leaves this function). Output: the
    * confusion matrix.
    *
    * r15 shape (guide §2.3 sufficient statistics): per-doc bigram maps
    * in one pass (no occurrence explode), model fit by summing the
    * per-doc counts, and scoring via a 1:1 bg-keyed broadcast join into
    * a per-doc long-array accumulator — the former shape multiplied
    * every (doc,bg) row by the langs carrying that bigram (≈|langs|×
    * rows) before a (doc, m_lang)-keyed hash aggregate.
    */
  def nbLangIdConfusion(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val dec6 = DataTypes.createDecimalType(18, 6)
    val docBg = graft.TransientCaches.persist(docBigramCounts(docs))
    // one row per (doc, distinct bigram) — the model-fit and scoring
    // unit. Deliberately NOT persisted: it has exactly two consumers
    // (the model-count fit and the scoring pass) and re-exploding the
    // 25k cached doc maps is cheaper than caching ~5M rows.
    def dbl = docBg
      .select(col("doc_id"), col("lang"), explode(col("m")).as(Seq("bg", "c")))

    // nDocs + the candidate-lang domain in ONE driver action over the
    // small cached frame (docBg rows are unique per doc by
    // construction, so count ≡ the former countDistinct over
    // occurrences; every doc in docBg produced ≥1 bigram). Priors over
    // docs that PRODUCED bigrams — the population the model is fitted
    // on and the oracle counts.
    val statRow = docBg
      .agg(count(lit(1)), sort_array(collect_set(col("lang")))).head()
    val nDocs = statRow.getLong(0)
    val langList = statRow.getSeq[String](1)
    val priors = docBg.groupBy(col("lang").as("m_lang"))
      .agg(count(lit(1)).as("nl"))
      .select(col("m_lang"),
        round(log(col("nl").cast(DoubleType) / lit(nDocs.toDouble)), 6)
          .cast(dec6).as("prior"))
    // per-(lang, bigram) occurrence counts: ONE pass over the exploded
    // frame; tots and V then derive from this charset²-bounded frame
    // instead of re-scanning the 5M-row explode (sum of per-doc counts
    // ≡ the former count over occurrence rows, and the distinct-bg
    // domain is identical).
    val modelCounts = graft.TransientCaches.persist(
      dbl.groupBy(col("lang").as("m_lang"), col("bg")).agg(sum(col("c")).as("c")))
    val v = modelCounts.select(countDistinct(col("bg"))).head().getLong(0)
    val tots = modelCounts.groupBy(col("m_lang")).agg(sum(col("c")).as("tot"))
    // per-lang unseen-bigram floor: ln(1 / (tot_l + V))
    val floors = tots
      .select(col("m_lang"),
        round(log(lit(1.0) / (col("tot") + lit(v)).cast(DoubleType)), 6)
          .cast(dec6).as("lp0"))
    val model = modelCounts
      .join(tots, "m_lang")
      .select(col("m_lang"), col("bg"),
        round(log((col("c") + lit(1)).cast(DoubleType) /
          (col("tot") + lit(v)).cast(DoubleType)), 6).cast(dec6).as("lp"))
    // model pivoted to one row per bigram: lang → 1e6-scaled log-prob
    // (exact: lp is DECIMAL(18,6)). The join below is then 1:1 on bg.
    val modelByBg = model
      .groupBy(col("bg"))
      .agg(map_from_entries(collect_list(struct(col("m_lang"),
        (col("lp") * lit(1000000)).cast(LongType).as("lpm")))).as("lps"))
    // every bigram of every doc is in the model for the doc's own lang
    // (the model is fitted on this same corpus), so the inner join
    // keeps every (doc, bigram) row and every bigram-producing doc
    // reaches the accumulator — the population the former
    // docTot ⋈ distinct(doc,lang) scaffold carried.
    val acc = dbl
      .join(broadcast(modelByBg), Seq("bg"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(graft.functions.GraftFunctions
        .nbScoreAccum(col("c"), col("lps"), langList).as("a"))
    // langs indexed to match the accumulator's buffer ordering
    import spark.implicits._
    val langsIdx = broadcast(
      langList.zipWithIndex.map { case (l, i) => (i, l) }.toDF("lidx", "m_lang")
        .join(priors, "m_lang").join(floors, "m_lang")
        .select(col("lidx"), col("m_lang"),
          (col("prior") * lit(1000000)).cast(LongType).as("prior_m"),
          (col("lp0") * lit(1000000)).cast(LongType).as("lp0_m")))
    val scored = acc
      .select(col("doc_id"), col("lang"), col("a.nb").as("nb"),
        col("a.mc").as("mcs"), posexplode(col("a.sm")).as(Seq("lidx", "sm")))
      .join(langsIdx, "lidx")
      .select(col("doc_id"), col("lang"), col("m_lang"),
        (col("prior_m") + col("sm") +
          (col("nb") - element_at(col("mcs"), col("lidx") + 1))
            * col("lp0_m")).as("score"))
    // argmax with (score DESC, lang ASC) tiebreak: min over
    // (-score, lang) — exact integer comparison of the 1e6-scaled
    // scores, mirrored by the oracle's ROW_NUMBER over the decimals.
    scored
      .groupBy(col("doc_id"), col("lang"))
      .agg(min(struct((-col("score")).as("ns"), col("m_lang").as("l")))
        .as("best"))
      .groupBy(col("lang"), col("best.l").as("pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred")
  }

  private val lrStopSqlList = lrStop.map(w => s"'$w'").mkString(", ")

  /** The SQL feature triple over a relation exposing (tl, toks). */
  private def featSql(indent: String): String = Seq(
    s"ROUND(len(list_filter(toks, t -> t IN ($lrStopSqlList)))\n$indent      * 1.0 / len(toks), 6) AS x1",
    s"ROUND(length(regexp_replace(tl, '\\s+', '', 'g'))\n$indent      * 1.0 / len(toks) / 10.0, 6) AS x2",
    s"ROUND(len(regexp_extract_all(tl, '[^a-z0-9 ]'))\n$indent      * 1.0 / length(tl), 6) AS x3",
  ).mkString(s",\n$indent")

  private def gStepSql(z: String): String =
    Seq("1.0", "x1", "x2", "x3").zipWithIndex.map { case (x, j) =>
      s"SUM(CAST(ROUND((y - 1.0/(1.0 + exp(-($z)))) * $x * 10000000.0, 0) AS BIGINT)) AS g$j"
    }.mkString(",\n       ")

  private def wStepSql(prev: String, rate: String = "2.0"): String =
    (0 to 3).map { j =>
      val base = if (prev.isEmpty) "0.0" else s"$prev.w$j"
      s"ROUND($base + $rate * (CAST(g$j AS DOUBLE) / 10000000.0 / n), 6) AS w$j"
    }.mkString(",\n       ")

  /** The full unrolled training pipeline as a CTE chain (corpus →
    * feats → 3 × (gradient, weights)), ending at `w3s` — shared by
    * every oracle that needs the FITTED model (q250/q257/q258), so all
    * three break together if any training step drifts.
    */
  private val zw = "w0 + w1*x1 + w2*x2 + w3*x3"
  private def gdChainSql: String =
    s"""corpus AS (
       |  SELECT doc_id, 1.0 AS y, text FROM documents
       |  UNION ALL
       |  SELECT -doc_id - 1 AS doc_id, 0.0 AS y, replace(text, ' ', '')
       |  FROM documents WHERE doc_id % 3 = 0
       |), feats AS MATERIALIZED (
       |  SELECT doc_id, y,
       |       ${featSql("       ")}
       |  FROM (SELECT doc_id, y, trim(lower(text)) AS tl,
       |               regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
       |        FROM corpus) t
       |), nn AS (SELECT COUNT(*) AS n FROM feats),
       |g1 AS (
       |  SELECT ${gStepSql("0.0 + 0.0*x1 + 0.0*x2 + 0.0*x3")}
       |  FROM feats
       |), w1 AS (
       |  SELECT ${wStepSql("")}
       |  FROM g1, nn
       |), g2s AS (
       |  SELECT ${gStepSql(zw)}
       |  FROM feats, w1
       |), w2s AS (
       |  SELECT ${wStepSql("w1")}
       |  FROM g2s, w1, nn
       |), g3s AS (
       |  SELECT ${gStepSql(zw)}
       |  FROM feats, w2s
       |), w3s AS (
       |  SELECT ${wStepSql("w2s")}
       |  FROM g3s, w2s, nn
       |)""".stripMargin

  lazy val entries: Seq[QueryEntry] = Seq(
    // q250 — learned quality filter: 3 full-batch GD steps of logistic
    // regression on 3 surface features (stopword ratio, mean token
    // length, non-alnum ratio); positives = the corpus, negatives =
    // whitespace-stripped twins. The oracle unrolls the ENTIRE
    // training loop — identical corpus construction, feature rounding,
    // 1e7-scaled gradient sums, left-associated dot products — then
    // re-scores both classes; a drifted weight at any step breaks
    // every downstream row.
    QueryEntry.sql(
      "q250_quality_logreg",
      s"""WITH $gdChainSql, scored AS (
         |  SELECT CAST(y AS INTEGER) AS label,
         |         CAST(ROUND(1.0/(1.0 + exp(-($zw)))
         |                    * 1000000.0, 0) AS BIGINT) AS s6
         |  FROM feats, w3s
         |)
         |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       ROUND(CAST(SUM(s6) AS DOUBLE) / 1000000.0 / COUNT(*), 6)
         |         AS mean_score,
         |       CAST(SUM(CASE WHEN s6 >= 500000 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_kept
         |FROM scored GROUP BY label ORDER BY label""".stripMargin,
    ) { (s, dir) => logregScorecard(Tables(s, dir).documentsRebalanced) },

    // q251 — trained NB char-bigram lang-ID (q17's learned twin) over
    // the orthography-augmented corpus: the oracle plants the same
    // per-lang native tails, refits the whole smoothed model —
    // per-(lang,bigram) counts, per-lang totals, vocabulary size,
    // priors, unseen floors — and replays the per-doc argmax with the
    // same tiebreak.
    QueryEntry.sql(
      "q251_nb_langid",
      s"""WITH ptail(lang, tail) AS (VALUES
        |  $tailValuesSql
        |), d2 AS (
        |  SELECT doc_id, d.lang, d.text || ' ' || tail AS text
        |  FROM documents d JOIN ptail USING (lang)
        |), bg AS MATERIALIZED (
        |  SELECT doc_id, lang, substr(t, CAST(p AS BIGINT), 2) AS bg
        |  FROM (SELECT doc_id, lang, t, unnest(range(1, length(t))) AS p
        |        FROM (SELECT doc_id, lang,
        |                     regexp_replace(lower(text), '\\s+', ' ', 'g') AS t
        |              FROM d2) d
        |        WHERE length(t) >= 2) x
        |), nn AS (SELECT COUNT(*) AS n_docs
        |          FROM (SELECT DISTINCT doc_id FROM bg)),
        |priors AS (
        |  SELECT lang AS m_lang,
        |         CAST(ROUND(ln(COUNT(DISTINCT doc_id) * 1.0 / n_docs), 6)
        |              AS DECIMAL(18,6)) AS prior
        |  FROM bg, nn GROUP BY lang, n_docs
        |), vv AS (SELECT COUNT(DISTINCT bg) AS v FROM bg),
        |tots AS (SELECT lang AS m_lang, COUNT(*) AS tot FROM bg GROUP BY lang),
        |floors AS (
        |  SELECT m_lang,
        |         CAST(ROUND(ln(1.0 / (tot + v)), 6) AS DECIMAL(18,6)) AS lp0
        |  FROM tots, vv
        |), model AS MATERIALIZED (
        |  SELECT c.m_lang, c.bg,
        |         CAST(ROUND(ln((c.c + 1) * 1.0 / (t.tot + vv.v)), 6)
        |              AS DECIMAL(18,6)) AS lp
        |  FROM (SELECT lang AS m_lang, bg, COUNT(*) AS c
        |        FROM bg GROUP BY lang, bg) c
        |  JOIN tots t USING (m_lang), vv
        |), db AS MATERIALIZED (
        |  SELECT doc_id, lang, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2, 3
        |), doc_tot AS (
        |  SELECT doc_id, lang, CAST(SUM(c) AS BIGINT) AS nb
        |  FROM db GROUP BY 1, 2
        |), matched AS (
        |  SELECT db.doc_id, m.m_lang,
        |         SUM(CAST(db.c AS DECIMAL(10,0)) * m.lp) AS sm,
        |         CAST(SUM(db.c) AS BIGINT) AS mc
        |  FROM db JOIN model m USING (bg) GROUP BY 1, 2
        |), scored AS (
        |  SELECT d.doc_id, d.lang, p.m_lang,
        |         p.prior + COALESCE(sm, 0) +
        |           CAST(d.nb - COALESCE(mc, 0) AS DECIMAL(10,0)) * f.lp0
        |           AS score
        |  FROM doc_tot d
        |  CROSS JOIN priors p
        |  JOIN floors f USING (m_lang)
        |  LEFT JOIN matched m ON m.doc_id = d.doc_id AND m.m_lang = p.m_lang
        |), best AS (
        |  SELECT doc_id, lang, m_lang AS pred,
        |         ROW_NUMBER() OVER (PARTITION BY doc_id
        |                            ORDER BY score DESC, m_lang) AS rn
        |  FROM scored
        |)
        |SELECT lang, pred, CAST(COUNT(*) AS BIGINT) AS n
        |FROM best WHERE rn = 1
        |GROUP BY lang, pred ORDER BY lang, pred""".stripMargin,
    ) { (s, dir) =>
      nbLangIdConfusion(augmentedDocs(Tables(s, dir).documentsRebalanced))
    },

    // q257 — streaming quality-filter ingest (the q188 pattern applied
    // to the TRAINED model): the q250 filter is fitted ONCE before the
    // stream starts (an ingest pipeline loads its model at startup),
    // then each micro-batch of the 4-file docs feed derives its
    // mixed-quality form (docs + whitespace-stripped twins, so the
    // DROP path fires for real), scores it under the frozen weights,
    // and appends the keepers to a parquet sink inside foreachBatch.
    // The model is static and the twins are per-row-derivable, so
    // micro-batch boundaries cannot change the result — but a
    // lost/re-processed batch, drifted weights, or a sink bug all
    // break the hash against the from-scratch oracle (which re-runs
    // the whole training loop AND the scoring).
    QueryEntry.sql(
      "q257_stream_quality_filter",
      s"""WITH $gdChainSql, real AS (
         |  SELECT doc_id,
         |       ${featSql("       ")}
         |  FROM (SELECT doc_id, trim(lower(text)) AS tl,
         |               regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
         |        FROM (SELECT doc_id, text FROM documents
         |              UNION ALL
         |              SELECT -doc_id - 1, replace(text, ' ', '')
         |              FROM documents WHERE doc_id % 3 = 0) c) t
         |), scored AS (
         |  SELECT doc_id,
         |         CAST(ROUND(1.0/(1.0 + exp(-($zw)))
         |                    * 1000000.0, 0) AS BIGINT) AS s6
         |  FROM real, w3s
         |)
         |SELECT doc_id, s6 FROM scored WHERE s6 >= 500000
         |ORDER BY doc_id""".stripMargin,
    ) { (s, dir) =>
      graft.streaming.StreamingDocs.runQualityFilterToCompletion(s, dir)
    },

    // q258 — calibration of the TRAINED filter (q233's ECE machinery
    // pointed at a model this engine itself fits): bucket the q250
    // corpus by predicted-score decile and report per-bin volume, mean
    // predicted score, and observed clean fraction — the reliability
    // table a threshold decision reads. Bin edges are integer
    // comparisons on the 1e6-scaled score, so binning is exact.
    QueryEntry.sql(
      "q258_model_calibration",
      s"""WITH $gdChainSql, scored AS (
         |  SELECT CAST(y AS INTEGER) AS label,
         |         CAST(ROUND(1.0/(1.0 + exp(-($zw)))
         |                    * 1000000.0, 0) AS BIGINT) AS s6
         |  FROM feats, w3s
         |)
         |SELECT LEAST(CAST(s6 // 100000 AS INTEGER), 9) AS bin,
         |       CAST(COUNT(*) AS BIGINT) AS n,
         |       ROUND(CAST(SUM(s6) AS DOUBLE) / 1000000.0 / COUNT(*), 6)
         |         AS mean_pred,
         |       ROUND(SUM(label) * 1.0 / COUNT(*), 6) AS frac_clean
         |FROM scored GROUP BY 1 ORDER BY bin""".stripMargin,
    ) { (s, dir) =>
      val feats = graft.TransientCaches.persist(logregFeatures(
        corpusWithCorruptions(Tables(s, dir).documentsRebalanced)))
      val w = logregFit(feats)
      feats
        .select(col("y").cast(IntegerType).as("label"),
          round(sigmoid(zOf(w)) * lit(1e6), 0).cast(LongType).as("s6"))
        .groupBy(least(expr("s6 div 100000"), lit(9L)).cast(IntegerType)
          .as("bin"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("s6")).cast(DoubleType) / lit(1e6) / count(lit(1)), 6)
            .as("mean_pred"),
          round(sum(col("label")) * lit(1.0) / count(lit(1)), 6)
            .as("frac_clean"))
        .orderBy("bin")
    },

    // q264 — learning-rate sweep with held-out selection: the tuning
    // loop around q250's trained filter. Split the corpus by SOURCE
    // doc id (a corrupted twin always lands with its original — no
    // twin leakage across the split), train the 3-step GD at each
    // rate in {0.5, 2.0, 8.0} on the 4/5 train slice, and score the
    // 1/5 held-out slice: per rate, the fitted weights and the exact
    // held-out accuracy (integer ppm — no float division anywhere
    // near the gate). The oracle re-runs ALL THREE trainings and the
    // eval scoring from scratch; per-rate chains sit in isolated
    // UNION ALL subqueries (the q247 CTE-scoping pattern) over shared
    // MATERIALIZED train/eval feature frames.
    // Scale shape: the train/eval feature frames are built once
    // (persisted), each rate adds 3 gradient aggregates + 1 eval
    // aggregate — map-side-combined scalar rollups, nothing joins.
    QueryEntry.sql(
      "q264_lr_sweep",
      {
        def chain(rate: String): String =
          s"""SELECT * FROM (
             |  WITH g1 AS (
             |    SELECT ${gStepSql("0.0 + 0.0*x1 + 0.0*x2 + 0.0*x3")}
             |    FROM feats_tr
             |  ), w1c AS MATERIALIZED (
             |    SELECT ${wStepSql("", rate)}
             |    FROM g1, nn
             |  ), g2s AS (
             |    SELECT ${gStepSql(zw)}
             |    FROM feats_tr, w1c
             |  ), w2s AS MATERIALIZED (
             |    SELECT ${wStepSql("w1c", rate)}
             |    FROM g2s, w1c, nn
             |  ), g3s AS (
             |    SELECT ${gStepSql(zw)}
             |    FROM feats_tr, w2s
             |  ), w3s AS MATERIALIZED (
             |    SELECT ${wStepSql("w2s", rate)}
             |    FROM g3s, w2s, nn
             |  ), ev AS MATERIALIZED (
             |    SELECT y, CAST(ROUND(1.0/(1.0 + exp(-($zw)))
             |                         * 1000000.0, 0) AS BIGINT) AS s6
             |    FROM feats_ev, w3s
             |  )
             |  SELECT CAST($rate AS DOUBLE) AS rate,
             |         w3s.w0 AS w0, w3s.w1 AS w1, w3s.w2 AS w2, w3s.w3 AS w3,
             |         (SELECT CAST(COUNT(*) AS BIGINT) FROM ev) AS n_eval,
             |         (SELECT CAST(SUM(CASE WHEN (s6 >= 500000) = (y = 1.0)
             |                               THEN 1 ELSE 0 END) AS BIGINT)
             |          FROM ev) AS n_correct,
             |         (SELECT CAST(SUM(CASE WHEN (s6 >= 500000) = (y = 1.0)
             |                               THEN 1 ELSE 0 END) * 1000000
             |                 // COUNT(*) AS BIGINT)
             |          FROM ev) AS accuracy_ppm
             |  FROM w3s
             |)""".stripMargin
        s"""WITH corpus AS (
           |  SELECT doc_id, 1.0 AS y, text FROM documents
           |  UNION ALL
           |  SELECT -doc_id - 1, 0.0 AS y, replace(text, ' ', '')
           |  FROM documents WHERE doc_id % 3 = 0
           |), keyed AS (
           |  SELECT CASE WHEN doc_id < 0 THEN -doc_id - 1 ELSE doc_id END
           |           AS src, y, text
           |  FROM corpus
           |), feats_tr AS MATERIALIZED (
           |  SELECT y,
           |       ${featSql("       ")}
           |  FROM (SELECT y, trim(lower(text)) AS tl,
           |               regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
           |        FROM keyed WHERE src % 5 <> 0) t
           |), feats_ev AS MATERIALIZED (
           |  SELECT y,
           |       ${featSql("       ")}
           |  FROM (SELECT y, trim(lower(text)) AS tl,
           |               regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
           |        FROM keyed WHERE src % 5 = 0) t
           |), nn AS (SELECT COUNT(*) AS n FROM feats_tr)
           |${Seq("0.5", "2.0", "8.0").map(chain).mkString("\nUNION ALL\n")}
           |ORDER BY rate""".stripMargin
      },
    ) { (s, dir) =>
      lrSweepReport(Tables(s, dir).documentsRebalanced, Seq(0.5, 2.0, 8.0))
    },

    // q265 — model distillation under the oracle: the 3-feature
    // teacher (q250's fit) hard-labels the corpus at the 0.5 gate and
    // a 1-feature student (bias + stopword ratio) trains on those
    // labels with the same exact-gradient GD — the cheap-filter
    // distillation step a pipeline runs when the teacher is too
    // expensive to score 100 TB. Report: student weights, teacher/
    // student keep counts, and exact integer-ppm agreement. The
    // oracle re-runs BOTH trainings (teacher chain shared with
    // q250/q257/q258, student chain unrolled on top of it).
    QueryEntry.sql(
      "q265_distill",
      {
        val zs = "b0 + b1*x1"
        // inverse-frequency class weight, derived from the same exact
        // integer counts with the same double expression as the engine
        val wc = "CASE WHEN y = 1.0 THEN CAST(n AS DOUBLE) / (2.0 * CAST(np AS DOUBLE)) ELSE CAST(n AS DOUBLE) / (2.0 * CAST(n - np AS DOUBLE)) END"
        def sg(z: String): String =
          Seq("1.0", "x1").zipWithIndex.map { case (x, j) =>
            s"SUM(CAST(ROUND((y - 1.0/(1.0 + exp(-($z)))) * $x * ($wc) * 10000000.0, 0) AS BIGINT)) AS h$j"
          }.mkString(",\n       ")
        def sw(prev: String): String =
          (0 to 1).map { j =>
            val base = if (prev.isEmpty) "0.0" else s"$prev.b$j"
            s"ROUND($base + $StudentRate * (CAST(h$j AS DOUBLE) / 10000000.0 / n), 6) AS b$j"
          }.mkString(",\n       ")
        val keepS =
          s"CAST(ROUND(1.0/(1.0 + exp(-($zs))) * 1000000.0, 0) AS BIGINT) >= 500000"
        s"""WITH $gdChainSql, labeled AS MATERIALIZED (
           |  SELECT CASE WHEN CAST(ROUND(1.0/(1.0 + exp(-($zw)))
           |                             * 1000000.0, 0) AS BIGINT) >= 500000
           |              THEN 1.0 ELSE 0.0 END AS y,
           |         x1
           |  FROM feats, w3s
           |), snn AS (SELECT COUNT(*) AS n,
           |                  SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS np
           |           FROM labeled),
           |sg1 AS (
           |  SELECT ${sg("0.0 + 0.0*x1")}
           |  FROM labeled, snn
           |), sw1 AS MATERIALIZED (
           |  SELECT ${sw("")}
           |  FROM sg1, snn
           |), sg2 AS (
           |  SELECT ${sg(zs)}
           |  FROM labeled, sw1, snn
           |), sw2 AS MATERIALIZED (
           |  SELECT ${sw("sw1")}
           |  FROM sg2, sw1, snn
           |), sg3 AS (
           |  SELECT ${sg(zs)}
           |  FROM labeled, sw2, snn
           |), sw3 AS MATERIALIZED (
           |  SELECT ${sw("sw2")}
           |  FROM sg3, sw2, snn
           |), agree AS MATERIALIZED (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           |         CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT)
           |           AS n_teacher_keep,
           |         CAST(SUM(CASE WHEN $keepS THEN 1 ELSE 0 END) AS BIGINT)
           |           AS n_student_keep,
           |         CAST(SUM(CASE WHEN (y = 1.0) = ($keepS)
           |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
           |  FROM labeled, sw3
           |)
           |SELECT sw3.b0 AS student_b, sw3.b1 AS student_w1,
           |       n_docs, n_teacher_keep, n_student_keep, n_agree,
           |       CAST(n_agree * 1000000 // n_docs AS BIGINT) AS agree_ppm
           |FROM sw3, agree""".stripMargin
      },
    ) { (s, dir) =>
      distillReport(Tables(s, dir).documentsRebalanced)
    },

    // q291 — risk–coverage curve for the q250 filter (selective
    // classification, El-Yaniv & Wiener 2010): at confidence
    // thresholds τ ∈ {0.5 … 0.9}, the fraction of examples the model
    // is confident enough to decide (coverage) and its accuracy on
    // just those (selective accuracy) — the curve that sets the
    // human-review budget when the filter is allowed to abstain.
    // Confidence = max(s6, 1e6 − s6) on the integer score grid, so
    // every threshold test is exact. The oracle re-runs the FULL
    // unrolled training chain before sweeping. Scale: one scoring
    // pass + ×5 constant fan-out.
    QueryEntry.sql(
      "q291_risk_coverage",
      s"""WITH $gdChainSql, scored AS (
         |  SELECT CAST(y AS INTEGER) AS label,
         |         CAST(ROUND(1.0/(1.0 + exp(-($zw)))
         |                    * 1000000.0, 0) AS BIGINT) AS s6
         |  FROM feats, w3s
         |), sx AS (
         |  SELECT label, s6, GREATEST(s6, 1000000 - s6) AS conf,
         |         CASE WHEN s6 >= 500000 THEN 1 ELSE 0 END AS pred
         |  FROM scored
         |), nn2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM sx)
         |SELECT tau_pct, n_all,
         |       CAST(SUM(CASE WHEN conf >= tau_pct * 10000 THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_covered,
         |       ROUND(SUM(CASE WHEN conf >= tau_pct * 10000 THEN 1 ELSE 0 END)
         |             * 1.0 / n_all, 6) AS coverage,
         |       CAST(SUM(CASE WHEN conf >= tau_pct * 10000 AND pred = label
         |                THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |       ROUND(SUM(CASE WHEN conf >= tau_pct * 10000 AND pred = label
         |                  THEN 1 ELSE 0 END) * 1.0
         |             / SUM(CASE WHEN conf >= tau_pct * 10000 THEN 1 ELSE 0 END),
         |             6) AS sel_accuracy
         |FROM sx, nn2, (SELECT unnest([50, 60, 70, 80, 90]) AS tau_pct)
         |GROUP BY tau_pct, n_all ORDER BY tau_pct""".stripMargin,
    ) { (s, dir) =>
      val feats = graft.TransientCaches.persist(logregFeatures(corpusWithCorruptions(
        Tables(s, dir).documentsRebalanced)))
      val w = logregFit(feats)
      val sx = feats.select(col("y").cast(IntegerType).as("label"),
          round(sigmoid(zOf(w)) * lit(1e6), 0).cast(LongType).as("s6"))
        .select(col("label"), col("s6"),
          greatest(col("s6"), lit(1000000L) - col("s6")).as("conf"),
          when(col("s6") >= 500000L, 1).otherwise(0).as("pred"))
      val nn2 = sx.agg(count(lit(1)).cast(LongType).as("n_all"))
      val taus = s.range(1)
        .select(explode(typedlit(Seq(50, 60, 70, 80, 90))).as("tau_pct"))
      val cov = col("conf") >= col("tau_pct").cast(LongType) * 10000L
      sx.crossJoin(broadcast(nn2)).crossJoin(broadcast(taus))
        .groupBy("tau_pct", "n_all")
        .agg(sum(when(cov, 1L).otherwise(0L)).as("n_covered"),
          round(sum(when(cov, 1L).otherwise(0L)) * lit(1.0) / col("n_all"), 6)
            .as("coverage"),
          sum(when(cov && col("pred") === col("label"), 1L).otherwise(0L))
            .as("n_correct"),
          round(sum(when(cov && col("pred") === col("label"), 1L)
            .otherwise(0L)) * lit(1.0)
            / sum(when(cov, 1L).otherwise(0L)), 6).as("sel_accuracy"))
        .select(col("tau_pct"), col("n_all"), col("n_covered"),
          col("coverage"), col("n_correct"), col("sel_accuracy"))
        .orderBy("tau_pct")
    },

    // q292 — effective sample size under inverse-propensity weights
    // (the reweighting a pipeline applies AFTER a learned filter so
    // kept documents stop over-representing what the filter likes):
    // keepers get w = 1e6/s6 ∈ [1, 2], carried as 1e7-scaled LONGs
    // (exact, order-free — the q206 hot-loop pattern; the square sums
    // go through DECIMAL(38,0) since wl² × n outgrows a long); per
    // source: Σw, ESS = (Σw)²/Σw² (scale-free in the 1e7 factor), and
    // ESS/n — the design-effect number a statistician reads before
    // trusting downstream estimates. One scoring pass + one rollup.
    QueryEntry.sql(
      "q292_ess_weights",
      s"""WITH $gdChainSql, realsc AS (
         |  SELECT doc_id, source,
         |         CAST(ROUND(1.0/(1.0 + exp(-($zw)))
         |                    * 1000000.0, 0) AS BIGINT) AS s6
         |  FROM (SELECT doc_id, source,
         |       ${featSql("       ")}
         |        FROM (SELECT doc_id, source, trim(lower(text)) AS tl,
         |                     regexp_split_to_array(trim(lower(text)), '\\s+')
         |                       AS toks
         |              FROM documents) t) f, w3s
         |), kept AS (
         |  SELECT source,
         |         CAST(ROUND(10000000000000.0 / s6, 0) AS BIGINT) AS wl
         |  FROM realsc WHERE s6 >= 500000
         |)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |       ROUND(CAST(SUM(wl) AS DOUBLE) / 10000000.0, 6) AS sum_w,
         |       ROUND(CAST(SUM(wl) AS DOUBLE) * CAST(SUM(wl) AS DOUBLE)
         |             / CAST(SUM(CAST(wl AS HUGEINT) * wl) AS DOUBLE), 6)
         |         AS ess,
         |       ROUND(CAST(SUM(wl) AS DOUBLE) * CAST(SUM(wl) AS DOUBLE)
         |             / CAST(SUM(CAST(wl AS HUGEINT) * wl) AS DOUBLE)
         |             / COUNT(*), 6) AS ess_ratio
         |FROM kept GROUP BY source ORDER BY source""".stripMargin,
    ) { (s, dir) =>
      val docs = Tables(s, dir).documentsRebalanced
      val w = fittedWeights(s, dir)
      val sc = scoreDocs(docs, w)
        .join(docs.select("doc_id", "source"), "doc_id")
      val dec = DecimalType(38, 0)
      val kept = sc.filter(col("s6") >= 500000L)
        .select(col("source"),
          round(lit(10000000000000.0) / col("s6"), 0).cast(LongType).as("wl"))
      kept.groupBy("source")
        .agg(count(lit(1)).as("n_kept"),
          sum("wl").cast(LongType).as("swl"),
          sum(col("wl").cast(dec) * col("wl")).as("sw2"))
        .select(col("source"), col("n_kept"),
          round(col("swl").cast(DoubleType) / lit(1e7), 6).as("sum_w"),
          round(col("swl").cast(DoubleType) * col("swl").cast(DoubleType)
            / col("sw2").cast(DoubleType), 6).as("ess"),
          round(col("swl").cast(DoubleType) * col("swl").cast(DoubleType)
            / col("sw2").cast(DoubleType) / col("n_kept"), 6).as("ess_ratio"))
        .orderBy("source")
    },

    // q294 — group-fair acceptance thresholds (demographic-parity
    // post-processing of the q250 filter): per language, the smallest
    // score threshold whose acceptance rate does not exceed the
    // corpus-wide rate — every gate test is the exact integer
    // comparison cum·N ≤ K·n_l (no rate float ever decides), the
    // per-lang cumulative runs over the lang's DISTINCT score grid
    // (grid-bounded, never corpus-bounded). Report per lang: volume,
    // acceptance before/after, the chosen τ, and the shared global
    // rate — the table a fairness review signs off on.
    QueryEntry.sql(
      "q294_fair_thresholds",
      s"""WITH $gdChainSql, realsc AS (
         |  SELECT doc_id, lang,
         |         CAST(ROUND(1.0/(1.0 + exp(-($zw)))
         |                    * 1000000.0, 0) AS BIGINT) AS s6
         |  FROM (SELECT doc_id, lang,
         |       ${featSql("       ")}
         |        FROM (SELECT doc_id, lang, trim(lower(text)) AS tl,
         |                     regexp_split_to_array(trim(lower(text)), '\\s+')
         |                       AS toks
         |              FROM documents) t) f, w3s
         |), gl AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS nn,
         |         CAST(SUM(CASE WHEN s6 >= 500000 THEN 1 ELSE 0 END)
         |              AS BIGINT) AS kk
         |  FROM realsc
         |), hist AS (
         |  SELECT lang, s6, COUNT(*) AS c FROM realsc GROUP BY 1, 2
         |), cum AS (
         |  SELECT lang, s6,
         |         SUM(c) OVER (PARTITION BY lang ORDER BY s6 DESC) AS cumtop,
         |         SUM(c) OVER (PARTITION BY lang) AS n_l
         |  FROM hist
         |), tau AS (
         |  SELECT lang, CAST(MAX(n_l) AS BIGINT) AS n_docs,
         |         COALESCE(MIN(CASE WHEN cumtop * (SELECT nn FROM gl)
         |                              <= (SELECT kk FROM gl) * n_l
         |                      THEN s6 END), 1000001) AS tau
         |  FROM cum GROUP BY lang
         |)
         |SELECT r.lang, t.n_docs,
         |       CAST(SUM(CASE WHEN s6 >= 500000 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_before,
         |       ROUND(SUM(CASE WHEN s6 >= 500000 THEN 1 ELSE 0 END) * 1.0
         |             / t.n_docs, 6) AS rate_before,
         |       t.tau,
         |       CAST(SUM(CASE WHEN s6 >= t.tau THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_after,
         |       ROUND(SUM(CASE WHEN s6 >= t.tau THEN 1 ELSE 0 END) * 1.0
         |             / t.n_docs, 6) AS rate_after,
         |       ROUND((SELECT kk FROM gl) * 1.0 / (SELECT nn FROM gl), 6)
         |         AS global_rate
         |FROM realsc r JOIN tau t ON t.lang = r.lang
         |GROUP BY r.lang, t.n_docs, t.tau ORDER BY r.lang""".stripMargin,
    ) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables(s, dir).documentsRebalanced
      val w = fittedWeights(s, dir)
      val sc = graft.TransientCaches.persist(scoreDocs(docs, w)
        .join(docs.select("doc_id", "lang"), "doc_id"))
      val gl = sc.agg(count(lit(1)).cast(LongType).as("nn"),
        sum(when(col("s6") >= 500000L, 1L).otherwise(0L)).cast(LongType)
          .as("kk"))
      val hist = sc.groupBy("lang", "s6").agg(count(lit(1)).as("c"))
      val cum = hist.select(col("lang"), col("s6"),
        sum("c").over(Window.partitionBy("lang").orderBy(col("s6").desc))
          .as("cumtop"),
        sum("c").over(Window.partitionBy("lang")).as("n_l"))
      val tau = cum.crossJoin(broadcast(gl))
        .groupBy("lang")
        .agg(max("n_l").cast(LongType).as("n_docs"),
          coalesce(min(when(col("cumtop") * col("nn")
            <= col("kk") * col("n_l"), col("s6"))), lit(1000001L)).as("tau"))
      sc.join(tau, "lang").crossJoin(broadcast(gl))
        .groupBy("lang", "n_docs", "tau", "nn", "kk")
        .agg(sum(when(col("s6") >= 500000L, 1L).otherwise(0L)).as("n_before"),
          round(sum(when(col("s6") >= 500000L, 1L).otherwise(0L)) * lit(1.0)
            / col("n_docs"), 6).as("rate_before"),
          sum(when(col("s6") >= col("tau"), 1L).otherwise(0L)).as("n_after"),
          round(sum(when(col("s6") >= col("tau"), 1L).otherwise(0L)) * lit(1.0)
            / col("n_docs"), 6).as("rate_after"))
        .select(col("lang"), col("n_docs"), col("n_before"),
          col("rate_before"), col("tau"), col("n_after"), col("rate_after"),
          round(col("kk") * lit(1.0) / col("nn"), 6).as("global_rate"))
        .orderBy("lang")
    },

    // q296 — Platt recalibration of the q250 filter (the standard
    // post-hoc fix when a model's scores rank well but read badly as
    // probabilities): fit σ(a·ŝ + b) on the 1e6-grid scores with the
    // SAME exact-gradient machinery as q250 (10 GD steps at rate 16 —
    // measured ECE 0.281 → 0.058 at sf0.001; 3 steps at q250's rate 2
    // barely moved — 1e7-scaled
    // long gradient sums, 6dp weight rounding — both engines walk the
    // identical trajectory from a = 1, b = 0), then report the q258
    // reliability table per ORIGINAL decile with before/after
    // confidence and the two ECEs from integer gap sums (the q233
    // pattern). Scale: 3 map+2-scalar-agg passes + one binned rollup.
    QueryEntry.sql(
      "q296_platt_scaling",
      {
        val shat = "(s6 / 1000000.0)"
        def z(a: String, b: String) = s"$a * $shat + $b"
        def pg(k: Int, zExpr: String) =
          s""", pg$k AS (
             |  SELECT SUM(CAST(ROUND((y - 1.0/(1.0 + exp(-($zExpr))))
             |               * $shat * 10000000.0, 0) AS BIGINT)) AS ga,
             |         SUM(CAST(ROUND((y - 1.0/(1.0 + exp(-($zExpr))))
             |               * 10000000.0, 0) AS BIGINT)) AS gb
             |  FROM scored2${if (k > 1) s", pw${k - 1}" else ""}
             |)""".stripMargin
        def pw(k: Int, pa: String, pb: String) =
          s""", pw$k AS MATERIALIZED (
             |  SELECT ROUND($pa + $PlattRate * (CAST(ga AS DOUBLE)
             |                        / 10000000.0 / n), 6) AS a,
             |         ROUND($pb + $PlattRate * (CAST(gb AS DOUBLE)
             |                        / 10000000.0 / n), 6) AS b
             |  FROM pg$k, n2${if (k > 1) s", pw${k - 1}" else ""}
             |)""".stripMargin
        val iters = (1 to PlattIters).map { k =>
          val (pa, pb) = if (k == 1) ("1.0", "0.0")
            else (s"pw${k - 1}.a", s"pw${k - 1}.b")
          s"${pg(k, z(pa, pb))}${pw(k, pa, pb)}"
        }.mkString("\n           |".stripMargin)
        s"""WITH $gdChainSql, scored2 AS MATERIALIZED (
           |  SELECT y, CAST(y AS INTEGER) AS label,
           |         CAST(ROUND(1.0/(1.0 + exp(-($zw)))
           |                    * 1000000.0, 0) AS BIGINT) AS s6
           |  FROM feats, w3s
           |), n2 AS (SELECT COUNT(*) AS n FROM scored2)
           |$iters
           |, recal AS (
           |  SELECT label, s6,
           |         CAST(ROUND(1000000.0
           |             * (1.0/(1.0 + exp(-(pw$PlattIters.a * $shat
           |                                 + pw$PlattIters.b)))), 0)
           |              AS BIGINT) AS s6p
           |  FROM scored2, pw$PlattIters
           |), per AS (
           |  SELECT LEAST(CAST(s6 // 100000 AS INTEGER), 9) AS bin,
           |         COUNT(*) AS n, SUM(label) AS posb,
           |         SUM(CAST(s6 AS HUGEINT)) AS ss,
           |         SUM(CAST(s6p AS HUGEINT)) AS ssp,
           |         ABS(1000000 * CAST(SUM(label) AS HUGEINT)
           |             - SUM(CAST(s6 AS HUGEINT))) AS gapb,
           |         ABS(1000000 * CAST(SUM(label) AS HUGEINT)
           |             - SUM(CAST(s6p AS HUGEINT))) AS gapa
           |  FROM recal GROUP BY 1
           |), tot AS (
           |  SELECT SUM(n) AS nn, SUM(gapb) AS gbt, SUM(gapa) AS gat FROM per
           |)
           |SELECT bin, CAST(n AS BIGINT) AS n,
           |       ROUND(posb * 1.0 / n, 6) AS acc,
           |       ROUND(CAST(ss AS DOUBLE) / 1000000.0 / n, 6) AS conf_before,
           |       ROUND(CAST(ssp AS DOUBLE) / 1000000.0 / n, 6) AS conf_after,
           |       ROUND(CAST(gbt AS DOUBLE) / (1000000.0 * nn), 6)
           |         AS ece_before,
           |       ROUND(CAST(gat AS DOUBLE) / (1000000.0 * nn), 6)
           |         AS ece_after
           |FROM per, tot ORDER BY bin""".stripMargin
      },
    ) { (s, dir) =>
      val feats = graft.TransientCaches.persist(logregFeatures(
        corpusWithCorruptions(Tables(s, dir).documentsRebalanced)))
      val w = logregFit(feats)
      val scored = graft.TransientCaches.persist(feats.select(col("y"),
          col("y").cast(IntegerType).as("label"),
          round(sigmoid(zOf(w)) * lit(1e6), 0).cast(LongType).as("s6")))
      val n = scored.count().toDouble
      val shat = col("s6") / lit(1000000.0)
      var a = 1.0; var b = 0.0
      for (_ <- 1 to PlattIters) {
        val r = col("y") - sigmoid(lit(a) * shat + lit(b))
        val g = scored.select(
          sum(round(r * shat * lit(1e7), 0).cast(LongType)),
          sum(round(r * lit(1e7), 0).cast(LongType))).head()
        a = BigDecimal(a + PlattRate * (g.getLong(0).toDouble / 1e7 / n))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        b = BigDecimal(b + PlattRate * (g.getLong(1).toDouble / 1e7 / n))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      val dec = DecimalType(38, 0)
      val recal = scored.select(col("label"), col("s6"),
        round(lit(1000000.0)
          * (lit(1.0) / (lit(1.0) + exp(-(lit(a) * shat + lit(b))))), 0)
          .cast(LongType).as("s6p"))
      val per = recal
        .groupBy(least(expr("s6 div 100000").cast(IntegerType), lit(9))
          .as("bin"))
        .agg(count(lit(1)).as("n"), sum("label").as("posb"),
          sum(col("s6").cast(dec)).as("ss"),
          sum(col("s6p").cast(dec)).as("ssp"))
        .withColumn("gapb",
          abs(col("posb").cast(dec) * 1000000 - col("ss")))
        .withColumn("gapa",
          abs(col("posb").cast(dec) * 1000000 - col("ssp")))
      val tot = per.agg(sum("n").as("nn"), sum("gapb").as("gbt"),
        sum("gapa").as("gat"))
      per.crossJoin(broadcast(tot))
        .select(col("bin"), col("n").cast(LongType).as("n"),
          round(col("posb") * lit(1.0) / col("n"), 6).as("acc"),
          round(col("ss").cast(DoubleType) / lit(1000000.0) / col("n"), 6)
            .as("conf_before"),
          round(col("ssp").cast(DoubleType) / lit(1000000.0) / col("n"), 6)
            .as("conf_after"),
          round(col("gbt").cast(DoubleType) / (lit(1000000.0) * col("nn")), 6)
            .as("ece_before"),
          round(col("gat").cast(DoubleType) / (lit(1000000.0) * col("nn")), 6)
            .as("ece_after"))
        .orderBy("bin")
    },

    // q334 — training-data CARTOGRAPHY (Swayamdipta et al. 2020, run
    // exactly): score every corpus document under the weights of EACH
    // of q250's three GD steps, then map the corpus by per-doc
    // true-label confidence (mean over steps) and cross-step
    // variability — easy-to-learn / ambiguous / hard-to-learn regions,
    // the map a curation pipeline reads to find mislabeled or
    // hard-but-valuable data. Regions are RELATIVE, as in the paper
    // (top-tercile variability → ambiguous; of the rest, top-tercile
    // confidence → easy, bottom → hard, middle → medium): exact
    // integer NTILE(3) over (metric, doc_id) — rank ordering compares
    // integers with a unique tie-break, so the bucket gate holds no
    // float. Integer-exact dynamics: per-step scores are the house
    // 1e6-scaled BIGINTs; conf6 = floor-mean of the true-label scores
    // ((t1+t2+t3) div 3); dispersion is the mean-free integer form
    // v9 = Σ_k (3·t_k − S)² (= 9·Σ(t_k−mean)², no division before the
    // square). The oracle re-runs all three trainings via the shared
    // gd chain and re-derives every score and both rankings. Scale:
    // 3 scalar gradient rollups + one linear scoring pass + two
    // ordered tercile passes + a ≤8-key rollup; the corpus-wide NTILE
    // is the paper's own construction (a global ranking) — the 100 TB
    // form replaces it with approximate-quantile boundaries, the same
    // trade q58's packing note documents for its global running sum.
    QueryEntry.sql(
      "q334_train_cartography", {
        def sStep(a: String, k: Int) =
          s"""CAST(ROUND(1.0/(1.0 + exp(-($a.w0 + $a.w1*f.x1 + $a.w2*f.x2
             |                            + $a.w3*f.x3)))
             |           * 1000000.0, 0) AS BIGINT) AS s$k""".stripMargin
        s"""WITH $gdChainSql, sc AS (
           |  SELECT f.doc_id, f.y,
           |         ${sStep("a", 1)},
           |         ${sStep("b", 2)},
           |         ${sStep("c", 3)}
           |  FROM feats f, w1 a, w2s b, w3s c
           |), tr AS (
           |  SELECT doc_id, CAST(y AS INTEGER) AS label,
           |         CASE WHEN y = 1.0 THEN s1 ELSE 1000000 - s1 END AS t1,
           |         CASE WHEN y = 1.0 THEN s2 ELSE 1000000 - s2 END AS t2,
           |         CASE WHEN y = 1.0 THEN s3 ELSE 1000000 - s3 END AS t3
           |  FROM sc
           |), m AS (
           |  SELECT doc_id, label, (t1 + t2 + t3) // 3 AS conf6,
           |         (3*t1 - (t1+t2+t3))*(3*t1 - (t1+t2+t3))
           |         + (3*t2 - (t1+t2+t3))*(3*t2 - (t1+t2+t3))
           |         + (3*t3 - (t1+t2+t3))*(3*t3 - (t1+t2+t3)) AS v9
           |  FROM tr
           |), tiles AS (
           |  SELECT label, conf6, v9,
           |         NTILE(3) OVER (ORDER BY v9, doc_id) AS vtile,
           |         NTILE(3) OVER (ORDER BY conf6, doc_id) AS ctile
           |  FROM m
           |)
           |SELECT CASE WHEN vtile = 3 THEN 'ambiguous'
           |            WHEN ctile = 3 THEN 'easy'
           |            WHEN ctile = 1 THEN 'hard'
           |            ELSE 'medium' END AS region,
           |       label, CAST(COUNT(*) AS BIGINT) AS n,
           |       ROUND(SUM(conf6) * 1.0 / 1000000.0 / COUNT(*), 6)
           |         AS mean_conf,
           |       ROUND(CAST(SUM(v9) AS DOUBLE) / 27000000000000.0
           |             / COUNT(*), 6) AS mean_disp2
           |FROM tiles GROUP BY 1, 2 ORDER BY region, label""".stripMargin
      },
    ) { (s, dir) =>
      val feats = graft.TransientCaches.persist(
        corpusWithCorruptions(Tables(s, dir).documentsRebalanced)
          .select(Seq(col("doc_id"), col("y")) ++ featureCols: _*))
      val steps = logregFitSteps(feats)
      val sCols = steps.zipWithIndex.map { case (w, i) =>
        round(sigmoid(zOf(w)) * lit(1e6), 0).cast(LongType).as(s"s${i + 1}")
      }
      val scored = feats.select(Seq(col("doc_id"), col("y")) ++ sCols: _*)
      val tCols = (1 to LrIters).map { k =>
        when(col("y") === 1.0, col(s"s$k"))
          .otherwise(lit(1000000L) - col(s"s$k")).as(s"t$k")
      }
      val tr = scored.select(
        Seq(col("doc_id"), col("y").cast(IntegerType).as("label")) ++ tCols: _*)
      val sSum = col("t1") + col("t2") + col("t3")
      def dv(k: Int) = lit(3L) * col(s"t$k") - sSum
      val m = tr.select(col("doc_id"), col("label"),
        expr("(t1 + t2 + t3) div 3").as("conf6"),
        ((dv(1) * dv(1)) + (dv(2) * dv(2)) + (dv(3) * dv(3))).as("v9"))
      import org.apache.spark.sql.expressions.Window
      val tiles = m.select(col("label"), col("conf6"), col("v9"),
        ntile(3).over(Window.orderBy(col("v9"), col("doc_id"))).as("vtile"),
        ntile(3).over(Window.orderBy(col("conf6"), col("doc_id"))).as("ctile"))
      val dec38 = DecimalType(38, 0)
      tiles.select(
        when(col("vtile") === 3, "ambiguous")
          .when(col("ctile") === 3, "easy")
          .when(col("ctile") === 1, "hard")
          .otherwise("medium").as("region"),
        col("label"), col("conf6"), col("v9"))
        .groupBy(col("region"), col("label"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("conf6").cast(dec38)) * lit(1.0) / lit(1e6)
            / count(lit(1)), 6).as("mean_conf"),
          round(sum(col("v9").cast(dec38)).cast(DoubleType) / lit(27e12)
            / count(lit(1)), 6).as("mean_disp2"))
        .orderBy("region", "label")
    },
  )

  /** The q265 student fit: 2-parameter (bias, x1) GD on TEACHER hard
    * labels — same 1e7-scaled exact-gradient machinery as
    * [[logregFit]], same step count and rate.
    */
  def distillFit(feats: DataFrame): Array[Double] = {
    val cnt = feats.agg(count(lit(1)),
      sum(when(col("y") === 1.0, 1L).otherwise(0L))).head()
    val n = cnt.getLong(0).toDouble
    // balanced logistic loss: teacher keeps are the large majority, so
    // an unweighted fit sprints the bias positive and degenerates to
    // keep-all; inverse-frequency class weights zero the initial bias
    // gradient and let the x1 signal set the boundary. Both engines
    // derive the weights from the same exact integer counts with the
    // same double expression.
    val wpos = n / (2.0 * cnt.getLong(1).toDouble)
    val wneg = n / (2.0 * (cnt.getLong(0) - cnt.getLong(1)).toDouble)
    val w = Array(0.0, 0.0)
    val xs = Seq(lit(1.0), col("x1"))
    val wc = when(col("y") === 1.0, lit(wpos)).otherwise(lit(wneg))
    for (_ <- 1 to LrIters) {
      val z = lit(w(0)) + lit(w(1)) * col("x1")
      val r = col("y") - sigmoid(z)
      val g = feats.select(xs.map(x =>
        sum(round(r * x * wc * lit(1e7), 0).cast(LongType))): _*).head()
      for (j <- 0 to 1)
        w(j) = BigDecimal(w(j) + StudentRate * (g.getLong(j).toDouble / 1e7 / n))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    w
  }

  /** The q265 engine path: teacher fit → hard labels → student fit →
    * one-row agreement report (all counts exact integers, weights 6dp).
    */
  def distillReport(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val MemOnly = org.apache.spark.storage.StorageLevel.MEMORY_ONLY
    val feats =
      graft.TransientCaches.persist(logregFeatures(corpusWithCorruptions(docs)), MemOnly)
    val tw = logregFit(feats)
    // teacher hard label per row, carried WITH x1 so the student frame
    // is one projection of the same persisted features
    val labeled = graft.TransientCaches.persist(feats.select(
      when(round(sigmoid(zOf(tw)) * lit(1e6), 0).cast(LongType) >= 500000L,
        lit(1.0)).otherwise(lit(0.0)).as("y"),
      col("x1")), MemOnly)
    val sw = distillFit(labeled)
    val sKeep = round((lit(1.0) / (lit(1.0) +
      exp(-(lit(sw(0)) + lit(sw(1)) * col("x1"))))) * lit(1e6), 0)
      .cast(LongType) >= 500000L
    val rpt = labeled.agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("n_teacher_keep"),
      sum(when(sKeep, 1L).otherwise(0L)).as("n_student_keep"),
      sum(when((col("y") === 1.0) === sKeep, 1L).otherwise(0L)).as("n_agree"))
      .head()
    graft.TransientCaches.unpersist(feats)
    graft.TransientCaches.unpersist(labeled)
    Seq((sw(0), sw(1), rpt.getLong(0), rpt.getLong(1), rpt.getLong(2),
      rpt.getLong(3), rpt.getLong(3) * 1000000L / rpt.getLong(0)))
      .toDF("student_b", "student_w1", "n_docs", "n_teacher_keep",
        "n_student_keep", "n_agree", "agree_ppm")
  }

  /** The q264 engine path: shared persisted train/eval feature frames,
    * one [[logregFit]] per rate, exact integer-ppm held-out accuracy.
    */
  def lrSweepReport(docs: DataFrame, rates: Seq[Double]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val MemOnly = org.apache.spark.storage.StorageLevel.MEMORY_ONLY
    val keyed = corpusWithCorruptions(docs).withColumn("src",
      when(col("doc_id") < 0, -col("doc_id") - lit(1L)).otherwise(col("doc_id")))
    val trF = graft.TransientCaches.persist(
      logregFeatures(keyed.filter(pmod(col("src"), lit(5)) =!= 0)), MemOnly)
    val evF = graft.TransientCaches.persist(
      logregFeatures(keyed.filter(pmod(col("src"), lit(5)) === 0)), MemOnly)
    // all rates fitted in the same GD-step jobs, and all rates' held-out
    // accuracies in ONE eval pass (r15 — each was a separate job chain)
    val fitted = logregFitStepsMulti(trF, rates.sorted).map {
      case (rate, steps) => rate -> steps.last
    }
    val okCols = fitted.flatMap { case (_, w) =>
      val s6 = round(sigmoid(zOf(w)) * lit(1e6), 0).cast(LongType)
      val correct = (s6 >= 500000L) === (col("y") === 1.0)
      Seq(sum(when(correct, 1L).otherwise(0L)))
    }
    val ev = evF.agg(count(lit(1)), okCols: _*).head()
    val nEval = ev.getLong(0)
    val rows = fitted.zipWithIndex.map { case ((rate, w), i) =>
      val ok = ev.getLong(i + 1)
      (rate, w(0), w(1), w(2), w(3), nEval, ok, ok * 1000000L / nEval)
    }
    graft.TransientCaches.unpersist(trF)
    graft.TransientCaches.unpersist(evF)
    rows.toDF("rate", "w0", "w1", "w2", "w3", "n_eval", "n_correct",
      "accuracy_ppm").orderBy("rate")
  }
}
