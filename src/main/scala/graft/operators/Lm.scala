package graft.operators

import graft.{QueryEntry, Tables}
import graft.functions.GraftFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Language-model quality gates beyond q173's add-one bigram LM: the
  * interpolated Kneser–Ney estimator (the smoothing KenLM/CCNet
  * actually ship) scored on a held-out split, and the CCNet
  * head/middle/tail perplexity bucketing that decides which third of a
  * crawl is worth keeping.
  *
  * Determinism follows the q160/q173 pattern: all sufficient
  * statistics (bigram counts, continuation counts, vocabulary size)
  * are exact integers; each DISTINCT scored bigram pays ONE `ln`
  * rounded at 6 dp into DECIMAL(18,6), weighted sums multiply by a
  * NARROW DECIMAL(10,0) count (the q235 precision-cap lesson), and
  * per-doc averages are re-discretized to a 1e4 grid before any
  * global ordering (the q232 grid precedent) so cross-engine float
  * drift cannot move a document across a bucket boundary.
  *
  * Scale shape: model fitting is grouped counts over train bigrams
  * (map-side combined, distinct-bigram-sized outputs); scoring is a
  * bigram-keyed equi-join (AQE may broadcast the model when it fits —
  * never forced, the vocabulary outgrows any driver at 100 TB); the
  * q275 tercile cutoffs come from a cumulative window over the
  * 1e4-GRID histogram — grid-bounded, never corpus-bounded.
  */
object Lm {

  private val D = 0.75 // absolute discount
  private val Lambda = 0.9 // floor interpolation weight
  private val D6 = DecimalType(18, 6)
  private val D7 = DecimalType(18, 7)

  /** (doc_id, source, w1, w2) token bigrams with the q69 split bucket. */
  private def bigramsWithSplit(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"),
        TextAnalysis.tokens(col("text")).as("t"),
        (shiftrightunsigned(GraftFunctions.splitmix64(col("doc_id")), 54)
          < Winnow.SplitTrainLt).as("is_train"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("source"), col("is_train"), col("t"),
        explode(sequence(lit(1), size(col("t")) - 1)).as("i"))
      .select(col("doc_id"), col("source"), col("is_train"),
        element_at(col("t"), col("i")).as("w1"),
        element_at(col("t"), col("i") + 1).as("w2"))

  /** Interpolated Kneser–Ney bigram scores of the held-out (val+test)
    * split under the model fitted on the train split, rolled up per
    * source: P_KN(w|v) = max(c(vw)−D,0)/c(v) + D·N1+(v·)/c(v)·Pcont(w)
    * with Pcont(w) = N1+(·w)/|bigrams|, backoff to Pcont for unseen
    * contexts, and a (1−λ)/(V+1) uniform floor so every held-out
    * bigram has finite log-probability.
    */
  def knHeldOut(docs: DataFrame): DataFrame = {
    val bg = graft.TransientCaches.persist(bigramsWithSplit(docs))
    val c12 = graft.TransientCaches.persist(bg.filter(col("is_train"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12")))
    val ctx = c12.groupBy("w1")
      .agg(sum("c12").as("c1"), count(lit(1)).as("n1f"))
    val bwd = c12.groupBy("w2").agg(count(lit(1)).as("n1b"))
    val scal = c12.agg(count(lit(1)).as("dtot")).crossJoin(
      c12.select(col("w1").as("tok")).union(c12.select(col("w2")))
        .distinct().agg(count(lit(1)).as("v")))
    val evalPairs = bg.filter(!col("is_train"))
      .groupBy("source", "w1", "w2").agg(count(lit(1)).as("ce"))
    val pcont = coalesce(col("n1b"), lit(0L)).cast(DoubleType) / col("dtot")
    val pkn = when(col("c1").isNotNull,
      greatest(coalesce(col("c12"), lit(0L)) - lit(D), lit(0.0)) / col("c1")
        + lit(D) * col("n1f") / col("c1") * pcont)
      .otherwise(pcont)
    val pfinal = lit(Lambda) * pkn + lit(1.0 - Lambda) / (col("v") + lit(1.0))
    val dp = evalPairs.select("w1", "w2").distinct()
      .join(c12, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .join(bwd, Seq("w2"), "left")
      .crossJoin(broadcast(scal))
      .select(col("w1"), col("w2"), col("c12").isNotNull.as("seen"),
        round(log(pfinal), 6).cast(D6).as("lp"))
    evalPairs.join(dp, Seq("w1", "w2"))
      .groupBy("source")
      .agg(sum("ce").as("n_bigrams"), count(lit(1)).as("n_pairs"),
        sum(when(!col("seen"), 1L).otherwise(0L)).as("n_unseen_pairs"),
        sum(col("ce").cast(DecimalType(10, 0)) * col("lp")).as("slp"))
      .select(col("source"), col("n_bigrams").cast(LongType).as("n_bigrams"),
        col("n_pairs").cast(LongType).as("n_pairs"),
        col("n_unseen_pairs").cast(LongType).as("n_unseen_pairs"),
        col("slp").cast(DoubleType).as("sum_logprob"),
        (col("slp").cast(DoubleType) / col("n_bigrams")).as("avg_logprob"))
      .orderBy("source")
  }

  private val knSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, source,
       |         regexp_split_to_array(trim(lower(text)), '\\s+') AS t,
       |         (${Hll.splitmixSqlFor("doc_id")}) >> 54 < ${Winnow.SplitTrainLt}
       |           AS is_train
       |  FROM documents
       |  WHERE len(regexp_split_to_array(trim(lower(text)), '\\s+')) >= 2
       |), bg AS (
       |  SELECT doc_id, source, is_train, t[i] AS w1, t[i + 1] AS w2
       |  FROM (SELECT doc_id, source, is_train, t,
       |               unnest(generate_series(1, len(t) - 1)) AS i
       |        FROM tok)
       |), c12 AS MATERIALIZED (
       |  SELECT w1, w2, COUNT(*) AS c12 FROM bg WHERE is_train GROUP BY 1, 2
       |), ctx AS (
       |  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1, COUNT(*) AS n1f
       |  FROM c12 GROUP BY 1
       |), bwd AS (SELECT w2, COUNT(*) AS n1b FROM c12 GROUP BY 1),
       |scal AS (
       |  SELECT (SELECT COUNT(*) FROM c12) AS dtot,
       |         (SELECT COUNT(*) FROM (SELECT w1 AS tok FROM c12
       |                                UNION SELECT w2 FROM c12)) AS v
       |), ep AS MATERIALIZED (
       |  SELECT source, w1, w2, COUNT(*) AS ce
       |  FROM bg WHERE NOT is_train GROUP BY 1, 2, 3
       |), dp AS (
       |  SELECT d.w1, d.w2, c12.c12 IS NOT NULL AS seen,
       |         CAST(ROUND(ln(
       |           $Lambda * (CASE WHEN ctx.c1 IS NOT NULL
       |             THEN GREATEST(COALESCE(c12.c12, 0) - $D, 0.0) / ctx.c1
       |                  + $D * ctx.n1f / ctx.c1
       |                    * (CAST(COALESCE(bwd.n1b, 0) AS DOUBLE) / scal.dtot)
       |             ELSE CAST(COALESCE(bwd.n1b, 0) AS DOUBLE) / scal.dtot END)
       |           + ${1.0 - Lambda} / (scal.v + 1.0)), 6) AS DECIMAL(18,6)) AS lp
       |  FROM (SELECT DISTINCT w1, w2 FROM ep) d
       |  LEFT JOIN c12 ON c12.w1 = d.w1 AND c12.w2 = d.w2
       |  LEFT JOIN ctx ON ctx.w1 = d.w1
       |  LEFT JOIN bwd ON bwd.w2 = d.w2, scal
       |)
       |SELECT source, CAST(SUM(ce) AS BIGINT) AS n_bigrams,
       |       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |       CAST(SUM(CASE WHEN NOT seen THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_unseen_pairs,
       |       CAST(SUM(CAST(ce AS DECIMAL(10,0)) * lp) AS DOUBLE) AS sum_logprob,
       |       CAST(SUM(CAST(ce AS DECIMAL(10,0)) * lp) AS DOUBLE) / SUM(ce)
       |         AS avg_logprob
       |FROM ep JOIN dp USING (w1, w2)
       |GROUP BY source ORDER BY source""".stripMargin

  private val Grid = 10000L // 1e4 per-doc score grid for bucketing

  /** CCNet-style head/middle/tail bucketing (Wenzek et al. 2020): each
    * document's q173 average bigram log-prob is discretized to the 1e4
    * grid, tercile cutoffs are exact ranks over the grid HISTOGRAM
    * (ceil(N/3), ceil(2N/3)), and the report is the per-(bucket,
    * source) doc count and mean score — the table a curator reads to
    * decide which sources fill the head.
    */
  def perplexityBuckets(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val per = Winnow.bigramLogProb(
      graft.sources.TokenizedCorpus.tokens(spark, dir))
    val src = Tables(spark, dir).documents.select("doc_id", "source")
    // r14 optimization (guide §5): `scored` feeds THREE consumers (the
    // grid histogram, the exact total, the final bucket rollup) and
    // was recomputed per consumer — each recompute re-ran the whole
    // model-fit + scoring join chain (measured: nine ~10 s stages all
    // re-reading the same 2.8 MB exchange at sf0.1). One doc-sized
    // persist (|docs| rows) collapses them to a single pass.
    val scored = graft.TransientCaches.persist(per
      .select(col("doc_id"),
        round(col("avg_logprob") * Grid, 0).cast(LongType).as("si"),
        round(col("avg_logprob"), 7).cast(D7).as("a7"))
      .join(src, "doc_id"))
    val hist = scored.groupBy("si").agg(count(lit(1)).as("cnt"))
    // cumulative over the GRID histogram (bounded frame — class doc)
    val cum = hist.withColumn("cum", sum("cnt").over(Window.orderBy("si")))
    val tot = scored.agg(count(lit(1)).as("nn"))
    val cuts = cum.crossJoin(broadcast(tot))
      .agg(min(when(col("cum") >= expr("(nn + 2) div 3"), col("si"))).as("cut1"),
        min(when(col("cum") >= expr("(2 * nn + 2) div 3"), col("si"))).as("cut2"))
    scored.crossJoin(broadcast(cuts))
      .select(col("source"), col("a7"),
        when(col("si") <= col("cut1"), "tail")
          .when(col("si") <= col("cut2"), "middle")
          .otherwise("head").as("bucket"))
      .groupBy("bucket", "source")
      .agg(count(lit(1)).as("n_docs"), sum("a7").as("sa"))
      .select(col("bucket"), col("source"),
        col("n_docs").cast(LongType).as("n_docs"),
        round(col("sa").cast(DoubleType) / col("n_docs"), 6).as("mean_logprob"))
      .orderBy("bucket", "source")
  }

  private val bucketsSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
       |  FROM documents
       |), bg AS (
       |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
       |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
       |        FROM tok)
       |), c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
       |ctx AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1),
       |vv AS (SELECT COUNT(DISTINCT tt) AS v
       |       FROM (SELECT unnest(t) AS tt FROM tok)),
       |model AS (
       |  SELECT c12.w1, c12.w2,
       |         CAST(ROUND(ln((c12 + 1.0) / (c1 + v)), 6) AS DECIMAL(18,6)) AS lp
       |  FROM c12 JOIN ctx USING (w1), vv
       |), per AS MATERIALIZED (
       |  SELECT doc_id,
       |         CAST(ROUND((CAST(SUM(lp) AS DOUBLE) / COUNT(*)) * $Grid, 0)
       |              AS BIGINT) AS si,
       |         CAST(ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 7)
       |              AS DECIMAL(18,7)) AS a7
       |  FROM bg JOIN model USING (w1, w2)
       |  GROUP BY doc_id
       |), hist AS (
       |  SELECT si, COUNT(*) AS cnt FROM per GROUP BY 1
       |), cum AS (
       |  SELECT si, SUM(cnt) OVER (ORDER BY si) AS cum FROM hist
       |), tot AS (SELECT COUNT(*) AS nn FROM per),
       |cuts AS (
       |  SELECT MIN(CASE WHEN cum >= (nn + 2) // 3 THEN si END) AS cut1,
       |         MIN(CASE WHEN cum >= (2 * nn + 2) // 3 THEN si END) AS cut2
       |  FROM cum, tot
       |)
       |SELECT CASE WHEN si <= cut1 THEN 'tail'
       |            WHEN si <= cut2 THEN 'middle' ELSE 'head' END AS bucket,
       |       source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |       ROUND(CAST(SUM(a7) AS DOUBLE) / COUNT(*), 6) AS mean_logprob
       |FROM per
       |JOIN (SELECT doc_id, source FROM documents) USING (doc_id), cuts
       |GROUP BY 1, 2 ORDER BY bucket, source""".stripMargin

  /** q293's generated oracle SQL (the three-point scaling curve) —
    * factored out so q315's scaling-law FIT can embed the identical
    * curve derivation as a subquery.
    */
  private[operators] def scalingCurveSql: String = {
    val base =
      s"""WITH tok AS (
         |  SELECT doc_id,
         |         regexp_split_to_array(trim(lower(text)), '\\s+') AS t,
         |         (${Hll.splitmixSqlFor("doc_id")}) >> 54
         |           < ${Winnow.SplitTrainLt} AS is_train,
         |         (${Hll.splitmixSqlFor("(doc_id + 777)")}) >> 54 AS z2
         |  FROM documents
         |  WHERE len(regexp_split_to_array(trim(lower(text)), '\\s+')) >= 2
         |), bg AS MATERIALIZED (
         |  SELECT doc_id, is_train, z2, t[i] AS w1, t[i + 1] AS w2
         |  FROM (SELECT doc_id, is_train, z2, t,
         |               unnest(generate_series(1, len(t) - 1)) AS i
         |        FROM tok)
         |), ep AS MATERIALIZED (
         |  SELECT w1, w2, COUNT(*) AS ce FROM bg WHERE NOT is_train
         |  GROUP BY 1, 2
         |)""".stripMargin
    val frac = Seq(25 -> 256, 50 -> 512, 100 -> 1024).map { case (p, z) =>
      s""", c$p AS MATERIALIZED (
         |  SELECT w1, w2, COUNT(*) AS c12 FROM bg
         |  WHERE is_train AND z2 < $z GROUP BY 1, 2
         |), x$p AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1
         |           FROM c$p GROUP BY 1),
         |v$p AS (SELECT COUNT(*) AS v FROM (SELECT w1 FROM c$p
         |                                   UNION SELECT w2 FROM c$p)),
         |s$p AS (
         |  SELECT $p AS fraction_pct,
         |         (SELECT CAST(SUM(c12) AS BIGINT) FROM c$p)
         |           AS n_train_bigrams,
         |         (SELECT CAST(v AS BIGINT) FROM v$p) AS vocab,
         |         CAST(SUM(ce) AS BIGINT) AS n_eval_bigrams,
         |         CAST(SUM(CAST(ce AS DECIMAL(10,0))
         |              * CAST(ROUND(ln((COALESCE(c12, 0) + 1.0)
         |                              / (COALESCE(c1, 0) + v)), 6)
         |                     AS DECIMAL(18,6))) AS DOUBLE)
         |           / SUM(ce) AS avg_logprob
         |  FROM ep
         |  LEFT JOIN c$p USING (w1, w2)
         |  LEFT JOIN x$p USING (w1), v$p
         |)""".stripMargin
    }.mkString
    s"""$base$frac
       |SELECT * FROM s25 UNION ALL SELECT * FROM s50
       |UNION ALL SELECT * FROM s100 ORDER BY fraction_pct""".stripMargin
  }

  /** q293's engine side — the (fraction, tokens, vocab, avg_logprob)
    * curve frame; q315 fits the log-log line over it.
    */
  private[operators] def scalingCurve(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
  val tok = Tables(s, dir).documentsRebalanced
    .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"),
      (shiftrightunsigned(GraftFunctions.splitmix64(col("doc_id")), 54)
        < Winnow.SplitTrainLt).as("is_train"),
      shiftrightunsigned(
        GraftFunctions.splitmix64(col("doc_id") + lit(777L)), 54).as("z2"))
    .filter(size(col("t")) >= 2)
  val bg = graft.TransientCaches.persist(tok
    .select(col("doc_id"), col("is_train"), col("z2"), col("t"),
      explode(sequence(lit(1), size(col("t")) - 1)).as("i"))
    .select(col("doc_id"), col("is_train"), col("z2"),
      element_at(col("t"), col("i")).as("w1"),
      element_at(col("t"), col("i") + 1).as("w2")))
  val ep = graft.TransientCaches.persist(bg.filter(!col("is_train"))
    .groupBy("w1", "w2").agg(count(lit(1)).as("ce")))
  val parts = Seq(25 -> 256L, 50 -> 512L, 100 -> 1024L).map { case (p, z) =>
    val c = graft.TransientCaches.persist(bg.filter(col("is_train") && col("z2") < z)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12")))
    val x = c.groupBy("w1").agg(sum("c12").cast(LongType).as("c1"))
    val v = c.select(col("w1")).union(c.select(col("w2")))
      .distinct().agg(count(lit(1)).as("v"))
    val tb = c.agg(sum("c12").cast(LongType).as("ntb"))
    val lp = round(log((coalesce(col("c12"), lit(0L)) + lit(1.0))
      / (coalesce(col("c1"), lit(0L)) + col("v"))), 6).cast(D6)
    ep.join(c, Seq("w1", "w2"), "left")
      .join(x, Seq("w1"), "left")
      .crossJoin(broadcast(v)).crossJoin(broadcast(tb))
      .select(col("ce"), col("ntb"), col("v"),
        (col("ce").cast(DecimalType(10, 0)) * lp).as("wlp"))
      .groupBy("ntb", "v")
      .agg(sum("ce").cast(LongType).as("n_eval_bigrams"),
        sum("wlp").as("slp"))
      .select(lit(p).as("fraction_pct"),
        col("ntb").as("n_train_bigrams"),
        col("v").cast(LongType).as("vocab"), col("n_eval_bigrams"),
        (col("slp").cast(DoubleType) / col("n_eval_bigrams"))
          .as("avg_logprob"))
  }
  parts.reduce(_ union _).orderBy("fraction_pct")
  }

  val entries: Seq[QueryEntry] = Seq(
    // q274 — interpolated Kneser–Ney held-out scoring; DuckDB refits
    // the full model independently (bigram/context/continuation
    // counts, vocabulary, discount, floor) and re-scores every
    // held-out bigram — a drifted count or a missed backoff branch
    // breaks the hash.
    QueryEntry.sql("q274_kneser_ney", knSql) { (s, dir) =>
      knHeldOut(Tables(s, dir).documentsRebalanced)
    },

    // q275 — head/middle/tail perplexity terciles; DuckDB re-derives
    // per-doc scores, the grid histogram, the exact rank cutoffs, and
    // the bucket×source rollup.
    QueryEntry.sql("q275_perplexity_buckets", bucketsSql) { (s, dir) =>
      perplexityBuckets(s, dir)
    },

    // q282 — Good–Turing frequency smoothing readout (the other
    // classic LM smoother, and the standard unseen-mass estimate a
    // vocabulary-coverage report should carry): counts-of-counts N_r
    // over word TRIGRAM frequencies (the fixture vocabulary is 31 high-
    // frequency tokens, so unigram counts have no rare tail; trigrams
    // carry the Zipf tail GT exists for), adjusted counts
    // r* = (r+1)·N_{r+1}/N_r for r ≤ 5, each count class's share of
    // the corpus, and the singleton-derived unseen mass P0 = N_1/N on
    // every row. All sufficient statistics are exact integers from two
    // grouped counts (term → r, r → N_r); the only floats are the two
    // final divisions. Scale: token-keyed count + count-of-count
    // rollup — one shuffle wide at any corpus size.
    QueryEntry.sql(
      "q282_good_turing",
      """WITH tok AS (
        |  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents
        |), tg AS (
        |  SELECT t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS g
        |  FROM (SELECT t, unnest(generate_series(1, len(t) - 2)) AS i FROM tok)
        |), tc AS (SELECT g, COUNT(*) AS r FROM tg GROUP BY 1),
        |nn AS (SELECT CAST(SUM(r) AS BIGINT) AS n FROM tc),
        |coc AS (SELECT r, COUNT(*) AS nr FROM tc GROUP BY 1)
        |SELECT a.r, CAST(a.nr AS BIGINT) AS n_r,
        |       ROUND((a.r + 1) * CAST(COALESCE(b.nr, 0) AS DOUBLE) / a.nr, 6)
        |         AS r_star,
        |       ROUND(a.r * CAST(a.nr AS DOUBLE) / n, 6) AS prob_mass,
        |       ROUND((SELECT CAST(nr AS DOUBLE) FROM coc WHERE r = 1) / n, 6)
        |         AS p0_unseen
        |FROM coc a LEFT JOIN coc b ON b.r = a.r + 1, nn
        |WHERE a.r <= 5 ORDER BY a.r""".stripMargin,
    ) { (s, dir) =>
      val tc = Tables(s, dir).documentsRebalanced
        .select(TextAnalysis.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 3)
        .select(col("t"),
          explode(sequence(lit(1), size(col("t")) - 2)).as("i"))
        .select(concat(element_at(col("t"), col("i")), lit(" "),
          element_at(col("t"), col("i") + 1), lit(" "),
          element_at(col("t"), col("i") + 2)).as("g"))
        .groupBy("g").agg(count(lit(1)).as("r"))
      val nn = tc.agg(sum("r").cast(LongType).as("n"))
      val coc = tc.groupBy("r").agg(count(lit(1)).as("nr"))
      // Global aggregate (not a filter) so n1 is ALWAYS one row: when the
      // corpus has no singleton trigrams the sum is NULL and p0_unseen
      // rounds to NULL — exactly what DuckDB's scalar subquery
      // `(SELECT nr FROM coc WHERE r = 1)` yields, instead of the
      // crossJoin-with-empty collapse to zero rows.
      val n1 = coc.agg(sum(when(col("r") === 1, col("nr"))).as("nr1"))
      val b = coc.select((col("r") - 1).as("r"), col("nr").as("nr_next"))
      coc.filter(col("r") <= 5)
        .join(b, Seq("r"), "left")
        .crossJoin(broadcast(nn)).crossJoin(broadcast(n1))
        .select(col("r"), col("nr").cast(LongType).as("n_r"),
          round((col("r") + 1) * coalesce(col("nr_next"), lit(0L))
            .cast(DoubleType) / col("nr"), 6).as("r_star"),
          round(col("r") * col("nr").cast(DoubleType) / col("n"), 6)
            .as("prob_mass"),
          round(col("nr1").cast(DoubleType) / col("n"), 6).as("p0_unseen"))
        .orderBy("r")
    },

    // q283 — watermark detection (Kirchenbauer et al. 2023's green-list
    // z-test, the screen a pipeline runs for synthetic-text
    // contamination): a token is "green" iff the low bit of its
    // md5-60bit fingerprint is 0; per doc z = (2g − n)/√n. The fixture
    // has no watermarked text, so docs with doc_id % 17 = 0 are PLANTED
    // as watermarked — their trial set is the green tokens only
    // (exactly what a green-list sampler emits), giving z = √g by
    // construction (the q63/q201 planted-input precedent, applied to
    // counts so no text is materialized). Report per (source, planted):
    // doc count, order-free mean z, and the fraction flagged at z > 2.
    // Scale: one per-token map + doc rollup + source rollup.
    QueryEntry.sql(
      "q283_watermark_detect",
      """WITH tok AS (
        |  SELECT doc_id, source, doc_id % 17 = 0 AS planted,
        |         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, source, planted, COUNT(*) AS n,
        |         SUM(CASE WHEN CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)
        |                       % 2 = 0
        |                  THEN 1 ELSE 0 END) AS green
        |  FROM tok GROUP BY 1, 2, 3
        |), z AS (
        |  SELECT source, planted,
        |         CAST(ROUND((2.0 * green - (CASE WHEN planted THEN green
        |                                         ELSE n END))
        |               / sqrt(CASE WHEN planted THEN green ELSE n END), 7)
        |              AS DECIMAL(18,7)) AS z
        |  FROM g WHERE (CASE WHEN planted THEN green ELSE n END) > 0
        |)
        |SELECT source, planted, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       ROUND(CAST(SUM(z) AS DOUBLE) / COUNT(*), 6) AS mean_z,
        |       ROUND(SUM(CASE WHEN z > 2.0 THEN 1 ELSE 0 END) * 1.0
        |             / COUNT(*), 6) AS flagged_frac
        |FROM z GROUP BY 1, 2 ORDER BY source, planted""".stripMargin,
    ) { (s, dir) =>
      val tok = Tables(s, dir).documentsRebalanced
        .select(col("doc_id"), col("source"),
          (pmod(col("doc_id"), lit(17L)) === 0).as("planted"),
          explode(TextAnalysis.tokens(col("text"))).as("t"))
      val g = tok.groupBy("doc_id", "source", "planted")
        .agg(count(lit(1)).as("n"),
          sum(when(pmod(GraftFunctions.md5Long(
            col("t").cast(org.apache.spark.sql.types.BinaryType)),
            lit(2L)) === 0, 1L).otherwise(0L)).as("green"))
      val nEff = when(col("planted"), col("green")).otherwise(col("n"))
      val z = g.filter(nEff > 0)
        .select(col("source"), col("planted"),
          round((lit(2.0) * col("green") - nEff) / sqrt(nEff), 7)
            .cast(D7).as("z"))
      z.groupBy("source", "planted")
        .agg(count(lit(1)).as("n_docs"),
          round(sum("z").cast(DoubleType) / count(lit(1)), 6).as("mean_z"),
          round(sum(when(col("z") > 2.0, 1L).otherwise(0L)) * lit(1.0)
            / count(lit(1)), 6).as("flagged_frac"))
        .select(col("source"), col("planted"),
          col("n_docs").cast(LongType).as("n_docs"),
          col("mean_z"), col("flagged_frac"))
        .orderBy("source", "planted")
    },

    // q286 — two-domain LM interpolation sweep (the DoReMi-motivated
    // mixing-weight tune, in its classical Jelinek–Mercer form): fit
    // one add-one bigram LM on domain A's train docs (sources 0–9)
    // and one on domain B's (10–19), score the FULL held-out split
    // under P_mix = α·P_A + (1−α)·P_B for α ∈ {0.25, 0.5, 0.75}, and
    // report held-out log-prob per α — the curve whose argmax IS the
    // mixing weight. α literals are exact binary fractions; both
    // probabilities are exact-integer ratios; one 6dp-rounded ln per
    // (distinct pair, α). Scale: two grouped model counts + one
    // pair-keyed scoring join with ×3 constant fan-out.
    QueryEntry.sql(
      "q286_mix_interpolation",
      s"""WITH tok AS (
         |  SELECT doc_id, source,
         |         CAST(substr(source, 4) AS INT) < 10 AS grp_a,
         |         regexp_split_to_array(trim(lower(text)), '\\s+') AS t,
         |         (${Hll.splitmixSqlFor("doc_id")}) >> 54 < ${Winnow.SplitTrainLt}
         |           AS is_train
         |  FROM documents
         |  WHERE len(regexp_split_to_array(trim(lower(text)), '\\s+')) >= 2
         |), bg AS (
         |  SELECT doc_id, grp_a, is_train, t[i] AS w1, t[i + 1] AS w2
         |  FROM (SELECT doc_id, grp_a, is_train, t,
         |               unnest(generate_series(1, len(t) - 1)) AS i
         |        FROM tok)
         |), ca AS MATERIALIZED (
         |  SELECT w1, w2, COUNT(*) AS c12a FROM bg
         |  WHERE is_train AND grp_a GROUP BY 1, 2
         |), cb AS MATERIALIZED (
         |  SELECT w1, w2, COUNT(*) AS c12b FROM bg
         |  WHERE is_train AND NOT grp_a GROUP BY 1, 2
         |), xa AS (SELECT w1, CAST(SUM(c12a) AS BIGINT) AS c1a FROM ca GROUP BY 1),
         |xb AS (SELECT w1, CAST(SUM(c12b) AS BIGINT) AS c1b FROM cb GROUP BY 1),
         |va AS (SELECT COUNT(*) AS v FROM (SELECT w1 FROM ca
         |                                  UNION SELECT w2 FROM ca)),
         |vb AS (SELECT COUNT(*) AS v FROM (SELECT w1 FROM cb
         |                                  UNION SELECT w2 FROM cb)),
         |ep AS MATERIALIZED (
         |  SELECT w1, w2, COUNT(*) AS ce FROM bg WHERE NOT is_train GROUP BY 1, 2
         |), px AS MATERIALIZED (
         |  SELECT ep.w1, ep.w2, ep.ce,
         |         (COALESCE(ca.c12a, 0) + 1.0) / (COALESCE(xa.c1a, 0) + va.v)
         |           AS pa,
         |         (COALESCE(cb.c12b, 0) + 1.0) / (COALESCE(xb.c1b, 0) + vb.v)
         |           AS pb
         |  FROM ep
         |  LEFT JOIN ca ON ca.w1 = ep.w1 AND ca.w2 = ep.w2
         |  LEFT JOIN cb ON cb.w1 = ep.w1 AND cb.w2 = ep.w2
         |  LEFT JOIN xa ON xa.w1 = ep.w1
         |  LEFT JOIN xb ON xb.w1 = ep.w1, va, vb
         |)
         |SELECT alpha_pct, CAST(SUM(ce) AS BIGINT) AS n_eval_bigrams,
         |       CAST(SUM(CAST(ce AS DECIMAL(10,0))
         |                * CAST(ROUND(ln(alpha_pct / 100.0 * pa
         |                                + (1.0 - alpha_pct / 100.0) * pb), 6)
         |                       AS DECIMAL(18,6))) AS DOUBLE) AS sum_logprob,
         |       CAST(SUM(CAST(ce AS DECIMAL(10,0))
         |                * CAST(ROUND(ln(alpha_pct / 100.0 * pa
         |                                + (1.0 - alpha_pct / 100.0) * pb), 6)
         |                       AS DECIMAL(18,6))) AS DOUBLE) / SUM(ce)
         |         AS avg_logprob
         |FROM px, (SELECT unnest([25, 50, 75]) AS alpha_pct)
         |GROUP BY alpha_pct ORDER BY alpha_pct""".stripMargin,
    ) { (s, dir) =>
      val bg = graft.TransientCaches.persist(
        bigramsWithSplit(Tables(s, dir).documentsRebalanced)
          .withColumn("grp_a", substring(col("source"), 4, 8).cast("int") < 10))
      def model(a: Boolean): (DataFrame, DataFrame, DataFrame) = {
        val f = bg.filter(col("is_train") && (if (a) col("grp_a") else !col("grp_a")))
        val c = graft.TransientCaches.persist(
          f.groupBy("w1", "w2").agg(count(lit(1)).as(s"c12${if (a) "a" else "b"}")))
        val x = c.groupBy("w1")
          .agg(sum(s"c12${if (a) "a" else "b"}").cast(LongType)
            .as(s"c1${if (a) "a" else "b"}"))
        val v = c.select(col("w1")).union(c.select(col("w2")))
          .distinct().agg(count(lit(1)).as(s"v${if (a) "a" else "b"}"))
        (c, x, v)
      }
      val (ca, xa, va) = model(true)
      val (cb, xb, vb) = model(false)
      val ep = bg.filter(!col("is_train"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("ce"))
      val px = ep.join(ca, Seq("w1", "w2"), "left")
        .join(cb, Seq("w1", "w2"), "left")
        .join(xa, Seq("w1"), "left")
        .join(xb, Seq("w1"), "left")
        .crossJoin(broadcast(va)).crossJoin(broadcast(vb))
        .select(col("ce"),
          ((coalesce(col("c12a"), lit(0L)) + lit(1.0))
            / (coalesce(col("c1a"), lit(0L)) + col("va"))).as("pa"),
          ((coalesce(col("c12b"), lit(0L)) + lit(1.0))
            / (coalesce(col("c1b"), lit(0L)) + col("vb"))).as("pb"))
      val alphas = s.range(1).select(explode(typedlit(Seq(25, 50, 75))).as("alpha_pct"))
      val lp = round(log(col("alpha_pct") / lit(100.0) * col("pa")
        + (lit(1.0) - col("alpha_pct") / lit(100.0)) * col("pb")), 6).cast(D6)
      px.crossJoin(broadcast(alphas))
        .groupBy("alpha_pct")
        .agg(sum("ce").cast(LongType).as("n_eval_bigrams"),
          sum(col("ce").cast(DecimalType(10, 0)) * lp).as("slp"))
        .select(col("alpha_pct"), col("n_eval_bigrams"),
          col("slp").cast(DoubleType).as("sum_logprob"),
          (col("slp").cast(DoubleType) / col("n_eval_bigrams")).as("avg_logprob"))
        .orderBy("alpha_pct")
    },

    // q289 — split-skew audit: Jensen–Shannon divergence between each
    // source's TRAIN and HELD-OUT token distributions under the q69
    // split — the check that a hash split did not accidentally skew a
    // source's content (a biased split silently invalidates every
    // held-out number downstream). Each distinct (source, term)'s JS
    // contribution uses the exact-rational ratio p/m =
    // 2aB_t/(aB_t + bA_t) inside the one rounded ln (zero-count terms
    // drop their own side exactly), summed as DECIMAL — order-free.
    // JS ∈ [0, ln 2]; bounds pinned in Round10cSpec. Scale: one
    // (source, term, split) grouped count + source-grouped rollup.
    QueryEntry.sql(
      "q289_split_skew",
      s"""WITH tok AS (
         |  SELECT source,
         |         (${Hll.splitmixSqlFor("doc_id")}) >> 54 < ${Winnow.SplitTrainLt}
         |           AS is_train,
         |         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t
         |  FROM documents
         |), c AS (
         |  SELECT source, t,
         |         SUM(CASE WHEN is_train THEN 1 ELSE 0 END) AS a,
         |         SUM(CASE WHEN is_train THEN 0 ELSE 1 END) AS b
         |  FROM tok GROUP BY 1, 2
         |), st AS (
         |  SELECT source, CAST(SUM(a) AS BIGINT) AS at,
         |         CAST(SUM(b) AS BIGINT) AS bt, COUNT(*) AS n_terms
         |  FROM c GROUP BY 1
         |), contrib AS (
         |  SELECT c.source,
         |         CAST(ROUND(
         |           0.5 * (CASE WHEN a > 0 THEN (CAST(a AS DOUBLE) / at)
         |                    * ln(2.0 * a * bt
         |                         / (CAST(a AS DOUBLE) * bt
         |                            + CAST(b AS DOUBLE) * at))
         |                  ELSE 0.0 END)
         |           + 0.5 * (CASE WHEN b > 0 THEN (CAST(b AS DOUBLE) / bt)
         |                      * ln(2.0 * b * at
         |                           / (CAST(a AS DOUBLE) * bt
         |                              + CAST(b AS DOUBLE) * at))
         |                    ELSE 0.0 END), 7) AS DECIMAL(18,7)) AS j
         |  FROM c JOIN st ON st.source = c.source
         |)
         |SELECT source, n_terms, at AS n_train_tokens, bt AS n_test_tokens,
         |       ROUND(CAST(SUM(j) AS DOUBLE), 6) + 0.0 AS js
         |FROM contrib JOIN st USING (source)
         |GROUP BY source, n_terms, at, bt ORDER BY source""".stripMargin,
    ) { (s, dir) =>
      val tok = Tables(s, dir).documentsRebalanced
        .select(col("source"),
          (shiftrightunsigned(GraftFunctions.splitmix64(col("doc_id")), 54)
            < Winnow.SplitTrainLt).as("is_train"),
          explode(TextAnalysis.tokens(col("text"))).as("t"))
      val c = tok.groupBy("source", "t")
        .agg(sum(when(col("is_train"), 1L).otherwise(0L)).as("a"),
          sum(when(col("is_train"), 0L).otherwise(1L)).as("b"))
      val st = c.groupBy("source")
        .agg(sum("a").cast(LongType).as("at"),
          sum("b").cast(LongType).as("bt"), count(lit(1)).as("n_terms"))
      val denom = col("a").cast(DoubleType) * col("bt") +
        col("b").cast(DoubleType) * col("at")
      val c1 = when(col("a") > 0,
        (col("a").cast(DoubleType) / col("at"))
          * log(lit(2.0) * col("a") * col("bt") / denom)).otherwise(lit(0.0))
      val c2 = when(col("b") > 0,
        (col("b").cast(DoubleType) / col("bt"))
          * log(lit(2.0) * col("b") * col("at") / denom)).otherwise(lit(0.0))
      c.join(st, "source")
        .select(col("source"), col("n_terms"), col("at"), col("bt"),
          round(lit(0.5) * c1 + lit(0.5) * c2, 7).cast(D7).as("j"))
        .groupBy("source", "n_terms", "at", "bt")
        .agg((round(sum("j").cast(DoubleType), 6) + 0.0).as("js"))
        .select(col("source"), col("n_terms"),
          col("at").as("n_train_tokens"), col("bt").as("n_test_tokens"),
          col("js"))
        .orderBy("source")
    },

    // q293 — data-scaling curve (the scaling-law probe a data team
    // runs before buying more data): the q69 train split is
    // hash-subsampled to 25% / 50% / 100% (an INDEPENDENT SplitMix64
    // sub-bucket, so subsets nest: 25 ⊂ 50 ⊂ 100), an add-one bigram
    // LM is fitted on each, and all three are scored on the SAME
    // held-out split — held-out log-prob vs train volume is the
    // curve. More data must help (monotone law pinned in
    // Round10cSpec). Scale: three grouped model counts over nested
    // subsets + one scoring join each; the ×3 is a constant factor.
    QueryEntry.sql(
      "q293_scaling_curve",
      scalingCurveSql,
    ) { (s, dir) => scalingCurve(s, dir) },

    // q309 — Min-K% membership inference (Shi et al. 2024's
    // pretraining-data detection screen, the audit a data owner runs
    // to ask "was my document in the training set?"): an add-one
    // TRIGRAM LM is fitted on the member split (doc_id % 3 != 0 — the
    // fixture's 31-token vocabulary saturates bigrams, the q282
    // lesson, so only trigram contexts carry the member/non-member
    // signal), every document's trigrams are scored under it (unseen
    // contexts take the same add-one floor the model would assign),
    // and the per-doc statistic is the mean of the BOTTOM 20% token
    // log-probs — k = ceil(n/5) as exact integer (n+4) div 5, never
    // 0.2·n float arithmetic. Members score higher (their rare tail
    // is in-model); the gap is the memorization signal, pinned in
    // spec. Determinism: one 6dp-rounded ln per distinct (context,
    // word) and per distinct unseen context-count, DECIMAL sums,
    // per-doc score rounded once; bottom-k selection ranks by
    // (lp, position) — a total order.
    // Scale shape: token explode + two model-keyed joins (the model
    // is vocabulary-bounded) + one per-doc window + a source rollup;
    // no doc×doc or doc×corpus products anywhere.
    QueryEntry.sql(
      "q309_min_k_membership",
      """WITH tok AS (
        |  SELECT doc_id, source, doc_id % 3 <> 0 AS member,
        |         regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents
        |), tg AS (
        |  SELECT doc_id, source, member, i,
        |         t[i] || ' ' || t[i + 1] AS ctx, t[i + 2] AS w
        |  FROM (SELECT doc_id, source, member, t,
        |               unnest(generate_series(1, len(t) - 2)) AS i FROM tok)
        |), c3 AS (
        |  SELECT ctx, w, COUNT(*) AS c FROM tg WHERE member GROUP BY 1, 2
        |), cx AS (
        |  SELECT ctx, COUNT(*) AS cc FROM tg WHERE member GROUP BY 1
        |), vv AS (
        |  SELECT COUNT(DISTINCT tt) AS v
        |  FROM (SELECT unnest(t) AS tt FROM tok WHERE member)
        |), scored AS (
        |  SELECT g.doc_id, g.source, g.member, g.i,
        |         CAST(ROUND(ln((COALESCE(c3.c, 0) + 1.0)
        |                       / (COALESCE(cx.cc, 0) + vv.v)), 6)
        |              AS DECIMAL(18,6)) AS lp
        |  FROM tg g
        |  LEFT JOIN c3 ON c3.ctx = g.ctx AND c3.w = g.w
        |  LEFT JOIN cx ON cx.ctx = g.ctx, vv
        |), ranked AS (
        |  SELECT doc_id, source, member, lp,
        |         row_number() OVER (PARTITION BY doc_id
        |                            ORDER BY lp, i) AS rn,
        |         COUNT(*) OVER (PARTITION BY doc_id) AS n
        |  FROM scored
        |), per_doc AS (
        |  SELECT doc_id, source, member,
        |         CAST(ROUND(CAST(SUM(lp) AS DOUBLE) / ((n + 4) // 5), 6)
        |              AS DECIMAL(18,6)) AS mink
        |  FROM ranked WHERE rn <= (n + 4) // 5
        |  GROUP BY doc_id, source, member, n
        |)
        |SELECT source, member, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(mink) AS DOUBLE) / COUNT(*) AS mean_mink
        |FROM per_doc GROUP BY source, member
        |ORDER BY source, member""".stripMargin,
    ) { (s, dir) =>
      val tg = Tables(s, dir).documentsRebalanced
        .select(col("doc_id"), col("source"),
          (pmod(col("doc_id"), lit(3L)) =!= 0).as("member"),
          TextAnalysis.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 3)
        .select(col("doc_id"), col("source"), col("member"), col("t"),
          explode(sequence(lit(1), size(col("t")) - 2)).as("i"))
        .select(col("doc_id"), col("source"), col("member"), col("i"),
          concat(element_at(col("t"), col("i")), lit(" "),
            element_at(col("t"), col("i") + 1)).as("ctx"),
          element_at(col("t"), col("i") + 2).as("w"))
      val mem = tg.filter(col("member"))
      val c3 = mem.groupBy("ctx", "w").agg(count(lit(1)).as("c"))
      val cx = mem.groupBy("ctx").agg(count(lit(1)).as("cc"))
      val vv = Tables(s, dir).documentsRebalanced
        .filter(pmod(col("doc_id"), lit(3L)) =!= 0)
        .select(explode(TextAnalysis.tokens(col("text"))).as("tt"))
        .agg(countDistinct("tt").as("v"))
      val scored = tg
        .join(c3, Seq("ctx", "w"), "left")
        .join(cx, Seq("ctx"), "left")
        .crossJoin(broadcast(vv))
        .select(col("doc_id"), col("source"), col("member"), col("i"),
          round(log((coalesce(col("c"), lit(0L)) + lit(1.0))
            / (coalesce(col("cc"), lit(0L)) + col("v"))), 6).cast(D6).as("lp"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("lp"), col("i"))
      val wn = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      val perDoc = scored
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wn))
        // Spark's `/` is ALWAYS double division — `div` is the exact
        // integer k = ceil(n/5) both engines share
        .filter(col("rn") <= expr("(n + 4) div 5"))
        .groupBy("doc_id", "source", "member", "n")
        .agg(round(sum("lp").cast(DoubleType) /
          expr("(n + 4) div 5"), 6).cast(D6).as("mink"))
      // NO final round: sum(mink) is an exact DECIMAL, so the cast and
      // the division produce the bit-identical double in both engines —
      // a round(,6) here DIVERGED on a shortest-repr halfway value at
      // sf0.1 (Spark rounds the repr, DuckDB the binary value)
      perDoc.groupBy("source", "member")
        .agg(count(lit(1)).as("n_docs"),
          (sum("mink").cast(DoubleType) / count(lit(1))).as("mean_mink"))
        .orderBy("source", "member")
    },

    // q314 — speculative-decoding acceptance rate (the Leviathan/Chen
    // rejection-sampling diagnostic: how often would a cheap DRAFT
    // model's proposals be accepted by the TARGET model — the number
    // that decides whether speculative serving pays for a corpus):
    // target = add-one TRIGRAM LM, draft = add-one BIGRAM LM, both
    // fitted on the full corpus; per token position, acceptance
    // a = min(1, p_target/p_draft). The ratio is computed as ONE
    // division of two exact integer products — (c3+1)(cc1+V) over
    // (cc2+V)(c2+1) — never a quotient of two float quotients, so
    // both engines divide identical longs; per-token a rounds once to
    // 7dp DECIMAL, per-source mean is the exact-decimal cast +
    // division (the q309 rule). Scale: token explode + four
    // vocabulary-bounded model joins + one rollup; corpus-linear.
    QueryEntry.sql(
      "q314_spec_decode_accept",
      """WITH tok AS MATERIALIZED (
        |  SELECT doc_id, source,
        |         regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents
        |), tg AS MATERIALIZED (
        |  SELECT doc_id, source, t[i] || ' ' || t[i + 1] AS ctx2,
        |         t[i + 1] AS prev, t[i + 2] AS w
        |  FROM (SELECT doc_id, source, t,
        |               unnest(generate_series(1, len(t) - 2)) AS i FROM tok)
        |), c3 AS MATERIALIZED (
        |  SELECT ctx2, w, COUNT(*) AS c FROM tg GROUP BY 1, 2
        |), cc2 AS MATERIALIZED (
        |  SELECT ctx2, COUNT(*) AS c FROM tg GROUP BY 1
        |), c2 AS MATERIALIZED (
        |  SELECT prev, w, COUNT(*) AS c FROM tg GROUP BY 1, 2
        |), cc1 AS MATERIALIZED (
        |  SELECT prev, COUNT(*) AS c FROM tg GROUP BY 1
        |), vv AS (
        |  SELECT COUNT(DISTINCT tt) AS v
        |  FROM (SELECT unnest(t) AS tt FROM tok)
        |), acc AS (
        |  SELECT g.source,
        |         CAST(ROUND(LEAST(1.0,
        |           CAST((c3.c + 1) * (cc1.c + vv.v) AS DOUBLE)
        |           / ((cc2.c + vv.v) * (c2.c + 1))), 7) AS DECIMAL(18,7)) AS a
        |  FROM tg g
        |  JOIN c3 ON c3.ctx2 = g.ctx2 AND c3.w = g.w
        |  JOIN cc2 ON cc2.ctx2 = g.ctx2
        |  JOIN c2 ON c2.prev = g.prev AND c2.w = g.w
        |  JOIN cc1 ON cc1.prev = g.prev, vv
        |)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |       CAST(SUM(a) AS DOUBLE) / COUNT(*) AS accept_rate
        |FROM acc GROUP BY source ORDER BY source""".stripMargin,
    ) { (s, dir) =>
      val tg = Tables(s, dir).documentsRebalanced
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 3)
        .select(col("doc_id"), col("source"), col("t"),
          explode(sequence(lit(1), size(col("t")) - 2)).as("i"))
        .select(col("doc_id"), col("source"),
          concat(element_at(col("t"), col("i")), lit(" "),
            element_at(col("t"), col("i") + 1)).as("ctx2"),
          element_at(col("t"), col("i") + 1).as("prev"),
          element_at(col("t"), col("i") + 2).as("w"))
      val c3 = tg.groupBy("ctx2", "w").agg(count(lit(1)).as("c3"))
      val cc2 = tg.groupBy("ctx2").agg(count(lit(1)).as("cc2"))
      val c2 = tg.groupBy("prev", "w").agg(count(lit(1)).as("c2"))
      val cc1 = tg.groupBy("prev").agg(count(lit(1)).as("cc1"))
      val vv = Tables(s, dir).documentsRebalanced
        .select(explode(TextAnalysis.tokens(col("text"))).as("tt"))
        .agg(countDistinct("tt").as("v"))
      val a = round(least(lit(1.0),
        ((col("c3") + 1) * (col("cc1") + col("v"))).cast(DoubleType)
          / ((col("cc2") + col("v")) * (col("c2") + 1))), 7).cast(D7)
      tg.join(c3, Seq("ctx2", "w"))
        .join(cc2, Seq("ctx2"))
        .join(c2, Seq("prev", "w"))
        .join(cc1, Seq("prev"))
        .crossJoin(broadcast(vv))
        .select(col("source"), a.as("a"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"),
          (sum("a").cast(DoubleType) / count(lit(1))).as("accept_rate"))
        .orderBy("source")
    },

    // q315 — scaling-law FIT (the Chinchilla/Kaplan readout on top of
    // q293's measured curve): loss = a·N^{−b} fitted as the closed-
    // form least-squares line over (ln N, ln loss) of the three
    // nested-subsample points, extrapolated one decade — the "is more
    // data worth buying, and how much" number, where q293 only plots
    // the curve. Determinism: the three (N, avg_logprob) inputs are
    // q293's oracled exact values; every downstream operation (lns,
    // the pivoted 3-point OLS, the exp extrapolation) is the SAME
    // fixed-order double expression in both engines — no aggregation
    // order exists to drift (the frame is pivoted to one row first).
    // Scale: q293's three grouped model fits + one 3-row pivot.
    QueryEntry.sql(
      "q315_scaling_fit",
      s"""WITH curve AS MATERIALIZED (
         |  SELECT fraction_pct, n_train_bigrams, avg_logprob
         |  FROM ($scalingCurveSql)
         |), p AS (
         |  SELECT
         |    CAST(CAST(ROUND(MAX(CASE WHEN fraction_pct = 25
         |        THEN ln(CAST(n_train_bigrams AS DOUBLE)) END), 6)
         |      AS DECIMAL(18,6)) AS DOUBLE) AS x1,
         |    CAST(CAST(ROUND(MAX(CASE WHEN fraction_pct = 25
         |        THEN ln(-avg_logprob) END), 6)
         |      AS DECIMAL(18,6)) AS DOUBLE) AS y1,
         |    CAST(CAST(ROUND(MAX(CASE WHEN fraction_pct = 50
         |        THEN ln(CAST(n_train_bigrams AS DOUBLE)) END), 6)
         |      AS DECIMAL(18,6)) AS DOUBLE) AS x2,
         |    CAST(CAST(ROUND(MAX(CASE WHEN fraction_pct = 50
         |        THEN ln(-avg_logprob) END), 6)
         |      AS DECIMAL(18,6)) AS DOUBLE) AS y2,
         |    CAST(CAST(ROUND(MAX(CASE WHEN fraction_pct = 100
         |        THEN ln(CAST(n_train_bigrams AS DOUBLE)) END), 6)
         |      AS DECIMAL(18,6)) AS DOUBLE) AS x3,
         |    CAST(CAST(ROUND(MAX(CASE WHEN fraction_pct = 100
         |        THEN ln(-avg_logprob) END), 6)
         |      AS DECIMAL(18,6)) AS DOUBLE) AS y3
         |  FROM curve
         |), f AS (
         |  SELECT x1, y1, x2, y2, x3, y3,
         |         (x1 + x2 + x3) / 3.0 AS xb, (y1 + y2 + y3) / 3.0 AS yb
         |  FROM p
         |), fit AS (
         |  SELECT x3, y3,
         |         ((x1 - xb) * (y1 - yb) + (x2 - xb) * (y2 - yb)
         |          + (x3 - xb) * (y3 - yb))
         |         / ((x1 - xb) * (x1 - xb) + (x2 - xb) * (x2 - xb)
         |            + (x3 - xb) * (x3 - xb)) AS slope, xb, yb
         |  FROM f
         |)
         |SELECT ROUND(slope, 6) AS slope,
         |       ROUND(yb - slope * xb, 6) AS intercept,
         |       ROUND(exp(y3), 6) AS loss_100,
         |       ROUND(exp((yb - slope * xb) + slope * (x3 + ln(10.0))), 6)
         |         AS pred_loss_10x,
         |       ROUND((exp(y3) - exp((yb - slope * xb) + slope * (x3 + ln(10.0))))
         |         / exp(y3), 6) AS decade_gain_frac
         |FROM fit""".stripMargin,
    ) { (s, dir) =>
      val curve = scalingCurve(s, dir)
      // q175's OLS determinism pattern (r11 ADVICE): the raw ln()
      // pivots are rounded ONCE at 6dp through DECIMAL(18,6) before
      // any arithmetic — JVM Math.log and DuckDB's libm are each only
      // 1-ulp-bounded, so unrounded ln outputs are not a cross-engine
      // primitive; the five fitted outputs are rounded at 6dp too
      def at(p: Int, c: org.apache.spark.sql.Column) =
        round(max(when(col("fraction_pct") === p, c)), 6)
          .cast(DecimalType(18, 6)).cast(DoubleType)
      val piv = curve.agg(
        at(25, log(col("n_train_bigrams").cast(DoubleType))).as("x1"),
        at(25, log(-col("avg_logprob"))).as("y1"),
        at(50, log(col("n_train_bigrams").cast(DoubleType))).as("x2"),
        at(50, log(-col("avg_logprob"))).as("y2"),
        at(100, log(col("n_train_bigrams").cast(DoubleType))).as("x3"),
        at(100, log(-col("avg_logprob"))).as("y3"))
      val f = piv.select(col("*"),
        ((col("x1") + col("x2") + col("x3")) / 3.0).as("xb"),
        ((col("y1") + col("y2") + col("y3")) / 3.0).as("yb"))
      val slope = ((col("x1") - col("xb")) * (col("y1") - col("yb"))
        + (col("x2") - col("xb")) * (col("y2") - col("yb"))
        + (col("x3") - col("xb")) * (col("y3") - col("yb"))) /
        ((col("x1") - col("xb")) * (col("x1") - col("xb"))
          + (col("x2") - col("xb")) * (col("x2") - col("xb"))
          + (col("x3") - col("xb")) * (col("x3") - col("xb")))
      val fit = f.select(col("x3"), col("y3"), slope.as("slope"),
        col("xb"), col("yb"))
      val intercept = col("yb") - col("slope") * col("xb")
      val pred = exp(intercept + col("slope") * (col("x3") + log(lit(10.0))))
      fit.select(round(col("slope"), 6).as("slope"),
        round(intercept, 6).as("intercept"),
        round(exp(col("y3")), 6).as("loss_100"),
        round(pred, 6).as("pred_loss_10x"),
        round((exp(col("y3")) - pred) / exp(col("y3")), 6).as("decade_gain_frac"))
    },

    // q318 — the dedup ABLATION (does deduplication measurably change
    // the model? — Lee et al. 2022's headline claim, run as a
    // differential experiment instead of taken on faith): every 7th
    // TRAIN document is duplicated (a planted crawl re-fetch, the
    // q63/q283 pattern — the fixture's organic exact-dup groups never
    // straddle the train gate, so an unplanted ablation measures
    // nothing at the oracle SFs; copy keys live at doc_id + 2^40, a
    // key space disjoint from real ids at ANY scale factor and far
    // from BIGINT overflow — the q299 standard). Two add-one bigram
    // LMs: RAW fits on train + copies (over-counting the re-fetched
    // docs), DEDUP on the keep-min-key md5(text) survivors; both
    // score the SAME held-out split. One row: train volumes, both
    // held-out per-bigram log-probs, the delta — the entry that
    // certifies dedup has a measurable model-side effect.
    // Determinism is q293's exactly: 6dp-rounded ln per distinct
    // bigram, NARROW-decimal-weighted DECIMAL sums, one division;
    // the delta subtracts two identical-input doubles.
    // Scale: one content-hash shuffle + two grouped model fits + two
    // model-keyed scoring joins — the q293 shape with a dedup gate.
    QueryEntry.sql(
      "q318_dedup_ablation",
      s"""WITH tok0 AS (
         |  SELECT doc_id, text,
         |         regexp_split_to_array(trim(lower(text)), '\\s+') AS t,
         |         (${Hll.splitmixSqlFor("doc_id")}) >> 54
         |           < ${Winnow.SplitTrainLt} AS is_train
         |  FROM documents
         |  WHERE len(regexp_split_to_array(trim(lower(text)), '\\s+')) >= 2
         |), tok AS MATERIALIZED (
         |  SELECT doc_id AS k, text, t, is_train FROM tok0
         |  UNION ALL
         |  SELECT doc_id + 1099511627776 AS k, text, t, TRUE AS is_train
         |  FROM tok0 WHERE is_train AND doc_id % 7 = 0
         |), surv AS MATERIALIZED (
         |  SELECT MIN(k) AS k FROM tok WHERE is_train GROUP BY md5(text)
         |), bg AS MATERIALIZED (
         |  SELECT k, is_train,
         |         k IN (SELECT k FROM surv) AS keep,
         |         t[i] AS w1, t[i + 1] AS w2
         |  FROM (SELECT k, is_train, t,
         |               unnest(generate_series(1, len(t) - 1)) AS i FROM tok)
         |), ep AS MATERIALIZED (
         |  SELECT w1, w2, COUNT(*) AS ce FROM bg WHERE NOT is_train
         |  GROUP BY 1, 2
         |), craw AS MATERIALIZED (
         |  SELECT w1, w2, COUNT(*) AS c12 FROM bg WHERE is_train GROUP BY 1, 2
         |), xraw AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM craw GROUP BY 1),
         |vraw AS (SELECT COUNT(*) AS v FROM (SELECT w1 FROM craw
         |                                    UNION SELECT w2 FROM craw)),
         |cded AS MATERIALIZED (
         |  SELECT w1, w2, COUNT(*) AS c12 FROM bg WHERE is_train AND keep
         |  GROUP BY 1, 2
         |), xded AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM cded GROUP BY 1),
         |vded AS (SELECT COUNT(*) AS v FROM (SELECT w1 FROM cded
         |                                    UNION SELECT w2 FROM cded)),
         |sraw AS (
         |  SELECT CAST(SUM(CAST(ce AS DECIMAL(10,0))
         |         * CAST(ROUND(ln((COALESCE(c12, 0) + 1.0)
         |                         / (COALESCE(c1, 0) + v)), 6)
         |                AS DECIMAL(18,6))) AS DOUBLE) / SUM(ce) AS lp,
         |         (SELECT CAST(SUM(c12) AS BIGINT) FROM craw) AS nb,
         |         (SELECT CAST(v AS BIGINT) FROM vraw) AS vo
         |  FROM ep LEFT JOIN craw USING (w1, w2)
         |  LEFT JOIN xraw USING (w1), vraw
         |), sded AS (
         |  SELECT CAST(SUM(CAST(ce AS DECIMAL(10,0))
         |         * CAST(ROUND(ln((COALESCE(c12, 0) + 1.0)
         |                         / (COALESCE(c1, 0) + v)), 6)
         |                AS DECIMAL(18,6))) AS DOUBLE) / SUM(ce) AS lp,
         |         (SELECT CAST(SUM(c12) AS BIGINT) FROM cded) AS nb,
         |         (SELECT CAST(v AS BIGINT) FROM vded) AS vo
         |  FROM ep LEFT JOIN cded USING (w1, w2)
         |  LEFT JOIN xded USING (w1), vded
         |)
         |SELECT sraw.nb AS n_train_bigrams_raw, sded.nb AS n_train_bigrams_dedup,
         |       sraw.vo AS vocab_raw, sded.vo AS vocab_dedup,
         |       sraw.lp AS avg_logprob_raw, sded.lp AS avg_logprob_dedup,
         |       sded.lp - sraw.lp AS dedup_delta
         |FROM sraw, sded""".stripMargin,
    ) { (s, dir) =>
      val tok0 = Tables(s, dir).documentsRebalanced
        .select(col("doc_id"), col("text"),
          TextAnalysis.tokens(col("text")).as("t"),
          (shiftrightunsigned(GraftFunctions.splitmix64(col("doc_id")), 54)
            < Winnow.SplitTrainLt).as("is_train"))
        .filter(size(col("t")) >= 2)
      val tok = tok0.select(col("doc_id").as("k"), col("text"), col("t"),
        col("is_train"))
        .unionAll(tok0.filter(col("is_train") && pmod(col("doc_id"), lit(7L)) === 0)
          .select((col("doc_id") + lit(1099511627776L)).as("k"), col("text"),
            col("t"), lit(true).as("is_train")))
      val surv = tok.filter(col("is_train"))
        .groupBy(md5(col("text")).as("h"))
        .agg(min("k").as("k")).select("k")
        .withColumn("keep", lit(true))
      val bg = graft.TransientCaches.persist(tok
        .join(surv, Seq("k"), "left")
        .select(col("k"), col("is_train"),
          coalesce(col("keep"), lit(false)).as("keep"), col("t"),
          explode(sequence(lit(1), size(col("t")) - 1)).as("i"))
        .select(col("k"), col("is_train"), col("keep"),
          element_at(col("t"), col("i")).as("w1"),
          element_at(col("t"), col("i") + 1).as("w2")))
      val ep = graft.TransientCaches.persist(bg.filter(!col("is_train"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("ce")))
      def fitScore(train: DataFrame, tag: String): DataFrame = {
        val c = graft.TransientCaches.persist(
          train.groupBy("w1", "w2").agg(count(lit(1)).as("c12")))
        val x = c.groupBy("w1").agg(sum("c12").cast(LongType).as("c1"))
        val v = c.select(col("w1")).union(c.select(col("w2")))
          .distinct().agg(count(lit(1)).as("v"))
        val tb = c.agg(sum("c12").cast(LongType).as("ntb"))
        val lp = round(log((coalesce(col("c12"), lit(0L)) + lit(1.0))
          / (coalesce(col("c1"), lit(0L)) + col("v"))), 6).cast(D6)
        ep.join(c, Seq("w1", "w2"), "left")
          .join(x, Seq("w1"), "left")
          .crossJoin(broadcast(v)).crossJoin(broadcast(tb))
          .select(col("ce"), col("ntb"), col("v"),
            (col("ce").cast(DecimalType(10, 0)) * lp).as("wlp"))
          .groupBy("ntb", "v")
          .agg(sum("ce").as("nce"), sum("wlp").as("slp"))
          .select(col("ntb").as(s"nb_$tag"),
            col("v").cast(LongType).as(s"vo_$tag"),
            (col("slp").cast(DoubleType) / col("nce")).as(s"lp_$tag"))
      }
      val raw = fitScore(bg.filter(col("is_train")), "raw")
      val ded = fitScore(bg.filter(col("is_train") && col("keep")), "ded")
      raw.crossJoin(broadcast(ded))
        .select(col("nb_raw").as("n_train_bigrams_raw"),
          col("nb_ded").as("n_train_bigrams_dedup"),
          col("vo_raw").as("vocab_raw"), col("vo_ded").as("vocab_dedup"),
          col("lp_raw").as("avg_logprob_raw"),
          col("lp_ded").as("avg_logprob_dedup"),
          (col("lp_ded") - col("lp_raw")).as("dedup_delta"))
    },

    // q337 — DoReMi reweighting STEP (Xie et al. 2023): one
    // exponentiated-gradient update of the per-source mixture weights
    // from measured per-domain EXCESS loss — where q286 sweeps a fixed
    // interpolation grid and q333 reweights by volume alone, this is
    // the loss-driven update the paper actually runs. Per source:
    // held-out cross-entropy under the source's OWN add-one bigram LM
    // (the proxy: trained on only that domain's slice, the undertrained
    // side) minus CE under the POOLED LM (the reference trained on the
    // full mixture), clipped at 0 — domains with the most unexploited
    // learnable headroom carry positive excess, the paper's rule — and
    // w_s ∝ exp(η·excess_s), η = 1 (the uniform prior cancels in the
    // normalizer). Determinism: q293's LM rules (one 6dp-DECIMAL ln
    // per distinct (model, bigram), NARROW-decimal-weighted exact
    // sums, one division per CE), excess rounded 6dp before the exp,
    // exp rounded 6dp into DECIMAL, EXACT decimal normalizer (the
    // q333 rule). Scale: two grouped model-count passes (pooled +
    // (source, bigram)-keyed), one bigram-keyed scoring join, a
    // |sources|-row EG step — nothing quadratic, nothing collected.
    QueryEntry.sql(
      "q337_doremi_step",
      s"""WITH tok AS (
         |  SELECT doc_id, source,
         |         regexp_split_to_array(trim(lower(text)), '\\s+') AS t,
         |         (${Hll.splitmixSqlFor("doc_id")}) >> 54 < ${Winnow.SplitTrainLt}
         |           AS is_train
         |  FROM documents
         |  WHERE len(regexp_split_to_array(trim(lower(text)), '\\s+')) >= 2
         |), bg AS MATERIALIZED (
         |  SELECT doc_id, source, is_train, t[i] AS w1, t[i + 1] AS w2
         |  FROM (SELECT doc_id, source, is_train, t,
         |               unnest(generate_series(1, len(t) - 1)) AS i
         |        FROM tok)
         |), cr AS MATERIALIZED (
         |  SELECT w1, w2, COUNT(*) AS c12r FROM bg WHERE is_train GROUP BY 1, 2
         |), xr AS (SELECT w1, CAST(SUM(c12r) AS BIGINT) AS c1r FROM cr GROUP BY 1),
         |vr AS (SELECT COUNT(*) AS v FROM (SELECT w1 FROM cr
         |                                  UNION SELECT w2 FROM cr)),
         |cd AS MATERIALIZED (
         |  SELECT source, w1, w2, COUNT(*) AS c12d FROM bg
         |  WHERE is_train GROUP BY 1, 2, 3
         |), xd AS (SELECT source, w1, CAST(SUM(c12d) AS BIGINT) AS c1d
         |          FROM cd GROUP BY 1, 2),
         |vd AS (SELECT source, COUNT(*) AS v FROM (
         |         SELECT source, w1 FROM cd UNION SELECT source, w2 FROM cd)
         |       GROUP BY 1),
         |ep AS MATERIALIZED (
         |  SELECT source, w1, w2, COUNT(*) AS ce FROM bg
         |  WHERE NOT is_train GROUP BY 1, 2, 3
         |), sc AS (
         |  SELECT ep.source, ep.ce,
         |         CAST(ROUND(ln((COALESCE(cr.c12r, 0) + 1.0)
         |                       / (COALESCE(xr.c1r, 0) + vr.v)), 6)
         |              AS DECIMAL(18,6)) AS lpr,
         |         CAST(ROUND(ln((COALESCE(cd.c12d, 0) + 1.0)
         |                       / (COALESCE(xd.c1d, 0) + vd.v)), 6)
         |              AS DECIMAL(18,6)) AS lpd
         |  FROM ep
         |  LEFT JOIN cr ON cr.w1 = ep.w1 AND cr.w2 = ep.w2
         |  LEFT JOIN xr ON xr.w1 = ep.w1
         |  LEFT JOIN cd ON cd.source = ep.source AND cd.w1 = ep.w1
         |                  AND cd.w2 = ep.w2
         |  LEFT JOIN xd ON xd.source = ep.source AND xd.w1 = ep.w1
         |  JOIN vd ON vd.source = ep.source, vr
         |), per AS (
         |  SELECT source, CAST(SUM(ce) AS BIGINT) AS n_held_bigrams,
         |         -(CAST(SUM(CAST(ce AS DECIMAL(10,0)) * lpr) AS DOUBLE)
         |           / SUM(ce)) AS ce_pooled,
         |         -(CAST(SUM(CAST(ce AS DECIMAL(10,0)) * lpd) AS DOUBLE)
         |           / SUM(ce)) AS ce_own
         |  FROM sc GROUP BY source
         |), ex AS (
         |  SELECT source, n_held_bigrams,
         |         ROUND(ce_pooled, 6) AS ce_pooled, ROUND(ce_own, 6) AS ce_own,
         |         ROUND(GREATEST(ce_own - ce_pooled, 0.0), 6) AS excess,
         |         CAST(ROUND(exp(ROUND(GREATEST(ce_own - ce_pooled, 0.0), 6)), 6)
         |              AS DECIMAL(18,6)) AS a
         |  FROM per
         |), ws AS (SELECT SUM(a) AS wsum FROM ex)
         |SELECT source, n_held_bigrams, ce_pooled, ce_own, excess,
         |       ROUND(CAST(a AS DOUBLE) / CAST(wsum AS DOUBLE), 6) AS weight
         |FROM ex, ws ORDER BY source""".stripMargin,
    ) { (s, dir) =>
      val bg = graft.TransientCaches.persist(bigramsWithSplit(Tables(s, dir).documentsRebalanced))
      val tr = bg.filter(col("is_train"))
      val cr = graft.TransientCaches.persist(tr.groupBy("w1", "w2").agg(count(lit(1)).as("c12r")))
      val xr = cr.groupBy("w1").agg(sum("c12r").cast(LongType).as("c1r"))
      val vr = cr.select(col("w1")).union(cr.select(col("w2")))
        .distinct().agg(count(lit(1)).as("vr"))
      val cd = graft.TransientCaches.persist(
        tr.groupBy("source", "w1", "w2").agg(count(lit(1)).as("c12d")))
      val xd = cd.groupBy("source", "w1")
        .agg(sum("c12d").cast(LongType).as("c1d"))
      val vd = cd.select(col("source"), col("w1"))
        .union(cd.select(col("source"), col("w2")))
        .distinct().groupBy("source").agg(count(lit(1)).as("vdv"))
      val ep = bg.filter(!col("is_train"))
        .groupBy("source", "w1", "w2").agg(count(lit(1)).as("ce"))
      val lpr = round(log((coalesce(col("c12r"), lit(0L)) + lit(1.0))
        / (coalesce(col("c1r"), lit(0L)) + col("vr"))), 6).cast(D6)
      val lpd = round(log((coalesce(col("c12d"), lit(0L)) + lit(1.0))
        / (coalesce(col("c1d"), lit(0L)) + col("vdv"))), 6).cast(D6)
      val sc = ep
        .join(cr, Seq("w1", "w2"), "left")
        .join(xr, Seq("w1"), "left")
        .join(cd, Seq("source", "w1", "w2"), "left")
        .join(xd, Seq("source", "w1"), "left")
        .join(vd, Seq("source"))
        .crossJoin(broadcast(vr))
        .select(col("source"), col("ce"), lpr.as("lpr"), lpd.as("lpd"))
      val dec10 = DecimalType(10, 0)
      val per = sc.groupBy("source")
        .agg(sum("ce").cast(LongType).as("n_held_bigrams"),
          (-(sum(col("ce").cast(dec10) * col("lpr")).cast(DoubleType)
            / sum("ce"))).as("cp"),
          (-(sum(col("ce").cast(dec10) * col("lpd")).cast(DoubleType)
            / sum("ce"))).as("co"))
      val excess = round(greatest(col("co") - col("cp"), lit(0.0)), 6)
      // r14 optimization (guide §5): `ex` (|sources| rows) feeds both
      // the normalizer sum and the final select — unpersisted, the
      // whole 5-way scoring join ran twice (measured: every heavy
      // stage duplicated at sf0.1). One sources-sized persist halves
      // the query.
      val ex = graft.TransientCaches.persist(
        per.select(col("source"), col("n_held_bigrams"),
          round(col("cp"), 6).as("ce_pooled"), round(col("co"), 6).as("ce_own"),
          excess.as("excess"),
          round(exp(excess), 6).cast(D6).as("a")))
      val ws = ex.agg(sum("a").as("wsum"))
      ex.crossJoin(broadcast(ws))
        .select(col("source"), col("n_held_bigrams"), col("ce_pooled"),
          col("ce_own"), col("excess"),
          round(col("a").cast(DoubleType) / col("wsum").cast(DoubleType), 6)
            .as("weight"))
        .orderBy("source")
    },
  )
}
