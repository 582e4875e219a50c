package graft.operators

import graft.functions.GraftFunctions
import graft.{QueryEntry, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Batch k-NN join: every probe vector gets its k nearest corpus
  * vectors by cosine — the batched form of [[Similarity.topKCosine]]
  * (one probe) and the exact building block ANN variants approximate.
  *
  * Scale shape: the probe batch is broadcast (a query batch is
  * request-sized by contract — thousands, not corpus-sized; the loud
  * `maxProbes` gate stops corpus-scale misuse, for which the join
  * through the IVF index is the declared path), scoring runs inside
  * whole-stage codegen over one corpus scan, and the grouped top-k is
  * the native k-bounded heap aggregate
  * ([[org.apache.spark.sql.graft.TopKScoreId]]): each map task ships at
  * most k entries per probe into the exchange, so shuffle volume is
  * |probes|·k·partials — independent of corpus size — where the window
  * `row_number` formulation would shuffle all |corpus|·|probes| scored
  * rows. Scores are ROUNDed to 6 dp before admission (FIXTURES.md
  * float rule) with the vec_id tie-break, so the kept set is
  * engine-independent.
  */
object Knn {

  /** @param excludeSelf drop candidates with `vec_id == probe_id` —
    *   correct ONLY when the probe batch is drawn from the corpus and
    *   shares its id space (the q97 self-probe shape, hence the
    *   default). An EXTERNAL probe batch whose ids coincidentally
    *   collide with corpus vec_ids must pass `excludeSelf = false` or
    *   legitimate nearest neighbors are silently dropped.
    */
  def knnJoin(emb: DataFrame, probes: DataFrame, k: Int,
      maxProbes: Long = 100000L, excludeSelf: Boolean = true): DataFrame = {
    val n = probes.count()
    require(n <= maxProbes,
      s"knnJoin broadcasts the probe batch: $n probes exceeds maxProbes=" +
        s"$maxProbes — route corpus-scale probe sets through Ivf.annSearch " +
        "or raise maxProbes explicitly")
    emb.crossJoin(broadcast(probes))
      .filter(if (excludeSelf) col("vec_id") =!= col("probe_id") else lit(true))
      .select(
        col("probe_id"),
        col("vec_id"),
        round(GraftFunctions.cosineF32(col("embedding"), col("pvec")), 6)
          .as("score"))
      .groupBy("probe_id")
      .agg(GraftFunctions.topkScoreId(col("score"), col("vec_id"), k).as("nn"))
      .select(col("probe_id"), posexplode(col("nn")))
      .select(
        col("probe_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("vec_id"),
        col("col.score").as("score"))
      .orderBy("probe_id", "rank")
  }

  val entries: Seq[QueryEntry] = Seq(
    // q97 — 5-NN for the first 16 vectors against the rest of the
    // corpus; DuckDB brute-forces the same join with a window rank.
    QueryEntry.sql(
      "q97_knn_join",
      """WITH probes AS (
        |  SELECT vec_id AS probe_id, embedding AS pvec FROM embeddings
        |  WHERE vec_id < 16
        |), scored AS (
        |  SELECT p.probe_id, e.vec_id,
        |         ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                      CAST(p.pvec AS DOUBLE[])), 6) AS score
        |  FROM embeddings e, probes p
        |  WHERE e.vec_id <> p.probe_id
        |), ranked AS (
        |  SELECT probe_id, vec_id, score,
        |         CAST(row_number() OVER (PARTITION BY probe_id
        |                ORDER BY score DESC, vec_id) AS INT) AS rank
        |  FROM scored
        |)
        |SELECT probe_id, rank, vec_id, score
        |FROM ranked WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,
    ) { (s, dir) =>
      val emb = Tables(s, dir).embeddings
      val probes = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"))
      knnJoin(emb, probes, k = 5)
    },

    // q141 — hard-negative mining (contrastive-training staple): for
    // each probe, the top-3 most-similar vectors whose LABEL differs —
    // high-score wrong-class neighbors are exactly the negatives a
    // contrastive loss learns most from. Same broadcast + k-bounded
    // heap-aggregate shape as q97; the label inequality rides the
    // codegen filter before any aggregation state exists.
    QueryEntry.sql(
      "q141_hard_negatives",
      """WITH probes AS (
        |  SELECT vec_id AS probe_id, embedding AS pvec, label AS plabel
        |  FROM embeddings WHERE vec_id < 8
        |), scored AS (
        |  SELECT p.probe_id, e.vec_id, e.label,
        |         ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                      CAST(p.pvec AS DOUBLE[])), 6) AS score
        |  FROM embeddings e, probes p
        |  WHERE e.vec_id <> p.probe_id AND e.label <> p.plabel
        |), ranked AS (
        |  SELECT probe_id, vec_id, label, score,
        |         CAST(row_number() OVER (PARTITION BY probe_id
        |                ORDER BY score DESC, vec_id) AS INT) AS rank
        |  FROM scored
        |)
        |SELECT probe_id, rank, vec_id, label, score
        |FROM ranked WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin,
    ) { (s, dir) =>
      val emb = Tables(s, dir).embeddings
      val probes = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"),
          col("label").as("plabel"))
      hardNegatives(emb, probes, k = 3)
    },

    // q209 — margin-based pair mining (the bitext-mining scorer:
    // Artetxe & Schwenk's ratio margin): raw cosine over-selects hubs —
    // vectors near everything — so each candidate pair is scored by
    // cos(x,y) normalized by the mean of both sides' top-k neighbor
    // cosines. DuckDB replays the full cross-side scoring, both top-4
    // neighborhoods (window rank), the parenthesis-pinned 4-term sums,
    // and the margin arithmetic.
    QueryEntry.sql(
      "q209_margin_mining",
      """WITH a AS (
        |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
        |  WHERE label % 2 = 0
        |), b AS (
        |  SELECT vec_id AS cid, embedding AS cv FROM embeddings
        |  WHERE label % 2 = 1
        |), scored AS (
        |  SELECT qid, cid,
        |         ROUND(list_cosine_similarity(CAST(qv AS DOUBLE[]),
        |                                      CAST(cv AS DOUBLE[])), 6) AS s
        |  FROM a, b
        |), ra AS (
        |  SELECT qid, cid, s, row_number() OVER (PARTITION BY qid
        |           ORDER BY s DESC, cid) AS r FROM scored
        |), rb AS (
        |  SELECT cid, qid, s, row_number() OVER (PARTITION BY cid
        |           ORDER BY s DESC, qid) AS r FROM scored
        |), ta AS (
        |  SELECT qid,
        |         MAX(CASE WHEN r = 1 THEN cid END) AS cid,
        |         MAX(CASE WHEN r = 1 THEN s END) AS cos_top1,
        |         ((MAX(CASE WHEN r = 1 THEN s END)
        |           + MAX(CASE WHEN r = 2 THEN s END))
        |           + MAX(CASE WHEN r = 3 THEN s END))
        |           + MAX(CASE WHEN r = 4 THEN s END) AS suma
        |  FROM ra WHERE r <= 4 GROUP BY qid
        |), tb AS (
        |  SELECT cid,
        |         ((MAX(CASE WHEN r = 1 THEN s END)
        |           + MAX(CASE WHEN r = 2 THEN s END))
        |           + MAX(CASE WHEN r = 3 THEN s END))
        |           + MAX(CASE WHEN r = 4 THEN s END) AS sumb
        |  FROM rb WHERE r <= 4 GROUP BY cid
        |)
        |SELECT ta.qid, ta.cid, ta.cos_top1,
        |       ROUND(ta.cos_top1 /
        |             ((ta.suma / 4.0 + tb.sumb / 4.0) / 2.0), 6) AS margin
        |FROM ta JOIN tb ON tb.cid = ta.cid
        |ORDER BY margin DESC, qid LIMIT 20""".stripMargin,
    ) { (s, dir) => marginMining(Tables(s, dir).embeddings, k = 4, topN = 20) },
  )

  /** Margin-based cross-side pair mining (q209): sides = even vs odd
    * labels (standing in for two languages), each side-A vector's
    * top-1 side-B neighbor scored by the RATIO margin
    * `cos(x,y) / ((avgTop4(x→B) + avgTop4(y→A)) / 2)` — the hubness
    * correction bitext mining runs instead of raw cosine. Top-4 sums
    * are built from the heap's rank-ordered elements with PINNED
    * parenthesization (((s1+s2)+s3)+s4), so both engines add the same
    * rounded doubles in the same order; k must not exceed either
    * side's size.
    *
    * Scale shape: one cross-side scoring pass feeds BOTH k-bounded
    * heap aggregations (persisted, so it is computed once); shuffle
    * volume after scoring is |side|·k per direction — the scoring
    * itself is the quadratic exact baseline, with the IVF multi-assign
    * path (q170/q191) as the declared swap at corpus scale.
    */
  def marginMining(emb: DataFrame, k: Int, topN: Int): DataFrame = {
    val a = emb.filter(pmod(col("label"), lit(2)) === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val b = emb.filter(pmod(col("label"), lit(2)) === 1)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val scored = graft.TransientCaches.persist(a.crossJoin(b)
      .select(col("qid"), col("cid"),
        round(GraftFunctions.cosineF32(col("qv"), col("cv")), 6).as("s")))
    def top4Sum(nn: Column): Column =
      ((nn(0).getField("score") + nn(1).getField("score")) +
        nn(2).getField("score")) + nn(3).getField("score")
    val ta = scored.groupBy("qid")
      .agg(GraftFunctions.topkScoreId(col("s"), col("cid"), k).as("nn"))
      .select(col("qid"), col("nn")(0).getField("id").as("cid"),
        col("nn")(0).getField("score").as("cos_top1"),
        top4Sum(col("nn")).as("suma"))
    val tb = scored.groupBy("cid")
      .agg(GraftFunctions.topkScoreId(col("s"), col("qid"), k).as("nn"))
      .select(col("cid"), top4Sum(col("nn")).as("sumb"))
    ta.join(tb, "cid")
      .select(col("qid"), col("cid"), col("cos_top1"),
        round(col("cos_top1") /
          ((col("suma") / lit(4.0) + col("sumb") / lit(4.0)) / lit(2.0)), 6)
          .as("margin"))
      .orderBy(col("margin").desc, col("qid"))
      .limit(topN)
  }

  /** Top-k cross-label neighbors per probe (hard negatives). The probe
    * frame carries (probe_id, pvec, plabel); negatives exclude the
    * probe itself and anything sharing its label. Labels rejoin the
    * heap output by vec_id (the heap payload stays a bare id so the
    * k-bounded [[GraftFunctions.topkScoreId]] buffer is reused as-is).
    */
  def hardNegatives(emb: DataFrame, probes: DataFrame, k: Int,
      maxProbes: Long = 100000L): DataFrame = {
    val n = probes.count()
    require(n <= maxProbes,
      s"hardNegatives broadcasts the probe batch: $n probes exceeds " +
        s"maxProbes=$maxProbes — stage probes through Ivf.annSearch instead")
    val ranked = emb.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id") && col("label") =!= col("plabel"))
      .select(col("probe_id"),
        col("vec_id"),
        round(GraftFunctions.cosineF32(col("embedding"), col("pvec")), 6).as("score"))
      .groupBy("probe_id")
      .agg(GraftFunctions.topkScoreId(col("score"), col("vec_id"), k).as("nn"))
      .select(col("probe_id"), posexplode(col("nn")))
      .select(col("probe_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("vec_id"), col("col.score").as("score"))
    ranked
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
      .select(col("probe_id"), col("rank"), col("vec_id"), col("label"), col("score"))
      .orderBy("probe_id", "rank")
  }
}
