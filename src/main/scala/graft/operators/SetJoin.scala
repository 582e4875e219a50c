package graft.operators

import graft.{QueryEntry, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.DataFrame

/** EXACT set-similarity self-join (token-set Jaccard ≥ τ) via prefix
  * filtering — the deterministic complement to MinHash-LSH
  * ([[Dedup]]): no hash choices, no miss probability; every
  * qualifying pair is found, with the candidate space cut by the
  * prefix-filter principle (Chaudhuri et al. ICDE'06 / Xiao et al.
  * WWW'08 "PPJoin", prefix filter only — the position filter is
  * documented future work, not needed for correctness).
  *
  * Principle: order every set by GLOBAL token rarity (ascending
  * document frequency, term as tie-break); a set of size l keeps only
  * its first `l - ceil(τ·l) + 1` tokens as its prefix. Two sets with
  * Jaccard ≥ τ must share at least one prefix token, so a shuffle
  * equi-join on prefix tokens yields a complete candidate set;
  * candidates are verified with an exact intersect over the full
  * sorted arrays, thresholded in INTEGER arithmetic (5·inter ≥ 4·uni
  * for τ = 0.8 — no float compare anywhere).
  *
  * Scale shape: document frequencies are one map-side-combined
  * groupBy; the rarity sort is a per-doc `collect_list` + array sort
  * (arrays bounded by document length, never corpus size); the join
  * key is the rarest-token prefix, whose frequency is LOW by
  * construction — the hot common tokens (the skew killers of a naive
  * token join) never appear in any prefix, which is the whole point of
  * rarity ordering. Verification joins carry arrays only for
  * LSH-style candidate counts, not all pairs.
  */
object SetJoin {

  /** (doc_id, toks, len): distinct 3-gram shingle set per doc
    * ([[Dedup.shingles]] — the dedup family's set unit; raw token sets
    * barely discriminate, shingles carry order), ordered by ascending
    * global document frequency then term.
    */
  private def raritySortedSets(docs: DataFrame): DataFrame = {
    val termDoc = docs
      .select(col("doc_id"), explode(Dedup.shingles(col("text"))).as("term"))
    val freq = termDoc.groupBy("term").agg(count(lit(1)).as("df"))
    termDoc.join(freq, "term")
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("df"), col("term")))).as("ranked"))
      .select(col("doc_id"),
        transform(col("ranked"), r => r.getField("term")).as("toks"),
        size(col("ranked")).as("len"))
  }

  /** All pairs with token-set Jaccard ≥ num/den (integer threshold),
    * emitted as (doc_a, doc_b, inter, uni). Empty sets never pair
    * (a 0/0 Jaccard is undefined, not 1).
    */
  def jaccardSelfJoin(docs: DataFrame, num: Int, den: Int): DataFrame = {
    // the set frame feeds the prefix pass AND both verify joins — one
    // tokenize+rank pass instead of three. Pinned through
    // TransientCaches (returned frame is lazy; release after
    // materializing — the bench loop releases after every query).
    val sets = graft.TransientCaches.persist(raritySortedSets(docs))
    // prefix length for tau = num/den: l - ceil(tau*l) + 1, in integer
    // arithmetic: ceil(num*l/den) = floor((num*l + den - 1)/den)
    val prefixLen = (col("len") - floor((lit(num) * col("len") + den - 1) / den) + 1)
      .cast(IntegerType)
    val prefixes = sets.filter(col("len") > 0)
      .select(col("doc_id"), explode(slice(col("toks"), lit(1), prefixLen)).as("term"))
    val cand = prefixes.select(col("term"), col("doc_id").as("doc_a"))
      .join(prefixes.select(col("term"), col("doc_id").as("doc_b")), "term")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val inter = size(array_intersect(col("ta"), col("tb")))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("toks").as("ta"), col("len").as("la")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("toks").as("tb"), col("len").as("lb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        inter.cast(LongType).as("inter"),
        (col("la") + col("lb") - inter).cast(LongType).as("uni"))
      .filter(col("inter") * den >= col("uni") * num && col("uni") > 0)
      .orderBy("doc_a", "doc_b")
  }

  def entries: Seq[QueryEntry] = Seq(
    // q139 — exact Jaccard ≥ 0.8 self-join over distinct shingle sets;
    // the oracle re-derives the pair set in INVERTED-INDEX form
    // ([[Dedup.invertedPairsSql]] — exact and bounded by posting
    // lists, the q166 timeout-retirement precedent: the former
    // all-pairs cross join exceeded the sf1 sweep's 1800 s), so any
    // pair the prefix filter wrongly prunes still fails the gate. A
    // uni = 0 pair cannot arise in either form: shingle lists are
    // never empty, so the old `uni > 0` guard is vacuous.
    QueryEntry.sql(
      "q139_jaccard_join",
      s"""WITH ${Dedup.shCteSql}, ${Dedup.invertedPairsSql(4, 5)}
        |SELECT doc_a, doc_b, inter, uni FROM pairs
        |ORDER BY doc_a, doc_b""".stripMargin,
    ) { (s, dir) =>
      jaccardSelfJoin(Tables(s, dir).documentsRebalanced, num = 4, den = 5)
    },

    // q249 — dedup THRESHOLD sweep over τ ∈ {0.8, 0.96, 0.98}: pair
    // volume and touched-document count per threshold — the tuning
    // curve a dedup deployment reads before pinning τ (too low eats
    // real content, too high leaves templates; the curve's knee is the
    // evidence). Three exact prefix-filtered self-joins; DuckDB
    // re-derives each pair set in inverted-index form and must match
    // every count.
    QueryEntry.sql(
      "q249_dedup_threshold_sweep",
      Seq((4, 5), (24, 25), (49, 50)).map { case (num, den) =>
        s"""SELECT * FROM (
           |WITH ${Dedup.shCteSql}, ${Dedup.invertedPairsSql(num, den)},
           |d AS (
           |  SELECT COUNT(DISTINCT d) AS nd FROM (
           |    SELECT doc_a AS d FROM pairs
           |    UNION ALL SELECT doc_b FROM pairs) t
           |)
           |SELECT ROUND($num * 1.0 / $den, 2) AS tau,
           |       (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_pairs,
           |       CAST(d.nd AS BIGINT) AS n_docs_in_pairs
           |FROM d
           |)""".stripMargin
      }.mkString("\nUNION ALL\n") + "\nORDER BY tau",
    ) { (s, dir) =>
      thresholdSweep(Tables(s, dir).documentsRebalanced,
        Seq((4, 5), (24, 25), (49, 50)))
    },
  )

  /** Dedup threshold sweep (q249): one exact prefix-filtered set join
    * per τ, each reporting pair volume + distinct documents touched.
    */
  def thresholdSweep(docs: DataFrame,
      taus: Seq[(Int, Int)]): DataFrame =
    taus.map { case (num, den) =>
      val p = graft.TransientCaches.persist(
        jaccardSelfJoin(docs, num, den).select("doc_a", "doc_b"))
      val np = p.agg(count(lit(1)).as("n_pairs"))
      val nd = p.select(col("doc_a").as("d"))
        .union(p.select(col("doc_b").as("d")))
        .agg(countDistinct("d").as("nd"))
      np.crossJoin(nd).select(
        round(lit(num) * lit(1.0) / den, 2).as("tau"),
        col("n_pairs").cast(LongType).as("n_pairs"),
        col("nd").cast(LongType).as("n_docs_in_pairs"))
    }.reduce(_ union _).orderBy("tau")

  /** The τ = num/den exact pair set over `documentsRebalanced`, STAGED
    * once per fixture fingerprint (the q185 index idiom; r11 VERDICT
    * item 2): consumers whose real work sits DOWNSTREAM of the pair
    * set — q261's k-core peel, q259's b-bit sketch comparison — pay
    * the prefix-filtered self-join once per fixture, not once per run.
    * Same columns as [[jaccardSelfJoin]] (doc_a, doc_b, inter, uni);
    * row order is NOT preserved through the parquet round-trip, so
    * callers needing order must sort (both current consumers are
    * order-insensitive joins/rollups). At 100 TB this is the standard
    * materialized-edge-list pattern: the near-dup graph is built by
    * the dedup pipeline anyway, and graph analytics read the staged
    * edges instead of re-deriving them per query.
    */
  def jaccardPairsStaged(spark: org.apache.spark.sql.SparkSession,
      dir: String, num: Int, den: Int): DataFrame = {
    val staged = graft.sources.Staging.fingerprintPath(
      "graft_setjoin_pairs", dir, "documents.parquet", s"jacc_${num}_${den}_v1")
    graft.sources.Staging.ensureStaged(staged) {
      jaccardSelfJoin(graft.Tables(spark, dir).documentsRebalanced, num, den)
        .write.mode("overwrite").parquet(s"$staged/pairs")
      graft.sources.Staging.touch(staged)
    }
    spark.read.parquet(s"$staged/pairs")
  }
}
