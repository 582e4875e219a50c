package graft.operators

import graft.functions.GraftFunctions
import graft.{QueryEntry, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame}

/** KMV (k-minimum-values / bottom-k) distinct-count sketch — the
  * third cardinality estimator in the engine next to exact
  * `COUNT(DISTINCT)` (q11) and HyperLogLog (q35/q62), and the only one
  * whose sketch CONTENT is itself mergeable set state: the k smallest
  * distinct hash values double as a uniform sample of the key space,
  * so two tables' sketches union into a set-operation estimate
  * (|A∪B|, and Jaccard via the shared bottom-k) — the property HLL
  * registers lack. Estimator: with h ~ U(0,1) per distinct key, the
  * k-th smallest distinct hash h₍ₖ₎ estimates k/|D|, so
  * `|D| ≈ (k-1)/h₍ₖ₎` (the unbiased Beta-order-statistic form,
  * Bar-Yossef et al., RANDOM'02).
  *
  * Scale shape: each input task keeps a k-bounded ordered set and
  * emits ≤ k rows — duplicates collapse inside the task and nothing
  * resembling the distinct key set ever crosses the wire (the whole
  * point vs `COUNT(DISTINCT)`'s full shuffle of distinct keys). The
  * global combine then dedups and orders ≤ k·P rows (P = input
  * tasks), a frame bounded by parallelism, not data. The same bound
  * argument as the reference's fixed-width DPU aggregation buffers
  * (`dpu/task.c` accumulators): per-worker state is CONSTANT in rows
  * scanned.
  */
object Kmv {

  val K = 64
  /** 16^15 — the first 15 hex digits of an md5 as a fraction of the
    * full 60-bit space; 15 digits keep the integer form exact in a
    * signed 64-bit long (16 would not).
    */
  private val HexSpace = 1152921504606846976.0

  /** The k lexicographically-smallest DISTINCT md5 hashes of `key`,
    * one ≤k-row frame. md5-hex ordering IS uniform-fraction ordering
    * (hex strings of equal length compare like their numeric value).
    *
    * Runs on the [[org.apache.spark.sql.graft.KmvSketch]] native
    * aggregate (partial/final ObjectHashAggregate, k-bounded buffer
    * per map task) rather than a mapPartitions pass: same bound, but
    * composable — the grouped form ([[groupedDistinctEstimate]]) is
    * the identical aggregate under a groupBy, and Catalyst sees a
    * declarative aggregate instead of an opaque lambda.
    */
  def bottomK(df: DataFrame, key: String, k: Int = K): DataFrame =
    df
      // NULL keys have no hash and are excluded (the COUNT(DISTINCT)
      // convention both estimators compare against) — the aggregate
      // skips NULL inputs, matching this filter by construction
      .select(md5(col(key).cast(StringType)).as("h"))
      .agg(GraftFunctions.kmvSketch(col("h"), k).as("sk"))
      .select(explode(col("sk")).as("h"))
      .orderBy("h")

  /** One-row sketch report: the estimate next to the exact count (the
    * reference's USE_PIM differential stance applied to an estimator —
    * ship the sketch AND its ground truth so the error is a measured
    * column, not a claim). The exact side costs one extra scan and
    * exists only for the report; a production caller reads `estimate`.
    */
  def distinctEstimate(df: DataFrame, key: String, k: Int = K): DataFrame = {
    val bot = bottomK(df, key, k)
    val agg = bot.agg(count(lit(1)).as("kept"), max("h").as("kth"))
    val exact = df.agg(countDistinct(col(key)).as("exact"))
    agg.crossJoin(exact)
      .withColumn("frac",
        conv(substring(col("kth"), 1, 15), 16, 10).cast(LongType) / HexSpace)
      .select(
        lit(k).as("k"),
        col("kept"),
        col("kth").as("kth_hash"),
        round(when(col("kept") < k, col("kept").cast(DoubleType))
          .otherwise(lit(k - 1.0) / col("frac")), 6).as("estimate"),
        col("exact"),
      )
      // exact = 0 (empty input) leaves rel_err NULL rather than a
      // divide-by-zero (ANSI mode throws; the guard is the contract)
      .withColumn("rel_err",
        when(col("exact") > 0,
          round(abs(col("estimate") - col("exact")) / col("exact"), 4)))
  }

  /** The KMV estimator column: kept < k ⇒ the sketch IS the distinct
    * set (exact); else (k−1)/h₍ₖ₎ with the hash read as a fraction of
    * the 60-bit space. Shared by the table-level and grouped reports.
    */
  private def estimateCol(kept: Column, kth: Column, k: Int): Column =
    round(when(kept < k, kept.cast(DoubleType))
      .otherwise(lit(k - 1.0) /
        (conv(substring(kth, 1, 15), 16, 10).cast(LongType) / HexSpace)), 6)

  /** Per-group distinct estimation — the form the mapPartitions
    * bottom-k could never take: ONE [[org.apache.spark.sql.graft.KmvSketch]]
    * aggregate under `groupBy(groupCol)` (k-bounded buffer per (group,
    * map task); merge = union-keep-k, exactly the union's sketch), so
    * shuffle volume is ≤ k hashes per group per map task — never the
    * distinct key sets a `COUNT(DISTINCT)` shuffle carries. The exact
    * side is the same differential ground truth q111 ships (one extra
    * scan, report-only).
    */
  def groupedDistinctEstimate(df: DataFrame, groupCol: String, key: String,
      k: Int = K): DataFrame = {
    val sk = df
      .select(col(groupCol).as("g"), md5(col(key).cast(StringType)).as("h"))
      .groupBy("g")
      .agg(GraftFunctions.kmvSketch(col("h"), k).as("sk"))
    val exact = df.groupBy(col(groupCol).as("ge"))
      .agg(countDistinct(col(key)).as("exact"))
    sk.join(exact, col("g") === col("ge"))
      .select(
        col("g").as(groupCol),
        lit(k).as("k"),
        size(col("sk")).cast(LongType).as("kept"),
        element_at(col("sk"), -1).as("kth_hash"),
        estimateCol(size(col("sk")).cast(LongType), element_at(col("sk"), -1), k)
          .as("estimate"),
        col("exact"),
      )
      .withColumn("rel_err",
        when(col("exact") > 0,
          round(abs(col("estimate") - col("exact")) / col("exact"), 4)))
      .orderBy(groupCol)
  }

  /** KMV set-operation estimates — the property that makes bottom-k
    * worth carrying next to HLL: two sketches over the same key domain
    * merge by "union, keep the k smallest", and the merged sketch is
    * exactly the sketch of the UNION. Jaccard is then the match rate
    * inside the merged bottom-k (h ∈ bottom-k(A∪B) ∧ h ∈ A ⟹ h ∈
    * bottom-k(A), so side membership is decidable from the two
    * sketches alone — Beyer et al., SIGMOD'07).
    *
    * Scale shape: each input pays its own bottom-k pass (k-bounded
    * task state, §[[bottomK]]); everything after operates on ≤ 3k rows
    * of sketch — the merge, flags, and estimates would cost the same
    * over two 100 TB tables. The exact intersection/union counts in
    * the report are the differential ground truth (one distinct join),
    * present for the same reason q111 carries `exact`.
    */
  def jaccardSketch(a: DataFrame, keyA: String, b: DataFrame, keyB: String,
      k: Int = K): DataFrame = {
    val sa = bottomK(a, keyA, k).withColumnRenamed("h", "ha")
    val sb = bottomK(b, keyB, k).withColumnRenamed("h", "hb")
    val merged = sa.select(col("ha").as("h"))
      .unionByName(sb.select(col("hb").as("h")))
      .distinct().orderBy("h").limit(k)
    val sketch = merged
      .join(broadcast(sa), col("h") === col("ha"), "left")
      .join(broadcast(sb), col("h") === col("hb"), "left")
      .agg(
        count(lit(1)).as("kept"),
        max("h").as("kth"),
        sum(when(col("ha").isNotNull && col("hb").isNotNull, 1L)
          .otherwise(0L)).as("matches"),
      )
    val ak = a.select(col(keyA).cast(StringType).as("key")).distinct()
    val bk = b.select(col(keyB).cast(StringType).as("key")).distinct()
    val exact = ak.join(bk, Seq("key")).agg(count(lit(1)).as("ni"))
      .crossJoin(ak.unionByName(bk).distinct().agg(count(lit(1)).as("nu")))
    sketch.crossJoin(broadcast(exact))
      .withColumn("frac",
        conv(substring(col("kth"), 1, 15), 16, 10).cast(LongType) / HexSpace)
      .select(
        lit(k).as("k"),
        col("kept"),
        col("matches"),
        when(col("kept") > 0, round(col("matches") / col("kept"), 6))
          .as("jaccard_est"),
        when(col("nu") > 0, round(col("ni") / col("nu"), 6))
          .as("jaccard_exact"),
        round(when(col("kept") < k, col("kept").cast(DoubleType))
          .otherwise(lit(k - 1.0) / col("frac")), 6).as("union_est"),
        col("nu").as("union_exact"),
      )
      // both-empty inputs leave the ratios NULL (ANSI divide-by-zero
      // guard), not an error
      .withColumn("jaccard_abs_err",
        round(abs(col("jaccard_est") - col("jaccard_exact")), 4))
  }

  val entries: Seq[QueryEntry] = Seq(
    // KMV distinct-order-count over lineitem: DuckDB re-derives the
    // full bottom-64 distinct-hash set, the order statistic, and the
    // estimator — estimate, exact, and relative error must all agree.
    QueryEntry.sql(
      "q111_kmv_distinct",
      s"""WITH hs AS (
         |  SELECT DISTINCT md5(CAST(l_orderkey AS VARCHAR)) AS h FROM lineitem
         |), bot AS (SELECT h FROM hs ORDER BY h LIMIT $K),
         |agg AS (SELECT COUNT(*) AS kept, MAX(h) AS kth FROM bot),
         |ex AS (SELECT COUNT(DISTINCT l_orderkey) AS exact FROM lineitem),
         |est AS (
         |  SELECT CAST($K AS INTEGER) AS k, CAST(kept AS BIGINT) AS kept,
         |         kth AS kth_hash,
         |         ROUND(CASE WHEN kept < $K THEN CAST(kept AS DOUBLE)
         |           ELSE ${K - 1}.0 /
         |                (CAST(CAST('0x' || substr(kth, 1, 15) AS BIGINT) AS DOUBLE)
         |                 / $HexSpace) END, 6) AS estimate,
         |         CAST(exact AS BIGINT) AS exact
         |  FROM agg, ex)
         |SELECT k, kept, kth_hash, estimate, exact,
         |       CASE WHEN exact > 0
         |            THEN ROUND(ABS(estimate - exact) / exact, 4) END AS rel_err
         |FROM est""".stripMargin,
    ) { (s, dir) =>
      distinctEstimate(Tables(s, dir).lineitem, "l_orderkey")
    },

    // Grouped KMV distinct-orderkey estimates per returnflag: the
    // native aggregate under a groupBy. DuckDB re-derives each group's
    // bottom-64 distinct-hash set via a window rank, the order
    // statistic, the estimator, and the exact ground truth.
    QueryEntry.sql(
      "q130_kmv_grouped",
      s"""WITH hs AS (
         |  SELECT DISTINCT l_returnflag AS g, md5(CAST(l_orderkey AS VARCHAR)) AS h
         |  FROM lineitem
         |), ranked AS (
         |  SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM hs
         |), agg AS (
         |  SELECT g, COUNT(*) AS kept, MAX(h) AS kth FROM ranked
         |  WHERE rn <= $K GROUP BY g
         |), ex AS (
         |  SELECT l_returnflag AS g, COUNT(DISTINCT l_orderkey) AS exact
         |  FROM lineitem GROUP BY 1
         |), est AS (
         |  SELECT a.g, CAST($K AS INTEGER) AS k, CAST(a.kept AS BIGINT) AS kept,
         |         a.kth AS kth_hash,
         |         ROUND(CASE WHEN a.kept < $K THEN CAST(a.kept AS DOUBLE)
         |           ELSE ${K - 1}.0 /
         |                (CAST(CAST('0x' || substr(a.kth, 1, 15) AS BIGINT) AS DOUBLE)
         |                 / $HexSpace) END, 6) AS estimate,
         |         CAST(ex.exact AS BIGINT) AS exact
         |  FROM agg a JOIN ex ON ex.g = a.g)
         |SELECT g AS l_returnflag, k, kept, kth_hash, estimate, exact,
         |       CASE WHEN exact > 0
         |            THEN ROUND(ABS(estimate - exact) / exact, 4) END AS rel_err
         |FROM est ORDER BY l_returnflag""".stripMargin,
    ) { (s, dir) =>
      groupedDistinctEstimate(Tables(s, dir).lineitem, "l_returnflag", "l_orderkey")
    },

    // Sketch-merged Jaccard between "customers who ordered in 1995"
    // and "customers in the BUILDING segment" — DuckDB re-derives both
    // bottom-64 sketches, the merged union sketch, the side-membership
    // flags, and the exact ground truth.
    QueryEntry.sql(
      "q117_kmv_jaccard",
      s"""WITH a_keys AS (
         |  SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS key
         |  FROM orders WHERE year(o_orderdate) = 1995
         |), b_keys AS (
         |  SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS key
         |  FROM customer WHERE c_mktsegment = 'BUILDING'
         |), bot_a AS (SELECT md5(key) AS h FROM a_keys ORDER BY h LIMIT $K),
         |bot_b AS (SELECT md5(key) AS h FROM b_keys ORDER BY h LIMIT $K),
         |merged AS (
         |  SELECT DISTINCT h FROM (
         |    SELECT h FROM bot_a UNION ALL SELECT h FROM bot_b)
         |  ORDER BY h LIMIT $K
         |), sk AS (
         |  SELECT COUNT(*) AS kept, MAX(m.h) AS kth,
         |         SUM(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL
         |                  THEN 1 ELSE 0 END) AS matches
         |  FROM merged m
         |  LEFT JOIN bot_a a ON a.h = m.h
         |  LEFT JOIN bot_b b ON b.h = m.h
         |), ex AS (
         |  SELECT (SELECT COUNT(*) FROM
         |            (SELECT key FROM a_keys INTERSECT SELECT key FROM b_keys)) AS ni,
         |         (SELECT COUNT(*) FROM
         |            (SELECT key FROM a_keys UNION SELECT key FROM b_keys)) AS nu
         |)
         |SELECT CAST($K AS INTEGER) AS k, CAST(kept AS BIGINT) AS kept,
         |       CAST(matches AS BIGINT) AS matches,
         |       CASE WHEN kept > 0 THEN ROUND(matches / kept, 6) END
         |         AS jaccard_est,
         |       CASE WHEN nu > 0 THEN ROUND(ni / nu, 6) END AS jaccard_exact,
         |       ROUND(CASE WHEN kept < $K THEN CAST(kept AS DOUBLE)
         |         ELSE ${K - 1}.0 /
         |              (CAST(CAST('0x' || substr(kth, 1, 15) AS BIGINT) AS DOUBLE)
         |               / $HexSpace) END, 6) AS union_est,
         |       CAST(nu AS BIGINT) AS union_exact,
         |       ROUND(ABS(CASE WHEN kept > 0 THEN ROUND(matches / kept, 6) END
         |                 - CASE WHEN nu > 0 THEN ROUND(ni / nu, 6) END), 4)
         |         AS jaccard_abs_err
         |FROM sk, ex""".stripMargin,
    ) { (s, dir) =>
      val t = Tables(s, dir)
      jaccardSketch(
        t.orders.filter(year(col("o_orderdate")) === 1995), "o_custkey",
        t.customer.filter(col("c_mktsegment") === "BUILDING"), "c_custkey")
    },

    // q259 — b-bit minwise hashing (Li & König, CACM 2011): keep only
    // the low b=4 bits of each of 32 MinHash permutations (8× sketch
    // compression vs 32-bit values) and estimate Jaccard from the
    // matched-bit rate with the collision bias correction
    // Ê = (C − 2⁻ᵇ)/(1 − 2⁻ᵇ) — here the exact rational
    // (matched − 2)/30. Permutation hashes are the PINNED md5₆₀ form
    // (the q91/q110/q246 pattern), so DuckDB re-derives every
    // signature, re-finds the exact pair set (inverted form, τ = 1/2),
    // and must agree on every matched count and estimate — estimator
    // QUALITY is the oracled output, next to the exact Jaccard it
    // approximates. Scale shape: signatures are one explode + one
    // map-side-combined 32-column MIN per doc (constant state/doc);
    // pairs come from the prefix-filtered exact join; the sketch
    // compare is a pair-bounded broadcast-free equi-join.
    QueryEntry.sql(
      "q259_bbit_minhash",
      {
        val perms = 0 until 32
        val sigCols = perms.map(i =>
          s"MIN(CAST('0x' || substr(md5('$i|' || g), 1, 15) AS BIGINT)) AS m$i")
          .mkString(",\n        |       ")
        val matchTerms = perms.map(i =>
          s"(CASE WHEN (a.m$i & 15) = (b.m$i & 15) THEN 1 ELSE 0 END)")
          .mkString("\n        |       + ")
        s"""WITH ${Dedup.shCteSql}, ${Dedup.invertedPairsSql(1, 2)},
        |exq AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
        |sigs AS (
        |  SELECT doc_id,
        |       $sigCols
        |  FROM exq GROUP BY doc_id
        |), scored AS (
        |  SELECT doc_a, doc_b, inter, uni,
        |       CAST($matchTerms AS INTEGER) AS matched
        |  FROM pairs JOIN sigs a ON a.doc_id = doc_a
        |             JOIN sigs b ON b.doc_id = doc_b
        |)
        |SELECT doc_a, doc_b,
        |       ROUND(inter * 1.0 / uni, 6) AS exact_j,
        |       matched,
        |       ROUND((matched - 2.0) / 30.0, 6) AS est_j
        |FROM scored ORDER BY doc_a, doc_b""".stripMargin
      },
    ) { (s, dir) =>
      val docs = Tables(s, dir).documentsRebalanced
      val perms = 0 until 32
      val ex = docs.select(col("doc_id"),
        explode(Dedup.shingles(col("text"))).as("g"))
      val sigCols = perms.map { i =>
        min(GraftFunctions.md5Long(
          concat(lit(s"$i|"), col("g")).cast(BinaryType))).as(s"m$i")
      }
      // persisted: the 32-permutation md5 signature build is the
      // query's dominant stage and BOTH pair sides consume it — the
      // a/b joins are keyed differently, so exchange reuse cannot
      // span them and the shingle explode + 32 MINs re-ran per side
      // (r15; the q275 multi-consumer persist lesson). Doc × 32 longs:
      // bounded per doc at any corpus scale.
      val sigs = graft.TransientCaches.persist(
        ex.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*))
      // staged τ ≥ 1/2 pair set (shared with q261; r11 VERDICT item 2)
      // — the entry's own work is the 32-permutation b-bit comparison
      val pairs = SetJoin.jaccardPairsStaged(s, dir, num = 1, den = 2)
      val matched = perms.map { i =>
        when(col(s"a.m$i").bitwiseAND(lit(15L)) ===
          col(s"b.m$i").bitwiseAND(lit(15L)), 1).otherwise(0)
      }.reduce(_ + _)
      pairs
        .join(sigs.as("a"), col("doc_a") === col("a.doc_id"))
        .join(sigs.as("b"), col("doc_b") === col("b.doc_id"))
        .select(col("doc_a"), col("doc_b"), col("inter"), col("uni"),
          matched.cast(IntegerType).as("matched"))
        .select(col("doc_a"), col("doc_b"),
          round(col("inter") * lit(1.0) / col("uni"), 6).as("exact_j"),
          col("matched"),
          round((col("matched").cast(DoubleType) - lit(2.0)) / lit(30.0), 6)
            .as("est_j"))
        .orderBy("doc_a", "doc_b")
    },
  )
}
