package graft.operators

import graft.{QueryEntry, Tables}
import graft.sources.TokenizedCorpus
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Collocation / association-strength operators over the corpus: PMI
  * bigram extraction (the classic collocation detector — Church &
  * Hanks, CL'90) and categorical mutual information between two
  * metadata columns. Both are training-data curation tools: PMI
  * surfaces multi-word expressions worth preserving through
  * tokenization; MI quantifies how much one metadata facet predicts
  * another (a leakage / stratification check before splits).
  *
  * Scale shape: everything is counts. The bigram pass is one window
  * (`lead` over the staged (doc_id, pos, term) token table —
  * [[TokenizedCorpus]], tokenize-once) feeding a map-side-combined
  * groupBy; unigram counts come from the same table; the two scalar
  * totals ride in as 1-row broadcast joins. Nothing holds state beyond
  * a count row, so the plan is the same at 100 TB — three shuffles
  * (bigram count, unigram count, count-to-count join on `term`), all
  * key-partitioned, no row ever carries an array.
  *
  * Float discipline (FIXTURES.md rule): the PMI ratio is assembled
  * from counts with an EXPLICIT multiplication order, one division and
  * one `ln`, identical text in the DuckDB mirror — IEEE doubles make
  * the result bit-equal across engines; ROUND(,6) before ranking
  * absorbs the ulp the two `ln` libms may differ by.
  */
object Colloc {

  /** Association columns for a (c_xy, c_x, c_y, n_pair, n_unit) count
    * frame: pointwise mutual information with the fixed evaluation
    * order documented above.
    */
  private def pmiCol(cXy: Column, cX: Column, cY: Column, nPair: Column, nUnit: Column): Column =
    log(
      (cXy.cast(DoubleType) * nUnit.cast(DoubleType) * nUnit.cast(DoubleType)) /
        (nPair.cast(DoubleType) * cX.cast(DoubleType) * cY.cast(DoubleType)))

  /** Top-k adjacent-bigram collocations by PMI (min-count filtered so a
    * singleton hapax pair cannot top the list on pure rarity).
    */
  def pmiBigrams(tokens: DataFrame, minCount: Int, k: Int): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val uni = tokens.groupBy(col("term")).agg(count(lit(1)).as("c"))
    val nTok = uni.agg(sum("c").as("n_tok"))
    // persisted: the total-count scalar and the main pipeline both read
    // this frame — without the persist the corpus window pass runs
    // twice (the q163 lesson). Bigram-TYPE-sized (observed vocab
    // pairs), far below corpus scale.
    val bigc = graft.TransientCaches.persist(
      tokens
        .select(col("term").as("x"), lead("term", 1).over(byDoc).as("y"))
        .filter(col("y").isNotNull)
        .groupBy("x", "y").agg(count(lit(1)).as("n_xy")))
    val nBig = bigc.agg(sum("n_xy").as("n_big"))
    bigc
      .filter(col("n_xy") >= minCount)
      .join(uni.select(col("term"), col("c").as("cx")), col("x") === col("term")).drop("term")
      .join(uni.select(col("term"), col("c").as("cy")), col("y") === col("term")).drop("term")
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nBig))
      .select(col("x"), col("y"), col("n_xy"),
        round(pmiCol(col("n_xy"), col("cx"), col("cy"), col("n_big"), col("n_tok")), 6)
          .as("pmi"))
      .orderBy(desc("pmi"), col("x"), col("y"))
      .limit(k)
  }

  /** Per-cell mutual-information contributions between two categorical
    * columns — emitted as rows (one per observed (a, b) cell) rather
    * than a summed scalar, so no cross-row double summation ever
    * happens and each cell is independently oracle-checkable. The
    * total MI is the sum of `mi_contrib` (DECIMAL-safe downstream if a
    * caller wants the scalar).
    */
  def miCells(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("n_ab"))
    val ca = df.groupBy(col(aCol).as("a")).agg(count(lit(1)).as("n_a"))
    val cb = df.groupBy(col(bCol).as("b")).agg(count(lit(1)).as("n_b"))
    val n = df.agg(count(lit(1)).as("n"))
    cells.join(ca, "a").join(cb, "b").crossJoin(broadcast(n))
      .select(col("a"), col("b"), col("n_ab"),
        round(
          (col("n_ab").cast(DoubleType) / col("n").cast(DoubleType)) *
            log((col("n_ab").cast(DoubleType) * col("n").cast(DoubleType)) /
              (col("n_a").cast(DoubleType) * col("n_b").cast(DoubleType))), 6)
          .as("mi_contrib"))
      .orderBy("a", "b")
  }

  def entries: Seq[QueryEntry] = Seq(
    // q134 — top-40 PMI bigram collocations (count >= 3). The oracle
    // re-tokenizes from `documents` independently (q101 style) — the
    // staged token table sits UNDER the differential gate.
    QueryEntry.sql(
      "q134_pmi_collocations",
      """WITH tok AS (
        |  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
        |), unic AS (
        |  SELECT term, COUNT(*) AS c
        |  FROM (SELECT unnest(t) AS term FROM tok) GROUP BY term
        |), tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tok FROM unic),
        |bigc AS (
        |  SELECT x, y, COUNT(*) AS n_xy
        |  FROM (SELECT t[i] AS x, t[i + 1] AS y
        |        FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i FROM tok))
        |  GROUP BY x, y
        |), btot AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n_big FROM bigc)
        |SELECT b.x, b.y, CAST(b.n_xy AS BIGINT) AS n_xy,
        |       ROUND(ln((CAST(b.n_xy AS DOUBLE) * CAST(t.n_tok AS DOUBLE) * CAST(t.n_tok AS DOUBLE))
        |             / (CAST(bt.n_big AS DOUBLE) * CAST(cx.c AS DOUBLE) * CAST(cy.c AS DOUBLE))), 6)
        |         AS pmi
        |FROM bigc b
        |JOIN unic cx ON b.x = cx.term
        |JOIN unic cy ON b.y = cy.term
        |CROSS JOIN tot t CROSS JOIN btot bt
        |WHERE b.n_xy >= 3
        |ORDER BY pmi DESC, b.x, b.y LIMIT 40""".stripMargin,
    ) { (s, dir) =>
      pmiBigrams(TokenizedCorpus.tokens(s, dir), minCount = 3, k = 40)
    },

    // q135 — lang x source mutual-information cells over `documents`.
    QueryEntry.sql(
      "q135_mutual_information",
      """WITH cells AS (
        |  SELECT lang AS a, source AS b, COUNT(*) AS n_ab FROM documents GROUP BY 1, 2
        |), ca AS (SELECT lang AS a, COUNT(*) AS n_a FROM documents GROUP BY 1),
        |cb AS (SELECT source AS b, COUNT(*) AS n_b FROM documents GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n FROM documents)
        |SELECT c.a, c.b, CAST(c.n_ab AS BIGINT) AS n_ab,
        |       ROUND((CAST(c.n_ab AS DOUBLE) / CAST(t.n AS DOUBLE)) *
        |             ln((CAST(c.n_ab AS DOUBLE) * CAST(t.n AS DOUBLE))
        |                / (CAST(ca.n_a AS DOUBLE) * CAST(cb.n_b AS DOUBLE))), 6) AS mi_contrib
        |FROM cells c JOIN ca ON c.a = ca.a JOIN cb ON c.b = cb.b CROSS JOIN tot t
        |ORDER BY c.a, c.b""".stripMargin,
    ) { (s, dir) =>
      miCells(Tables(s, dir).documentsRebalanced, "lang", "source")
    },
  )
}
