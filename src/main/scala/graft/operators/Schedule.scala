package graft.operators

import graft.{QueryEntry, Tables}
import graft.functions.GraftFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DoubleType, LongType}

/** Multi-epoch mixing schedule — the Llama/Dolma-style computation
  * that turns per-source token counts + quality weights + a token
  * budget into "how many epochs of each source do we train on",
  * under a max-repeat cap: capped water-filling. Desired share is
  * proportional to the source's quality weight; sources whose implied
  * epochs exceed R = 4 are pinned at the cap and their budget
  * redistributes to the rest — three fixed redistribution rounds (the
  * q277 fixed-iteration posture: the OUTPUT is "after 3 rounds", which
  * both engines walk identically; 3 rounds saturate on ≤ 20 sources).
  *
  * The fixture's sources are near-uniform, so quality weights are
  * skewed deterministically by 1 + md5₆₀(source) mod 5 (the planted-
  * input precedent) — without it no source ever caps and the
  * redistribution is untested identity.
  *
  * Determinism: tokens, weights, budget, and capped-token sums are
  * exact integers; each round's epoch test and the final two outputs
  * are single double expressions evaluated in identical term order.
  * Budget conservation (Σ alloc = B up to per-source rounding) is
  * pinned in Round10cSpec.
  *
  * Scale shape: ONE pass over the corpus (per-doc token count +
  * quality grid score, source-grouped), then |sources|-sized rounds.
  */
object Schedule {

  private val S = 1000000L
  private val R = 4 // max epochs per source
  private val Rounds = 3

  def epochSchedule(docs: DataFrame): DataFrame = {
    // |sources| rows; flat plans for the rounds
    val per = graft.TransientCaches.localCheckpoint(docs
      .select(col("source"),
        size(TextAnalysis.tokens(col("text"))).cast(LongType).as("nt"),
        round(TextAnalysis.qualityScore(
          TextAnalysis.tokens(col("text")), col("n_chars")) * S, 0)
          .cast(LongType).as("si"))
      .groupBy("source")
      .agg(sum("nt").as("t"), sum("si").as("w"))
      .select(col("source"), col("t"),
        (col("w") * (pmod(GraftFunctions.md5Long(
          col("source").cast(BinaryType)), lit(5L)) + 1)).as("we")))
    val scal = per.agg((sum("t") * 3).cast(LongType).as("b"))
    val c0 = graft.TransientCaches.localCheckpoint(
      per.select(col("source"), col("t"), col("we"), lit(false).as("c")))
    def caps(p: DataFrame): DataFrame =
      p.agg(sum(when(col("c"), col("t")).otherwise(0L)).cast(LongType).as("capt"),
        sum(when(!col("c"), col("we")).otherwise(0L)).cast(LongType).as("wu"))
    def eExpr: org.apache.spark.sql.Column =
      (col("b") - lit(R) * col("capt")).cast(DoubleType) * col("we") /
        col("wu") / col("t")
    val cFinal = (1 to Rounds).foldLeft(c0) { (p, _) =>
      graft.TransientCaches.localCheckpoint(
        p.crossJoin(broadcast(caps(p))).crossJoin(broadcast(scal))
          .select(col("source"), col("t"), col("we"),
            (col("c") || eExpr >= R.toDouble).as("c")))
    }
    cFinal.crossJoin(broadcast(caps(cFinal))).crossJoin(broadcast(scal))
      .select(col("source"), col("t").as("n_tokens"), col("we").as("weight"),
        col("c").as("capped"),
        round(when(col("c"), lit(R.toDouble)).otherwise(eExpr), 6).as("epochs"),
        round(when(col("c"), lit(R.toDouble) * col("t"))
          .otherwise((col("b") - lit(R) * col("capt")).cast(DoubleType)
            * col("we") / col("wu")), 0).cast(LongType).as("alloc_tokens"))
      .orderBy("source")
  }

  private val sql: String = {
    val base =
      s"""WITH tok AS (
         |  SELECT source, n_chars,
         |         regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
         |  FROM documents
         |), per AS MATERIALIZED (
         |  SELECT source, CAST(SUM(len(toks)) AS BIGINT) AS t,
         |         CAST(SUM(si) AS BIGINT)
         |           * (1 + CAST('0x' || substr(md5(source), 1, 15) AS BIGINT) % 5)
         |           AS we
         |  FROM (SELECT source, len(toks) AS ignored, toks,
         |               CAST(ROUND((${TextAnalysis.qualityScoreSql
                    .linesIterator.mkString(" ")}) * ${S}.0, 0) AS BIGINT) AS si
         |        FROM tok) x
         |  GROUP BY source
         |), scal AS (SELECT CAST(3 * SUM(t) AS BIGINT) AS b FROM per),
         |c0 AS MATERIALIZED (SELECT source, t, we, FALSE AS c FROM per)""".stripMargin
    val rounds = (1 to Rounds).map { k =>
      val prev = s"c${k - 1}"
      s""", r$k AS (
         |  SELECT COALESCE(SUM(CASE WHEN c THEN t END), 0) AS capt,
         |         SUM(CASE WHEN NOT c THEN we END) AS wu
         |  FROM $prev
         |), c$k AS MATERIALIZED (
         |  SELECT source, t, we,
         |         (c OR (CAST(b - $R * capt AS DOUBLE) * we / wu / t
         |                >= ${R}.0)) AS c
         |  FROM $prev, r$k, scal
         |)""".stripMargin
    }.mkString
    s"""$base$rounds, rf AS (
       |  SELECT COALESCE(SUM(CASE WHEN c THEN t END), 0) AS capt,
       |         SUM(CASE WHEN NOT c THEN we END) AS wu
       |  FROM c$Rounds
       |)
       |SELECT source, t AS n_tokens, we AS weight, c AS capped,
       |       ROUND(CASE WHEN c THEN ${R}.0
       |             ELSE CAST(b - $R * capt AS DOUBLE) * we / wu / t END, 6)
       |         AS epochs,
       |       CAST(ROUND(CASE WHEN c THEN ${R}.0 * t
       |             ELSE CAST(b - $R * capt AS DOUBLE) * we / wu END, 0)
       |            AS BIGINT) AS alloc_tokens
       |FROM c$Rounds, rf, scal ORDER BY source""".stripMargin
  }

  val entries: Seq[QueryEntry] = Seq(
    // q281 — capped water-filling epoch schedule; DuckDB replays the
    // weight skew, all three redistribution rounds, and both final
    // expressions — a drifted cap decision breaks the hash.
    QueryEntry.sql("q281_epoch_schedule", sql) { (s, dir) =>
      epochSchedule(Tables(s, dir).documentsRebalanced)
    },
  )
}
