package graft.operators

import graft.{QueryEntry, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Corpus-balance operators: temperature-scaled source sampling (the
  * mBERT/XLM-R exponent trick that keeps high-resource sources from
  * drowning the tail) and the quality-vs-length Spearman audit (does
  * the quality score secretly just measure document length? — the
  * bias check a filter must pass before it gates 100 TB).
  *
  * Determinism: sampling weights pay one 6dp-rounded `ln` per source
  * and one 7dp-rounded `exp(τ·ln p)` (the q250 exp precedent);
  * Spearman runs entirely on INTEGER doubled average ranks (tie group
  * at cumulative c_before with c ties → doubled rank 2·c_before + c
  * + 1, exact), with HUGEINT/DECIMAL(38,0) moment sums and a single
  * rounded division at the end.
  *
  * Scale shape: q297 is one grouped count + |sources|×|τ| constant
  * work; q298 is two grouped histograms + per-lang GRID cumulative
  * windows (value-grid-bounded, never corpus-bounded) + two doc-keyed
  * rank joins + one moments rollup per lang.
  */
object Balance {

  private val S = 1000000L
  private val D7 = DecimalType(18, 7)
  private val TauPcts = Seq(30, 70, 100)

  /** Temperature-scaled source shares: p_s^τ renormalized, for
    * τ ∈ {0.3, 0.7, 1.0} — lower τ flattens the distribution.
    */
  def temperatureSampling(docs: DataFrame): DataFrame = {
    val per = docs
      .select(col("source"),
        size(TextAnalysis.tokens(col("text"))).cast(LongType).as("nt"))
      .groupBy("source").agg(sum("nt").as("t"))
    val tot = per.agg(sum("t").cast(LongType).as("tt"))
    val taus = docs.sparkSession.range(1)
      .select(explode(typedlit(TauPcts)).as("tau_pct"))
    val lnp = round(log(col("t").cast(DoubleType) / col("tt")), 6)
    val w = round(exp(col("tau_pct") / lit(100.0) * lnp), 7).cast(D7)
    val weighted = per.crossJoin(broadcast(tot)).crossJoin(broadcast(taus))
      .select(col("tau_pct"), col("source"), col("t"), col("tt"), w.as("w"))
    val norm = weighted.groupBy(col("tau_pct").as("tp"))
      .agg(sum("w").as("sw"))
    weighted.join(broadcast(norm), col("tau_pct") === col("tp"))
      .select(col("tau_pct"), col("source"),
        round(col("t").cast(DoubleType) / col("tt"), 6).as("share_before"),
        round(col("w").cast(DoubleType) / col("sw").cast(DoubleType), 6)
          .as("share_after"))
      .orderBy("tau_pct", "source")
  }

  private val tempSql: String =
    s"""WITH per AS (
       |  SELECT source,
       |         CAST(SUM(len(regexp_split_to_array(trim(lower(text)), '\\s+')))
       |              AS BIGINT) AS t
       |  FROM documents GROUP BY 1
       |), tot AS (SELECT CAST(SUM(t) AS BIGINT) AS tt FROM per),
       |weighted AS MATERIALIZED (
       |  SELECT tau_pct, source, t, tt,
       |         CAST(ROUND(exp(tau_pct / 100.0
       |                        * ROUND(ln(CAST(t AS DOUBLE) / tt), 6)), 7)
       |              AS DECIMAL(18,7)) AS w
       |  FROM per, tot, (SELECT unnest([${TauPcts.mkString(", ")}]) AS tau_pct)
       |), norm AS (
       |  SELECT tau_pct AS tp, SUM(w) AS sw FROM weighted GROUP BY 1
       |)
       |SELECT tau_pct, source,
       |       ROUND(CAST(t AS DOUBLE) / tt, 6) AS share_before,
       |       ROUND(CAST(w AS DOUBLE) / CAST(sw AS DOUBLE), 6) AS share_after
       |FROM weighted JOIN norm ON tp = tau_pct
       |ORDER BY tau_pct, source""".stripMargin

  /** Per-lang Spearman rank correlation between the grid quality score
    * and n_chars, on exact doubled average ranks.
    */
  def qualityLengthBias(docs: DataFrame): DataFrame = {
    val base = graft.TransientCaches.persist(
      docs.select(col("doc_id"), col("lang"), col("n_chars"),
        round(TextAnalysis.qualityScore(
          TextAnalysis.tokens(col("text")), col("n_chars")) * S, 0)
          .cast(LongType).as("si")))
    // doubled average rank of value v within lang: 2·(# smaller) + c + 1
    def ranks(valueCol: String, out: String): DataFrame = {
      val h = base.groupBy("lang", valueCol).agg(count(lit(1)).as("c"))
      h.select(col("lang"), col(valueCol),
        (lit(2) * (sum("c").over(Window.partitionBy("lang")
          .orderBy(valueCol)) - col("c")) + col("c") + 1).as(out))
    }
    val ra = ranks("si", "r2a")
    val rb = ranks("n_chars", "r2b")
    val dec = DecimalType(38, 0)
    val joined = base
      .join(ra, Seq("lang", "si"))
      .join(rb, Seq("lang", "n_chars"))
      .select(col("lang"), col("r2a").cast(dec).as("a"),
        col("r2b").cast(dec).as("b"))
    val m = joined.groupBy("lang")
      .agg(count(lit(1)).as("n"), sum("a").as("sa"), sum("b").as("sb"),
        sum(col("a") * col("a")).as("saa"),
        sum(col("b") * col("b")).as("sbb"),
        sum(col("a") * col("b")).as("sab"))
    val nD = col("n").cast(DoubleType)
    val num = nD * col("sab").cast(DoubleType) -
      col("sa").cast(DoubleType) * col("sb").cast(DoubleType)
    val da = nD * col("saa").cast(DoubleType) -
      col("sa").cast(DoubleType) * col("sa").cast(DoubleType)
    val db = nD * col("sbb").cast(DoubleType) -
      col("sb").cast(DoubleType) * col("sb").cast(DoubleType)
    m.select(col("lang"), col("n").cast(LongType).as("n_docs"),
        (round(num / sqrt(da * db), 6) + 0.0).as("spearman_rho"))
      .orderBy("lang")
  }

  private val biasSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, lang, n_chars,
       |         CAST(ROUND((${TextAnalysis.qualityScoreSql}
       |           ) * ${S}.0, 0) AS BIGINT) AS si
       |  FROM (SELECT doc_id, lang, n_chars,
       |               regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
       |        FROM documents) t
       |), ha AS (
       |  SELECT lang, si, COUNT(*) AS c FROM base GROUP BY 1, 2
       |), ra AS (
       |  SELECT lang, si,
       |         2 * (SUM(c) OVER (PARTITION BY lang ORDER BY si) - c)
       |           + c + 1 AS r2a
       |  FROM ha
       |), hb AS (
       |  SELECT lang, n_chars, COUNT(*) AS c FROM base GROUP BY 1, 2
       |), rb AS (
       |  SELECT lang, n_chars,
       |         2 * (SUM(c) OVER (PARTITION BY lang ORDER BY n_chars) - c)
       |           + c + 1 AS r2b
       |  FROM hb
       |), j AS (
       |  SELECT base.lang, CAST(r2a AS HUGEINT) AS a, CAST(r2b AS HUGEINT) AS b
       |  FROM base JOIN ra ON ra.lang = base.lang AND ra.si = base.si
       |  JOIN rb ON rb.lang = base.lang AND rb.n_chars = base.n_chars
       |), m AS (
       |  SELECT lang, COUNT(*) AS n, SUM(a) AS sa, SUM(b) AS sb,
       |         SUM(a * a) AS saa, SUM(b * b) AS sbb, SUM(a * b) AS sab
       |  FROM j GROUP BY 1
       |)
       |SELECT lang, CAST(n AS BIGINT) AS n_docs,
       |       ROUND((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
       |              - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
       |             / sqrt((CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
       |                     - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
       |                    * (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
       |                       - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))), 6)
       |         + 0.0 AS spearman_rho
       |FROM m ORDER BY lang""".stripMargin

  val entries: Seq[QueryEntry] = Seq(
    // q297 — temperature-scaled source sampling; DuckDB replays the
    // token counts, the rounded ln/exp chain, and both normalizations.
    QueryEntry.sql("q297_temperature_sampling", tempSql) { (s, dir) =>
      temperatureSampling(Tables(s, dir).documentsRebalanced)
    },

    // q298 — quality-vs-length Spearman per lang on exact doubled
    // average ranks; DuckDB re-derives both rank tables and all five
    // moment sums.
    QueryEntry.sql("q298_quality_length_bias", biasSql) { (s, dir) =>
      qualityLengthBias(Tables(s, dir).documentsRebalanced)
    },
  )
}
