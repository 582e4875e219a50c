package graft.operators

import graft.{QueryEntry, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus-preparation operators: fixed-window text chunking (the
  * RAG/embedding-prep splitter) and corpus-wide word n-gram counting.
  *
  * Both are narrow per-document explodes followed by stock shuffles —
  * no driver-side state, no per-key buffers beyond the n-gram count
  * aggregate (map-side combinable), so they hold at corpus scale.
  */
object CorpusOps {

  /** Fixed-size overlapping character chunks: windows of `window` chars
    * every `window - overlap` chars (the standard RAG splitter shape).
    * Per-row explode of the start offsets — ≤ ⌈len/step⌉ rows per doc,
    * each chunk fingerprinted so downstream chunk-level dedup can run
    * without carrying the text.
    */
  def chunk(docs: DataFrame, window: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < window,
      s"need 0 <= overlap < window, got window=$window overlap=$overlap")
    val step = window - overlap
    docs
      .select(col("doc_id"), col("text"),
        // empty text must yield NO chunks: Spark's sequence(0, -1, step)
        // THROWS on the backward boundary (unlike DuckDB's
        // generate_series, which returns empty) — guard explicitly
        explode(when(length(col("text")) > 0,
          sequence(lit(0), length(col("text")) - 1, lit(step)))
          .otherwise(array().cast("array<int>")))
          .as("chunk_start"))
      .select(
        col("doc_id"),
        (col("chunk_start") / step).cast(IntegerType).as("chunk_id"),
        col("chunk_start").cast(LongType).as("chunk_start"),
        length(substring_index_window(col("text"), col("chunk_start"), window))
          .as("chunk_len"),
        md5(substring_index_window(col("text"), col("chunk_start"), window)
          .cast(BinaryType)).as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")
  }

  /** substring(text, start+1, window) as a named helper (1-based SQL
    * substring over a 0-based offset column).
    */
  private def substring_index_window(text: org.apache.spark.sql.Column,
      start: org.apache.spark.sql.Column, window: Int) =
    text.substr(start + 1, lit(window))

  /** Corpus-wide word n-gram counts, top `k` by (count DESC, gram ASC).
    * The CASE guard matters: Spark's `sequence(a, b)` steps BACKWARD
    * when b < a (a doc shorter than n grams would fabricate negative
    * indices), so short docs must yield an empty gram array explicitly.
    */
  def topNgrams(docs: DataFrame, n: Int, k: Int): DataFrame = {
    require(n >= 2, s"use plain token counts for n=1, got n=$n")
    val gramExpr =
      (0 until n).map(j => s"toks[i + $j]").mkString("concat_ws(' ', ", ", ", ")")
    docs
      .select(TextAnalysis.tokens(col("text")).as("toks"))
      .select(explode(expr(
        s"CASE WHEN size(toks) >= $n THEN " +
          s"transform(sequence(0, size(toks) - $n), i -> $gramExpr) " +
          "ELSE array() END")).as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram"))
      .limit(k)
  }

  /** Per-group top-k terms by frequency — the corpus-census query
    * ("what does each language's text look like"). Two aggregates:
    * (group, term) counts (map-side combinable), then the k-bounded
    * string heap ([[org.apache.spark.sql.graft.TopKScoreStr]]) per
    * group — ≤k (count, term) entries per group per map task cross the
    * second exchange, where a window rank would shuffle the whole
    * vocabulary-by-group frame. Ties break by term ascending in both
    * the heap and the oracle's ORDER BY.
    */
  def topTermsPerGroup(docs: DataFrame, groupCol: String, k: Int): DataFrame =
    docs
      .select(col(groupCol).as("grp"),
        explode(TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy("grp", "term")
      .agg(count(lit(1)).as("n"))
      .groupBy("grp")
      .agg(graft.functions.GraftFunctions
        .topkScoreStr(col("n").cast(DoubleType), col("term"), k).as("top"))
      .select(col("grp"), posexplode(col("top")))
      .select(col("grp"), (col("pos") + 1).cast(IntegerType).as("rank"),
        col("col.key").as("term"), col("col.score").cast(LongType).as("n"))
      .orderBy("grp", "rank")


  /** q199 — lang × source chi-square independence: is language
    * distribution uniform across feeds, or do some sources skew
    * heavily (the signal for per-source language filters)? One
    * contingency pass (grouped counts) + broadcast row/col totals;
    * per-cell contributions (n−e)²/e are rounded once to 6 dp and
    * summed as DECIMAL (order-free — the q160 float-determinism
    * pattern); cells are |langs|·|sources|, model-sized.
    */
  def langSourceChi2(docs: DataFrame): DataFrame = {
    val cells = docs.groupBy("lang", "source").agg(count(lit(1)).as("n"))
    val rows = docs.groupBy("lang").agg(count(lit(1)).as("rl"))
    val cols = docs.groupBy("source").agg(count(lit(1)).as("cs"))
    val tot = docs.agg(count(lit(1)).as("tot"),
      ((countDistinct("lang") - 1) * (countDistinct("source") - 1)).as("dof"))
    val e = col("rl").cast(DoubleType) * col("cs") / col("tot")
    cells
      .join(broadcast(rows), Seq("lang"))
      .join(broadcast(cols), Seq("source"))
      .crossJoin(broadcast(tot))
      .select(col("dof"),
        round((col("n") - e) * (col("n") - e) / e, 6)
          .cast(DecimalType(18, 6)).as("contrib"))
      .groupBy("dof")
      .agg(count(lit(1)).as("n_cells"),
        sum("contrib").cast(DoubleType).as("chi2"))
      .select(col("n_cells"), col("dof").cast(LongType).as("dof"), col("chi2"))
  }

  val entries: Seq[QueryEntry] = Seq(
    // q199 — lang x source chi-square: DuckDB replays the contingency
    // table, expected counts, per-cell contributions (6dp DECIMAL
    // sum), and the dof arithmetic.
    QueryEntry.sql(
      "q199_lang_source_chi2",
      """WITH cells AS (
        |  SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY 1, 2
        |), r AS (SELECT lang, COUNT(*) AS rl FROM documents GROUP BY 1),
        |c AS (SELECT source, COUNT(*) AS cs FROM documents GROUP BY 1),
        |t AS (SELECT COUNT(*) AS tot FROM documents),
        |x AS (
        |  SELECT cells.n, CAST(r.rl AS DOUBLE) * c.cs / t.tot AS e
        |  FROM cells JOIN r USING (lang) JOIN c USING (source), t
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
        |       CAST((SELECT (COUNT(DISTINCT lang) - 1)
        |                    * (COUNT(DISTINCT source) - 1)
        |             FROM documents) AS BIGINT) AS dof,
        |       CAST(SUM(CAST(ROUND((n - e) * (n - e) / e, 6)
        |                     AS DECIMAL(18,6))) AS DOUBLE) AS chi2
        |FROM x""".stripMargin,
    ) { (s, dir) => langSourceChi2(Tables(s, dir).documents) },
    // q100 — 80-char windows with 20-char overlap; DuckDB re-derives
    // every offset, length, and chunk digest.
    QueryEntry.sql(
      "q100_text_chunks",
      """WITH starts AS (
        |  SELECT doc_id, text,
        |         unnest(generate_series(0, length(text) - 1, 60)) AS chunk_start
        |  FROM documents
        |)
        |SELECT doc_id, CAST(chunk_start / 60 AS INT) AS chunk_id,
        |       CAST(chunk_start AS BIGINT) AS chunk_start,
        |       CAST(length(substr(text, chunk_start + 1, 80)) AS INT) AS chunk_len,
        |       md5(substr(text, chunk_start + 1, 80)) AS chunk_md5
        |FROM starts ORDER BY doc_id, chunk_id""".stripMargin,
    ) { (s, dir) =>
      chunk(Tables(s, dir).documentsRebalanced, window = 80, overlap = 20)
    },

    // q101 — corpus top-50 word trigrams (count tie broken by gram).
    QueryEntry.sql(
      "q101_top_ngrams",
      """WITH tok AS (
        |  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents
        |), g AS (
        |  SELECT t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS gram
        |  FROM (SELECT t, unnest(generate_series(1, len(t) - 2)) AS i FROM tok)
        |)
        |SELECT gram, COUNT(*) AS n FROM g GROUP BY gram
        |ORDER BY n DESC, gram LIMIT 50""".stripMargin,
    ) { (s, dir) =>
      topNgrams(Tables(s, dir).documentsRebalanced, n = 3, k = 50)
    },

    // q106 — top-5 terms per language; DuckDB brute-forces the grouped
    // ranking with a window.
    QueryEntry.sql(
      "q106_top_terms_per_lang",
      """WITH tok AS (
        |  SELECT lang AS grp,
        |         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents
        |), counts AS (
        |  SELECT grp, term, COUNT(*) AS n FROM tok GROUP BY 1, 2
        |), ranked AS (
        |  SELECT grp, term, n,
        |         CAST(row_number() OVER (PARTITION BY grp
        |                ORDER BY n DESC, term) AS INT) AS rank
        |  FROM counts
        |)
        |SELECT grp, rank, term, CAST(n AS BIGINT) AS n
        |FROM ranked WHERE rank <= 5 ORDER BY grp, rank""".stripMargin,
    ) { (s, dir) =>
      topTermsPerGroup(Tables(s, dir).documentsRebalanced, "lang", k = 5)
    },

    // q109 — collection-function breadth under the gate (the
    // array-function slot of SURVEY §2.3's scalar checklist): slicing,
    // distinct+sort, membership, reverse indexing, and a
    // transform+aggregate HOF, each mirrored by DuckDB's list
    // functions. All per-row codegen, no shuffle beyond the ORDER BY.
    QueryEntry.sql(
      "q109_collection_breadth",
      """SELECT doc_id,
        |       CAST(len(t) AS INT) AS n_toks,
        |       array_to_string(t[1:3], ' ') AS first3,
        |       array_to_string(list_sort(list_distinct(t)), ' ')
        |         AS distinct_sorted,
        |       list_contains(t, 'join') AS has_join,
        |       list_reverse(t)[1] AS last_tok,
        |       CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT)
        |         AS sum_tok_chars
        |FROM (
        |  SELECT doc_id,
        |         regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE doc_id < 100
        |) ORDER BY doc_id""".stripMargin,
    ) { (s, dir) =>
      Tables(s, dir).documents
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .select(
          col("doc_id"),
          size(col("toks")).cast(IntegerType).as("n_toks"),
          concat_ws(" ", slice(col("toks"), 1, 3)).as("first3"),
          concat_ws(" ", sort_array(array_distinct(col("toks"))))
            .as("distinct_sorted"),
          array_contains(col("toks"), "join").as("has_join"),
          element_at(reverse(col("toks")), 1).as("last_tok"),
          aggregate(transform(col("toks"), x => length(x)),
            lit(0), (a, x) => a + x).cast(LongType).as("sum_tok_chars"))
        .orderBy("doc_id")
    },

    // q143 — vocabulary coverage curve (the tokenizer-sizing question:
    // "what fraction of corpus tokens does a top-k vocabulary
    // cover?"). Scale shape: one map-side-combined term count, then
    // for each k a k-bounded TakeOrdered — never a global window
    // cumsum over the full vocabulary (single-task at 100 TB). All
    // integer sums; the share is one division, ROUND(,6).
    QueryEntry.sql(
      "q143_vocab_coverage",
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents
        |), counts AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total,
        |               CAST(COUNT(*) AS BIGINT) AS vocab FROM counts),
        |ranked AS (
        |  SELECT c, row_number() OVER (ORDER BY c DESC, term) AS rn FROM counts
        |), ks AS (SELECT unnest([10, 100, 1000]) AS k)
        |SELECT ks.k, CAST(SUM(CASE WHEN rn <= ks.k THEN c ELSE 0 END) AS BIGINT) AS covered,
        |       t.total, t.vocab,
        |       ROUND(CAST(SUM(CASE WHEN rn <= ks.k THEN c ELSE 0 END) AS DOUBLE)
        |             / CAST(t.total AS DOUBLE), 6) AS share
        |FROM ranked CROSS JOIN ks CROSS JOIN tot t
        |GROUP BY ks.k, t.total, t.vocab ORDER BY ks.k""".stripMargin,
    ) { (s, dir) => vocabCoverage(graft.sources.TokenizedCorpus.tokens(s, dir), Seq(10, 100, 1000)) },

    // q144 — document token-length histogram in power-of-2 buckets
    // (the packing-buffer sizing input: q58's packer wastes whatever
    // the tail distribution says it wastes). Pure integer math per
    // row, one grouped count.
    QueryEntry.sql(
      "q144_length_histogram",
      """WITH lens AS (
        |  SELECT CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n
        |  FROM documents
        |), b AS (
        |  SELECT n, CAST(length(format('{:b}', GREATEST(n, 1))) - 1 AS BIGINT) AS bucket
        |  FROM lens
        |)
        |SELECT bucket,
        |       CAST(POW(2, bucket) AS BIGINT) AS bucket_lo,
        |       COUNT(*) AS n_docs,
        |       CAST(SUM(n) AS BIGINT) AS total_tokens,
        |       CAST(MIN(n) AS BIGINT) AS min_len, CAST(MAX(n) AS BIGINT) AS max_len
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    ) { (s, dir) =>
      lengthHistogram(Tables(s, dir).documentsRebalanced)
    },

    // q174 — cross-source word-3-gram overlap matrix (the corpus-
    // mixture redundancy diagnostic: which provenance pairs share
    // content, and how much). The oracle re-derives every distinct
    // gram set, pair intersection, and Jaccard independently.
    QueryEntry.sql(
      "q174_source_overlap",
      """WITH tok AS (
        |  SELECT source, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents
        |), g AS (
        |  SELECT DISTINCT source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
        |  FROM (SELECT source, t, unnest(generate_series(1, len(t) - 2)) AS i
        |        FROM tok)
        |), sz AS (SELECT source, COUNT(*) AS sz FROM g GROUP BY 1),
        |pairs AS (
        |  SELECT a.source AS src_a, b.source AS src_b, a.sz AS sza, b.sz AS szb
        |  FROM sz a JOIN sz b ON a.source < b.source
        |), inter AS (
        |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS shared
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
        |  GROUP BY 1, 2
        |)
        |SELECT p.src_a, p.src_b,
        |       CAST(COALESCE(i.shared, 0) AS BIGINT) AS n_shared,
        |       ROUND(CAST(COALESCE(i.shared, 0) AS DOUBLE)
        |             / (p.sza + p.szb - COALESCE(i.shared, 0)), 6) AS jaccard
        |FROM pairs p LEFT JOIN inter i USING (src_a, src_b)
        |ORDER BY src_a, src_b""".stripMargin,
    ) { (s, dir) =>
      sourceOverlap(Tables(s, dir).documentsRebalanced, n = 3)
    },

    // q175 — per-language Zipf rank-frequency slope over the top-100
    // terms (corpus-health fingerprint: natural text reads ≈ −1;
    // template/duplicated corpora drift shallow). The q124 exact-
    // decimal-sufficient-stats OLS over 6dp-rounded ln(rank)/ln(count);
    // DuckDB refits the ranks and the regression independently.
    QueryEntry.sql(
      "q175_zipf_slope",
      """WITH tok AS (
        |  SELECT lang, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents
        |), tc AS (SELECT lang, term, COUNT(*) AS n FROM tok GROUP BY 1, 2),
        |rk AS (
        |  SELECT lang, n,
        |         row_number() OVER (PARTITION BY lang ORDER BY n DESC, term) AS rank
        |  FROM tc
        |), b AS (
        |  SELECT lang,
        |         CAST(ROUND(ln(CAST(rank AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
        |         CAST(ROUND(ln(CAST(n AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
        |  FROM rk WHERE rank <= 100
        |), s AS (
        |  SELECT lang, COUNT(*) AS nt, SUM(x) AS sx, SUM(y) AS sy,
        |         SUM(CAST(x * y AS DECIMAL(38,12))) AS sxy,
        |         SUM(CAST(x * x AS DECIMAL(38,12))) AS sxx
        |  FROM b GROUP BY 1
        |), g AS (
        |  SELECT lang, nt, sx, sy, sxy, sxx,
        |         nt * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den
        |  FROM s
        |)
        |SELECT lang, CAST(nt AS BIGINT) AS n_terms,
        |       ROUND(CASE WHEN den > 0 THEN
        |               (nt * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / den
        |             END, 6) AS zipf_slope,
        |       ROUND((CAST(sy AS DOUBLE) -
        |              CASE WHEN den > 0 THEN
        |                (nt * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / den
        |              END * CAST(sx AS DOUBLE)) / nt, 6) AS intercept
        |FROM g ORDER BY lang""".stripMargin,
    ) { (s, dir) =>
      zipfSlope(Tables(s, dir).documentsRebalanced, k = 100)
    },

    // q231 — Heaps'-law vocabulary-growth exponent (Zipf's companion,
    // q175): V(n) ≈ K·n^β fitted over 10 doc-id-ordered corpus
    // prefixes. Natural text reads β ≈ 0.4–0.6; a template-farm corpus
    // saturates early (β → 0) and a PII/noise-ridden one grows
    // super-vocabularily (β → 1) — the one-number "is new data adding
    // new language?" gauge a mixture designer reads before adding a
    // source. DuckDB re-derives the prefix memberships, both
    // cumulative curves, and the log-log OLS.
    QueryEntry.sql(
      "q231_heaps_law",
      """WITH nn AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
        |tok AS (
        |  SELECT doc_id,
        |         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents
        |), dk AS (
        |  SELECT (doc_id * 10 // n) + 1 AS d, term FROM tok, nn
        |), tc AS (SELECT d, COUNT(*) AS c FROM dk GROUP BY 1),
        |fv AS (SELECT MIN(d) AS fd FROM dk GROUP BY term),
        |vc AS (SELECT fd AS d, COUNT(*) AS v FROM fv GROUP BY 1),
        |ks AS (SELECT unnest(generate_series(1, 10)) AS k),
        |nk AS (SELECT k, SUM(c) AS nk FROM ks JOIN tc ON tc.d <= ks.k GROUP BY 1),
        |vk AS (SELECT k, SUM(v) AS vk FROM ks JOIN vc ON vc.d <= ks.k GROUP BY 1),
        |b AS (
        |  SELECT CAST(ROUND(ln(CAST(nk AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
        |         CAST(ROUND(ln(CAST(vk AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
        |  FROM nk JOIN vk USING (k)
        |  WHERE nk > 0 AND vk > 0
        |), s AS (
        |  SELECT COUNT(*) AS nt, SUM(x) AS sx, SUM(y) AS sy,
        |         SUM(CAST(x * y AS DECIMAL(38,12))) AS sxy,
        |         SUM(CAST(x * x AS DECIMAL(38,12))) AS sxx
        |  FROM b
        |), g AS (
        |  SELECT nt, sx, sy, sxy, sxx,
        |         nt * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den
        |  FROM s
        |)
        |SELECT CAST(nt AS BIGINT) AS points,
        |       ROUND(CASE WHEN den > 0 THEN
        |               (nt * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / den
        |             END, 6) AS beta,
        |       ROUND((CAST(sy AS DOUBLE) -
        |              CASE WHEN den > 0 THEN
        |                (nt * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / den
        |              END * CAST(sx AS DOUBLE)) / nt, 6) AS lnk
        |FROM g""".stripMargin,
    ) { (s, dir) =>
      heapsLaw(s, dir)
    },

    // q217 — per-source token entropy (lexical diversity): the
    // low-diversity feed a template farm produces scores visibly
    // below natural text. H = ln T − (Σ c·ln c)/T with the one ln per
    // DISTINCT count rounded at 6 dp and carried through exact DECIMAL
    // sums (the q173 pattern) — reads the term-clustered staged token
    // table (the q87 pay-once staging) joined back to sources.
    QueryEntry.sql(
      "q217_token_entropy",
      """WITH tok AS (
        |  SELECT d.source,
        |         unnest(regexp_split_to_array(trim(lower(d.text)), '\s+')) AS term
        |  FROM documents d
        |), counts AS (
        |  SELECT source, term, COUNT(*) AS c FROM tok GROUP BY 1, 2
        |), s AS (
        |  SELECT source, CAST(SUM(c) AS BIGINT) AS t,
        |         CAST(COUNT(*) AS BIGINT) AS d,
        |         SUM(CAST(CAST(c AS DECIMAL(18,0)) *
        |                  CAST(ROUND(ln(CAST(c AS DOUBLE)), 6) AS DECIMAL(18,6))
        |                  AS DECIMAL(38,6))) AS sclnc
        |  FROM counts GROUP BY 1
        |)
        |SELECT source, t AS n_tokens, d AS n_distinct,
        |       ROUND(ROUND(ln(CAST(t AS DOUBLE)), 6)
        |             - CAST(sclnc AS DOUBLE) / CAST(t AS DOUBLE), 6) + 0.0
        |         AS entropy
        |FROM s ORDER BY source""".stripMargin,
    ) { (s, dir) =>
      tokenEntropy(s, dir)
    },

    // q287 — prefix-cache savings report (the inference-serving twin
    // of exact dedup): documents sharing their first-16-token prefix
    // hit a shared KV-cache entry; the canonical doc per prefix group
    // (lowest doc_id) pays the prefill, every later doc saves 16
    // tokens. Per-source: eligible docs, cached docs, tokens saved,
    // cached fraction — the number a serving-cost model multiplies.
    // Scale: one md5-keyed group (exact-dedup's shuffle shape); the
    // row_number window is per prefix GROUP (dup-count-bounded).
    QueryEntry.sql(
      "q287_prefix_cache",
      """WITH p AS (
        |  SELECT doc_id, source,
        |         md5(array_to_string(
        |           (regexp_split_to_array(trim(lower(text)), '\s+'))[1:16],
        |           ' ')) AS ph
        |  FROM documents
        |  WHERE len(regexp_split_to_array(trim(lower(text)), '\s+')) >= 16
        |), r AS (
        |  SELECT source,
        |         row_number() OVER (PARTITION BY ph ORDER BY doc_id) AS rn
        |  FROM p
        |)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_cached,
        |       CAST(16 * SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS tokens_saved,
        |       ROUND(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) * 1.0
        |             / COUNT(*), 6) AS cached_frac
        |FROM r GROUP BY source ORDER BY source""".stripMargin,
    ) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val p = Tables(s, dir).documentsRebalanced
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 16)
        .select(col("doc_id"), col("source"),
          md5(array_join(slice(col("t"), 1, 16), " ")).as("ph"))
      p.withColumn("rn",
          row_number().over(Window.partitionBy("ph").orderBy("doc_id")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_cached"),
          (sum(when(col("rn") > 1, 1L).otherwise(0L)) * 16)
            .cast(LongType).as("tokens_saved"),
          round(sum(when(col("rn") > 1, 1L).otherwise(0L)) * lit(1.0)
            / count(lit(1)), 6).as("cached_frac"))
        .select(col("source"), col("n_docs"), col("n_cached"),
          col("tokens_saved"), col("cached_frac"))
        .orderBy("source")
    },
  )

  /** Per-source Shannon entropy of the token distribution (q217). */
  def tokenEntropy(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val toks = graft.sources.TokenizedCorpus.tokens(spark, dir)
    val srcs = Tables(spark, dir).documents.select(col("doc_id"), col("source"))
    val counts = toks.join(srcs, "doc_id")
      .groupBy("source", "term").agg(count(lit(1)).as("c"))
    counts.groupBy("source")
      .agg(sum(col("c")).as("t"), count(lit(1)).as("d"),
        sum((col("c").cast("decimal(18,0)") *
          round(log(col("c").cast(DoubleType)), 6).cast("decimal(18,6)"))
          .cast("decimal(38,6)")).as("sclnc"))
      .select(col("source"), col("t").as("n_tokens"), col("d").as("n_distinct"),
        (round(round(log(col("t").cast(DoubleType)), 6) -
          col("sclnc").cast("double") / col("t").cast("double"), 6) + lit(0.0))
          .as("entropy"))
      .orderBy("source")
  }

  /** Cross-source n-gram overlap: for every provenance pair, the count
    * and Jaccard of shared distinct word n-grams — the "are these two
    * sources the same content" report a mixture designer reads before
    * weighting them. Scale shape: one explode + (source, gram) distinct
    * (shuffle, map-side combinable), sizes by grouped count, and the
    * pair intersection as a gram-keyed self-join — never source×source
    * over raw rows. The output and the `sizes` frame are
    * |sources|²/2-bounded; provenance counts are platform-bounded
    * (dozens), not data-bounded, which is what makes the matrix shape
    * safe at 100 TB. A gram present in s sources emits s(s-1)/2 pair
    * rows into the count — bounded by the same |sources| argument.
    */
  def sourceOverlap(docs: DataFrame, n: Int): DataFrame = {
    val gramExpr =
      (0 until n).map(j => s"toks[i + $j]").mkString("concat_ws(' ', ", ", ", ")")
    val grams = graft.TransientCaches.persist(docs
      .select(col("source"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("source"), explode(expr(
        s"CASE WHEN size(toks) >= $n THEN " +
          s"transform(sequence(0, size(toks) - $n), i -> $gramExpr) " +
          "ELSE array() END")).as("gram"))
      .distinct())
    val sizes = grams.groupBy("source").agg(count(lit(1)).as("sz"))
    val pairs = sizes.select(col("source").as("src_a"), col("sz").as("sza"))
      .join(sizes.select(col("source").as("src_b"), col("sz").as("szb")),
        col("src_a") < col("src_b"))
    val inter = grams.select(col("source").as("src_a"), col("gram"))
      .join(grams.select(col("source").as("src_b"), col("gram")), "gram")
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("shared"))
    pairs.join(inter, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"),
        coalesce(col("shared"), lit(0L)).cast(LongType).as("n_shared"),
        round(coalesce(col("shared"), lit(0L)).cast(DoubleType) /
          (col("sza") + col("szb") - coalesce(col("shared"), lit(0L))), 6)
          .as("jaccard"))
      .orderBy("src_a", "src_b")
  }

  /** Zipf rank-frequency slope per language: OLS of ln(count) on
    * ln(rank) over the top-`k` terms. Ranks come from the k-bounded
    * string heap ([[topTermsPerGroup]]) — no vocabulary-wide rank
    * window — and the regression follows the q124 oracle-parity
    * pattern: 6dp-rounded ln values carried as DECIMAL(18,6), exact
    * decimal sufficient statistics (order-independent sums), and only
    * the final normal-equation arithmetic in IEEE double.
    */
  def zipfSlope(docs: DataFrame, k: Int): DataFrame = {
    val ranked = topTermsPerGroup(docs, "lang", k)
    val s = ranked
      .select(col("grp").as("lang"),
        round(log(col("rank").cast(DoubleType)), 6)
          .cast(DecimalType(18, 6)).as("x"),
        round(log(col("n").cast(DoubleType)), 6)
          .cast(DecimalType(18, 6)).as("y"))
      .groupBy("lang")
      .agg(count(lit(1)).as("nt"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum((col("x") * col("y")).cast(DecimalType(38, 12))).as("sxy"),
        sum((col("x") * col("x")).cast(DecimalType(38, 12))).as("sxx"))
    val nD = col("nt").cast(DoubleType)
    val sxD = col("sx").cast(DoubleType)
    val syD = col("sy").cast(DoubleType)
    val den = nD * col("sxx").cast(DoubleType) - sxD * sxD
    val slope = when(den > 0, (nD * col("sxy").cast(DoubleType) - sxD * syD) / den)
    s.select(col("lang"), col("nt").as("n_terms"),
        round(slope, 6).as("zipf_slope"),
        round((syD - slope * sxD) / nD, 6).as("intercept"))
      .orderBy("lang")
  }

  /** Heaps'-law fit (q231): cumulative (total tokens, distinct vocab)
    * at 10 doc-id-ordered prefix cutoffs, OLS slope in log-log space.
    *
    * Scale shape: prefix membership is pure integer arithmetic per
    * row (`doc_id·10 div N` — exact at any id range, no double
    * division), the vocabulary curve comes from ONE first-occurrence
    * pass (min prefix per term — the classic alternative to 10
    * cumulative count-distincts, which would rescan the corpus per
    * point), and everything after the two grouped passes is 10-row
    * model-sized frames. The float fit is the q175 pattern: one
    * 6dp-rounded ln per point, DECIMAL sufficient statistics.
    */
  def heapsLaw(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val toks = graft.sources.TokenizedCorpus.tokens(spark, dir)
    val n = Tables(spark, dir).documents
      .agg(max("doc_id")).head().getLong(0) + 1 // model-sized scalar
    val dk = (expr(s"doc_id * 10 div $n") + 1).cast(LongType)
    val tc = toks.select(dk.as("d")).groupBy("d").agg(count(lit(1)).as("c"))
    val vc = toks.select(dk.as("d"), col("term"))
      .groupBy("term").agg(min("d").as("fd"))
      .groupBy("fd").agg(count(lit(1)).as("v"))
    val ks = spark.range(1, 11).select(col("id").as("k"))
    val nk = ks.join(broadcast(tc), col("d") <= col("k"))
      .groupBy("k").agg(sum("c").as("nk"))
    val vk = ks.join(broadcast(vc), col("fd") <= col("k"))
      .groupBy("k").agg(sum("v").as("vk"))
    val b = nk.join(vk, "k")
      .filter(col("nk") > 0 && col("vk") > 0)
      .select(
        round(log(col("nk").cast(DoubleType)), 6).cast(DecimalType(18, 6)).as("x"),
        round(log(col("vk").cast(DoubleType)), 6).cast(DecimalType(18, 6)).as("y"))
    val s = b.agg(count(lit(1)).as("nt"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum((col("x") * col("y")).cast(DecimalType(38, 12))).as("sxy"),
      sum((col("x") * col("x")).cast(DecimalType(38, 12))).as("sxx"))
    val nD = col("nt").cast(DoubleType)
    val sxD = col("sx").cast(DoubleType)
    val syD = col("sy").cast(DoubleType)
    val den = nD * col("sxx").cast(DoubleType) - sxD * sxD
    val slope = when(den > 0, (nD * col("sxy").cast(DoubleType) - sxD * syD) / den)
    s.select(col("nt").cast(LongType).as("points"),
      round(slope, 6).as("beta"),
      round((syD - slope * sxD) / nD, 6).as("lnk"))
  }

  /** Coverage of the top-k vocabulary per k: one term-count pass, then
    * a k-bounded heap per requested k (no global rank window — the
    * vocabulary is corpus-derived and a single-task cumsum over it is
    * the classic 100 TB trap). Ties at the k-th count break by term,
    * mirrored in the oracle's (c DESC, term) rank.
    */
  def vocabCoverage(tokens: DataFrame, ks: Seq[Int]): DataFrame = {
    val spark = tokens.sparkSession
    import spark.implicits._
    val counts = graft.TransientCaches.persist(tokens.groupBy("term").agg(count(lit(1)).as("c")))
    val tot = counts.agg(sum("c").cast(LongType).as("total"),
      count(lit(1)).as("vocab"))
    val perK = ks.map { k =>
      // string-keyed heap: score = count, payload = term (tie-break asc)
      val top = counts
        .agg(graft.functions.GraftFunctions
          .topkScoreStr(col("c").cast(DoubleType), col("term"), k).as("top"))
        .select(explode(col("top")).as("e"))
        .agg(sum(col("e.score")).cast(LongType).as("covered"))
      top.select(lit(k).as("k"), col("covered"))
    }.reduce(_ union _)
    perK.crossJoin(broadcast(tot))
      .select(col("k"), col("covered"), col("total"), col("vocab"),
        round(col("covered").cast(DoubleType) / col("total").cast(DoubleType), 6)
          .as("share"))
      .orderBy("k")
  }

  /** Power-of-2 token-length histogram. bucket = floor(log2(max(n,1)))
    * computed WITHOUT floating point on both sides — binary-string
    * length minus one (`conv(_,10,2)` here, `format('{:b}')` in the
    * oracle) — so an exact power of two can never fall in the wrong
    * bucket on a libm ulp.
    */
  def lengthHistogram(docs: DataFrame): DataFrame = {
    val n = size(TextAnalysis.tokens(col("text"))).cast(LongType)
    val bucket = (length(conv(greatest(n, lit(1L)).cast(StringType), 10, 2)) - 1)
      .cast(LongType)
    docs.select(n.as("n"), bucket.as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum("n").cast(LongType).as("total_tokens"),
        min("n").as("min_len"), max("n").as("max_len"))
      .select(col("bucket"),
        pow(lit(2.0), col("bucket").cast(DoubleType)).cast(LongType).as("bucket_lo"),
        col("n_docs"), col("total_tokens"), col("min_len"), col("max_len"))
      .orderBy("bucket")
  }
}
