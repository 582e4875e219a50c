package graft.operators

import graft.{QueryEntry, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Term-level IR surface over `documents`: inverted-index construction,
  * TF-IDF term ranking, and a term-lookup retrieval query — the
  * retrieval side of a corpus pipeline (dedup/decontamination find
  * near-copies; these find *relevant* documents).
  *
  * All operators run on the shared whitespace tokenizer
  * ([[TextAnalysis.tokens]]) so token identity agrees with every other
  * text operator (and with the DuckDB mirrors' `regexp_split_to_array`).
  * Each operator has two entry forms: a docs-based one that tokenizes
  * inline (arbitrary (doc_id, text) frames), and a token-frame core the
  * declared queries feed from the STAGED token table
  * ([[graft.sources.TokenizedCorpus]]) — the corpus is tokenized once
  * per fixture, ever, and retrieval queries become columnar scans of
  * (doc_id, pos, term) with term filters pushed to parquet.
  */
object Search {

  /** (doc_id, term) token-pair frame from raw documents — the inline
    * tokenize the staged table replaces for dir-anchored corpora.
    */
  def tokenPairs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(TextAnalysis.tokens(col("text"))).as("term"))

  /** (doc_id, pos, term) positional frame from raw documents. */
  def tokenPositions(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "term")))

  /** Postings chunk width: a term's postings are fingerprinted in
    * bounded runs of `doc_id ∈ [kB, (k+1)B)` so no aggregation buffer
    * ever holds more than B entries — a stopword with df ≈ corpus size
    * costs corpus/B *rows*, never one corpus-sized array in one task.
    */
  val PostingsChunk = 8192

  /** Inverted index: term → (document frequency, id bounds, postings
    * signature). Scale shape: one distinct on the uniform (term,
    * doc_id) key, then a TWO-LEVEL aggregation — (term, doc_id/B)
    * chunks fingerprint at most [[PostingsChunk]] ordered ids each
    * (`md5` of the comma-joined run), and the per-term combine is an
    * order-free DECIMAL(38,0) sum of the chunk digests' 60-bit
    * prefixes (the q75 checksum combine, [[Checksum]]): map-side
    * combinable, constant-width buffer, skew-immune. The full postings
    * list is never materialized in any single task; what leaves the
    * executors per term is (df, bounds, signature). A differing id in
    * any chunk flips that chunk's md5 and hence the sum.
    */
  def invertedIndex(docs: DataFrame): DataFrame =
    invertedIndexPairs(tokenPairs(docs))

  /** [[invertedIndex]] over a pre-tokenized (doc_id, term) frame —
    * the staged-table form: the scan reads two columns and nothing
    * re-tokenizes.
    */
  def invertedIndexPairs(pairs: DataFrame): DataFrame =
    pairs
      .select("doc_id", "term")
      .distinct()
      .groupBy(col("term"), floor(col("doc_id") / PostingsChunk).as("chunk"))
      .agg(
        count(lit(1)).as("c"),
        min("doc_id").as("mn"),
        max("doc_id").as("mx"),
        md5(array_join(
          transform(sort_array(collect_list(col("doc_id"))),
            d => d.cast(StringType)), ",").cast(BinaryType)).as("cd"),
      )
      .groupBy("term")
      .agg(
        sum("c").as("df"),
        min("mn").as("first_doc"),
        max("mx").as("last_doc"),
        sum(conv(substring(col("cd"), 1, 15), 16, 10).cast(LongType)
          .cast(DecimalType(38, 0))).cast(StringType).as("postings_sig"),
      )

  /** Per-document TF-IDF top terms: tf = in-doc term count, idf =
    * ln(N/df) with df over the WHOLE corpus (restricting df to the
    * scored slice would inflate rare-term scores). Both tf and df
    * derive from ONE (doc_id, term) count aggregate: the tf branch
    * pushes `doc_id < docLimit` down to the scan (tokenizes only the
    * scored slice), the df branch rolls the full-corpus aggregate up
    * by term — the corpus is tokenized once, not per branch. The
    * tf⨝df join on `term` is a plain shuffle join: the vocabulary is
    * corpus-derived and heavy-tailed, so it is NEVER broadcast (at
    * web scale billions of distinct tokens would OOM the driver); the
    * df side is already term-partitioned by its aggregate, so the
    * join adds one exchange on the (small, pre-filtered) tf side only.
    *
    * Ranking uses the ROUNDed score (FIXTURES.md float rule:
    * mathematically-equal products computed differently — ln(4) vs
    * 2·ln(2) — differ by an ulp; rounding to 6 dp before ranking plus
    * the term tie-break makes the order engine-independent).
    */
  def tfidfTopTerms(docs: DataFrame, k: Int, docLimit: Long): DataFrame =
    tfidfTopTermsPairs(tokenPairs(docs),
      docs.select(count(lit(1)).as("n")), k, docLimit)

  /** [[tfidfTopTerms]] over a pre-tokenized (doc_id, term) frame;
    * `nDocs` is the 1-row corpus-size frame (kept an explicit input so
    * the staged path counts `documents`, not token rows).
    */
  def tfidfTopTermsPairs(pairs: DataFrame, nDocs: DataFrame, k: Int,
      docLimit: Long): DataFrame = {
    val counts = pairs.select("doc_id", "term")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val tf = counts.filter(col("doc_id") < docLimit)
    val df = counts.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf") * log(col("n").cast(DoubleType) / col("df")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
        col("score"))
      .orderBy("doc_id", "rank")
  }

  /** Term lookup — the retrieval loop closed: probe term → top-k
    * documents ranked by in-document term frequency. Scale shape: the
    * term filter lands right after the tokenizer (only matching rows
    * survive the explode), one map-side-combined count per doc, then
    * `TakeOrderedAndProject` picks the k survivors BEFORE the
    * documents table is touched again — the doc-metadata join is a
    * k-row broadcast against the corpus, never a corpus×corpus join.
    */
  def termLookup(docs: DataFrame, term: String, k: Int): DataFrame =
    termLookupPairs(tokenPairs(docs), docs, term, k)

  /** [[termLookup]] over a pre-tokenized (doc_id, term) frame — on the
    * staged table the term predicate is PUSHED to the parquet scan
    * (postings-style pruning from file/row-group stats); `docs` is
    * still the metadata side of the final k-row broadcast join.
    */
  def termLookupPairs(pairs: DataFrame, docs: DataFrame, term: String,
      k: Int): DataFrame = {
    val hits = pairs
      .filter(col("term") === lit(term))
      .groupBy("doc_id").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("doc_id"))
      .limit(k)
    broadcast(hits).join(docs, Seq("doc_id"))
      .select(col("doc_id"), col("tf"), length(col("text")).as("doc_len"))
      .orderBy(col("tf").desc, col("doc_id"))
  }

  /** BM25 ranked retrieval (Robertson k1/b form, Lucene idf):
    * score(d,Q) = Σ_t ln(1 + (N-df+0.5)/(df+0.5)) ·
    *              tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl)).
    *
    * Scale shape: ONE shared (doc, term) count aggregate feeds dl, tf,
    * and the corpus stats (the corpus is tokenized once — the q87
    * lesson); tf filters that frame to query terms, so it is bounded
    * by documents containing them — the classic IR working set. The
    * per-term df frame has |Q| rows (df over query terms only) and the
    * 1-row stats frame is a crossJoin broadcast; the tf⨝dl join on
    * doc_id is a plain shuffle equi-join. Per-doc scores sum at most
    * |Q| addends; ROUND(,6) + doc_id tie-break before the final
    * `TakeOrderedAndProject` keeps the ranking engine-independent.
    */
  def bm25(docs: DataFrame, terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25Pairs(tokenPairs(docs), terms, k, k1, b)

  /** [[bm25]] over a pre-tokenized (doc_id, term) frame. */
  def bm25Pairs(pairs: DataFrame, terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // ONE (doc, term) count pass feeds every factor: dl (per-doc
    // length) needs the whole corpus and tf can't push its token
    // filter into the shared aggregate, so without sharing the token
    // frame would aggregate twice (the q87 lesson). The count frame is
    // persisted MEMORY_AND_DISK (spills, never OOMs) and is strictly
    // smaller than the token stream it replaces; pinned through
    // TransientCaches — release() after materializing frees the blocks
    // (the bench loop releases after every query).
    val counts = graft.TransientCaches.persist(pairs
      .select(col("doc_id"), col("term").as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c")))
    val dl = counts.groupBy("doc_id").agg(sum("c").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"), avg("dl").as("avgdl"))
    val tf = counts.filter(col("t").isInCollection(terms))
      .select(col("doc_id"), col("t"), col("c").as("tf"))
    val df = tf.groupBy("t").agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), Seq("t"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("contrib",
        col("idf") * col("tf") * (k1 + 1) /
          (col("tf") + lit(k1) * (lit(1) - b + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(round(sum("contrib"), 6).as("score"),
        count(lit(1)).cast(IntegerType).as("n_terms"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** The one filtered positional pass every phrase/proximity query
    * derives from: (doc_id, pos, term) restricted to the query terms.
    * The per-row filter sits under the shuffle (and, on the staged
    * token table, is PUSHED to the parquet scan), so the positional
    * stream entering the joins is bounded by the terms' postings, not
    * the corpus; persisted because every term's side of the join reads
    * it (the q87/q98 tokenize-once lesson), pinned for release.
    */
  private def positionalHits(pos: DataFrame, terms: Seq[String]): DataFrame =
    graft.TransientCaches.persist(pos
      .select(col("doc_id"), col("pos"), col("term").as("t"))
      .filter(col("t").isInCollection(terms.distinct)))

  /** N-term phrase search: documents containing `terms` as ADJACENT
    * tokens (in order), with per-document occurrence counts — the
    * positional-index query a bag-of-words index (q86) cannot answer.
    *
    * Scale shape: one [[positionalHits]] pass, then the i-th term's
    * positions join on (doc_id, pos + i) — a CHAIN of hash equi-joins
    * partitioned by document, one per extra term, each join shrinking
    * the survivor stream (a phrase's selectivity multiplies term by
    * term); never a theta join. n = 2 recovers the classic bigram
    * phrase query.
    */
  def phraseSearchN(docs: DataFrame, terms: Seq[String]): DataFrame =
    phraseSearchNPos(tokenPositions(docs), terms)

  /** [[phraseSearchN]] over a pre-tokenized (doc_id, pos, term) frame. */
  def phraseSearchNPos(pos: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.length >= 2, s"a phrase needs >= 2 terms, got $terms")
    val hits = positionalHits(pos, terms)
    val base = hits.filter(col("t") === lit(terms.head))
      .select(col("doc_id"), col("pos"))
    terms.zipWithIndex.drop(1)
      .foldLeft(base) { case (acc, (t, i)) =>
        val side = hits.filter(col("t") === lit(t))
          .select(col("doc_id").as(s"d_$i"), col("pos").as(s"p_$i"))
        acc.join(side,
            col("doc_id") === col(s"d_$i") && col(s"p_$i") === col("pos") + i)
          .drop(s"d_$i", s"p_$i")
      }
      .groupBy("doc_id")
      .agg(count(lit(1)).as("hits"))
      .orderBy("doc_id")
  }

  /** Two-term phrase search (the n = 2 case of [[phraseSearchN]]). */
  def phraseSearch(docs: DataFrame, first: String, second: String): DataFrame =
    phraseSearchN(docs, Seq(first, second))

  /** Within-w proximity search: per-document count of (posA, posB)
    * pairs with |posA − posB| ≤ w between two DISTINCT terms, plus the
    * closest distance — the "near each other" retrieval predicate
    * between adjacency (w = 1 ⊃ phrase, unordered) and bag-of-words
    * co-occurrence (w = ∞).
    *
    * Scale shape: the band predicate |pa − pb| ≤ w is decomposed into
    * an EQUI-join on position buckets of width w (each A-position
    * probes buckets {b−1, b, b+1}; any in-band pair lands in exactly
    * one bucket pairing since B's bucket is a function of pb) — the
    * interval-join decomposition (q21), so Spark plans a hash join on
    * (doc_id, bucket), never a per-document cross product; the exact
    * band filter runs join-local on the bucket-collocated candidates.
    */
  def proximitySearch(docs: DataFrame, termA: String, termB: String,
      w: Int): DataFrame =
    proximitySearchPos(tokenPositions(docs), termA, termB, w)

  /** [[proximitySearch]] over a pre-tokenized (doc_id, pos, term) frame. */
  def proximitySearchPos(pos: DataFrame, termA: String, termB: String,
      w: Int): DataFrame = {
    require(w >= 1, s"proximity window must be >= 1, got $w")
    require(termA != termB,
      "proximity between a term and itself would pair each token with itself")
    val hits = positionalHits(pos, Seq(termA, termB))
    val a = hits.filter(col("t") === lit(termA))
      .select(col("doc_id"), col("pos").as("pa"))
      .withColumn("bk", explode(array(
        (-1 to 1).map(d => floor(col("pa") / w) + d): _*)))
    val b = hits.filter(col("t") === lit(termB))
      .select(col("doc_id").as("db"), col("pos").as("pb"),
        floor(col("pb") / lit(w)).as("bkb"))
    a.join(b, col("doc_id") === col("db") && col("bk") === col("bkb"))
      .filter(abs(col("pa") - col("pb")) <= w)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("pairs"),
        min(abs(col("pa") - col("pb"))).cast(IntegerType).as("min_dist"))
      .orderBy("doc_id")
  }



  /** q197 — INCREMENTAL inverted-index maintenance (the q187 fold-in
    * protocol for the postings table): history docs' (term, doc_id,
    * cnt) postings are staged ONCE as a term-range-sorted parquet run
    * (term filters push down and skip row groups), each new batch
    * appends its own postings as a delta run (cost ∝ batch, never the
    * index), and a term lookup reads base+delta — the result must
    * equal recomputing postings from the whole corpus, which is
    * exactly what the oracle does: a missed delta append drops every
    * new-batch doc from the lookup and breaks the hash.
    */
  def incrementalPostingsLookup(spark: org.apache.spark.sql.SparkSession,
      dir: String, terms: Seq[String]): DataFrame = {
    val docs = Tables(spark, dir).documents
    val par = spark.sessionState.conf.numShufflePartitions
    def postings(part: DataFrame): DataFrame =
      tokenPairs(part)
        .groupBy(col("term"), col("doc_id"))
        .agg(count(lit(1)).as("cnt"))
    def writeRun(part: DataFrame, runDir: String): Unit =
      postings(part)
        .repartitionByRange(par, col("term"))
        .sortWithinPartitions("term")
        .write.mode("overwrite").parquet(runDir)
    val idx = graft.sources.Staging.fingerprintPath(
      "graft_postings", dir, "documents.parquet", "hist_mod5_v1")
    graft.sources.Staging.ensureStaged(idx) {
      writeRun(docs.filter(col("doc_id") % 5 =!= 0), s"$idx/base")
      graft.sources.Staging.touch(idx)
    }
    // the fold-in: new batch's postings as a delta run, idempotent
    writeRun(docs.filter(col("doc_id") % 5 === 0), s"$idx/delta1")
    spark.read.parquet(s"$idx/base", s"$idx/delta1")
      .filter(col("term").isInCollection(terms))
      .select(col("term"), col("doc_id"), col("cnt"))
      .orderBy("term", "doc_id")
  }

  /** Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al.,
    * SIGIR'09): fuse a SPARSE ranking (BM25 over the staged token
    * table) with a DENSE ranking (cosine top-k against a probe
    * embedding, vec_id aligned 1:1 with doc_id in the fixture) as
    * sum over retrievers of 1/(60 + rank) — the standard production
    * hybrid for training-data retrieval, robust to the two scorers'
    * incomparable scales because only RANKS cross the fusion boundary.
    *
    * Scale shape: each retriever is an independent k-bounded top-k
    * (TakeOrderedAndProject — no global sort), the rank windows run
    * over <= k rows (k-bounded frames, the documented exception to the
    * no-unpartitioned-window rule), and the fusion is a k-row outer
    * join. Ranks use the ROUNDED scores with doc_id tiebreak so both
    * engines order identically. Absent-from-a-list docs contribute 0
    * (rank columns report 0 for "not retrieved" — never a nullable
    * int, which would canon-format differently across engines).
    */
  def rrfFusion(spark: org.apache.spark.sql.SparkSession, dir: String,
      terms: Seq[String], queryVecId: Long, k: Int, kFuse: Int): DataFrame = {
    val sparse = bm25Pairs(graft.sources.TokenizedCorpus.tokens(spark, dir),
        terms, k)
      .select(col("doc_id"), col("score"))
    val dense = Similarity.topKCosine(Tables(spark, dir).embeddings,
        queryVecId, k)
      .select(col("vec_id").as("doc_id"), col("score"))
    val rs = sparse.select(col("doc_id"), row_number()
        .over(Window.orderBy(col("score").desc, col("doc_id")))
        .as("r_sparse"))
    val rd = dense.select(col("doc_id"), row_number()
        .over(Window.orderBy(col("score").desc, col("doc_id")))
        .as("r_dense"))
    rs.join(rd, Seq("doc_id"), "outer")
      .select(col("doc_id"),
        coalesce(col("r_sparse"), lit(0)).cast(IntegerType).as("r_sparse"),
        coalesce(col("r_dense"), lit(0)).cast(IntegerType).as("r_dense"),
        round(
          coalesce(lit(1.0) / (lit(60) + col("r_sparse")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("r_dense")), lit(0.0)),
          6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(kFuse)
  }

  val entries: Seq[QueryEntry] = Seq(
    // Inverted-index build under the differential gate: DuckDB
    // re-derives every postings chunk (ordered, distinct), re-digests
    // it, and the per-term chunk-digest sums must agree term by term.
    QueryEntry.sql(
      "q86_inverted_index",
      s"""WITH tok AS (
        |  SELECT DISTINCT term, doc_id FROM (
        |    SELECT doc_id,
        |           unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
        |    FROM documents) t
        |), chunks AS (
        |  SELECT term, CAST(FLOOR(doc_id / $PostingsChunk.0) AS BIGINT) AS chunk,
        |         COUNT(*) AS c, MIN(doc_id) AS mn, MAX(doc_id) AS mx,
        |         md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS cd
        |  FROM tok GROUP BY 1, 2
        |)
        |SELECT term, CAST(SUM(c) AS BIGINT) AS df,
        |       CAST(MIN(mn) AS BIGINT) AS first_doc,
        |       CAST(MAX(mx) AS BIGINT) AS last_doc,
        |       CAST(SUM(CAST(CAST('0x' || substr(cd, 1, 15) AS BIGINT)
        |         AS DECIMAL(38,0))) AS VARCHAR) AS postings_sig
        |FROM chunks GROUP BY term ORDER BY term""".stripMargin,
    ) { (s, dir) =>
      invertedIndexPairs(graft.sources.TokenizedCorpus.tokens(s, dir))
        .orderBy("term")
    },

    // TF-IDF top-3 terms for the first 100 documents (df fitted on the
    // whole corpus). The idf is the one transcendental under the gate;
    // see tfidfTopTerms for why ranking happens on the rounded score.
    QueryEntry.sql(
      "q87_tfidf_topterms",
      """WITH tok AS (
        |  SELECT doc_id,
        |         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM tok
        |  WHERE doc_id < 100 GROUP BY 1, 2
        |), df AS (
        |  SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1
        |), n AS (
        |  SELECT COUNT(*) AS n FROM documents
        |), scored AS (
        |  SELECT t.doc_id, t.term, t.tf, d.df,
        |         ROUND(t.tf * ln(CAST(n.n AS DOUBLE) / d.df), 6) AS score
        |  FROM tf t JOIN df d USING (term), n
        |), ranked AS (
        |  SELECT doc_id, term, tf, df, score,
        |         CAST(row_number() OVER (PARTITION BY doc_id
        |                ORDER BY score DESC, term) AS INTEGER) AS rank
        |  FROM scored
        |)
        |SELECT doc_id, rank, term, CAST(tf AS BIGINT) AS tf,
        |       CAST(df AS BIGINT) AS df, score
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    ) { (s, dir) =>
      tfidfTopTermsPairs(graft.sources.TokenizedCorpus.tokens(s, dir),
        Tables(s, dir).documents.select(count(lit(1)).as("n")),
        k = 3, docLimit = 100L)
    },

    // Retrieval: top-10 documents for the probe term 'join' by term
    // frequency (deterministic doc_id tie-break), with doc metadata
    // fetched by a k-row broadcast join back to `documents`.
    QueryEntry.sql(
      "q94_term_lookup",
      """WITH tok AS (
        |  SELECT doc_id,
        |         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, COUNT(*) AS tf FROM tok WHERE t = 'join' GROUP BY 1
        |  ORDER BY tf DESC, doc_id LIMIT 10
        |)
        |SELECT t.doc_id, CAST(t.tf AS BIGINT) AS tf,
        |       CAST(length(d.text) AS INT) AS doc_len
        |FROM tf t JOIN documents d USING (doc_id)
        |ORDER BY tf DESC, doc_id""".stripMargin,
    ) { (s, dir) =>
      termLookupPairs(graft.sources.TokenizedCorpus.tokens(s, dir),
        Tables(s, dir).documentsRebalanced, term = "join", k = 10)
    },

    // BM25 top-10 for the 3-term query {join, vector, dup} ('dup' is
    // the rare high-idf term in the fixture vocabulary); DuckDB
    // re-derives every factor — dl, avgdl, df, idf — from scratch.
    QueryEntry.sql(
      "q98_bm25",
      """WITH tok AS (
        |  SELECT doc_id,
        |         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
        |  FROM documents
        |), dl AS (
        |  SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1
        |), stats AS (
        |  SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl
        |), tf AS (
        |  SELECT doc_id, t, COUNT(*) AS tf FROM tok
        |  WHERE t IN ('join', 'vector', 'dup') GROUP BY 1, 2
        |), df AS (
        |  SELECT t, COUNT(*) AS df FROM tf GROUP BY 1
        |), contrib AS (
        |  SELECT tf.doc_id,
        |         ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
        |           * tf.tf * 2.2
        |           / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
        |           AS c
        |  FROM tf JOIN df USING (t) JOIN dl USING (doc_id), stats
        |)
        |SELECT doc_id, ROUND(SUM(c), 6) AS score,
        |       CAST(COUNT(*) AS INT) AS n_terms
        |FROM contrib GROUP BY doc_id
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    ) { (s, dir) =>
      bm25Pairs(graft.sources.TokenizedCorpus.tokens(s, dir),
        terms = Seq("join", "vector", "dup"), k = 10)
    },

    // Phrase query "hash join": DuckDB re-derives token positions via
    // generate_series over the split array (1-based there, 0-based in
    // Spark's posexplode — the +1 adjacency offset cancels inside each
    // engine) and must match hit counts document by document.
    QueryEntry.sql(
      "q112_phrase_search",
      """WITH parts AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS p
        |  FROM documents
        |), idx AS (
        |  SELECT doc_id, unnest(generate_series(1, array_length(p))) AS pos, p
        |  FROM parts
        |), t AS (
        |  SELECT doc_id, pos, p[pos] AS t FROM idx
        |)
        |SELECT a.doc_id, COUNT(*) AS hits
        |FROM t a JOIN t b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |WHERE a.t = 'hash' AND b.t = 'join'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    ) { (s, dir) =>
      phraseSearchNPos(graft.sources.TokenizedCorpus.tokens(s, dir),
        Seq("hash", "join"))
    },

    // 3-term phrase "big order scan": the chained (doc, pos+i)
    // equi-join generalization; DuckDB chains the same two positional
    // self-joins and must match hit counts document by document.
    QueryEntry.sql(
      "q131_phrase_nterm",
      """WITH parts AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS p
        |  FROM documents
        |), idx AS (
        |  SELECT doc_id, unnest(generate_series(1, array_length(p))) AS pos, p
        |  FROM parts
        |), t AS (
        |  SELECT doc_id, pos, p[pos] AS t FROM idx
        |)
        |SELECT a.doc_id, COUNT(*) AS hits
        |FROM t a
        |JOIN t b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |JOIN t c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
        |WHERE a.t = 'big' AND b.t = 'order' AND c.t = 'scan'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    ) { (s, dir) =>
      phraseSearchNPos(graft.sources.TokenizedCorpus.tokens(s, dir),
        Seq("big", "order", "scan"))
    },

    // Proximity "hash near join" within 3 positions: pair counts and
    // closest distance per document. The engine's bucketed equi-join
    // decomposition must agree with DuckDB's naive band theta-join.
    QueryEntry.sql(
      "q132_proximity_search",
      """WITH parts AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS p
        |  FROM documents
        |), idx AS (
        |  SELECT doc_id, unnest(generate_series(1, array_length(p))) AS pos, p
        |  FROM parts
        |), t AS (
        |  SELECT doc_id, pos, p[pos] AS t FROM idx
        |)
        |SELECT a.doc_id, COUNT(*) AS pairs,
        |       CAST(MIN(ABS(a.pos - b.pos)) AS INT) AS min_dist
        |FROM t a JOIN t b
        |  ON b.doc_id = a.doc_id AND ABS(a.pos - b.pos) <= 3
        |WHERE a.t = 'hash' AND b.t = 'join'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    ) { (s, dir) =>
      proximitySearchPos(graft.sources.TokenizedCorpus.tokens(s, dir),
        "hash", "join", w = 3)
    },

    // q197 — incremental postings maintenance: term lookup over the
    // staged base+delta postings runs must equal a from-scratch
    // recompute over the whole corpus (the oracle) — a missed delta
    // append or a stale base run breaks the hash.
    QueryEntry.sql(
      "q197_incremental_postings",
      """SELECT t AS term, doc_id, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM (
        |  SELECT doc_id,
        |         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
        |  FROM documents
        |) x
        |WHERE t IN ('join', 'vector', 'dup')
        |GROUP BY t, doc_id
        |ORDER BY term, doc_id""".stripMargin,
    ) { (s, dir) =>
      incrementalPostingsLookup(s, dir, terms = Seq("join", "vector", "dup"))
    },

    // q190 — hybrid sparse+dense retrieval fused by RRF: DuckDB
    // re-executes BOTH retrievers end-to-end (the q98 BM25 chain and
    // the q13 cosine top-k), re-ranks, and re-fuses — a rank
    // off-by-one, a tiebreak mismatch, or a wrong absent-doc
    // contribution all break the hash.
    QueryEntry.sql(
      "q190_rrf_fusion",
      """WITH tok AS (
        |  SELECT doc_id,
        |         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
        |  FROM documents
        |), dl AS (
        |  SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1
        |), stats AS (
        |  SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl
        |), tf AS (
        |  SELECT doc_id, t, COUNT(*) AS tf FROM tok
        |  WHERE t IN ('join', 'vector', 'dup') GROUP BY 1, 2
        |), df AS (
        |  SELECT t, COUNT(*) AS df FROM tf GROUP BY 1
        |), contrib AS (
        |  SELECT tf.doc_id,
        |         ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
        |           * tf.tf * 2.2
        |           / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
        |           AS c
        |  FROM tf JOIN df USING (t) JOIN dl USING (doc_id), stats
        |), bm AS (
        |  SELECT doc_id, ROUND(SUM(c), 6) AS score
        |  FROM contrib GROUP BY doc_id
        |  ORDER BY score DESC, doc_id LIMIT 20
        |), sr AS (
        |  SELECT doc_id,
        |         CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT)
        |           AS r_sparse
        |  FROM bm
        |), qv AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 42),
        |dn AS (
        |  SELECT vec_id AS doc_id,
        |         ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |                                      CAST(qvec AS DOUBLE[])), 6) AS score
        |  FROM embeddings, qv
        |  WHERE vec_id <> 42
        |  ORDER BY score DESC, doc_id LIMIT 20
        |), dr AS (
        |  SELECT doc_id,
        |         CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT)
        |           AS r_dense
        |  FROM dn
        |), u AS (
        |  SELECT COALESCE(sr.doc_id, dr.doc_id) AS doc_id, r_sparse, r_dense
        |  FROM sr FULL JOIN dr ON sr.doc_id = dr.doc_id
        |)
        |SELECT doc_id,
        |       CAST(COALESCE(r_sparse, 0) AS INT) AS r_sparse,
        |       CAST(COALESCE(r_dense, 0) AS INT) AS r_dense,
        |       ROUND(COALESCE(CAST(1 AS DOUBLE) / (60 + r_sparse), 0)
        |             + COALESCE(CAST(1 AS DOUBLE) / (60 + r_dense), 0), 6) AS rrf
        |FROM u ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,
    ) { (s, dir) =>
      rrfFusion(s, dir, terms = Seq("join", "vector", "dup"),
        queryVecId = 42, k = 20, kFuse = 10)
    },

    // q235 — nDCG@10 retrieval-quality eval: BM25 rankings for a fixed
    // 5-query set graded against term-overlap relevance. Completes the
    // eval triad (recall@k q169, fusion q190): is the RANKER any good,
    // position-weighted? DuckDB re-derives every BM25 factor, both
    // rankings (actual by rounded score, ideal by relevance), and the
    // discounted sums.
    QueryEntry.sql(
      "q235_ndcg",
      ndcgOracleSql,
    ) { (s, dir) =>
      ndcgAt10(s, dir)
    },
  )

  /** The fixed q235 query set: 5 queries × 3 fixture-vocabulary terms.
    * (lazy: referenced during `entries` initialization, which textually
    * precedes this definition.)
    */
  lazy val ndcgQueries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("join", "vector", "dup"),
    2 -> Seq("hash", "merge", "sort"),
    3 -> Seq("scan", "slow", "fast"),
    4 -> Seq("table", "row", "key"),
    5 -> Seq("spark", "batch", "window"))

  /** Position discount 1/log2(p+1) on the exactness grid: both lns
    * rounded at 7 dp BEFORE the division, the ratio re-rounded at 7 dp
    * and carried as DECIMAL(18,7) so the discounted sums are order-free
    * exact (the q173 ln-rounding pattern applied to a constant table).
    */
  private def discount(p: Column): Column =
    round(round(log(lit(2.0)), 7) / round(log(p.cast(DoubleType) + 1), 7), 7)
      .cast(DecimalType(18, 7))

  /** nDCG@10 of BM25 vs graded term-overlap relevance (q235).
    *
    * Relevance rel(q,d) = #query terms present in d (0–3): crude, but
    * DETERMINISTIC and integer — the point is oracling the ranking
    * metric, not the judgment. Every doc with rel > 0 has BM25 > 0, so
    * the actual and ideal pools coincide and nDCG = 1 iff the ranker
    * orders by relevance.
    *
    * Scale shape: the q98 one-pass (doc, term) count frame feeds tf /
    * df / dl; query terms and per-term dfs are broadcast (model-sized);
    * both rankings come from k-bounded heaps per query (`topkScoreId` —
    * ≤10 rows per map task per query, never a corpus-wide window); the
    * discounted sums run over ≤10-row exploded heaps.
    */
  def ndcgAt10(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = graft.sources.TokenizedCorpus.tokens(spark, dir)
    val allTerms = ndcgQueries.flatMap(_._2).distinct
    val counts = graft.TransientCaches.persist(toks
      .select(col("doc_id"), col("term").as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c")))
    val dl = counts.groupBy("doc_id").agg(sum("c").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"), avg("dl").as("avgdl"))
    val tf = counts.filter(col("t").isInCollection(allTerms))
      .select(col("doc_id"), col("t"), col("c").as("tf"))
    val df = tf.groupBy("t").agg(count(lit(1)).as("df"))
    val qterms = ndcgQueries.flatMap { case (q, ts) => ts.map((q, _)) }
      .toDF("qid", "t")
    val scored = graft.TransientCaches.persist(tf
      .join(broadcast(qterms), "t")
      .join(broadcast(df), "t")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("contrib",
        col("idf") * col("tf") * 2.2 /
          (col("tf") + lit(1.2) * (lit(1) - 0.75 + lit(0.75) * col("dl") / col("avgdl"))))
      // the RANKING key must be order-free: one 7dp rounding per
      // (query, doc, term) contribution, then an exact DECIMAL sum —
      // a raw double sum ranks differently between engines whenever
      // addition order flips a low bit at a rank boundary (bit us at
      // sf0.01; q98 only reports scores, q235 ranks on them).
      .groupBy("qid", "doc_id")
      .agg(sum(round(col("contrib"), 7).cast(DecimalType(18, 7))).as("sdec"),
        count(lit(1)).cast(IntegerType).as("rel"))
      .withColumn("score", col("sdec").cast(DoubleType)))
    def top10(by: Column): DataFrame = scored.groupBy("qid")
      .agg(graft.functions.GraftFunctions.topkScoreId(by, col("doc_id"), 10).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), (col("pos") + 1).as("p"), col("col.id").as("doc_id"))
    // gain must be a NARROW decimal: long × DECIMAL(18,7) exceeds
    // precision 38 in Spark's product rule and silently drops the
    // scale to 6, re-rounding every product; DECIMAL(10,0) × (18,7)
    // fits at (29,7) and stays exact.
    val gain = (pow(lit(2.0), col("rel")).cast(LongType) - 1)
      .cast(DecimalType(10, 0))
    val dcg = top10(col("score"))
      .join(scored.select(col("qid"), col("doc_id"), col("rel")), Seq("qid", "doc_id"))
      .groupBy("qid")
      .agg(count(lit(1)).as("n_ranked"), sum(gain * discount(col("p"))).as("dcg"))
    val idcg = top10(col("rel").cast(DoubleType))
      .join(scored.select(col("qid"), col("doc_id"), col("rel")), Seq("qid", "doc_id"))
      .groupBy("qid")
      .agg(sum(gain * discount(col("p"))).as("idcg"))
    // the discounted sums are EXACT decimals: round them at decimal
    // precision (order- and repr-free in both engines), never after a
    // double cast — ROUND(double) disagrees between the engines on
    // half-way shortest-representation values.
    dcg.join(idcg, "qid")
      .select(col("qid"), col("n_ranked").cast(LongType).as("n_ranked"),
        round(col("dcg"), 6).cast(DoubleType).as("dcg"),
        round(col("idcg"), 6).cast(DoubleType).as("idcg"),
        round(col("dcg").cast(DoubleType) / col("idcg").cast(DoubleType), 6)
          .as("ndcg"))
      .orderBy("qid")
  }

  /** DuckDB mirror of [[ndcgAt10]] — full BM25 + both rankings. */
  private def ndcgOracleSql: String = {
    val qvals = ndcgQueries.flatMap { case (q, ts) =>
      ts.map(t => s"($q, '$t')")
    }.mkString(", ")
    val inList = ndcgQueries.flatMap(_._2).distinct
      .map(t => s"'$t'").mkString(", ")
    val disc = "CAST(ROUND(ROUND(ln(2), 7) / ROUND(ln(CAST(p + 1 AS DOUBLE)), 7), 7) AS DECIMAL(18,7))"
    s"""WITH q(qid, t) AS (VALUES $qvals),
       |tok AS (
       |  SELECT doc_id,
       |         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t
       |  FROM documents
       |), dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
       |stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
       |tf AS (
       |  SELECT doc_id, t, COUNT(*) AS tf FROM tok
       |  WHERE t IN ($inList) GROUP BY 1, 2
       |), df AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY 1),
       |scored AS (
       |  SELECT q.qid, tf.doc_id,
       |         SUM(CAST(ROUND(ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
       |                        * tf.tf * 2.2
       |                        / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)),
       |                        7) AS DECIMAL(18,7))) AS score,
       |         CAST(COUNT(*) AS INT) AS rel
       |  FROM q JOIN tf USING (t) JOIN df USING (t) JOIN dl USING (doc_id), stats
       |  GROUP BY 1, 2
       |), ranked AS (
       |  SELECT qid, doc_id, rel,
       |         row_number() OVER (PARTITION BY qid
       |                            ORDER BY score DESC, doc_id) AS p
       |  FROM scored
       |), dcg AS (
       |  SELECT qid, COUNT(*) AS n_ranked,
       |         SUM((CAST(POW(2, rel) AS BIGINT) - 1) * $disc) AS dcg
       |  FROM ranked WHERE p <= 10 GROUP BY 1
       |), ideal AS (
       |  SELECT qid, doc_id, rel,
       |         row_number() OVER (PARTITION BY qid
       |                            ORDER BY rel DESC, doc_id) AS p
       |  FROM scored
       |), idcg AS (
       |  SELECT qid, SUM((CAST(POW(2, rel) AS BIGINT) - 1) * $disc) AS idcg
       |  FROM ideal WHERE p <= 10 GROUP BY 1
       |)
       |SELECT d.qid, CAST(d.n_ranked AS BIGINT) AS n_ranked,
       |       CAST(ROUND(d.dcg, 6) AS DOUBLE) AS dcg,
       |       CAST(ROUND(i.idcg, 6) AS DOUBLE) AS idcg,
       |       ROUND(CAST(d.dcg AS DOUBLE) / CAST(i.idcg AS DOUBLE), 6) AS ndcg
       |FROM dcg d JOIN idcg i USING (qid) ORDER BY qid""".stripMargin
  }
}
