package graft.operators

import graft.functions.GraftFunctions
import graft.{QueryEntry, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Rolling-window document fingerprinting (winnowing) and the
  * deterministic corpus split — two training-pipeline staples over the
  * documents table.
  *
  * Winnowing (Schleimer/Wilkerson/Aiken, SIGMOD'03 — public
  * algorithm): hash every k-char gram of the normalized text, then
  * keep the minimum hash of each window of w consecutive grams. The
  * selected fingerprints are a position-robust document signature —
  * the guarantee is that any shared substring of length ≥ k+w-1
  * contributes at least one common fingerprint, which is what makes
  * it the standard plagiarism/near-dup screen. Everything is pinned
  * integer math on md5 (engine-independent), so the whole operator
  * sits under the DuckDB differential gate.
  *
  * Scale shape: per-row explode (×~n_chars) → per-doc window pass →
  * per-doc aggregate. One shuffle on doc_id for the window; the gram
  * frame never leaves its doc partition. At 100 TB this is
  * embarrassingly parallel per document — no cross-document state.
  */
object Winnow {

  /** k-gram length and winnow window, the SWA paper's (k, w) knobs. */
  private val K = 8
  private val W = 4

  /** Corpus-split thresholds over the 1024 top-bit buckets of
    * splitmix64(id): [0,819) train (~80%), [819,922) val (~10%), rest
    * test — ONE definition shared by the q69 Spark body, the q69
    * oracle SQL, and the facade's splitColumn.
    */
  val SplitTrainLt = 819
  val SplitValLt = 922

  /** Deterministic train/val/test split column for an id column. */
  def splitColumn(idCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val b = shiftrightunsigned(GraftFunctions.splitmix64(idCol), 54)
    when(b < SplitTrainLt, "train")
      .when(b < SplitValLt, "val")
      .otherwise("test")
  }

  /** Per-doc winnowed fingerprint frame: (doc_id, fp). */
  def fingerprints(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("p")
      .rowsBetween(0, W - 1)
    docs
      .select(col("doc_id"),
        regexp_replace(lower(col("text")), "\\s+", " ").as("t"))
      // need ≥ W grams so every kept position has a full window
      .filter(length(col("t")) >= K + W - 1)
      .select(col("doc_id"), col("t"),
        explode(expr(s"sequence(1, length(t) - ${K - 1})")).as("p"))
      .withColumn("h",
        graft.functions.GraftFunctions.md5Long(
          expr(s"substr(t, p, $K)").cast(BinaryType)))
      .withColumn("wmin", min(col("h")).over(w))
      // the last W-1 positions have shrunk windows — not winnow output
      .filter(col("p") <= length(col("t")) - lit(K - 1) - lit(W - 1))
      .select(col("doc_id"), col("wmin").as("fp"))
      .distinct()
  }

  /** Corpus-familiarity scoring: the statistical quality signal a
    * perplexity filter gives, in integer-exact form — each document
    * scored by the mean corpus frequency of its character bigrams
    * (model fitted on the corpus itself, one grouped count; scoring =
    * broadcast model join). Log-probability perplexity would hinge on
    * cross-engine `ln` bit-compatibility; mean bigram frequency ranks
    * documents the same way for filtering purposes and stays under the
    * differential gate.
    */
  def bigramFamiliarity(docs: DataFrame): DataFrame = {
    val bigrams = docs
      .select(col("doc_id"),
        regexp_replace(lower(col("text")), "\\s+", " ").as("t"))
      .filter(length(col("t")) >= 2)
      .select(col("doc_id"), col("t"),
        explode(expr("sequence(1, length(t) - 1)")).as("p"))
      .select(col("doc_id"), expr("substr(t, p, 2)").as("bg"))
    val model = bigrams.groupBy("bg").agg(count(lit(1)).as("cnt"))
    bigrams.join(broadcast(model), "bg")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("cnt").as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("s").cast(DoubleType) / col("n_bigrams"), 6).as("familiarity"))
  }

  /** True log-probability bigram-LM scoring (q79's companion): the
    * CCNet-style perplexity gate computed for real, not via the
    * integer-frequency analogue. Model = add-one-smoothed token-bigram
    * conditional log-probs fitted on the corpus itself
    * (`ln((c12+1)/(c1+V))`, V = corpus vocabulary); each document is
    * scored by the sum and mean of its bigram log-probs. Determinism
    * across engines follows the q160 DSIR precedent exactly: each
    * DISTINCT bigram's log-prob is rounded once to 6dp and carried as
    * DECIMAL(18,6), so per-doc sums are exact integer arithmetic —
    * summation order cannot move the result; the only float op is one
    * `ln` per distinct bigram, identically shaped in both engines.
    *
    * Scale shape: one partition-local `lead` window per doc (tokens
    * are already doc-partitioned), two grouped counts for the model,
    * then a bigram-keyed shuffle equi-join — the model is
    * distinct-bigram-sized, so it is NOT forced broadcast (at 100 TB
    * the bigram vocabulary outgrows any driver); AQE picks broadcast
    * when it fits. No cross-document state anywhere.
    */
  def bigramLogProb(tokens: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    // the bigram frame feeds three consumers (scoring join + both
    // model counts) — persist it once (the q134/q149/q158 lesson)
    val bg = graft.TransientCaches.persist(tokens
      .select(col("doc_id"), col("term").as("w1"),
        lead("term", 1).over(byDoc).as("w2"))
      .filter(col("w2").isNotNull))
    val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val ctx = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = tokens.select("term").distinct()
      .agg(count(lit(1)).as("v"))
    val model = c12.join(ctx, "w1").crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"),
        round(log((col("c12") + lit(1.0)) / (col("c1") + col("v"))), 6)
          .cast(DecimalType(18, 6)).as("lp"))
    bg.join(model, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("lp")).cast(DoubleType).as("log_prob"))
      .select(col("doc_id"), col("n_bigrams"), col("log_prob"),
        (col("log_prob") / col("n_bigrams")).as("avg_logprob"))
      .orderBy("doc_id")
  }

  /** N-gram-level decontamination (the GPT-3 appendix-C method, public
    * — word-gram overlap against the eval set, not whole-document
    * fingerprints like q42): a train document is contaminated if it
    * shares ANY word `n`-gram with any eval document. Eval gram set is
    * distinct-hashed and broadcast (eval sets are small by nature);
    * train side is one explode + hash join — no quadratic path.
    */
  /** (doc_id, gh) word n-gram hashes — the shared primitive of the
    * decontamination family (q81 flagging, q178 attribution, and the
    * q181 streaming ingest guard). Stateless per row, so it applies
    * unchanged to a streaming frame.
    */
  private[graft] def wordGramHashes(df: DataFrame, n: Int): DataFrame = df
    .select(col("doc_id"),
      split(regexp_replace(lower(col("text")), "\\s+", " "), " ").as("toks"))
    .filter(size(col("toks")) >= n)
    .select(col("doc_id"),
      explode(expr(s"sequence(1, size(toks) - ${n - 1})")).as("p"),
      col("toks"))
    .select(col("doc_id"),
      graft.functions.GraftFunctions.md5Long(
        array_join(slice(col("toks"), col("p"), lit(n)), " ")
          .cast(org.apache.spark.sql.types.BinaryType)).as("gh"))

  def ngramContaminated(train: DataFrame, eval: DataFrame, n: Int): DataFrame = {
    val evalGrams = wordGramHashes(eval, n).select("gh").distinct()
    wordGramHashes(train, n)
      .join(broadcast(evalGrams), Seq("gh"))
      .select("doc_id").distinct()
  }

  /** Contamination ATTRIBUTION (q81's provenance companion): not just
    * "this train doc is contaminated" but BY WHICH eval doc and by how
    * many distinct shared n-grams — the trace a leakage audit actually
    * needs before deciding whether a match is boilerplate or a leaked
    * answer. Scale shape identical to q81: eval grams are small by
    * nature and broadcast; the train side is one explode + hash join;
    * output is bounded by actually-contaminated pairs, never
    * train×eval.
    */
  def contaminationAttribution(train: DataFrame, eval: DataFrame,
      n: Int): DataFrame = {
    // no corpus-wide (doc_id, gh) distinct on the train side — the
    // broadcast-join output is contamination-bounded, so the distinct
    // gram count per pair is taken THERE (measured 4.1→1.3 s at sf0.1)
    val tg = wordGramHashes(train, n)
    val eg = wordGramHashes(eval, n).distinct()
      .select(col("doc_id").as("eval_doc"), col("gh"))
    tg.join(broadcast(eg), Seq("gh"))
      .groupBy(col("doc_id").as("train_doc"), col("eval_doc"))
      .agg(countDistinct(col("gh")).as("n_shared"))
      .orderBy("train_doc", "eval_doc")
  }

  /** Within-document repetition ratio (the Gopher-style quality rule):
    * the fraction of character k-grams that are repeats of an earlier
    * k-gram in the same document — pure per-document work.
    */
  def repetitionRatio(docs: DataFrame, k: Int = 8): DataFrame =
    docs
      .select(col("doc_id"),
        regexp_replace(lower(col("text")), "\\s+", " ").as("t"))
      .filter(length(col("t")) >= k)
      .select(col("doc_id"), col("t"),
        explode(expr(s"sequence(1, length(t) - ${k - 1})")).as("p"))
      .select(col("doc_id"), expr(s"substr(t, p, $k)").as("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        countDistinct(col("g")).as("n_distinct"))
      .select(col("doc_id"), col("n_grams"), col("n_distinct"),
        round((col("n_grams") - col("n_distinct")).cast("double")
          / col("n_grams"), 6).as("rep_ratio"))

  /** Per-source quality scorecard (q179): n_docs, exact-dup rate,
    * mean tokens, mean q79 familiarity, mean q82 repetition — the
    * per-provenance row a mixture designer reads before weighting
    * sources. Scope: docs long enough for every signal (≥ 8 normalized
    * chars — inner joins). Means are order-free: per-doc signals are
    * already 6dp-rounded, summed as DECIMAL, divided once in double.
    * Scale shape: the two signal passes are per-doc (q79's broadcast
    * model join, q82's per-doc grams), then doc-keyed joins and one
    * source-grouped aggregate — nothing wider than the corpus.
    */
  def sourceScorecard(docs: DataFrame): DataFrame = {
    val fam = bigramFamiliarity(docs).select(col("doc_id"), col("familiarity"))
    val rep = repetitionRatio(docs).select(col("doc_id"), col("rep_ratio"))
    val base = docs.select(col("doc_id"), col("source"), col("text"),
      size(TextAnalysis.tokens(col("text"))).cast(LongType).as("n_tok"))
    base.join(fam, "doc_id").join(rep, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_distinct_text"),
        sum("n_tok").as("sum_tok"),
        sum(col("familiarity").cast(DecimalType(18, 6))).as("sum_fam"),
        sum(col("rep_ratio").cast(DecimalType(18, 6))).as("sum_rep"))
      .select(col("source"), col("n_docs"),
        round((col("n_docs") - col("n_distinct_text")).cast(DoubleType)
          / col("n_docs"), 6).as("dup_rate"),
        round(col("sum_tok").cast(DoubleType) / col("n_docs"), 6)
          .as("mean_tokens"),
        round(col("sum_fam").cast(DoubleType) / col("n_docs"), 6)
          .as("mean_familiarity"),
        round(col("sum_rep").cast(DoubleType) / col("n_docs"), 6)
          .as("mean_rep_ratio"))
      .orderBy("source")
  }

  /** Quality-filter survival funnel (q186): the gate-by-gate
    * per-language survival report every curation pipeline publishes —
    * length gate (≥ 25 tokens), then repetition gate (q82 ratio
    * ≤ 0.08), then familiarity gate (q79 score ≥ 1750) — thresholds
    * chosen to split the fixture's observed distributions (median
    * rep 0.059, fam 1810, ntok 56) so every gate demonstrably drops
    * documents — cumulative, so
    * each count is "survived every gate so far". Gates read the
    * 6dp-rounded house signals, so boundary docs land identically in
    * both engines; docs too short for a signal fail that gate (left
    * joins, null = fail). One pass per signal + doc-keyed joins + one
    * lang-grouped aggregate.
    */
  def filterFunnel(docs: DataFrame): DataFrame = {
    val fam = bigramFamiliarity(docs).select(col("doc_id"), col("familiarity"))
    val rep = repetitionRatio(docs).select(col("doc_id"), col("rep_ratio"))
    val base = docs.select(col("doc_id"), col("lang"),
      size(TextAnalysis.tokens(col("text"))).cast(LongType).as("n_tok"))
    val passLen = col("n_tok") >= 25
    val passRep = passLen && col("rep_ratio").isNotNull && col("rep_ratio") <= 0.08
    val passFam = passRep && col("familiarity").isNotNull && col("familiarity") >= 1750.0
    base.join(rep, Seq("doc_id"), "left").join(fam, Seq("doc_id"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(passLen, 1L).otherwise(0L)).as("n_pass_len"),
        sum(when(passRep, 1L).otherwise(0L)).as("n_pass_rep"),
        sum(when(passFam, 1L).otherwise(0L)).as("n_pass_fam"))
      .select(col("lang"), col("n_docs"), col("n_pass_len"),
        col("n_pass_rep"), col("n_pass_fam"),
        round(col("n_pass_fam").cast(DoubleType) / col("n_docs"), 6)
          .as("survival_rate"))
      .orderBy("lang")
  }


  /** q200 — per-doc n-gram NOVELTY of the new batch against history:
    * the fraction of each arriving doc's distinct word 5-grams never
    * seen in the historical corpus — the freshness/repetition metric a
    * curation pipeline tracks per feed (novelty ~0 means the batch is
    * re-crawled or boilerplate; ~1 means genuinely new content).
    * Incremental shape: history's distinct gram hashes are staged ONCE
    * as a gh-range-sorted parquet run (the q197 postings pattern);
    * each new batch pays one hash join against it — probe-side cost
    * only, never a history regram.
    */
  def noveltyRate(spark: org.apache.spark.sql.SparkSession, dir: String,
      n: Int = 5): DataFrame = {
    val docs = Tables(spark, dir).documents
    val par = spark.sessionState.conf.numShufflePartitions
    val idx = graft.sources.Staging.fingerprintPath(
      "graft_grams", dir, "documents.parquet", s"hist_mod5_grams${n}_v1")
    graft.sources.Staging.ensureStaged(idx) {
      wordGramHashes(docs.filter(col("doc_id") % 5 =!= 0), n)
        .select("gh").distinct()
        .repartitionByRange(par, col("gh"))
        .sortWithinPartitions("gh")
        .write.mode("overwrite").parquet(s"$idx/grams.parquet")
      graft.sources.Staging.touch(idx)
    }
    val hist = spark.read.parquet(s"$idx/grams.parquet")
      .withColumn("seen", lit(1))
    wordGramHashes(docs.filter(col("doc_id") % 5 === 0), n)
      .distinct() // novelty counts DISTINCT grams per doc
      .join(hist, Seq("gh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        round(col("n_novel").cast(org.apache.spark.sql.types.DoubleType)
          / col("n_grams"), 6).as("novelty"))
      .orderBy("doc_id")
  }

  /** q184/q325 shared oracle: the batch per-lang token counts the
    * complete-mode stream must reproduce under EITHER state backend.
    */
  private val tokenCountsOracleSql =
    """SELECT lang,
      |       CAST(SUM(len(regexp_split_to_array(trim(lower(text)), '\s+'))) AS BIGINT)
      |         AS sum_tokens,
      |       CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT)
      |         AS sum_subtokens,
      |       COUNT(*) AS cnt
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  val entries: Seq[QueryEntry] = Seq(
    // q200 — n-gram novelty of the new batch vs the staged history
    // gram set: DuckDB re-derives every gram hash, the history set,
    // the per-doc distinct-gram counts, and the ratio — a stale gram
    // run or a missed doc breaks the hash.
    QueryEntry.sql(
      "q200_novelty_rate",
      """WITH d AS (
        |  SELECT doc_id,
        |         string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ')
        |           AS toks
        |  FROM documents
        |), g AS (
        |  SELECT DISTINCT doc_id,
        |         CAST('0x' || substr(md5(array_to_string(
        |                toks[CAST(p AS BIGINT):CAST(p+4 AS BIGINT)], ' ')), 1, 15)
        |              AS BIGINT) AS gh
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS p
        |        FROM d WHERE len(toks) >= 5) x
        |), hg AS (
        |  SELECT DISTINCT gh FROM g WHERE doc_id % 5 <> 0
        |)
        |SELECT g.doc_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_grams,
        |       CAST(SUM(CASE WHEN hg.gh IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_novel,
        |       ROUND(SUM(CASE WHEN hg.gh IS NULL THEN 1 ELSE 0 END)
        |             / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
        |FROM g LEFT JOIN hg ON hg.gh = g.gh
        |WHERE g.doc_id % 5 = 0
        |GROUP BY g.doc_id ORDER BY doc_id""".stripMargin,
    ) { (s, dir) => noveltyRate(s, dir) },
    // N-gram decontamination summarized per language: train docs (not
    // in the eval set) flagged iff they share any word 5-gram with the
    // doc_id % 97 eval set.
    QueryEntry.sql(
      "q81_ngram_decontaminate",
      """WITH d AS (
        |  SELECT doc_id, lang,
        |         string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents
        |), g AS (
        |  SELECT doc_id,
        |         CAST('0x' || substr(md5(array_to_string(toks[CAST(p AS BIGINT):CAST(p+4 AS BIGINT)], ' ')), 1, 15)
        |              AS BIGINT) AS gh
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS p
        |        FROM d WHERE len(toks) >= 5) x
        |), eg AS (
        |  SELECT DISTINCT gh FROM g WHERE doc_id % 97 = 0
        |), flagged AS (
        |  SELECT DISTINCT g.doc_id FROM g JOIN eg ON eg.gh = g.gh
        |  WHERE g.doc_id % 97 <> 0
        |)
        |SELECT d.lang,
        |       CAST(SUM(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_contaminated,
        |       COUNT(*) AS n_train
        |FROM d LEFT JOIN flagged f ON f.doc_id = d.doc_id
        |WHERE d.doc_id % 97 <> 0
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    ) { (s, dir) =>
      val docs = Tables(s, dir).documentsRebalanced
      val eval = docs.filter(col("doc_id") % 97 === 0)
      val train = docs.filter(col("doc_id") % 97 =!= 0)
      val flagged = ngramContaminated(train, eval, n = 5)
        .withColumn("flag", lit(1))
      train.join(flagged, Seq("doc_id"), "left")
        .groupBy("lang")
        .agg(
          sum(when(col("flag").isNotNull, 1L).otherwise(0L)).as("n_contaminated"),
          count(lit(1)).as("n_train"),
        )
        .orderBy("lang")
    },

    // q181 — the decontamination guard EXECUTED AS A STREAM under the
    // oracle (first streaming path in the differential gate, not just
    // spec-proven): a 4-file docs feed, per-row gram derivation,
    // stream-static join against the eval gram frame, and
    // contamination-bounded dropDuplicates state; run to completion
    // with AvailableNow. The oracle recomputes the flagged set from
    // scratch — if any micro-batch boundary dropped or duplicated a
    // flag, the hash would not match.
    QueryEntry.sql(
      "q181_stream_decontaminate",
      """WITH d AS (
        |  SELECT doc_id,
        |         string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents
        |), g AS (
        |  SELECT doc_id,
        |         CAST('0x' || substr(md5(array_to_string(toks[CAST(p AS BIGINT):CAST(p+4 AS BIGINT)], ' ')), 1, 15)
        |              AS BIGINT) AS gh
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS p
        |        FROM d WHERE len(toks) >= 5) x
        |), eg AS (
        |  SELECT DISTINCT gh FROM g WHERE doc_id % 97 = 0
        |)
        |SELECT DISTINCT g.doc_id FROM g JOIN eg ON eg.gh = g.gh
        |WHERE g.doc_id % 97 <> 0
        |ORDER BY doc_id""".stripMargin,
    ) { (s, dir) =>
      graft.streaming.StreamingDocs.runDecontaminateToCompletion(s, dir)
    },

    // q186 — the quality-filter survival funnel per language
    // (cumulative gates: length ≥ 25 tokens → repetition ≤ 0.08 →
    // familiarity ≥ 1750); the oracle re-derives every signal and
    // every gate independently.
    QueryEntry.sql(
      "q186_filter_funnel",
      """WITH d AS (
        |  SELECT doc_id, lang, text,
        |         regexp_replace(lower(text), '\s+', ' ', 'g') AS t
        |  FROM documents
        |), fb AS (
        |  SELECT doc_id, substr(t, CAST(p AS BIGINT), 2) AS bg
        |  FROM (SELECT doc_id, t, unnest(range(1, length(t))) AS p
        |        FROM d WHERE length(t) >= 2) x
        |), m AS (SELECT bg, COUNT(*) AS cnt FROM fb GROUP BY bg),
        |fam AS (
        |  SELECT fb.doc_id,
        |         ROUND(CAST(CAST(SUM(m.cnt) AS BIGINT) AS DOUBLE) / COUNT(*), 6)
        |           AS familiarity
        |  FROM fb JOIN m ON m.bg = fb.bg GROUP BY fb.doc_id
        |), rg AS (
        |  SELECT doc_id, substr(t, CAST(p AS BIGINT), 8) AS g
        |  FROM (SELECT doc_id, t, unnest(range(1, length(t) - 6)) AS p
        |        FROM d WHERE length(t) >= 8) x
        |), rep AS (
        |  SELECT doc_id,
        |         ROUND(CAST(COUNT(*) - COUNT(DISTINCT g) AS DOUBLE) / COUNT(*), 6)
        |           AS rep_ratio
        |  FROM rg GROUP BY doc_id
        |), flags AS (
        |  SELECT d.lang,
        |         (len(regexp_split_to_array(trim(lower(d.text)), '\s+')) >= 25)
        |           AS p_len,
        |         (rep.rep_ratio IS NOT NULL AND rep.rep_ratio <= 0.08) AS p_rep,
        |         (fam.familiarity IS NOT NULL AND fam.familiarity >= 1750) AS p_fam
        |  FROM d LEFT JOIN rep USING (doc_id) LEFT JOIN fam USING (doc_id)
        |)
        |SELECT lang, COUNT(*) AS n_docs,
        |       CAST(SUM(CASE WHEN p_len THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_len,
        |       CAST(SUM(CASE WHEN p_len AND p_rep THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_pass_rep,
        |       CAST(SUM(CASE WHEN p_len AND p_rep AND p_fam THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_pass_fam,
        |       ROUND(CAST(SUM(CASE WHEN p_len AND p_rep AND p_fam THEN 1 ELSE 0 END)
        |                  AS DOUBLE) / COUNT(*), 6) AS survival_rate
        |FROM flags GROUP BY lang ORDER BY lang""".stripMargin,
    ) { (s, dir) =>
      filterFunnel(Tables(s, dir).documentsRebalanced)
    },

    // q184 — COMPLETE-mode streaming aggregation under the oracle
    // (q181 proved the append/dedup shape; this proves grouped
    // aggregation state across micro-batches): q16's per-lang token
    // counts computed by the stream, hash-matched against the same
    // batch oracle.
    QueryEntry.sql(
      "q184_stream_token_counts",
      tokenCountsOracleSql,
    ) { (s, dir) =>
      graft.streaming.StreamingDocs.runTokenCountsToCompletion(s, dir)
    },

    // q325 — the q184 complete-mode aggregation stream under the
    // ROCKSDB state-store provider (r11 VERDICT item 3: q301 proved
    // the pattern for session state; this certifies the GROUPED-SUM
    // state family round-trips through RocksDB losslessly). Same
    // feed, same batch oracle; the runner fails loud if the provider
    // silently fell back to HDFSBackedStateStore.
    QueryEntry.sql(
      "q325_stream_token_counts_rocksdb",
      tokenCountsOracleSql,
    ) { (s, dir) =>
      graft.streaming.StreamingDocs.runTokenCountsToCompletion(s, dir,
        rocksDb = true)
    },

    // q178 — contamination attribution: (train_doc, eval_doc,
    // n_shared distinct 5-grams) for every contaminated pair, same
    // gram definition and eval split as q81; the oracle re-derives
    // the full pair table.
    QueryEntry.sql(
      "q178_contamination_attribution",
      """WITH d AS (
        |  SELECT doc_id,
        |         string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents
        |), g AS (
        |  SELECT DISTINCT doc_id,
        |         CAST('0x' || substr(md5(array_to_string(toks[CAST(p AS BIGINT):CAST(p+4 AS BIGINT)], ' ')), 1, 15)
        |              AS BIGINT) AS gh
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS p
        |        FROM d WHERE len(toks) >= 5) x
        |), tg AS (SELECT doc_id, gh FROM g WHERE doc_id % 97 <> 0),
        |eg AS (SELECT doc_id AS eval_doc, gh FROM g WHERE doc_id % 97 = 0)
        |SELECT tg.doc_id AS train_doc, eg.eval_doc,
        |       CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM tg JOIN eg USING (gh)
        |GROUP BY 1, 2 ORDER BY train_doc, eval_doc""".stripMargin,
    ) { (s, dir) =>
      val docs = Tables(s, dir).documentsRebalanced
      contaminationAttribution(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0), n = 5)
    },

    // Per-document repetition ratios (q82): Gopher-style duplicate
    // k-gram fraction.
    QueryEntry.sql(
      "q82_repetition_ratio",
      """WITH d AS (
        |  SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS t
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, substr(t, CAST(p AS BIGINT), 8) AS g
        |  FROM (SELECT doc_id, t, unnest(range(1, length(t) - 6)) AS p
        |        FROM d WHERE length(t) >= 8) x
        |)
        |SELECT doc_id, COUNT(*) AS n_grams,
        |       CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct,
        |       ROUND(CAST(COUNT(*) - COUNT(DISTINCT g) AS DOUBLE) / COUNT(*), 6)
        |         AS rep_ratio
        |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    ) { (s, dir) =>
      repetitionRatio(Tables(s, dir).documentsRebalanced).orderBy("doc_id")
    },
    // q179 — per-source quality SCORECARD: the curation dashboard row
    // a mixture designer reads per provenance — doc count, exact-dup
    // rate, mean tokens, mean bigram familiarity (q79), mean
    // repetition ratio (q82) — composed from the house signal
    // definitions over docs long enough for every signal (inner joins:
    // length ≥ 8 chars). Means are sums of the 6dp-rounded per-doc
    // values carried as DECIMAL (order-free), divided once in double.
    QueryEntry.sql(
      "q179_source_scorecard",
      """WITH d AS (
        |  SELECT doc_id, source, text,
        |         regexp_replace(lower(text), '\s+', ' ', 'g') AS t
        |  FROM documents
        |), fb AS (
        |  SELECT doc_id, substr(t, CAST(p AS BIGINT), 2) AS bg
        |  FROM (SELECT doc_id, t, unnest(range(1, length(t))) AS p
        |        FROM d WHERE length(t) >= 2) x
        |), m AS (SELECT bg, COUNT(*) AS cnt FROM fb GROUP BY bg),
        |fam AS (
        |  SELECT fb.doc_id,
        |         ROUND(CAST(CAST(SUM(m.cnt) AS BIGINT) AS DOUBLE) / COUNT(*), 6)
        |           AS familiarity
        |  FROM fb JOIN m ON m.bg = fb.bg GROUP BY fb.doc_id
        |), rg AS (
        |  SELECT doc_id, substr(t, CAST(p AS BIGINT), 8) AS g
        |  FROM (SELECT doc_id, t, unnest(range(1, length(t) - 6)) AS p
        |        FROM d WHERE length(t) >= 8) x
        |), rep AS (
        |  SELECT doc_id,
        |         ROUND(CAST(COUNT(*) - COUNT(DISTINCT g) AS DOUBLE) / COUNT(*), 6)
        |           AS rep_ratio
        |  FROM rg GROUP BY doc_id
        |), tok AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT)
        |           AS n_tok
        |  FROM documents
        |)
        |SELECT d.source, COUNT(*) AS n_docs,
        |       ROUND(CAST(COUNT(*) - COUNT(DISTINCT d.text) AS DOUBLE)
        |             / COUNT(*), 6) AS dup_rate,
        |       ROUND(CAST(SUM(tok.n_tok) AS DOUBLE) / COUNT(*), 6) AS mean_tokens,
        |       ROUND(CAST(SUM(CAST(fam.familiarity AS DECIMAL(18,6))) AS DOUBLE)
        |             / COUNT(*), 6) AS mean_familiarity,
        |       ROUND(CAST(SUM(CAST(rep.rep_ratio AS DECIMAL(18,6))) AS DOUBLE)
        |             / COUNT(*), 6) AS mean_rep_ratio
        |FROM d JOIN fam USING (doc_id) JOIN rep USING (doc_id)
        |       JOIN tok USING (doc_id)
        |GROUP BY d.source ORDER BY d.source""".stripMargin,
    ) { (s, dir) =>
      sourceScorecard(Tables(s, dir).documentsRebalanced)
    },

    // Winnowed fingerprint profile per document: how many distinct
    // fingerprints the (K=8, W=4) scheme keeps, with min/max as exact
    // integer witnesses of the selected set.
    QueryEntry.sql(
      "q68_winnow_fingerprints",
      s"""WITH d AS (
         |  SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS t
         |  FROM documents
         |), grams AS (
         |  SELECT doc_id, t, unnest(range(1, length(t) - ${K - 2})) AS p
         |  FROM d WHERE length(t) >= ${K + W - 1}
         |), hashed AS (
         |  SELECT doc_id, t, p,
         |         CAST('0x' || substr(md5(substr(t, CAST(p AS BIGINT), $K)), 1, 15)
         |              AS BIGINT) AS h
         |  FROM grams
         |), winnowed AS (
         |  SELECT doc_id, p,
         |         MIN(h) OVER (PARTITION BY doc_id ORDER BY p
         |                      ROWS BETWEEN CURRENT ROW AND ${W - 1} FOLLOWING)
         |           AS wmin,
         |         length(t) - ${K - 1} - ${W - 1} AS last_full
         |  FROM hashed
         |)
         |SELECT doc_id,
         |       CAST(COUNT(DISTINCT wmin) AS BIGINT) AS n_fp,
         |       MIN(wmin) AS min_fp, MAX(wmin) AS max_fp
         |FROM winnowed WHERE p <= last_full
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    ) { (s, dir) =>
      fingerprints(Tables(s, dir).documentsRebalanced)
        .groupBy("doc_id")
        .agg(
          countDistinct("fp").as("n_fp"),
          min("fp").as("min_fp"),
          max("fp").as("max_fp"),
        )
        .orderBy("doc_id")
    },

    // Corpus bigram-familiarity quality scores — low scorers are the
    // "unusual character statistics" documents a perplexity gate would
    // drop.
    QueryEntry.sql(
      "q79_bigram_familiarity",
      """WITH d AS (
        |  SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS t
        |  FROM documents
        |), b AS (
        |  SELECT doc_id, substr(t, CAST(p AS BIGINT), 2) AS bg
        |  FROM (SELECT doc_id, t, unnest(range(1, length(t))) AS p
        |        FROM d WHERE length(t) >= 2) x
        |), m AS (
        |  SELECT bg, COUNT(*) AS cnt FROM b GROUP BY bg
        |)
        |SELECT b.doc_id, COUNT(*) AS n_bigrams,
        |       ROUND(CAST(CAST(SUM(m.cnt) AS BIGINT) AS DOUBLE) / COUNT(*), 6)
        |         AS familiarity
        |FROM b JOIN m ON m.bg = b.bg
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,
    ) { (s, dir) =>
      bigramFamiliarity(Tables(s, dir).documentsRebalanced).orderBy("doc_id")
    },

    // q173 — true log-prob bigram-LM perplexity gate (q79's companion;
    // the q160 determinism pattern): DuckDB refits the whole smoothed
    // model independently — bigram counts, context counts, vocabulary
    // size, 6dp-DECIMAL log-probs — and re-scores every document.
    QueryEntry.sql(
      "q173_bigram_logprob",
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
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
        |)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |       CAST(SUM(lp) AS DOUBLE) AS log_prob,
        |       CAST(SUM(lp) AS DOUBLE) / COUNT(*) AS avg_logprob
        |FROM bg JOIN model USING (w1, w2)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    ) { (s, dir) =>
      bigramLogProb(graft.sources.TokenizedCorpus.tokens(s, dir))
    },

    // Deterministic train/val/test split (~80/10/10): bucket = the top
    // 10 bits of splitmix64(doc_id) — unsigned-consistent in both
    // engines (a mod-1000 split would NOT be: 2^64 % 1000 ≠ 0, so
    // signed pmod and unsigned % disagree). Hash-of-key splits are
    // stable under corpus growth and need no global sort or count —
    // the only split discipline that works at 100 TB.
    QueryEntry.sql(
      "q69_corpus_split",
      s"""WITH b AS (
         |  SELECT doc_id, (${Hll.splitmixSqlFor("doc_id")}) >> 54 AS bucket
         |  FROM documents
         |)
         |SELECT CASE WHEN bucket < $SplitTrainLt THEN 'train'
         |            WHEN bucket < $SplitValLt THEN 'val'
         |            ELSE 'test' END AS split,
         |       COUNT(*) AS n_docs,
         |       MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
         |FROM b GROUP BY 1 ORDER BY split""".stripMargin,
    ) { (s, dir) =>
      Tables(s, dir).documents
        .withColumn("split", splitColumn(col("doc_id")))
        .groupBy("split")
        .agg(
          count(lit(1)).as("n_docs"),
          min("doc_id").as("min_id"),
          max("doc_id").as("max_id"),
        )
        .orderBy("split")
    },

    // q165 — LEAKAGE-SAFE corpus split: q69 assigns splits per doc, so
    // two byte-identical documents can land one in train and one in
    // test — the classic train/test leakage that inflates every eval
    // downstream. Here the split is assigned per exact-dup GROUP
    // (content hash), keyed by the group's min doc_id through the same
    // splitmix64 bucket rule as q69: duplicates cannot straddle splits
    // BY CONSTRUCTION (one group key → one split), which the per-split
    // group counts under the oracle certify. Production pipelines do
    // the same one level up on near-dup cluster ids (q38's labels) —
    // exact-dup grouping is the form with an independently replayable
    // oracle.
    //
    // Scale shape: one content-hash groupBy (the q11 exact-dedup
    // shuffle), then a group-sized aggregation — no global sort, no
    // count-dependent assignment; stable under corpus growth like
    // every hash-of-key split.
    QueryEntry.sql(
      "q165_leakage_safe_split",
      s"""WITH g AS (
         |  SELECT md5(text) AS h, MIN(doc_id) AS gmin, COUNT(*) AS n
         |  FROM documents GROUP BY md5(text)
         |), s AS (
         |  SELECT CASE WHEN b < $SplitTrainLt THEN 'train'
         |              WHEN b < $SplitValLt THEN 'val'
         |              ELSE 'test' END AS split, n
         |  FROM (SELECT (${Hll.splitmixSqlFor("gmin")}) >> 54 AS b, n FROM g)
         |)
         |SELECT split, CAST(SUM(n) AS BIGINT) AS n_docs,
         |       CAST(COUNT(*) AS BIGINT) AS n_groups
         |FROM s GROUP BY split ORDER BY split""".stripMargin,
    ) { (s, dir) =>
      Tables(s, dir).documentsRebalanced
        .select(col("doc_id"), md5(col("text")).as("h"))
        .groupBy("h")
        .agg(min("doc_id").as("gmin"), count(lit(1)).as("n"))
        .withColumn("split", splitColumn(col("gmin")))
        .groupBy("split")
        .agg(sum("n").as("n_docs"), count(lit(1)).as("n_groups"))
        .orderBy("split")
    },

    // q248 — split-leakage audit: for each splitting STRATEGY, how
    // many near-dup pairs (exact Jaccard ≥ 0.8) straddle a split
    // boundary — the number that quantifies WHY leakage-safe splitting
    // exists. Three strategies over the same pair set: per-doc hash
    // (the naive baseline — leaks), exact-dup-group hash (q165 — stops
    // byte-dup leakage only), and near-dup-CLUSTER hash (q166 — zero
    // by construction, and the oracle proves the zero rather than
    // assuming it). DuckDB re-derives the pair set, the connected
    // components, both group keys, and all three straddle counts.
    QueryEntry.sql(
      "q248_split_leakage",
      s"""WITH RECURSIVE ${Dedup.shCteSql}, ${Dedup.invertedPairsSql(4, 5)},
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs
         |), reach(id, l) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.l FROM edges e JOIN reach r ON e.dst = r.id
         |), grp AS (
         |  SELECT id AS doc_id, MIN(l) AS g FROM reach GROUP BY id
         |), gm AS (
         |  SELECT h, MIN(doc_id) AS gmin
         |  FROM (SELECT doc_id, md5(text) AS h FROM documents) t GROUP BY h
         |), dg AS (
         |  SELECT d.doc_id, gm.gmin
         |  FROM (SELECT doc_id, md5(text) AS h FROM documents) d
         |  JOIN gm USING (h)
         |), tot AS (SELECT COUNT(*) AS tp FROM pairs),
         |rows_ AS (
         |  SELECT 'hash_by_doc' AS method,
         |         (SELECT COUNT(*) FROM pairs
         |          WHERE ${splitCaseSql("doc_a")} <> ${splitCaseSql("doc_b")})
         |           AS cross_pairs
         |  UNION ALL
         |  SELECT 'group_exact',
         |         (SELECT COUNT(*) FROM pairs p
         |          JOIN dg a ON a.doc_id = p.doc_a
         |          JOIN dg b ON b.doc_id = p.doc_b
         |          WHERE ${splitCaseSql("a.gmin")} <> ${splitCaseSql("b.gmin")})
         |  UNION ALL
         |  SELECT 'group_cluster',
         |         (SELECT COUNT(*) FROM pairs p
         |          JOIN grp a ON a.doc_id = p.doc_a
         |          JOIN grp b ON b.doc_id = p.doc_b
         |          WHERE ${splitCaseSql("a.g")} <> ${splitCaseSql("b.g")})
         |)
         |SELECT method, CAST(tot.tp AS BIGINT) AS total_pairs,
         |       CAST(cross_pairs AS BIGINT) AS cross_pairs
         |FROM rows_, tot ORDER BY method""".stripMargin,
    ) { (s, dir) =>
      splitLeakage(Tables(s, dir).documentsRebalanced)
    },
  )

  /** DuckDB split CASE over a bucket-of-splitmix expression — the
    * exact q69/q165 assignment inlined for any id expression.
    */
  private def splitCaseSql(idExpr: String): String =
    s"""(CASE WHEN (${Hll.splitmixSqlFor(idExpr)}) >> 54 < $SplitTrainLt THEN 'train'
       |      WHEN (${Hll.splitmixSqlFor(idExpr)}) >> 54 < $SplitValLt THEN 'val'
       |      ELSE 'test' END)""".stripMargin.linesIterator.mkString(" ")

  /** Split-leakage audit (q248) — see the entry comment.
    *
    * Scale shape: ONE exact pair generation (the q139 prefix-filtered
    * set join), one connected-components pass over those pairs, one
    * md5-group map, then three pair-frame joins + counts — everything
    * is bounded by the pair set and the corpus, never pairs × corpus.
    */
  def splitLeakage(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pairs = graft.TransientCaches.persist(
      SetJoin.jaccardSelfJoin(docs, 4, 5).select("doc_a", "doc_b"))
    val tot = pairs.agg(count(lit(1)).as("tp"))
    val dg = docs.select(col("doc_id"), md5(col("text")).as("h"))
    val gm = dg.groupBy("h").agg(min("doc_id").as("gmin"))
    val docGroup = dg.join(gm, "h").select(col("doc_id"), col("gmin"))
    val cc = Dedup.groupsFromPairs(pairs)
    def crossCount(assign: DataFrame, keyCol: String, method: String) = {
      val a = assign.select(col("doc_id").as("doc_a"),
        splitColumn(col(keyCol)).as("sa"))
      val b = assign.select(col("doc_id").as("doc_b"),
        splitColumn(col(keyCol)).as("sb"))
      pairs.join(a, "doc_a").join(b, "doc_b")
        .filter(col("sa") =!= col("sb"))
        .agg(count(lit(1)).as("cross_pairs"))
        .select(lit(method).as("method"), col("cross_pairs"))
    }
    val naive = docs.select(col("doc_id"), col("doc_id").as("self"))
    Seq(
      crossCount(naive, "self", "hash_by_doc"),
      crossCount(docGroup, "gmin", "group_exact"),
      crossCount(cc.select(col("doc_id"), col("group_id")), "group_id",
        "group_cluster"),
    ).reduce(_ union _)
      .crossJoin(broadcast(tot))
      .select(col("method"), col("tp").cast(LongType).as("total_pairs"),
        col("cross_pairs").cast(LongType).as("cross_pairs"))
      .orderBy("method")
  }
}
