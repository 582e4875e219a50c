package graft.operators

import graft.{QueryEntry, Tables}
import graft.functions.GraftFunctions
import graft.sources.TokenizedCorpus
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.DataFrame

/** Corpus-curation operators a production training-data pipeline runs
  * between dedup and packing: per-domain quota capping (no single
  * domain may dominate the mixture), BPE merge-pair counting (the
  * inner statistic of tokenizer training), and balanced shard
  * assignment (striping documents across output shards so no shard is
  * byte-heavy).
  *
  * Scale discipline shared by all three:
  *   - quota capping never sorts a domain's partition — selection is a
  *     k-bounded heap aggregate (cap entries per group per task), so
  *     the dominant domain costs the same shuffle row count as a rare
  *     one;
  *   - pair counting explodes the VOCABULARY (distinct terms), never
  *     the corpus — the token table is reduced to (term, freq) first,
  *     so a trillion-token corpus explodes only its ~10⁶-entry vocab;
  *   - shard balancing computes an exact global rank without a
  *     single-partition window, via per-bucket offsets (the classic
  *     two-phase distributed rank).
  */
object Curation {

  private val Buckets = 1048576L // 2^20 md5-derived hash space (house rule, q41/q137)

  /** Deterministic per-domain quota cap report: for each domain keep
    * the `cap` documents with the smallest (hash-bucket, doc_id) and
    * report how many documents / characters survive.
    *
    * Selection is ONE k-bounded heap per group ([[GraftFunctions
    * .topkScoreId]]): the ordering (bucket ASC, doc_id ASC) is packed
    * into a single double score `-(bucket·2³² + doc_id)` — exact while
    * doc_id < 2³² since the packed magnitude stays below 2⁵³ — and the
    * id slot (never consulted: scores are injective in doc_id) carries
    * `n_chars` as payload, so the survivor character sum falls out of
    * one array fold. Map-side partials ship at most `cap` rows per
    * domain per task; the reference point is the grouped-top-k shape of
    * q106, not a window sort of the dominant domain's whole partition.
    */
  def domainQuotaCap(docs: DataFrame, domainCol: String, cap: Int): DataFrame = {
    val bucket =
      graft.functions.GraftFunctions.md5Long(
        col("doc_id").cast(StringType).cast(BinaryType)) % Buckets
    val score =
      -(bucket.cast(DoubleType) * lit(4294967296.0) + col("doc_id").cast(DoubleType))
    docs
      .select(col(domainCol).as("domain"), score.as("sel_score"),
        col("n_chars").as("payload"))
      .groupBy("domain")
      .agg(
        count(lit(1)).as("n_docs"),
        GraftFunctions.topkScoreId(col("sel_score"), col("payload"), cap).as("kept"))
      .select(
        col("domain"),
        col("n_docs"),
        size(col("kept")).cast(LongType).as("n_kept"),
        aggregate(col("kept"), lit(0L), (acc, x) => acc + x.getField("id"))
          .as("chars_kept"))
      .orderBy("domain")
  }

  /** Global top-k adjacent character pairs weighted by term frequency —
    * the statistic one iteration of BPE tokenizer training maximizes
    * (Sennrich et al., ACL'16). Computed over the staged token table:
    * reduce to (term, freq) vocab first, explode the ≤ |term|−1 pairs
    * of DISTINCT terms only, weight by freq, map-side-combined count.
    *
    * `sequence(1, len−1)` needs the len ≥ 2 guard: Spark's `sequence`
    * steps DOWNWARD when stop < start (sequence(1,0) = [1,0]), which
    * would fabricate pairs for single-char terms instead of none.
    */
  def bpePairCounts(tokens: DataFrame, k: Int): DataFrame = {
    val vocab = tokens.groupBy(col("term")).agg(count(lit(1)).as("freq"))
    vocab
      .filter(length(col("term")) >= 2)
      .select(
        explode(transform(
          sequence(lit(1), length(col("term")) - 1),
          i => col("term").substr(i, lit(2)))).as("pair"),
        col("freq"))
      .groupBy("pair").agg(sum(col("freq")).as("pair_count"))
      .orderBy(desc("pair_count"), col("pair"))
      .limit(k)
  }

  /** Balanced shard striping report: rank documents by (n_chars DESC,
    * doc_id ASC), assign shard = (rank−1) mod nShards — the classic
    * size-striping heuristic that bounds the per-shard byte spread by
    * one document's width per stripe — and report per-shard doc and
    * character totals.
    *
    * The global rank is EXACT but never materializes a single-partition
    * window: documents are bucketed by `n_chars div bucketWidth`
    * (monotone in the major sort key), per-bucket counts (≈ maxChars /
    * bucketWidth rows) get prefix-summed in a tiny window and broadcast
    * back as offsets, and the within-bucket `row_number` runs in a
    * window PARTITIONED by bucket. rank = offset + within-bucket rank.
    * The one unpartitioned window touches only the bucket summary
    * frame. Equal-width bands assume the n_chars distribution has no
    * single dominant value; a corpus hard-truncated at a length cap
    * piles up in the cap's band — switch bucket boundaries to histogram
    * quantiles (q54's sketch) in that regime, the rank algebra is
    * unchanged.
    */
  def balancedShards(docs: DataFrame, nShards: Int, bucketWidth: Int = 64): DataFrame =
    withGlobalRank(docs.select("doc_id", "n_chars"),
      key = "n_chars", tie = "doc_id", descending = true, bucketWidth = bucketWidth)
      .withColumn("shard", (col("rk") - 1) % nShards)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy("shard")

  /** Appends an exact 1-based global `rk` column ordered by
    * (`key` ASC|DESC, `tie` ASC) — the two-phase distributed rank
    * shared by [[balancedShards]] and [[percentileTransform]]: bucket
    * by `key div bucketWidth` (monotone in the major sort key),
    * prefix-sum the per-bucket counts in a window over the tiny bucket
    * summary frame, broadcast the offsets back, and run `row_number`
    * in a window PARTITIONED by bucket. `key` and `tie` must be
    * integral; `tie` must be unique (rank determinism).
    */
  def withGlobalRank(df: DataFrame, key: String, tie: String,
      descending: Boolean, bucketWidth: Int = 64): DataFrame = {
    val based = df.withColumn("bkt", expr(s"$key div $bucketWidth"))
    val counts = based.groupBy("bkt").agg(count(lit(1)).as("c"))
    val bktOrder = if (descending) desc("bkt") else asc("bkt")
    val offW = Window.orderBy(bktOrder).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("off", coalesce(sum("c").over(offW), lit(0L)))
      .select("bkt", "off")
    val keyOrder = if (descending) desc(key) else asc(key)
    val inBucket = Window.partitionBy("bkt").orderBy(keyOrder, col(tie))
    based
      .join(broadcast(offsets), "bkt")
      .withColumn("rk", col("off") + row_number().over(inBucket))
      .drop("bkt", "off")
  }

  /** Percentile (quantile-normalization) transform of an integral
    * column: each row's pct = (rank−1)/(N−1) under (`key` ASC, `tie`
    * ASC) — the normalization step before mixing heterogeneous quality
    * scores into one curation signal. Exact global ranks from
    * [[withGlobalRank]] (no single-partition window); the count rides
    * in as a 1-row broadcast.
    */
  def percentileTransform(df: DataFrame, key: String, tie: String): DataFrame = {
    val n = df.agg(count(lit(1)).as("n"))
    withGlobalRank(df, key, tie, descending = false)
      .crossJoin(broadcast(n))
      .select(col(tie), col(key),
        round((col("rk") - 1).cast(DoubleType) / (col("n") - 1).cast(DoubleType), 6)
          .as("pct"))
      .orderBy(tie)
  }

  /** Corpus-level duplicated n-gram rate — the share of n-gram
    * occurrences that are repeats of a gram seen elsewhere (the
    * train-set health metric motivating dedup in Lee et al., ACL'22:
    * a corpus whose dup rate stays high after document-level dedup
    * has boilerplate that only substring-level tools can reach).
    *
    * One window pass over the staged token table builds the grams
    * (n−1 `lead`s partitioned by doc), one map-side-combined count per
    * distinct gram, one scalar rollup — no gram string ever carries
    * more than n terms, and the heavy state is the (gram, count)
    * shuffle, key-partitioned.
    */
  def dupNgramRate(tokens: DataFrame, n: Int): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val parts = col("term") +: (1 until n).map(i => lead("term", i).over(byDoc))
    val grams = tokens
      .select(concat_ws(" ", parts: _*).as("g"),
        lead("term", n - 1).over(byDoc).isNotNull.as("full"))
      .filter(col("full"))
    grams.groupBy("g").agg(count(lit(1)).as("c"))
      .agg(
        sum("c").as("n_grams"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_occurrences"))
      .select(col("n_grams"), col("n_distinct"), col("dup_occurrences"),
        round(col("dup_occurrences").cast(DoubleType) / col("n_grams").cast(DoubleType), 6)
          .as("dup_rate"))
  }

  /** Per-document Gopher-style repetition signals (Rae et al. 2021,
    * "Scaling Language Models: ... Gopher", Table A1 quality
    * heuristics, word form): the word-fraction captured by the doc's
    * most common bigram and the fraction of trigram positions whose
    * trigram repeats WITHIN the doc. Corpus-level q148 answers "how
    * duplicated is the corpus"; this answers "which docs are
    * internally repetitious" — the production Gopher filter drops
    * docs above thresholds on exactly these signals, so the gate
    * emits them for every doc.
    *
    * The fractions need no tie-break: when several bigrams share the
    * max count the fraction is identical whichever wins. Docs shorter
    * than 3 words have no trigram and drop out of BOTH engines via
    * the inner joins.
    *
    * Scale shape: one windowed pass per gram size (the q148 builder
    * shape) and doc-keyed aggregations throughout — no cross-doc join
    * anywhere, so the operator is embarrassingly doc-parallel at any
    * corpus size.
    */
  def gopherRepetition(tokens: DataFrame): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    // ONE windowed pass supplies every consumer: lead(1) and lead(2)
    // share the same partitioning+sort, so Catalyst runs a single
    // Window operator; the persisted frame is then read by the word
    // count and both gram aggregations (pinned through TransientCaches
    // and freed by its release, like the Fuzzy variants frame —
    // without it each of the three subtrees would re-shuffle and
    // re-sort the full token table). Corpus-sized at (doc_id, 3 terms) width;
    // MEMORY_AND_DISK spills rather than OOMs at scale.
    val leads = graft.TransientCaches.persist(
      tokens
        .select(col("doc_id"), col("term"),
          lead("term", 1).over(byDoc).as("t1"),
          lead("term", 2).over(byDoc).as("t2")))
    val nWords = leads.groupBy("doc_id").agg(count(lit(1)).as("n_words"))
    val top2 = leads.filter(col("t1").isNotNull)
      .groupBy(col("doc_id"), concat_ws(" ", col("term"), col("t1")).as("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("mx"))
    val dup3 = leads.filter(col("t2").isNotNull)
      .groupBy(col("doc_id"),
        concat_ws(" ", col("term"), col("t1"), col("t2")).as("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup"),
        sum("c").as("tot"))
    nWords.join(top2, "doc_id").join(dup3, "doc_id")
      .select(col("doc_id"), col("n_words"),
        round(lit(2.0) * col("mx") / col("n_words"), 6).as("top_bigram_frac"),
        round(col("dup").cast(DoubleType) / col("tot").cast(DoubleType), 6)
          .as("dup_trigram_frac"))
      .orderBy("doc_id")
  }

  /** Per-eval-document contamination score: the fraction of the doc's
    * DISTINCT n-grams that appear anywhere in the train split — the
    * scoring companion to the q81 decontamination FILTER (a filter
    * answers "drop it?", the score answers "how burned is it?", which
    * is what an eval-suite audit reports). Split rule is the house
    * doc_id mod convention (q142).
    *
    * Scale shape: grams from one windowed pass; the train side is
    * reduced to DISTINCT grams before the LEFT join, so the join is
    * gram-key-partitioned set membership — never doc × doc.
    */
  def contaminationScore(tokens: DataFrame, n: Int, evalMod: Int): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val parts = col("term") +: (1 until n).map(i => lead("term", i).over(byDoc))
    // persisted: the eval and train sides both read this frame — without
    // it each subtree re-runs the scan + window sort (the q163 lesson);
    // pinned through TransientCaches, MEMORY_AND_DISK spills at scale.
    val grams = graft.TransientCaches.persist(
      tokens
        .select(col("doc_id"), concat_ws(" ", parts: _*).as("g"),
          lead("term", n - 1).over(byDoc).isNotNull.as("full"))
        .filter(col("full")))
    val evalGrams = grams.filter(col("doc_id") % evalMod === 0)
      .select(col("doc_id"), col("g")).distinct()
    val trainGrams = grams.filter(col("doc_id") % evalMod =!= 0)
      .select(col("g")).distinct().withColumn("hit", lit(1L))
    evalGrams.join(trainGrams, Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        round(col("n_hit").cast(DoubleType) / col("n_grams").cast(DoubleType), 6)
          .as("contamination"))
      .orderBy("doc_id")
  }

  /** Exact-substring span-removal dedup (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better"
    * transform, in token-gram form): every token covered by ANY
    * corpus-duplicated `n`-gram is REMOVED from the document, and the
    * report carries the cleaned text's md5 so the rewrite itself sits
    * under the differential gate — this is the missing TRANSFORM
    * companion to q148's dup-rate METRIC (a metric answers "how
    * burned is the corpus?", the transform produces the corpus you
    * actually train on).
    *
    * Scale shape: grams come from the one windowed pass over the
    * staged token table (no re-tokenize); the duplicated-gram set is a
    * grouped count filtered to c>1, joined back BY GRAM KEY (set
    * membership, never doc × doc); cover propagation is a per-doc
    * ROWS-frame window (n−1 preceding → current), so a token learns it
    * is covered from its own partition — no position self-join. The
    * rebuild collects only each doc's KEPT tokens (null-skipping
    * collect_list), bounded by document size — the same per-doc state
    * bound as q100's chunker.
    */
  def spanDedup(tokens: DataFrame, n: Int): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val parts = col("term") +: (1 until n).map(i => lead("term", i).over(byDoc))
    // persisted: read by the dup-gram count AND the membership join —
    // without it the scan + window sort run twice (the q163 lesson).
    val withGram = graft.TransientCaches.persist(
      tokens
        .select(col("doc_id"), col("pos"), col("term"),
          concat_ws(" ", parts: _*).as("g"),
          lead("term", n - 1).over(byDoc).isNotNull.as("full")))
    val dupGrams = withGram.filter(col("full"))
      .groupBy("g").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1)
      .select(col("g"), lit(1).as("dup"))
    val cover = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(-(n - 1), Window.currentRow)
    withGram
      .join(dupGrams, Seq("g"), "left")
      .select(col("doc_id"), col("pos"), col("term"),
        when(col("full") && col("dup").isNotNull, 1).otherwise(0).as("ds"))
      .withColumn("cv", max(col("ds")).over(cover))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("cv")).cast(LongType).as("n_removed"),
        md5(array_join(
          transform(
            array_sort(collect_list(
              when(col("cv") === 0, struct(col("pos"), col("term"))))),
            x => x.getField("term")),
          " ").cast(BinaryType)).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** DSIR-style importance weights (Xie et al., NeurIPS'23 "Data
    * Selection for Language Models via Importance Resampling"): score
    * every raw document by how target-like its hashed-bigram profile
    * is — w(d) = Σ_{bigram g∈d} [ln p̂_target(bucket(g)) −
    * ln p̂_raw(bucket(g))], add-1-smoothed over a B-bucket hashed
    * feature space. The resampling step then draws by softmax(w); the
    * weights are the whole statistical content, so that is what this
    * operator produces (per doc: bigram count + weight).
    *
    * Scale shape: the classic fit→broadcast→score pipeline. The corpus
    * is STREAMED twice and materialized never — once to reduce bigram
    * instances to the B-sized (n_target, n_raw) cell frame (map-side
    * combined), once to score docs against the fitted model; the model
    * (B rows, B ≈ 2¹²) broadcasts to every executor, so scoring is a
    * shuffle-free map + one per-doc aggregate. Bigram hashing is the
    * native [[GraftFunctions.md5Long]] (no hex-string round trip).
    *
    * Determinism pin: per-bucket log weights are snapped to 6 decimals
    * and carried as DECIMAL(18,6), so the per-doc sum is EXACT integer
    * arithmetic — summation order cannot move the result (q75/q154
    * checksum rule; the bound: |lw| ≤ ln(T+B) ≤ 60, × 10⁶ scale ×
    * ~10⁴ bigrams/doc stays far under DECIMAL(28,6)).
    */
  def dsirWeights(tokens: DataFrame, docs: DataFrame, targetLang: String,
      buckets: Int = 4096): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val big = tokens
      .select(col("doc_id"), col("term"), lead("term", 1).over(byDoc).as("nxt"))
      .filter(col("nxt").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("term"), col("nxt")).as("g"))
    val hb = big
      .join(docs.select(col("doc_id"), (col("lang") === targetLang).as("tgt")),
        Seq("doc_id"))
      .select(col("doc_id"),
        (GraftFunctions.md5Long(col("g").cast(BinaryType)) % buckets).as("b"),
        col("tgt"))
    val cells = hb.groupBy("b").agg(
      sum(when(col("tgt"), 1L).otherwise(0L)).as("nt"),
      count(lit(1)).as("nr"))
    val tots = cells.agg(sum("nt").as("tt"), sum("nr").as("tr"))
    val model = cells.crossJoin(broadcast(tots))
      .select(col("b"),
        round(
          log((col("nt") + lit(1.0)) / (col("tt") + lit(buckets.toDouble))) -
          log((col("nr") + lit(1.0)) / (col("tr") + lit(buckets.toDouble))), 6)
          .cast(DecimalType(18, 6)).as("lw"))
    hb.join(broadcast(model), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("lw")).cast(DoubleType).as("weight"))
      .orderBy("doc_id")
  }

  def entries: Seq[QueryEntry] = Seq(
    // q145 — per-language quota cap at 60 docs: the dominant language
    // is capped, the tail survives whole — the mixture-shaping step
    // that runs right after dedup in a curation pipeline.
    QueryEntry.sql(
      "q145_domain_quota",
      """WITH ranked AS (
        |  SELECT lang AS domain, n_chars,
        |         ROW_NUMBER() OVER (
        |           PARTITION BY lang
        |           ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |                      % 1048576,
        |                    doc_id) AS rk
        |  FROM documents)
        |SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(CASE WHEN rk <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST(SUM(CASE WHEN rk <= 60 THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept
        |FROM ranked GROUP BY domain ORDER BY domain""".stripMargin,
    ) { (s, dir) =>
      domainQuotaCap(Tables(s, dir).documentsRebalanced, "lang", cap = 60)
    },

    // q146 — top-30 BPE merge-pair counts over the staged token table;
    // the oracle re-tokenizes from `documents` independently (q134
    // style), so the staged layout sits under the differential gate.
    QueryEntry.sql(
      "q146_bpe_pairs",
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents
        |), vocab AS (
        |  SELECT term, COUNT(*) AS freq FROM tok GROUP BY term
        |), pairs AS (
        |  SELECT substr(term, i, 2) AS pair, freq
        |  FROM (SELECT term, freq, unnest(generate_series(1, len(term) - 1)) AS i
        |        FROM vocab WHERE len(term) >= 2)
        |)
        |SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count
        |FROM pairs GROUP BY pair
        |ORDER BY pair_count DESC, pair LIMIT 30""".stripMargin,
    ) { (s, dir) =>
      bpePairCounts(TokenizedCorpus.tokens(s, dir), k = 30)
    },

    // q147 — 8-way balanced shard striping by document size.
    QueryEntry.sql(
      "q147_shard_balance",
      """WITH ranked AS (
        |  SELECT n_chars,
        |         ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents)
        |SELECT CAST((rk - 1) % 8 AS BIGINT) AS shard,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM ranked GROUP BY shard ORDER BY shard""".stripMargin,
    ) { (s, dir) =>
      balancedShards(Tables(s, dir).documentsRebalanced, nShards = 8)
    },

    // q152 — percentile normalization of document lengths (rank
    // transform); the same two-phase rank as q147, ascending.
    QueryEntry.sql(
      "q152_percentile_transform",
      """WITH ranked AS (
        |  SELECT doc_id, n_chars,
        |         ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rk,
        |         COUNT(*) OVER () AS n
        |  FROM documents)
        |SELECT doc_id, n_chars,
        |       ROUND(CAST(rk - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE), 6) AS pct
        |FROM ranked ORDER BY doc_id""".stripMargin,
    ) { (s, dir) =>
      percentileTransform(
        Tables(s, dir).documentsRebalanced.select("doc_id", "n_chars"),
        key = "n_chars", tie = "doc_id")
    },

    // q148 — corpus duplicated 5-gram rate (the dedup health metric).
    QueryEntry.sql(
      "q148_dup_ngram_rate",
      """WITH tok AS (
        |  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
        |), grams AS (
        |  SELECT array_to_string(t[i:i+4], ' ') AS g
        |  FROM (SELECT t, unnest(generate_series(1, len(t) - 4)) AS i FROM tok)
        |), c AS (SELECT g, COUNT(*) AS c FROM grams GROUP BY g)
        |SELECT CAST(SUM(c) AS BIGINT) AS n_grams,
        |       CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |       CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_occurrences,
        |       ROUND(CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
        |             / CAST(SUM(c) AS DOUBLE), 6) AS dup_rate
        |FROM c""".stripMargin,
    ) { (s, dir) =>
      dupNgramRate(TokenizedCorpus.tokens(s, dir), n = 5)
    },

    // q149 — per-eval-doc contamination score (doc_id % 10 = eval split).
    QueryEntry.sql(
      "q149_contamination_score",
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
        |), grams AS (
        |  SELECT doc_id, array_to_string(t[i:i+4], ' ') AS g
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS i FROM tok)
        |), eg AS (SELECT DISTINCT doc_id, g FROM grams WHERE doc_id % 10 = 0),
        |tg AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 <> 0)
        |SELECT eg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |       CAST(SUM(CASE WHEN tg.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
        |       ROUND(CAST(SUM(CASE WHEN tg.g IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |             / CAST(COUNT(*) AS DOUBLE), 6) AS contamination
        |FROM eg LEFT JOIN tg ON eg.g = tg.g
        |GROUP BY eg.doc_id ORDER BY eg.doc_id""".stripMargin,
    ) { (s, dir) =>
      contaminationScore(TokenizedCorpus.tokens(s, dir), n = 5, evalMod = 10)
    },

    // q158 — exact-substring span-removal dedup: tokens covered by any
    // corpus-duplicated 5-gram are removed; the oracle replays the
    // mark-cover-rebuild relationally and md5-compares the CLEANED
    // TEXT itself, so the transform (not just its counts) is
    // differential-tested.
    QueryEntry.sql(
      "q158_span_dedup",
      """WITH tok0 AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents
        |), tok AS (
        |  SELECT doc_id, i AS pos, t[i] AS term
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM tok0)
        |), grams AS (
        |  SELECT doc_id, i AS pos, array_to_string(t[i:i+4], ' ') AS g
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS i FROM tok0)
        |), dup AS (
        |  SELECT g FROM (SELECT g, COUNT(*) AS c FROM grams GROUP BY g) WHERE c > 1
        |), starts AS (
        |  SELECT grams.doc_id, grams.pos FROM grams JOIN dup USING (g)
        |), marked AS (
        |  SELECT tok.doc_id, tok.pos, tok.term,
        |         CASE WHEN starts.pos IS NOT NULL THEN 1 ELSE 0 END AS ds
        |  FROM tok LEFT JOIN starts
        |    ON tok.doc_id = starts.doc_id AND tok.pos = starts.pos
        |), cov AS (
        |  SELECT doc_id, pos, term,
        |         MAX(ds) OVER (PARTITION BY doc_id ORDER BY pos
        |                       ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS cv
        |  FROM marked
        |)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |       CAST(SUM(cv) AS BIGINT) AS n_removed,
        |       md5(COALESCE(string_agg(CASE WHEN cv = 0 THEN term END, ' '
        |                               ORDER BY pos), '')) AS clean_md5
        |FROM cov GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    ) { (s, dir) =>
      spanDedup(TokenizedCorpus.tokens(s, dir), n = 5)
    },

    // q160 — DSIR importance weights against the lang='en' target
    // slice over a 4096-bucket hashed-bigram space; DuckDB refits the
    // whole model (bigrams, hash buckets, smoothed log-ratios)
    // independently and re-scores every document. Weights travel as
    // 6dp DECIMAL in both engines, so the comparison is exact.
    QueryEntry.sql(
      "q160_dsir_weights",
      """WITH tok0 AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents
        |), big AS (
        |  SELECT doc_id, t[i] || ' ' || t[i+1] AS g
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
        |        FROM tok0)
        |), hb AS (
        |  SELECT big.doc_id,
        |         CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % 4096 AS b,
        |         (lang = 'en') AS tgt
        |  FROM big JOIN documents USING (doc_id)
        |), cells AS (
        |  SELECT b, SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS nt, COUNT(*) AS nr
        |  FROM hb GROUP BY b
        |), tots AS (SELECT SUM(nt) AS tt, SUM(nr) AS tr FROM cells),
        |model AS (
        |  SELECT b, CAST(ROUND(ln((nt + 1.0) / (tt + 4096.0))
        |                       - ln((nr + 1.0) / (tr + 4096.0)), 6)
        |                 AS DECIMAL(18,6)) AS lw
        |  FROM cells, tots
        |)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |       CAST(SUM(lw) AS DOUBLE) AS weight
        |FROM hb JOIN model USING (b)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    ) { (s, dir) =>
      dsirWeights(TokenizedCorpus.tokens(s, dir), Tables(s, dir).documents,
        targetLang = "en")
    },

    // q163 — per-doc Gopher repetition signals (top-bigram word
    // fraction + duplicated-trigram fraction); the oracle re-derives
    // both from the raw text with the house tokenization.
    QueryEntry.sql(
      "q163_gopher_repetition",
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents
        |), counts AS (
        |  SELECT doc_id, len(t) AS n_words FROM tok
        |), bi AS (
        |  SELECT doc_id, array_to_string(t[i:i+1], ' ') AS g
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i FROM tok)
        |), bic AS (SELECT doc_id, g, COUNT(*) AS c FROM bi GROUP BY doc_id, g),
        |top2 AS (SELECT doc_id, MAX(c) AS mx FROM bic GROUP BY doc_id),
        |tri AS (
        |  SELECT doc_id, array_to_string(t[i:i+2], ' ') AS g
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i FROM tok)
        |), tric AS (SELECT doc_id, g, COUNT(*) AS c FROM tri GROUP BY doc_id, g),
        |dup3 AS (
        |  SELECT doc_id, SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup, SUM(c) AS tot
        |  FROM tric GROUP BY doc_id
        |)
        |SELECT counts.doc_id, CAST(counts.n_words AS BIGINT) AS n_words,
        |       ROUND(2.0 * top2.mx / counts.n_words, 6) AS top_bigram_frac,
        |       ROUND(CAST(dup3.dup AS DOUBLE) / CAST(dup3.tot AS DOUBLE), 6) AS dup_trigram_frac
        |FROM counts JOIN top2 USING (doc_id) JOIN dup3 USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    ) { (s, dir) =>
      gopherRepetition(TokenizedCorpus.tokens(s, dir))
    },

    // q244 — T5-style span corruption preparation: deterministic
    // ~15% masking in 3-token blocks, adjacent masked blocks merged
    // into spans, each span replaced by ONE sentinel in the corrupted
    // text (the denoising-objective transform a pretraining pipeline
    // applies to every document). Mask decisions come from the pinned
    // SplitMix64 of (doc_id, block) — span structure needs no window:
    // a block's span-start flag just re-hashes its LEFT NEIGHBOR.
    // DuckDB replays every hash, block decision, span merge, and the
    // order-preserving reconstruction md5.
    QueryEntry.sql(
      "q244_span_corruption",
      s"""WITH tok AS (
         |  SELECT doc_id, pos - 1 AS p, t FROM (
         |    SELECT doc_id, generate_subscripts(arr, 1) AS pos,
         |           unnest(arr) AS t
         |    FROM (SELECT doc_id,
         |                 regexp_split_to_array(trim(lower(text)), '\\s+') AS arr
         |          FROM documents) a)
         |), fl AS (
         |  SELECT doc_id, p, t,
         |         (${graft.operators.Hll.splitmixSqlFor(
                      "(doc_id * 1048576 + (p // 3))")} >> 11) % 100 < 15 AS m,
         |         CASE WHEN p // 3 = 0 THEN TRUE
         |              ELSE NOT ((${graft.operators.Hll.splitmixSqlFor(
                      "(doc_id * 1048576 + (p // 3) - 1)")} >> 11) % 100 < 15)
         |         END AS prev_un
         |  FROM tok
         |)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |       CAST(SUM(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
         |       CAST(SUM(CASE WHEN m AND prev_un AND p % 3 = 0
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
         |       md5(string_agg(
         |             CASE WHEN NOT m THEN t
         |                  WHEN prev_un AND p % 3 = 0 THEN '<x>' END,
         |             ' ' ORDER BY p)) AS corrupted_md5
         |FROM fl GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    ) { (s, dir) =>
      spanCorruption(Tables(s, dir).documentsRebalanced)
    },

    // q312 — the composed curation pipeline END-TO-END under one gate:
    // quality filter (≥ 25 tokens) → exact dedup (keep min doc_id per
    // md5(text) group — the q165 leakage-safe key) → per-source quota
    // (the 50 splitmix64-smallest survivors — deterministic, count-
    // independent, the q69 hash-order discipline). Every stage is
    // individually oracled elsewhere (q186/q11/q145); this entry
    // certifies their COMPOSITION — a survivor set that drifts at any
    // stage shifts the final counts, token totals, and the modular
    // corpus checksum (Σ md5₆₀(text) mod 1e9+7, the q154 bucket-
    // checksum idiom: order-free content identity, not just counts).
    // Scale shape: one token-length map, one content-hash shuffle, one
    // per-source top-K window over survivors (K bounded), one rollup.
    QueryEntry.sql(
      "q312_curation_pipeline",
      s"""WITH ok AS (
         |  SELECT doc_id, source, text
         |  FROM documents
         |  WHERE len(regexp_split_to_array(trim(lower(text)), '\\s+')) >= 25
         |), dedup AS (
         |  SELECT MIN(doc_id) AS doc_id FROM ok GROUP BY md5(text)
         |), surv AS (
         |  -- sort key on the splitmix >> 11 2^53 grid: DuckDB's mirror
         |  -- is UBIGINT while Spark's is a signed long, so a raw-value
         |  -- ORDER BY would disagree above 2^63 (the q69 >>-discipline)
         |  SELECT o.doc_id, o.source, o.text,
         |         row_number() OVER (PARTITION BY o.source
         |           ORDER BY (${graft.operators.Hll.splitmixSqlFor("o.doc_id")}) >> 11,
         |                    o.doc_id) AS rk
         |  FROM ok o JOIN dedup USING (doc_id)
         |)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(len(regexp_split_to_array(trim(lower(text)), '\\s+')))
         |            AS BIGINT) AS n_tokens,
         |       CAST(SUM(CAST('0x' || substr(md5(text), 1, 15) AS BIGINT)
         |                % 1000000007) % 1000000007 AS BIGINT) AS checksum
         |FROM surv WHERE rk <= 50
         |GROUP BY source ORDER BY source""".stripMargin,
    ) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val toks = size(TextAnalysis.tokens(col("text")))
      val ok = Tables(s, dir).documentsRebalanced
        .filter(toks >= 25)
        .select(col("doc_id"), col("source"), col("text"))
      val dedup = ok.groupBy(md5(col("text")).as("h"))
        .agg(min("doc_id").as("doc_id"))
        .select("doc_id")
      val w = Window.partitionBy("source")
        .orderBy(shiftrightunsigned(GraftFunctions.splitmix64(col("doc_id")), 11),
          col("doc_id"))
      ok.join(dedup, "doc_id")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 50)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(TextAnalysis.tokens(col("text"))).cast(LongType))
            .as("n_tokens"),
          pmod(sum(pmod(GraftFunctions.md5Long(
            col("text").cast(org.apache.spark.sql.types.BinaryType)),
            lit(1000000007L))), lit(1000000007L)).cast(LongType)
            .as("checksum"))
        .orderBy("source")
    },
  )

  /** T5-style span corruption report (q244) — see the entry comment.
    *
    * Scale shape: one posexplode, pure per-token codegen hash work
    * (TWO SplitMix evaluations per token — self and left-neighbor
    * block — instead of any lag window), one doc-grouped rebuild
    * bounded by document length. (doc_id·2^20 + block) is injective
    * while blocks < 2^20 ≈ 3M-token docs — the q202 packing rule.
    */
  def spanCorruption(docs: DataFrame): DataFrame = {
    def masked(block: org.apache.spark.sql.Column) =
      shiftrightunsigned(GraftFunctions.splitmix64(
        col("doc_id") * 1048576L + block), 11) % 100 < 15
    val b = expr("p div 3")
    val tok = docs.select(col("doc_id"),
      posexplode(TextAnalysis.tokens(col("text"))).as(Seq("p", "t")))
    val fl = tok.select(col("doc_id"), col("p"), col("t"),
      masked(b).as("m"),
      when(b === 0, lit(true)).otherwise(!masked(b - 1)).as("prev_un"))
    val spanStart = col("m") && col("prev_un") && col("p") % 3 === 0
    fl.groupBy("doc_id")
      .agg(count(lit(1)).cast(LongType).as("n_tokens"),
        sum(when(col("m"), 1L).otherwise(0L)).cast(LongType).as("n_masked"),
        sum(when(spanStart, 1L).otherwise(0L)).cast(LongType).as("n_spans"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(when(!col("m"), struct(col("p"), col("t")))
            .when(spanStart, struct(col("p"), lit("<x>").as("t"))))),
          r => r.getField("t")))).as("corrupted_md5"))
      .orderBy("doc_id")
  }
}
