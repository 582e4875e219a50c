package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** User-facing facade — the "switch from the reference" surface: a
  * reference user's whole program is `read ORC → SUM(first column)`
  * (`orc-parser/reader.cc`), which is [[sumFirstColumn]] here; every
  * capability beyond that is a named method over DataFrames.
  *
  * Most methods return lazy DataFrames — composition and optimization
  * stay with Catalyst. The documented exceptions run model-sized
  * eager steps at call time: [[annSearch]] (quantizer fit + index
  * materialization), [[sequencePack]] (bucket-total prefix phase),
  * and [[nearDupPairs]]/derived dedup paths (eager verified-pair
  * materialization).
  *
  * NOTE: construction tunes the passed session in place (UTC session
  * timezone, ORC reader configs, graft functions, the HOF-dot-product
  * rewrite) — the engine's documented session contract. Use a
  * dedicated session if those session-wide settings are unwanted.
  */
final class GraftEngine(val spark: SparkSession) {
  EngineSession.tune(spark)

  /** The reference program verbatim (`reader.cc:161`): scan an ORC
    * file, sum its first column (nulls skipped). Like the reference's
    * `uint64_t` accumulator (`reader.cc:22`) the result is integral —
    * non-integer first columns are cast to long per SQL semantics.
    */
  def sumFirstColumn(orcPath: String): Long = {
    import org.apache.spark.sql.functions.{col, sum}
    val df = spark.read.orc(orcPath)
    val r = df.agg(
      sum(col(df.columns.head)).cast(org.apache.spark.sql.types.LongType)).head
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** The hot-path variant: stripe-parallel native column-vector scan
    * (see [[sources.FastOrcSum]]) — the reference's architecture on
    * Spark's scheduler. Integer-family first columns only; wraps on
    * overflow like the reference's `uint64_t` accumulator.
    */
  def sumFirstColumnFast(orcPath: String): Long =
    sources.FastOrcSum.sumFirstLongColumn(spark, orcPath)

  def tables(dir: String): Tables = Tables(spark, dir)

  /** Register every fixture table as a temp view so the full surface
    * is reachable from `spark.sql(...)` (including the graft SQL
    * functions dot_f32 / cosine_f32 / simhash64 / minhash_sig).
    */
  def registerViews(dir: String): Unit = {
    val t = tables(dir)
    Seq(
      "region" -> t.region, "nation" -> t.nation, "customer" -> t.customer,
      "supplier" -> t.supplier, "part" -> t.part, "orders" -> t.orders,
      "lineitem" -> t.lineitem, "events" -> t.events,
      "documents" -> t.documents, "embeddings" -> t.embeddings,
    ).foreach { case (name, df) => df.createOrReplaceTempView(name) }
  }

  // ---- LLM-pipeline operators ----------------------------------------

  /** Exact dedup: deterministic survivor (min id) per key group. */
  def dedupExact(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** MinHash-LSH near-duplicate pairs, exact-verified at Jaccard ≥
    * num/den. `df` needs (doc_id, text).
    */
  def nearDupPairs(df: DataFrame, num: Int = 4, den: Int = 5): DataFrame =
    operators.Dedup.nearDupPairs(df, num, den)

  /** Brute-force exact top-k by cosine against a stored vector. */
  def topKCosine(emb: DataFrame, queryVecId: Long, k: Int): DataFrame =
    operators.Similarity.topKCosine(emb, queryVecId, k)

  /** IVF approximate top-k (k-means quantizer, nprobe lists). */
  def annSearch(emb: DataFrame, probes: DataFrame, nprobe: Int = 3, k: Int = 10): DataFrame =
    operators.Ivf.annSearch(emb, probes, nprobe, k)

  /** IVF-PQ approximate top-k: coarse-pruned, then asymmetric-distance
    * ranked from 4-byte product-quantized codes — the memory-scale ANN
    * path (corpus vectors never touched at query time).
    */
  def annSearchPq(emb: DataFrame, probes: DataFrame, nprobe: Int = 3, k: Int = 10): DataFrame =
    operators.Pq.annSearchPq(emb, probes, nprobe, k)

  /** IVF search against the DURABLE on-disk index for the corpus at
    * `dir` (fitted quantizer + inverted lists staged as
    * fingerprint-keyed parquet): reload, never refit — a fresh session
    * pays two parquet reads, not a corpus refit. Results ≡
    * [[annSearch]] (deterministic fit, spec-proved).
    */
  def annSearchDurable(dir: String, probes: DataFrame, nprobe: Int = 3,
      k: Int = 10): DataFrame =
    operators.Ivf.annSearchStaged(spark, dir, probes, nprobe, k)

  /** IVF-PQ search against the DURABLE on-disk index (coarse quantizer,
    * codebooks, and 4-byte codes all staged as fingerprint-keyed
    * parquet). Results ≡ [[annSearchPq]].
    */
  def annSearchPqDurable(dir: String, probes: DataFrame, nprobe: Int = 3,
      k: Int = 10): DataFrame =
    operators.Pq.annSearchPqStaged(spark, dir, probes, nprobe, k)

  /** Batched binary-payload feature extraction through a pluggable
    * codec (stubbed decode; real plumbing).
    */
  def extractFeatures(dir: String,
      codec: operators.Multimodal.MediaCodec = operators.Multimodal.StubCodec) =
    operators.Multimodal.extractFeatures(spark, dir, codec)

  /** Exact cosine near-dup pairs via the block-grid theta-join —
    * bounded memory, size-gated; use [[annSearch]] for corpus scale.
    */
  def exactCosinePairs(emb: DataFrame, threshold: Double): DataFrame =
    operators.Similarity.exactCosinePairs(emb, threshold)

  /** Portable HLL distinct-count estimate (pinned splitmix64 hash —
    * engine-independent estimates, see operators.Hll).
    */
  def approxDistinct(df: DataFrame, column: String): DataFrame =
    operators.Hll.estimate(df, column, "approx_distinct")

  /** Portable count-min point frequency estimates for `probes`
    * (column `pk`).
    */
  def countMinFrequencies(df: DataFrame, column: String, probes: DataFrame): DataFrame =
    operators.CountMin.estimates(df, column, probes)

  /** Interval join: probe rows joined to same-user events within the
    * following hour, via the ×2-bucket equi-join decomposition.
    */
  def intervalJoinPairs(events: DataFrame): DataFrame =
    operators.EventsOps.intervalJoinPairs(events)

  /** Salted fact⨝small equi-join for hot keys — identical results,
    * skew spread over `salts` shuffle partitions.
    */
  def saltedJoin(fact: DataFrame, small: DataFrame, factKey: String,
      smallKey: String, factSalt: org.apache.spark.sql.Column,
      salts: Int = 8): DataFrame =
    operators.Skew.saltedJoin(fact, small, factKey, smallKey, factSalt, salts)

  /** Language prediction column (char-class markers + stopword
    * evidence, 'en' prior).
    */
  def langPredicted(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    operators.TextAnalysis.langPredicted(text)

  /** Gaps-and-islands sessionization per key. */
  def sessionize(events: DataFrame, keyCol: String, tsCol: String,
      gapMinutes: Int): DataFrame =
    operators.EventsOps.sessionize(events, keyCol, tsCol, gapMinutes)

  /** Deterministic sequence packing into ≤budget-token packs. */
  def sequencePack(docs: DataFrame, budget: Int): DataFrame =
    operators.TextAnalysis.sequencePack(docs, budget)

  /** Per-group HLL distinct estimates (mergeable registers). */
  def approxDistinctByGroup(df: DataFrame, groupCol: String, column: String): DataFrame =
    operators.Hll.estimateByGroup(df, groupCol, column, "approx_distinct")

  /** Winnowed document fingerprints (k=8, w=4): (doc_id, fp) rows;
    * any shared substring of length ≥ 11 yields a shared fingerprint.
    */
  def winnowFingerprints(docs: DataFrame): DataFrame =
    operators.Winnow.fingerprints(docs)

  /** Deterministic hash train/val/test split column (~80/10/10) on the
    * top 10 bits of splitmix64(idCol) — stable under corpus growth, no
    * global sort or count.
    */
  def splitColumn(idCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    operators.Winnow.splitColumn(idCol)

  /** Bloom membership `maybe` column against a key frame (no false
    * negatives; broadcastable m=2^16-bit filter). `keysCol` names the
    * key column of `keys` (defaults to `keyCol`) — Bloom.build's
    * internal frame is normalized here so callers aren't bound to its
    * private column naming.
    */
  def bloomMembership(df: DataFrame, keyCol: String, keys: DataFrame,
      keysCol: String = null): DataFrame = {
    val kc = Option(keysCol).getOrElse(keyCol)
    val normalized = keys.select(
      org.apache.spark.sql.functions.col(kc).as("x"))
    operators.Bloom.withMembership(df, keyCol, operators.Bloom.build(normalized))
  }

  /** Per-element int8 quantization frame (label, xd, qv) for error
    * profiling; see operators.Quantize.
    */
  def int8QuantElements(emb: DataFrame): DataFrame =
    operators.Quantize.elements(emb)

  /** Order-independent integrity fingerprint (n_rows, checksum = exact
    * sum of row hashes) over pre-formatted columns. Equal row
    * multisets ⇒ equal fingerprints; the converse holds up to md5
    * hash-sum collisions (cryptographically unlikely, not a theorem).
    * See operators.Checksum.
    */
  def tableChecksum(df: DataFrame, cols: Seq[org.apache.spark.sql.Column]): DataFrame =
    operators.Checksum.tableChecksum(df, cols)

  /** CDC upsert (MERGE semantics): roll `base` forward by `delta` on
    * `key` — delta wins, inserts appear, survivors keep; output adds
    * an `action` provenance column. See operators.Cdc.
    */
  def upsert(base: DataFrame, delta: DataFrame, key: String): DataFrame =
    operators.Cdc.upsert(base, delta, key)

  /** Frame sampling through the batched media seam (every `every`-th
    * complete `frameBytes`-byte frame).
    */
  def sampleFrames(dir: String, frameBytes: Int = 16, every: Int = 4) =
    operators.Multimodal.sampleFrames(spark, dir, frameBytes, every)

  /** Per-key threshold-crossing alerts over an ordered value stream;
    * streaming twin: `streaming.StreamingEvents.thresholdAlerts`.
    */
  def thresholdCrossings(events: DataFrame, step: Double): DataFrame =
    operators.EventsOps.thresholdCrossings(events, step)

  /** Corpus-fitted bigram familiarity quality scores (the integer-
    * exact perplexity-filter analogue); see operators.Winnow.
    */
  def bigramFamiliarity(docs: DataFrame): DataFrame =
    operators.Winnow.bigramFamiliarity(docs)

  /** Skew pre-flight: top-k hottest keys with table share — the input
    * to choosing [[saltedJoin]] over a plain shuffle join.
    */
  def hotKeys(df: DataFrame, keyCol: String, k: Int = 10): DataFrame =
    operators.Skew.hotKeys(df, keyCol, k)

  /** N-gram-level decontamination: train doc_ids sharing any word
    * n-gram with the eval set (the GPT-3 appendix-C overlap rule).
    */
  def ngramContaminated(train: DataFrame, eval: DataFrame, n: Int = 5): DataFrame =
    operators.Winnow.ngramContaminated(train, eval, n)

  /** Gopher-style within-document repetition ratios (duplicate k-gram
    * fraction).
    */
  def repetitionRatio(docs: DataFrame, k: Int = 8): DataFrame =
    operators.Winnow.repetitionRatio(docs, k)

  /** Small-file compaction: rewrite `df` as `targetFiles` files at the
    * FRESH location `path` (must not exist — in-place compaction races
    * the read against the overwrite) and return the compacted frame.
    * Verify preservation with [[tableChecksum]] before and after (the
    * q83 pattern); see sources.Compaction.
    */
  def compact(df: DataFrame, path: String, targetFiles: Int): DataFrame =
    sources.Compaction.compact(df, path, targetFiles)

  /** Exact k-NN join: each probe row (probe_id, pvec) gets its k
    * nearest corpus vectors by cosine, via the k-bounded-heap native
    * aggregate (≤k rows per probe per map task cross the shuffle).
    * The probe batch is broadcast — request-sized by contract, gated.
    */
  def knnJoin(emb: DataFrame, probes: DataFrame, k: Int): DataFrame =
    operators.Knn.knnJoin(emb, probes, k)

  /** BM25 ranked retrieval over (doc_id, text) for a term query.
    * Persists a shared tokenize pass; see [[releaseTransientCaches]].
    */
  def bm25(docs: DataFrame, terms: Seq[String], k: Int = 10): DataFrame =
    operators.Search.bm25(docs, terms, k)

  /** Edit-distance-≤1 fuzzy self-join on `keyCol` via deletion-
    * neighborhood candidates (FastSS) — no all-pairs comparison.
    * ASCII keys take the byte-scan verifier fast path; non-ASCII keys
    * are verified at codepoint level (same levenshtein-≤1 semantics).
    * Persists the shared variant frame; see [[releaseTransientCaches]].
    */
  def fuzzyPairs(df: DataFrame, keyCol: String): DataFrame =
    operators.Fuzzy.fuzzyPairs(df, keyCol)

  /** Free all storage operators pinned: the frames they persisted for
    * plan-sharing (fuzzyPairs' variant frame, bm25's token counts,
    * phrase-search postings), their eager local checkpoints, and the
    * Ivf/Pq index memos (inverted lists, encoded corpus) — the next ANN
    * search rebuilds them from the fitted centroids and codebooks, which
    * stay. Call
    * it after materializing the operators' results: a released persist
    * only degrades a live plan to recompute, but a frame still reading
    * a released local checkpoint fails. Without it, persisted frames
    * stay cached for the session and checkpoints wait for driver GC.
    */
  def releaseTransientCaches(): Unit = TransientCaches.release()

  /** Fixed-window overlapping text chunks with per-chunk fingerprints
    * (the RAG/embedding-prep splitter).
    */
  def chunk(docs: DataFrame, window: Int, overlap: Int): DataFrame =
    operators.CorpusOps.chunk(docs, window, overlap)

  /** Corpus-wide word n-gram counts, top k. */
  def topNgrams(docs: DataFrame, n: Int = 3, k: Int = 50): DataFrame =
    operators.CorpusOps.topNgrams(docs, n, k)

  /** Per-group top-k terms via the k-bounded string heap aggregate. */
  def topTermsPerGroup(docs: DataFrame, groupCol: String, k: Int = 5): DataFrame =
    operators.CorpusOps.topTermsPerGroup(docs, groupCol, k)

  /** Exact per-column profile: rows, nulls, distincts, min/max
    * (data-quality pre-flight); one pruned pass per column.
    */
  def profile(df: DataFrame, columns: Seq[String]): DataFrame =
    operators.Profile.profile(df, columns)

  /** Single-pass approximate profile (HLL++ distincts) — the 100 TB
    * default when exact distincts aren't required.
    */
  def approxProfile(df: DataFrame, columns: Seq[String]): DataFrame =
    operators.Profile.approxProfile(df, columns)

  /** Weekly cohort retention counts over (user_id, ts) events. */
  def cohortRetention(events: DataFrame): DataFrame =
    operators.Retention.cohortRetention(events)

  /** Strictly-ordered view→click→purchase funnel stage counts. */
  def funnel(events: DataFrame): DataFrame =
    operators.Retention.funnel(events)

  // ---- round-5 families ---------------------------------------------

  /** Top-k PMI bigram collocations over a (doc_id, pos, term) token
    * frame (stage one with [[sources.TokenizedCorpus.tokens]]).
    */
  def pmiCollocations(tokens: DataFrame, minCount: Int = 3, k: Int = 40): DataFrame =
    operators.Colloc.pmiBigrams(tokens, minCount, k)

  /** Per-cell mutual-information contributions between two
    * categorical columns (no cross-row float summation).
    */
  def mutualInformation(df: DataFrame, aCol: String, bCol: String): DataFrame =
    operators.Colloc.miCells(df, aCol, bCol)

  /** Grouped Misra–Gries heavy hitters (k-bounded counters per group;
    * exact whenever distinct items per group ≤ k).
    */
  def heavyHitters(df: DataFrame, groupCol: String, itemCol: String,
      k: Int = 16): DataFrame =
    operators.HeavyHitters.groupedHeavyHitters(df, groupCol, itemCol, k)

  /** sqrt-temperature mixture sampling report per stratum
    * (deterministic hash membership, no RNG state).
    */
  def temperatureSample(df: DataFrame, stratumCol: String, c: Double = 6.0): DataFrame =
    operators.Mixture.temperatureSample(df, stratumCol, c)

  /** SimHash hamming-ball near-dup pairs at distance ≤ maxHamming
    * (pigeonhole banding, no all-pairs product) over a
    * (doc_id, text) frame.
    */
  def simhashNearDup(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{BinaryType, LongType}
    val hashes = transform(operators.TextAnalysis.tokens(col("text")),
      tk => functions.GraftFunctions.md5Long(tk.cast(BinaryType)))
    operators.Dedup.simhashNearDup(
      docs.select(col("doc_id"), functions.GraftFunctions.simhash64(hashes).as("sh")),
      maxHamming)
  }

  /** Exact shingle-Jaccard ≥ num/den self-join via prefix filtering. */
  def jaccardJoin(docs: DataFrame, num: Int = 4, den: Int = 5): DataFrame =
    operators.SetJoin.jaccardSelfJoin(docs, num, den)

  /** Top-k cross-label neighbors per probe (hard-negative mining). */
  def hardNegatives(emb: DataFrame, probes: DataFrame, k: Int = 3): DataFrame =
    operators.Knn.hardNegatives(emb, probes, k)

  /** Cross-corpus near-dup decontamination pairs (eval × train at
    * shingle-Jaccard ≥ num/den via banded MinHash).
    */
  def decontaminatePairs(corpus: DataFrame, evalDocs: DataFrame,
      num: Int = 4, den: Int = 5): DataFrame =
    operators.Dedup.crossCorpusNearDup(corpus, evalDocs, num, den)

  /** Vocabulary coverage curve over a staged token frame. */
  def vocabCoverage(tokens: DataFrame, ks: Seq[Int] = Seq(10, 100, 1000)): DataFrame =
    operators.CorpusOps.vocabCoverage(tokens, ks)

  /** Power-of-2 token-length histogram (packing-buffer planning). */
  def lengthHistogram(docs: DataFrame): DataFrame =
    operators.CorpusOps.lengthHistogram(docs)

  /** Per-domain quota-cap report (k-bounded heap selection; no
    * window sort of the dominant domain).
    */
  def domainQuotaCap(docs: DataFrame, domainCol: String, cap: Int): DataFrame =
    operators.Curation.domainQuotaCap(docs, domainCol, cap)

  /** Top-k BPE merge-pair counts over a staged token frame. */
  def bpePairCounts(tokens: DataFrame, k: Int = 30): DataFrame =
    operators.Curation.bpePairCounts(tokens, k)

  /** Balanced shard striping report via two-phase distributed rank. */
  def balancedShards(docs: DataFrame, nShards: Int = 8): DataFrame =
    operators.Curation.balancedShards(docs, nShards)

  /** Corpus duplicated n-gram rate (dedup health scalar). */
  def dupNgramRate(tokens: DataFrame, n: Int = 5): DataFrame =
    operators.Curation.dupNgramRate(tokens, n)

  /** Per-eval-doc contamination score vs the train split. */
  def contaminationScore(tokens: DataFrame, n: Int = 5, evalMod: Int = 10): DataFrame =
    operators.Curation.contaminationScore(tokens, n, evalMod)

  /** Per-series CUSUM change-point day over daily event counts. */
  def cusumChangepoint(events: DataFrame): DataFrame =
    operators.Drift.cusumChangepoint(events)

  /** Triangle census (degree-oriented wedge join) of a (src, dst,
    * frac) edge frame thinned at minFrac.
    */
  def triangleStats(edges: DataFrame, minFrac: Double = 0.0): DataFrame =
    operators.PageRank.triangleStats(edges, minFrac)

  /** Percentile (quantile-normalization) transform of an integral
    * column, exact ranks via the two-phase distributed rank.
    */
  def percentileTransform(df: DataFrame, key: String, tie: String): DataFrame =
    operators.Curation.percentileTransform(df, key, tie)

  /** Merkle-style per-bucket (n_rows, checksum) integrity rows. */
  def bucketChecksums(df: DataFrame, bucket: Column, cols: Seq[Column]): DataFrame =
    operators.Checksum.bucketChecksums(df, bucket, cols)

  /** Top-k Jaro–Winkler-similar part-name pairs within brand blocks. */
  def jaroWinklerBlocked(part: DataFrame, k: Int = 20): DataFrame =
    operators.Fuzzy.jaroWinklerBlocked(part, k)

  /** Sorted-neighborhood ER pairs (w-window over the name sort). */
  def sortedNeighborhood(part: DataFrame, w: Int = 5, minJw: Double = 0.9): DataFrame =
    operators.Fuzzy.sortedNeighborhood(part, w, minJw)

  /** Exact equi-depth histogram (equal row counts, data-dependent
    * bounds) of document lengths.
    */
  def equiDepthHistogram(docs: DataFrame, buckets: Int = 8): DataFrame =
    operators.HistQuantile.equiDepth(docs, buckets)
}
