package graft.operators

import graft.{QueryEntry, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Tier C multimodal columns (SURVEY §2.4 row 4): opaque binary
  * payloads traveling with rows, plus a batched feature-extraction
  * seam.
  *
  * The fixtures carry no real media, so the payload is the UTF-8 byte
  * encoding of `text` — which makes the *plumbing* (BinaryType columns,
  * typed metadata, per-partition batched decode, fixed-width feature
  * output) real and testable while the decode itself is the
  * deterministic stub behind [[MediaCodec]].
  */
object Multimodal {

  /** The decode seam. A real deployment binds an image/audio decoder
    * here (the libraries are not in this container); the engine-side
    * contract — bytes in, fixed-width float features out, invoked
    * batched per partition — is what the pipeline depends on.
    */
  trait MediaCodec extends Serializable {
    def featureDim: Int
    def decodeToFeatures(payload: Array[Byte]): Array[Float]
  }

  /** Deterministic stand-in: per-bucket byte histogram, normalized to
    * [0, n_bytes/255]. Accumulation is integer (exact, order-free) with
    * a single float conversion at the end, so the feature values are
    * bit-reproducible in any engine — which is what lets q26 carry a
    * real DuckDB oracle. Replace with a real decoder at the same seam.
    */
  object StubCodec extends MediaCodec {
    val featureDim = 8
    def decodeToFeatures(payload: Array[Byte]): Array[Float] = {
      val sums = new Array[Long](featureDim)
      var i = 0
      while (i < payload.length) {
        sums(i % featureDim) += (payload(i) & 0xff)
        i += 1
      }
      sums.map(s => (s / 255.0).toFloat)
    }
  }

  /** Average-pooling "resize": the payload split into `featureDim`
    * contiguous segments (segment of byte i = i·G div n — the exact
    * integer-math pooling grid an image downscaler uses per axis),
    * each reduced to its mean byte value. Integer accumulation, one
    * double division and one float conversion per segment — so the
    * features stay bit-reproducible cross-engine and q72 carries a
    * full DuckDB oracle over the same bytes.
    */
  object PoolCodec extends MediaCodec {
    val featureDim = 4
    def decodeToFeatures(payload: Array[Byte]): Array[Float] = {
      val n = payload.length
      val sums = new Array[Long](featureDim)
      val cnts = new Array[Long](featureDim)
      var i = 0
      while (i < n) {
        val s = (i.toLong * featureDim / n).toInt
        sums(s) += (payload(i) & 0xff)
        cnts(s) += 1
        i += 1
      }
      Array.tabulate(featureDim)(s =>
        if (cnts(s) == 0) 0f else (sums(s).toDouble / cnts(s)).toFloat)
    }
  }

  /** REAL decoder bound at the [[MediaCodec]] seam — JDK-only:
    * `javax.imageio.ImageIO` readers for PNG/JPEG/BMP/GIF ship with
    * the Java runtime, so no external media library is needed.
    * Features = grid×grid average-pooled luma (ITU-R BT.601 integer
    * weights), each cell normalized to [0, 1]: integer accumulation,
    * one double division and one float conversion per cell — the same
    * fixed-width, bit-reproducible contract the stub satisfies, so
    * swapping codecs changes no schema, plan, or partitioning.
    *
    * The driver fixtures carry text bytes, not images, so the ORACLED
    * queries keep [[StubCodec]]; MultimodalSpec proves THIS codec on
    * real PNG/BMP images generated in-test (lossless containers — the
    * decoded pixels are exactly the written ones) and pushed through
    * the identical batched seam ([[featuresThroughSeam]]).
    */
  final case class ImageIoCodec(grid: Int = 4) extends MediaCodec {
    val featureDim: Int = grid * grid

    def decodeToFeatures(payload: Array[Byte]): Array[Float] = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      require(img != null, s"payload is not a decodable image (${payload.length} bytes)")
      val w = img.getWidth
      val h = img.getHeight
      val sums = new Array[Long](featureDim)
      val cnts = new Array[Long](featureDim)
      var y = 0
      while (y < h) {
        val gy = (y.toLong * grid / h).toInt // PoolCodec's exact pooling grid, per axis
        var x = 0
        while (x < w) {
          val gx = (x.toLong * grid / w).toInt
          val rgb = img.getRGB(x, y)
          val luma = (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff)
            + 114 * (rgb & 0xff)) / 1000
          val cell = gy * grid + gx
          sums(cell) += luma
          cnts(cell) += 1
          x += 1
        }
        y += 1
      }
      Array.tabulate(featureDim)(c =>
        if (cnts(c) == 0) 0f else (sums(c).toDouble / (cnts(c) * 255.0)).toFloat)
    }
  }

  final case class MediaRow(doc_id: Long, payload: Array[Byte])
  final case class MediaFeatures(doc_id: Long, n_bytes: Int, features: Array[Float])
  final case class FrameSample(doc_id: Long, n_frames: Long, n_sampled: Long,
      sampled_sum: Long)

  /** Frame sampling: the payload read as consecutive `frameBytes`-byte
    * frames (the video/audio access pattern), keeping every `every`-th
    * complete frame — integer metrics only, so the sample plan is
    * fully differential-testable. Runs through the same per-partition
    * batched seam as the decoders.
    */
  def sampleFrames(spark: SparkSession, dir: String,
      frameBytes: Int = 16, every: Int = 4): Dataset[FrameSample] = {
    import spark.implicits._
    mediaTable(spark, dir)
      .select(col("doc_id"), col("payload"))
      .as[MediaRow]
      .mapPartitions { rows =>
        rows.map { r =>
          val n = r.payload.length
          val nFrames = n / frameBytes
          var sampled = 0L
          var sum = 0L
          var f = 0
          while (f < nFrames) {
            if (f % every == 0) {
              sampled += 1
              var i = f * frameBytes
              val end = i + frameBytes
              while (i < end) { sum += (r.payload(i) & 0xff); i += 1 }
            }
            f += 1
          }
          FrameSample(r.doc_id, nFrames.toLong, sampled, sum)
        }
      }
  }

  /** Binary payload column + typed metadata, from the documents table. */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents.select(
      col("doc_id"),
      col("text").cast(BinaryType).as("payload"),
      octet_length(col("text")).as("n_bytes"),
      col("source").as("media_source"),
    )

  /** Batched per-partition decode — one codec instance per partition,
    * rows processed in partition order; the Spark-native equivalent of
    * a vectorized decode UDF. Distributed: no state crosses partitions.
    */
  def extractFeatures(spark: SparkSession, dir: String,
      codec: MediaCodec = StubCodec): Dataset[MediaFeatures] = {
    import spark.implicits._
    featuresThroughSeam(
      mediaTable(spark, dir).select(col("doc_id"), col("payload")).as[MediaRow],
      codec)
  }

  /** The seam itself, over ANY binary frame: one codec per partition,
    * rows decoded in partition order, fixed-width float output. This is
    * what a real media table (or the in-test PNG/BMP frames of
    * MultimodalSpec) plugs into directly.
    */
  def featuresThroughSeam(media: Dataset[MediaRow],
      codec: MediaCodec): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        MediaFeatures(r.doc_id, r.payload.length,
          codec.decodeToFeatures(r.payload))
      }
    }
  }

  /** 64-bit average hash (aHash) of a binary payload — the classic
    * perceptual-hash recipe (pool to a fixed grid, threshold each cell
    * against the global mean), applied to the payload's byte stream:
    * segment s of byte i is `i·64 div n` (the same integer pooling
    * grid as [[PoolCodec]]), and bit s is set iff segment s's mean
    * exceeds the global mean — decided by the exact integer
    * cross-multiplication `sum_s·n > tot·cnt_s`, so the hash is
    * bit-reproducible in any engine with no division anywhere. A real
    * image deployment swaps the byte stream for decoded luma at the
    * same seam ([[MediaCodec]]); the hash, banding, and verify
    * pipeline are payload-agnostic.
    *
    * Products stay in range while `255·n² < 2⁶³` (n < ~190 MB/payload)
    * — chunk larger payloads upstream.
    */
  def aHash64(payload: Array[Byte]): Long = {
    val n = payload.length
    val sums = new Array[Long](64)
    val cnts = new Array[Long](64)
    var tot = 0L
    var i = 0
    while (i < n) {
      val s = ((i.toLong * 64) / n).toInt
      val v = payload(i) & 0xff
      sums(s) += v; cnts(s) += 1; tot += v
      i += 1
    }
    var h = 0L
    var s = 0
    while (s < 64) {
      if (sums(s) * n > tot * cnts(s)) h |= (1L << s)
      s += 1
    }
    h
  }

  /** The planted re-encode corpus for q208: every doc's payload, plus
    * — for doc_id % 5 == 0 — a "re-encoded" variant (same length,
    * first 4 bytes +1 mod 256, id `-doc_id-1` — the negative id space
    * is disjoint from real ids at ANY scale factor, unlike an additive
    * offset the corpus can outgrow): the length-
    * preserving perturbation a lossy re-encode approximates, which
    * moves the aHash 0–2 bits while unrelated fixture payloads sit
    * ≥ 10 bits apart (measured) — so the t ≤ 3 join finds exactly the
    * planted pairs.
    */
  def mediaHashFrame(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (d, t) =>
          val b = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val orig = (d, aHash64(b))
          if (d % 5 == 0) {
            val v = b.clone()
            var p = 0
            while (p < 4 && p < v.length) {
              v(p) = ((v(p) + 1) & 0xff).toByte; p += 1
            }
            Seq(orig, (-d - 1L, aHash64(v)))
          } else Seq(orig)
        }
      }.toDF("doc_id", "sh")
  }

  val entries: Seq[QueryEntry] = Seq(
    // Binary-column metadata — oracle-checkable plumbing: byte length
    // and hex prefix of the payload agree across engines.
    QueryEntry.sql(
      "q25_media_meta",
      """SELECT doc_id,
        |       octet_length(CAST(text AS BLOB)) AS n_bytes,
        |       hex(CAST(substr(text, 1, 8) AS BLOB)) AS prefix_hex
        |FROM documents ORDER BY doc_id""".stripMargin,
    ) { (s, dir) =>
      Tables(s, dir).documents
        .select(
          col("doc_id"),
          octet_length(col("text")).as("n_bytes"),
          hex(substring(col("text"), 1, 8).cast(BinaryType)).as("prefix_hex"),
        )
        .orderBy("doc_id")
    },

    // Feature-extraction through the batched decode seam, under the
    // full DuckDB differential gate: the oracle re-derives the stub
    // codec's bucket-0 feature from raw UTF-8 bytes (hex-pair
    // extraction), exact because accumulation is integer on both sides
    // and the single float conversion is mirrored with CAST AS FLOAT.
    QueryEntry.sql(
      "q26_media_features",
      """WITH raw AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |         hex(encode(text)) AS h
        |  FROM documents
        |), bytes AS (
        |  SELECT doc_id, h, unnest(range(0, n_bytes)) AS i FROM raw
        |), sums AS (
        |  SELECT doc_id,
        |         SUM(CASE WHEN i % 8 = 0
        |                  THEN CAST('0x' || substr(h, CAST(2*i+1 AS BIGINT), 2) AS BIGINT)
        |                  ELSE 0 END) AS s0
        |  FROM bytes GROUP BY doc_id
        |)
        |SELECT r.doc_id, r.n_bytes,
        |       ROUND(CAST(CAST(COALESCE(s.s0, 0) / 255.0 AS FLOAT) AS DOUBLE), 4) AS f0
        |FROM raw r LEFT JOIN sums s ON r.doc_id = s.doc_id
        |ORDER BY r.doc_id""".stripMargin,
    ) { (s, dir) =>
      extractFeatures(s, dir).toDF()
        .select(col("doc_id"), col("n_bytes"),
          round(element_at(col("features"), 1).cast(DoubleType), 4).as("f0"))
        .orderBy("doc_id")
    },

    // Average-pool "resize" through the same decode seam: 4 pooled
    // mean-byte features per payload (the downscale grid), every
    // feature under the differential gate — the oracle re-derives all
    // four segments from hex pairs with the identical integer pooling
    // grid.
    QueryEntry.sql(
      "q72_media_pooled",
      """WITH raw AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n, hex(encode(text)) AS h
        |  FROM documents WHERE octet_length(encode(text)) >= 4
        |), bytes AS (
        |  SELECT doc_id, n,
        |         CAST('0x' || substr(h, CAST(2*i+1 AS BIGINT), 2) AS BIGINT) AS b,
        |         (i * 4) // n AS seg
        |  FROM (SELECT doc_id, n, h, unnest(range(0, n)) AS i FROM raw) t
        |)
        |SELECT doc_id, MAX(n) AS n_bytes,
        |       ROUND(CAST(CAST(CAST(SUM(CASE WHEN seg=0 THEN b ELSE 0 END) AS DOUBLE)
        |             / SUM(CASE WHEN seg=0 THEN 1 ELSE 0 END) AS FLOAT) AS DOUBLE), 4) AS f0,
        |       ROUND(CAST(CAST(CAST(SUM(CASE WHEN seg=1 THEN b ELSE 0 END) AS DOUBLE)
        |             / SUM(CASE WHEN seg=1 THEN 1 ELSE 0 END) AS FLOAT) AS DOUBLE), 4) AS f1,
        |       ROUND(CAST(CAST(CAST(SUM(CASE WHEN seg=2 THEN b ELSE 0 END) AS DOUBLE)
        |             / SUM(CASE WHEN seg=2 THEN 1 ELSE 0 END) AS FLOAT) AS DOUBLE), 4) AS f2,
        |       ROUND(CAST(CAST(CAST(SUM(CASE WHEN seg=3 THEN b ELSE 0 END) AS DOUBLE)
        |             / SUM(CASE WHEN seg=3 THEN 1 ELSE 0 END) AS FLOAT) AS DOUBLE), 4) AS f3
        |FROM bytes GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    ) { (s, dir) =>
      val feats = extractFeatures(s, dir, PoolCodec).toDF()
        .filter(col("n_bytes") >= 4)
      val fcols = (0 until PoolCodec.featureDim).map(i =>
        round(element_at(col("features"), i + 1).cast(DoubleType), 4).as(s"f$i"))
      feats.select((col("doc_id") +: col("n_bytes") +: fcols): _*)
        .orderBy("doc_id")
    },

    // Frame sampling under the gate: every 4th complete 16-byte frame;
    // the oracle re-derives frame membership and byte sums from hex
    // pairs — all integer, so the whole sampling plan hash-matches.
    QueryEntry.sql(
      "q77_media_frames",
      """WITH raw AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n, hex(encode(text)) AS h
        |  FROM documents
        |), fr AS (
        |  SELECT doc_id, n // 16 AS n_frames, h FROM raw
        |), sampled AS (
        |  SELECT doc_id, n_frames,
        |         SUM(CAST('0x' || substr(h, CAST(2*i+1 AS BIGINT), 2) AS BIGINT)) AS s
        |  FROM (SELECT doc_id, n_frames, h, unnest(range(0, n_frames*16)) AS i
        |        FROM fr) t
        |  WHERE (i // 16) % 4 = 0
        |  GROUP BY doc_id, n_frames
        |)
        |SELECT f.doc_id, CAST(f.n_frames AS BIGINT) AS n_frames,
        |       CAST((f.n_frames + 3) // 4 AS BIGINT) AS n_sampled,
        |       CAST(COALESCE(s.s, 0) AS BIGINT) AS sampled_sum
        |FROM fr f LEFT JOIN sampled s ON s.doc_id = f.doc_id
        |ORDER BY f.doc_id""".stripMargin,
    ) { (s, dir) =>
      sampleFrames(s, dir).toDF().orderBy("doc_id")
    },

    // Perceptual-hash near-dup over the media corpus (the re-encoded-
    // image dedup a multimodal pipeline runs where text dedup runs
    // md5): aHash per payload, q138's banded pigeonhole join for
    // candidates, exact bit_count(xor) ≤ 3 verify. The oracle
    // re-derives every hash from hex pairs (grid, perturbation,
    // cross-multiplied threshold — all integer) and brute-forces the
    // full pair space, so a missed candidate OR a hash-bit divergence
    // breaks the gate.
    QueryEntry.sql(
      "q208_media_phash",
      """WITH raw AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n, hex(encode(text)) AS h
        |  FROM documents
        |), media AS (
        |  SELECT doc_id AS media_id, n, h, 0 AS pert FROM raw
        |  UNION ALL
        |  SELECT -doc_id - 1, n, h, 1 FROM raw WHERE doc_id % 5 = 0
        |), bytes AS (
        |  SELECT media_id, n,
        |         CASE WHEN pert = 1 AND i < 4 THEN (b0 + 1) % 256 ELSE b0 END AS b,
        |         (i * 64) // n AS seg
        |  FROM (SELECT media_id, n, pert, i,
        |               CAST('0x' || substr(h, CAST(2*i+1 AS BIGINT), 2) AS BIGINT)
        |                 AS b0
        |        FROM (SELECT media_id, n, h, pert, unnest(range(0, n)) AS i
        |              FROM media) t) u
        |), segs AS (
        |  SELECT media_id, n, seg, SUM(b) AS ss, COUNT(*) AS sc
        |  FROM bytes GROUP BY 1, 2, 3
        |), tots AS (SELECT media_id, SUM(ss) AS tot FROM segs GROUP BY 1),
        |hash AS (
        |  SELECT s.media_id,
        |         CAST(SUM(CASE WHEN s.ss * s.n > t.tot * s.sc
        |                  THEN CAST(1 AS UBIGINT) << CAST(s.seg AS INTEGER)
        |                  ELSE CAST(0 AS UBIGINT) END) AS UBIGINT) AS ah
        |  FROM segs s JOIN tots t USING (media_id) GROUP BY 1
        |)
        |SELECT a.media_id AS id_a, b.media_id AS id_b,
        |       CAST(bit_count(xor(a.ah, b.ah)) AS INTEGER) AS hamming
        |FROM hash a JOIN hash b ON a.media_id < b.media_id
        |WHERE bit_count(xor(a.ah, b.ah)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    ) { (s, dir) =>
      Dedup.simhashNearDup(
        mediaHashFrame(Tables(s, dir).documentsRebalanced), maxHamming = 3)
        .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"),
          col("hamming"))
        .orderBy("id_a", "id_b")
    },

    // q255 — block-level binary dedup (content-addressable-storage
    // accounting over opaque media payloads): each payload is cut into
    // fixed 32-byte blocks, block identity is the exact byte content
    // (carried as a 64-hex-char key — at 100 TB you'd md5 the block
    // first; identity and therefore every count below is unchanged),
    // and the per-source report gives total vs distinct blocks, blocks
    // shared by >= 2 documents, and the storage dedup ratio. One
    // corpus-linear explode + one (source, block)-keyed shuffle; no
    // payload x payload pair ever forms.
    QueryEntry.sql(
      "q255_block_dedup",
      """WITH b AS (
        |  SELECT doc_id, source, substr(h, CAST(p * 64 + 1 AS BIGINT), 64) AS blk
        |  FROM (SELECT doc_id, source, h,
        |               unnest(range(0, (length(h) + 63) // 64)) AS p
        |        FROM (SELECT doc_id, source, hex(encode(text)) AS h
        |              FROM documents
        |              WHERE octet_length(encode(text)) > 0) x) y
        |), per AS (
        |  SELECT source, blk, COUNT(*) AS occ, COUNT(DISTINCT doc_id) AS nd
        |  FROM b GROUP BY 1, 2
        |), srcdocs AS (
        |  SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        |  FROM b GROUP BY 1
        |)
        |SELECT source, n_docs,
        |       CAST(SUM(occ) AS BIGINT) AS total_blocks,
        |       CAST(COUNT(*) AS BIGINT) AS distinct_blocks,
        |       CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS shared_blocks,
        |       ROUND(COUNT(*) * 1.0 / SUM(occ), 6) AS dedup_ratio
        |FROM per JOIN srcdocs USING (source)
        |GROUP BY source, n_docs ORDER BY source""".stripMargin,
    ) { (s, dir) =>
      // Empty payloads are filtered in BOTH engines: Spark's
      // sequence(0, (len-1) div 64) would emit one empty block for a
      // zero-length text ((-1) div 64 = 0) while DuckDB's
      // range(0, ceil-div) emits none — a cross-engine divergence.
      val blocks = graft.TransientCaches.persist(Tables(s, dir).documentsRebalanced
        .select(col("doc_id"), col("source"),
          hex(col("text").cast(BinaryType)).as("h"))
        .filter(length(col("h")) > 0)
        .select(col("doc_id"), col("source"),
          explode(expr("sequence(0, (length(h) - 1) div 64)")).as("p"),
          col("h"))
        .select(col("doc_id"), col("source"),
          expr("substr(h, p * 64 + 1, 64)").as("blk")))
      val per = blocks.groupBy("source", "blk")
        .agg(count(lit(1)).as("occ"), countDistinct("doc_id").as("nd"))
      val srcdocs = blocks.groupBy("source")
        .agg(countDistinct("doc_id").as("n_docs"))
      per.join(srcdocs, "source")
        .groupBy("source", "n_docs")
        .agg(sum("occ").as("total_blocks"),
          count(lit(1)).as("distinct_blocks"),
          sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("shared_blocks"),
          round(count(lit(1)) * lit(1.0) / sum("occ"), 6).as("dedup_ratio"))
        .select(col("source"), col("n_docs"), col("total_blocks"),
          col("distinct_blocks"), col("shared_blocks"), col("dedup_ratio"))
        .orderBy("source")
    },

    // q280 — CLIP-style image–text alignment gate (the LAION filtering
    // recipe): each media payload decodes through the batched codec
    // seam to its pooled feature vector, pairs with the first 4 dims
    // of the document's embedding (the q254 MRL-truncation projection),
    // and the pair is kept when the rounded cosine clears the
    // threshold. Per-source report: pair count, kept count, kept
    // fraction, and the order-free mean alignment — the table a
    // multimodal curator reads before dropping a crawl source. DuckDB
    // re-derives the pooled vector from raw hex bytes, re-slices the
    // embedding, and re-evaluates every cosine — a codec drift of one
    // byte breaks the hash. Scale: per-doc decode + two doc-keyed
    // joins + one source rollup; no cross-doc work anywhere.
    QueryEntry.sql(
      "q280_alignment_filter",
      """WITH raw AS (
        |  SELECT doc_id, source, octet_length(encode(text)) AS n,
        |         hex(encode(text)) AS h
        |  FROM documents WHERE octet_length(encode(text)) >= 4
        |), bytes AS (
        |  SELECT doc_id, n, h, unnest(range(0, n)) AS i FROM raw
        |), seg AS (
        |  SELECT doc_id, CAST(i * 4 // n AS INT) AS s,
        |         CAST('0x' || substr(h, CAST(2 * i + 1 AS BIGINT), 2) AS BIGINT)
        |           AS b
        |  FROM bytes
        |), pool AS (
        |  SELECT doc_id, s, SUM(b) AS sm, COUNT(*) AS cnt
        |  FROM seg GROUP BY 1, 2
        |), img AS (
        |  SELECT doc_id, list(CAST(CAST(sm AS DOUBLE) / cnt AS FLOAT)
        |                      ORDER BY s) AS iv
        |  FROM pool GROUP BY doc_id
        |), pair AS (
        |  SELECT r.source,
        |         ROUND(list_cosine_similarity(CAST(iv AS DOUBLE[]),
        |                                      CAST(tv AS DOUBLE[])), 6) AS score
        |  FROM img
        |  JOIN (SELECT vec_id, embedding[1:4] AS tv FROM embeddings) e
        |    ON e.vec_id = img.doc_id
        |  JOIN raw r ON r.doc_id = img.doc_id
        |)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |       CAST(SUM(CASE WHEN score >= 0.05 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_kept,
        |       ROUND(SUM(CASE WHEN score >= 0.05 THEN 1 ELSE 0 END) * 1.0
        |             / COUNT(*), 6) AS kept_frac,
        |       ROUND(CAST(SUM(CAST(score AS DECIMAL(18,6))) AS DOUBLE)
        |             / COUNT(*), 6) AS mean_score
        |FROM pair GROUP BY source ORDER BY source""".stripMargin,
    ) { (s, dir) =>
      import s.implicits._
      val img = featuresThroughSeam(
        mediaTable(s, dir).select(col("doc_id"), col("payload")).as[MediaRow],
        PoolCodec).toDF()
        .filter(col("n_bytes") >= 4)
        .select(col("doc_id"), col("features").as("iv"))
      val txt = Tables(s, dir).embeddings
        .select(col("vec_id").as("doc_id"),
          slice(col("embedding"), 1, 4).as("tv"))
      val src = Tables(s, dir).documents.select("doc_id", "source")
      img.join(txt, "doc_id").join(src, "doc_id")
        .select(col("source"),
          round(graft.functions.GraftFunctions.cosineF32(
            col("iv"), col("tv")), 6).as("score"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("score") >= 0.05, 1L).otherwise(0L)).as("n_kept"),
          round(sum(when(col("score") >= 0.05, 1L).otherwise(0L)) * lit(1.0)
            / count(lit(1)), 6).as("kept_frac"),
          round(sum(col("score").cast(DecimalType(18, 6))).cast(DoubleType)
            / count(lit(1)), 6).as("mean_score"))
        .orderBy("source")
    },

    // q285 — InfoNCE retrieval eval over the q280 pairs (the
    // contrastive-quality readout a CLIP-style filter is tuned
    // against): each text embedding scores its own image vector
    // (j = 0) against 8 DETERMINISTIC negatives (doc (i + 31·j) mod N
    // — pinned stride, no RNG), loss = −ln(e_pos/Σe) at τ = 0.5 with
    // every exp rounded once onto the DECIMAL(18,7) grid (the q250
    // sigmoid precedent: exp IS cross-engine-stable at these
    // magnitudes), and retrieval accuracy = positive outranks all
    // negatives on the rounded-cosine grid. Per-source mean loss +
    // acc@1. Scale: 9 rows per anchor (constant fan-out), two
    // doc-keyed joins — one shuffle wide at any corpus size.
    QueryEntry.sql(
      "q285_infonce_eval",
      """WITH raw AS (
        |  SELECT doc_id, source, octet_length(encode(text)) AS n,
        |         hex(encode(text)) AS h
        |  FROM documents WHERE octet_length(encode(text)) >= 4
        |), bytes AS (
        |  SELECT doc_id, n, h, unnest(range(0, n)) AS i FROM raw
        |), seg AS (
        |  SELECT doc_id, CAST(i * 4 // n AS INT) AS s,
        |         CAST('0x' || substr(h, CAST(2 * i + 1 AS BIGINT), 2) AS BIGINT)
        |           AS b
        |  FROM bytes
        |), pool AS (
        |  SELECT doc_id, s, SUM(b) AS sm, COUNT(*) AS cnt
        |  FROM seg GROUP BY 1, 2
        |), img AS MATERIALIZED (
        |  SELECT doc_id, list(CAST(CAST(sm AS DOUBLE) / cnt AS FLOAT)
        |                      ORDER BY s) AS iv
        |  FROM pool GROUP BY doc_id
        |), anch AS MATERIALIZED (
        |  SELECT e.vec_id AS i, r.source, e.embedding[1:4] AS tv
        |  FROM embeddings e JOIN raw r ON r.doc_id = e.vec_id
        |  JOIN img ON img.doc_id = e.vec_id
        |), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
        |pairs AS (
        |  SELECT a.i, a.source, j,
        |         ROUND(list_cosine_similarity(CAST(a.tv AS DOUBLE[]),
        |                                      CAST(img.iv AS DOUBLE[])), 6)
        |           AS sim
        |  FROM anch a, nn, (SELECT unnest(range(0, 9)) AS j)
        |  JOIN img ON img.doc_id = (a.i + 31 * j) % nn.n
        |), per AS (
        |  SELECT i, source,
        |         SUM(CAST(ROUND(exp(sim / 0.5), 7) AS DECIMAL(18,7))) AS etot,
        |         SUM(CASE WHEN j = 0
        |             THEN CAST(ROUND(exp(sim / 0.5), 7) AS DECIMAL(18,7))
        |             ELSE CAST(0 AS DECIMAL(18,7)) END) AS epos,
        |         MAX(CASE WHEN j = 0 THEN sim END) AS spos,
        |         MAX(CASE WHEN j > 0 THEN sim END) AS smaxneg
        |  FROM pairs GROUP BY 1, 2
        |), lo AS (
        |  SELECT source,
        |         CAST(ROUND(-ln(CAST(epos AS DOUBLE) / CAST(etot AS DOUBLE)), 7)
        |              AS DECIMAL(18,7)) AS loss,
        |         CASE WHEN spos > smaxneg THEN 1 ELSE 0 END AS hit
        |  FROM per
        |)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_anchors,
        |       ROUND(CAST(SUM(loss) AS DOUBLE) / COUNT(*), 6) AS mean_loss,
        |       ROUND(SUM(hit) * 1.0 / COUNT(*), 6) AS acc1
        |FROM lo GROUP BY source ORDER BY source""".stripMargin,
    ) { (s, dir) =>
      import s.implicits._
      val cosF = graft.functions.GraftFunctions.cosineF32 _
      val img = graft.TransientCaches.persist(featuresThroughSeam(
        mediaTable(s, dir).select(col("doc_id"), col("payload")).as[MediaRow],
        PoolCodec).toDF()
        .filter(col("n_bytes") >= 4)
        .select(col("doc_id"), col("features").as("iv")))
      val src = Tables(s, dir).documents.select("doc_id", "source")
      val emb = Tables(s, dir).embeddings
      val anch = emb.select(col("vec_id").as("i"),
          slice(col("embedding"), 1, 4).as("tv"))
        .join(src.withColumnRenamed("doc_id", "i"), "i")
        .join(img.withColumnRenamed("doc_id", "i").select("i"), "i")
      val nn = emb.agg(count(lit(1)).cast(LongType).as("n"))
      val d7 = DecimalType(18, 7)
      val pairs = anch.crossJoin(broadcast(nn))
        .select(col("i"), col("source"), col("tv"),
          explode(sequence(lit(0), lit(8))).as("j"), col("n"))
        .select(col("i"), col("source"), col("tv"), col("j"),
          pmod(col("i") + lit(31) * col("j"), col("n")).as("tgt"))
        .join(img.withColumnRenamed("doc_id", "tgt"), "tgt")
        .select(col("i"), col("source"), col("j"),
          round(cosF(col("tv"), col("iv")), 6).as("sim"))
      val e = round(exp(col("sim") / lit(0.5)), 7).cast(d7)
      val per = pairs.groupBy("i", "source")
        .agg(sum(e).as("etot"),
          sum(when(col("j") === 0, e).otherwise(lit(0).cast(d7))).as("epos"),
          max(when(col("j") === 0, col("sim"))).as("spos"),
          max(when(col("j") > 0, col("sim"))).as("smaxneg"))
      per.select(col("source"),
          round(-log(col("epos").cast(DoubleType)
            / col("etot").cast(DoubleType)), 7).cast(d7).as("loss"),
          when(col("spos") > col("smaxneg"), 1L).otherwise(0L).as("hit"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_anchors"),
          round(sum("loss").cast(DoubleType) / count(lit(1)), 6).as("mean_loss"),
          round(sum("hit") * lit(1.0) / count(lit(1)), 6).as("acc1"))
        .select(col("source"), col("n_anchors").cast(LongType).as("n_anchors"),
          col("mean_loss"), col("acc1"))
        .orderBy("source")
    },
  )
}
