package graft.operators

import graft.{QueryEntry, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StringType}

/** Exact-balance stratified k-fold assignment — the split a tuning
  * pipeline runs when per-stratum class balance matters: every stratum
  * contributes ⌊n_s/k⌋ or ⌈n_s/k⌉ documents to every fold (hash-mod
  * assignment only promises multinomial ±√n balance), and the
  * assignment is a pure function of doc_id, so it is reproducible
  * across runs and engines.
  *
  * Design: fold = (stratum-internal rank − 1) mod k, where the rank
  * orders docs by (md5 shuffle key, doc_id) — i.e. a deterministic
  * per-stratum shuffle, then round-robin. The rank is computed with
  * the q58/q147 two-phase distributed prefix pattern: hex-prefix
  * buckets of the shuffle key agree with the global key order, so
  * per-(stratum, bucket) window ranks plus model-sized collected
  * bucket offsets give exact global ranks with 16-way parallelism per
  * stratum and no corpus-wide window.
  */
object Folds {

  val NumFolds = 5

  /** (stratum, doc_id, rank): exact 1-based rank within stratum by
    * (md5("fold"||doc_id), doc_id).
    */
  def strataRanks(docs: DataFrame, stratum: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val keyed = graft.TransientCaches.persist(
      docs.select(col(stratum).as("st"), col("doc_id"),
          md5(concat(lit("fold"), col("doc_id").cast(StringType)).cast(BinaryType))
            .as("sk"))
        .withColumn("bkt", substring(col("sk"), 1, 1)))
    // model-sized: ≤|strata|×16 rows — per-(stratum, hex-bucket) offsets
    val counts = keyed.groupBy("st", "bkt").agg(count(lit(1)).as("c"))
      .orderBy("st", "bkt").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val offsets = counts.groupBy(_._1).toSeq.flatMap { case (st, bs) =>
      var acc = 0L
      bs.sortBy(_._2).map { case (_, b, c) => val o = (st, b, acc); acc += c; o }
    }
    val wIn = Window.partitionBy("st", "bkt").orderBy("sk", "doc_id")
    keyed
      .join(broadcast(offsets.toDF("st", "bkt", "off")), Seq("st", "bkt"))
      .select(col("st"), col("doc_id"),
        (row_number().over(wIn) + col("off")).as("rank"))
  }

  val entries: Seq[QueryEntry] = Seq(
    // q246 — stratified k-fold report: per (lang, fold) count and
    // doc_id sum; DuckDB re-derives the per-stratum shuffle ranks with
    // one window and must match every fold's membership checksum —
    // any rank drift anywhere moves a doc_id sum.
    QueryEntry.sql(
      "q246_stratified_kfold",
      s"""WITH r AS (
         |  SELECT lang, doc_id,
         |         row_number() OVER (
         |           PARTITION BY lang
         |           ORDER BY md5('fold' || CAST(doc_id AS VARCHAR)), doc_id)
         |           AS rk
         |  FROM documents
         |)
         |SELECT lang, CAST((rk - 1) % $NumFolds AS INT) AS fold,
         |       CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_ids
         |FROM r GROUP BY 1, 2 ORDER BY lang, fold""".stripMargin,
    ) { (s, dir) =>
      strataRanks(Tables(s, dir).documentsRebalanced, "lang")
        .select(col("st").as("lang"), col("doc_id"),
          ((col("rank") - 1) % NumFolds).cast(IntegerType).as("fold"))
        .groupBy("lang", "fold")
        .agg(count(lit(1)).cast(LongType).as("n_docs"),
          sum("doc_id").cast(LongType).as("sum_doc_ids"))
        .orderBy("lang", "fold")
    },
  )
}
