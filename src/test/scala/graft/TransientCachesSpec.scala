package graft

import graft.operators.Ivf
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

class TransientCachesSpec extends SparkSpec {

  private def pinnedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Start from an empty registry so earlier suites' pins don't count. */
  private def cleanStart(): Set[Int] = {
    TransientCaches.release(blocking = true)
    pinnedIds
  }

  private def checkpointRddId(df: DataFrame): Int =
    df.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id

  test("persisting the same plan twice leaves one CacheManager entry") {
    val before = cleanStart()
    def frame = spark.range(200).select((col("id") * 3).as("x"))
    val a = TransientCaches.persist(frame)
    a.count()
    val b = TransientCaches.persist(frame)
    b.count()
    assert((pinnedIds -- before).size == 1)
    // b found a's entry: it pinned nothing, so it cannot free a's entry
    TransientCaches.unpersist(b)
    assert(b.storageLevel != StorageLevel.NONE)
    TransientCaches.release(blocking = true)
    assert(b.storageLevel == StorageLevel.NONE)
    assert(pinnedIds == before)
  }

  test("release frees persists and local checkpoints; the next annSearch rebuilds its lists") {
    val emb = Tables(spark, sf).embeddings
    val probes = emb.filter(col("vec_id") < 10)
    def search(): Seq[(Long, Long)] = Ivf.annSearch(emb, probes, nprobe = 3, k = 5)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val before = cleanStart()
    val first = search()
    val withIndex = pinnedIds -- before
    assert(withIndex.nonEmpty, "the inverted lists must be pinned")
    val p = TransientCaches.persist(spark.range(100).select((col("id") * 5).as("x")))
    p.count()
    val c = TransientCaches.localCheckpoint(spark.range(100).select((col("id") * 7).as("x")))
    assert(pinnedIds.contains(checkpointRddId(c)))

    TransientCaches.release(blocking = true)
    assert(pinnedIds == before)
    assert(p.storageLevel == StorageLevel.NONE)
    // the memo went with its frame: the search re-pins a rebuilt index
    // instead of recomputing the clustering against an unpersisted one
    assert(search() == first)
    assert((pinnedIds -- before).nonEmpty, "the next search must rebuild the lists")
    TransientCaches.release(blocking = true)
    assert(pinnedIds == before)
  }

  test("releasing frees only what its body pinned") {
    val before = cleanStart()
    val outer = TransientCaches.persist(spark.range(100).select((col("id") * 11).as("x")))
    outer.count()
    val (inner, innerCkpt) = TransientCaches.releasing {
      val i = TransientCaches.persist(spark.range(100).select((col("id") * 13).as("x")))
      i.count()
      val k = TransientCaches.localCheckpoint(spark.range(100).select((col("id") * 17).as("x")))
      assert(pinnedIds.contains(checkpointRddId(k)))
      (i, checkpointRddId(k))
    }
    assert(inner.storageLevel == StorageLevel.NONE)
    assert(!pinnedIds.contains(innerCkpt))
    assert(outer.storageLevel != StorageLevel.NONE)
    TransientCaches.release(blocking = true)
    assert(outer.storageLevel == StorageLevel.NONE)
    assert(pinnedIds == before)
  }

  test("pinning entries leak nothing past release") {
    val pinning = Seq(
      "q262_bpe_merges",      // Bpe: scoped persists
      "q277_bradley_terry",   // Valuation: scoped persists + checkpoints
      "q261_kcore",           // PageRank k-core: scoped checkpoints
      "q281_epoch_schedule",  // Schedule: checkpoints
      "q332_expert_capacity", // Router: checkpoint
      "q20_minhash_neardup",  // Dedup: persists + checkpoint
      "q271_ann_retraction")  // Ivf: persist + checkpoint
    val before = cleanStart()
    pinning.foreach(n => run(n).write.format("noop").mode("overwrite").save())
    assert((pinnedIds -- before).nonEmpty, "the unscoped entries must pin storage")
    TransientCaches.release(blocking = true)
    assert(pinnedIds == before)
  }
}
