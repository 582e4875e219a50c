package graft

import java.lang.ref.WeakReference
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of the storage a query pins. Every operator persist
  * and eager local checkpoint goes through [[persist]] /
  * [[localCheckpoint]], which record what they pinned; [[release]]
  * frees all of it in one step, and [[releasing]] frees only what its
  * body pinned. Index memos ([[memo]]: Ivf's inverted lists, Pq's
  * encoded corpus) are persisted the same way, and a release that
  * frees a memo's frame drops the memo too, so the next search
  * rebuilds its index instead of silently recomputing it per search.
  *
  * Release only after the results that read the pinned storage are
  * materialized: a released persist degrades a live plan to recompute,
  * but a released local checkpoint cannot be recomputed, so a lazy
  * frame still reading it fails. Measurement harnesses release after
  * every query; a long-lived session should release after consuming
  * each operator's results, or its blocks wait for driver GC (local
  * checkpoints) or stay cached (persists).
  *
  * Persisted frames are held strongly — CacheManager keeps their
  * blocks alive whether or not the frame is reachable, so only an
  * unpersist frees them. Checkpointed RDDs are held weakly: once a
  * caller drops every frame reading one, ContextCleaner reclaims it.
  */
object TransientCaches {

  /** A persisted Dataset, or a WeakReference to a checkpointed RDD. */
  private type Pin = AnyRef

  private val pins = new ConcurrentLinkedQueue[Pin]()

  /** The pins of this thread's innermost [[releasing]] body, or null.
    * Not inherited: a pool thread first started inside a body must not
    * keep pinning into it after the body returns.
    */
  private val scope = new ThreadLocal[ConcurrentLinkedQueue[Pin]]

  private val memos = TrieMap.empty[(SparkSession, String, Any), DataFrame]

  private def pin(p: Pin): Unit = {
    val q = Option(scope.get).getOrElse(pins)
    q.removeIf {
      case r: WeakReference[_] => r.get == null
      case _ => false
    }
    q.add(p)
  }

  /** Persist `df` at `level` and record it for release. A plan
    * CacheManager already holds is left as it is and not recorded:
    * whoever cached it first owns it.
    */
  def persist[T <: Dataset[_]](df: T,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): T = {
    if (df.storageLevel == StorageLevel.NONE) {
      df.persist(level)
      pin(df)
    }
    df
  }

  /** Unpersist `df` as soon as its caller is done with it, if
    * [[persist]] pinned it and no release has freed it yet; a plan
    * someone else cached is left alone. Non-blocking, and like
    * [[release]] it ignores failures (a frame of a stopped session).
    */
  def unpersist(df: Dataset[_]): Unit =
    if (pins.remove(df) || Option(scope.get).exists(_.remove(df))) unpin(df, blocking = false)

  /** Eagerly local-checkpoint `df` at `level` and record the RDD it
    * pins for release. The result reads a flat materialized RDD, which
    * cuts an iterative plan's lineage.
    */
  def localCheckpoint[T](df: Dataset[T],
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): Dataset[T] = {
    val out = df.localCheckpoint(eager = true, level)
    out.queryExecution.logical match {
      case r: LogicalRDD => pin(new WeakReference[RDD[_]](r.rdd))
      case _ => ()
    }
    out
  }

  /** A persisted, eagerly materialized frame built once per (session,
    * owner, key) and served to later calls — an index that is built
    * once and searched many times. Keyed by session because a cached
    * frame is bound to the session that persisted it, and plan hashes
    * collide across sessions. [[release]] drops the memo when it frees
    * the frame; `forget(owner)` drops an owner's memos explicitly.
    * Bounded to 64 entries: past the cap one other entry is evicted and
    * freed; entries of stopped sessions are evicted on access.
    */
  def memo(session: SparkSession, owner: String, key: Any)(build: => DataFrame): DataFrame = {
    val k = (session, owner, key)
    memos.keys.filter(_._1.sparkContext.isStopped).foreach(evict)
    if (memos.size > 64) memos.keys.find(_ != k).foreach(evict)
    // build under a lock: TrieMap.getOrElseUpdate may run the builder
    // twice concurrently, and the loser would stay persisted
    memos.getOrElse(k, memos.synchronized {
      memos.getOrElse(k, {
        val df = persist(build)
        df.count()
        memos.put(k, df)
        df
      })
    })
  }

  /** Drop and free every memo `owner` built. */
  def forget(owner: String): Unit =
    memos.keys.filter(_._2 == owner).foreach(evict)

  private def evict(k: (SparkSession, String, Any)): Unit =
    memos.remove(k).foreach(unpersist)

  private def unpin(p: Pin, blocking: Boolean): Unit =
    try p match {
      case df: Dataset[_] => df.unpersist(blocking)
      case r: WeakReference[_] => r.get match {
        case rdd: RDD[_] => rdd.unpersist(blocking)
        case _ => ()
      }
    } catch { case NonFatal(_) => () }

  private def free(q: ConcurrentLinkedQueue[Pin], blocking: Boolean): Unit = {
    var p = q.poll()
    while (p != null) {
      unpin(p, blocking)
      p = q.poll()
    }
    memos.filterInPlace((_, df) => df.storageLevel != StorageLevel.NONE)
  }

  /** Free everything recorded outside a [[releasing]] body, and drop
    * the memos whose frames that frees. Non-blocking by default: block
    * deletion proceeds asynchronously. A measurement harness passes
    * `blocking = true` so deletion IO cannot bleed into the next timed
    * region.
    */
  def release(blocking: Boolean = false): Unit = free(pins, blocking)

  /** Run `body`, then free only what it pinned (non-blocking), even if
    * it throws. For operators whose result is built on the driver and
    * no longer reads anything they pinned; a frame it returns must not
    * read that storage.
    */
  def releasing[A](body: => A): A = {
    val outer = scope.get
    val own = new ConcurrentLinkedQueue[Pin]()
    scope.set(own)
    try body
    finally {
      scope.set(outer)
      free(own, blocking = false)
    }
  }
}
