package perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-op counters filled from listener events. One op owns every job
  * submitted while the harness's `perfbench.op` local property named it
  * (streaming query threads inherit the property from the thread that
  * started them), so each counter resolves to exactly one op.
  */
final class OpCounters {
  var jobs, failedJobs, stages, stageRetries, failedStages = 0L
  var tasks, failedTasks, killedTasks = 0L
  var taskDurationMs, runMs, cpuNs, gcMs, deserMs, resultSerMs = 0L
  var shuffleWriteBytes, shuffleReadBytes, spillBytes, inputRecords = 0L
  // streaming
  var queries, failedQueries, batches, inputRows = 0L
  var triggerMs, addBatchMs, walCommitMs, offsetsCommitMs, stateCommitMs,
    planningMs, stateRowsUpdated, stateMemoryBytes = 0L

  /** Scheduler delay: time a task spent neither running, deserializing
    * nor serializing its result.
    */
  def delayMs: Long = taskDurationMs - runMs - deserMs - resultSerMs
}

object OpListener {
  val Property = "perfbench.op"
}

/** SparkListener that attributes jobs, stages and tasks to ops. */
final class OpListener extends SparkListener {
  val byOp = new ConcurrentHashMap[Long, OpCounters]()
  private val stageOp = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobOp = new ConcurrentHashMap[Int, java.lang.Long]()
  @volatile var unattributedTasks = 0L
  @volatile private var flushLatch: Option[(String, CountDownLatch)] = None

  def counters(op: Long): OpCounters = byOp.computeIfAbsent(op, _ => new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(OpListener.Property)))
    flushLatch.foreach { case (t, l) => if (tag.contains(t)) l.countDown() }
    tag.flatMap(_.toLongOption).foreach { op =>
      counters(op).jobs += 1
      jobOp.put(e.jobId, op)
      e.stageIds.foreach(s => stageOp.put(s, op))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val op = jobOp.remove(e.jobId)
    if (op != null && e.jobResult != JobSucceeded) counters(op).failedJobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageOp.get(e.stageInfo.stageId)).foreach { op =>
      val c = counters(op.longValue)
      c.stages += 1
      if (e.stageInfo.attemptNumber() > 0) c.stageRetries += 1
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (e.stageInfo.failureReason.isDefined)
      Option(stageOp.get(e.stageInfo.stageId)).foreach(op => counters(op.longValue).failedStages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = stageOp.get(e.stageId)
    if (op == null) { unattributedTasks += 1; return }
    val c = counters(op.longValue)
    c.tasks += 1
    if (e.taskInfo.failed) c.failedTasks += 1
    if (e.taskInfo.killed) c.killedTasks += 1
    c.taskDurationMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.deserMs += m.executorDeserializeTime
      c.resultSerMs += m.resultSerializationTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputRecords += m.inputMetrics.recordsRead
    }
  }

  /** Block until every event posted before this call has been handled:
    * submits a one-task job tagged `tag` and waits for its start event
    * (the listener bus delivers in order). Returns false on timeout.
    */
  def flush(sc: org.apache.spark.SparkContext, tag: String): Boolean = {
    val latch = new CountDownLatch(1)
    flushLatch = Some(tag -> latch)
    val prev = sc.getLocalProperty(OpListener.Property)
    sc.setLocalProperty(OpListener.Property, tag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(OpListener.Property, prev)
    val ok = latch.await(30, TimeUnit.SECONDS)
    flushLatch = None
    ok
  }
}

/** StreamingQueryListener that attributes micro-batch progress to the
  * op that started the query. `onQueryStarted` runs synchronously on
  * the starting thread, so the op current at that moment owns the query.
  */
final class StreamListener(currentOp: () => Long, ops: OpListener)
    extends StreamingQueryListener {
  import StreamingQueryListener._
  private val queryOp = new ConcurrentHashMap[java.util.UUID, java.lang.Long]()
  @volatile var started = 0L
  @volatile var terminated = 0L

  override def onQueryStarted(e: QueryStartedEvent): Unit = {
    val op = currentOp()
    queryOp.put(e.runId, op)
    ops.counters(op).queries += 1
    started += 1
  }

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val op = queryOp.get(p.runId)
    if (op == null) return
    val c = ops.counters(op.longValue)
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    c.batches += 1
    c.inputRows += p.numInputRows
    c.triggerMs += d("triggerExecution")
    c.addBatchMs += d("addBatch")
    c.walCommitMs += d("walCommit")
    c.offsetsCommitMs += d("commitOffsets")
    c.planningMs += d("queryPlanning")
    p.stateOperators.foreach { s =>
      c.stateCommitMs += s.commitTimeMs
      c.stateRowsUpdated += s.numRowsUpdated
      c.stateMemoryBytes = math.max(c.stateMemoryBytes, s.memoryUsedBytes)
    }
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
    Option(queryOp.get(e.runId)).foreach { op =>
      if (e.exception.isDefined) ops.counters(op.longValue).failedQueries += 1
    }
    terminated += 1
  }

  /** Wait until every started query's termination event was handled. */
  def awaitQuiet(timeoutMs: Long): Boolean = {
    val end = System.currentTimeMillis() + timeoutMs
    while (terminated < started && System.currentTimeMillis() < end) Thread.sleep(20)
    terminated >= started
  }
}
