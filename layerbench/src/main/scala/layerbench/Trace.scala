package layerbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Scheduler counters of one span (a layer call of one query in one pass). */
final class Counters {
  val jobs, stages, tasks, runMs, cpuNs, shuffleRead, shuffleWrite, spill,
      gcMs, inputBytes, inputRecords = new AtomicLong
}

/** Public-listener tracing. The harness tags every job with the span that
  * submitted it (a thread-local job property); this listener files stage
  * and task metrics under that span. Counters are read only after
  * [[settle]] has seen its marker job come back through the listener bus,
  * so every event the span posted has been delivered. */
final class Trace(sc: SparkContext) extends SparkListener {
  val SpanKey = "layerbench.span"
  private val spans = new ConcurrentHashMap[String, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val markersSeen = new AtomicLong(-1L)
  private val markerIds = new AtomicLong(0L)
  private val gate = new Object

  def counters(span: String): Counters =
    spans.computeIfAbsent(span, _ => new Counters)

  def setSpan(span: String): Unit = sc.setLocalProperty(SpanKey, span)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).map(_.getProperty(SpanKey)).orNull
    if (span != null && span.startsWith("marker:")) {
      val id = span.stripPrefix("marker:").toLong
      gate.synchronized { markersSeen.set(id); gate.notifyAll() }
    } else {
      val s = Option(span).getOrElse("other")
      counters(s).jobs.incrementAndGet()
      e.stageIds.foreach(stageSpan.put(_, s))
    }
  }

  private def spanOfStage(id: Int) = stageSpan.getOrDefault(id, "other")

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    counters(spanOfStage(e.stageInfo.stageId)).stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val c = counters(spanOfStage(e.stageId))
    c.tasks.incrementAndGet()
    if (m != null) {
      c.runMs.addAndGet(m.executorRunTime)
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spill.addAndGet(m.diskBytesSpilled)
      c.gcMs.addAndGet(m.jvmGCTime)
      c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      c.inputRecords.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  /** Blocks until the listener has received every event posted so far. A
    * job over an empty RDD posts its start event straight onto the bus
    * behind all earlier events, so seeing it means they were delivered. */
  def settle(timeoutMs: Long = 10000L): Boolean = {
    val id = markerIds.incrementAndGet()
    val prev = sc.getLocalProperty(SpanKey)
    setSpan(s"marker:$id")
    sc.emptyRDD[Int].count()
    setSpan(prev)
    val deadline = System.currentTimeMillis() + timeoutMs
    gate.synchronized {
      while (markersSeen.get() < id && System.currentTimeMillis() < deadline)
        gate.wait(math.max(1L, deadline - System.currentTimeMillis()))
      markersSeen.get() >= id
    }
  }
}

/** One non-empty micro-batch as the streaming engine reports it. */
final case class Progress(triggerMs: Long, addBatchMs: Long,
    walCommitMs: Long, commitOffsetsMs: Long, queryPlanningMs: Long)

/** Collects the progress of every micro-batch that carried rows. */
final class LaneProgress extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[Progress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      def ms(k: String) = d.getOrElse(k, 0L)
      batches.add(Progress(ms("triggerExecution"), ms("addBatch"),
        ms("walCommit"), ms("commitOffsets"), ms("queryPlanning")))
    }
  }
  def snapshot(): Vector[Progress] = batches.asScala.toVector
}
