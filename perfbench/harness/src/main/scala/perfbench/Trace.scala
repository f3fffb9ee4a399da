package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Spans recorded around the harness's calls into each layer, kept in
  * memory and written out when the run ends. Times are fractional epoch
  * milliseconds, the clock Spark stamps task launch and finish with, so
  * listener records can be attributed to spans by time. */
final class Tracer {
  private val baseEpochMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNs) / 1e6

  /** Off: [[span]] runs its body and records nothing. */
  @volatile var enabled = false

  private val spans = ArrayBuffer.empty[Map[String, Any]]
  private var stack = List.empty[Int]
  private var ownNs = 0L

  /** Seconds spent in the tracer's own work: span bookkeeping and the
    * bodies passed to [[own]]. */
  def ownSeconds: Double = ownNs / 1e9

  /** Runs work done only for tracing, counting its time as the
    * tracer's own. */
  def own[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally ownNs += System.nanoTime() - t0
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      val id = spans.size
      spans += null // reserve the id; filled in when the span ends
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val start = nowMs
      ownNs += System.nanoTime() - t0
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans(id) = Map("id" -> id, "parent" -> parent, "name" -> name,
          "start" -> start, "end" -> nowMs)
        ownNs += System.nanoTime() - t1
      }
    }

  def records: Seq[Map[String, Any]] = spans.toSeq
}

/** Task and stage records from the Spark scheduler, plus micro-batch
  * progress from Structured Streaming. Attach only for a traced phase. */
final class Recorder extends SparkListener {
  val tasks = new ConcurrentLinkedQueue[Map[String, Any]]
  val stages = new ConcurrentLinkedQueue[Map[String, Any]]
  val batches = new ConcurrentLinkedQueue[Map[String, Any]]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Map(
      "launch" -> e.taskInfo.launchTime,
      "finish" -> e.taskInfo.finishTime,
      "failed" -> e.taskInfo.failed,
      "run_ms" -> m.executorRunTime,
      "gc_ms" -> m.jvmGCTime,
      "input_bytes" -> m.inputMetrics.bytesRead,
      "input_rows" -> m.inputMetrics.recordsRead,
      "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
      "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
      "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
      "spill_disk_bytes" -> m.diskBytesSpilled))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add(Map(
      "submitted" -> e.stageInfo.submissionTime.getOrElse(0L),
      "completed" -> e.stageInfo.completionTime.getOrElse(0L)))

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      batches.add(Map(
        "at" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "rows" -> p.numInputRows,
        "batch_ms" -> p.batchDuration,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum))
    }
  }

  def record: Map[String, Any] = Map(
    "tasks" -> tasks.asScala.toSeq,
    "stages" -> stages.asScala.toSeq,
    "batches" -> batches.asScala.toSeq)
}
