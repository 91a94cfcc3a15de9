package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable.ArrayBuffer

/** In-memory spans around calls into the program's public functions.
  *
  * A span records its parent, so self time (a span minus its children)
  * is derived after the run. While a span is open its id rides on the
  * SparkContext local property [[Trace.SpanProperty]], so every job the
  * call submits — including jobs of a streaming query started inside
  * it, whose thread inherits the property — is attributed to it.
  * Disabled, `apply` is a plain call: no clock reads, no properties.
  */
final class Trace {
  final case class Span(id: Int, parent: Int, name: String, t0: Long, t1: Long)

  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var enabled = false
  var sc: SparkContext = _

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty(Trace.SpanProperty, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, t0, System.nanoTime())
        stack = stack.tail
        sc.setLocalProperty(Trace.SpanProperty,
          stack.headOption.map(_.toString).orNull)
      }
    }
}

object Trace { val SpanProperty = "perfbench.span" }

/** Job, stage and task counters, kept per stage and attributed to the
  * span that submitted the job. Registered only for traced passes.
  */
final class JobListener extends SparkListener {
  final class StageAcc {
    var tasks = 0
    var runMs = 0L
    var gcMs = 0L
    var spillBytes = 0L
    var shuffleWriteBytes = 0L
    var inputBytes = 0L
    var outputBytes = 0L
    val durMs = ArrayBuffer.empty[Long]
  }
  final case class Job(id: Int, span: Int, stages: Seq[Int])

  val jobs = ArrayBuffer.empty[Job]
  val stages = scala.collection.mutable.LinkedHashMap.empty[Int, StageAcc]
  @volatile var jobsEnded = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
      .map(_.toInt).getOrElse(-1)
    jobs += Job(e.jobId, span, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobsEnded += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new StageAcc)
    s.tasks += 1
    s.durMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.inputBytes += m.inputMetrics.bytesRead
      s.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Waits until the asynchronous listener bus has delivered every job
    * end (it lags the calling thread), then a short quiet period for the
    * trailing task ends.
    */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (synchronized(jobsEnded < jobs.size) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(200)
  }
}

/** Per-micro-batch progress of the streaming load. */
final class ProgressListener extends StreamingQueryListener {
  final case class Batch(id: Long, rows: Long, addBatchMs: Long, triggerMs: Long)
  val batches = ArrayBuffer.empty[Batch]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    // AvailableNow ends with an empty progress report; only data batches count
    if (p.numInputRows > 0)
      batches += Batch(p.batchId, p.numInputRows, ms("addBatch"), ms("triggerExecution"))
  }
}
