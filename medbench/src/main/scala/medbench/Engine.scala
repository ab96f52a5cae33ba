package medbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Engine counters for one group of Spark jobs. */
final class EngineCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L

  def +=(o: EngineCounts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; inputBytes += o.inputBytes
    outputBytes += o.outputBytes
  }
}

/** A listener the benchmark registers on the session. Each job is keyed
  * by the span that was open on the calling thread when it was submitted
  * (the `medbench.span` local property), and its stages and tasks follow
  * it, so engine work is attributed to the benchmark call that caused it.
  * Jobs submitted outside any span are kept under the key -1.
  */
final class EngineListener extends SparkListener {
  private val jobSpan = mutable.HashMap.empty[Int, Long]
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val counts = mutable.HashMap.empty[Long, EngineCounts]

  private def at(span: Long): EngineCounts =
    counts.getOrElseUpdate(span, new EngineCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(EngineListener.SpanKey))).map(_.toLong).getOrElse(-1L)
    jobSpan(e.jobId) = span
    e.stageIds.foreach(stageSpan(_) = span)
    at(span).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { at(stageSpan.getOrElse(e.stageInfo.stageId, -1L)).stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = at(stageSpan.getOrElse(e.stageId, -1L))
    c.tasks += 1
    if (e.reason != org.apache.spark.Success) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Counters per span id, read after [[drain]]. */
  def bySpan: Map[Long, EngineCounts] = synchronized { counts.toMap }
}

object EngineListener {
  val SpanKey = "medbench.span"
}
