package medbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** One timed call. `op` is the id of the root span (a drop, a request or a
  * chain iteration) it belongs to; `parent` is -1 for root spans.
  */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
    name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Times the benchmark's calls into the program's layers.
  *
  * Untraced, only root operations are timed ([[op]]); [[call]] just runs
  * its body. Traced, every call becomes a [[Span]] kept in memory, the
  * span id is set as a Spark local property so the [[EngineListener]]
  * can attribute jobs to it, and [[finish]] returns the spans together
  * with their engine counters.
  */
final class Probe(spark: SparkSession, val tracing: Boolean) {
  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[(Long, Long)] = Nil // (span id, start ns)
  private var nextId = 0L
  private var opId = -1L
  private val counters = mutable.LinkedHashMap.empty[String, Double]

  private val listener: Option[EngineListener] =
    if (!tracing) None
    else {
      val l = new EngineListener
      sc.addSparkListener(l)
      Some(l)
    }

  /** Time one root operation; returns its result and latency in seconds. */
  def op[A](name: String)(f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = if (tracing) {
      opId = nextId
      span("op", name)(f)
    } else f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Run one call into a layer, as a span when tracing inside an op. */
  def call[A](layer: String, name: String)(f: => A): A =
    if (tracing && stack.nonEmpty) span(layer, name)(f) else f

  private def span[A](layer: String, name: String)(f: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1L)
    stack = (id, System.nanoTime()) :: stack
    sc.setLocalProperty(EngineListener.SpanKey, id.toString)
    try f
    finally {
      val start = stack.head._2
      stack = stack.tail
      spans += Span(id, parent, opId, layer, name, start, System.nanoTime())
      sc.setLocalProperty(EngineListener.SpanKey,
        stack.headOption.map(_._1.toString).orNull)
    }
  }

  /** Add to a named per-layer counter (files loaded, rows, batches...)
    * when tracing inside an op. */
  def count(name: String, n: Double): Unit =
    if (tracing && stack.nonEmpty)
      counters(name) = counters.getOrElse(name, 0.0) + n

  def counts: Map[String, Double] = counters.toMap

  /** Spans recorded so far and engine counters keyed by span id. */
  def finish(): (Seq[Span], Map[Long, EngineCounts]) = {
    listener.foreach(_ => org.apache.spark.MedbenchBus.drain(sc))
    (spans.toSeq, listener.map(_.bySpan).getOrElse(Map.empty))
  }
}

/** Span arithmetic for the traced run. */
object Spans {
  /** Self time of each span: its duration minus the time its children
    * cover. Children of one span run one after another, so their
    * durations add up without overlap.
    */
  def selfSeconds(spans: Seq[Span]): Map[Long, Double] = {
    val childTime = spans.groupBy(_.parent).view
      .mapValues(_.map(_.seconds).sum).toMap
    spans.map(s => s.id -> (s.seconds - childTime.getOrElse(s.id, 0.0))).toMap
  }

  /** Engine counters of each span including all its descendants. */
  def inclusive(spans: Seq[Span], own: Map[Long, EngineCounts]): Map[Long, EngineCounts] = {
    val out = mutable.HashMap.empty[Long, EngineCounts]
    val byId = spans.map(s => s.id -> s).toMap
    for ((id, c) <- own if id >= 0) {
      var cur: Option[Span] = byId.get(id)
      while (cur.isDefined) {
        out.getOrElseUpdate(cur.get.id, new EngineCounts) += c
        cur = byId.get(cur.get.parent)
      }
    }
    out.toMap
  }

  def toJson(s: Span, self: Double, c: Option[EngineCounts]): String = {
    val engine = c.map(e =>
      s""","jobs":${e.jobs},"stages":${e.stages},"tasks":${e.tasks},"executor_run_ms":${e.runMs}""")
      .getOrElse("")
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":"${s.layer}",""" +
      s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
      f""""self_s":$self%.6f$engine}"""
  }
}
