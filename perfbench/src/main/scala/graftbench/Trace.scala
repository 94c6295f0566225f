package graftbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import scala.collection.mutable.ArrayBuffer

/** One traced interval. Spans of one query or micro-batch share `trace`;
  * `parent` is 0 for a root span. Times are wall-clock milliseconds, the
  * clock Spark stamps its listener events with. */
final case class Span(id: Long, trace: Long, parent: Long, name: String,
    startMs: Double, endMs: Double)

/** Records spans in memory; the run writes them out when it ends. With
  * tracing off nothing is recorded, but span ids are still handed out so
  * callers need not branch. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0L)
  private val spans = ArrayBuffer.empty[Span]
  private val originMs = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()

  def nowMs(): Double = originMs + (System.nanoTime() - originNs) / 1e6

  def newId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = if (enabled) spans.synchronized { spans += s }

  def all: Seq[Span] = spans.synchronized { spans.toList }

  /** Runs `body` inside a span. Spark jobs started by this thread inside
    * `body` carry the layer name and span id as job-local properties, so
    * [[LayerListener]] can count them for the layer and parent their spans
    * here. The previous properties are restored afterwards. */
  def span[T](sc: SparkContext, name: String, layer: String, trace: Long,
      parent: Long)(body: Long => T): T = {
    val id = newId()
    val saved = Seq(Tracer.LayerKey, Tracer.SpanKey, Tracer.TraceKey)
      .map(k => k -> sc.getLocalProperty(k))
    sc.setLocalProperty(Tracer.LayerKey, layer)
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    sc.setLocalProperty(Tracer.TraceKey, trace.toString)
    val start = nowMs()
    try body(id)
    finally {
      add(Span(id, trace, parent, name, start, nowMs()))
      saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }
  }
}

object Tracer {
  val LayerKey = "perfbench.layer"
  val SpanKey = "perfbench.span"
  val TraceKey = "perfbench.trace"
}
