package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** Per-layer work counters, filled from Spark's listener bus.
  *
  * A job belongs to the layer named by the `perfbench.layer` property of
  * the thread that started it (set by [[Tracer.span]]); its stages and
  * tasks follow it. Construction-time jobs are also split by the engine
  * module of their call site: the first `graft.` frame of the result
  * stage's call site, so `graft.io` counts the reader's schema jobs. */
final class LayerListener(tracer: Tracer) extends SparkListener {

  final class Work {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var taskNs = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
  }

  private val work = mutable.LinkedHashMap.empty[String, Work]
  private val stageLayer = mutable.Map.empty[Int, String]
  private val openJobs = mutable.Map.empty[Int, (Long, Long, Double)]
  private val constructModules = mutable.Map.empty[String, Long]

  private def of(layer: String): Work = work.getOrElseUpdate(layer, new Work)

  private def prop(e: SparkListenerJobStart, k: String): Option[String] =
    Option(e.properties).flatMap(p => Option(p.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val layer = prop(e, Tracer.LayerKey).getOrElse("other")
    of(layer).jobs += 1
    e.stageIds.foreach(stageLayer(_) = layer)
    if (layer == "construct") {
      val m = LayerListener.moduleOf(
        e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse(""))
      constructModules(m) = constructModules.getOrElse(m, 0L) + 1
    }
    val parent = prop(e, Tracer.SpanKey).map(_.toLong).getOrElse(0L)
    val trace = prop(e, Tracer.TraceKey).map(_.toLong).getOrElse(0L)
    openJobs(e.jobId) = (trace, parent, e.time.toDouble)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach { case (trace, parent, start) =>
      tracer.add(Span(tracer.newId(), trace, parent, "job", start,
        e.time.toDouble))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      of(stageLayer.getOrElse(e.stageInfo.stageId, "other")).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = of(stageLayer.getOrElse(e.stageId, "other"))
    w.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      w.taskNs += m.executorRunTime * 1000000L
      w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def snapshot(): Map[String, Any] = synchronized {
    val mb = 1024.0 * 1024.0
    Map(
      "layers" -> work.map { case (k, w) =>
        k -> Map("jobs" -> w.jobs, "stages" -> w.stages, "tasks" -> w.tasks,
          "task_s" -> w.taskNs / 1e9,
          "shuffle_read_mb" -> w.shuffleReadBytes / mb,
          "shuffle_write_mb" -> w.shuffleWriteBytes / mb,
          "spill_mb" -> w.spillBytes / mb)
      }.toMap,
      "construct_modules" -> constructModules.toMap)
  }
}

object LayerListener {
  private val GraftFrame = """(?m)^\s*(?:at\s+)?graft\.([A-Za-z0-9_]+)\.""".r

  /** Engine module (`io`, `ts`, `llm`, ...) of the first `graft.` frame in
    * a call-site stack, or `other` when no engine frame is present. */
  def moduleOf(callSite: String): String =
    GraftFrame.findFirstMatchIn(callSite).map(_.group(1)).getOrElse("other")
}

/** Streaming progress, one record per completed micro-batch. */
final class ProgressListener extends StreamingQueryListener {
  private val records = mutable.ArrayBuffer.empty[Map[String, Any]]
  @volatile var foldedOffset: Long = -1L

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val end = p.sources.headOption.flatMap(s => Option(s.endOffset))
      .flatMap(_.trim.toLongOption).getOrElse(-1L)
    if (end > foldedOffset) foldedOffset = end
    val durations = mutable.Map.empty[String, Any]
    p.durationMs.forEach((k, v) => durations(k) = v.longValue)
    records += Map("batch" -> p.batchId, "end_offset" -> end,
      "rows" -> p.numInputRows, "duration_ms" -> durations.toMap)
  }

  def all: Seq[Map[String, Any]] = synchronized { records.toList }
}
