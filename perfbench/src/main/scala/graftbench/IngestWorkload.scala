package graftbench

import graft.plans.{RollupCatalog, RollupRouteRule}
import graft.streaming.Ingest
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One carbon line-protocol line and the quarantine reason the generator
  * injected (`ok` for a well-formed line). */
final case class Line(text: String, reason: String)

/** The write path: `events` replayed as carbon lines through
  * `MemoryStream` → `Ingest.parseLinesQuarantine` → a `foreachBatch` that
  * appends the ok rows to a raw parquet table, dead-letters the rest and
  * calls `Ingest.liveRollupWriter`, with `RollupRouteRule` on throughout.
  *
  * After one untimed chunk that starts the pipeline (set-up), phase A is
  * closed-loop saturation without a reader: a chunk is sent
  * only after the previous one committed. Phase B is an open-loop
  * generator at [[OfferedLinesPerS]] for the run's measuring
  * seconds, beside one closed-loop reader issuing the hourly aggregate the
  * rule routes to rollup plus raw tail. */
object IngestWorkload {
  val PhaseAChunks = 12
  val PhaseAChunkLines = 1000
  /** About half the saturation rate phase A measures (1040-1140 lines/s
    * with 4 cores), so phase B sees latency rather than a growing queue. */
  val OfferedLinesPerS = 600
  val PhaseBChunkLines = 250
  val UserBuckets = 8
  val MalformedShare = 0.01
  val Reasons = Seq("bad_arity", "bad_metric", "bad_value", "bad_epoch")

  /** Event-time-ordered lines from `events`; the seed picks the user
    * bucketing of metric names and which ~1% of lines are malformed,
    * cycling through all four quarantine reasons. */
  def generate(spark: SparkSession, sfDir: String, seed: Long): IndexedSeq[Line] = {
    val rows = graft.io.Tables.events(spark, sfDir)
      .select("ts_ns", "event_id", "event_type", "user_id", "value")
      .orderBy("ts_ns", "event_id").collect()
    val rnd = new scala.util.Random(seed)
    val salt = rnd.nextInt(1 << 16)
    var nextReason = rnd.nextInt(Reasons.size)
    rows.toIndexedSeq.map { r =>
      val bucket = Math.floorMod(r.getLong(3) * 31L + salt, UserBuckets.toLong)
      val metric = s"${r.getString(2)}.u$bucket"
      val value = r.getDouble(4).toString
      val epoch = Math.floorDiv(r.getLong(0), 1000000000L)
      if (rnd.nextDouble() < MalformedShare) {
        val reason = Reasons(nextReason)
        nextReason = (nextReason + 1) % Reasons.size
        val text = reason match {
          case "bad_arity" => s"$metric $value"
          case "bad_metric" => s"\t$value $epoch"
          case "bad_value" => s"$metric v$value $epoch"
          case _ => s"$metric $value ${epoch}e"
        }
        Line(text, reason)
      } else Line(s"$metric $value $epoch", "ok")
    }
  }

  /** The routed reader: hourly (metric, bucket) aggregate over the raw
    * table, the shape `RollupRouteRule` rewrites. */
  def hourly(spark: SparkSession, rawPath: String): DataFrame =
    spark.read.parquet(rawPath)
      .groupBy(col("metric"), date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("avg_v"),
        min(col("value")).as("min_v"), max(col("value")).as("max_v"))

  private object Plans extends AdaptiveSparkPlanHelper

  /** Root path -> files listed, for every file scan in a physical plan. */
  private def scanned(plan: SparkPlan): Map[String, Int] =
    Plans.collect(plan) { case s: FileSourceScanExec =>
      s.relation.location.rootPaths.map(p =>
        p.toUri.getPath.replaceAll("/+$", "") ->
          s.relation.location.inputFiles.length)
    }.flatten.toMap

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def run(spark: SparkSession, sfDir: String, tmpDir: String, tracer: Tracer,
      progress: ProgressListener, seed: Long, seconds: Int)
      : (Double, Map[String, Any]) = {
    val sc = spark.sparkContext
    val tGen = System.nanoTime()
    val lines = generate(spark, sfDir, seed)
    val genS = (System.nanoTime() - tGen) / 1e9

    val dir = new java.io.File(tmpDir, s"ingest-$seed-${System.nanoTime()}")
    dir.mkdirs()
    val rawPath = s"${dir.getAbsolutePath}/raw"
    val rollupDir = s"${dir.getAbsolutePath}/rollup"
    val deadPath = s"${dir.getAbsolutePath}/dead_letter"
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[String]
    val writer = Ingest.liveRollupWriter(spark, rawPath, rollupDir)
    val batches = new ConcurrentLinkedQueue[Map[String, Any]]()
    val chunks = new ConcurrentLinkedQueue[Map[String, Any]]()
    val fetches = new ConcurrentLinkedQueue[Map[String, Any]]()
    val failures = new ConcurrentLinkedQueue[String]()

    val foldBatch: (DataFrame, Long) => Unit = (batch, id) => {
      val trace = tracer.newId()
      tracer.span(sc, "trigger", "stream", trace, 0L) { root =>
        val ok = batch.where(col("reason") === "ok")
          .select("metric", "ts", "value")
        def timed(name: String, layer: String)(body: => Unit): Double = {
          val t0 = System.nanoTime()
          tracer.span(sc, name, layer, trace, root)(_ => body)
          (System.nanoTime() - t0) / 1e9
        }
        val rawS = timed("raw_append", "stream.raw_append") {
          ok.write.mode("append").parquet(rawPath)
        }
        val deadS = timed("dead_letter", "stream.dead_letter") {
          batch.where(col("reason") =!= "ok").select("raw", "reason")
            .write.mode("append").parquet(deadPath)
        }
        val writerS = timed("liveRollupWriter", "stream.writer") {
          writer(ok, id)
        }
        batches.add(Map("batch" -> id, "end_ms" -> tracer.nowMs(),
          "raw_append_s" -> rawS, "dead_letter_s" -> deadS,
          "writer_s" -> writerS))
      }
    }

    var sent = 0
    def send(dueMs: Double, phase: String, size: Int): Unit = {
      val chunk = lines.slice(sent, sent + size)
      val sentMs = tracer.nowMs()
      val offset = input.addData(chunk.map(_.text)).json.toLong
      chunks.add(Map("phase" -> phase, "offset" -> offset,
        "due_ms" -> dueMs, "sent_ms" -> sentMs, "lines" -> chunk.size,
        "backlog" -> (offset - progress.foldedOffset)))
      sent += chunk.size
    }

    def fetch(): Unit = {
      val trace = tracer.newId()
      val t0 = System.nanoTime()
      try tracer.span(sc, "fetch", "fetch", trace, 0L) { root =>
        val df = tracer.span(sc, "construct", "construct", trace, root) { _ =>
          hourly(spark, rawPath)
        }
        val t1 = System.nanoTime()
        val plan = tracer.span(sc, "plan", "plan", trace, root) { _ =>
          df.queryExecution.executedPlan
        }
        val t2 = System.nanoTime()
        tracer.span(sc, "exec", "exec", trace, root) { _ => Fingerprint.of(df) }
        val t3 = System.nanoTime()
        val scans = scanned(plan)
        fetches.add(Map("total_s" -> (t3 - t0) / 1e9,
          "construct_s" -> (t1 - t0) / 1e9, "plan_s" -> (t2 - t1) / 1e9,
          "exec_s" -> (t3 - t2) / 1e9,
          "routed" -> scans.contains(rollupDir),
          "raw_files" -> scans.getOrElse(rawPath, 0), "ok" -> true))
      } catch {
        case NonFatal(e) =>
          failures.add(s"fetch: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
          fetches.add(Map("total_s" -> (System.nanoTime() - t0) / 1e9,
            "ok" -> false))
      }
    }

    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ RollupRouteRule
    val query = Ingest.parseLinesQuarantine(input.toDF()).writeStream
      .option("checkpointLocation", s"${dir.getAbsolutePath}/checkpoint")
      .foreachBatch(foldBatch).start()
    try {
      // the first micro-batch starts the pipeline (stream start-up, first
      // writes, plan compilation): set-up, not saturation
      val tWarm = System.nanoTime()
      send(tracer.nowMs(), "warm", PhaseAChunkLines)
      query.processAllAvailable()
      val warmS = (System.nanoTime() - tWarm) / 1e9

      // phase A: closed-loop saturation, no reader
      val okBefore = lines.take(sent).count(_.reason == "ok")
      val tA = System.nanoTime()
      (0 until PhaseAChunks).foreach { _ =>
        send(tracer.nowMs(), "A", PhaseAChunkLines)
        query.processAllAvailable()
      }
      val wallA = (System.nanoTime() - tA) / 1e9
      val okA = lines.take(sent).count(_.reason == "ok") - okBefore

      // phase B: open-loop generator beside one closed-loop reader
      val periodMs = 1000.0 * PhaseBChunkLines / OfferedLinesPerS
      val chunksB = seconds * OfferedLinesPerS / PhaseBChunkLines
      val startB = tracer.nowMs() + periodMs
      @volatile var generating = true
      val generator = new Thread(() => {
        try (0 until chunksB).foreach { j =>
          val due = startB + j * periodMs
          val wait = due - tracer.nowMs()
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          send(due, "B", PhaseBChunkLines)
        } finally generating = false
      }, "perfbench-generator")
      generator.start()
      while (generating) fetch()
      generator.join()
      query.processAllAvailable()
      query.stop()

      // accounting: every line sent is either a raw row or dead-lettered
      // with the injected reason
      val sentLines = lines.take(sent)
      val okRows = spark.read.parquet(rawPath).count()
      val dead = spark.read.parquet(deadPath).select("raw", "reason").collect()
        .map(r => Line(r.getString(0), r.getString(1))).toSeq
      val injected = sentLines.filter(_.reason != "ok")
      val okSent = sentLines.size - injected.size
      val lostOrExtra = math.abs(okRows - okSent) +
        math.abs(dead.size - injected.size)
      val wrongReasons = injected.diff(dead).size
      if (lostOrExtra > 0 || wrongReasons > 0)
        failures.add(s"accounting: sent=${sentLines.size} ok=$okRows " +
          s"dead=${dead.size} injected=${injected.size} mismatched=$wrongReasons")

      // the final routed read must equal the unrouted one
      def rowsOf(df: DataFrame): Seq[Row] =
        df.orderBy("metric", "bucket").collect().toSeq
      val routedDf = hourly(spark, rawPath)
      val routedScan = scanned(routedDf.queryExecution.executedPlan)
        .contains(rollupDir)
      val routed = rowsOf(routedDf)
      RollupCatalog.clear()
      val unrouted = rowsOf(hourly(spark, rawPath))
      val same = routed.size == unrouted.size && routed.zip(unrouted).forall {
        case (a, b) =>
          a.getString(0) == b.getString(0) && a.get(1) == b.get(1) &&
            a.getLong(2) == b.getLong(2) && a.getDouble(4) == b.getDouble(4) &&
            a.getDouble(5) == b.getDouble(5) &&
            math.abs(a.getDouble(3) - b.getDouble(3)) <=
              1e-9 * math.max(1.0, math.abs(b.getDouble(3)))
      }
      val routedOk = same && routedScan && routed.nonEmpty
      if (!routedOk)
        failures.add(s"routed read: equal=$same routed=$routedScan " +
          s"rows=${routed.size}/${unrouted.size}")

      (genS + warmS, Map(
        "phase_a" -> Map("wall_s" -> wallA, "ok_lines" -> okA),
        "phase_b" -> Map("chunks" -> chunksB,
          "offered_lines_per_s" -> OfferedLinesPerS),
        "lines_sent" -> sentLines.size,
        "ok_rows" -> okRows, "dead_letters" -> dead.size,
        "lost_or_extra" -> lostOrExtra, "wrong_reasons" -> wrongReasons,
        "routed_check_ok" -> routedOk,
        "chunks" -> chunks.asScala.toList,
        "batches" -> batches.asScala.toList,
        "fetches" -> fetches.asScala.toList,
        "failures" -> failures.asScala.toList))
    } finally {
      try query.stop() catch { case NonFatal(_) => }
      RollupCatalog.clear()
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == RollupRouteRule)
      deleteTree(dir)
    }
  }
}
