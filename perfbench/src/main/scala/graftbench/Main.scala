package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{broadcast, count => cnt, sum}
import scala.jdk.CollectionConverters._

/** One benchmark run: builds the session, runs one workload, and writes
  * everything it measured to a JSON record that `perfbench/run.py` turns
  * into metrics.
  *
  * Usage: graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data SF_DIR --queries DIR --expected FILE --tmp DIR --out FILE
  *   [--record FILE [--verify-out DIR]]
  *
  * With `--record`, the query workload writes each query's fingerprint to
  * FILE instead of checking it; with `--verify-out` each fingerprint is
  * also compared with the one of the `graft.Verify` output for that
  * query, the output DuckDB parity was checked on. */
object Main {
  /** (untimed warm rounds, timed rounds) of each query workload */
  val QueryRounds = Map("ts_dashboard" -> (1, 2), "llm_pipeline" -> (0, 1))
  /** No new operation starts after this, so a run ends well inside the
    * harness timeout even on a pathological slowdown. */
  val StartDeadlineS = 120L

  def buildSession(cpus: Int, tmp: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** JVM, codegen and reader warm-up, so class loading is billed to set-up
    * rather than to whichever operation happens to run first. */
  def warmup(spark: SparkSession, sfDir: String): Unit = {
    spark.range(100000).agg(sum("id"), cnt("id")).collect()
    spark.range(1000).toDF("id")
      .join(broadcast(spark.range(100).toDF("id")), "id").count()
    spark.sql("SELECT id, sum(id) OVER (ORDER BY id ROWS BETWEEN 3 " +
      "PRECEDING AND CURRENT ROW) FROM range(1000)").collect()
    Seq(graft.io.Tables.events _, graft.io.Tables.orders _,
      graft.io.Tables.customer _, graft.io.Tables.documents _,
      graft.io.Tables.embeddings _)
      .foreach(table => table(spark, sfDir).limit(1).count())
  }

  private def readList(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))

  def readExpected(path: String): Map[String, String] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else readList(path).map(_.split("\t")).collect {
      case Array(k, v) => k -> v
    }.toMap

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val sfDir = opt("data")
    val tmp = opt("tmp")
    val record = opt.get("record")
    val started = System.nanoTime()
    val deadline = started + StartDeadlineS * 1000000000L
    val cpus = Runtime.getRuntime.availableProcessors

    val spark = buildSession(cpus, tmp)
    warmup(spark, sfDir)
    val sessionS = (System.nanoTime() - started) / 1e9
    val sc = spark.sparkContext
    val tracer = new Tracer(traced)
    val layers = if (traced) Some(new LayerListener(tracer)) else None
    layers.foreach(sc.addSparkListener)
    val progress = new ProgressListener
    spark.streams.addListener(progress)

    val expected = if (record.isDefined) Map.empty[String, String]
      else readExpected(opt("expected"))
    val (prepS, result) = workload match {
      case w if QueryRounds.contains(w) =>
        val (warmRounds, timedRounds) = QueryRounds(w)
        QueryWorkload.run(spark, sfDir, tracer,
          readList(s"${opt("queries")}/$w.txt"), expected, seed,
          warmRounds, timedRounds, deadline)
      case "ingest_live" =>
        IngestWorkload.run(spark, sfDir, tmp, tracer, progress, seed, seconds)
      case other => sys.error(s"unknown workload $other")
    }

    // the reader layer on its own: direct calls, no action
    val io = if (!traced) Map.empty[String, Any] else {
      val t0 = System.nanoTime()
      tracer.span(sc, "io", "io", tracer.newId(), 0L) { _ =>
        graft.io.Tables.events(spark, sfDir)
        graft.io.Tables.orders(spark, sfDir)
        graft.io.Tables.customer(spark, sfDir)
        graft.io.Tables.documents(spark, sfDir)
        graft.io.Tables.embeddings(spark, sfDir)
      }
      Map("read_s" -> (System.nanoTime() - t0) / 1e9)
    }
    org.apache.spark.PerfbenchBus.drain(sc)
    val storage = sc.getRDDStorageInfo.filter(_.isCached)
    val cache = Map(
      "rdds" -> storage.length,
      "retained_mb" -> storage.map(r => r.memSize + r.diskSize).sum / 1048576.0)

    record.foreach { file =>
      val recs = result("queries").asInstanceOf[Seq[QueryRecord]]
      val verifyOut = opt.get("verify-out")
      val checked = recs.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, rs) =>
        val fps = rs.map(_.fingerprint).distinct
        val problem =
          if (rs.exists(_.error.nonEmpty)) rs.map(_.error).mkString("; ")
          else if (fps.size != 1) s"unstable: $fps"
          else verifyOut.map { dir =>
            Fingerprint.of(spark.read.parquet(s"$dir/$n")).render
          }.filter(_ != fps.head).map(v => s"verify output $v != live ${fps.head}")
            .getOrElse("")
        (s"$n\t${fps.head}", if (problem.isEmpty) "" else s"$n: $problem")
      }
      val problems = checked.map(_._2).filter(_.nonEmpty)
      problems.foreach(p => System.err.println(s"[record] $p"))
      require(problems.isEmpty, s"${problems.size} queries not recorded")
      Files.write(Paths.get(file), checked.map(_._1).asJava)
    }

    val out = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "cpus" -> cpus,
      "setup" -> Map("session_s" -> sessionS, "prep_s" -> prepS),
      "result" -> result,
      "layers" -> layers.map(_.snapshot()),
      "io" -> io, "cache" -> cache,
      "progress" -> progress.all,
      "spans" -> tracer.all.map(s => Seq(s.id, s.trace, s.parent, s.name,
        s.startMs, s.endMs)))
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(opt("out")), out)
    spark.stop()
  }
}
