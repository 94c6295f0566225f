package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** One call into a query function, timed per layer. */
final case class QueryRecord(name: String, round: Int, warm: Boolean,
    constructS: Double, planS: Double, execS: Double, totalS: Double,
    fingerprint: String, expected: String, ok: Boolean, error: String)

/** Runs a frozen query list as one closed-loop client. Each query is timed
  * from the call into its query function (construction) through
  * `executedPlan` (planning: analysis, optimizer rules including
  * `RollupRouteRule`, physical planning) to its computed fingerprint
  * (execution). */
final class QueryRunner(spark: SparkSession, sfDir: String, tracer: Tracer,
    expected: Map[String, String]) {
  private val sc = spark.sparkContext
  private val fns = graft.SparkEntry.queries

  def run(name: String, round: Int, warm: Boolean): QueryRecord = {
    // warm-round work is set-up: its spans and jobs are kept apart
    val (rootName, lp) = if (warm) ("warm_query", "warm.") else ("query", "")
    val trace = tracer.newId()
    var df: DataFrame = null
    var fp = ""
    val t0 = System.nanoTime()
    var t1 = t0
    var t2 = t0
    val error =
      try {
        tracer.span(sc, rootName, lp + "query", trace, 0L) { root =>
          df = tracer.span(sc, "construct", lp + "construct", trace, root) { _ =>
            fns(name)(spark, sfDir)
          }
          t1 = System.nanoTime()
          tracer.span(sc, "plan", lp + "plan", trace, root) { _ =>
            df.queryExecution.executedPlan
          }
          t2 = System.nanoTime()
          fp = tracer.span(sc, "exec", lp + "exec", trace, root) { _ =>
            Fingerprint.of(df).render
          }
        }
        ""
      } catch {
        case NonFatal(e) =>
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}"
            .replaceAll("\\s+", " ").take(300)
      }
    val t3 = System.nanoTime()
    val want = expected.getOrElse(name, "")
    QueryRecord(name, round, warm, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
      (t3 - t2) / 1e9, (t3 - t0) / 1e9, fp, want,
      ok = error.isEmpty && fp == want, error)
  }
}

object QueryWorkload {

  /** `warmRounds` untimed rounds (setup), then `timedRounds` timed ones;
    * each round issues the list in a fresh seed-permuted order. Returns
    * the setup seconds and the record of the run. */
  def run(spark: SparkSession, sfDir: String, tracer: Tracer,
      names: Seq[String], expected: Map[String, String], seed: Long,
      warmRounds: Int, timedRounds: Int, deadline: Long)
      : (Double, Map[String, Any]) = {
    val runner = new QueryRunner(spark, sfDir, tracer, expected)
    val rnd = new scala.util.Random(seed)
    val records = Seq.newBuilder[QueryRecord]
    var skipped = 0
    def round(r: Int, warm: Boolean): Double = {
      val t0 = System.nanoTime()
      rnd.shuffle(names).foreach { n =>
        if (System.nanoTime() < deadline) records += runner.run(n, r, warm)
        else skipped += 1
      }
      (System.nanoTime() - t0) / 1e9
    }
    val warmS = (1 to warmRounds).map(r => round(-r, warm = true)).sum
    val walls = (1 to timedRounds).map(r => round(r, warm = false))
    val recs = records.result()
    (warmS, Map(
      "queries" -> recs,
      "round_wall_s" -> walls,
      "skipped" -> skipped))
  }
}
