package graft.tools

import org.apache.spark.sql.DataFrame

/** Single-pass COLD-COST soak for the spec-gated production runtimes
  * that are not (or cannot be) regular bench entries — convergence-
  * stopped or train-once operators whose round counts are data-
  * dependent, so a 3-pass median would hide the real cold number
  * behind memoization. One timed execution each at
  * `SPARK_GRAFT_SF_DIR` (default sf0.1), one JSON line per op plus a
  * short total as the final stdout line, and a committed sidecar
  * (default ./SOAK_latest.json, override SPARK_GRAFT_SOAK_OUT) so a
  * perf regression in these runtimes is visible round over round.
  *
  * The fixed-round oracle-checked twins (q_agg_mannwhitney_dist,
  * q_agg_quantile_dist, q_ts_kendall_fast, q_rfm_segments_dist,
  * q_pareto_abc_dist, q_revenue_gini_dist, q_llm_simhash_wide,
  * q_mm_*_dedup_wide) live in the regular bench; this soak carries
  * only the data-dependent residue.
  */
object Soak {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // session warmup so the first op is not billed JVM/codegen cost
    import org.apache.spark.sql.functions.{count => cnt, sum}
    spark.range(100000).agg(sum("id"), cnt("id")).collect()
    graft.io.Tables.events(spark, sfDir).limit(1).count()

    val ops: Seq[(String, () => DataFrame)] = Seq(
      "pagerank_converged" ->
        (() => graft.rel.RelationalOps.partPagerankConverged(spark, sfDir)),
      "mannwhitney_dist" ->
        (() => graft.rel.RelationalOps.mannWhitneyDistributed(spark, sfDir)),
      "quantiles_dist" ->
        (() => graft.rel.RelationalOps.exactQuantilesDistributed(spark, sfDir)),
      "kendall_fast" ->
        (() => graft.ts.TimeSeriesOps.kendallTauFast(spark, sfDir)),
      "simhash_wide" ->
        (() => graft.llm.TextOps.simhashWide(spark, sfDir)),
      "rfm_dist" ->
        (() => graft.rel.RelationalOps.rfmSegmentsDistributed(spark, sfDir)),
      "pareto_dist" ->
        (() => graft.rel.RelationalOps.paretoAbcDistributed(spark, sfDir)),
      "gini_dist" ->
        (() => graft.rel.RelationalOps.revenueGiniDistributed(spark, sfDir)),
      "kcore_converged" ->
        (() => graft.rel.RelationalOps.kcoreConverged(spark, sfDir)),
      "jaccard_capped" ->
        (() => graft.rel.RelationalOps.partJaccardCapped(spark, sfDir)),
      "resource_alloc_capped" ->
        (() => graft.rel.RelationalOps.partResourceAllocCapped(spark, sfDir)),
      "components_pd" ->
        (() => graft.rel.RelationalOps.partComponentsPd(spark, sfDir)),
      "semdedup_clustered" ->
        (() => graft.llm.VectorOps.semDedupClustered(spark, sfDir)),
      "hits_converged" ->
        (() => graft.rel.RelationalOps.partHitsConverged(spark, sfDir)))
    val times = ops.map { case (name, f) =>
      val t0 = System.nanoTime()
      val rows = f().count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"""{"op":"$name","sec":$dt%.3f,"rows":$rows}""")
      name -> dt
    }
    val qs = times.map { case (k, v) => s"\"$k\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val line =
      f"""{"metric":"soak","ops":$qs,"total":${times.map(_._2).sum}%.3f,"cpus":"$cpus","sf":"$sfDir"}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_SOAK_OUT",
      if (new java.io.File(sfDir.replaceAll("/+$", "")).getName == "sf0.1")
        "SOAK_latest.json"
      else "")
    if (outPath.nonEmpty)
      try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (line + "\n").getBytes("UTF-8"))
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[soak] sidecar skipped: ${e.getMessage}")
      }
    println(line)
    spark.stop()
  }
}
