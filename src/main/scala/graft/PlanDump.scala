package graft

/** Dump `.explain("formatted")` for named queries to text files — the
  * r17 optimization round's plan-evidence tool (plans/r17/<q>_{before,
  * after}.txt). Usage:
  *   runMain graft.PlanDump <outDir> <suffix> <query1> [query2 ...]
  * Reads the data dir from SPARK_GRAFT_SF_DIR and cores from
  * SPARK_GRAFT_CPUS like Bench (same session config, so the dumped
  * plan is the one the bench executes). `all` dumps every declared
  * query. NOTE: this shows the pre-execution plan (AQE initial); the
  * Exchange/join-strategy structure is what the optimization evidence
  * needs. localCheckpoint-hidden subtrees print as ExistingRDD — for
  * those queries the relevant evidence is the plan of each checkpointed
  * stage, which this tool cannot see; say so in the writeup instead of
  * claiming a full plan. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names =
      if (args.length == 3 && args(2) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names) {
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[plandump] unknown query: $name")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
              txt.getBytes("UTF-8"))
            println(s"[plandump] wrote $name ($suffix)")
          } catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(
                s"[plandump] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
