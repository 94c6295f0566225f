package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1-scale SOAK fixture generator: replicates an existing sf dir K×
  * with every key column shifted by replica × (max_key + 1), so key
  * cardinalities, FK integrity (orders→customer, lineitem→part/
  * supplier/orders) and per-key series lengths are preserved while the
  * row counts scale — the realistic axis (MORE keys, not longer
  * histories). region/nation stay fixed (their keys are FK'd by the
  * replicated tables and the 25-nation domain is part of the schema's
  * semantics). Timestamps are left untouched: K replicas over the same
  * 30-day window model K× traffic density.
  *
  * Usage: runMain graft.tools.ScaleUp <srcSfDir> <dstDir> [K=10]
  * Writes one parquet dir per table under dstDir (read them exactly
  * like a driver sf dir). Soak-only tooling — the judged correctness
  * gates run on the driver-generated fixtures, never on this output. */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val k = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    run(spark, src, dst, k)
    spark.stop()
  }

  /** The scale-up body on a CALLER-owned session (specs reuse theirs —
    * main owns and stops its own). */
  def run(spark: SparkSession, src: String, dst: String, k: Int): Unit = {
    new java.io.File(dst).mkdirs()

    def tbl(n: String): DataFrame =
      spark.read.parquet(s"$src/$n.parquet")
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head.getLong(0) + 1L

    // per-domain offsets derived from the SOURCE key spaces
    val cOff = maxOf(tbl("customer"), "c_custkey")
    val sOff = maxOf(tbl("supplier"), "s_suppkey")
    val pOff = maxOf(tbl("part"), "p_partkey")
    val oOff = maxOf(tbl("orders"), "o_orderkey")
    val eOff = maxOf(tbl("events"), "event_id")
    val uOff = maxOf(tbl("events"), "user_id")
    val dOff = maxOf(tbl("documents"), "doc_id")
    val vOff = maxOf(tbl("embeddings"), "vec_id")

    /** K replicas with the named long columns shifted per replica. */
    def replicate(df: DataFrame, shifts: (String, Long)*): DataFrame =
      df.crossJoin(
          spark.range(k).select(col("id").as("__r")))
        .select(df.columns.map { c =>
          shifts.toMap.get(c) match {
            case Some(off) => (col(c) + col("__r") * off).as(c)
            case None => col(c)
          }
        }: _*)

    def write(df: DataFrame, n: String): Unit = {
      // single plain file per table — the driver fixture layout, which
      // both Tables and the DuckDB parity views read unchanged
      val tmp = s"$dst/_tmp_$n"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val target = new java.io.File(s"$dst/$n.parquet")
      target.delete()
      require(part.renameTo(target), s"could not publish $n")
      new java.io.File(tmp).listFiles().foreach(_.delete())
      new java.io.File(tmp).delete()
      println(s"[scaleup] $n: ${spark.read.parquet(target.toString).count()} rows")
    }

    write(tbl("region"), "region")
    write(tbl("nation"), "nation")
    write(replicate(tbl("customer"), "c_custkey" -> cOff), "customer")
    write(replicate(tbl("supplier"), "s_suppkey" -> sOff), "supplier")
    write(replicate(tbl("part"), "p_partkey" -> pOff), "part")
    write(replicate(tbl("orders"),
      "o_orderkey" -> oOff, "o_custkey" -> cOff), "orders")
    write(replicate(tbl("lineitem"),
      "l_orderkey" -> oOff, "l_partkey" -> pOff, "l_suppkey" -> sOff),
      "lineitem")
    // events: keep the ts column physically as the source delivered it
    // (raw read, no Tables normalization — the consumer sniffs dtype)
    write(replicate(tbl("events"),
      "event_id" -> eOff, "user_id" -> uOff), "events")
    write(replicate(tbl("documents"), "doc_id" -> dOff), "documents")
    write(replicate(tbl("embeddings"), "vec_id" -> vOff), "embeddings")
  }
}
