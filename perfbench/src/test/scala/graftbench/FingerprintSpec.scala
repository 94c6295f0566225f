package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "3")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def sample = {
    val s = spark
    import s.implicits._
    Seq((1L, "a", 1.5, Seq(1, 2)), (2L, "b", -0.25, Seq.empty[Int]),
      (3L, null, 7.0, Seq(3)), (3L, null, 7.0, Seq(3)))
      .toDF("k", "s", "v", "xs")
      .withColumn("m", map(col("k"), col("v")))
  }

  test("a row-permuted DataFrame has the same fingerprint") {
    val base = Fingerprint.of(sample.orderBy("k"))
    val permuted = Fingerprint.of(sample.orderBy(col("v").desc)
      .repartition(3, col("s")))
    assert(base == permuted)
    assert(base.rows == 4)
  }

  test("a changed value, a lost duplicate or a renamed column changes it") {
    val base = Fingerprint.of(sample)
    assert(Fingerprint.of(sample.withColumn("v",
      when(col("k") === 2, 0.0).otherwise(col("v")))) != base)
    val noMap = sample.drop("m")
    assert(Fingerprint.of(noMap.dropDuplicates()) != Fingerprint.of(noMap))
    assert(Fingerprint.of(sample.withColumnRenamed("v", "w")) != base)
  }

  test("every column counts, so none is pruned") {
    val base = Fingerprint.of(sample)
    assert(Fingerprint.of(sample.drop("xs")) != base)
  }

  test("call sites are attributed to the first engine module frame") {
    val site = "org.apache.spark.sql.classic.DataFrameReader.parquet(X.scala:1)\n" +
      "graft.io.Tables$.table(Tables.scala:18)\n" +
      "graft.ts.TimeSeriesOps$.rollupAvg(TimeSeriesOps.scala:90)"
    assert(LayerListener.moduleOf(site) == "io")
    assert(LayerListener.moduleOf(site.split("\n").drop(2).mkString("\n")) == "ts")
    assert(LayerListener.moduleOf("graftbench.Main$.main(Main.scala:1)") == "other")
  }
}
