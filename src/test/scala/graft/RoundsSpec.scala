package graft

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.util.Rounds

/** [[Rounds]]' stop rule and owner rule on a tiny synthetic loop: each
  * round halves every x (`x div 2`) into a new lazy local checkpoint. */
class RoundsSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  private def init(xs: Long*): DataFrame = {
    val sp = spark
    import sp.implicits._
    xs.toDF("x").localCheckpoint() // materialized, like a caller's input
  }

  /** The halving step; every state it makes is recorded in `made`. */
  private def halve(made: ArrayBuffer[DataFrame])(s: DataFrame): DataFrame = {
    val next = s.select(expr("x div 2").as("x")).localCheckpoint(eager = false)
    made += next
    next
  }

  /** The largest x of the new state. */
  private val maxX: Rounds.Probe[DataFrame] = Some((_, next) => {
    val r = next.agg(max(col("x"))).head
    if (r.isNullAt(0)) 0L else r.getLong(0)
  })

  private def level(df: DataFrame): StorageLevel =
    df.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.getStorageLevel

  private def xs(df: DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq.sorted

  test("a capped loop runs exactly cap rounds and releases nothing") {
    val made = ArrayBuffer.empty[DataFrame]
    val (s, n) = Rounds(init(1000L, 64L, 8L, 3L), 3)(halve(made))
    assert(n == 3 && made.length == 3)
    assert(made.forall(level(_) != StorageLevel.NONE),
      "an unprobed loop's lazy rounds must not be released")
    assert(xs(s) == Seq(0L, 1L, 8L, 125L))
  }

  test("a probed loop stops at tol and returns its round count") {
    // max x per round: 500, 250, 125, 62 -> 62 <= 100 stops round 4
    val made = ArrayBuffer.empty[DataFrame]
    val (s, n) = Rounds(init(1000L, 64L, 8L, 3L), 30, maxX, 100L)(
      halve(made))
    assert(n == 4 && made.length == 4)
    assert(xs(s) == Seq(0L, 0L, 4L, 62L))
  }

  test("a probe that never reaches tol stops at the cap") {
    val made = ArrayBuffer.empty[DataFrame]
    val (_, n) = Rounds(init(1000L, 64L), 5, maxX, -1L)(halve(made))
    assert(n == 5 && made.length == 5)
  }

  test("every superseded state is released; the final state still " +
      "collects the right rows") {
    val made = ArrayBuffer.empty[DataFrame]
    val (s, n) = Rounds(init(1000L, 64L, 8L, 3L), 30, maxX, 100L)(
      halve(made))
    assert(n == 4 && (made.last eq s))
    made.init.zipWithIndex.foreach { case (df, i) =>
      assert(level(df) == StorageLevel.NONE,
        s"round ${i + 1} was superseded but is still persisted")
    }
    assert(level(s) != StorageLevel.NONE)
    assert(xs(s) == Seq(0L, 0L, 4L, 62L))
  }

  test("the initial state is never released") {
    val s0 = init(1000L, 64L, 8L, 3L)
    val (_, n) = Rounds(s0, 30, maxX, 100L)(halve(ArrayBuffer.empty))
    assert(n == 4)
    assert(level(s0) != StorageLevel.NONE, "the caller's input was released")
    assert(xs(s0) == Seq(3L, 8L, 64L, 1000L))
  }

  test("an empty initial state runs to the empty answer with release on") {
    val made = ArrayBuffer.empty[DataFrame]
    // a row-count probe with tol -1 never stops early, so rounds 1 and 2
    // are superseded and released
    val rows: Rounds.Probe[DataFrame] = Some((_, next) => next.count())
    val (s, n) = Rounds(init(), 3, rows, -1L)(halve(made))
    assert(n == 3)
    assert(made.init.forall(level(_) == StorageLevel.NONE))
    assert(s.collect().isEmpty && s.columns.toSeq == Seq("x"))
  }
}
