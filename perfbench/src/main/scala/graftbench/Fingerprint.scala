package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}
import org.apache.spark.sql.execution.SQLExecution

/** Order-insensitive fingerprint of a query result: the row count, the
  * wrapping 64-bit sum of an xxhash64 of every row over all output
  * columns, and a CRC of the output schema (column names, order and
  * types).
  *
  * It runs the DataFrame's own physical plan (`queryExecution.toRdd`),
  * so the optimizer never sees a consumer that could prune a column or
  * drop a sort, and the plan timed as "planning" is the plan executed. */
final case class Fingerprint(rows: Long, rowHashSum: Long, schemaCrc: Long) {
  def render: String =
    f"$rows:${java.lang.Long.toHexString(rowHashSum)}:$schemaCrc%08x"
}

object Fingerprint {

  def schemaCrc(df: DataFrame): Long = {
    val crc = new java.util.zip.CRC32()
    crc.update(df.schema.fields
      .map(f => s"${f.name}:${f.dataType.catalogString}")
      .mkString(",").getBytes("UTF-8"))
    crc.getValue
  }

  def of(df: DataFrame): Fingerprint = {
    val qe = df.queryExecution
    val types = qe.executedPlan.output.map(_.dataType)
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench fingerprint")) {
      qe.toRdd.mapPartitions { rows =>
        val hash = new XxHash64(types.zipWithIndex.map { case (t, i) =>
          BoundReference(i, t, nullable = true) }, 42L)
        var n = 0L
        var sum = 0L
        rows.foreach { r => n += 1; sum += hash.eval(r).asInstanceOf[Long] }
        Iterator.single((n, sum))
      }.collect()
    }
    Fingerprint(parts.map(_._1).sum, parts.map(_._2).sum, schemaCrc(df))
  }
}
