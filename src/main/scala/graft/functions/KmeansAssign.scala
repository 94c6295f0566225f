// Lives inside the org.apache.spark.sql namespace on purpose (the
// CosineSimExpr / SignLshBandsExpr shim pattern).
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, FloatType, LongType}

/** Quantized-exact k-means assignment over an `ARRAY<FLOAT>` embedding —
  * a native codegen Catalyst expression (r18).
  *
  * Replaces the per-round `posexplode(embedding) ⋈ broadcast(centroids
  * long-form) → (vec, cl) quantized-distance aggregate → per-vec
  * row_number window` pipeline with one tight per-row loop: the round's
  * centroid table is k·d driver-collected doubles (model-sized by
  * construction), baked into the expression as literals.
  *
  * BIT-EXACT with the replaced pipeline: the distance is
  * Σ_dim floor((x_d − c_d)² · quantum) accumulated as exact LONGs
  * (order-free — every term is floored before the sum, the proven
  * kmeans quantization discipline), elements beyond the centroid
  * dimension drop (the dim equi-join behavior), null elements
  * contribute nothing (SQL sum semantics), and the argmin tie-breaks to
  * the LOWEST cluster id on exact integers (the `orderBy(dist, cl)`
  * row_number contract). `live` marks the centroid cells that exist:
  * a dead cell (no long-form row, or a NULL centroid) adds no term, and
  * a cluster with no live cell is no candidate — it had no rows to join.
  * Returns `array(cl, dist)` as ARRAY<LONG>; null for a null or EMPTY
  * embedding (an empty vector had no long-form rows, so it vanished
  * from the assignment — callers filter nulls) and when no cluster is
  * live.
  */
case class KmeansAssignExpr(child: Expression, cents: Seq[Double],
    live: Seq[Boolean], k: Int, dim: Int, quantum: Double)
    extends UnaryExpression with ExpectsInputTypes {
  require(cents.length == k * dim && live.length == k * dim,
    s"need k*dim=${k * dim} centroid cells")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  // null also for EMPTY embeddings, independent of child nullability
  override def nullable: Boolean = true
  override def prettyName: String = "kmeans_assign"

  @transient private lazy val cArr: Array[Double] = cents.toArray
  @transient private lazy val liveArr: Array[Boolean] = live.toArray
  @transient private lazy val clLive: Array[Boolean] =
    Array.tabulate(k)(cl => live.slice(cl * dim, (cl + 1) * dim).contains(true))

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    if (x.numElements() == 0) return null
    val len = math.min(x.numElements(), dim)
    var bestCl = -1L
    var bestDist = Long.MaxValue
    var cl = 0
    while (cl < k) {
      if (clLive(cl)) {
        var dist = 0L
        var i = 0
        while (i < len) {
          if (liveArr(cl * dim + i) && !x.isNullAt(i)) {
            val d = x.getFloat(i).toDouble - cArr(cl * dim + i)
            dist += math.floor(d * d * quantum).toLong
          }
          i += 1
        }
        if (bestCl < 0 || dist < bestDist) { bestDist = dist; bestCl = cl.toLong }
      }
      cl += 1
    }
    if (bestCl < 0) null else new GenericArrayData(Array(bestCl, bestDist))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cs = ctx.addReferenceObj("cents", cArr, "double[]")
      val lv = ctx.addReferenceObj("live", liveArr, "boolean[]")
      val cv = ctx.addReferenceObj("clLive", clLive, "boolean[]")
      val len = ctx.freshName("len")
      val bc = ctx.freshName("bestCl"); val bd = ctx.freshName("bestDist")
      val cl = ctx.freshName("cl"); val i = ctx.freshName("i")
      val dist = ctx.freshName("dist"); val d = ctx.freshName("d")
      s"""
         |if ($a.numElements() == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $len = java.lang.Math.min($a.numElements(), $dim);
         |  long $bc = -1L; long $bd = Long.MAX_VALUE;
         |  for (int $cl = 0; $cl < $k; $cl++) {
         |    if (!$cv[$cl]) continue;
         |    long $dist = 0L;
         |    for (int $i = 0; $i < $len; $i++) {
         |      if ($lv[$cl * $dim + $i] && !$a.isNullAt($i)) {
         |        double $d = ((double) $a.getFloat($i)) - $cs[$cl * $dim + $i];
         |        $dist += (long) java.lang.Math.floor($d * $d * $quantum);
         |      }
         |    }
         |    if ($bc < 0L || $dist < $bd) { $bd = $dist; $bc = (long) $cl; }
         |  }
         |  if ($bc < 0L) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(new long[]{$bc, $bd});
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object KmeansAssignExpr {
  /** Column API: `array(best_cluster, quantized_distance)` (LONGs). */
  def apply(embedding: Column, cents: Seq[Double], live: Seq[Boolean],
      k: Int, dim: Int, quantum: Double): Column =
    ExpressionUtils.column(KmeansAssignExpr(
      ExpressionUtils.expression(embedding), cents, live, k, dim, quantum))
}
