package graft

import org.apache.spark.sql.Column

/** Public home of graft's native Catalyst expressions (implementations
  * live in the org.apache.spark.sql.graft shim package — see
  * CosineSim.scala for why). */
package object functions {
  /** Fused codegen cosine similarity over two ARRAY<FLOAT> columns. */
  object CosineSim {
    def apply(a: Column, b: Column): Column =
      org.apache.spark.sql.graft.CosineSimExpr(a, b)
  }

  /** Product-quantization encode: ARRAY<FLOAT> embedding → m-byte BINARY
    * code via the given codebooks (subspace → code → codeword). */
  object PqEncode {
    def apply(c: Column, cb: Array[Array[Array[Float]]]): Column =
      org.apache.spark.sql.graft.PqEncodeExpr(c, cb)
  }

  /** Product-quantization decode: m-byte BINARY code → reconstructed
    * ARRAY<FLOAT> (concatenated codewords, normalized space). */
  object PqDecode {
    def apply(c: Column, cb: Array[Array[Array[Float]]]): Column =
      org.apache.spark.sql.graft.PqDecodeExpr(c, cb)
  }

  /** Scalar-quantization encode: ARRAY<FLOAT> embedding → dim-byte
    * BINARY code (uniform per-dim 8-bit, normalized space). */
  object SqEncode {
    def apply(c: Column, mins: Array[Float], scales: Array[Float]): Column =
      org.apache.spark.sql.graft.SqEncodeExpr(c, mins, scales)
  }

  /** Scalar-quantization decode: dim-byte BINARY code → reconstructed
    * ARRAY<FLOAT> (midpoint reconstruction, normalized space). */
  object SqDecode {
    def apply(c: Column, mins: Array[Float], scales: Array[Float]): Column =
      org.apache.spark.sql.graft.SqDecodeExpr(c, mins, scales)
  }

  /** OPQ rotation: ARRAY<FLOAT> vector → ARRAY<FLOAT> `R·v` for a
    * row-major orthogonal matrix learned offline (Ge et al., CVPR'13). */
  object RotateVec {
    def apply(c: Column, rot: Array[Array[Float]]): Column =
      org.apache.spark.sql.graft.RotateVecExpr(c, rot)
  }

  /** Native simhash aggregate: LONG hash column → 64-bit signature
    * (per-bit majority vote in a single int[64] buffer). */
  object SimHashAgg {
    def apply(h: Column): Column =
      org.apache.spark.sql.graft.SimHashAggExpr(h)
  }

  /** Native Misra–Gries heavy-hitters aggregate: STRING column →
    * top-k array<struct<item,est>> under a fixed `capacity`-entry
    * mergeable summary (PODS'12 combine; undercount ≤ n/(capacity+1)). */
  object HeavyHitters {
    def apply(c: Column, capacity: Int, k: Int): Column =
      org.apache.spark.sql.graft.HeavyHittersAggExpr(c, capacity, k)
  }

  /** Native quantized gram/moment aggregate for the PCA family:
    * ARRAY<FLOAT> column → [gram(d²) | per-dim sums(d) | count] as
    * ARRAY<LONG>, one pass, map-side combined — the scatter-matrix
    * feed without the N·d² self-join. */
  object GramSums {
    def apply(c: Column, d: Int): Column =
      org.apache.spark.sql.graft.GramAggExpr(c, d)
  }

  /** Native count–min sketch aggregate: STRING column → serialized
    * depth×width sketch (BINARY); never undercounts, exact pointwise
    * merge. Probe with [[CmQuery]] / SQL `cm_query`. */
  object CmSketch {
    def apply(c: Column, depth: Int, width: Int): Column =
      org.apache.spark.sql.graft.CountMinAggExpr(c, depth, width)
  }

  /** Point lookup against a serialized count–min sketch → LONG estimate
    * (min over rows; ≥ the true count, codegen'd cell reads). */
  object CmQuery {
    def apply(sketch: Column, item: Column): Column =
      org.apache.spark.sql.graft.CmQueryExpr(sketch, item)
  }

  /** Native mergeable quantile-edge aggregate: DOUBLE column →
    * struct<edges array<double>, err_bound long, n long> under a
    * deterministic KLL/MRL compactor sketch ([[QuantileSketch]]); the
    * ksReferenceEdges recalibration path without an exact percentile
    * sort. err_bound is the sketch's self-certified worst-case rank
    * error. */
  object QuantileEdges {
    def apply(c: Column, k: Int, bins: Int): Column =
      org.apache.spark.sql.graft.QuantileEdgesAggExpr(c, k, bins)
  }

  /** Bloom-filter membership aggregate over a LONG key column — Spark's
    * own codegen'd runtime-filter expression surfaced as a library
    * function (the membership leg of the sketch triad beside
    * [[HeavyHitters]] and [[CmSketch]]). No false negatives; false
    * positives bounded by numBits/estItems (spec-asserted). */
  object BloomAgg {
    def apply(c: Column, estItems: Long, numBits: Long): Column =
      org.apache.spark.sql.graft.BloomBridge.agg(c, estItems, numBits)
  }

  /** Probe a bloom filter built by [[BloomAgg]]: true if the key MAY be
    * present, false only if it is definitely absent. */
  object MightContain {
    def apply(bloom: Column, key: Column): Column =
      org.apache.spark.sql.graft.BloomBridge.might(bloom, key)
  }

  /** Register graft's native expressions as SQL functions in a live
    * session (`cosine_sim`, `simhash_agg`); for session-build wiring use
    * `spark.sql.extensions=graft.GraftExtensions`. Idempotent. */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit =
    org.apache.spark.sql.graft.GraftFunctionRegistry.register(spark)
}
