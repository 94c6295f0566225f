package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.CosineSim
import graft.io.Tables
import graft.util.SessionMemo

/** Session-scoped IVF index registry — the "build once, probe per query"
  * lifecycle a real ANN deployment needs (SURVEY §8.3). Rebuilding the
  * quantizer inside every query is a non-starter at 10^9 vectors; here
  * the index is materialized exactly once per (session, corpus) and every
  * probe reuses it, with a parquet persist/load path for cross-session
  * reuse (the offline-build / online-serve split).
  *
  * Scale posture:
  *  - The QUANTIZER is trained on a deterministic bounded sample
  *    (`SampleCap` vectors — k·256-ish, independent of corpus size),
  *    with Lloyd's iterations on the driver. This is standard IVF
  *    practice (FAISS trains its coarse quantizer on a subset): the
  *    training working set is MODEL-sized, never data-sized, so the same
  *    build runs unchanged against 10^9 vectors while the expensive part
  *    — assigning every vector to its cells — stays fully distributed.
  *  - The INVERTED LISTS (vector → top-`replicas` cells) are one
  *    broadcast-join + argmax pass over the corpus, localCheckpointed so
  *    repeated probes never recompute them (at production: a bucketed
  *    parquet table via [[save]]).
  */
object AnnIndex {

  /** A materialized IVF index: `cells(cell, cvec)` is the k×dim coarse
    * quantizer; `lists(vec_id, embedding, cell)` the redundant inverted
    * lists. */
  final case class Index(cells: DataFrame, lists: DataFrame)

  /** Product-quantization model: `codebooks(s)(c)` is subspace `s`'s
    * codeword `c` (over L2-NORMALIZED vectors — the angular setup).
    * `rot`, when present, is the OPQ orthogonal rotation (row-major):
    * vectors are rotated BEFORE slicing into subspaces, and queries must
    * rotate identically before ADC scoring (rotation preserves cosine,
    * so the exact re-rank is untouched). */
  final case class Pq(codebooks: Array[Array[Array[Float]]],
      rot: Option[Array[Array[Float]]] = None) {
    def m: Int = codebooks.length
    def dsub: Int = codebooks(0)(0).length
  }

  /** IVF-PQ: same coarse cells, but the inverted lists carry m-byte PQ
    * CODES instead of full vectors (`codes(vec_id, cell, codes)`) — the
    * representation that makes lists cheap to hold and probe at 10^9
    * vectors (64-dim float32 = 256 B/entry; m=8 codes = 8 B/entry, a
    * 32× list-payload reduction). Probing scores candidates by
    * asymmetric distance (query vs reconstruction), then a SHORT list
    * is re-ranked exactly against full vectors fetched by key. */
  final case class PqIndex(cells: DataFrame, codes: DataFrame, pq: Pq)

  /** Scalar-quantization model (per-dim uniform 8-bit over NORMALIZED
    * vectors): `scales(d)` = (max_d − min_d)/256, midpoint decode. */
  final case class Sq(mins: Array[Float], scales: Array[Float])

  /** IVF-SQ8: coarse cells + 1-byte-per-dim codes — the middle rung of
    * the ANN memory ladder (4× smaller lists than float32, higher
    * fidelity than PQ's shared codewords). */
  final case class SqIndex(cells: DataFrame, codes: DataFrame, sq: Sq)

  /** Deterministic sample bound for quantizer training (see class doc). */
  private val SampleCap = 4096
  private val LloydIters = 5

  /** Memo key of the flat index; the PQ/SQ/OPQ variants extend it. */
  private def indexKey(k: Int, replicas: Int) = s"ann|k=$k|r=$replicas"

  private def vectors(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))

  /** One distributed encode pass over the built lists; the checkpointed
    * result is the compact thing probes actually scan. */
  private def encodeLists(base: Index, codes: Column): DataFrame =
    base.lists.select(col("vec_id"), col("cell"), codes.as("codes"))
      .localCheckpoint()

  /** Build the index for a corpus once per session ([[SessionMemo]]:
    * keyed by session, corpus version, k and replicas); subsequent calls
    * are a map lookup. */
  def buildOrGet(spark: SparkSession, sfDir: String, k: Int,
      replicas: Int): Index =
    SessionMemo.getOrBuild(spark, sfDir, indexKey(k, replicas))(
      build(spark, sfDir, k, replicas))

  /** Health-triggered quantizer refresh — the drift guard of a serving
    * fleet: corpus drift shows up as CELL IMBALANCE (vectors pile into
    * cells whose centroids no longer fit the distribution), so when the
    * current index's max/avg list size exceeds `imbalanceBound`, its
    * cached build is invalidated and the quantizer retrains from a fresh
    * bounded sample. Returns the serving index plus whether a refresh
    * happened. The health probe is two aggregates over the lists table
    * — model-sized, never a corpus pass; with an unchanged corpus the
    * rebuild is deterministic (same sample → same centroids), so the
    * trigger mechanics are spec-able without synthetic drift. */
  def refreshIfDrifted(spark: SparkSession, sfDir: String, k: Int,
      replicas: Int, imbalanceBound: Double): (Index, Boolean) = {
    val idx = buildOrGet(spark, sfDir, k, replicas)
    val h = idx.lists.groupBy(col("cell")).agg(count(lit(1)).as("sz"))
      .agg(max(col("sz")).cast("double").as("mx"),
        (sum(col("sz")).cast("double") / count(lit(1))).as("avg"))
      .collect()(0)
    val imbalance = h.getDouble(0) / h.getDouble(1)
    if (imbalance <= imbalanceBound) (idx, false)
    else {
      SessionMemo.invalidate(spark, sfDir, indexKey(k, replicas))
      (buildOrGet(spark, sfDir, k, replicas), true)
    }
  }

  /** PQ subspace count: 64-dim embeddings → 8 subspaces × 8 dims. */
  private val PqSubspaces = 8

  /** Codewords per subspace (byte-addressable — the classic 256). */
  private val PqCodewords = 256

  /** Build-or-get the IVF-PQ index for a corpus — memoized like
    * [[buildOrGet]] (and it builds the flat index first, so the two
    * share cells and the flat lists stay available as the re-rank
    * oracle). */
  def buildPqOrGet(spark: SparkSession, sfDir: String, k: Int,
      replicas: Int, m: Int = PqSubspaces): PqIndex =
    SessionMemo.getOrBuild(spark, sfDir, s"${indexKey(k, replicas)}|pq=$m") {
      val base = buildOrGet(spark, sfDir, k, replicas)
      val pq = Pq(trainPq(boundedSample(vectors(spark, sfDir)), m))
      PqIndex(base.cells, encodeLists(base,
        graft.functions.PqEncode(col("embedding"), pq.codebooks)), pq)
    }

  /** Per-dim min/max over the NORMALIZED bounded sample → uniform 8-bit
    * model. Values outside the training range clamp at encode time (the
    * standard SQ8 posture: the sample brackets the distribution). */
  private[graft] def trainSq(sample: Array[Array[Float]]): Sq = {
    require(sample.nonEmpty, "empty training sample")
    val dim = sample.head.length
    val mins = Array.fill(dim)(Float.MaxValue)
    val maxs = Array.fill(dim)(Float.MinValue)
    sample.foreach { v =>
      var nrm = 0.0
      var i = 0
      while (i < dim) { nrm += v(i).toDouble * v(i); i += 1 }
      val inv = if (nrm == 0.0) 0.0f else (1.0 / math.sqrt(nrm)).toFloat
      i = 0
      while (i < dim) {
        val x = v(i) * inv
        if (x < mins(i)) mins(i) = x
        if (x > maxs(i)) maxs(i) = x
        i += 1
      }
    }
    Sq(mins, Array.tabulate(dim)(d => (maxs(d) - mins(d)) / 256.0f))
  }

  /** Build-or-get the IVF-SQ8 index: same coarse cells as the flat
    * index, lists carry 1-byte-per-dim scalar-quantized codes — the
    * middle rung between flat float lists and PQ (4× payload reduction,
    * per-dimension resolution retained). Memoized like [[buildPqOrGet]]. */
  def buildSqOrGet(spark: SparkSession, sfDir: String, k: Int,
      replicas: Int): SqIndex =
    SessionMemo.getOrBuild(spark, sfDir, s"${indexKey(k, replicas)}|sq8") {
      val base = buildOrGet(spark, sfDir, k, replicas)
      val sq = trainSq(boundedSample(vectors(spark, sfDir)))
      SqIndex(base.cells, encodeLists(base,
        graft.functions.SqEncode(col("embedding"), sq.mins, sq.scales)), sq)
    }

  /** Build-or-get the OPQ variant: same coarse cells, but vectors are
    * rotated by a learned orthogonal R before PQ slicing (parametric OPQ
    * — Ge et al. CVPR'13: PCA basis + balanced eigenvalue allocation
    * across subspaces, trained on the SAME bounded sample). The coarse
    * quantizer stays in the original space (rotation preserves cosine,
    * so cell ranking is unaffected); only the codes and the ADC query
    * side live in the rotated basis. */
  def buildOpqOrGet(spark: SparkSession, sfDir: String, k: Int,
      replicas: Int, m: Int = PqSubspaces,
      refineIters: Int = 0): PqIndex =
    SessionMemo.getOrBuild(spark, sfDir,
        s"${indexKey(k, replicas)}|opq=$m|ri=$refineIters") {
      val base = buildOrGet(spark, sfDir, k, replicas)
      val sample = boundedSample(vectors(spark, sfDir))
      val pq =
        if (refineIters > 0) {
          val (rot, cb) = trainOpqIterative(sample, m, refineIters)
          Pq(cb, Some(rot))
        } else {
          val rot = trainOpqRotation(sample, m)
          Pq(trainPq(sample.map(applyRotation(rot, _)), m), Some(rot))
        }
      PqIndex(base.cells, encodeLists(base, graft.functions.PqEncode(
        graft.functions.RotateVec(col("embedding"), pq.rot.get),
        pq.codebooks)), pq)
    }

  private[llm] def build(spark: SparkSession, sfDir: String, k: Int,
      replicas: Int): Index = {
    val e = vectors(spark, sfDir)
    val cells = trainQuantizer(spark, e, k)
    // one distributed pass builds the inverted lists; checkpoint so every
    // probe starts from the materialized table, not the build lineage
    val lists = VectorOps.indexAssignments(e, cells, replicas)
      .localCheckpoint()
    Index(cells, lists)
  }

  /** Train the k-means coarse quantizer on a deterministic bounded
    * sample: the [[SampleCap]] vectors with the smallest seeded hash of
    * vec_id (stable across runs and partitionings), Lloyd's on the
    * driver. Only the sample (≤ SampleCap×dim floats) ever collects —
    * the model-training working set, not the data. */
  /** The deterministic bounded training sample both quantizers share:
    * the [[SampleCap]] vectors with the smallest seeded hash of vec_id
    * (stable across runs and partitionings). The ONLY data-shaped
    * collect in the index lifecycle — model-sized, corpus-independent. */
  private[graft] def boundedSample(e: DataFrame): Array[Array[Float]] = {
    val HashMod = 1000003L
    val h = pmod(xxhash64(col("vec_id"), lit(42L)), lit(HashMod))
    // Hash-threshold prefilter before the global top-K: a bare
    // orderBy(h).limit(cap) plans as TakeOrderedAndProject, which ships
    // cap rows from EVERY partition to the driver merge — fine at 32
    // partitions, 40M rows at 10^4. Admitting only h < t (t sized for
    // ~2x cap expected survivors) makes the top-K a constant-size sort
    // at any partition count, and the SELECTED SET IS IDENTICAL: the
    // smallest-(h, vec_id) cap rows under a threshold admitting >= cap
    // rows are the smallest overall (t widens x8 until that holds, so
    // binomial shortfall only costs a retry, never a different sample).
    val n = e.count()
    var t = if (n <= SampleCap) HashMod
      else math.min(HashMod, 2L * SampleCap * HashMod / n + 1L)
    var cand = e.where(h < t)
    while (t < HashMod && cand.count() < SampleCap) {
      t = math.min(HashMod, t * 8L)
      cand = e.where(h < t)
    }
    cand.orderBy(h, col("vec_id"))
      .limit(SampleCap)
      .select(col("embedding"))
      .collect()
      .map(_.getSeq[Float](0).toArray)
  }

  private[llm] def trainQuantizer(spark: SparkSession, e: DataFrame,
      k: Int): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val sample = boundedSample(e)
    require(sample.length >= k, s"corpus smaller than k=$k")
    lloyd(sample, k, LloydIters).zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "cvec")
  }

  /** Plain Lloyd's with cosine assignment over the in-memory sample.
    * Seeds are the first k sample vectors (the sample order is already a
    * deterministic hash order); a cell that loses every member keeps its
    * previous centroid — same rule as the distributed formulation it
    * replaces. Ties break to the lowest cell, matching
    * [[VectorOps.cellAssignments]]'s max_by tiebreak. */
  private def lloyd(vecs: Array[Array[Float]], k: Int,
      iters: Int): Array[Array[Float]] = {
    val dim = vecs.head.length
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < dim) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    var cents = Array.tabulate(k)(i => vecs(i).clone())
    for (_ <- 1 to iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      vecs.foreach { v =>
        var best = 0; var bestSim = cosine(cents(0), v); var c = 1
        while (c < k) {
          val s = cosine(cents(c), v)
          if (s > bestSim) { bestSim = s; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      cents = cents.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old
        else Array.tabulate(dim)(i => (sums(c)(i) / counts(c)).toFloat)
      }
    }
    cents
  }

  /** Train the PQ codebooks on the shared bounded sample: L2-normalize
    * each sample vector, slice into `m` subvectors, and run plain L2
    * Lloyd's per subspace with `min(256, sample)` codewords (seeds = the
    * first codewords' worth of subvectors; the sample order is already a
    * deterministic hash order). Driver cost is m × sample × 256 × dsub
    * mults per iter — model-sized, corpus-independent. */
  private[graft] def trainPq(sample: Array[Array[Float]],
      m: Int = PqSubspaces, iters: Int = LloydIters): Array[Array[Array[Float]]] = {
    require(sample.nonEmpty, "empty training sample")
    val dim = sample.head.length
    require(dim % m == 0, s"dim=$dim not divisible by m=$m")
    val dsub = dim / m
    val normed = sample.map { v =>
      var nrm = 0.0; var i = 0
      while (i < dim) { nrm += v(i).toDouble * v(i); i += 1 }
      val inv = if (nrm == 0.0) 0.0f else (1.0 / math.sqrt(nrm)).toFloat
      Array.tabulate(dim)(j => v(j) * inv)
    }
    val k = math.min(PqCodewords, normed.length)
    Array.tabulate(m) { s =>
      val subs = normed.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      lloydL2(subs, k, iters)
    }
  }

  /** Plain L2 Lloyd's over an in-memory subvector sample. A codeword
    * that loses every member keeps its previous value; ties break to the
    * lowest code — same conventions as [[lloyd]]. */
  private def lloydL2(vecs: Array[Array[Float]], k: Int,
      iters: Int): Array[Array[Float]] = {
    val dim = vecs.head.length
    def dist(a: Array[Float], b: Array[Float]): Float = {
      var d = 0.0f; var i = 0
      while (i < dim) { val x = a(i) - b(i); d += x * x; i += 1 }
      d
    }
    var cents = Array.tabulate(k)(i => vecs(i).clone())
    for (_ <- 1 to iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      vecs.foreach { v =>
        var best = 0; var bestd = dist(cents(0), v); var c = 1
        while (c < k) {
          val d = dist(cents(c), v)
          if (d < bestd) { bestd = d; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      cents = cents.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old
        else Array.tabulate(dim)(i => (sums(c)(i) / counts(c)).toFloat)
      }
    }
    cents
  }

  /** Driver-side `R·v` for sample preparation (the distributed twin is
    * [[graft.functions.RotateVec]]). */
  private[graft] def applyRotation(rot: Array[Array[Float]],
      v: Array[Float]): Array[Float] =
    Array.tabulate(rot.length) { i =>
      val row = rot(i)
      var d = 0.0; var j = 0
      val lim = math.min(row.length, v.length)
      while (j < lim) { d += row(j).toDouble * v(j); j += 1 }
      d.toFloat
    }

  /** Parametric OPQ rotation (Ge et al. CVPR'13, the non-iterative
    * variant): PCA of the L2-normalized bounded sample, then BALANCED
    * eigenvalue allocation — eigenvectors are dealt (descending λ) to
    * the subspace with the smallest Σ log λ so far, equalizing each
    * subspace's variance budget so no codebook starves. Returns the
    * row-major orthogonal R whose consecutive `dsub` rows are subspace
    * s's basis. Everything runs on the driver over the model-sized
    * sample: one dim×dim covariance + a Jacobi eigensolve — O(dim³)
    * with dim=64, microseconds, corpus-independent. */
  private[graft] def trainOpqRotation(sample: Array[Array[Float]],
      m: Int = PqSubspaces): Array[Array[Float]] = {
    require(sample.nonEmpty, "empty training sample")
    val dim = sample.head.length
    require(dim % m == 0, s"dim=$dim not divisible by m=$m")
    val dsub = dim / m
    val normed = sample.map { v =>
      var nrm = 0.0; var i = 0
      while (i < dim) { nrm += v(i).toDouble * v(i); i += 1 }
      val inv = if (nrm == 0.0) 0.0 else 1.0 / math.sqrt(nrm)
      Array.tabulate(dim)(j => v(j) * inv)
    }
    val n = normed.length
    val mean = new Array[Double](dim)
    normed.foreach { v =>
      var i = 0; while (i < dim) { mean(i) += v(i); i += 1 }
    }
    var i = 0
    while (i < dim) { mean(i) /= n; i += 1 }
    val cov = Array.ofDim[Double](dim, dim)
    normed.foreach { v =>
      var a = 0
      while (a < dim) {
        val da = v(a) - mean(a)
        var b = a
        while (b < dim) { cov(a)(b) += da * (v(b) - mean(b)); b += 1 }
        a += 1
      }
    }
    var a = 0
    while (a < dim) {
      var b = a
      while (b < dim) {
        cov(a)(b) /= n; cov(b)(a) = cov(a)(b); b += 1
      }
      a += 1
    }
    val (eigvals, eigvecs) = jacobiEigen(cov)
    // deal eigenvectors (descending eigenvalue, index tiebreak) to the
    // least-loaded non-full subspace — the OPQ-P balanced allocation
    val order = eigvals.zipWithIndex.sortBy { case (l, idx) => (-l, idx) }
    val buckets = Array.fill(m)(List.empty[Int])
    val logSum = new Array[Double](m)
    order.foreach { case (l, idx) =>
      val open = (0 until m).filter(b => buckets(b).length < dsub)
      val b = open.minBy(bi => (logSum(bi), bi))
      buckets(b) = buckets(b) :+ idx
      logSum(b) += math.log(math.max(l, 1e-12))
    }
    val rows = buckets.flatten
    Array.tabulate(dim)(r =>
      Array.tabulate(dim)(d => eigvecs(d)(rows(r)).toFloat))
  }

  /** Iterative OPQ (Ge et al. CVPR'13, the NON-parametric variant):
    * alternate (a) PQ codebook training on the rotated sample and
    * (b) an orthogonal-Procrustes rotation update toward the current
    * reconstructions, initialized from the parametric PCA rotation.
    * Returns (R, codebooks) after `iters` rounds. All driver-side over
    * the bounded sample — encode is sample×m×256×dsub multiplies per
    * round, Procrustes is one dim² accumulation + an eigensolve —
    * model-sized, corpus-independent. The SVD runs through the
    * symmetric [[jacobiEigen]] on MᵀM (U recovered as M·V·Σ⁻¹); a
    * near-zero singular value aborts refinement and keeps the last
    * rotation (deterministic, and the parametric init is already a
    * valid OPQ). */
  private[graft] def trainOpqIterative(sample: Array[Array[Float]],
      m: Int = PqSubspaces, iters: Int = 3)
      : (Array[Array[Float]], Array[Array[Array[Float]]]) = {
    require(sample.nonEmpty, "empty training sample")
    val dim = sample.head.length
    val xs = sample.map { v =>
      var nrm = 0.0; var i = 0
      while (i < dim) { nrm += v(i).toDouble * v(i); i += 1 }
      val inv = if (nrm == 0.0) 0.0f else (1.0 / math.sqrt(nrm)).toFloat
      Array.tabulate(dim)(j => v(j) * inv)
    }
    var rot = trainOpqRotation(sample, m)
    var done = false
    for (_ <- 1 to iters if !done) {
      val rotated = xs.map(applyRotation(rot, _))
      val cb = trainPq(rotated, m)
      val dsub = dim / m
      def recon(v: Array[Float]): Array[Float] = {
        val out = new Array[Float](dim)
        var s = 0
        while (s < m) {
          val book = cb(s)
          var best = 0; var bestd = Float.MaxValue; var c = 0
          while (c < book.length) {
            val cw = book(c); var d = 0.0f; var j = 0
            while (j < dsub) {
              val x = v(s * dsub + j) - cw(j); d += x * x; j += 1
            }
            if (d < bestd) { bestd = d; best = c }
            c += 1
          }
          System.arraycopy(book(best), 0, out, s * dsub, dsub)
          s += 1
        }
        out
      }
      // Procrustes: maximize tr(Rt M), M = sum recon(R x) x^T -> R = U Vt
      val mm = Array.ofDim[Double](dim, dim)
      xs.indices.foreach { i =>
        val y = recon(rotated(i)); val x = xs(i)
        var a = 0
        while (a < dim) {
          val ya = y(a).toDouble
          if (ya != 0.0) {
            var b = 0
            while (b < dim) { mm(a)(b) += ya * x(b); b += 1 }
          }
          a += 1
        }
      }
      val mtm = Array.ofDim[Double](dim, dim)
      var a = 0
      while (a < dim) {
        var b = a
        while (b < dim) {
          var s0 = 0.0; var t = 0
          while (t < dim) { s0 += mm(t)(a) * mm(t)(b); t += 1 }
          mtm(a)(b) = s0; mtm(b)(a) = s0; b += 1
        }
        a += 1
      }
      val (lams, vmat) = jacobiEigen(mtm)
      if (lams.exists(_ < 1e-12)) done = true
      else {
        // U = M V Sigma^-1 (columns); R = U Vt
        val sig = lams.map(l => math.sqrt(math.max(l, 0.0)))
        val u = Array.ofDim[Double](dim, dim)
        var j = 0
        while (j < dim) {
          var i = 0
          while (i < dim) {
            var s0 = 0.0; var t = 0
            while (t < dim) { s0 += mm(i)(t) * vmat(t)(j); t += 1 }
            u(i)(j) = s0 / sig(j); i += 1
          }
          j += 1
        }
        rot = Array.tabulate(dim)(i => Array.tabulate(dim) { k =>
          var s0 = 0.0; var t = 0
          while (t < dim) { s0 += u(i)(t) * vmat(k)(t); t += 1 }
          s0.toFloat
        })
      }
    }
    (rot, trainPq(xs.map(applyRotation(rot, _)), m))
  }

  /** Cyclic Jacobi eigensolver for a symmetric matrix: returns
    * (eigenvalues, eigenvector matrix — COLUMN i pairs with value i).
    * Deterministic sweep order, fixed sweep count (64×64 converges to
    * machine precision well inside 12 sweeps). */
  private[llm] def jacobiEigen(src: Array[Array[Double]],
      sweeps: Int = 12): (Array[Double], Array[Array[Double]]) = {
    val n = src.length
    val a = Array.tabulate(n, n)((i, j) => src(i)(j))
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    for (_ <- 1 to sweeps) {
      for (p <- 0 until n - 1; q <- p + 1 until n) {
        val apq = a(p)(q)
        if (math.abs(apq) > 1e-14) {
          val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
          val t =
            if (theta == 0.0) 1.0
            else math.signum(theta) /
              (math.abs(theta) + math.sqrt(theta * theta + 1.0))
          val c = 1.0 / math.sqrt(t * t + 1.0)
          val s = t * c
          var i = 0
          while (i < n) {
            val aip = a(i)(p); val aiq = a(i)(q)
            a(i)(p) = c * aip - s * aiq
            a(i)(q) = s * aip + c * aiq
            i += 1
          }
          i = 0
          while (i < n) {
            val api = a(p)(i); val aqi = a(q)(i)
            a(p)(i) = c * api - s * aqi
            a(q)(i) = s * api + c * aqi
            i += 1
          }
          i = 0
          while (i < n) {
            val vip = v(i)(p); val viq = v(i)(q)
            v(i)(p) = c * vip - s * viq
            v(i)(q) = s * vip + c * viq
            i += 1
          }
        }
      }
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }

  /** Offline nprobe calibration: measure recall@`k` of [[knnJoin]]
    * against the exhaustive baseline (probing EVERY cell is exactly
    * brute force) for each candidate nprobe over a bounded query set,
    * and return the smallest candidate meeting `targetRecall` (falling
    * back to all-cells) plus the full tradeoff table. Recall is
    * non-decreasing in nprobe (a larger candidate superset can only pull
    * the approximate top-k toward the true one), so "smallest meeting
    * target" is well-defined. Driver cost: |candidates|+1 probe jobs and
    * query-set-sized collects — an offline calibration pass, never a
    * per-query cost. */
  def tuneNprobe(index: Index, qs: DataFrame, k: Int, targetRecall: Double,
      candidates: Seq[Int]): (Int, Seq[(Int, Double)]) = {
    val nCells = index.cells.count().toInt
    def pairs(np: Int): Set[(Long, Long)] =
      knnJoin(index, qs, np, k).select(col("q_id"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(nCells)
    val table = candidates.distinct.sorted.map { np =>
      np -> (if (exact.isEmpty) 1.0
             else pairs(np).intersect(exact).size.toDouble / exact.size)
    }
    (table.find(_._2 >= targetRecall).map(_._1).getOrElse(nCells), table)
  }

  /** Batch k-NN join against the index: top-`k` neighbors for EVERY row
    * of `qs(q_id, qe)`. Queries rank their `nprobe` cells against the
    * broadcast quantizer (scalars through the agg, vector rehydrated by
    * one equi-join), then one join on `cell` against the inverted lists
    * replaces the all-pairs cross join; per-query top-k is a window over
    * candidates only. Serves the batch query AND each foreachBatch
    * micro-batch of [[probeStream]] — one index, both surfaces. */
  /** Per-query top-`nprobe` cell ranking (centroid cosine, ties to the
    * lowest cell) — the shared front half of the flat and PQ batch
    * joins. */
  private def rankCells(cells: DataFrame, qs: DataFrame,
      nprobe: Int): DataFrame =
    qs.crossJoin(broadcast(cells))
      .select(col("q_id"), col("cell"),
        CosineSim(col("qe"), col("cvec")).as("csim"))
      .groupBy(col("q_id"))
      .agg(collect_list(struct(col("csim"), (-col("cell")).as("nc")))
        .as("cs"))
      .select(col("q_id"),
        explode(expr(s"slice(reverse(array_sort(cs)), 1, $nprobe)")).as("s"))
      .select(col("q_id"), (-col("s.nc")).cast("int").as("cell"))
      .join(qs, "q_id")

  def knnJoin(index: Index, qs: DataFrame, nprobe: Int,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qcells = rankCells(index.cells, qs, nprobe)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    qcells.join(index.lists, "cell")
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        CosineSim(col("embedding"), col("qe")).as("sim"))
      // a pair can meet in several probed cells — keep one
      .groupBy(col("q_id"), col("vec_id"))
      .agg(max(col("sim")).as("sim"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("q_id"), col("rk").cast("bigint").as("rk"), col("vec_id"),
        graft.util.Det.r4(col("sim")).as("sim"))
  }

  /** Streaming similarity search: every micro-batch of incoming query
    * vectors `(q_id, qe)` probes the SHARED prebuilt index via
    * foreachBatch — the online-serving half of the build/serve split
    * (the index is session-state; batches only pay the probe). `sink`
    * receives each batch's neighbor table. */
  def probeStream(queries: DataFrame, index: Index, nprobe: Int, k: Int)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        sink(knnJoin(index, batch, nprobe, k))
      }
      .start()

  /** Batch top-`k` neighbors through the PQ codes: candidates score by
    * asymmetric distance over m-byte codes (the data-sized side never
    * ships full float vectors), every query keeps a `rerank`-deep short
    * list, and the short list re-ranks EXACTLY against full vectors
    * fetched by key — the batch twin of [[pqProbe]] for a query SET.
    * With `rerank` at least every candidate list's size this equals
    * [[knnJoin]] exactly (the spec's oracle); at production rerank is
    * a small multiple of k and the probe IO shrinks by the PQ factor. */
  /** Query-side ADC vector: rotated into the codes' basis when the
    * model carries an OPQ rotation (cosine is rotation-invariant, so
    * the exact re-rank against original vectors needs no change). */
  private def adcQuery(pq: Pq): org.apache.spark.sql.Column =
    pq.rot.fold(col("qe"))(r => graft.functions.RotateVec(col("qe"), r))

  def pqKnnJoin(index: PqIndex, full: DataFrame, qs: DataFrame,
      nprobe: Int, k: Int, rerank: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qcells = rankCells(index.cells, qs, nprobe)
    val wAdc = Window.partitionBy(col("q_id"))
      .orderBy(col("adc").desc, col("vec_id"))
    val short = qcells.join(index.codes, "cell")
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        CosineSim(graft.functions.PqDecode(col("codes"), index.pq.codebooks),
          adcQuery(index.pq)).as("adc"))
      // a pair can meet in several probed cells — codes are identical
      // per vec_id, so the ADC is too; keep one
      .groupBy(col("q_id"), col("vec_id")).agg(max(col("adc")).as("adc"))
      .withColumn("rk", row_number().over(wAdc))
      .where(col("rk") <= rerank)
      .select(col("q_id"), col("vec_id"))
    val wSim = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    short.join(full, "vec_id").join(qs, "q_id")
      .select(col("q_id"), col("vec_id"),
        CosineSim(col("embedding"), col("qe")).as("sim"))
      .withColumn("rk", row_number().over(wSim))
      .where(col("rk") <= k)
      .select(col("q_id"), col("rk").cast("bigint").as("rk"), col("vec_id"),
        graft.util.Det.r4(col("sim")).as("sim"))
  }

  /** [[pqKnnJoin]]'s SQ8 twin: candidates score by cosine against the
    * midpoint reconstruction (asymmetric distance), a [[rerank]]-row
    * short list re-ranks exactly against full vectors fetched by key.
    * Same two-window shape; no rotation (SQ8 is axis-aligned). */
  def sqKnnJoin(index: SqIndex, full: DataFrame, qs: DataFrame,
      nprobe: Int, k: Int, rerank: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qcells = rankCells(index.cells, qs, nprobe)
    val wAdc = Window.partitionBy(col("q_id"))
      .orderBy(col("adc").desc, col("vec_id"))
    val short = qcells.join(index.codes, "cell")
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        CosineSim(graft.functions.SqDecode(col("codes"), index.sq.mins,
          index.sq.scales), col("qe")).as("adc"))
      .groupBy(col("q_id"), col("vec_id")).agg(max(col("adc")).as("adc"))
      .withColumn("rk", row_number().over(wAdc))
      .where(col("rk") <= rerank)
      .select(col("q_id"), col("vec_id"))
    val wSim = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    short.join(full, "vec_id").join(qs, "q_id")
      .select(col("q_id"), col("vec_id"),
        CosineSim(col("embedding"), col("qe")).as("sim"))
      .withColumn("rk", row_number().over(wSim))
      .where(col("rk") <= k)
      .select(col("q_id"), col("rk").cast("bigint").as("rk"), col("vec_id"),
        graft.util.Det.r4(col("sim")).as("sim"))
  }

  /** [[probeStream]] against the PQ index: micro-batches pay an m-byte
    * ADC scan plus a key-fetch re-rank instead of a full-vector list
    * scan — the online-serving path a 10^9-vector deployment runs. */
  def probePqStream(queries: DataFrame, index: PqIndex, full: DataFrame,
      nprobe: Int, k: Int, rerank: Int)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        sink(pqKnnJoin(index, full, batch, nprobe, k, rerank))
      }
      .start()

  /** [[probePqStream]]'s SQ8 twin: micro-batches pay the dim-byte ADC
    * scan plus the key-fetch re-rank. */
  def probeSqStream(queries: DataFrame, index: SqIndex, full: DataFrame,
      nprobe: Int, k: Int, rerank: Int)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        sink(sqKnnJoin(index, full, batch, nprobe, k, rerank))
      }
      .start()

  /** Persist a built index as two parquet tables — the offline half of
    * the build/serve split (at production the lists table is bucketed by
    * cell so a probe reads only its cells' files). */
  def save(index: Index, dir: String): Unit = {
    index.cells.write.mode("overwrite").parquet(s"$dir/cells")
    index.lists.write.mode("overwrite").parquet(s"$dir/lists")
  }

  /** Load a persisted index for serving. */
  def load(spark: SparkSession, dir: String): Index =
    Index(spark.read.parquet(s"$dir/cells"),
      spark.read.parquet(s"$dir/lists"))

  /** Persist a built PQ/OPQ index: the cells and codes tables plus the
    * model (codebooks and optional rotation) as a one-row parquet — the
    * PQ half of the offline-build/online-serve split (at production the
    * codes table is bucketed by cell; the model row is KB-sized). */
  def savePq(index: PqIndex, dir: String): Unit = {
    index.cells.write.mode("overwrite").parquet(s"$dir/cells")
    index.codes.write.mode("overwrite").parquet(s"$dir/codes")
    val spark = index.cells.sparkSession
    import spark.implicits._
    val cb = index.pq.codebooks.map(_.map(_.toSeq).toSeq).toSeq
    val rot = index.pq.rot.map(_.map(_.toSeq).toSeq)
    Seq((cb, rot)).toDF("codebooks", "rot")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/model")
  }

  /** [[savePq]]'s SQ8 twin: cells + dim-byte codes + the per-dim model
    * row — the offline-build half of the SQ serving split. */
  def saveSq(index: SqIndex, dir: String): Unit = {
    index.cells.write.mode("overwrite").parquet(s"$dir/cells")
    index.codes.write.mode("overwrite").parquet(s"$dir/codes")
    val spark = index.cells.sparkSession
    import spark.implicits._
    Seq((index.sq.mins.toSeq, index.sq.scales.toSeq))
      .toDF("mins", "scales")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/model")
  }

  /** Load a persisted SQ8 index for serving. */
  def loadSq(spark: SparkSession, dir: String): SqIndex = {
    type GSeq[A] = scala.collection.Seq[A]
    val m = spark.read.parquet(s"$dir/model").collect()(0)
    SqIndex(spark.read.parquet(s"$dir/cells"),
      spark.read.parquet(s"$dir/codes"),
      Sq(m.getAs[GSeq[Float]]("mins").toArray,
        m.getAs[GSeq[Float]]("scales").toArray))
  }

  /** Load a persisted PQ/OPQ index for serving. */
  def loadPq(spark: SparkSession, dir: String): PqIndex = {
    // Row materializes nested arrays as mutable ArraySeq — cast at the
    // generic collection.Seq so every nesting level converts safely
    type GSeq[A] = scala.collection.Seq[A]
    val m = spark.read.parquet(s"$dir/model").collect()(0)
    val cb = m.getAs[GSeq[GSeq[GSeq[Float]]]]("codebooks")
      .map(_.map(_.toArray).toArray).toArray
    val rot = Option(m.getAs[GSeq[GSeq[Float]]]("rot"))
      .map(_.map(_.toArray).toArray)
    PqIndex(spark.read.parquet(s"$dir/cells"),
      spark.read.parquet(s"$dir/codes"), Pq(cb, rot))
  }

  /** Probe a built index: rank cells by centroid similarity against the
    * query vector, brute-force only the top-`nprobe` cells' lists, and
    * return the exact top-`limit` by cosine. The query vector and the
    * probed-cell set broadcast; the scan touches ~replicas×nprobe/k of
    * the corpus. */
  def probe(index: Index, query: DataFrame, nprobe: Int, limit: Int,
      excludeVecId: Option[Long] = None): DataFrame = {
    val probed = index.cells.crossJoin(broadcast(query))
      .select(col("cell"), CosineSim(col("cvec"), col("qe")).as("cell_sim"))
      .orderBy(col("cell_sim").desc, col("cell"))
      .limit(nprobe)
    val candidates = index.lists.join(broadcast(probed), "cell")
    excludeVecId.fold(candidates)(id => candidates.where(col("vec_id") =!= id))
      // a vector can surface via several probed cells — keep the best cell
      .groupBy(col("vec_id"))
      .agg(min(col("cell")).as("cell"),
        first(col("embedding")).as("embedding"))
      .crossJoin(broadcast(query))
      .select(col("vec_id"), col("cell"),
        graft.util.Det.r4(CosineSim(col("embedding"), col("qe"))).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(limit)
  }

  /** Probe an IVF-PQ index: rank cells as in [[probe]], score the probed
    * cells' CODES by asymmetric distance (cosine of the query against
    * each code's reconstruction — [[graft.functions.PqDecode]] feeding
    * the same codegen cosine kernel), keep the top-`rerank` short list,
    * and re-rank THAT exactly against full vectors fetched by key from
    * `full` (at production: point lookups into the bucketed source
    * table; the scan over data-sized state touches only m-byte codes).
    * Returns the exact-cosine top-`limit` of the short list — with
    * `rerank` ≥ the candidate count this equals [[probe]] exactly, which
    * is the spec's oracle. */
  def pqProbe(index: PqIndex, full: DataFrame, query: DataFrame,
      nprobe: Int, limit: Int, rerank: Int,
      excludeVecId: Option[Long] = None): DataFrame = {
    val probed = index.cells.crossJoin(broadcast(query))
      .select(col("cell"), CosineSim(col("cvec"), col("qe")).as("cell_sim"))
      .orderBy(col("cell_sim").desc, col("cell"))
      .limit(nprobe)
    val candidates = index.codes.join(broadcast(probed), "cell")
    val shortList = excludeVecId
      .fold(candidates)(id => candidates.where(col("vec_id") =!= id))
      // a vector can surface via several probed cells; codes are
      // identical per vec_id, so any one representative works
      .groupBy(col("vec_id")).agg(first(col("codes")).as("codes"))
      .crossJoin(broadcast(query))
      .select(col("vec_id"),
        CosineSim(graft.functions.PqDecode(col("codes"), index.pq.codebooks),
          adcQuery(index.pq)).as("adc"))
      .orderBy(col("adc").desc, col("vec_id"))
      .limit(rerank)
    full.join(broadcast(shortList.select(col("vec_id"))), "vec_id")
      .crossJoin(broadcast(query))
      .select(col("vec_id"),
        graft.util.Det.r4(CosineSim(col("embedding"), col("qe"))).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(limit)
  }

  /** [[pqProbe]]'s SQ8 twin: dim-byte codes scored against the midpoint
    * reconstruction, short list re-ranked exactly over full vectors. */
  def sqProbe(index: SqIndex, full: DataFrame, query: DataFrame,
      nprobe: Int, limit: Int, rerank: Int,
      excludeVecId: Option[Long] = None): DataFrame = {
    val probed = index.cells.crossJoin(broadcast(query))
      .select(col("cell"), CosineSim(col("cvec"), col("qe")).as("cell_sim"))
      .orderBy(col("cell_sim").desc, col("cell"))
      .limit(nprobe)
    val candidates = index.codes.join(broadcast(probed), "cell")
    val shortList = excludeVecId
      .fold(candidates)(id => candidates.where(col("vec_id") =!= id))
      .groupBy(col("vec_id")).agg(first(col("codes")).as("codes"))
      .crossJoin(broadcast(query))
      .select(col("vec_id"),
        CosineSim(graft.functions.SqDecode(col("codes"), index.sq.mins,
          index.sq.scales), col("qe")).as("adc"))
      .orderBy(col("adc").desc, col("vec_id"))
      .limit(rerank)
    full.join(broadcast(shortList.select(col("vec_id"))), "vec_id")
      .crossJoin(broadcast(query))
      .select(col("vec_id"),
        graft.util.Det.r4(CosineSim(col("embedding"), col("qe"))).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(limit)
  }
}
