package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.CosineSim
import graft.io.Tables
import graft.util.Det

/** Embedding-side operators: similarity search (brute-force and ANN) and
  * centroid classification over `embeddings(vec_id, embedding: ARRAY<FLOAT>
  * [64], label)`. The cosine kernel is the custom codegen expression
  * [[graft.functions.CosineSim]] — one tight primitive loop per row.
  *
  * Scale posture (10^9+ vectors):
  *  - Brute-force top-k broadcasts the single query vector; the scan is
  *    embarrassingly parallel and the global top-k is TakeOrderedAndProject
  *    (per-partition heaps + driver merge of k rows, not a global sort of
  *    everything — visible in the physical plan).
  *  - The IVF path is the scale answer: vectors are pre-assigned to coarse
  *    cells of a learned k-means quantizer (Lloyd's as DataFrame aggs),
  *    a query probes nprobe cells, so the exact scan touches
  *    ~replicas×nprobe/ncells of the data. Cell assignment is itself one
  *    broadcast join + argmax.
  *  - LSH near-dup hashes every vector to 4-bit band buckets (random
  *    hyperplanes, fixed seed); candidate pairs come from bucket collisions
  *    — the all-pairs comparison never materializes.
  */
object VectorOps {

  /** Top-5 cosine neighbors of vec_id=0 — brute force, the correctness
    * baseline for every ANN variant. */
  def cosineTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val q = e.where(col("vec_id") === 0).select(col("embedding").as("qe"))
    e.where(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        Det.r4(CosineSim(col("embedding"), col("qe"))).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(5)
  }

  /** [[cosineTopk]] through the SQL SURFACE: a temp view + the
    * registered `cosine_sim` SQL function (graft.functions.registerAll)
    * — proves `spark.sql` users drive the same codegen kernel and plan
    * as the Column API. Same oracle as q_llm_cosine_topk. */
  def sqlCosineTopk(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.registerAll(spark)
    Tables.embeddings(spark, sfDir)
      .createOrReplaceTempView("graft_embeddings")
    spark.sql(
      """SELECT e.vec_id,
        |       floor(cosine_sim(e.embedding, q.qe) * 10000.0D + 0.5D)
        |         / 10000.0D AS sim
        |FROM graft_embeddings e
        |CROSS JOIN (SELECT embedding AS qe FROM graft_embeddings
        |            WHERE vec_id = 0) q
        |WHERE e.vec_id <> 0
        |ORDER BY sim DESC, vec_id
        |LIMIT 5""".stripMargin)
  }

  /** Per-label centroids (mean vector), exposed for reuse: posexplode →
    * per-(label, dim) mean → re-assembled ordered array. */
  private[graft] def centroids(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("x").cast("double")).as("cx"))
      .groupBy(col("label").as("c_label"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, cx)))," +
        " s -> CAST(s.cx AS FLOAT))").as("cvec"))

  /** Nearest-centroid assignment of every vector (label means as the
    * coarse quantizer), plus per-label agreement counts — exercises
    * array re-aggregation, broadcast argmax, and classification shape.
    * No oracle: multi-stage float; property-tested. */
  def knnLabel(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val sims = e.crossJoin(broadcast(centroids(spark, sfDir)))
      .select(col("vec_id"), col("label"), col("c_label"),
        CosineSim(col("embedding"), col("cvec")).as("sim"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("c_label"))
    sims.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("c_label") === col("label"), 1L).otherwise(0L))
          .as("n_match"))
      .orderBy("label")
  }

  private[graft] val NProbe = 3
  private[graft] val KCells = 10

  /** The k-means coarse quantizer for the IVF index, trained ONCE per
    * session through [[AnnIndex]] (deterministic bounded sample +
    * driver-side Lloyd's — see AnnIndex's scale notes; the distributed
    * per-query Lloyd it replaces retrained on every invocation, the r3
    * perf-weak finding). Kept as the spec-facing API. */
  private[graft] def kmeansCentroids(spark: SparkSession, sfDir: String,
      k: Int = KCells): DataFrame =
    AnnIndex.buildOrGet(spark, sfDir, k, IndexReplicas).cells

  private[graft] val IndexReplicas = 2

  /** IVF-style ANN: probe the SESSION-SHARED materialized index
    * ([[AnnIndex.buildOrGet]] — quantizer + redundant inverted lists,
    * built once, localCheckpointed). Every vector is indexed in its
    * top-[[IndexReplicas]] cells (the standard IVF recall lever when
    * cluster structure is weak, as in this corpus where a query's true
    * top-5 spread over ~5 of 10 cells); the query ranks cells by
    * centroid similarity and brute-forces only the top [[NProbe]] cells'
    * lists. Scan fraction ≈ replicas × nprobe / k — at production k
    * grows with √n (thousands of cells), so the fraction keeps shrinking
    * while this toy k=10 sits at 0.6. Returns the top-5 with the probed
    * cell — compare with [[cosineTopk]] for recall.
    * No oracle: centroid-dependent; property-tested (recall + cell
    * balance + persist/load roundtrip in LlmSpec). */
  def annIvf(spark: SparkSession, sfDir: String): DataFrame = {
    val idx = AnnIndex.buildOrGet(spark, sfDir, KCells, IndexReplicas)
    val q = Tables.embeddings(spark, sfDir)
      .where(col("vec_id") === 0).select(col("embedding").as("qe"))
    AnnIndex.probe(idx, q, NProbe, limit = 5, excludeVecId = Some(0L))
  }

  /** Short-list size for the PQ path's exact re-rank. */
  private[graft] val PqRerank = 50

  /** IVF-PQ ANN: same probe shape as [[annIvf]], but the inverted lists
    * hold m-byte product-quantized CODES (32× smaller payload than the
    * float vectors — what keeps 10^9-vector lists probeable), scored by
    * asymmetric distance and exactly re-ranked over a [[PqRerank]]-row
    * short list fetched from the source table by key. No oracle:
    * centroid/codebook-dependent; property-tested (recall within ε of
    * the flat probe, equality at full rerank, ≥4× on-disk list
    * reduction in LlmSpec). */
  def annPq(spark: SparkSession, sfDir: String): DataFrame = {
    val idx = AnnIndex.buildPqOrGet(spark, sfDir, KCells, IndexReplicas)
    val e = Tables.embeddings(spark, sfDir)
    val q = e.where(col("vec_id") === 0).select(col("embedding").as("qe"))
    AnnIndex.pqProbe(idx, e, q, NProbe, limit = 5, rerank = PqRerank,
      excludeVecId = Some(0L))
  }

  /** IVF-SQ8 ANN — the middle rung of the ANN memory ladder (flat →
    * SQ8 → PQ): 1-byte-per-dim scalar codes give a 4× list-payload
    * reduction while keeping per-dimension resolution, so the ADC
    * ranking tracks the flat ranking far closer than PQ's shared
    * codewords. Same probe shape as [[annPq]]. No oracle
    * (quantizer-dependent); spec'd: full-rerank equality with flat,
    * reconstruction error bounded by scale/2 per dim, 4× payload. */
  def annSq(spark: SparkSession, sfDir: String): DataFrame = {
    val idx = AnnIndex.buildSqOrGet(spark, sfDir, KCells, IndexReplicas)
    val e = Tables.embeddings(spark, sfDir)
    val q = e.where(col("vec_id") === 0).select(col("embedding").as("qe"))
    AnnIndex.sqProbe(idx, e, q, NProbe, limit = 5, rerank = PqRerank,
      excludeVecId = Some(0L))
  }

  /** Inverted-list index with redundant assignment: each vector appears
    * in its `replicas` nearest cells. Cell ranking is aggregated WITHOUT
    * carrying the embedding (collect k (csim, cell) scalars per vector,
    * sort, slice), then one equi-join rehydrates the vector payload —
    * so the shuffled agg state stays tiny at any dimensionality. */
  private[graft] def indexAssignments(e: DataFrame, cents: DataFrame,
      replicas: Int): DataFrame = {
    val ranked = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cell"),
        CosineSim(col("embedding"), col("cvec")).as("csim"))
      .groupBy(col("vec_id"))
      .agg(collect_list(struct(col("csim"), (-col("cell")).as("nc")))
        .as("cs"))
      .select(col("vec_id"),
        explode(expr(s"slice(reverse(array_sort(cs)), 1, $replicas)"))
          .as("s"))
      .select(col("vec_id"), (-col("s.nc")).cast("int").as("cell"))
    ranked.join(e, "vec_id")
      .select(col("vec_id"), col("embedding"), col("cell"))
  }

  /** Nearest-centroid cell per vector (cosine argmax against the
    * broadcast quantizer) — the IVF inverted-list assignment. `max_by`
    * over struct(csim, -cell) keeps this a single-pass hash aggregate
    * (map-side combine; ties break to the lowest cell), instead of a
    * sorting window over the n×k expansion. */
  private[graft] def cellAssignments(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("cell"),
        CosineSim(col("embedding"), col("cvec")).as("csim"))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("cell"), col("embedding")),
        struct(col("csim"), -col("cell"))).as("m"))
      .select(col("vec_id"), col("m.embedding").as("embedding"),
        col("m.cell").as("cell"))

  /** Batch k-NN JOIN through the IVF index — the similarity-join
    * workload (label propagation, near-neighbor feature joins): top-3
    * neighbors for EVERY query vector of a set, not one probe. Both
    * sides are bucketed by cell — queries rank their [[NProbe]] cells
    * against the broadcast quantizer, then one equi-join on `cell`
    * against the shared inverted lists replaces the all-pairs cross
    * join: candidate volume ≈ |Q|·replicas·nprobe/k of the corpus, the
    * shape that survives 10^9×10^6. Per-query top-3 is a window over
    * candidates only. No oracle (centroid-dependent); recall vs brute
    * force spec'd in LlmSpec. */
  def knnJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val idx = AnnIndex.buildOrGet(spark, sfDir, KCells, IndexReplicas)
    val qs = Tables.embeddings(spark, sfDir)
      .where(col("vec_id") < 50)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    AnnIndex.knnJoin(idx, qs, NProbe, k = 3)
      .orderBy("q_id", "rk")
  }

  private val NPlanes = 64
  private val BandBits = 8 // 8 bands × 8 bits

  /** Fixed seed for the sign-LSH hyperplanes (deterministic across runs
    * and executors). The matrix itself regenerates inside
    * [[org.apache.spark.sql.graft.SignLshBandsExpr]] from (seed,
    * nPlanes, dim) with the identical `Random(seed)` gaussian fill the
    * old broadcast planes table used (r18). */
  private val PlaneSeed = 42

  /** How many vectors a single (band, bucket) may hold before it is
    * dropped from candidate generation — the same one-sided cap that
    * bounds the text-LSH pair fanout (TextOps hot-bucket cap): an
    * uncapped bucket emits O(size²) pairs, and bucket occupancy grows
    * linearly with the corpus, which is exactly the quadratic path a
    * 10× soak exposed here (38× cost at 10× vectors before this cap). */
  private val NeardupBucketCap = 64

  /** Embedding near-duplicate pairs via sign-LSH: 64-bit signatures
    * from random hyperplanes, banded 8×8 for candidate generation,
    * exact cosine verification at threshold 0.45. No oracle (the sign
    * of an ~1e-16 dot product is hash-seed physics); precision
    * property-tested against brute force (every reported pair IS a
    * ≥0.45 pair).
    *
    * The signature is computed as `posexplode(embedding) ⋈ broadcast
    * planes-table → per-(vec, plane) dot → per-(vec, band) byte`:
    * linear in vectors × planes, codegen-friendly (no thousand-node
    * expression tree), and the same plan shape scales to 10^9 vectors.
    * Candidate volume is bounded two ways: 8-bit bands keep expected
    * bucket occupancy at n/256 per band (vs n/16 for the old 4-bit
    * bands — measured 48 s at 20k vectors), and [[NeardupBucketCap]]
    * drops the degenerate buckets a near-duplicate *cluster* floods
    * (the LSH hot-bucket discipline: those vectors are boilerplate
    * mass for [[embedDiversity]]/k-means to summarize, not a pair
    * list to enumerate). In the near-dup regime (cos ≥ 0.9) an 8-bit
    * band still collides with p = (1 − θ/π)⁸ ≈ 0.29, so 8 bands give
    * ≈ 94% recall; toward the 0.45 tail the operator is a candidate
    * generator, not an exhaustive join — the documented contract, and
    * a SPEC'D one: LlmSpec plants fixtures in both regimes and checks
    * measured recall against the s-curve expectation
    * 1 − (1 − (1 − θ/π)⁸)⁸ per planted pair (deterministic — the
    * planes are fixed-seed), not just precision. */
  def embedNeardup(spark: SparkSession, sfDir: String): DataFrame =
    embedNeardupFrom(spark, Tables.embeddings(spark, sfDir))

  /** [[embedNeardup]] over an explicit (vec_id, embedding) relation —
    * factored so the recall spec can drive the identical plan with a
    * planted near-threshold fixture. */
  private[graft] def embedNeardupFrom(spark: SparkSession,
      e0: DataFrame): DataFrame =
    lshVerifiedPairs(spark, e0, 0.45)
      .orderBy(col("cos").desc, col("a_id"), col("b_id"))

  /** The shared LSH candidate-generate + exact-verify kernel behind
    * [[embedNeardupFrom]] and [[densityDedup]]: sign-LSH banded
    * buckets (hot-bucket capped), equi-join collisions, exact cosine
    * at `minCos`. Returns unordered (a_id, b_id, cos). */
  private[graft] def lshVerifiedPairs(spark: SparkSession,
      e0: DataFrame, minCos: Double): DataFrame = {
    val e = e0
    // r18: the signature build collapsed into ONE codegen kernel
    // (SignLshBandsExpr) — the prior posexplode ⋈ broadcast(planes) →
    // (vec, plane) dot agg → (vec, band) byte agg pipeline paid an N·d
    // row explode, an N·d·P joined-row stream and TWO aggregation
    // exchanges per build; this is a map-only pass emitting the same
    // (vec_id, band, bh) rows BIT-EXACTLY (per-plane dots accumulate in
    // ascending element order — the explode form's map-side partial
    // order; empty embeddings vanish; strict dot > 0 sign).
    val buckets = e
      .select(col("vec_id"),
        posexplode(org.apache.spark.sql.graft.SignLshBandsExpr(
          col("embedding"), PlaneSeed, NPlanes, 64, BandBits))
          .as(Seq("band", "bh")))
      // NO repartition guard here (audited r16): every consumer of this
      // checkpoint re-shuffles (hot-list groupBy, the bucket equi-join,
      // the verify joins), so the O(size^2) bucket fan-out runs in the
      // join's reduce tasks at full width — the frozen 1-2-partition map
      // side only streams the small bucket table. An added repartition
      // measured +1.1 s on q_llm_embed_neardup at sf0.1 for no sf1 gain.
      .localCheckpoint(eager = false) // reused by the hot list + join
    val hot = buckets.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("c")).where(col("c") > NeardupBucketCap)
      .select(col("band"), col("bh"))
    val kept = buckets.join(broadcast(hot), Seq("band", "bh"), "left_anti")
    val emb = e.select(col("vec_id"), col("embedding"))
    val cands = kept.select(col("vec_id").as("a_id"), col("band"), col("bh"))
      .join(kept.select(col("vec_id").as("b_id"), col("band"), col("bh")),
        Seq("band", "bh"))
      .where(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    cands
      .join(emb.toDF("a_id", "ea"), "a_id")
      .join(emb.toDF("b_id", "eb"), "b_id")
      .select(col("a_id"), col("b_id"),
        Det.r4(CosineSim(col("ea"), col("eb"))).as("cos"))
      .where(col("cos") >= minCos)
  }

  /** HDBSCAN-ish DENSITY DEDUP over the embedding cloud (SURVEY §8.4;
    * Campello/Moulavi/Sander 2013's core-point idea composed from the
    * machinery already here, never all-pairs): a vector is a CORE
    * point when at least `minPts` neighbors sit at cosine ≥ `eps`
    * (the k-th-NN core-distance test read through the LSH-verified
    * candidate graph); clusters are connected components over the
    * core–core edges ([[DupCluster.resolve]] — driver union-find at
    * bounded edge counts, distributed min-label propagation past it);
    * BORDER points (non-core with a core neighbor) attach to their
    * minimum-label core neighbor, density-reachable exactly as
    * published. Everything reuses the banded sign-LSH kernel, so
    * candidate volume keeps the hot-bucket-capped linear bound the
    * r10 soak enforced. NO ORACLE (hash-seed physics, the declared
    * ANN class) — spec'd on a planted dense clump + loose pair +
    * noise, each classified exactly as HDBSCAN would.
    *
    * The query runs over the corpus plus a 12-vector deterministic
    * planted clump (fixed-seed, ids offset at 2e9) — the media-clone
    * fixture discipline: the natural corpus carries no guaranteed
    * dense region at every SF, and a dedup query that can pass on
    * emptiness is the r14 hazard class. Output: one row per cluster
    * (label = canonical kept id, core/border/member/drop counts). */
  def densityDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val clump = broadcast({
      val rnd = new scala.util.Random(7)
      val base = Array.fill(64)(rnd.nextGaussian())
      (0 until 12).map { i =>
        val v = base.map(x => (x + 0.02 * rnd.nextGaussian()).toFloat)
        (2000000000L + i, v, -1)
      }
    }.toDF("vec_id", "embedding", "label"))
    val e0 = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"), col("label"))
      .unionByName(clump)
    densityDedupFrom(spark, e0)
  }

  /** Core set + core-component labels over a verified pair list — the
    * kernel shared by [[densityDedupFrom]] and [[densityStability]]:
    * degree ≥ minPts ⇒ CORE, components over core–core edges via
    * [[DupCluster.resolve]], isolated cores (the hub-and-spoke shape —
    * every qualifying neighbor non-core, so no core–core edge exists;
    * r15 ADVICE) self-labeled. Returns (ends, labels): the symmetric
    * neighbor list and one (id, label) row per CORE id. */
  private def coreLabels(pairs0: DataFrame, minPts: Int)
      : (DataFrame, DataFrame) = {
    val pairs = pairs0
      .localCheckpoint(eager = false) // degree pass + edge passes
    val ends = pairs.select(col("a_id").as("id"), col("b_id").as("nb"))
      .unionByName(pairs.select(col("b_id").as("id"), col("a_id").as("nb")))
      .localCheckpoint(eager = false) // degree + border attach
    val core = ends.groupBy(col("id"))
      .agg(count(lit(1)).as("deg"))
      .where(col("deg") >= minPts.toLong)
      .select(col("id"))
      .localCheckpoint(eager = false) // three joins below
    val coreEdges = pairs
      .join(core.toDF("a_id"), "a_id")
      .join(core.toDF("b_id"), "b_id")
      .select(col("a_id"), col("b_id"))
    val resolved = DupCluster.resolve(coreEdges) // (id, label), min-id label
      .localCheckpoint(eager = false) // referenced twice in the union below
    val labels = resolved
      .unionByName(core
        .join(resolved.select(col("id")), Seq("id"), "left_anti")
        .select(col("id"), col("id").as("label")))
      .localCheckpoint(eager = false) // member + border passes
    (ends, labels)
  }

  /** [[densityDedup]] over an explicit relation (spec entry point). */
  private[graft] def densityDedupFrom(spark: SparkSession, e0: DataFrame,
      minPts: Int = 4, eps: Double = 0.80): DataFrame = {
    val (ends, labels) = coreLabels(lshVerifiedPairs(spark, e0, eps),
      minPts)
    val core = labels.select(col("id"))
    val borders = ends
      .join(core.toDF("nb"), "nb") // neighbor is core
      .join(labels.toDF("nb", "label"), "nb")
      .join(core.withColumnRenamed("id", "idc"), col("id") === col("idc"),
        "left_anti") // self is NOT core
      .groupBy(col("id"))
      .agg(min(col("label")).as("label")) // attach to min-label reach
    val members = labels.select(col("id"), col("label"), lit(1L).as("is_core"))
      .unionByName(borders.select(col("id"), col("label"),
        lit(0L).as("is_core")))
    members.groupBy(col("label"))
      .agg(sum(col("is_core")).as("n_core"),
        sum(lit(1L) - col("is_core")).as("n_border"),
        count(lit(1)).as("n_members"))
      .select(col("label").as("keep_id"), col("n_core"), col("n_border"),
        col("n_members"), (col("n_members") - 1L).as("n_drop"))
      .orderBy("keep_id")
  }

  /** HDBSCAN CLUSTER-STABILITY SCORES (condensed-tree lite) over the
    * [[densityDedup]] components — the published selection criterion
    * the fixed-eps cut lacks (Campello et al. 2013 rank clusters by
    * PERSISTENCE across the density ladder; a cluster that evaporates
    * one notch tighter is noise that happened to connect). One LSH
    * candidate pass at the LOOSEST level serves the whole ladder (the
    * banded buckets and the hot-bucket cap are threshold-independent;
    * only the exact-cosine cut moves), so the 0.80 cut reproduces
    * [[densityDedup]]'s graph bit-for-bit. Monotonicity does the tree
    * bookkeeping: edges(0.85) ⊆ edges(0.80) ⊆ edges(0.75), so every
    * tight core is a base core and tight components NEST inside base
    * components — each tight fragment maps to exactly one base
    * cluster by any member's base label, no anchor point needed.
    * Per base cluster: surviving-core count one notch tighter, the
    * tight fragment count (> 1 = the cluster splits), the number of
    * base-cluster peers it merges with one notch looser, and
    * stability = (n_core + surv_tight) / (2·n_core) ∈ [0.5, 1] — 1.0
    * means every core survives the tightening (a true near-dup clump:
    * the planted fixture must score it). NO ORACLE (LSH seed physics)
    * — spec'd against a driver walk of the same collected pair list. */
  def densityStability(spark: SparkSession, sfDir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val clump = broadcast({
      val rnd = new scala.util.Random(7)
      val base = Array.fill(64)(rnd.nextGaussian())
      (0 until 12).map { i =>
        val v = base.map(x => (x + 0.02 * rnd.nextGaussian()).toFloat)
        (2000000000L + i, v, -1)
      }
    }.toDF("vec_id", "embedding", "label"))
    val e0 = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"), col("label"))
      .unionByName(clump)
    densityStabilityFrom(spark, e0)
  }

  /** [[densityStability]] over an explicit relation (spec entry). */
  private[graft] def densityStabilityFrom(spark: SparkSession,
      e0: DataFrame, minPts: Int = 4): DataFrame = {
    val ladder = (0.75, 0.80, 0.85) // loose, base (= densityDedup), tight
    // keep the cached small pair list at cluster parallelism: it feeds
    // the degree pass + the edge-flag join (the r15 AQE-coalesce lesson)
    val pairsLoose = lshVerifiedPairs(spark, e0, ladder._1)
      .repartition(spark.sparkContext.defaultParallelism, col("a_id"))
      .localCheckpoint(eager = false) // cut at all three ladder levels
    // r17: ONE symmetric degree pass serves all three ladder cuts (was
    // three independent coreLabels chains — 3 unions, 3 degree
    // aggregates, 6 core joins, 3 resolve collects over nested edge
    // sets). Degrees are monotone in the cut (deg_T ≤ deg_B ≤ deg_L),
    // so core sets nest and filtering to loose cores loses nothing.
    val degs = pairsLoose.select(col("a_id").as("id"), col("cos"))
      .unionByName(pairsLoose.select(col("b_id").as("id"), col("cos")))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("degL"),
        sum(when(col("cos") >= ladder._2, 1L).otherwise(0L)).as("degB"),
        sum(when(col("cos") >= ladder._3, 1L).otherwise(0L)).as("degT"))
      .where(col("degL") >= minPts.toLong)
      .select(col("id"), (col("degB") >= minPts.toLong).as("coreB"),
        (col("degT") >= minPts.toLong).as("coreT"))
      .localCheckpoint(eager = false) // edge flags + isolated-core fills
    // per-edge core-edge flags at each cut: the inner joins keep only
    // loose-core endpoints (an edge with a non-loose-core end cannot be
    // a core edge at ANY cut), eB/eT mark the nested subsets
    val flagged = pairsLoose
      .join(degs.select(col("id").as("a_id"), col("coreB").as("cbA"),
        col("coreT").as("ctA")), "a_id")
      .join(degs.select(col("id").as("b_id"), col("coreB").as("cbB"),
        col("coreT").as("ctB")), "b_id")
      .select(col("a_id"), col("b_id"),
        (col("cos") >= ladder._2 && col("cbA") && col("cbB")).as("eB"),
        (col("cos") >= ladder._3 && col("ctA") && col("ctB")).as("eT"))
    val (rL, rB, rT) = DupCluster.resolveLadder(flagged)
    // isolated cores self-label (hub-and-spoke — every qualifying
    // neighbor non-core at that cut, so no core–core edge; r15 ADVICE)
    def withIsolated(resolved: DataFrame, coreIds: DataFrame): DataFrame =
      resolved.unionByName(coreIds
        .join(resolved.select(col("id")), Seq("id"), "left_anti")
        .select(col("id"), col("id").as("label")))
    val labelsL = withIsolated(rL, degs.select(col("id")))
    val labelsB = withIsolated(rB, degs.where(col("coreB")).select(col("id")))
    val labelsT = withIsolated(rT, degs.where(col("coreT")).select(col("id")))
    val base = labelsB.toDF("id", "label")
      .localCheckpoint(eager = false) // three mapping joins below
    val sizes = base.groupBy(col("label")).agg(count(lit(1)).as("n_core"))
    // tight fragments nest inside base clusters: map each surviving
    // core through its base label
    val tight = base.join(labelsT.toDF("id", "lt"), "id")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("surv_tight"),
        countDistinct(col("lt")).as("n_sub_tight"))
    // loose merge: each base cluster sits in exactly one loose
    // component (its members are loose cores); peers = other base
    // clusters sharing it
    val looseOf = base.join(labelsL.toDF("id", "ll"), "id")
      .select(col("label"), col("ll")).distinct()
    val peers = looseOf
      .join(looseOf.toDF("label2", "ll"), "ll")
      .groupBy(col("label"))
      .agg((count(lit(1)) - 1L).as("n_peers_loose"))
    def d(e: org.apache.spark.sql.Column) = e.cast("double")
    sizes
      .join(tight, Seq("label"), "left")
      .join(peers, Seq("label"), "left")
      .na.fill(0L, Seq("surv_tight", "n_sub_tight", "n_peers_loose"))
      .select(col("label").as("keep_id"), col("n_core"),
        col("surv_tight"), col("n_sub_tight"), col("n_peers_loose"),
        Det.r4((d(col("n_core")) + d(col("surv_tight"))) /
          (lit(2.0) * d(col("n_core")))).as("stability"))
      .orderBy("keep_id")
  }

  /** Embedding-space diversity per label via the CENTROID TRICK: the
    * mean pairwise cosine of n unit vectors is (‖Σu‖² − n)/(n(n−1)) —
    * an O(n·d) computation of an O(n²·d) statistic, the only form that
    * survives 10^9 vectors. The curation use: a label (cluster/domain)
    * whose mean pairwise cosine approaches 1 is near-duplicate mass; a
    * healthy diverse slice sits near 0. Per-dimension sums are partial
    * map-side aggregates — the shuffle carries (label × d) rows, never
    * vectors. */
  def embedDiversity(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val flat = e
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("vec_id"), col("label"), col("d"),
        col("x").cast("double").as("x"))
    val norms = flat.groupBy(col("vec_id"))
      .agg(sum(col("x") * col("x")).as("ss"))
    val sd = flat.join(norms, "vec_id")
      .select(col("label"), col("d"), (col("x") / sqrt(col("ss"))).as("u"))
      .groupBy(col("label"), col("d"))
      .agg(sum(col("u")).as("sd"))
    val cnt = e.groupBy(col("label")).agg(count(lit(1)).as("n"))
    sd.groupBy(col("label")).agg(sum(col("sd") * col("sd")).as("ssq"))
      .join(cnt, "label")
      .select(col("label"), col("n"),
        Det.r4((col("ssq") - col("n")) / (col("n") * (col("n") - lit(1))))
          .as("mean_pairwise_cos"))
      .orderBy("label")
  }

  /** IVF index HEALTH report — the list-balance statistics an operator
    * watches before trusting probe latency at scale: populated vs
    * declared cells, entry counts, min/avg/max list size and the
    * imbalance factor (max/avg — a skewed quantizer makes worst-case
    * probes read far more than k/nprobe of the corpus; ~1 means
    * balanced). Two tiny aggregates over the materialized lists table
    * (one per-cell, one global), crossJoined 1-row × 1-row. No oracle:
    * list contents are centroid-dependent (kmeans); invariants are
    * spec'd (entries = vectors × replicas, coverage exact, bounds). */
  def ivfHealth(spark: SparkSession, sfDir: String): DataFrame = {
    val idx = AnnIndex.buildOrGet(spark, sfDir, KCells, IndexReplicas)
    val perCell = idx.lists.groupBy(col("cell"))
      .agg(count(lit(1)).as("sz"))
    val avgSz = sum(col("sz")).cast("double") / count(lit(1))
    val global = idx.lists
      .agg(countDistinct(col("vec_id")).as("n_vectors"))
    perCell.agg(
        lit(KCells.toLong).as("k"),
        count(lit(1)).as("populated_cells"),
        (lit(KCells.toLong) - count(lit(1))).as("empty_cells"),
        sum(col("sz")).as("n_entries"),
        min(col("sz")).as("min_list"),
        max(col("sz")).as("max_list"),
        Det.r4(avgSz).as("avg_list"),
        Det.r4(max(col("sz")).cast("double") / avgSz).as("imbalance"))
      .crossJoin(global)
  }

  private val KmeansK = 4
  private val KmeansIters = 3
  /** Fixed-point quantum for the oracle-exact k-means: floor(v·10¹²) is a
    * BIGINT in both engines with NO rounding-mode dependence (unlike a
    * double→DECIMAL cast, whose half-boundary dialects differ). Bounds at
    * sf0.1: |x|≤0.6 ⇒ per-(cl,dim) mean numerator ≤ 2000·6e11 < 2⁵³ (the
    * sum→double conversion stays exact); per-vector dist ≤ 64·1.44e12 and
    * the inertia sum < 2⁶³ (int64→double is IEEE round-to-nearest, same
    * bits both engines). At 100 TB scale the same design needs a smaller
    * quantum or a two-level sum — documented, not silently assumed. */
  private val Quantum = 1.0e12

  /** DISTRIBUTED K-MEANS (Lloyd's) over the full embedding corpus —
    * clustering-based curation at corpus scale, where the driver-sample
    * kmeans that trains [[AnnIndex]]'s IVF quantizer does not suffice.
    * Everything stays in (cluster, dim, value) LONG FORM: assignment is
    * a broadcast join on dim + one partial aggregate per (vec, cluster);
    * the update is one aggregate per (cluster, dim). No vector ever
    * crosses the shuffle — only quantized per-dim partials — and the
    * centroid table (k·d rows) broadcasts each round.
    *
    * ORACLE-EXACT, which published distributed k-means never is: every
    * accumulation is an exact BIGINT sum of floor-quantized values
    * (order-independent), assignment ties break to the lowest cluster
    * id on exact integers, and seeds are the K lowest vec_ids — so 3
    * unrolled Lloyd's rounds in DuckDB reproduce the Spark clustering
    * bit-for-bit. Lazy checkpoints bound the iterated plan (the
    * Pipeline stage-cache pattern). */
  def kmeansClusters(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = lit(Quantum)
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
      .localCheckpoint(eager = false) // per-round assignment map pass
    val flat = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("vec_id"), col("dim"), col("xf").cast("double").as("x"))
      .localCheckpoint(eager = false) // seed centroids + mean updates
    val seeds = emb
      .select(col("vec_id")).orderBy(col("vec_id")).limit(KmeansK)
      .withColumn("cl",
        (row_number().over(Window.orderBy(col("vec_id"))) - 1).cast("long"))
    var cent = flat.join(broadcast(seeds), "vec_id")
      .select(col("cl"), col("dim"), col("x").as("c"))
    var assign: DataFrame = null
    for (_ <- 1 to KmeansIters) {
      // r18: the centroid table is k·d = 256 doubles — MODEL-SIZED by
      // construction — so each round collects it and bakes it into ONE
      // codegen assignment kernel (KmeansAssignExpr) over the raw
      // embeddings: a map-only pass replacing the posexplode ⋈
      // broadcast(cent) fan-out (N·d·k joined rows), its (vec, cl)
      // distance aggregate AND the per-vec argmin window. The kernel
      // floors every (x−c)²·q term before its exact LONG sum and
      // tie-breaks to the lowest cluster id — bit-identical to the
      // aggregate+window it replaces (the DuckDB oracle re-proves it).
      assign = kmeansAssign(emb, cent, KmeansK)
        .localCheckpoint(eager = false)
      cent = assign.join(flat, "vec_id")
        .groupBy(col("cl"), col("dim"))
        .agg((sum(floor(col("x") * q)).cast("double") /
          (count(lit(1)) * q)).as("c"))
    }
    assign.groupBy(col("cl"))
      .agg(count(lit(1)).as("n"),
        Det.r4(sum(col("dist")).cast("double") / q).as("inertia"))
      .orderBy("cl")
  }

  /** One assignment round of [[kmeansClusters]]: collects the long-form
    * centroid table `cent` (cl, dim, c) and assigns every `emb`
    * (vec_id, embedding) row to its nearest cluster in one
    * KmeansAssignExpr pass → (vec_id, cl, dist). Mirrors the long-form
    * `flat ⋈ cent USING (dim)` round of the oracle: a (cl, dim) cell with
    * no row or a NULL centroid adds no term, a cluster with no non-NULL
    * cell is no candidate (it never joins), and the dimension is the
    * table's own (embedding elements beyond it drop). */
  private[graft] def kmeansAssign(emb: DataFrame, cent: DataFrame,
      k: Int): DataFrame = {
    val cRows = cent.collect()
    val dim = if (cRows.isEmpty) 0 else cRows.map(_.getInt(1)).max + 1
    val cArr = new Array[Double](k * dim)
    val live = new Array[Boolean](k * dim)
    cRows.foreach { r =>
      if (!r.isNullAt(2)) {
        val cell = r.getLong(0).toInt * dim + r.getInt(1)
        cArr(cell) = r.getDouble(2)
        live(cell) = true
      }
    }
    emb
      .select(col("vec_id"),
        org.apache.spark.sql.graft.KmeansAssignExpr(
          col("embedding"), cArr.toSeq, live.toSeq, k, dim, Quantum).as("a"))
      .where(col("a").isNotNull)
      .select(col("vec_id"), col("a").getItem(0).as("cl"),
        col("a").getItem(1).as("dist"))
  }

  private val KmParMaxIters = 12
  private val KmParOversample = 8 // candidate centers added per seed round
  private val KmParSeedRounds = 3

  /** CONVERGENCE-DRIVEN K-MEANS‖ — the production twin of the
    * fixed-round oracle [[kmeansClusters]] (SURVEY §8 item 3). Two
    * differences from the oracle query:
    *
    *  1. k-means‖ seeding (Bahmani et al., VLDB'12) instead of
    *     lowest-id seeds: [[KmParSeedRounds]] distributed rounds each
    *     add the [[KmParOversample]] points FARTHEST from the current
    *     candidate set (deterministic top-l by exact quantized distance
    *     with vec_id tiebreak — the derandomized form of d²-sampling),
    *     then the ≤ 25 weighted candidates are reduced to K centers by
    *     a driver-side weighted Lloyd pass (the candidate set is tiny
    *     and BOUNDED by construction, so driver state is O(l·rounds·d),
    *     independent of corpus size — cluster-safe).
    *  2. Lloyd's iterates UNTIL ASSIGNMENTS STABILIZE: stop when the
    *     flip count drops to ≤ 1% of the corpus (capped at
    *     [[KmParMaxIters]]). The probe is one scalar count of flips vs
    *     the previous round — a driver-side scalar per round, never
    *     data. Exact-zero is NOT the criterion on purpose: the
    *     floor-quantized centroid update is not the exact minimizer of
    *     the quantized objective, so a handful of boundary points can
    *     limit-cycle forever (measured: flips 60→38→20→12→5→3→4→3…
    *     at sf0.01) — the fraction threshold is the standard production
    *     stop for exactly this reason.
    *
    * Same exact-BIGINT quantized accumulation as the oracle twin, so the
    * two objectives are directly comparable; the spec asserts this
    * converges under the cap and lands at a ≤ objective than 3 fixed
    * rounds from naive seeds (measured 478.50 vs 481.60 at sf0.01).
    * SPEC-GATED, not a bench/oracle query, by design: the iteration
    * count is data-dependent (no fixed-depth SQL unrolling expresses
    * it) and each round is a driver-synchronized action, so its wall
    * time measures the convergence path of the data, not engine speed. */
  def kmeansConvergedPar(spark: SparkSession, sfDir: String): DataFrame = {
    val (assign, rounds) =
      kmeansConvergedAssignFrom(spark, Tables.embeddings(spark, sfDir))
    assign.groupBy(col("cl"))
      .agg(count(lit(1)).as("n"),
        Det.r4(sum(col("dist")).cast("double") / lit(Quantum)).as("inertia"))
      .withColumn("rounds", lit(rounds))
      .orderBy("cl")
  }

  /** The assignment-level form of [[kmeansConvergedPar]] over an
    * explicit (vec_id, embedding) relation: returns the converged
    * (vec_id, cl, dist) assignment plus the round count — factored so
    * [[semDedupClusteredFrom]] can bucket by cluster id and specs can
    * drive crafted fixtures through the identical clustering plan. */
  private[graft] def kmeansConvergedAssignFrom(spark: SparkSession,
      e0raw: DataFrame, k: Int = KmeansK): (DataFrame, Long) = {
    // k-means|| sizing: the seed rounds must yield >= k distinct
    // candidates, so oversample scales with the requested k (the
    // standard l ~ 2k total) while the default stays the spec'd 8
    val oversample = math.max(KmParOversample,
      math.ceil(2.0 * k / KmParSeedRounds).toInt)
    val e0 = e0raw.select(col("vec_id"), col("embedding"))
      .localCheckpoint(eager = false) // flat + seed + count consumers
    val q = lit(Quantum)
    val flat = e0
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("vec_id"), col("dim"), col("xf").cast("double").as("x"))
      .localCheckpoint(eager = false)

    // --- k-means|| seeding ---------------------------------------------
    val first = e0.agg(min(col("vec_id"))).head.getLong(0)
    var candIds: Seq[Long] = Seq(first)
    for (_ <- 1 to KmParSeedRounds) {
      val cand = flat.where(col("vec_id").isin(candIds: _*))
        .select(col("vec_id").as("cand"), col("dim"), col("x").as("c"))
      val farthest = flat.join(broadcast(cand), "dim")
        .groupBy(col("vec_id"), col("cand"))
        .agg(sum(floor(((col("x") - col("c")) * (col("x") - col("c"))) * q))
          .as("dist"))
        .groupBy(col("vec_id")).agg(min(col("dist")).as("mind"))
        .where(!col("vec_id").isin(candIds: _*))
        .orderBy(col("mind").desc, col("vec_id"))
        .limit(oversample)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
      candIds = candIds ++ farthest
    }
    // weight candidates by how many points they currently own, pull the
    // (tiny) weighted candidate vectors to the driver, reduce to K
    val candTbl = flat.where(col("vec_id").isin(candIds: _*))
      .select(col("vec_id").as("cand"), col("dim"), col("x").as("c"))
    val owns = flat.join(broadcast(candTbl), "dim")
      .groupBy(col("vec_id"), col("cand"))
      .agg(sum(floor(((col("x") - col("c")) * (col("x") - col("c"))) * q))
        .as("dist"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("dist"), col("cand"))))
      .where(col("rn") === 1)
      .groupBy(col("cand")).agg(count(lit(1)).as("w"))
    val weights = owns.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val candVecs: Map[Long, Array[Double]] = flat
      .where(col("vec_id").isin(candIds: _*))
      .orderBy(col("vec_id"), col("dim"))
      .collect().groupBy(_.getLong(0))
      .map { case (id, rows) => id -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)) }
    val seeds = driverWeightedLloyd(
      candIds.sorted.map(id =>
        (candVecs(id), weights.getOrElse(id, 1L).toDouble)), k)
    val seedRows = seeds.zipWithIndex.flatMap { case (v, cl) =>
      v.zipWithIndex.map { case (c, dim) => (cl.toLong, dim, c) }
    }
    import spark.implicits._
    var cent = seedRows.toDF("cl", "dim", "c")

    // --- Lloyd's to convergence ----------------------------------------
    val n = e0.count()
    val stopAt = math.max(1L, n / 100) // ≤1% of points still flipping
    var prev: DataFrame = null
    var assign: DataFrame = null
    var rounds = 0
    var changed = Long.MaxValue
    while (changed > stopAt && rounds < KmParMaxIters) {
      val aW = Window.partitionBy(col("vec_id"))
        .orderBy(col("dist"), col("cl"))
      assign = flat.join(broadcast(cent), "dim")
        .groupBy(col("vec_id"), col("cl"))
        .agg(sum(floor(((col("x") - col("c")) * (col("x") - col("c"))) * q))
          .as("dist"))
        .withColumn("rn", row_number().over(aW))
        .where(col("rn") === 1)
        .select(col("vec_id"), col("cl"), col("dist"))
        .localCheckpoint(eager = false)
      changed =
        if (prev == null) Long.MaxValue
        else assign.join(
            prev.select(col("vec_id"), col("cl").as("cl_prev")), "vec_id")
          .where(col("cl") =!= col("cl_prev")).count()
      prev = assign
      rounds += 1
      if (changed > stopAt)
        cent = assign.join(flat, "vec_id")
          .groupBy(col("cl"), col("dim"))
          .agg((sum(floor(col("x") * q)).cast("double") /
            (count(lit(1)) * q)).as("c"))
          .localCheckpoint(eager = false)
    }
    (assign, rounds.toLong)
  }

  /** Weighted Lloyd's over the ≤ l·rounds candidate points (driver-side,
    * bounded input): k-means++-style farthest-first pick of K starts,
    * then iterate to a fixed point. Deterministic — ties break to the
    * earlier candidate. */
  private def driverWeightedLloyd(
      pts: Seq[(Array[Double], Double)], k: Int): Seq[Array[Double]] = {
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    var centers = Vector(pts.head._1)
    while (centers.size < k) {
      // only points strictly away from every chosen center are eligible:
      // a zero-distance (coincident/duplicate) candidate would silently
      // duplicate a center and yield < k effective clusters downstream
      val eligible = pts.filter { case (v, _) =>
        centers.forall(c => d2(v, c) > 0.0)
      }
      require(eligible.nonEmpty,
        s"driverWeightedLloyd: only ${centers.size} distinct candidate " +
          s"points but k=$k centers requested")
      val next = eligible.maxBy { case (v, w) =>
        centers.map(c => d2(v, c)).min * w
      }
      centers = centers :+ next._1
    }
    var stable = false
    var guard = 0
    while (!stable && guard < 50) {
      val assigned = pts.groupBy { case (v, _) =>
        centers.indices.minBy(i => (d2(v, centers(i)), i))
      }
      val updated = centers.indices.map { i =>
        assigned.get(i) match {
          case Some(group) =>
            val w = group.map(_._2).sum
            val acc = new Array[Double](centers(0).length)
            group.foreach { case (v, vw) =>
              var j = 0; while (j < v.length) { acc(j) += v(j) * vw; j += 1 }
            }
            acc.map(_ / w)
          case None => centers(i)
        }
      }.toVector
      stable = updated.zip(centers).forall { case (a, b) =>
        a.sameElements(b)
      }
      centers = updated
      guard += 1
    }
    centers
  }

  /** The recall-vs-nprobe TRADEOFF TABLE as a declared read — the
    * calibration artifact an operator consults before setting the
    * serving nprobe: recall@3 against the exhaustive probe for each
    * candidate, with the chosen (smallest ≥ 0.9 target) row flagged.
    * Declared no-oracle (approximate, engine-bound); invariants
    * (monotone recall, all-cells exact, minimal choice) are spec'd via
    * [[AnnIndex.tuneNprobe]]. */
  def nprobeTradeoff(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val idx = AnnIndex.buildOrGet(spark, sfDir, KCells, IndexReplicas)
    val qs = Tables.embeddings(spark, sfDir).where(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val (chosen, table) =
      AnnIndex.tuneNprobe(idx, qs, k = 3, targetRecall = 0.9,
        candidates = Seq(1, 2, 4, KCells))
    table.map { case (np, rec) => (np.toLong, rec, np == chosen) }
      .toDF("nprobe", "recall", "chosen")
      .orderBy("nprobe")
  }

  /** Matryoshka-truncation tradeoff (Kusupati et al., NeurIPS'22): the
    * "how many leading dims can retrieval drop" calibration read — for
    * each prefix length, exact top-10 by truncated cosine against the
    * full-dim truth, recall + the proportional FLOP cost. Prefixes are
    * `slice` projections (map-side); each pass is one broadcast
    * crossJoin of the 16-query panel (k-row side, never corpus ×
    * corpus) + one per-query TakeOrdered-sized window. The query panel
    * and corpus checkpoint ONCE lazily — four prefix passes union over
    * the same materialization, not four scans (the union-CSE hazard).
    * No oracle: float similarity ranking is engine-side by design;
    * LlmSpec asserts recall(full)=1 and monotone degradation. */
  def mrlTradeoff(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).localCheckpoint(eager = false)
    val qs = e.where(col("vec_id") < 16)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val corpus = e.where(col("vec_id") >= 16)
    val dims = Seq(64, 32, 16, 8)
    val ranked = dims.map { d =>
      corpus.select(col("vec_id"), slice(col("embedding"), 1, d).as("v"))
        .crossJoin(broadcast(qs.select(col("q_id"),
          slice(col("qe"), 1, d).as("qv"))))
        .select(col("q_id"), col("vec_id"),
          graft.functions.CosineSim(col("v"), col("qv")).as("sim"))
        .withColumn("rk", row_number().over(Window.partitionBy("q_id")
          .orderBy(col("sim").desc, col("vec_id"))))
        .where(col("rk") <= 10)
        .select(lit(d).as("dims"), col("q_id"), col("vec_id"))
    }.reduce(_ unionByName _)
      // referenced twice below (as itself and as the truth side): pin it
      // or the 4-pass union executes twice
      .localCheckpoint(eager = false)
    val truth = ranked.where(col("dims") === 64)
      .select(col("q_id"), col("vec_id"))
    ranked.join(truth, Seq("q_id", "vec_id"), "left_semi")
      .groupBy(col("dims").cast("long").as("dims"))
      .agg(countDistinct(col("q_id")).as("n_queries"),
        count(lit(1)).as("hits"))
      .select(col("dims"), col("n_queries"),
        graft.util.Det.r4(col("hits").cast("double") /
          (col("n_queries") * lit(10)).cast("double")).as("recall"),
        graft.util.Det.r4(col("dims").cast("double") / lit(64.0))
          .as("flop_ratio"))
      .orderBy(col("dims").desc)
  }

  /** EMBEDDING DRIFT MONITOR — the feed-health read for a vector
    * pipeline: split the corpus into two cohorts (vec_id parity — at
    * production, yesterday/today partitions) and report the cosine
    * between their CENTROIDS. Oracle-exact by the quantized-sum
    * discipline: each float quantizes to floor(v·10⁶) BIGINT, per-dim
    * cohort sums are exact, and since cosine is scale-invariant the
    * count divisions cancel — cos = Σs₀s₁ / (√Σs₀² · √Σs₁²) over
    * exact DECIMAL(19,0)-product sums, one shared-text IEEE
    * sqrt/mul/div at the end. Everything reduces to 64 dim rows after
    * one explode-aggregate; a drifting feed shows up as the cosine
    * falling from ~1. */
  def embedDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val sums = Tables.embeddings(spark, sfDir)
      .select((col("vec_id") % 2).as("h"), posexplode(col("embedding")))
      .select(col("h"), col("pos").as("dim"),
        expr("CAST(floor(CAST(col AS DOUBLE) * 1000000.0D) AS BIGINT)")
          .as("q"))
      .groupBy(col("h"), col("dim")).agg(sum(col("q")).as("s"))
      .localCheckpoint(eager = false) // 2·dims rows, read by both halves
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
    val cos = sums.where(col("h") === 0)
      .select(col("dim"), col("s").as("s0"))
      .join(sums.where(col("h") === 1)
        .select(col("dim"), col("s").as("s1")), "dim")
      .agg(sum(dec(col("s0")) * dec(col("s1"))).as("sab"),
        sum(dec(col("s0")) * dec(col("s0"))).as("saa"),
        sum(dec(col("s1")) * dec(col("s1"))).as("sbb"))
    val n = Tables.embeddings(spark, sfDir)
      .agg(sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("vec_id") % 2 === 1, 1L).otherwise(0L)).as("n_b"))
    n.crossJoin(broadcast(cos))
      .select(col("n_a"), col("n_b"),
        Det.r4(col("sab").cast("double") /
          (sqrt(col("saa").cast("double")) *
            sqrt(col("sbb").cast("double")))).as("centroid_cosine"))
  }

  /** SEMANTIC DEDUPLICATION (SemDeDup — Abbas et al. 2023): drop
    * documents whose embeddings are near-duplicates of a kept
    * representative inside the same semantic bucket — the pruning
    * stage LLM corpora run AFTER exact/fuzzy text dedup, catching
    * paraphrases and re-renderings that share no n-grams.
    *
    * Bucketing here is the deterministic 8-bit sign signature of the
    * first 8 dimensions (the embed_neardup sign-LSH family) so the
    * pairwise stage is an EQUI-join, never all-pairs; the production
    * path at 100 TB swaps in [[kmeansConvergedPar]] cluster ids as
    * the bucket key and caps bucket fanout — the pruning kernel below
    * is identical. Pruning is EXACT integer math end-to-end: 1e6-
    * floor-quantized coordinates, BIGINT dots/norms, and the cosine
    * threshold cos ≥ τ (τ = 2/5, tuned to the fixture's cosine range;
    * production SemDeDup runs τ ≈ 0.9 on real embeddings) tested as
    * (5·dot)² ≥ (2·‖a‖²)·(2·‖b‖²) in DECIMAL(38,0) — no float compare
    * anywhere, so the oracle match is structural, not luck. Headroom:
    * 64 dims × (1e6)² quantized coords bound dot and each norm² by
    * 6.4e13, so every DECIMAL(19,0) factor and the DECIMAL(38,0)
    * product stay exact. A vector is pruned by its LOWEST-id ≥ τ
    * neighbor (greedy-by-id representative, deterministic). */
  def semDedup(spark: SparkSession, sfDir: String): DataFrame =
    semDedupFrom(spark, Tables.embeddings(spark, sfDir))

  /** [[semDedup]] over an explicit (vec_id, embedding) relation — the
    * sign-bucket oracle form, factored so specs can compare both
    * bucketing schemes on one crafted fixture. */
  private[graft] def semDedupFrom(spark: SparkSession, e0: DataFrame)
      : DataFrame = {
    val flat = quantFlat(e0)
    val sgn = flat.where(col("dim") <= 7).groupBy(col("vec_id"))
      .agg(sum(when(col("qx") >= 0,
        expr("shiftleft(1L, CAST(dim AS INT))")).otherwise(0L))
        .as("bucket"))
    semDedupKernel(flat, sgn)
  }

  /** 1e6-floor-quantized (vec_id, dim, qx) explosion of an embeddings
    * relation — the shared input of the SemDeDup kernel family. */
  private def quantFlat(e0: DataFrame): DataFrame =
    e0.select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("vec_id"), col("dim"),
        floor(col("xf").cast("double") * lit(1000000.0)).cast("long")
          .as("qx"))
      .localCheckpoint(eager = false)

  /** The SemDeDup pruning kernel, shared verbatim by the sign-bucket
    * oracle form ([[semDedup]]) and the clustered production form
    * ([[semDedupClustered]]): given the quantized flat relation and a
    * (vec_id, bucket) assignment, equi-join pairs WITHIN a bucket,
    * test cos ≥ 2/5 as (5·dot)² ≥ (2·‖a‖²)(2·‖b‖²) in DECIMAL(38,0)
    * (exact — see [[semDedup]] headroom note), and prune each vector
    * by its lowest-id ≥ τ in-bucket neighbor. Only the bucket KEY
    * differs between the two callers; the decision math is identical
    * text. */
  private def semDedupKernel(flat: DataFrame, buckets: DataFrame)
      : DataFrame = {
    def dc(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
    val nr = flat.groupBy(col("vec_id"))
      .agg(sum(col("qx") * col("qx")).as("n2"))
    val fa = flat.join(buckets, "vec_id")
    val dots = fa.select(col("vec_id").as("a_id"), col("bucket"),
      col("dim"), col("qx").as("qa"))
      .join(fa.select(col("vec_id").as("b_id"), col("bucket").as("bk_b"),
        col("dim").as("dim_b"), col("qx").as("qb")),
        col("bucket") === col("bk_b") && col("dim") === col("dim_b") &&
          col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"), col("bucket"))
      .agg(sum(col("qa") * col("qb")).as("dot"))
    val cand = dots
      .join(nr.select(col("vec_id").as("a_id"), col("n2").as("na2")),
        "a_id")
      .join(nr.select(col("vec_id").as("b_id"), col("n2").as("nb2")),
        "b_id")
      .where(col("dot") > 0 &&
        dc(col("dot") * 5) * dc(col("dot") * 5) >=
          dc(col("na2") * 2) * dc(col("nb2") * 2))
    val wB = Window.partitionBy(col("b_id")).orderBy(col("a_id"))
    cand.withColumn("rk", row_number().over(wB))
      .where(col("rk") === 1)
      .select(col("b_id").as("pruned_id"), col("a_id").as("kept_id"),
        col("bucket"),
        Det.r4(col("dot").cast("double") /
          (sqrt(col("na2").cast("double")) *
            sqrt(col("nb2").cast("double")))).as("cos_kept"))
      .orderBy("pruned_id")
  }

  /** Per-bucket occupancy guardrail for [[semDedupClustered]]: clusters
    * over this size are excluded from the pair stage (the
    * [[NeardupBucketCap]] hot-bucket discipline). The PRIMARY sizing is
    * [[semDedupK]] — k = ⌈corpus/cap⌉ derived from a count, so mean
    * occupancy lands at this cap by construction (the SemDeDup paper's
    * k = 50 000 on LAION is this formula at their scale); the cap
    * itself is the guardrail for SKEWED clusters. */
  private[graft] val SemDedupFanoutCap = 1024L

  /** SEMANTIC DEDUP, PRODUCTION BUCKETING — the 100-TB form of
    * [[semDedup]] (Abbas et al. 2023 as published): bucket =
    * [[kmeansConvergedPar]] cluster id instead of the 8-bit sign
    * signature. The sign-bucket form has 256 buckets TOTAL, so
    * within-bucket occupancy grows ∝ corpus/256 and the pair stage is
    * O(n²/256) — fine as the fixture-scale oracle baseline, quadratic
    * at scale. Cluster ids scale with k (paper: k = 50 000), and any
    * cluster whose occupancy still exceeds `cap` is excluded from the
    * pair stage via a broadcast anti-join (the [[embedNeardupFrom]]
    * hot-bucket pattern; the overflow relation is returned to the
    * caller's judgment in the paper too — a degenerate mega-cluster is
    * boilerplate mass for [[embedDiversity]]/k-means to summarize, not
    * a pair list to enumerate). DOCUMENTED RECALL CONTRACT: pairs
    * split across clusters are not tested — at production τ ≈ 0.9 a
    * near-dup pair lands in the same cell with high probability (the
    * paper's operating assumption); the fixture τ = 2/5 is looser, so
    * the spec checks precision exactly and decision-equality on
    * planted tight-pair fixtures rather than global recall. The
    * pruning kernel is [[semDedupKernel]] — identical exact-integer
    * text to the oracle form. Spec-gated like its clusterer
    * (data-dependent iteration count), not an oracle/bench query. */
  def semDedupClustered(spark: SparkSession, sfDir: String,
      cap: Long = SemDedupFanoutCap): DataFrame =
    semDedupClusteredFrom(spark, Tables.embeddings(spark, sfDir), cap)

  /** [[semDedupClustered]] over an explicit (vec_id, embedding)
    * relation — factored so specs can drive the identical plan with
    * crafted hot-bucket fixtures. */
  /** DATA-DRIVEN cluster count for [[semDedupClustered]]: k =
    * ⌈corpus/cap⌉ sizes mean occupancy to the fanout cap (the paper's
    * k = 50 000 on LAION is exactly corpus/cap at their scale), floored
    * at the fixture [[KmeansK]] so tiny corpora keep the spec'd
    * clusterer shape. The cap stays the guardrail for SKEWED clusters;
    * this makes the PRIMARY sizing parameter-driven instead of a doc
    * note (the r12 residue). */
  private[graft] def semDedupK(n: Long, cap: Long): Int =
    math.max(KmeansK, math.ceil(n.toDouble / cap).toInt)

  private[graft] def semDedupClusteredFrom(spark: SparkSession,
      e0: DataFrame, cap: Long = SemDedupFanoutCap): DataFrame = {
    val e = e0.select(col("vec_id"), col("embedding"))
      .localCheckpoint(eager = false) // feeds quantFlat AND the clusterer
    val flat = quantFlat(e)
    val (assign, _) =
      kmeansConvergedAssignFrom(spark, e, semDedupK(e.count(), cap))
    val buckets = assign.select(col("vec_id"), col("cl").as("bucket"))
      .localCheckpoint(eager = false) // occupancy count + kernel join
    val hot = buckets.groupBy(col("bucket"))
      .agg(count(lit(1)).as("c")).where(col("c") > cap)
      .select(col("bucket"))
    val kept = buckets.join(broadcast(hot), Seq("bucket"), "left_anti")
    semDedupKernel(flat, kept)
  }

  /** A raw vector row (the streaming-gate input shape). */
  final case class VecRow(vec_id: Long, embedding: Array[Float])

  /** Quantized columns shared by the gate's two sides: 1e6-floor qx
    * array, exact BIGINT norm², and the 8-bit sign-LSH bucket — all
    * codegen'd higher-order functions over the embedding array, the
    * per-ROW form of [[quantFlat]]+sign aggregation (identical
    * quantization text, so gate decisions match the batch kernel). */
  private def withQuant(df: DataFrame): DataFrame = df
    .withColumn("qx", expr(
      "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0D) AS LONG))"))
    .withColumn("n2", expr(
      "aggregate(qx, 0L, (acc, v) -> acc + v * v)"))
    .withColumn("bucket", expr(
      "aggregate(zip_with(slice(qx, 1, 8), sequence(0, 7), " +
        "(q, i) -> IF(q >= 0, shiftleft(1L, i), 0L)), 0L, (a, b) -> a + b)"))

  /** The gate's reference relation: per sign-LSH bucket, the sorted
    * candidate list (vec_id, qx, n2) of the PRIOR CORPUS — a TABLE,
    * never driver state. SemDeDup kept-sets are corpus-sized (only
    * near-dups prune away), so the old broadcast-an-Array design was
    * bounded by driver memory; this relation stays distributed and
    * meets the stream in a bucket-keyed equi-join. One row per bucket;
    * row width = bucket occupancy × (d+2) longs, which production
    * bounds the same way the batch pair stage does — clustered bucket
    * keys sized so occupancy ≈ [[SemDedupFanoutCap]] (swap the bucket
    * expression for cluster ids; the join and decision text are
    * unchanged). */
  def semKeptBuckets(spark: SparkSession, sfDir: String): DataFrame =
    withQuant(Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding")))
      .groupBy(col("bucket"))
      .agg(sort_array(collect_list(struct(col("vec_id"), col("qx"),
        col("n2")))).as("cands"))

  /** STREAMING TWIN of [[semDedup]] — admission-time semantic gating:
    * each arriving vector meets its sign-LSH bucket's kept candidates
    * via a STREAM-STATIC equi-join on bucket (stateless, Append-safe;
    * Catalyst broadcasts a small reference and shuffles a large one —
    * no driver collect anywhere on the path), then tests the
    * IDENTICAL exact integer kernel (1e6-floor quantize,
    * (5·dot)² ≥ (2·n²ₐ)(2·n²ᵦ) in DECIMAL(38,0) for τ = 2/5) as a
    * codegen'd filter over the candidate array, pruning against the
    * LOWEST-id ≥ τ neighbor with kept_id < vec_id (candidates arrive
    * sorted, so the first qualifying element is the representative).
    * Spec'd decision-equal to the batch pass over the same corpus. */
  def semDedupGate(vecs: org.apache.spark.sql.Dataset[VecRow],
      keptBuckets: DataFrame): DataFrame = {
    withQuant(vecs.toDF())
      .join(keptBuckets, Seq("bucket"), "left")
      // WIDTH CONTRACT: the gate compares equal-dimension embeddings
      // only. zip_with null-pads on a length mismatch (dot → NULL →
      // silently never pruned), so mismatched-width candidates are
      // EXPLICITLY excluded from the comparison and surfaced as
      // width_mismatch = true for the caller to reject — never a
      // silent pass.
      .withColumn("width_mismatch", expr(
        "coalesce(exists(cands, k -> size(k.qx) <> size(qx)), false)"))
      // dot once per candidate (lambdas don't CSE), then the exact test
      .withColumn("cd", expr(
        "transform(filter(cands, k -> size(k.qx) = size(qx)), " +
          "k -> struct(k.vec_id AS kid, " +
          "aggregate(zip_with(qx, k.qx, (a, b) -> a * b), 0L, " +
          "(s, v) -> s + v) AS dot, k.n2 AS kn2))"))
      .withColumn("hit", expr(
        "try_element_at(filter(cd, k -> k.kid < vec_id AND k.dot > 0 AND " +
          "CAST(5 * k.dot AS DECIMAL(19,0)) * " +
          "CAST(5 * k.dot AS DECIMAL(19,0)) >= " +
          "CAST(2 * k.kn2 AS DECIMAL(19,0)) * " +
          "CAST(2 * n2 AS DECIMAL(19,0))), 1)"))
      .select(col("vec_id"), col("hit").isNotNull.as("pruned"),
        coalesce(col("hit.kid"), lit(-1L)).as("kept_id"),
        col("width_mismatch"))
  }

  private val PcaRounds = 8

  /** LEADING PRINCIPAL COMPONENT of the embedding cloud via POWER
    * ITERATION — the dimension-reduction read beside [[mrlTradeoff]]
    * (MRL asks "how much recall do the first k COORDINATES keep";
    * PC1 is the best single DIRECTION, the first thing an index
    * designer checks before picking a cut dimension). INTEGER-EXACT
    * end to end (the q_llm_kmeans discipline on a matrix recursion):
    * embeddings floor-quantize at 10⁴, the scatter matrix S = N·G −
    * ssᵀ accumulates as DECIMAL(38,0)/HUGEINT from ONE d²-grain
    * aggregate (the only corpus-sized work — Spark's side), and the
    * 8 power rounds run over the collected d×d model (4096 entries —
    * the kmeans-seeding collect class) in exact BigInt, renormalizing
    * to max|v| = 10⁶ by MAGNITUDE division with the sign reapplied
    * (trunc-vs-floor never fires on a negative). Orientation fixes
    * the global sign flip (first nonzero loading positive); the
    * eigenvalue reports as the EXACT integer num div (den·N) — no
    * HUGEINT→DOUBLE cast anywhere near the hash. The DuckDB twin
    * unrolls the same 8 rounds as MATERIALIZED CTEs. */
  def pcaPower(spark: SparkSession, sfDir: String): DataFrame = {
    val (v1, lam1, _, _, _, _, d) = pcaModel(spark, sfDir)
    loadingsDF(spark, v1, lam1, d)
  }

  /** Emit a component as the (i, v_q, loading, lam_q) contract rows. */
  private def loadingsDF(spark: SparkSession, v: Array[BigInt],
      lamQ: Long, d: Int): DataFrame = {
    import spark.implicits._
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    (0 until d).map { i =>
      val vq = v(i).toLong
      (i + 1L, vq, r4(vq.toDouble / 1000000.0), lamQ)
    }.toDF("i", "v_q", "loading", "lam_q").orderBy("i")
  }

  /** SECOND PRINCIPAL COMPONENT via PROJECTED power iteration — the
    * 2-d map read that completes [[pcaPower]] (PC1 alone ranks one
    * axis; PC1×PC2 is the standard scatter-plot / coarse-index
    * plane). Each round multiplies by the SAME exact scatter matrix
    * then deflates by PROJECTION against PC1's final (unoriented)
    * iterate: w' = w·D₁ − v₁·(v₁ᵀw) — all BigInt/HUGEINT exact, and
    * sign-invariant in v₁ so orientation never couples the
    * components. Renormalization uses the TWO-BRANCH magnitude rule
    * (|w| div (max|w| div 10⁶) once max ≥ 10⁶) because |w'|·10⁶
    * would overflow HUGEINT at sf0.1 — a defined metric, identical
    * text in both engines; max|v| lands in {10⁶, 10⁶+1}. Start vector
    * alternates ±10⁶ (generically independent of PC1). Same exact
    * integer eigenvalue read as PC1. */
  def pca2Power(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, _, v2, lam2, _, _, d) = pcaModel(spark, sfDir)
    loadingsDF(spark, v2, lam2, d)
  }

  /** THIRD PRINCIPAL COMPONENT — [[pca2Power]]'s projected-deflation
    * recursion applied once more: each round multiplies by the exact
    * scatter matrix, Gram–Schmidts against PC1's final unoriented
    * iterate (w·d₁ − v₁·v₁ᵀw), RENORMALIZES (the intermediate step
    * that keeps the DuckDB twin inside HUGEINT — a fused
    * w·d₁·d₂ product would overflow), then deflates against PC2 and
    * renormalizes again, all exact BigInt with the two-branch
    * magnitude rule. Start vector is a period-4 square wave
    * (generically independent of the all-ones PC1 seed and the
    * alternating PC2 seed). Oracle: the same rounds unrolled as
    * MATERIALIZED CTEs. */
  def pca3Power(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, _, _, _, v3, lam3, d) = pcaModel(spark, sfDir)
    loadingsDF(spark, v3, lam3, d)
  }

  /** PCA MAP — the 2-d occupancy grid of the corpus projected onto
    * (PC1, PC2): the "embedding map" read behind every cluster
    * inspection UI, and the coarse spatial index a 2-d blocking
    * scheme would bucket by. The projections p = Σ vᵢ·qᵢ are exact
    * BIGINTs (quantized loadings × quantized coordinates — no float
    * touches a row), the 8×8 binning is pure integer arithmetic
    * (bin = ((p − pmin)·8) div (pmax − pmin + 1)), so the whole grid
    * hash-matches the DuckDB twin. The model (both components) comes
    * from the driver-side exact iteration; ROWS do the projection in
    * one broadcast-free map over the exploded relation — the shape
    * that survives 10⁹ vectors. */
  def pcaProject(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (v1, _, v2, _, _, _, d) = pcaModel(spark, sfDir)
    val loadings = (1 to d).map(i =>
      (i.toLong, v1(i - 1).toLong, v2(i - 1).toLong))
      .toDF("i", "w1", "w2")
    val flat = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("p", "e")))
      .select(col("vec_id"), (col("p") + lit(1)).cast("long").as("i"),
        floor(col("e").cast("double") * lit(10000.0)).cast("long")
          .as("q"))
    val proj = flat.join(broadcast(loadings), "i")
      .groupBy(col("vec_id"))
      .agg(sum(col("q").cast("decimal(38,0)") * col("w1")).cast("long")
        .as("p1"),
        sum(col("q").cast("decimal(38,0)") * col("w2")).cast("long")
          .as("p2"))
      .localCheckpoint(eager = false) // range probe + binning pass
    val rng = proj.agg(min(col("p1")).as("lo1"), max(col("p1")).as("hi1"),
      min(col("p2")).as("lo2"), max(col("p2")).as("hi2"))
    proj.crossJoin(broadcast(rng))
      .select(
        expr("((p1 - lo1) * 8) div (hi1 - lo1 + 1)").as("b1"),
        expr("((p2 - lo2) * 8) div (hi2 - lo2 + 1)").as("b2"))
      .groupBy(col("b1"), col("b2"))
      .agg(count(lit(1)).as("n"))
      .orderBy("b1", "b2")
  }

  /** Exact scatter model shared by the PCA family: ONE pass of the
    * native [[graft.functions.GramSums]] kernel (map-side combined —
    * the shuffle carries one (d²+d+1)-long buffer per partition, the
    * r14 sf1-soak fix for the N·d² self-join) → the collected d×d
    * BigInt matrix S = N·G − ssᵀ. Identical integers to the join
    * form, so the PCA oracles are untouched (re-proven at 3 SFs). */
  private def scatterModel(spark: SparkSession, sfDir: String)
      : (Array[Array[BigInt]], BigInt, Int) = {
    val e = Tables.embeddings(spark, sfDir)
    val d = e.select(size(col("embedding"))).head.getInt(0)
    val buf = e.agg(graft.functions.GramSums(col("embedding"), d).as("g"))
      .head.getSeq[Long](0).toArray
    val nVec = BigInt(buf(d * d + d))
    val sArr = Array.tabulate(d)(i => BigInt(buf(d * d + i)))
    val smat = Array.tabulate(d, d)((i, j) =>
      nVec * BigInt(buf(i * d + j)) - sArr(i) * sArr(j))
    (smat, nVec, d)
  }

  /** The full driver-side PCA model shared by [[pcaPower]],
    * [[pca2Power]], [[pca3Power]] and [[pcaProject]] — one scatter
    * pass, all power loops: (v1 oriented, lam1, v2, lam2, v3, lam3,
    * d). PC3 deflates against BOTH final unoriented iterates with an
    * INTERMEDIATE renormalization between the two projections — the
    * naive w·d1·d2 double product would overflow the DuckDB twin's
    * HUGEINT, while each single-projection step keeps the proven
    * PC2 bound. */
  private def pcaModel(spark: SparkSession, sfDir: String)
      : (Array[BigInt], Long, Array[BigInt], Long,
         Array[BigInt], Long, Int) = {
    val (smat, nVec, d) = scatterModel(spark, sfDir)
    def matvec(v: Array[BigInt]): Array[BigInt] =
      Array.tabulate(d)(i => (0 until d).map(j => smat(i)(j) * v(j)).sum)
    def orient(v: Array[BigInt]): Array[BigInt] =
      if (v.find(_ != 0).exists(_ < 0)) v.map(-_) else v
    def rayleigh(v: Array[BigInt]): Long = {
      val num = (for (i <- 0 until d; j <- 0 until d)
        yield v(i) * smat(i)(j) * v(j)).sum
      val den = v.map(x => x * x).sum
      if (den > 0) (num / (den * nVec)).toLong else 0L
    }
    // two-branch magnitude renorm (|v|max → 1e6, sign reapplied);
    // mx = 0 keeps the previous iterate — mirrored in the CTE text
    def renorm(w: Array[BigInt], prev: Array[BigInt]): Array[BigInt] = {
      val mx = w.map(_.abs).max
      if (mx == 0) prev
      else {
        val divisor = mx / 1000000L
        w.map { x =>
          val m = if (mx >= 1000000L) x.abs / divisor
                  else x.abs * 1000000L / mx
          m * BigInt(x.signum)
        }
      }
    }
    var v1 = Array.fill(d)(BigInt(1000000L))
    for (_ <- 1 to PcaRounds) {
      val w = matvec(v1)
      val mx = w.map(_.abs).max
      if (mx > 0)
        v1 = w.map(x => (x.abs * 1000000L / mx) * BigInt(x.signum))
    }
    val d1 = v1.map(x => x * x).sum
    var u = Array.tabulate(d)(i =>
      BigInt(if (i % 2 == 0) 1000000L else -1000000L))
    for (_ <- 1 to PcaRounds) {
      val w = matvec(u)
      val proj = (0 until d).map(i => v1(i) * w(i)).sum
      val wp = Array.tabulate(d)(i => w(i) * d1 - v1(i) * proj)
      val mx = wp.map(_.abs).max
      if (mx > 0) {
        val divisor = mx / 1000000L
        u = wp.map { x =>
          val m = if (mx >= 1000000L) x.abs / divisor
                  else x.abs * 1000000L / mx
          m * BigInt(x.signum)
        }
      }
    }
    val d2 = u.map(x => x * x).sum
    var t = Array.tabulate(d)(i =>
      BigInt(if (i % 4 < 2) 1000000L else -1000000L))
    for (_ <- 1 to PcaRounds) {
      val w = matvec(t)
      val p1 = (0 until d).map(i => v1(i) * w(i)).sum
      val w1 = Array.tabulate(d)(i => w(i) * d1 - v1(i) * p1)
      val w1n = renorm(w1, t)
      val p2 = (0 until d).map(i => u(i) * w1n(i)).sum
      val w2 = Array.tabulate(d)(i => w1n(i) * d2 - u(i) * p2)
      t = renorm(w2, w1n)
    }
    val v1o = orient(v1)
    val v2o = orient(u)
    val v3o = orient(t)
    (v1o, rayleigh(v1o), v2o, rayleigh(v2o), v3o, rayleigh(v3o), d)
  }

  /** KENDALL τ-b BETWEEN EMBEDDING NORMS BY LABEL — the vector-side
    * member of the drift toolkit ([[graft.llm.TextOps.kendallSources]]'
    * machinery verbatim, labels for sources and the exact quantized
    * norm² for document length): for every label pair, the tie-adjusted
    * rank correlation between the label INDICATOR and the embedding's
    * squared norm over the pooled two-sample data — "does label b carry
    * stochastically longer vectors than label a". Norms are EXACT
    * BIGINTs with no ordering hazard: each float coordinate quantizes
    * 1e6-floor to a BIGINT ([[quantFlat]]'s convention) and norm² is the
    * integer Σ q², order-free in both engines (strictly stronger than an
    * index-ordered IEEE fold — no fold order to match). Everything after
    * that is the proven distinct-value-grid walk: concordant/discordant
    * from per-label cumulative counts, tie terms exact, τ-b ONE IEEE
    * expression with every factor cast to double first (the r10 ratio
    * rule). Grid cost: labels × distinct norms — norms are near-unique,
    * so the grid is ~labels × vectors; past ~10⁹ vectors pre-bucket the
    * norm (the psi_length discipline). Total order (l1, l2). */
  def kendallNorms(spark: SparkSession, sfDir: String): DataFrame = {
    def dec(e: org.apache.spark.sql.Column) = e.cast("decimal(38,0)")
    def d(e: org.apache.spark.sql.Column) = e.cast("double")
    val norms = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label").cast("long").as("lab"),
        posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("vec_id"), col("lab"),
        floor(col("xf").cast("double") * lit(1000000.0)).cast("long")
          .as("q"))
      .groupBy(col("vec_id"), col("lab"))
      .agg(sum(col("q") * col("q")).as("x"))
    val byV = norms.groupBy(col("lab"), col("x"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false) // grid fan-out + per-label ties
    val grid = byV.select(col("x")).distinct()
      .crossJoin(broadcast(byV.select(col("lab")).distinct()))
      .join(byV, Seq("lab", "x"), "left")
      .na.fill(0L, Seq("c"))
    val wCum = Window.partitionBy(col("lab")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // same (partition, order) spec as wCum — one fused WindowExec (r17)
    val wG = Window.partitionBy(col("lab")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cums = grid
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n_g", sum(col("c")).over(wG))
      .localCheckpoint(eager = false) // both sides of the pair join
    val a = cums.select(col("lab").as("l1"), col("x"),
      col("c").as("c1"), col("n_g").as("n1"))
    val b = cums.select(col("lab").as("l2"), col("x"),
      col("c").as("c2"), (col("cum") - col("c")).as("below2"),
      col("cum").as("upto2"), col("n_g").as("n2"))
    // per-label self-tie terms INLINE (r17): the grid is complete over
    // x for every label, so Σ_x c·(c−1) within the pair group IS the
    // per-label constant — no separate aggregate, no broadcast joins
    val pair = a.join(b, "x").where(col("l1") < col("l2"))
      .groupBy(col("l1"), col("l2"), col("n1"), col("n2"))
      .agg(sum(dec(col("c1")) * (col("n2") - col("upto2"))).as("nc"),
        sum(dec(col("c1")) * col("below2")).as("nd"),
        sum(dec(col("c1")) * col("c2")).as("crossT"),
        sum(dec(col("c1")) * (col("c1") - 1)).as("ty1"),
        sum(dec(col("c2")) * (col("c2") - 1)).as("ty2"))
    val n02 = dec(col("n1") + col("n2")) * (col("n1") + col("n2") - 1)
    val nyt2 = n02 - (col("ty1") + col("ty2") + col("crossT") * 2)
    pair
      .select(col("l1"), col("l2"), col("n1"), col("n2"),
        col("nc").cast("long").as("n_conc"),
        col("nd").cast("long").as("n_disc"),
        when(col("n1") > 0L && col("n2") > 0L && nyt2 > lit(0),
          Det.r4((d(col("nc")) - d(col("nd"))) /
            sqrt(d(col("n1")) * d(col("n2")) * (d(nyt2) / lit(2.0)))))
          .otherwise(lit(null)).as("tau_b"))
      .orderBy("l1", "l2")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_llm_kendall_norms" -> kendallNorms _,
    "q_llm_pca_power" -> pcaPower _,
    "q_llm_pca2_power" -> pca2Power _,
    "q_llm_pca3_power" -> pca3Power _,
    "q_llm_pca_project" -> pcaProject _,
    "q_llm_semdedup" -> semDedup _,
    "q_llm_embed_drift" -> embedDrift _,
    "q_llm_mrl_tradeoff" -> mrlTradeoff _,
    "q_llm_nprobe_tradeoff" -> nprobeTradeoff _,
    "q_llm_kmeans" -> kmeansClusters _,
    "q_llm_ivf_health" -> ivfHealth _,
    "q_llm_ann_serving" -> (AnnServing.report _),
    "q_llm_cosine_topk" -> cosineTopk _,
    "q_sql_cosine_topk" -> sqlCosineTopk _,
    "q_llm_knn_label" -> knnLabel _,
    "q_llm_knn_join" -> knnJoin _,
    "q_llm_ann_ivf" -> annIvf _,
    "q_llm_ann_pq" -> annPq _,
    "q_llm_ann_sq" -> annSq _,
    "q_llm_embed_neardup" -> embedNeardup _,
    "q_llm_density_dedup" -> densityDedup _,
    "q_llm_density_stability" -> densityStability _,
    "q_llm_embed_diversity" -> embedDiversity _
  )

  import Det.r4Sql

  /** Unrolled Lloyd's rounds for the q_llm_kmeans oracle — generated so
    * every round's text is literally identical (and in lockstep with the
    * Column formulas in [[kmeansClusters]]). */
  private def kmeansOracleSql: String = {
    val Q = "1000000000000.0"
    val rounds = (1 to KmeansIters).map { i =>
      val prev = if (i == 1) "c0" else s"c${i - 1}"
      val update =
        if (i == KmeansIters) "" // the last round only assigns
        else s""",
          |c$i AS (
          |  SELECT cl, dim,
          |         CAST(sum(CAST(floor(x * $Q) AS BIGINT)) AS DOUBLE)
          |           / (count(*) * $Q) AS c
          |  FROM a$i JOIN flat USING (vec_id) GROUP BY 1, 2)""".stripMargin
      s"""d$i AS (
        |  SELECT vec_id, cl,
        |         CAST(sum(CAST(floor(((x - c) * (x - c)) * $Q) AS BIGINT)) AS BIGINT) AS dist
        |  FROM flat JOIN $prev USING (dim) GROUP BY 1, 2),
        |a$i AS (
        |  SELECT vec_id, cl, dist FROM (
        |    SELECT vec_id, cl, dist,
        |           row_number() OVER (PARTITION BY vec_id
        |             ORDER BY dist, cl) AS rn
        |    FROM d$i) t WHERE rn = 1)""".stripMargin + update
    }.mkString(",\n")
    s"""WITH f0 AS (
      |  SELECT vec_id, unnest(generate_series(1, len(embedding))) AS dim,
      |         embedding
      |  FROM embeddings),
      |flat AS (
      |  SELECT vec_id, dim, CAST(embedding[dim] AS DOUBLE) AS x FROM f0),
      |seeds AS (
      |  SELECT vec_id,
      |         CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cl
      |  FROM (SELECT vec_id FROM embeddings
      |        ORDER BY vec_id LIMIT $KmeansK) s),
      |c0 AS (
      |  SELECT cl, dim, x AS c FROM flat JOIN seeds USING (vec_id)),
      |$rounds
      |SELECT cl, CAST(count(*) AS BIGINT) AS n,
      |       ${r4Sql(s"CAST(sum(dist) AS DOUBLE) / $Q")} AS inertia
      |FROM a$KmeansIters GROUP BY 1
      |ORDER BY cl NULLS FIRST""".stripMargin
  }

  /** Unrolled power-iteration rounds for the q_llm_pca_power oracle —
    * generated so every round's text is literally identical (the
    * kmeansOracleSql discipline; every CTE MATERIALIZED per the
    * standing chained-CTE rule). Magnitude-division + sign keeps the
    * `//`-vs-truncation dialect split from ever firing on a negative. */
  private def pcaOracleSql: String = {
    val rounds = (1 to PcaRounds).map { k =>
      val prev = if (k == 1) "v0" else s"v${k - 1}"
      s"""w$k AS MATERIALIZED (
        |  SELECT s.i, sum(s.s * v.v) AS w
        |  FROM smat s JOIN $prev v ON s.j = v.i GROUP BY 1),
        |m$k AS MATERIALIZED (SELECT max(abs(w)) AS m FROM w$k),
        |v$k AS MATERIALIZED (
        |  SELECT w$k.i,
        |         CASE WHEN m$k.m = 0 THEN $prev.v
        |              ELSE ((abs(w$k.w) * 1000000) // m$k.m) *
        |                   (CASE WHEN w$k.w < 0 THEN -1 ELSE 1 END)
        |         END AS v
        |  FROM w$k CROSS JOIN m$k JOIN $prev ON $prev.i = w$k.i)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH flat AS MATERIALIZED (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
      |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000.0)
      |           AS BIGINT) AS q
      |  FROM embeddings),
      |gram AS MATERIALIZED (
      |  SELECT a.i, b.i AS j, sum(CAST(a.q AS HUGEINT) * b.q) AS g
      |  FROM flat a JOIN flat b ON a.vec_id = b.vec_id
      |  GROUP BY 1, 2),
      |ssum AS MATERIALIZED (
      |  SELECT i, CAST(sum(q) AS HUGEINT) AS s,
      |         CAST(count(*) AS HUGEINT) AS n
      |  FROM flat GROUP BY 1),
      |nn AS (SELECT max(n) AS n FROM ssum),
      |smat AS MATERIALIZED (
      |  SELECT g.i, g.j, nn.n * g.g - sa.s * sb.s AS s
      |  FROM gram g CROSS JOIN nn
      |  JOIN ssum sa ON sa.i = g.i JOIN ssum sb ON sb.i = g.j),
      |v0 AS (SELECT i, CAST(1000000 AS HUGEINT) AS v FROM ssum),
      |$rounds,
      |sgn AS (SELECT coalesce((SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END
      |        FROM v$PcaRounds WHERE v <> 0 ORDER BY i LIMIT 1), 1)
      |        AS sg),
      |vf AS MATERIALIZED (
      |  SELECT i, v * (SELECT sg FROM sgn) AS v FROM v$PcaRounds),
      |ray AS (
      |  SELECT sum(va.v * s.s * vb.v) AS num
      |  FROM smat s JOIN vf va ON va.i = s.i JOIN vf vb ON vb.i = s.j),
      |dn AS (SELECT sum(v * v) AS den FROM vf),
      |lam AS (
      |  SELECT CASE WHEN dn.den > 0 THEN
      |           CAST(ray.num // (dn.den * (SELECT n FROM nn)) AS BIGINT)
      |         ELSE 0 END AS lam_q
      |  FROM ray CROSS JOIN dn)
      |SELECT vf.i, CAST(vf.v AS BIGINT) AS v_q,
      |       ${r4Sql("CAST(vf.v AS DOUBLE) / 1000000.0")} AS loading,
      |       lam.lam_q
      |FROM vf CROSS JOIN lam
      |ORDER BY i NULLS FIRST""".stripMargin
  }

  /** q_llm_pca2_power oracle: the [[pcaOracleSql]] prelude + PC1
    * rounds (unoriented v8), then 8 PROJECTED rounds with the
    * two-branch magnitude normalizer — every CTE MATERIALIZED. */
  private def pca2OracleSql: String = {
    val pc1Rounds = (1 to PcaRounds).map { k =>
      val prev = if (k == 1) "v0" else s"v${k - 1}"
      s"""w$k AS MATERIALIZED (
        |  SELECT s.i, sum(s.s * v.v) AS w
        |  FROM smat s JOIN $prev v ON s.j = v.i GROUP BY 1),
        |m$k AS MATERIALIZED (SELECT max(abs(w)) AS m FROM w$k),
        |v$k AS MATERIALIZED (
        |  SELECT w$k.i,
        |         CASE WHEN m$k.m = 0 THEN $prev.v
        |              ELSE ((abs(w$k.w) * 1000000) // m$k.m) *
        |                   (CASE WHEN w$k.w < 0 THEN -1 ELSE 1 END)
        |         END AS v
        |  FROM w$k CROSS JOIN m$k JOIN $prev ON $prev.i = w$k.i)"""
        .stripMargin
    }.mkString(",\n")
    val pc2Rounds = (1 to PcaRounds).map { k =>
      val prev = if (k == 1) "u0" else s"u${k - 1}"
      s"""wu$k AS MATERIALIZED (
        |  SELECT s.i, sum(s.s * u.v) AS w
        |  FROM smat s JOIN $prev u ON s.j = u.i GROUP BY 1),
        |pj$k AS MATERIALIZED (
        |  SELECT sum(v$PcaRounds.v * w.w) AS p
        |  FROM v$PcaRounds JOIN wu$k w ON w.i = v$PcaRounds.i),
        |wp$k AS MATERIALIZED (
        |  SELECT w.i,
        |         w.w * (SELECT d1 FROM dd) -
        |           v$PcaRounds.v * (SELECT p FROM pj$k) AS w
        |  FROM wu$k w JOIN v$PcaRounds ON v$PcaRounds.i = w.i),
        |mu$k AS MATERIALIZED (SELECT max(abs(w)) AS m FROM wp$k),
        |u$k AS MATERIALIZED (
        |  SELECT wp.i,
        |         CASE WHEN mu$k.m = 0 THEN $prev.v
        |              WHEN mu$k.m >= 1000000 THEN
        |                (abs(wp.w) // (mu$k.m // 1000000)) *
        |                (CASE WHEN wp.w < 0 THEN -1 ELSE 1 END)
        |              ELSE ((abs(wp.w) * 1000000) // mu$k.m) *
        |                (CASE WHEN wp.w < 0 THEN -1 ELSE 1 END)
        |         END AS v
        |  FROM wp$k wp CROSS JOIN mu$k
        |  JOIN $prev ON $prev.i = wp.i)""".stripMargin
    }.mkString(",\n")
    s"""WITH flat AS MATERIALIZED (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
      |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000.0)
      |           AS BIGINT) AS q
      |  FROM embeddings),
      |gram AS MATERIALIZED (
      |  SELECT a.i, b.i AS j, sum(CAST(a.q AS HUGEINT) * b.q) AS g
      |  FROM flat a JOIN flat b ON a.vec_id = b.vec_id
      |  GROUP BY 1, 2),
      |ssum AS MATERIALIZED (
      |  SELECT i, CAST(sum(q) AS HUGEINT) AS s,
      |         CAST(count(*) AS HUGEINT) AS n
      |  FROM flat GROUP BY 1),
      |nn AS (SELECT max(n) AS n FROM ssum),
      |smat AS MATERIALIZED (
      |  SELECT g.i, g.j, nn.n * g.g - sa.s * sb.s AS s
      |  FROM gram g CROSS JOIN nn
      |  JOIN ssum sa ON sa.i = g.i JOIN ssum sb ON sb.i = g.j),
      |v0 AS (SELECT i, CAST(1000000 AS HUGEINT) AS v FROM ssum),
      |$pc1Rounds,
      |dd AS MATERIALIZED (SELECT sum(v * v) AS d1 FROM v$PcaRounds),
      |u0 AS (SELECT i, CAST(CASE WHEN i % 2 = 1 THEN 1000000
      |         ELSE -1000000 END AS HUGEINT) AS v FROM ssum),
      |$pc2Rounds,
      |sgn AS (SELECT coalesce((SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END
      |        FROM u$PcaRounds WHERE v <> 0 ORDER BY i LIMIT 1), 1)
      |        AS sg),
      |uf AS MATERIALIZED (
      |  SELECT i, v * (SELECT sg FROM sgn) AS v FROM u$PcaRounds),
      |ray AS (
      |  SELECT sum(va.v * s.s * vb.v) AS num
      |  FROM smat s JOIN uf va ON va.i = s.i JOIN uf vb ON vb.i = s.j),
      |dn AS (SELECT sum(v * v) AS den FROM uf),
      |lam AS (
      |  SELECT CASE WHEN dn.den > 0 THEN
      |           CAST(ray.num // (dn.den * (SELECT n FROM nn)) AS BIGINT)
      |         ELSE 0 END AS lam_q
      |  FROM ray CROSS JOIN dn)
      |SELECT uf.i, CAST(uf.v AS BIGINT) AS v_q,
      |       ${r4Sql("CAST(uf.v AS DOUBLE) / 1000000.0")} AS loading,
      |       lam.lam_q
      |FROM uf CROSS JOIN lam
      |ORDER BY i NULLS FIRST""".stripMargin
  }

  /** q_llm_pca3_power oracle: the pca2 prelude (PC1 + PC2 chains,
    * both unoriented) + 8 DOUBLY-projected rounds — deflate against
    * v8, renormalize (the HUGEINT-bound intermediate step), deflate
    * against u8, renormalize — every CTE MATERIALIZED. */
  private def pca3OracleSql: String = {
    val pc1Rounds = (1 to PcaRounds).map { k =>
      val prev = if (k == 1) "v0" else s"v${k - 1}"
      s"""w$k AS MATERIALIZED (
        |  SELECT s.i, sum(s.s * v.v) AS w
        |  FROM smat s JOIN $prev v ON s.j = v.i GROUP BY 1),
        |m$k AS MATERIALIZED (SELECT max(abs(w)) AS m FROM w$k),
        |v$k AS MATERIALIZED (
        |  SELECT w$k.i,
        |         CASE WHEN m$k.m = 0 THEN $prev.v
        |              ELSE ((abs(w$k.w) * 1000000) // m$k.m) *
        |                   (CASE WHEN w$k.w < 0 THEN -1 ELSE 1 END)
        |         END AS v
        |  FROM w$k CROSS JOIN m$k JOIN $prev ON $prev.i = w$k.i)"""
        .stripMargin
    }.mkString(",\n")
    val pc2Rounds = (1 to PcaRounds).map { k =>
      val prev = if (k == 1) "u0" else s"u${k - 1}"
      s"""wu$k AS MATERIALIZED (
        |  SELECT s.i, sum(s.s * u.v) AS w
        |  FROM smat s JOIN $prev u ON s.j = u.i GROUP BY 1),
        |pj$k AS MATERIALIZED (
        |  SELECT sum(v$PcaRounds.v * w.w) AS p
        |  FROM v$PcaRounds JOIN wu$k w ON w.i = v$PcaRounds.i),
        |wp$k AS MATERIALIZED (
        |  SELECT w.i,
        |         w.w * (SELECT d1 FROM dd) -
        |           v$PcaRounds.v * (SELECT p FROM pj$k) AS w
        |  FROM wu$k w JOIN v$PcaRounds ON v$PcaRounds.i = w.i),
        |mu$k AS MATERIALIZED (SELECT max(abs(w)) AS m FROM wp$k),
        |u$k AS MATERIALIZED (
        |  SELECT wp.i,
        |         CASE WHEN mu$k.m = 0 THEN $prev.v
        |              WHEN mu$k.m >= 1000000 THEN
        |                (abs(wp.w) // (mu$k.m // 1000000)) *
        |                (CASE WHEN wp.w < 0 THEN -1 ELSE 1 END)
        |              ELSE ((abs(wp.w) * 1000000) // mu$k.m) *
        |                (CASE WHEN wp.w < 0 THEN -1 ELSE 1 END)
        |         END AS v
        |  FROM wp$k wp CROSS JOIN mu$k
        |  JOIN $prev ON $prev.i = wp.i)""".stripMargin
    }.mkString(",\n")
    val pc3Rounds = (1 to PcaRounds).map { k =>
      val prev = if (k == 1) "t0" else s"t${k - 1}"
      s"""wt$k AS MATERIALIZED (
        |  SELECT s.i, sum(s.s * t.v) AS w
        |  FROM smat s JOIN $prev t ON s.j = t.i GROUP BY 1),
        |pa$k AS MATERIALIZED (
        |  SELECT sum(v$PcaRounds.v * w.w) AS p
        |  FROM v$PcaRounds JOIN wt$k w ON w.i = v$PcaRounds.i),
        |wa$k AS MATERIALIZED (
        |  SELECT w.i,
        |         w.w * (SELECT d1 FROM dd) -
        |           v$PcaRounds.v * (SELECT p FROM pa$k) AS w
        |  FROM wt$k w JOIN v$PcaRounds ON v$PcaRounds.i = w.i),
        |ma$k AS MATERIALIZED (SELECT max(abs(w)) AS m FROM wa$k),
        |na$k AS MATERIALIZED (
        |  SELECT wa.i,
        |         CASE WHEN ma$k.m = 0 THEN $prev.v
        |              WHEN ma$k.m >= 1000000 THEN
        |                (abs(wa.w) // (ma$k.m // 1000000)) *
        |                (CASE WHEN wa.w < 0 THEN -1 ELSE 1 END)
        |              ELSE ((abs(wa.w) * 1000000) // ma$k.m) *
        |                (CASE WHEN wa.w < 0 THEN -1 ELSE 1 END)
        |         END AS v
        |  FROM wa$k wa CROSS JOIN ma$k
        |  JOIN $prev ON $prev.i = wa.i),
        |pb$k AS MATERIALIZED (
        |  SELECT sum(u$PcaRounds.v * n.v) AS p
        |  FROM u$PcaRounds JOIN na$k n ON n.i = u$PcaRounds.i),
        |wb$k AS MATERIALIZED (
        |  SELECT n.i,
        |         n.v * (SELECT d2 FROM dd2) -
        |           u$PcaRounds.v * (SELECT p FROM pb$k) AS w
        |  FROM na$k n JOIN u$PcaRounds ON u$PcaRounds.i = n.i),
        |mb$k AS MATERIALIZED (SELECT max(abs(w)) AS m FROM wb$k),
        |t$k AS MATERIALIZED (
        |  SELECT wb.i,
        |         CASE WHEN mb$k.m = 0 THEN na$k.v
        |              WHEN mb$k.m >= 1000000 THEN
        |                (abs(wb.w) // (mb$k.m // 1000000)) *
        |                (CASE WHEN wb.w < 0 THEN -1 ELSE 1 END)
        |              ELSE ((abs(wb.w) * 1000000) // mb$k.m) *
        |                (CASE WHEN wb.w < 0 THEN -1 ELSE 1 END)
        |         END AS v
        |  FROM wb$k wb CROSS JOIN mb$k
        |  JOIN na$k ON na$k.i = wb.i)""".stripMargin
    }.mkString(",\n")
    s"""WITH flat AS MATERIALIZED (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
      |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000.0)
      |           AS BIGINT) AS q
      |  FROM embeddings),
      |gram AS MATERIALIZED (
      |  SELECT a.i, b.i AS j, sum(CAST(a.q AS HUGEINT) * b.q) AS g
      |  FROM flat a JOIN flat b ON a.vec_id = b.vec_id
      |  GROUP BY 1, 2),
      |ssum AS MATERIALIZED (
      |  SELECT i, CAST(sum(q) AS HUGEINT) AS s,
      |         CAST(count(*) AS HUGEINT) AS n
      |  FROM flat GROUP BY 1),
      |nn AS (SELECT max(n) AS n FROM ssum),
      |smat AS MATERIALIZED (
      |  SELECT g.i, g.j, nn.n * g.g - sa.s * sb.s AS s
      |  FROM gram g CROSS JOIN nn
      |  JOIN ssum sa ON sa.i = g.i JOIN ssum sb ON sb.i = g.j),
      |v0 AS (SELECT i, CAST(1000000 AS HUGEINT) AS v FROM ssum),
      |$pc1Rounds,
      |dd AS MATERIALIZED (SELECT sum(v * v) AS d1 FROM v$PcaRounds),
      |u0 AS (SELECT i, CAST(CASE WHEN i % 2 = 1 THEN 1000000
      |         ELSE -1000000 END AS HUGEINT) AS v FROM ssum),
      |$pc2Rounds,
      |dd2 AS MATERIALIZED (SELECT sum(v * v) AS d2 FROM u$PcaRounds),
      |t0 AS (SELECT i, CAST(CASE WHEN (i % 4) IN (1, 2) THEN 1000000
      |         ELSE -1000000 END AS HUGEINT) AS v FROM ssum),
      |$pc3Rounds,
      |sgn AS (SELECT coalesce((SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END
      |        FROM t$PcaRounds WHERE v <> 0 ORDER BY i LIMIT 1), 1)
      |        AS sg),
      |tf AS MATERIALIZED (
      |  SELECT i, v * (SELECT sg FROM sgn) AS v FROM t$PcaRounds),
      |ray AS (
      |  SELECT sum(va.v * s.s * vb.v) AS num
      |  FROM smat s JOIN tf va ON va.i = s.i JOIN tf vb ON vb.i = s.j),
      |dn AS (SELECT sum(v * v) AS den FROM tf),
      |lam AS (
      |  SELECT CASE WHEN dn.den > 0 THEN
      |           CAST(ray.num // (dn.den * (SELECT n FROM nn)) AS BIGINT)
      |         ELSE 0 END AS lam_q
      |  FROM ray CROSS JOIN dn)
      |SELECT tf.i, CAST(tf.v AS BIGINT) AS v_q,
      |       ${r4Sql("CAST(tf.v AS DOUBLE) / 1000000.0")} AS loading,
      |       lam.lam_q
      |FROM tf CROSS JOIN lam
      |ORDER BY i NULLS FIRST""".stripMargin
  }

  /** q_llm_pca_project oracle: both component chains (PC1 oriented +
    * PC2 oriented over the unoriented-PC1 deflation, texts identical
    * to the pca/pca2 oracles), then exact integer projections and the
    * 8x8 integer-binned grid. */
  private def pcaProjectOracleSql: String = {
    val pc1Rounds = (1 to PcaRounds).map { k =>
      val prev = if (k == 1) "v0" else s"v${k - 1}"
      s"""w$k AS MATERIALIZED (
        |  SELECT s.i, sum(s.s * v.v) AS w
        |  FROM smat s JOIN $prev v ON s.j = v.i GROUP BY 1),
        |m$k AS MATERIALIZED (SELECT max(abs(w)) AS m FROM w$k),
        |v$k AS MATERIALIZED (
        |  SELECT w$k.i,
        |         CASE WHEN m$k.m = 0 THEN $prev.v
        |              ELSE ((abs(w$k.w) * 1000000) // m$k.m) *
        |                   (CASE WHEN w$k.w < 0 THEN -1 ELSE 1 END)
        |         END AS v
        |  FROM w$k CROSS JOIN m$k JOIN $prev ON $prev.i = w$k.i)"""
        .stripMargin
    }.mkString(",\n")
    val pc2Rounds = (1 to PcaRounds).map { k =>
      val prev = if (k == 1) "u0" else s"u${k - 1}"
      s"""wu$k AS MATERIALIZED (
        |  SELECT s.i, sum(s.s * u.v) AS w
        |  FROM smat s JOIN $prev u ON s.j = u.i GROUP BY 1),
        |pj$k AS MATERIALIZED (
        |  SELECT sum(v$PcaRounds.v * w.w) AS p
        |  FROM v$PcaRounds JOIN wu$k w ON w.i = v$PcaRounds.i),
        |wp$k AS MATERIALIZED (
        |  SELECT w.i,
        |         w.w * (SELECT d1 FROM dd) -
        |           v$PcaRounds.v * (SELECT p FROM pj$k) AS w
        |  FROM wu$k w JOIN v$PcaRounds ON v$PcaRounds.i = w.i),
        |mu$k AS MATERIALIZED (SELECT max(abs(w)) AS m FROM wp$k),
        |u$k AS MATERIALIZED (
        |  SELECT wp.i,
        |         CASE WHEN mu$k.m = 0 THEN $prev.v
        |              WHEN mu$k.m >= 1000000 THEN
        |                (abs(wp.w) // (mu$k.m // 1000000)) *
        |                (CASE WHEN wp.w < 0 THEN -1 ELSE 1 END)
        |              ELSE ((abs(wp.w) * 1000000) // mu$k.m) *
        |                (CASE WHEN wp.w < 0 THEN -1 ELSE 1 END)
        |         END AS v
        |  FROM wp$k wp CROSS JOIN mu$k
        |  JOIN $prev ON $prev.i = wp.i)""".stripMargin
    }.mkString(",\n")
    s"""WITH flat AS MATERIALIZED (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
      |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000.0)
      |           AS BIGINT) AS q
      |  FROM embeddings),
      |gram AS MATERIALIZED (
      |  SELECT a.i, b.i AS j, sum(CAST(a.q AS HUGEINT) * b.q) AS g
      |  FROM flat a JOIN flat b ON a.vec_id = b.vec_id
      |  GROUP BY 1, 2),
      |ssum AS MATERIALIZED (
      |  SELECT i, CAST(sum(q) AS HUGEINT) AS s,
      |         CAST(count(*) AS HUGEINT) AS n
      |  FROM flat GROUP BY 1),
      |nn AS (SELECT max(n) AS n FROM ssum),
      |smat AS MATERIALIZED (
      |  SELECT g.i, g.j, nn.n * g.g - sa.s * sb.s AS s
      |  FROM gram g CROSS JOIN nn
      |  JOIN ssum sa ON sa.i = g.i JOIN ssum sb ON sb.i = g.j),
      |v0 AS (SELECT i, CAST(1000000 AS HUGEINT) AS v FROM ssum),
      |$pc1Rounds,
      |sg1 AS (SELECT coalesce((SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END
      |        FROM v$PcaRounds WHERE v <> 0 ORDER BY i LIMIT 1), 1)
      |        AS sg),
      |vf1 AS MATERIALIZED (
      |  SELECT i, v * (SELECT sg FROM sg1) AS v FROM v$PcaRounds),
      |dd AS MATERIALIZED (SELECT sum(v * v) AS d1 FROM v$PcaRounds),
      |u0 AS (SELECT i, CAST(CASE WHEN i % 2 = 1 THEN 1000000
      |         ELSE -1000000 END AS HUGEINT) AS v FROM ssum),
      |$pc2Rounds,
      |sg2 AS (SELECT coalesce((SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END
      |        FROM u$PcaRounds WHERE v <> 0 ORDER BY i LIMIT 1), 1)
      |        AS sg),
      |uf AS MATERIALIZED (
      |  SELECT i, v * (SELECT sg FROM sg2) AS v FROM u$PcaRounds),
      |proj AS MATERIALIZED (
      |  SELECT f.vec_id,
      |         CAST(sum(CAST(f.q AS HUGEINT) * vf1.v) AS BIGINT) AS p1,
      |         CAST(sum(CAST(f.q AS HUGEINT) * uf.v) AS BIGINT) AS p2
      |  FROM flat f JOIN vf1 ON vf1.i = f.i JOIN uf ON uf.i = f.i
      |  GROUP BY 1),
      |rng AS (
      |  SELECT min(p1) AS lo1, max(p1) AS hi1,
      |         min(p2) AS lo2, max(p2) AS hi2
      |  FROM proj)
      |SELECT ((p1 - lo1) * 8) // (hi1 - lo1 + 1) AS b1,
      |       ((p2 - lo2) * 8) // (hi2 - lo2 + 1) AS b2,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM proj CROSS JOIN rng
      |GROUP BY 1, 2
      |ORDER BY b1 NULLS FIRST, b2 NULLS FIRST""".stripMargin
  }

  /** Shared by q_llm_cosine_topk and its SQL-surface twin
    * q_sql_cosine_topk (same result contract through both entries). */
  private val cosineTopkOracle: String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |z AS (SELECT e.vec_id, unnest(e.embedding) AS x, unnest(q.qe) AS y
      |      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0),
      |s AS (SELECT vec_id,
      |             sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
      |             sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS na,
      |             sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS nb
      |      FROM z GROUP BY vec_id)
      |SELECT vec_id, ${r4Sql("dot / (sqrt(na) * sqrt(nb))")} AS sim
      |FROM s
      |ORDER BY sim DESC NULLS LAST, vec_id NULLS FIRST LIMIT 5""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_llm_kendall_norms" -> {
      val tau = "(CAST(nc AS DOUBLE) - CAST(nd AS DOUBLE)) / " +
        "sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * " +
        "(CAST(nyt2 AS DOUBLE) / 2.0))"
      s"""WITH norms AS MATERIALIZED (
        |  SELECT vec_id, CAST(label AS BIGINT) AS lab,
        |         CAST(sum(q * q) AS BIGINT) AS x
        |  FROM (SELECT vec_id, label,
        |          CAST(floor(CAST(UNNEST(embedding) AS DOUBLE) *
        |            1000000.0) AS BIGINT) AS q
        |        FROM embeddings)
        |  GROUP BY 1, 2),
        |byv AS MATERIALIZED (
        |  SELECT lab, x, CAST(count(*) AS BIGINT) AS c
        |  FROM norms GROUP BY 1, 2),
        |perl AS (
        |  SELECT lab, CAST(sum(c) AS BIGINT) AS n_g,
        |         sum(CAST(c AS HUGEINT) * (c - 1)) AS tself2
        |  FROM byv GROUP BY 1),
        |grid AS (
        |  SELECT s.lab, g.x, COALESCE(byv.c, 0) AS c
        |  FROM (SELECT DISTINCT lab FROM byv) s
        |  CROSS JOIN (SELECT DISTINCT x FROM byv) g
        |  LEFT JOIN byv ON byv.lab = s.lab AND byv.x = g.x),
        |cums AS MATERIALIZED (
        |  SELECT lab, x, c,
        |         sum(c) OVER (PARTITION BY lab ORDER BY x NULLS FIRST
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS cum,
        |         sum(c) OVER (PARTITION BY lab) AS n_g
        |  FROM grid),
        |pair AS (
        |  SELECT a.lab AS l1, b.lab AS l2,
        |         CAST(a.n_g AS BIGINT) AS n1,
        |         CAST(b.n_g AS BIGINT) AS n2,
        |         sum(CAST(a.c AS HUGEINT) * (b.n_g - b.cum)) AS nc,
        |         sum(CAST(a.c AS HUGEINT) * (b.cum - b.c)) AS nd,
        |         sum(CAST(a.c AS HUGEINT) * b.c) AS crosst
        |  FROM cums a JOIN cums b ON a.x = b.x AND a.lab < b.lab
        |  GROUP BY 1, 2, 3, 4)
        |SELECT l1, l2, n1, n2, CAST(nc AS BIGINT) AS n_conc,
        |       CAST(nd AS BIGINT) AS n_disc,
        |       CASE WHEN n1 > 0 AND n2 > 0 AND nyt2 > 0 THEN
        |         ${Det.r4Sql(tau)}
        |       END AS tau_b
        |FROM (
        |  SELECT pair.*, t1.tself2 AS ty1, t2.tself2 AS ty2,
        |         CAST(n1 + n2 AS HUGEINT) * (n1 + n2 - 1) -
        |           (t1.tself2 + t2.tself2 + crosst * 2) AS nyt2
        |  FROM pair
        |  JOIN perl t1 ON t1.lab = pair.l1
        |  JOIN perl t2 ON t2.lab = pair.l2)
        |ORDER BY l1 NULLS FIRST, l2 NULLS FIRST""".stripMargin
    },
    "q_llm_pca_power" -> pcaOracleSql,
    "q_llm_pca2_power" -> pca2OracleSql,
    "q_llm_pca3_power" -> pca3OracleSql,
    "q_llm_pca_project" -> pcaProjectOracleSql,
    "q_llm_semdedup" ->
      s"""WITH flat AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS d,
        |         CAST(floor(CAST(UNNEST(embedding) AS DOUBLE) * 1000000.0)
        |           AS BIGINT) AS qx
        |  FROM embeddings),
        |sgn AS (
        |  SELECT vec_id,
        |         CAST(sum(CASE WHEN qx >= 0 THEN (1 << (d - 1))
        |           ELSE 0 END) AS BIGINT) AS bucket
        |  FROM flat WHERE d <= 8 GROUP BY 1),
        |nr AS (SELECT vec_id, CAST(sum(qx * qx) AS BIGINT) AS n2
        |       FROM flat GROUP BY 1),
        |fa AS (SELECT f.vec_id, s.bucket, f.d, f.qx
        |       FROM flat f JOIN sgn s USING (vec_id)),
        |dots AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.bucket,
        |         CAST(sum(a.qx * b.qx) AS BIGINT) AS dot
        |  FROM fa a JOIN fa b ON a.bucket = b.bucket AND a.d = b.d
        |    AND a.vec_id < b.vec_id
        |  GROUP BY 1, 2, 3),
        |cand AS (
        |  SELECT dots.a_id, dots.b_id, dots.bucket, dots.dot,
        |         na.n2 AS na2, nb.n2 AS nb2
        |  FROM dots JOIN nr na ON na.vec_id = dots.a_id
        |  JOIN nr nb ON nb.vec_id = dots.b_id
        |  WHERE dot > 0
        |    AND CAST(dot * 5 AS DECIMAL(19,0)) * CAST(dot * 5
        |          AS DECIMAL(19,0))
        |        >= CAST(na.n2 * 2 AS DECIMAL(19,0)) * CAST(nb.n2 * 2
        |          AS DECIMAL(19,0))),
        |pr AS (
        |  SELECT b_id AS pruned_id, a_id AS kept_id, bucket, dot, na2,
        |         nb2,
        |         row_number() OVER (PARTITION BY b_id
        |           ORDER BY a_id NULLS FIRST) AS rk
        |  FROM cand)
        |SELECT pruned_id, kept_id, bucket,
        |       ${r4Sql("CAST(dot AS DOUBLE) / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE)))")} AS cos_kept
        |FROM pr WHERE rk = 1
        |ORDER BY pruned_id NULLS FIRST""".stripMargin,
    "q_llm_embed_drift" ->
      s"""WITH q AS (
        |  SELECT vec_id % 2 AS h, generate_subscripts(embedding, 1) AS dim,
        |         CAST(floor(CAST(UNNEST(embedding) AS DOUBLE) * 1000000.0)
        |           AS BIGINT) AS qv
        |  FROM embeddings),
        |s AS (SELECT h, dim, CAST(sum(qv) AS BIGINT) AS s
        |      FROM q GROUP BY 1, 2),
        |c AS (
        |  SELECT
        |    CAST(sum(CAST(a.s AS DECIMAL(19,0)) * CAST(b.s AS DECIMAL(19,0)))
        |      AS DOUBLE) AS sab,
        |    CAST(sum(CAST(a.s AS DECIMAL(19,0)) * CAST(a.s AS DECIMAL(19,0)))
        |      AS DOUBLE) AS saa,
        |    CAST(sum(CAST(b.s AS DECIMAL(19,0)) * CAST(b.s AS DECIMAL(19,0)))
        |      AS DOUBLE) AS sbb
        |  FROM s a JOIN s b ON a.dim = b.dim AND a.h = 0 AND b.h = 1),
        |n AS (
        |  SELECT CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_a,
        |         CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_b
        |  FROM embeddings)
        |SELECT n_a, n_b,
        |       ${Det.r4Sql("sab / (sqrt(saa) * sqrt(sbb))")} AS centroid_cosine
        |FROM n CROSS JOIN c""".stripMargin,
    "q_llm_kmeans" -> kmeansOracleSql,
    "q_sql_cosine_topk" -> cosineTopkOracle,
    "q_llm_cosine_topk" -> cosineTopkOracle,
    "q_llm_embed_diversity" ->
      s"""WITH flat AS (
        |  SELECT vec_id, label, generate_subscripts(embedding, 1) AS d,
        |         CAST(UNNEST(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |nr AS (SELECT vec_id, sum(x*x) AS ss FROM flat GROUP BY 1),
        |unit AS (SELECT label, d, x / sqrt(ss) AS u
        |         FROM flat JOIN nr USING (vec_id)),
        |sd AS (SELECT label, d, sum(u) AS sd FROM unit GROUP BY 1, 2),
        |cnt AS (SELECT label, CAST(count(*) AS BIGINT) AS n
        |        FROM embeddings GROUP BY 1)
        |SELECT label, n,
        |       ${r4Sql("(sum(sd*sd) - n) / (n * (n - 1))")} AS mean_pairwise_cos
        |FROM sd JOIN cnt USING (label)
        |GROUP BY label, n
        |ORDER BY label NULLS FIRST""".stripMargin
  )
}
