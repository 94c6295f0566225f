package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.util.Rounds

/** Connected components over the near-duplicate candidate-pair graph —
  * the cluster-resolution step between pair verification and doc
  * dropping. Greedy per-pair dropping over-deletes on chains (a~b~c
  * drops BOTH b and c even though dropping b alone leaves no verified
  * pair); electing one canonical doc per connected component is what a
  * real curation run does.
  *
  * Two execution paths, picked by measured edge count:
  *
  *  - BOUNDED graphs (the common case — the verified-pair set is
  *    LSH-bounded, orders of magnitude smaller than the corpus): one
  *    cached pass over the deduped edge list (count = sizing probe +
  *    cache fill, collect reads the cache) and a driver-side
  *    union-find, O(E α(E)) — the same "model-sized driver state"
  *    discipline as the ANN quantizer's bounded sample. No per-round
  *    Spark jobs. NOTE: resolution is necessarily EAGER (a fixpoint
  *    can't be one Catalyst plan), so a consumer that would have pruned
  *    the near-dup subtree (e.g. count() over the report) now pays for
  *    it — that cost is real work the pruned plan was skipping.
  *  - LARGE graphs (a pathological dup-heavy corpus where even the pair
  *    set is distributed-sized): iterative min-label propagation (the
  *    standard map-reduce connected-components formulation, Kang et al.
  *    PEGASUS, ICDM'09) — every node starts labeled with its own id and
  *    each round adopts the minimum label among itself and its
  *    neighbors; fixpoint in diameter(component) rounds. Everything is
  *    a bucketed equi-join on ids, each round localCheckpoints the
  *    label table so lineage stays O(1), and the per-round convergence
  *    test reads the just-materialized checkpoint (no recompute).
  */
object DupCluster {

  /** Propagation-round cap for the distributed path. A component with
    * diameter beyond this keeps multiple labels (over-keeps, never
    * over-drops) — far past anything a 0.5-Jaccard LSH chain produces. */
  private val MaxRounds = 16

  /** Edges at or below this collect to the driver (two longs each:
    * 4M edges ≈ 64 MB) — past it, the distributed propagation runs. */
  private val CollectEdges = 1L << 22

  /** Driver union-find with min id as root (merging two roots keeps the
    * smaller, so by induction every root is its component's minimum).
    * ITERATIVE find (walk to root, then compress): parent chains can
    * reach O(#edges) depth before compression — at the 4M-edge collect
    * bound a recursive find would overflow the driver stack. Returns one
    * (id, min-label) row per id appearing in `edges`. */
  private def unionFindLabels(edges: Array[(Long, Long)])
      : Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElse(root, root) != root)
        root = parent.getOrElse(root, root)
      var cur = x
      while (cur != root) {
        val next = parent.getOrElse(cur, cur)
        parent(cur) = root
        cur = next
      }
      root
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct.toSeq
      .map(x => (x, find(x)))
  }

  /** Resolve `pairs` (columns `a_id`, `b_id`, LONG doc ids — one row per
    * verified near-dup pair) into components: returns (id, label) where
    * `label` is the minimum member id of the component — the canonical
    * doc to KEEP; every id with `id != label` is a drop candidate. */
  def resolve(pairs: DataFrame,
      collectThreshold: Long = CollectEdges): DataFrame = {
    val undirected = pairs
      .select(least(col("a_id"), col("b_id")).as("a"),
        greatest(col("a_id"), col("b_id")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try resolveNormalized(undirected, collectThreshold)
    finally undirected.unpersist(blocking = false)
  }

  /** [[resolve]]'s core for edges the CALLER already guarantees
    * normalized (`a` < `b`, distinct) and cache-backed — skips the
    * re-normalization pass and the extra persist (r17 advice: the
    * ladder's distributed fallback stacked four overlapping persists
    * of the same edge data). */
  private def resolveNormalized(undirected: DataFrame,
      collectThreshold: Long): DataFrame = {
    val spark = undirected.sparkSession
    import spark.implicits._
    // The count is the sizing probe AND the cache fill: the upstream
    // candidate pipeline runs exactly once, at full parallelism (a
    // limit(n).collect() probe would run CollectLimitExec's sequential
    // 1→4→16-partition ramp instead); everything after reads the cache.
    val nEdges = undirected.count()
    if (nEdges == 0) return Seq.empty[(Long, Long)].toDF("id", "label")

    if (nEdges <= collectThreshold) {
      // driver union-find, min id as root — the result is a
      // LocalRelation, so downstream joins broadcast it
      val edges = undirected.collect().map(r => (r.getLong(0), r.getLong(1)))
      unionFindLabels(edges).toDF("id", "label")
    } else {
      val edges = undirected
        .select(col("a").as("src"), col("b").as("dst"))
        .union(undirected.select(col("b").as("src"), col("a").as("dst")))
      val init = edges.select(col("src").as("id")).distinct()
        .withColumn("label", col("id"))
        .localCheckpoint()
      // its own round body, not RelationalOps.minLabels: the `improved`
      // flag rides the round's checkpoint, and its isEmpty probe runs
      // fewer jobs than the shared change-count join (the spec inputs:
      // 29 vs 35 on the chains, 17 vs 19 on the LSH pairs)
      val noneImproved: Rounds.Probe[DataFrame] = Some((_, next) =>
        if (next.where(col("improved")).isEmpty) 0L else 1L)
      Rounds(init, MaxRounds, noneImproved) { labels =>
        val neighborMin = edges
          .join(labels.select(col("id").as("dst"),
            col("label").as("nlabel")), Seq("dst"))
          .groupBy(col("src").as("id")).agg(min(col("nlabel")).as("nlabel"))
        labels.join(neighborMin, Seq("id"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("nlabel"), col("label")))
              .as("label"),
            (col("nlabel") < col("label")).as("improved"))
          .localCheckpoint()
      }._1.select(col("id"), col("label"))
    }
  }

  /** LADDER resolve (r17 optimization): `edges` carries one row per
    * LOOSE-cut core edge (`a_id` < `b_id`, caller-guaranteed distinct)
    * plus boolean flags `eB`/`eT` marking membership in the BASE and
    * TIGHT edge subsets (monotone nesting: tight ⊆ base ⊆ loose — the
    * densityStability ladder). Returns (loose, base, tight) label
    * tables, each bit-identical to [[resolve]] run on the corresponding
    * subset. Bounded graphs pay ONE cache fill + ONE collect for all
    * three union-finds (was three full resolve chains = 3 counts, 3
    * collects, 3 persists over overlapping edge sets); past the collect
    * bound each level falls back to the distributed propagation
    * independently — the 100 TB posture is unchanged. */
  def resolveLadder(edges: DataFrame,
      collectThreshold: Long = CollectEdges)
      : (DataFrame, DataFrame, DataFrame) = {
    val spark = edges.sparkSession
    import spark.implicits._
    val undirected = edges
      .select(least(col("a_id"), col("b_id")).as("a"),
        greatest(col("a_id"), col("b_id")).as("b"),
        col("eB"), col("eT"))
      .where(col("a") =!= col("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nEdges = undirected.count()
      val empty = Seq.empty[(Long, Long)].toDF("id", "label")
      if (nEdges == 0) (empty, empty, empty)
      else if (nEdges <= collectThreshold) {
        val rows = undirected.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3)))
        def level(sel: ((Long, Long, Boolean, Boolean)) => Boolean)
            : DataFrame = {
          val es = rows.filter(sel).map(e => (e._1, e._2))
          if (es.isEmpty) empty
          else unionFindLabels(es).toDF("id", "label")
        }
        (level(_ => true), level(_._3), level(_._4))
      } else {
        // the parent `undirected` is already normalized (a<b, caller-
        // guaranteed distinct) and persisted — each level is a filtered
        // view over that one cache, no re-normalization, no per-level
        // persist (r17 advice)
        def sub(flag: Option[String]): DataFrame = resolveNormalized(
          flag.fold(undirected)(f => undirected.where(col(f)))
            .select(col("a"), col("b")),
          collectThreshold)
        (sub(None), sub(Some("eB")), sub(Some("eT")))
      }
    } finally undirected.unpersist(blocking = false)
  }
}
