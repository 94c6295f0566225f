package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RelationalSpec extends AnyFunSuite {
  import graft.rel.RelationalOps
  private def spark = TestSpark.spark
  private def sf = TestSpark.sf

  test("scan_project prunes columns and limits") {
    val df = RelationalOps.scanProject(spark, sf)
    assert(df.columns.length == 5 && df.count() == 100)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema"), "projection should reach the scan")
  }

  test("filter_pred pushes predicates into the parquet scan") {
    val plan = RelationalOps.filterPred(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("o_totalprice"), s"filters not pushed:\n$plan")
  }

  test("join_broadcast picks a BroadcastHashJoin") {
    val plan = RelationalOps.joinBroadcast(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast:\n$plan")
  }

  test("join_left preserves all customers") {
    val n = RelationalOps.joinLeft(spark, sf).count()
    val c = graft.io.Tables.customer(spark, sf).count()
    assert(n == c)
  }

  test("semi + anti partition parts/customers consistently") {
    val semi = RelationalOps.joinSemi(spark, sf).count()
    val parts = graft.io.Tables.part(spark, sf).count()
    assert(semi <= parts && semi > 0)
    val anti = RelationalOps.joinAnti(spark, sf).count()
    val cust = graft.io.Tables.customer(spark, sf).count()
    assert(anti < cust) // most customers have an urgent order
  }

  test("asof: signup_ts is never after the purchase ts") {
    val bad = RelationalOps.joinAsof(spark, sf)
      .where(col("signup_ts") > col("p_ts")).count()
    assert(bad == 0)
  }

  test("rollup emits per-pair, per-flag and grand-total rows") {
    val rows = RelationalOps.aggRollupSets(spark, sf).collect()
    val grand = rows.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length == 1)
    val lineCount = graft.io.Tables.lineitem(spark, sf).count()
    assert(grand.head.getLong(2) == lineCount)
  }

  test("agg_hll approximates exact distinct within 5%") {
    val approx = RelationalOps.aggHll(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = RelationalOps.aggDistinct(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, ex) =>
      assert(math.abs(approx(k) - ex).toDouble / ex < 0.05,
        s"$k: approx=${approx(k)} exact=$ex")
    }
  }

  test("upsert snapshot: live = base - tombstones, updates all survive") {
    import org.apache.spark.sql.functions._
    val o = graft.io.Tables.orders(spark, sf)
    val nBase = o.count()
    val nUpd = o.where(col("o_orderkey") % 10 === 0).count()
    val nDel = o.where(col("o_orderkey") % 97 === 3 &&
      col("o_orderkey") % 10 =!= 0).count()
    val snap = RelationalOps.upsertSnapshot(spark, sf).collect()
    assert(snap.map(_.getLong(1)).sum == nBase - nDel,
      "tombstoned keys must drop from the snapshot")
    assert(snap.map(_.getLong(2)).sum == nUpd,
      "every updated key must survive at version 1")
  }

  test("approx_pctl: every sketched quantile lands in the exact rank band") {
    import org.apache.spark.sql.functions._
    val vals = graft.io.Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_quantity")).collect()
      .map(r => r.getString(0) -> r.getDouble(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    RelationalOps.aggApproxPercentile(spark, sf).collect().foreach { r =>
      val (flag, n) = (r.getString(0), r.getLong(1))
      val s = vals(flag)
      assert(n == s.length.toLong)
      // GK with accuracy=100 bounds rank error by n/100; allow 2x slack
      val eps = math.max(1, s.length / 50)
      for ((q, got) <- Seq(0.5 -> r.getDouble(2), 0.9 -> r.getDouble(3))) {
        val rank = (q * (s.length - 1)).toInt
        val lo = s(math.max(0, rank - eps))
        val hi = s(math.min(s.length - 1, rank + eps))
        assert(got >= lo && got <= hi,
          s"$flag p$q: $got outside [$lo, $hi]")
      }
    }
  }

  test("converged pagerank at 3 forced rounds == the sliced oracle twin") {
    // same kernel, slice subgraph, round budget pinned to the oracle's
    // 3 (tol=0 only stops early at an exact fixpoint, where the fixed-
    // round result is identical anyway) → bit-equal top-20 read
    val oracle = RelationalOps.partPagerank(spark, sf)
      .collect().map(_.toSeq).toSeq
    val twin = RelationalOps
      .partPagerankConverged(spark, sf, Some(4), maxRounds = 3,
        tolScaled = 0L)
      .orderBy(col("rank_scaled").desc, col("node")).limit(20)
      .collect().map(_.toSeq).toSeq
    assert(oracle.nonEmpty && twin == oracle)
  }

  test("full-graph pagerank converges under the cap, mass conserved") {
    val all = RelationalOps.partPagerankConverged(spark, sf)
    val rows = all.collect()
    assert(rows.nonEmpty)
    // every rank at least the damped floor, none degenerate
    assert(rows.forall(_.getLong(2) >= 150000L))
    // damped PageRank with no dangling nodes (symmetrized edges give
    // every node outdeg >= 1) keeps total mass near n * 10^6; integer
    // floor-div leaks strictly downward, never up
    val n = rows.length.toLong
    val mass = rows.map(_.getLong(2)).sum
    assert(mass <= n * 1000000L && mass > (n * 1000000L * 9) / 10,
      s"mass $mass out of band for n=$n")
    // full graph strictly contains the pk%4 slice's node set
    val sliceNodes = RelationalOps
      .partPagerankConverged(spark, sf, Some(4), maxRounds = 1)
      .select("node").collect().map(_.getLong(0)).toSet
    val fullNodes = rows.map(_.getLong(0)).toSet
    assert(sliceNodes.subsetOf(fullNodes) && fullNodes.size > sliceNodes.size)
  }

  test("converged k-core at 6 forced rounds == the unrolled oracle twin") {
    // the oracle form unrolls six peels; the production twin with the
    // round budget pinned to six must read bit-equal
    val oracle = RelationalOps.partKcore(spark, sf)
      .collect().map(_.toSeq).toSeq
    val twin = RelationalOps.kcoreConverged(spark, sf, maxRounds = 6)
      .collect().map(_.toSeq).toSeq
    assert(oracle.nonEmpty && twin == oracle)
  }

  test("k-core fixpoint: every survivor keeps degree >= k, peel stable") {
    val rows = RelationalOps.kcoreConverged(spark, sf).collect()
    assert(rows.nonEmpty)
    // at a true fixpoint the 3-core guarantee holds for every survivor
    assert(rows.forall(_.getLong(1) >= 3L),
      s"non-core survivor: ${rows.find(_.getLong(1) < 3L)}")
    // one more peel changes nothing (fixpoint reached, not round-capped)
    val again = RelationalOps.kcoreConverged(spark, sf, maxRounds = 65)
      .collect().map(_.toSeq).toSeq
    assert(again == rows.map(_.toSeq).toSeq)
  }

  test("converged k-truss at 3 forced rounds == the unrolled oracle twin") {
    val oracle = RelationalOps.partKtruss(spark, sf)
      .collect().map(_.toSeq).toSeq
    val twin = RelationalOps.ktrussConverged(spark, sf, maxRounds = 3)
      .collect().map(_.toSeq).toSeq
    assert(oracle.nonEmpty && twin == oracle)
  }

  test("k-truss fixpoint: every surviving edge keeps support >= k-2; " +
      "truss subset-of core") {
    val rows = RelationalOps.ktrussConverged(spark, sf).collect()
    assert(rows.nonEmpty)
    // 4-truss: every surviving edge sits in >= 2 surviving triangles
    assert(rows.forall(_.getLong(2) >= 2L),
      s"under-supported edge: ${rows.find(_.getLong(2) < 2L)}")
    // one more peel changes nothing (a genuine fixpoint)
    val again = RelationalOps.ktrussConverged(spark, sf, maxRounds = 65)
      .collect().map(_.toSeq).toSeq
    assert(again == rows.map(_.toSeq).toSeq)
    // containment: every 4-truss endpoint survives the 3-core peel
    // (truss-subset-of-core, Cohen 2008)
    val coreNodes = RelationalOps.kcoreConverged(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val trussNodes = rows.flatMap(r => Seq(r.getLong(0), r.getLong(1)))
    // kcoreConverged reports top-20 only; verify containment through
    // degrees instead when the set is truncated
    if (coreNodes.size < 20) {
      assert(trussNodes.forall(coreNodes.contains),
        "4-truss endpoint missing from the 3-core")
    }
  }

  test("jaccard: every reported pair verified against brute force") {
    val top = RelationalOps.partJaccard(spark, sf).collect()
    assert(top.length == 15)
    // rebuild the co-purchase neighbor sets driver-side (oracle scale)
    val baskets = graft.io.Tables.lineitem(spark, sf)
      .where(col("l_partkey") % 4 === 0)
      .select(col("l_orderkey"), col("l_partkey"))
      .distinct().collect()
      .groupBy(_.getLong(0)).values
      .map(_.map(_.getLong(1)).toSet).toSeq
    def nbrs(v: Long): Set[Long] =
      baskets.filter(_.contains(v)).flatMap(_ - v).toSet
    for (r <- top) {
      val (n1, n2) = (nbrs(r.getLong(0)), nbrs(r.getLong(1)))
      assert(r.getLong(2) == (n1 & n2).size.toLong,
        s"common mismatch for (${r.getLong(0)}, ${r.getLong(1)})")
      assert(r.getLong(3) == (n1 | n2).size.toLong,
        s"union mismatch for (${r.getLong(0)}, ${r.getLong(1)})")
    }
  }

  test("components: 8 fixed rounds converge (equal the fixpoint twin)") {
    val fixed = RelationalOps.partComponents(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(fixed.nonEmpty)
    val conv = RelationalOps.componentsConverged(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(fixed == conv,
      "8 unrolled min-label rounds must reach the fixpoint labels")
    // every component label is its own lowest member (min-label fixpoint)
    fixed.foreach { r =>
      assert(r(1).asInstanceOf[Long] >= 1L)
    }
  }

  test("jaccard capped twin: full recall at high cap, exact values always") {
    val exact = RelationalOps.partJaccard(spark, sf).collect()
      .map(_.toSeq).toSeq
    // cap >= max degree: candidate generation is uncapped -> identical
    val wide = RelationalOps.partJaccardCapped(spark, sf, cap = 1000000)
      .collect().map(_.toSeq).toSeq
    assert(wide == exact, "capped twin at cap >= max degree must be " +
      s"row-identical to the exact form: $wide vs $exact")
    // tighter caps: every emitted row's VALUES are exact (verification
    // runs on full neighbor lists) and candidates nest as cap grows
    val baskets = graft.io.Tables.lineitem(spark, sf)
      .where(col("l_partkey") % 4 === 0)
      .select(col("l_orderkey"), col("l_partkey"))
      .distinct().collect()
      .groupBy(_.getLong(0)).values
      .map(_.map(_.getLong(1)).toSet).toSeq
    def nbrs(v: Long): Set[Long] =
      baskets.filter(_.contains(v)).flatMap(_ - v).toSet
    for (cap <- Seq(2, 4, 8)) {
      val rows = RelationalOps.partJaccardCapped(spark, sf, cap).collect()
      for (r <- rows) {
        val (n1, n2) = (nbrs(r.getLong(0)), nbrs(r.getLong(1)))
        assert(r.getLong(2) == (n1 & n2).size.toLong,
          s"cap=$cap common mismatch (${r.getLong(0)}, ${r.getLong(1)})")
        assert(r.getLong(3) == (n1 | n2).size.toLong,
          s"cap=$cap union mismatch (${r.getLong(0)}, ${r.getLong(1)})")
      }
    }
  }

  test("pointer-doubling components: O(log d) on a diameter-299 path " +
      "the O(d) twin cannot finish; fixture labels bit-equal") {
    // fixture bit-equality: same summary as the 8-round oracle query
    val fixed = RelationalOps.partComponents(spark, sf)
      .collect().map(_.toSeq).toSeq
    val pd = RelationalOps.partComponentsPd(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(pd == fixed,
      "pointer-doubling labels must summarize identically")
    // crafted long path: 0-1-2-...-299 (diameter 299 >> 64)
    val sp = spark
    import sp.implicits._
    val n = 300
    val edges = (0L until (n - 1).toLong).map(i => (i, i + 1)).toSeq
    val sym = edges.toDF("src", "dst")
      .unionByName(edges.map(_.swap).toDF("src", "dst"))
      .localCheckpoint()
    val nodes = sym.select(col("src").as("node")).distinct()
      .withColumn("comp", col("node"))
    val (labels, rounds) = RelationalOps.componentsDoubling(sym, nodes,
      maxRounds = 16)
    val comps = labels.select("comp").distinct().collect()
      .map(_.getLong(0)).toSeq
    assert(comps == Seq(0L),
      s"path must collapse to component 0, got $comps")
    assert(rounds <= 16,
      s"doubling must converge in a log-bounded budget, used $rounds")
    // separation: 16 plain min-label rounds leave the far end unlabeled
    // (reach grows by 1/round), so the O(d) twin's 16-round prefix has
    // NOT converged on this graph
    var plain = nodes
    for (_ <- 1 to 16)
      plain = RelationalOps.componentStep(sym, plain)
    val plainComps = plain.select("comp").distinct().count()
    assert(plainComps > 1,
      "plain propagation should still be unconverged at 16 rounds — " +
        "fixture no longer separates the twins")
  }

  test("resource-alloc capped twin: full recall at high cap, exact " +
      "values always") {
    val exact = RelationalOps.partResourceAlloc(spark, sf).collect()
      .map(_.toSeq).toSeq
    // cap >= max degree: candidate generation is uncapped -> identical
    val wide = RelationalOps.partResourceAllocCapped(spark, sf,
      cap = 1000000).collect().map(_.toSeq).toSeq
    assert(wide == exact, "capped twin at cap >= max degree must be " +
      s"row-identical to the exact form: $wide vs $exact")
    // tighter caps: every emitted row's (common_n, ra_q) are exact —
    // verification re-sums quantized 1/d(w) over FULL adjacency
    val baskets = graft.io.Tables.lineitem(spark, sf)
      .where(col("l_partkey") % 4 === 0)
      .select(col("l_orderkey"), col("l_partkey"))
      .distinct().collect()
      .groupBy(_.getLong(0)).values
      .map(_.map(_.getLong(1)).toSet).toSeq
    def nbrs(v: Long): Set[Long] =
      baskets.filter(_.contains(v)).flatMap(_ - v).toSet
    for (cap <- Seq(2, 4, 8)) {
      val rows = RelationalOps.partResourceAllocCapped(spark, sf, cap)
        .collect()
      for (r <- rows) {
        val (n1, n2) = (nbrs(r.getLong(0)), nbrs(r.getLong(1)))
        val common = n1 & n2
        assert(r.getLong(2) == common.size.toLong,
          s"cap=$cap common mismatch (${r.getLong(0)}, ${r.getLong(1)})")
        val raQ = common.toSeq.map(w => 1000000000000L / nbrs(w).size).sum
        assert(r.getLong(3) == raQ,
          s"cap=$cap ra_q mismatch (${r.getLong(0)}, ${r.getLong(1)}): " +
            s"${r.getLong(3)} != $raQ")
      }
    }
  }

  test("pref-attach capped twin: full recall at high cap, exact " +
      "values always") {
    val exact = RelationalOps.partPrefAttach(spark, sf).collect()
      .map(_.toSeq).toSeq
    // cap >= max degree: candidate generation is uncapped -> identical
    val wide = RelationalOps.partPrefAttachCapped(spark, sf,
      cap = 1000000).collect().map(_.toSeq).toSeq
    assert(wide == exact, "capped twin at cap >= max degree must be " +
      s"row-identical to the exact form: $wide vs $exact")
    // tighter caps: every emitted row's (common_n, pa_q) are exact —
    // commons verified on full adjacency, pa_q from the full degree
    val baskets = graft.io.Tables.lineitem(spark, sf)
      .where(col("l_partkey") % 4 === 0)
      .select(col("l_orderkey"), col("l_partkey"))
      .distinct().collect()
      .groupBy(_.getLong(0)).values
      .map(_.map(_.getLong(1)).toSet).toSeq
    def nbrs(v: Long): Set[Long] =
      baskets.filter(_.contains(v)).flatMap(_ - v).toSet
    for (cap <- Seq(2, 4, 8)) {
      val rows = RelationalOps.partPrefAttachCapped(spark, sf, cap)
        .collect()
      for (r <- rows) {
        val (n1, n2) = (nbrs(r.getLong(0)), nbrs(r.getLong(1)))
        assert(r.getLong(2) == (n1 & n2).size.toLong,
          s"cap=$cap common mismatch (${r.getLong(0)}, ${r.getLong(1)})")
        assert(r.getLong(3) == n1.size.toLong * n2.size.toLong,
          s"cap=$cap pa_q mismatch (${r.getLong(0)}, ${r.getLong(1)})")
      }
    }
  }

  test("hits converged twin: bit-equal at the oracle's budget; " +
      "converges under the default cap") {
    val oracle = RelationalOps.partHits(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(oracle.length == 20, s"10 per side expected: ${oracle.length}")
    // forced to the oracle's 3 rounds (tol 0 stops only at an exact
    // fixpoint, after which further rounds are identity) -> bit-equal
    val forced = RelationalOps.partHitsConverged(spark, sf,
      maxRounds = 3, tolScaled = 0L).collect().map(_.toSeq).toSeq
    assert(forced == oracle,
      s"forced-budget twin diverged: $forced vs $oracle")
    // default cap: converges to a full 10-per-side summary
    val conv = RelationalOps.partHitsConverged(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(conv.length == 20)
  }

  test("distributed two-pass cliffs delta == the merged-grid-window " +
      "oracle") {
    val oracle = RelationalOps.aggCliffsDelta(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(oracle.nonEmpty)
    Seq(1, 3, 8, 17).foreach { p =>
      val twin = RelationalOps.cliffsDeltaDistributed(spark, sf, p)
        .collect().map(_.toSeq).toSeq
      assert(twin == oracle, s"diverged at $p partitions: $twin vs $oracle")
    }
  }

  test("cvm drift: omega2 in [0, 1000]; mcnemar cells conserve users") {
    val cvm = RelationalOps.cvmDrift(spark, sf).collect()
    assert(cvm.length == 4)
    cvm.foreach { r =>
      val o = r.getDouble(3)
      assert(o >= 0.0 && o <= 1000.0,
        s"${r.getString(0)}: omega2_x1000 out of range: $o")
    }
    val mc = RelationalOps.aggMcnemar(spark, sf).collect().head
    val users = graft.io.Tables.events(spark, sf)
      .select(col("user_id")).distinct().count()
    assert(mc.getLong(0) + mc.getLong(1) + mc.getLong(2) +
      mc.getLong(3) == users,
      s"mcnemar cells must partition the user base: $mc vs $users")
  }

  test("winsorized mean sits inside its cut band; cronbach alpha <= 1") {
    RelationalOps.aggWinsorMean(spark, sf).collect().foreach { r =>
      val (p10, p90, wm) = (r.getDouble(2), r.getDouble(3),
        r.getDouble(4))
      assert(p10 <= p90, s"${r.getString(0)}: cuts inverted")
      assert(wm >= p10 - 1e-9 && wm <= p90 + 1e-9,
        s"${r.getString(0)}: wmean $wm outside [$p10, $p90]")
    }
    val a = RelationalOps.aggCronbachAlpha(spark, sf).collect().head
    assert(a.getLong(0) == 4L, "k = 4 items")
    // alpha <= 1 always; can be negative on anti-correlated items
    assert(a.isNullAt(2) || a.getDouble(2) <= 1.0 + 1e-9,
      s"alpha out of band: $a")
  }

  test("gehan weighted logrank: population conserved, sign agrees " +
      "with the unweighted test on this fixture") {
    val g = RelationalOps.survGehan(spark, sf).collect().head
    val users = graft.io.Tables.events(spark, sf)
      .select(col("user_id")).distinct().count()
    assert(g.getLong(0) + g.getLong(1) == users,
      s"groups must partition the users: $g vs $users")
    val lr = RelationalOps.survLogRank(spark, sf).collect().head
    // same direction of effect as the unweighted log-rank here (both
    // weightings see the same dominant group on this fixture)
    if (!g.isNullAt(3) && !lr.isNullAt(4)) {
      val zg = g.getDouble(3)
      val o1 = lr.getLong(2).toDouble; val e1 = lr.getDouble(3)
      assert(zg == 0.0 || (zg > 0) == (o1 - e1 > 0),
        s"gehan z $zg contradicts logrank direction ${o1 - e1}")
    }
  }

  test("tarone-ware weighted logrank: population conserved, sign " +
      "agrees with the unweighted test on this fixture") {
    val tw = RelationalOps.survTaroneWare(spark, sf).collect().head
    val users = graft.io.Tables.events(spark, sf)
      .select(col("user_id")).distinct().count()
    assert(tw.getLong(0) + tw.getLong(1) == users,
      s"groups must partition the users: $tw vs $users")
    val lr = RelationalOps.survLogRank(spark, sf).collect().head
    if (!tw.isNullAt(3) && !lr.isNullAt(4)) {
      val zt = tw.getDouble(3)
      val o1 = lr.getLong(2).toDouble; val e1 = lr.getDouble(3)
      assert(zt == 0.0 || (zt > 0) == (o1 - e1 > 0),
        s"tarone-ware z $zt contradicts logrank direction ${o1 - e1}")
    }
  }

  test("quade == driver range-weighted fold; f >= 0; shares " +
      "friedman's blocks") {
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val types = Seq("click", "purchase", "signup", "error")
    val k = types.size
    val m = graft.io.Tables.events(spark, sf)
      .where(col("event_type").isin(types: _*))
      .groupBy(expr("date_trunc('day', ts)").as("d"),
        col("event_type").as("g"))
      .agg(graft.util.Det.avg4(col("value")).as("v"))
      .collect().map(r => (r.get(0).toString, r.getString(1),
        r.getDouble(2)))
    val blocks = m.groupBy(_._1).filter(_._2.length == k)
    val n = blocks.size.toLong
    // doubled block-range midranks
    val rgs = blocks.view.mapValues(rs =>
      rs.map(_._3).max - rs.map(_._3).min).toMap
    def mid2(xs: Seq[Double], x: Double): Long =
      2L * (xs.count(_ < x) + 1L) + xs.count(_ == x) - 1L
    val allRg = rgs.values.toSeq
    var sa = BigInt(0)
    val s4j = scala.collection.mutable.Map[String, Long]()
    blocks.foreach { case (d, rs) =>
      val q2 = mid2(allRg, rgs(d))
      val vs = rs.map(_._3).toSeq
      rs.foreach { case (_, g, v) =>
        val r2 = mid2(vs, v)
        val s4 = q2 * (r2 - (k + 1L))
        sa += BigInt(s4) * s4
        s4j(g) = s4j.getOrElse(g, 0L) + s4
      }
    }
    val sb = s4j.values.map(x => BigInt(x) * x).sum
    val den = BigInt(n) * sa - sb
    val wantF = if (n > 1L && den > 0) Some(r4(
      (n.toDouble - 1.0) * sb.toDouble / den.toDouble)) else None
    val got = RelationalOps.aggQuade(spark, sf).collect().head
    val gt = (got.getLong(0), got.getLong(1),
      if (got.isNullAt(2)) None else Some(got.getDouble(2)))
    assert(gt == ((k.toLong, n, wantF)),
      s"quade diverged: $gt vs (${k}, $n, $wantF)")
    gt._3.foreach(x => assert(x >= 0.0, s"negative F $x"))
    // same complete blocks as friedman
    val fr = RelationalOps.aggFriedman(spark, sf).collect().head
    assert(fr.getLong(1) == n, "quade/friedman block counts differ")
  }

  test("brunner-munzel == driver midrank fold; p_hat in [0,1]") {
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val vals = graft.io.Tables.events(spark, sf)
      .where(col("event_type").isin("click", "purchase"))
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    val xs = vals.map(_._2).distinct.sorted
    val ca = vals.filter(_._1 == "click").groupBy(_._2).view
      .mapValues(_.size.toLong).toMap
    val cb = vals.filter(_._1 == "purchase").groupBy(_._2).view
      .mapValues(_.size.toLong).toMap
    val n1 = ca.values.sum; val n2 = cb.values.sum
    var cumt = 0L; var cum1 = 0L; var cum2 = 0L
    var s1 = 0L; var s2 = 0L
    val rows = xs.map { v =>
      val c1 = ca.getOrElse(v, 0L); val c2 = cb.getOrElse(v, 0L)
      val r2p = 2L * (cumt + 1L) + c1 + c2 - 1L
      val r2w1 = 2L * (cum1 + 1L) + c1 - 1L
      val r2w2 = 2L * (cum2 + 1L) + c2 - 1L
      cumt += c1 + c2; cum1 += c1; cum2 += c2
      s1 += c1 * r2p; s2 += c2 * r2p
      (c1, c2, r2p, r2w1, r2w2)
    }
    var sq1 = BigInt(0); var sq2 = BigInt(0)
    rows.foreach { case (c1, c2, r2p, r2w1, r2w2) =>
      val dd1 = n1 * (r2p - r2w1 + n1 + 1L) - s1
      val dd2 = n2 * (r2p - r2w2 + n2 + 1L) - s2
      sq1 += BigInt(c1) * BigInt(dd1) * BigInt(dd1)
      sq2 += BigInt(c2) * BigInt(dd2) * BigInt(dd2)
    }
    val rb1 = s1.toDouble / (2.0 * n1.toDouble)
    val rb2 = s2.toDouble / (2.0 * n2.toDouble)
    val v1 = sq1.toDouble /
      (4.0 * n1.toDouble * n1.toDouble * (n1.toDouble - 1.0))
    val v2 = sq2.toDouble /
      (4.0 * n2.toDouble * n2.toDouble * (n2.toDouble - 1.0))
    val w = n1.toDouble * n2.toDouble * (rb2 - rb1) /
      ((n1.toDouble + n2.toDouble) *
        math.sqrt(n1.toDouble * v1 + n2.toDouble * v2))
    val ph = (rb2 - (n2.toDouble + 1.0) / 2.0) / n1.toDouble
    val got = RelationalOps.aggBrunnerMunzel(spark, sf).collect().head
    val gt = (got.getLong(0), got.getLong(1), got.getDouble(2),
      got.getDouble(3), got.getDouble(4),
      if (got.isNullAt(5)) None else Some(got.getDouble(5)))
    val want = (n1, n2, r4(rb1), r4(rb2), r4(ph),
      if (n1 > 1L && n2 > 1L && (sq1 > 0 || sq2 > 0)) Some(r4(w))
      else None)
    assert(gt == want, s"brunner-munzel diverged: $gt vs $want")
    assert(gt._5 >= -1e-9 && gt._5 <= 1.0 + 1e-9,
      s"p_hat out of [0,1]: ${gt._5}")
  }

  test("hellinger == driver fold; h in [0,1]; h2 = 1 - bhattacharyya") {
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val docs = graft.io.Tables.documents(spark, sf)
      .select(col("source"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val xs = docs.map(_._2).distinct.sorted
    val want = docs.map(_._1).distinct.sorted.map { s =>
      val ca = docs.filter(_._1 == s).groupBy(_._2).view
        .mapValues(_.size.toLong).toMap
      val cb = docs.filter(_._1 != s).groupBy(_._2).view
        .mapValues(_.size.toLong).toMap
      val n = ca.values.sum; val m = cb.values.sum
      var h2q = 0L
      xs.foreach { x =>
        val dv = math.sqrt(ca.getOrElse(x, 0L).toDouble / n.toDouble) -
          math.sqrt(cb.getOrElse(x, 0L).toDouble / m.toDouble)
        h2q += math.floor(dv * dv * 0.5 * 1.0e12).toLong
      }
      (s, n, m, r4(h2q.toDouble / 1.0e12),
        r4(math.sqrt(h2q.toDouble / 1.0e12)))
    }
    val got = RelationalOps.hellingerBySource(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(got == want, s"hellinger diverged: ${got.take(3)} vs " +
      s"${want.take(3)}")
    got.foreach { case (s, _, _, h2, h) =>
      assert(h2 >= -1e-9 && h2 <= 1.0 + 1e-9, s"$s: h2=$h2")
      assert(h >= 0.0 && h <= 1.0 + 1e-9, s"$s: h=$h")
    }
  }

  test("rich club == driver fold; clubs shrink as k rises") {
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val ed = graft.io.Tables.lineitem(spark, sf)
      .where(col("l_partkey") % 4 === 0)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val pairs = ed.groupBy(_._1).values.flatMap { rows =>
      val ps = rows.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length)
        yield (ps(i), ps(j))
    }.toSet
    val deg = scala.collection.mutable.Map[Long, Long]()
    pairs.foreach { case (a, b) =>
      deg(a) = deg.getOrElse(a, 0L) + 1L
      deg(b) = deg.getOrElse(b, 0L) + 1L
    }
    val want = Seq(16L, 24L, 32L, 40L).map { k =>
      val nk = deg.values.count(_ > k).toLong
      val ek = pairs.count { case (a, b) => deg(a) > k && deg(b) > k }
        .toLong
      val phi = if (nk >= 2L)
        Some(r4(2.0 * ek.toDouble / (nk.toDouble * (nk.toDouble - 1.0))))
      else None
      (k, nk, ek, phi)
    }
    val got = RelationalOps.partRichClub(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq
    assert(got == want, s"rich club diverged: $got vs $want")
    got.sliding(2).foreach { w =>
      if (w.length == 2) {
        assert(w(1)._2 <= w(0)._2 && w(1)._3 <= w(0)._3,
          "clubs must shrink as the threshold rises")
      }
    }
  }

  test("anderson-darling == driver Scholz-Stephens midrank fold; " +
      "a2 >= 0") {
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val docs = graft.io.Tables.documents(spark, sf)
      .select(col("source"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val xs = docs.map(_._2).distinct.sorted
    val want = docs.map(_._1).distinct.sorted.map { s =>
      val ca = docs.filter(_._1 == s).groupBy(_._2).view
        .mapValues(_.size.toLong).toMap
      val cb = docs.filter(_._1 != s).groupBy(_._2).view
        .mapValues(_.size.toLong).toMap
      val n = ca.values.sum; val m = cb.values.sum; val nn = n + m
      var a2q = 0L
      var pa = 0L; var pb = 0L
      xs.foreach { z =>
        val c1 = ca.getOrElse(z, 0L); val c2 = cb.getOrElse(z, 0L)
        val l = c1 + c2
        val b2 = 2L * (pa + pb) + l
        val den = b2 * (2L * nn - b2) - nn * l
        if (den > 0L) {
          def term(m2: Long, ni: Long): Double = {
            val u = nn.toDouble * m2.toDouble - ni.toDouble * b2.toDouble
            (nn.toDouble - 1.0) * l.toDouble * u * u /
              (nn.toDouble * nn.toDouble * ni.toDouble * den.toDouble)
          }
          a2q += math.floor(
            (term(2L * pa + c1, n) + term(2L * pb + c2, m)) * 1.0e9)
            .toLong
        }
        pa += c1; pb += c2
      }
      (s, n, m, r4(a2q.toDouble / 1.0e9))
    }
    val got = RelationalOps.adBySource(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got == want, s"anderson-darling diverged: ${got.take(3)} " +
      s"vs ${want.take(3)}")
    got.foreach { case (s, _, _, a2) =>
      assert(a2 >= -1e-6, s"$s: negative A2 $a2") }
  }

  test("kuiper bounds KS (D <= V <= 2D); wasserstein == driver fold") {
    val ks = RelationalOps.ksBySource(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    val ku = RelationalOps.kuiperBySource(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    ku.foreach { case (s, _, _, vnum) =>
      assert(vnum >= ks(s) && vnum <= 2L * ks(s),
        s"$s: V=$vnum outside [D, 2D] with D=${ks(s)}")
    }
    // wasserstein against an exact driver fold over sorted lengths
    val docs = graft.io.Tables.documents(spark, sf)
      .select(col("source"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val xs = docs.map(_._2).distinct.sorted
    val want = docs.map(_._1).distinct.sorted.map { s =>
      val mine = docs.filter(_._1 == s).map(_._2)
      val rest = docs.filter(_._1 != s).map(_._2)
      val (n, m) = (mine.size.toLong, rest.size.toLong)
      var i = 0L; var j = 0L; var w = BigInt(0)
      xs.zip(xs.tail).foreach { case (x, nx) =>
        i += mine.count(_ == x); j += rest.count(_ == x)
        w += (BigInt(i) * m - BigInt(j) * n).abs * (nx - x)
      }
      (s, n, m, w.toLong)
    }
    val got = RelationalOps.wassersteinBySource(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == want, s"wasserstein diverged: ${got.take(3)} vs " +
      s"${want.take(3)}")
  }

  test("harmonic centrality == driver BFS from the 8 seed pivots") {
    // independent reference: brute-force BFS over collected edges
    val ed = graft.io.Tables.lineitem(spark, sf)
      .where(col("l_partkey") % 4 === 0)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = ed.groupBy(_._1).values
    val adj = scala.collection.mutable.Map[Long, Set[Long]]()
    byOrder.foreach { rows =>
      val ps = rows.map(_._2).distinct
      for (a <- ps; b <- ps if a != b)
        adj(a) = adj.getOrElse(a, Set.empty) + b
    }
    val seeds = adj.keys.toSeq.sorted.take(8)
    val hc = scala.collection.mutable.Map[Long, (Long, Long)]()
    seeds.foreach { s =>
      val dist = scala.collection.mutable.Map[Long, Long](s -> 0L)
      var frontier = Set(s)
      for (d <- 1L to 6L) {
        frontier = frontier.flatMap(adj.getOrElse(_, Set.empty))
          .filterNot(dist.contains)
        frontier.foreach(v => dist(v) = d)
      }
      dist.foreach { case (v, d) =>
        if (d > 0L) {
          val (h0, n0) = hc.getOrElse(v, (0L, 0L))
          hc(v) = (h0 + 60L / d, n0 + 1L)
        }
      }
    }
    val want = hc.toSeq.map { case (v, (h, n)) => (v, h, n) }
      .sortBy(t => (-t._2, t._1)).take(20)
    val got = RelationalOps.partHarmonic(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want, s"harmonic diverged: ${got.take(5)} vs " +
      s"${want.take(5)}")
    got.foreach { case (v, h, n) =>
      assert(n >= 1L && n <= 8L, s"$v reached by $n seeds")
      assert(h >= 10L && h <= 480L, s"$v: h=$h out of [10, 480]")
    }
  }

  test("cox ph == independent brute-force Newton; score0 is the " +
      "logrank O1-E1 identity") {
    val cox = RelationalOps.survCoxPh(spark, sf).collect().head
    // independent reference: raw per-user lifetimes, brute-force risk
    // sets (no window/grid machinery), same Breslow Newton
    val ev = graft.io.Tables.events(spark, sf)
    val per = ev.groupBy(col("user_id"))
      .agg(min(col("ts")).as("f"), max(col("ts")).as("l"))
      .select(col("user_id"), unix_micros(col("f")).as("f"),
        unix_micros(col("l")).as("l"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val horizon = per.map(_._3).max
    val obs = per.map { case (uid, f, l) =>
      val dur = (l - f) / 86400000000L
      val cens = l >= horizon - 43200000000L // 12h in us
      (uid % 2, dur, cens)
    }
    val times = obs.filter(!_._3).map(_._2).distinct.sorted
    val terms = times.map { t =>
      val d = obs.count(o => !o._3 && o._2 == t).toLong
      val d1 = obs.count(o => !o._3 && o._2 == t && o._1 == 1L).toLong
      val r = obs.count(_._2 >= t).toLong
      val r1 = obs.count(o => o._2 >= t && o._1 == 1L).toLong
      (d, r, d1, r1)
    }
    def scoreInfo(beta: Double): (Double, Double) = {
      var u = 0.0; var inf = 0.0
      terms.foreach { case (d, r, d1, r1) =>
        val r0 = (r - r1).toDouble
        val w = r1.toDouble * StrictMath.exp(beta)
        if (r0 + w > 0.0 && d > 0L) {
          val p = w / (r0 + w)
          u += d1.toDouble - d.toDouble * p
          inf += d.toDouble * p * (1.0 - p)
        } else if (d > 0L) u += d1.toDouble
      }
      (u, inf)
    }
    val score0 = scoreInfo(0.0)._1
    var beta = 0.0; var iters = 0; var u = score0
    var inf = scoreInfo(0.0)._2
    while (iters < 16 && math.abs(u) > 1e-10 && inf > 0.0) {
      beta += u / inf; iters += 1
      val s = scoreInfo(beta); u = s._1; inf = s._2
    }
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    assert(cox.getDouble(2) == r4(beta),
      s"beta ${cox.getDouble(2)} != reference ${r4(beta)}")
    assert(cox.getDouble(5) == r4(score0),
      s"score0 ${cox.getDouble(5)} != reference ${r4(score0)}")
    // the logrank is Cox's score test at beta=0 (group-0 vs group-1
    // orientation flips the sign); e1 is 1e6-quantized so compare loose
    val lr = RelationalOps.survLogRank(spark, sf).collect().head
    val lrDir = lr.getLong(2).toDouble - lr.getDouble(3)
    assert(math.abs(cox.getDouble(5) + lrDir) < 1e-2,
      s"score0 ${cox.getDouble(5)} != -(O1-E1) ${-lrDir}")
    // concave partial likelihood: the estimate lies on score0's side
    if (math.abs(cox.getDouble(5)) > 1e-6)
      assert(cox.getDouble(2) == 0.0 ||
        (cox.getDouble(2) > 0) == (cox.getDouble(5) > 0),
        s"beta ${cox.getDouble(2)} contradicts score ${cox.getDouble(5)}")
  }

  test("bh-fdr == driver Kolmogorov + step-up fold; rejects a prefix") {
    val lams = RelationalOps.ksBySource(spark, sf)
      .select(col("source"), col("lam")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    def pOf(lam: Double): Double =
      if (lam < 0.2) 1.0
      else {
        var s = 0.0
        (1 to 50).foreach { k =>
          // Spark's Exp codegen calls StrictMath.exp — match it (the
          // jdk Math.exp intrinsic differs in the last ulp)
          s += (if (k % 2 == 1) 2.0 else -2.0) *
            StrictMath.exp(-2.0 * k * k * lam * lam)
        }
        math.min(1.0, math.max(0.0, s))
      }
    val m = lams.size
    val ranked = lams.map { case (s, l) => (s, l, pOf(l)) }
      .sortBy(t => (t._3, t._1)).zipWithIndex
      .map { case ((s, l, p), i) =>
        (s, l, p, (i + 1).toLong, r4((i + 1).toDouble * 0.05 / m))
      }
    val kstar = ranked.filter(t => t._3 <= (t._4.toDouble * 0.05 / m))
      .map(_._4).maxOption.getOrElse(0L)
    val want = ranked.map { case (s, l, p, rk, crit) =>
      (s, l, p, rk, crit, rk <= kstar)
    }
    val got = RelationalOps.bhFdr(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4), r.getBoolean(5))).toSeq
    assert(got == want, s"bh-fdr diverged:\n$got\nvs\n$want")
    // the rejected set is a prefix of the p-ascending order
    val rej = got.filter(_._6).map(_._4)
    assert(rej == (1L to rej.length.toLong).toSeq,
      s"rejections must form a rank prefix: $rej")
    got.foreach(t => assert(t._3 >= 0.0 && t._3 <= 1.0))
  }

  test("distributed two-pass jonckheere == the merged-grid-window oracle") {
    val oracle = RelationalOps.aggJonckheere(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(oracle.nonEmpty)
    Seq(1, 3, 8, 17).foreach { p =>
      val twin = RelationalOps.jonckheereDistributed(spark, sf, p)
        .collect().map(_.toSeq).toSeq
      assert(twin == oracle, s"diverged at $p partitions: $twin vs $oracle")
    }
  }

  test("distributed two-pass ansari-bradley == the global-window oracle") {
    val oracle = RelationalOps.aggAnsariBradley(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(oracle.nonEmpty)
    Seq(1, 3, 8, 17).foreach { p =>
      val twin = RelationalOps.ansariBradleyDistributed(spark, sf, p)
        .collect().map(_.toSeq).toSeq
      assert(twin == oracle, s"diverged at $p partitions: $twin vs $oracle")
    }
  }

  test("distributed mood median == the pooled-window oracle") {
    val oracle = RelationalOps.aggMoodMedian(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(oracle.nonEmpty)
    Seq(1, 3, 8, 17).foreach { p =>
      val twin = RelationalOps.moodMedianDistributed(spark, sf, p)
        .collect().map(_.toSeq).toSeq
      assert(twin == oracle, s"diverged at $p partitions: $twin vs $oracle")
    }
  }

  test("window-free page trend == the per-block-window oracle") {
    val oracle = RelationalOps.aggPageTrend(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(oracle.nonEmpty)
    Seq(1, 3, 8, 17).foreach { p =>
      val twin = RelationalOps.pageTrendDistributed(spark, sf, p)
        .collect().map(_.toSeq).toSeq
      assert(twin == oracle, s"diverged at $p partitions: $twin vs $oracle")
    }
  }

  test("distributed two-pass mann-whitney == the ordered-window oracle") {
    val oracle = RelationalOps.aggMannWhitney(spark, sf)
      .collect().map(_.toSeq).toSeq
    // several partition counts, incl. more partitions than needed
    Seq(1, 3, 8, 17).foreach { p =>
      val twin = RelationalOps.mannWhitneyDistributed(spark, sf, p)
        .collect().map(_.toSeq).toSeq
      assert(twin == oracle, s"diverged at $p partitions: $twin vs $oracle")
    }
  }

  test("distributed rfm grid == the three-window oracle") {
    val oracle = RelationalOps.rfmSegments(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(oracle.nonEmpty)
    Seq(1, 3, 8, 17).foreach { p =>
      val twin = RelationalOps.rfmSegmentsDistributed(spark, sf, p)
        .collect().map(_.toSeq).toSeq
      assert(twin == oracle, s"diverged at $p partitions")
    }
  }

  test("distributed pareto classes == the cumulative-window oracle") {
    val oracle = RelationalOps.paretoAbc(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(oracle.nonEmpty)
    Seq(1, 3, 8, 17).foreach { p =>
      val twin = RelationalOps.paretoAbcDistributed(spark, sf, p)
        .collect().map(_.toSeq).toSeq
      assert(twin == oracle, s"diverged at $p partitions: $twin vs $oracle")
    }
  }

  test("distributed gini == the rank-window oracle, bit-exact") {
    val oracle = RelationalOps.revenueGini(spark, sf)
      .collect().map(_.toSeq).toSeq
    Seq(1, 3, 8, 17).foreach { p =>
      val twin = RelationalOps.revenueGiniDistributed(spark, sf, p)
        .collect().map(_.toSeq).toSeq
      assert(twin == oracle, s"diverged at $p partitions: $twin vs $oracle")
    }
  }

  test("distributed exact quantiles == driver-side rank selection") {
    // driver reference: exact lower-median integer-rank selection over
    // the same value grain
    val grain = graft.io.Tables.lineitem(spark, sf)
      .groupBy(col("l_quantity")).count()
      .collect().map(r => (r.getDouble(0), r.getLong(1)))
      .sortBy(_._1)
    val n = grain.map(_._2).sum
    def at(rank: Long): Double = {
      var cum = 0L
      grain.find { case (_, c) => cum += c; cum >= rank }.get._1
    }
    // ceil(q*n) ranks exactly as the operator computes them
    val ranks = Seq("p50" -> ((1L * n + 1L) / 2L),
      "p90" -> ((9L * n + 9L) / 10L))
    Seq(1, 5, 8, 19).foreach { p =>
      val got = RelationalOps.exactQuantilesDistributed(spark, sf,
          partitions = p)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      ranks.foreach { case (lbl, r) =>
        assert(got(lbl) == at(r), s"$lbl at $p partitions: " +
          s"${got(lbl)} != ${at(r)}")
      }
    }
  }

  test("window_running: run equals prefix sum of rev") {
    val rows = RelationalOps.windowRunning(spark, sf).collect()
    var acc = BigDecimal(0)
    rows.foreach { r =>
      acc += BigDecimal(r.getDouble(1).toString)
      assert(math.abs(acc.toDouble - r.getDouble(2)) < 1e-6)
    }
  }

  test("topk_group: exactly 3 rows per priority, descending price") {
    val rows = RelationalOps.topkGroup(spark, sf).collect()
    rows.groupBy(_.getString(0)).foreach { case (_, g) =>
      assert(g.length == 3)
      val prices = g.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(prices.zip(prices.tail).forall { case (a, b) => a >= b })
    }
  }

  test("set ops: intersect ⊆ union; except disjoint from part>10") {
    val u = RelationalOps.setUnion(spark, sf).collect().map(_.getInt(0)).toSet
    val i = RelationalOps.setIntersect(spark, sf).collect().map(_.getInt(0)).toSet
    assert(i.subsetOf(u))
  }

  test("explode_tokens: 20 rows, counts non-increasing") {
    val n = RelationalOps.explodeTokens(spark, sf).collect().map(_.getLong(1))
    assert(n.length == 20 && n.zip(n.tail).forall { case (a, b) => a >= b })
  }

  test("skewkurt matches a driver-side exact-moment reference") {
    import org.apache.spark.sql.functions.col
    val got = RelationalOps.aggSkewKurt(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val qs = graft.io.Tables.lineitem(spark, sf)
      .select(col("l_linestatus"), col("l_quantity")).collect()
      .map(r => (r.getString(0), BigInt(math.round(r.getDouble(1) * 100))))
      .groupBy(_._1)
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    qs.foreach { case (k, rows) =>
      val v = rows.map(_._2)
      val n = v.length.toDouble
      val m1 = v.sum.toDouble / n
      val r2 = v.map(x => x * x).sum.toDouble / n
      val r3 = v.map(x => x * x * x).sum.toDouble / n
      val r4m = v.map(x => x * x * x * x).sum.toDouble / n
      val m2 = r2 - m1 * m1
      val m3 = r3 - 3.0 * m1 * r2 + 2.0 * m1 * m1 * m1
      val m4 = r4m - 4.0 * m1 * r3 + 6.0 * m1 * m1 * r2 -
        3.0 * m1 * m1 * m1 * m1
      val g = got(k)
      assert(g.getDouble(2) == r4(m1 / 100.0), s"mean $k")
      assert(g.getDouble(3) == r4(math.sqrt(m2) / 100.0), s"sd $k")
      assert(g.getDouble(4) == r4(m3 / (m2 * math.sqrt(m2))), s"skew $k")
      assert(g.getDouble(5) == r4(m4 / (m2 * m2) - 3.0), s"kurt $k")
    }
  }

  test("kaplan-meier matches a driver-side product-limit reference") {
    import org.apache.spark.sql.functions.col
    val got = RelationalOps.kaplanMeier(spark, sf).collect()
    assert(got.nonEmpty)
    val ev = graft.io.Tables.events(spark, sf)
      .select(col("user_id"), col("ts")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime)) // ms precision ok: testdata ts are µs-aligned
    val end = ev.map(_._2).max
    val obs = ev.groupBy(_._1).iterator.map { case (_, es) =>
      val ts = es.map(_._2)
      val dur = (ts.max - ts.min) / 86400000L
      (dur, ts.max >= end - 43200000L) // 12h in ms
    }.toSeq
    val byDur = obs.groupBy(_._1).toSeq.sortBy(_._1)
    var s = 1.0; var atRisk = obs.size.toLong
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val ref = byDur.map { case (dur, rows) =>
      val d = rows.count(!_._2).toLong; val c = rows.count(_._2).toLong
      val r = atRisk
      s = s * (1.0 - d.toDouble / r.toDouble)
      atRisk -= (d + c)
      (dur, r, d, c, r4(s))
    }
    val gotT = got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getDouble(4))).toSeq
    assert(gotT == ref, s"km: $gotT vs $ref")
    // survival is non-increasing and within [0, 1]
    val sv = gotT.map(_._5)
    assert(sv.zip(sv.tail).forall { case (a, b) => b <= a })
    assert(sv.forall(x => x >= 0.0 && x <= 1.0))
  }

  test("hits layouts are memo-owned: a repeat call persists nothing new, " +
      "clear() unpersists both") {
    import org.apache.spark.storage.StorageLevel
    import graft.util.SessionMemo
    // driver-side twin of the q_part_hits oracle: 3 integer-exact rounds
    // over the distinct (customer, supplier) edges, top 10 per side
    val edges = graft.io.Tables.orders(spark, sf)
      .join(graft.io.Tables.lineitem(spark, sf),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").cast("long"), col("l_suppkey").cast("long"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    def scaled(sums: Map[Long, Long]) = {
      val mx = sums.values.max
      sums.map { case (n, v) => n -> v * 1000000L / mx }
    }
    var h = edges.map(_._1).distinct.map(_ -> 1000000L).toMap
    var a = Map.empty[Long, Long]
    for (_ <- 1 to 3) {
      a = scaled(edges.groupMapReduce(_._2)(e => h(e._1))(_ + _))
      h = scaled(edges.groupMapReduce(_._1)(e => a(e._2))(_ + _))
    }
    def top(side: String, m: Map[Long, Long]) =
      m.toSeq.sortBy { case (n, v) => (-v, n) }.take(10).zipWithIndex
        .map { case ((n, v), i) => (side, n, v, i + 1L) }
    val oracle = top("authority", a) ++ top("hub", h)
    def run() = RelationalOps.partHits(spark, sf).collect().map(r =>
      (r.getString(0), r.getAs[Number](1).longValue, r.getLong(2),
        r.getLong(3))).toSeq
    // the ContextCleaner drops unreferenced round checkpoints on its own
    // thread some time after GC: read until three reads 500 ms apart
    // agree (15 s cap)
    def persisted() = {
      def read() = { System.gc(); spark.sparkContext.getPersistentRDDs.size }
      val deadline = System.nanoTime() + 15L * 1000000000L
      var reads = List(read())
      while ((reads.length < 3 || reads.take(3).distinct.length > 1) &&
          System.nanoTime() < deadline) {
        Thread.sleep(500)
        reads = read() :: reads
      }
      reads.head
    }

    SessionMemo.clear()
    val n0 = persisted()
    assert(run() == oracle)
    val n1 = persisted()
    assert(run() == oracle)
    val n2 = persisted()
    assert(n2 <= n1, s"persistent RDDs grew on a repeat call: $n1 -> $n2")
    val (byC, byS) = RelationalOps.hitsGraphKeyed(spark, sf)
    assert(byC.storageLevel != StorageLevel.NONE &&
      byS.storageLevel != StorageLevel.NONE)
    SessionMemo.clear()
    assert(byC.storageLevel == StorageLevel.NONE &&
      byS.storageLevel == StorageLevel.NONE, "clear() must unpersist both")
    assert(persisted() == n0, "a released layout is still persisted")
    assert(run() == oracle)
  }
}
