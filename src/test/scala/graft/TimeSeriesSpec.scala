package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sf = "/root/testdata/sf0.001"
}

class TimeSeriesSpec extends AnyFunSuite {
  import graft.ts.TimeSeriesOps
  private def spark = TestSpark.spark
  private def sf = TestSpark.sf

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query has an oracle or is known no-oracle") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val known = Set("q_agg_hll", "q_agg_approx_pctl", "q_llm_knn_label",
      "q_llm_minhash_dedup", "q_llm_decontaminate_fuzzy",
      "q_llm_simhash", "q_llm_ann_ivf", "q_llm_ann_pq", "q_llm_ann_sq",
      "q_llm_ann_serving",
      "q_llm_langid",
      "q_llm_embed_neardup", "q_llm_ivf_health", "q_mm_qc",
      "q_llm_fingerprint", "q_llm_corpus_prep", "q_mm_features", "q_mm_frames",
      "q_mm_resize", "q_llm_knn_join", "q_llm_nprobe_tradeoff",
      "q_mm_audio_spectral", "q_llm_heavy_hitters", "q_llm_mrl_tradeoff",
      "q_llm_cms_probe", "q_mm_image_dedup", "q_mm_audio_dedup",
      "q_llm_simhash_wide", "q_mm_image_dedup_wide", "q_mm_audio_dedup_wide",
      // r14: the libm-blocked quality-score family (spec-gated vs driver
      // references; their oracle-checked rank twins are
      // q_llm_drift_tokens / q_llm_renyi2) and PAV isotonic regression
      // (data-dependent pooling depth — no fixed-round CTE unroll)
      "q_llm_perplexity", "q_llm_kl_drift", "q_llm_entropy_mix",
      "q_ts_isotonic", "q_llm_theil_index",
      // r14: Kolmogorov p-values ride exp (libm) — BH itself is rank
      // logic, spec'd vs a driver fold
      "q_agg_bh_fdr",
      // r14 continuation: Cox PH rides exp; adaptive conformal rides
      // PAV's data-dependent pooling; PSI/MI ride ln — each spec'd vs
      // an independent driver reference
      "q_surv_cox", "q_ts_conformal_iso",
      "q_llm_psi_length", "q_llm_mutual_info",
      // DuckDB has no DEFLATE; spec'd bit-equal vs a driver Deflater
      "q_llm_compress_ratio",
      // r15: MTLD's factor walk carries a data-dependent-size type set
      // (the isotonic/PAV no-oracle class); spec'd vs a driver fold
      "q_llm_mtld",
      // r15: density dedup rides the sign-LSH candidate graph (the
      // declared ANN/hash-seed class); spec'd on planted fixtures
      "q_llm_density_dedup",
      // r16: the stability ladder rides the same LSH graph; spec'd vs
      // a driver walk of the identical collected pair list
      "q_llm_density_stability",
      // r16: the longest-repeated-substring length is data-dependent
      // on a per-doc suffix automaton (no SQL-expressible twin);
      // spec'd vs a driver binary-search + rolling-hash reference
      "q_llm_self_repetition",
      // r16: the token-grain automaton twin, same no-oracle class
      "q_llm_repeated_ngram")
    assert(noOracle.subsetOf(known), s"unexpected no-oracle: $noOracle")
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("Knight O(n log n) kendall == the pair-join oracle, tau bit-equal") {
    val oracle = TimeSeriesOps.kendallTau(spark, sf)
      .select("ma", "mb", "n0", "nc", "nd", "tau").collect()
      .map(_.toSeq).toSeq
    val fast = TimeSeriesOps.kendallTauFast(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(oracle.nonEmpty && fast == oracle,
      s"fast kendall diverged:\n$fast\nvs\n$oracle")
  }

  test("spearman decimal sums: exact past the BIGINT bound, bit-equal below") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    // (1) past the old bound: 2.5e6 aligned buckets, va strictly
    // increasing, vb its negation (perfect anti-correlation, no ties).
    // sxx = sum of odd squares ~ 4n^3/3 ~ 2.1e19 > 2^63 — BIGINT sums
    // would overflow here (ANSI error); DECIMAL(38,0) is exact.
    val n = 2500000L
    val big = sp.range(n).select(
      lit("x").as("ma"), lit("y").as("mb"), col("id").as("bucket"),
      col("id").cast("double").as("va"),
      (-col("id")).cast("double").as("vb"))
    val row = TimeSeriesOps.spearmanFromPairs(big).collect()(0)
    assert(row.getLong(2) == n && row.getDouble(3) == -1.0,
      s"big-series spearman: ${row}")
    // (2) below the bound, heavy ties: bit-equal to a driver-side
    // BigInt reference of the same average-rank formula
    val m = 4000
    val data = (0 until m).map(i =>
      (i.toLong, (i % 50).toDouble, ((i * 7) % 31).toDouble))
    val small = data.toDF("bucket", "va", "vb")
      .select(lit("x").as("ma"), lit("y").as("mb"),
        col("bucket"), col("va"), col("vb"))
    val got = TimeSeriesOps.spearmanFromPairs(small).collect()(0)
    def rank2(keys: Seq[(Double, Long)]): Map[Long, Long] = {
      val sorted = keys.sorted.zipWithIndex
      val byV = sorted.groupBy(_._1._1)
      sorted.map { case ((v, b), _) =>
        val g = byV(v)
        b -> (2L * (g.map(_._2).min + 1L) + g.size - 1L)
      }.toMap
    }
    val ra = rank2(data.map(t => (t._2, t._1)))
    val rb = rank2(data.map(t => (t._3, t._1)))
    var sx = BigInt(0); var sy = BigInt(0)
    var sxy = BigInt(0); var sxx = BigInt(0); var syy = BigInt(0)
    data.foreach { case (b, _, _) =>
      val x = BigInt(ra(b)); val y = BigInt(rb(b))
      sx += x; sy += y; sxy += x * y; sxx += x * x; syy += y * y
    }
    val nd = m.toDouble
    def d(v: BigInt) = v.toDouble
    val exp = math.floor((nd * d(sxy) - d(sx) * d(sy)) /
      (math.sqrt(nd * d(sxx) - d(sx) * d(sx)) *
        math.sqrt(nd * d(syy) - d(sy) * d(sy))) * 10000.0 + 0.5) / 10000.0
    assert(got.getDouble(3) == exp,
      s"spearman ${got.getDouble(3)} != reference $exp")
  }

  test("gapfill emits a dense grid: rows = n_types * n_buckets") {
    val rows = TimeSeriesOps.gapfill(spark, sf).collect()
    val types = rows.map(_.getString(0)).distinct.length
    val buckets = rows.map(_.getTimestamp(1)).distinct.length
    assert(rows.length == types * buckets)
  }

  test("rollup_sum conserves the total sum of values") {
    import org.apache.spark.sql.functions._
    val total = graft.io.Tables.events(spark, sf)
      .agg(sum(col("value").cast("decimal(18,4)"))).head.getDecimal(0)
    val rolled = TimeSeriesOps.rollupSum(spark, sf)
      .agg(sum(col("v").cast("decimal(18,4)"))).head.getDecimal(0)
    // each v was half-up rounded at 4 decimals, so totals agree exactly
    assert((total.doubleValue - rolled.doubleValue).abs < 1e-6)
  }

  test("xff keeps only buckets with count >= 10") {
    import org.apache.spark.sql.functions._
    val bad = TimeSeriesOps.xff(spark, sf).where(col("n") < 10).count()
    assert(bad == 0)
  }

  test("retention keeps only the trailing 7 days") {
    import org.apache.spark.sql.functions._
    val r = TimeSeriesOps.retention(spark, sf)
    val span = r.agg((max("ts").cast("long") - min("ts").cast("long")).as("s"))
      .head.getLong(0)
    assert(span <= 7L * 86400)
  }

  test("topk_series returns at most 10 rows, sorted desc") {
    val s = TimeSeriesOps.topkSeries(spark, sf).collect().map(_.getDouble(1))
    assert(s.length <= 10 && s.sameElements(s.sortBy(-_)))
  }

  test("removeAbovePercentile nulls exactly the values above the series p95") {
    val p95 = TimeSeriesOps.nPercentile(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val raw = TimeSeriesOps.rollupAvg(spark, sf).collect()
      .map(r => (r.getString(0), r.getTimestamp(1)) -> r.getDouble(2)).toMap
    val out = TimeSeriesOps.removeAbovePercentile(spark, sf).collect()
    assert(out.length == raw.size) // buckets survive, values null
    out.foreach { r =>
      val key = (r.getString(0), r.getTimestamp(1))
      val expectNull = raw(key) > p95(r.getString(0))
      assert(r.isNullAt(2) == expectNull, s"$key: v=${raw(key)}")
    }
    assert(out.exists(_.isNullAt(2)) && out.exists(!_.isNullAt(2)))
  }

  test("removeBelowValue nulls exactly the values under the threshold") {
    val raw = TimeSeriesOps.rollupAvg(spark, sf).collect()
      .map(r => (r.getString(0), r.getTimestamp(1)) -> r.getDouble(2)).toMap
    val out = TimeSeriesOps.removeBelowValue(spark, sf).collect()
    assert(out.length == raw.size)
    out.foreach { r =>
      val key = (r.getString(0), r.getTimestamp(1))
      assert(r.isNullAt(2) == (raw(key) < 20.0), s"$key")
    }
  }

  test("consolidateBy overrides the read aggregate but not the archive") {
    import org.apache.spark.sql.functions._
    val cons = TimeSeriesOps.consolidate(spark, sf).collect()
      .map(r => r.getTimestamp(0) -> (r.getDouble(1), r.getLong(2))).toMap
    // expected: round(max(value),4) per 1h bucket over the same clamped
    // window the policy-default fetch reads (identical buckets + counts)
    val avg = TimeSeriesOps.fetchRouted(spark, sf).collect()
      .map(r => r.getTimestamp(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(cons.keySet == avg.keySet) // same archive step + clamp
    cons.foreach { case (b, (vMax, n)) =>
      val (vAvg, nAvg) = avg(b)
      assert(n == nAvg && vMax >= vAvg - 1e-9, s"$b")
    }
    assert(cons.exists { case (b, (vMax, _)) => vMax > avg(b)._1 })
  }

  test("linearRegression matches a driver-side exact least-squares fit") {
    val pts = TimeSeriesOps.rollupAvg(spark, sf).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime / 3600000L,
        r.getDouble(2)))
      .groupBy(_._1)
    val got = TimeSeriesOps.linearRegression(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toMap
    assert(got.keySet == pts.keySet)
    pts.foreach { case (et, rows) =>
      val h0 = rows.map(_._2).min
      val hy = rows.map { case (_, hb, v) =>
        (hb - h0, math.rint(BigDecimal(v).setScale(4,
          BigDecimal.RoundingMode.HALF_UP).toDouble * 10000).toLong) }
      val n = hy.length.toLong
      val (sh, shh) = (hy.map(_._1).sum, hy.map(h => h._1 * h._1).sum)
      val (sy, shy) = (hy.map(_._2).sum, hy.map(p => p._1 * p._2).sum)
      val slope = (n * shy - sh * sy).toDouble /
        ((n * shh - sh * sh) * 10000L).toDouble
      val intercept = (sy.toDouble / 10000.0 - slope * sh.toDouble) / n
      def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
      val (gn, gs, gi, gf) = got(et)
      assert(gn == n && gs == r4(slope) && gi == r4(intercept), et)
      val hmax = hy.map(_._1).max
      assert(gf == r4(slope * (hmax + 24L).toDouble + intercept), et)
    }
  }

  test("holt backtest aggregates the aberration surface exactly") {
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val ab = TimeSeriesOps.holtAberration(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(2), r.getDouble(3),
        r.getDouble(6)))
    val want = ab.groupBy(_._1).view.mapValues { g =>
      def d8(x: Double) = BigDecimal(x).setScale(8,
        BigDecimal.RoundingMode.HALF_UP)
      val n = g.length
      val mae = r4((g.map(p => d8(math.abs(p._2 - p._3))).sum
        .toDouble) / n)
      val bias = r4((g.map(p => d8(p._2 - p._3)).sum.toDouble) / n)
      val inBand = g.count(_._4 == 0.0).toLong
      (n.toLong, mae, bias, inBand)
    }.toMap
    val got = TimeSeriesOps.holtBacktest(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4))).toMap
    assert(got == want)
    got.values.foreach { case (n, mae, _, inBand) =>
      assert(inBand <= n && mae >= 0.0)
    }
  }

  test("value histogram: bins partition the rollup, bounds inside bins") {
    val rows = TimeSeriesOps.valueHistogram(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    val nRollup = TimeSeriesOps.rollupAvg(spark, sf).count()
    assert(rows.map(_._3).sum == nRollup, "bin counts partition the rollup")
    rows.foreach { case (et, bin, _, vMin, vMax, binLo) =>
      assert(binLo == bin * 5.0)
      assert(vMin >= binLo - 1e-9 && vMax < binLo + 5.0 + 1e-9,
        s"$et bin $bin: [$vMin, $vMax] outside [$binLo, ${binLo + 5.0})")
      assert(vMin <= vMax)
    }
  }

  test("series correlation: full upper triangle, bounded, self-consistent") {
    val rows = TimeSeriesOps.seriesCorr(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    val types = rows.flatMap(r => Seq(r._1, r._2)).distinct.length
    assert(rows.length == types * (types - 1) / 2,
      "one row per unordered series pair")
    assert(rows.forall(r => r._4 >= -1.0001 && r._4 <= 1.0001))
    assert(rows.forall(r => r._1 < r._2), "upper triangle only")
    // driver reference for one pair
    val (ma, mb) = (rows.head._1, rows.head._2)
    val h = TimeSeriesOps.rollupAvg(spark, sf).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getDouble(2)))
    val va = h.filter(_._1 == ma).map(r => r._2 -> r._3).toMap
    val vb = h.filter(_._1 == mb).map(r => r._2 -> r._3).toMap
    val common = va.keySet.intersect(vb.keySet).toSeq
    val (xs, ys) = (common.map(va), common.map(vb))
    val n = xs.length.toDouble
    def s(v: Seq[Double]) =
      v.map(x => BigDecimal(x).setScale(8)).sum.toDouble
    def s2(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => BigDecimal(x * y).setScale(8,
        BigDecimal.RoundingMode.HALF_UP) }.sum.toDouble
    val (sx, sy) = (s(xs), s(ys))
    val (sxy, sxx, syy) = (s2(xs, ys), s2(xs, xs), s2(ys, ys))
    val corr = (n * sxy - sx * sy) /
      (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    assert(math.abs(rows.head._4 - r4(corr)) < 2e-4,
      s"$ma/$mb: ${rows.head._4} vs ${r4(corr)}")
  }

  test("mad outliers equal the driver-side exact-rank reference") {
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val roll = TimeSeriesOps.rollupAvg(spark, sf).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getDouble(2)))
    val want = roll.groupBy(_._1).toSeq.flatMap { case (et, g) =>
      val byV = g.sortBy(r => (r._3, r._2))
      val med = byV((byV.length + 1) / 2 - 1)._3
      val devs = g.map(r => (math.abs(r._3 - med), r._2)).sorted
      val mad = devs((devs.length + 1) / 2 - 1)._1
      g.collect {
        case (_, ts, v) if mad > 0.0 &&
            math.abs(v - med) > mad * 1.4826 * 3.0 =>
          (et, ts) -> r4(math.abs(v - med) / (mad * 1.4826))
      }
    }.toMap
    val got = TimeSeriesOps.madOutliers(spark, sf).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime) -> r.getDouble(5))
      .toMap
    assert(got == want)
    assert(got.nonEmpty, "test data must produce at least one outlier")
  }

  test("cohort retention: day-0 is the cohort size and bounds later days") {
    val rows = TimeSeriesOps.cohortRetention(spark, sf).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    assert(rows.forall(r => r._2 >= 0 && r._2 <= 7))
    rows.groupBy(_._1).foreach { case (cohort, g) =>
      val day0 = g.find(_._2 == 0L)
      // every user is active on their own first day
      assert(day0.isDefined, s"$cohort misses day 0")
      assert(g.forall(_._3 <= day0.get._3),
        s"$cohort: retention cannot exceed the cohort size")
    }
  }

  test("moving stddev equals the driver-side framed population formula") {
    val roll = TimeSeriesOps.rollupAvg(spark, sf).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getDouble(2)))
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val want = roll.groupBy(_._1).flatMap { case (et, g) =>
      val s = g.sortBy(_._2).map(_._3)
      (5 until s.length).map { i =>
        val w = s.slice(i - 5, i + 1)
        // exact decimal sums, then the same IEEE formula text
        val s1 = w.map(v => BigDecimal(v).setScale(8)).sum.toDouble
        val s2 = w.map(v => BigDecimal(v * v).setScale(8,
          BigDecimal.RoundingMode.HALF_EVEN)).sum.toDouble
        (et, i) -> r4(math.sqrt((s2 - (s1 * s1) / 6.0) / 6.0))
      }
    }
    val got = TimeSeriesOps.movingStddev(spark, sf).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getDouble(3)))
      .groupBy(_._1).toSeq.flatMap { case (et, g) =>
        g.sortBy(_._2).zipWithIndex.map { case (r, j) => (et, j + 5) -> r._3 }
      }.toMap
    assert(got == want)
  }

  test("group_by_nodes fans in to app.host keys, count conserved") {
    import org.apache.spark.sql.functions._
    val rows = TimeSeriesOps.groupByNodes(spark, sf).collect()
    val keys = rows.map(_.getString(0)).distinct.sorted
    assert(keys.sameElements(Array("app.host0", "app.host1", "app.host2")))
    val n = rows.map(_.getLong(3)).sum
    assert(n == graft.io.Tables.events(spark, sf).count())
  }

  test("interpolate fills interior gaps linearly, leaves edges null") {
    val rows = TimeSeriesOps.interpolate(spark, sf).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime,
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    var interiorGaps = 0
    rows.groupBy(_._1).foreach { case (et, g) =>
      val s = g.sortBy(_._2)
      val idx = s.map(_._2 / 21600000L) // 6h grid index (ms scale)
      s.indices.foreach { i =>
        val (_, _, v, vi) = s(i)
        v match {
          case Some(x) => assert(vi.contains(x), s"$et: present v must pass")
          case None =>
            val left = (i - 1 to 0 by -1).find(j => s(j)._3.isDefined)
            val right = (i + 1 until s.length).find(j => s(j)._3.isDefined)
            (left, right) match {
              case (Some(l), Some(r)) =>
                interiorGaps += 1
                val (vp, vn) = (s(l)._3.get, s(r)._3.get)
                val frac = (idx(i) - idx(l)).toDouble /
                  (idx(r) - idx(l)).toDouble
                assert(vi.contains(r4(vp + (vn - vp) * frac)),
                  s"$et gap at $i")
              case _ => assert(vi.isEmpty, s"$et: edge gap must stay null")
            }
        }
      }
    }
    assert(interiorGaps > 0, "test data must exercise an interior gap")
  }

  test("holtForecast equals a reference sequential Holt fold") {
    val series = TimeSeriesOps.rollupAvg(spark, sf).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toVector).toMap
    val got = TimeSeriesOps.holtForecast(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getDouble(2))).toMap
    series.foreach { case (et, ys) =>
      var lvl = ys(0); var trd = ys(1) - ys(0)
      ys.drop(2).foreach { y =>
        val l2 = 0.1 * y + 0.9 * (lvl + trd)
        trd = 0.01 * (l2 - lvl) + 0.99 * trd
        lvl = l2
      }
      val (n, f) = got(et)
      assert(n == ys.length && f == lvl + trd, et)
    }
  }

  test("holtBands: dev EWMA matches the reference fold, bands bracket") {
    val series = TimeSeriesOps.rollupAvg(spark, sf).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toVector).toMap
    val got = TimeSeriesOps.holtBands(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    series.foreach { case (et, ys) =>
      var lvl = ys(0); var trd = ys(1) - ys(0); var dev = 0.0
      ys.drop(2).foreach { y =>
        val pred = lvl + trd
        val l2 = 0.1 * y + 0.9 * (lvl + trd)
        val t2 = 0.01 * (l2 - lvl) + 0.99 * trd
        val d2 = 0.1 * math.abs(y - pred) + 0.9 * dev
        lvl = l2; trd = t2; dev = d2
      }
      val (n, f, lo, hi) = got(et)
      assert(n == ys.length && f == lvl + trd, et)
      assert(lo == lvl + trd - 3.0 * dev && hi == lvl + trd + 3.0 * dev, et)
      assert(lo < f && f < hi, s"$et: bands must bracket the forecast")
    }
  }

  test("holtWinters: daily-seasonal triple smoothing matches reference") {
    val series = TimeSeriesOps.rollupAvg(spark, sf).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toVector).toMap
    val got = TimeSeriesOps.holtWinters(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getDouble(2))).toMap
    series.filter(_._2.length >= 25).foreach { case (et, ys) =>
      val s24 = ys.take(24)
        .map(v => math.rint(BigDecimal(v).setScale(4,
          BigDecimal.RoundingMode.HALF_UP).toDouble * 10000).toLong).sum
      val mean = s24.toDouble / 240000.0
      val season = ys.take(24).map(_ - mean).toArray
      var lvl = mean; var trd = 0.0; var pos = 24
      ys.drop(24).foreach { y =>
        val i = pos % 24
        val si = season(i)
        val l2 = 0.1 * (y - si) + 0.9 * (lvl + trd)
        val t2 = 0.01 * (l2 - lvl) + 0.99 * trd
        season(i) = 0.1 * (y - l2) + 0.9 * si
        lvl = l2; trd = t2; pos += 1
      }
      val (n, f) = got(et)
      assert(n == ys.length, et)
      assert(f == lvl + trd + season(pos % 24), s"$et: $f")
    }
    assert(got.nonEmpty)
  }

  test("exclude drops exactly the host1 series from the glob set") {
    val metrics = TimeSeriesOps.excludeSeries(spark, sf).collect()
      .map(_.getString(0)).distinct
    assert(metrics.nonEmpty)
    assert(metrics.forall(_.matches("app\\.[^.]*\\.[^.]*")))
    assert(!metrics.exists(_.contains("host1")))
    assert(metrics.exists(_.contains("host0")) &&
      metrics.exists(_.contains("host2")))
  }

  test("sax word matches a driver-side BigInt reference per series") {
    val rows = TimeSeriesOps.sax(spark, sf).collect()
    assert(rows.nonEmpty)
    val hourlySeries = TimeSeriesOps.rollupAvg(spark, sf).collect()
      .groupBy(_.getString(0))
    rows.foreach { r =>
      val et = r.getString(0)
      val n = r.getLong(1); val nf = r.getLong(2)
      val word = r.getString(3)
      assert(nf == (n + 23) / 24 && word.length == nf.toInt, s"$r")
      assert(word.forall(c => c >= 'a' && c <= 'd'), s"$r")
      // reference: exact integer cross-multiplied compare, like the op
      val qs = hourlySeries(et).sortBy(_.getTimestamp(1).getTime)
        .map(x => BigInt(math.round(x.getDouble(2) * 10000)))
      val s = qs.sum; val ss = qs.map(q => q * q).sum
      val nn = BigInt(qs.length)
      val m2 = (nn * ss - s * s).toDouble
      val ref = qs.grouped(24).map { fr =>
        val e = (nn * fr.sum - BigInt(fr.length) * s).toDouble
        val thr = fr.length.toDouble * math.sqrt(m2)
        if (e < -0.6745 * thr) 'a' else if (e < 0.0) 'b'
        else if (e < 0.6745 * thr) 'c' else 'd'
      }.mkString
      assert(word == ref, s"$et: $word != $ref")
    }
  }

  test("dtw matches a driver-side banded DP; absorbs a phase shift") {
    val ss = spark
    import ss.implicits._
    def refDtw(a: Array[Long], b: Array[Long], w: Int): Long = {
      val n = a.length
      val inf = 900000000000000000L
      val d = Array.fill(n, n)(inf)
      for (i <- 0 until n; j <- 0 until n if math.abs(i - j) <= w) {
        val c = math.abs(a(i) - b(j))
        val best =
          if (i == 0 && j == 0) 0L
          else Seq(
            if (i > 0) d(i - 1)(j) else inf,
            if (j > 0) d(i)(j - 1) else inf,
            if (i > 0 && j > 0) d(i - 1)(j - 1) else inf).min
        d(i)(j) = math.min(inf, c + best)
      }
      d(n - 1)(n - 1)
    }
    // b = a phase-shifted by 3 steps; c = unrelated sawtooth
    val n = 60
    val qa = Array.tabulate(n)(i => ((i * 37) % 101 * 10000).toLong)
    val qb = Array.tabulate(n)(i =>
      (((i + 3) * 37) % 101 * 10000).toLong)
    val qc = Array.tabulate(n)(i => ((i % 7) * 25000).toLong)
    val pairs = Seq(("a", "b", n.toLong, qa.toSeq, qb.toSeq),
      ("a", "c", n.toLong, qa.toSeq, qc.toSeq))
      .toDF("ma", "mb", "l", "qa", "qb")
    val got = TimeSeriesOps.dtwFromPairs(pairs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val expAb = r4(refDtw(qa, qb, 24) / 10000.0)
    val expAc = r4(refDtw(qa, qc, 24) / 10000.0)
    assert(got(("a", "b")) == expAb, s"ab: ${got(("a", "b"))} != $expAb")
    assert(got(("a", "c")) == expAc, s"ac: ${got(("a", "c"))} != $expAc")
    // the elastic alignment absorbs the shift: far below raw Euclidean
    val eucAb = qa.zip(qb).map(p => math.abs(p._1 - p._2)).sum / 10000.0
    assert(got(("a", "b")) < 0.25 * eucAb,
      s"dtw ${got(("a", "b"))} not << euclidean $eucAb")
  }

  test("lttb: endpoints kept, one pick per bucket, each pick maximal") {
    val ss = spark
    import ss.implicits._
    import org.apache.spark.sql.functions.{col, date_trunc, expr}
    // the hourly rollup exactly as the operator quantizes it
    val pts = graft.io.Tables.events(ss, sf)
      .groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("bucket"))
      .agg(graft.util.Det.avg4(col("value")).as("v"))
      .select(col("event_type"),
        expr("unix_micros(bucket) div 60000000").as("x"),
        expr("CAST(floor(v * 10000.0D + 0.5) AS BIGINT)").as("qy"),
        expr("unix_micros(date_trunc('day', bucket)) div 86400000000")
          .as("di"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (et, rs) =>
        et -> rs.map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
          .sortBy(_._1)
      }
    val out = TimeSeriesOps.lttb(ss, sf).collect()
      .groupBy(_.getString(0))
      .map { case (et, rs) =>
        et -> rs.map(r => (r.getLong(1),
          math.floor(r.getDouble(2) * 10000.0 + 0.5).toLong))
          .sortBy(_._1)
      }
    assert(out.keySet == pts.keySet && out.nonEmpty)
    for ((et, sel) <- out) {
      val series = pts(et)
      val days = series.map(_._3).distinct.sorted
      assert(sel.length == days.length, s"$et: one pick per bucket")
      assert(sel.head._1 == series.head._1 && sel.last._1 ==
        series.last._1, s"$et: endpoints must be kept")
      // middle picks: maximal doubled-area*c vs the previous pick and
      // the next bucket's sums; ties go to the earliest candidate
      for (k <- 1 until days.length - 1) {
        val (px, py) = (sel(k - 1)._1, sel(k - 1)._2)
        val cur = series.filter(_._3 == days(k))
        val nxt = series.filter(_._3 == days(k + 1))
        val (nsx, nsy, nc) =
          (nxt.map(_._1).sum, nxt.map(_._2).sum, nxt.length.toLong)
        def area(x: Long, qy: Long): BigInt =
          (BigInt(px * nc - nsx) * (qy - py) -
            BigInt(px - x) * (nsy - nc * py)).abs
        val areas = cur.map(p => area(p._1, p._2))
        val bestIdx = areas.indexOf(areas.max)
        assert((sel(k)._1, sel(k)._2) == ((cur(bestIdx)._1,
          cur(bestIdx)._2)),
          s"$et day ${days(k)}: pick ${sel(k)} not the argmax " +
            s"${cur(bestIdx)}")
      }
    }
  }

  test("markov attribution: masking only lowers reach; shares sum to 1") {
    val rows = TimeSeriesOps.markovAttribution(spark, sf).collect()
    assert(rows.length == 5)
    val base = rows.find(_.getString(0) == "base").get.getLong(1)
    assert(base > 0L, "fixture must convert from start")
    val removed = rows.filter(_.getString(0) != "base")
    for (r <- removed) {
      // zeroing a channel's reach each round is monotone: no variant
      // can ever exceed the base chain's conversion probability
      assert(r.getLong(1) <= base, s"masking raised reach: $r")
      assert(r.getLong(2) == math.max(base - r.getLong(1), 0L),
        s"removal mass inconsistent: $r")
    }
    val shares = removed.map(_.getDouble(3))
    assert(math.abs(shares.sum - 1.0) < 4e-4,
      s"shares ${shares.toSeq} sum to ${shares.sum}")
    assert(rows.find(_.getString(0) == "base").get.getDouble(3) == 0.0)
  }

  test("pettitt matches brute-force U_t on a tied, shifted series") {
    val ss = spark
    import ss.implicits._
    // level shift of +3 at t=120 with heavy ties (values cycle mod 7)
    val n = 300
    val xs = (0 until n).map(i =>
      if (i < 120) (i % 7).toDouble else (i % 7).toDouble + 3.0)
    val df = xs.zipWithIndex
      .map { case (v, i) => ("m", (i + 1).toLong, v) }
      .toDF("event_type", "bucket", "v")
    val got = TimeSeriesOps.pettittFromSeries(df).collect()(0)
    // brute force: U_t = sum_{i<=t} sum_{j>t} sgn(x_j - x_i)
    val us = (1 until n).map { t =>
      var u = 0L
      for (i <- 0 until t; j <- t until n)
        u += java.lang.Double.compare(xs(j), xs(i)).sign
      (t, u)
    }
    val k = us.map(p => math.abs(p._2)).max
    val (tStar, uStar) = us.find(p => math.abs(p._2) == k).get
    val lam = math.floor(
      (6.0 * k * k) / (n.toDouble * n * (n + 1)) * 10000.0 + 0.5) / 10000.0
    assert(got.getLong(1) == n.toLong, s"n: $got")
    assert(got.getLong(2) == k, s"k_stat: $got vs $k")
    assert(got.getLong(3) == tStar.toLong, s"cp_bucket: $got vs $tStar")
    assert(got.getLong(4) == uStar.sign, s"shift_dir: $got")
    assert(got.getDouble(5) == lam, s"lambda: $got vs $lam")
  }

  test("theil-sen == a driver median-of-pairwise-slopes fold") {
    import org.apache.spark.sql.functions._
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    // the same exact-rounded daily means the operators aggregate
    val daily = graft.io.Tables.events(spark, sf)
      .groupBy(col("event_type"),
        expr("unix_timestamp(date_trunc('DAY', ts)) div 86400")
          .cast("long").as("t"))
      .agg(graft.util.Det.avg4(col("value")).as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    val wantTs = daily.toSeq.sortBy(_._1).map { case (g, rows) =>
      val pts = rows.sortBy(_._2)
      val slopes = (for {
        i <- pts.indices; j <- pts.indices if pts(j)._2 > pts(i)._2
      } yield (pts(j)._3 - pts(i)._3) / (pts(j)._2 - pts(i)._2).toDouble)
        .sorted
      (g, slopes.length.toLong, r4(slopes(((slopes.length + 1) / 2) - 1)))
    }
    val gotTs = TimeSeriesOps.tsTheilSen(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(gotTs == wantTs, s"theil-sen diverged: $gotTs vs $wantTs")
  }

  test("durbin-watson == driver fold on the daily grain") {
    import org.apache.spark.sql.functions._
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val daily = graft.io.Tables.events(spark, sf)
      .groupBy(col("event_type"),
        expr("unix_timestamp(date_trunc('DAY', ts)) div 86400")
          .cast("long").as("t"))
      .agg(graft.util.Det.avg4(col("value")).as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    val wantDw = daily.toSeq.sortBy(_._1).map { case (g, rows) =>
      val q = rows.sortBy(_._2).map(r =>
        BigDecimal(r._3).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .*(BigDecimal(10000)).toLongExact)
      val n = q.length.toLong
      val s = q.sum
      val sd2 = q.toSeq.sliding(2).collect { case Seq(a, b) =>
        BigInt(b - a) * BigInt(b - a) }.foldLeft(BigInt(0))(_ + _)
      val se2 = q.map(x => BigInt(n * x - s) * (n * x - s)).sum
      val dw = if (n > 1 && se2 > 0)
        Some(r4(n.toDouble * n.toDouble * sd2.toDouble / se2.toDouble))
      else None
      (g, n, dw)
    }
    val gotDw = TimeSeriesOps.tsDurbinWatson(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    assert(gotDw == wantDw, s"durbin-watson diverged: $gotDw vs $wantDw")
  }

  test("newey-west == driver fold; Bartlett LRV nonnegative") {
    import org.apache.spark.sql.functions._
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val daily = graft.io.Tables.events(spark, sf)
      .groupBy(col("event_type"),
        expr("unix_timestamp(date_trunc('DAY', ts)) div 86400")
          .cast("long").as("t"))
      .agg(graft.util.Det.avg4(col("value")).as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    val want = daily.toSeq.sortBy(_._1).map { case (g, rows) =>
      val q = rows.sortBy(_._2).map(r =>
        BigDecimal(r._3).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .*(BigDecimal(10000)).toLongExact).toArray
      val n = q.length.toLong
      val s = q.sum
      val e = q.map(x => n * x - s)
      def gl(l: Int): BigInt =
        (l until e.length).map(t => BigInt(e(t)) * BigInt(e(t - l)))
          .foldLeft(BigInt(0))(_ + _)
      val g0 = gl(0)
      val lrv = g0.toDouble + 2.0 * (0.75 * gl(1).toDouble +
        0.5 * gl(2).toDouble + 0.25 * gl(3).toDouble)
      val var0 = r4(g0.toDouble /
        (n.toDouble * n.toDouble * n.toDouble * 1.0e8))
      val ratio = if (g0 > 0) Some(r4(lrv / g0.toDouble)) else None
      (g, n, var0, ratio)
    }
    val got = TimeSeriesOps.tsNeweyWest(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq
    assert(got == want, s"newey-west diverged: $got vs $want")
    // Bartlett kernel guarantees a nonnegative long-run variance
    got.foreach { case (g, _, _, ratio) =>
      ratio.foreach(x => assert(x >= 0.0, s"$g: negative LRV ratio $x"))
    }
  }

  test("isotonic: == driver PAV, monotone fit, block means preserved") {
    import org.apache.spark.sql.functions._
    // driver reference over the same exact (type, hour, w, s) grain
    val grain = graft.io.Tables.events(spark, sf)
      .groupBy(col("event_type"), hour(col("ts")).cast("long").as("x"))
      .agg(count(lit(1)).as("w"),
        sum((col("value").cast("decimal(18,4)") * lit(10000L))
          .cast("long")).as("s"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    def mean4(s: Long, w: Long): Double =
      Math.floorDiv(2L * s + w, 2L * w).toDouble / 10000.0
    val want = grain.toSeq.sortBy(_._1).flatMap { case (g, rows) =>
      val pts = rows.sortBy(_._2).map(r => (r._2, r._3, r._4)).toIndexedSeq
      val blocks = scala.collection.mutable
        .ArrayBuffer[(Long, Long, Int)]()
      pts.foreach { case (_, w, s) =>
        var bw = w; var bs = s; var bc = 1
        while (blocks.nonEmpty && {
            val (pw, ps, _) = blocks.last
            BigInt(ps) * bw >= BigInt(bs) * pw
          }) {
          val (pw, ps, pc) = blocks.remove(blocks.length - 1)
          bw += pw; bs += ps; bc += pc
        }
        blocks += ((bw, bs, bc))
      }
      var i = 0
      blocks.flatMap { case (bw, bs, bc) =>
        val fit = mean4(bs, bw)
        (0 until bc).map { _ =>
          val (x, w, s) = pts(i); i += 1
          (g, x, w, mean4(s, w), fit)
        }
      }
    }
    val got = TimeSeriesOps.tsIsotonic(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(got == want, s"isotonic diverged from driver PAV " +
      s"(first: ${got.take(3)} vs ${want.take(3)})")
    // monotone nondecreasing fit within each type
    got.groupBy(_._1).foreach { case (g, rows) =>
      val fits = rows.sortBy(_._2).map(_._5)
      fits.sliding(2).foreach { p =>
        if (p.length == 2) assert(p(0) <= p(1), s"$g fit not monotone")
      }
    }
    // PAV solution property: within every fitted LEVEL the weighted
    // mean of the raw inputs equals the fitted value (exact integers)
    got.groupBy(r => (r._1, r._5)).foreach { case ((g, fit), rows) =>
      val keys = rows.map(r => (r._1, r._2)).toSet
      val raw = grain(g).filter(r => keys((r._1, r._2)))
      val bw = raw.map(_._3).sum; val bs = raw.map(_._4).sum
      assert(mean4(bs, bw) == fit,
        s"$g level $fit does not preserve its pooled mean")
    }
  }

  test("variance ratio == driver fold; iid fixture reads ~1/q") {
    import org.apache.spark.sql.functions._
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val q = 6
    val h1 = TimeSeriesOps.rollupAvg(spark, sf).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime,
        math.round(r.getDouble(2) * 10000.0)))
    val want = h1.groupBy(_._1).toSeq.sortBy(_._1).map { case (g, rows) =>
      val ys = rows.sortBy(_._2).map(_._3)
      val t = (ys.length - 1).toLong
      val nq = (ys.length - q).toLong
      val delta = ys.last - ys.head
      val s1 = ys.zip(ys.tail).map { case (a, b) =>
        val e = t * (b - a) - delta; BigInt(e) * e }.sum
      val sq = ys.dropRight(q).zip(ys.drop(q)).map { case (a, b) =>
        val e = t * (b - a) - q.toLong * delta; BigInt(e) * e }.sum
      val vr = sq.toDouble * t.toDouble /
        (nq.toDouble * q.toDouble * s1.toDouble)
      val z = (vr - 1.0) / math.sqrt(
        (2.0 * (2 * q - 1) * (q - 1) / (3.0 * q)) / t.toDouble)
      (g, t, nq,
        if (s1 > 0) Some(r4(vr)) else None,
        if (s1 > 0 && t > 0L) Some(r4(z)) else None)
    }
    val got = TimeSeriesOps.tsVarianceRatio(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toSeq
    assert(got == want, s"variance ratio diverged: ${got.take(2)} vs " +
      s"${want.take(2)}")
    // iid hourly values: VR should sit near 1/q, far below 1
    got.foreach { case (g, _, _, vr, _) =>
      vr.foreach(x => assert(x > 0.0 && x < 0.6,
        s"$g: VR $x not mean-reverting on the iid fixture"))
    }
  }

  test("dickey-fuller == driver fold; white-noise fixture rejects " +
      "the unit root hard") {
    import org.apache.spark.sql.functions._
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val h1 = TimeSeriesOps.rollupAvg(spark, sf).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime,
        math.round(r.getDouble(2) * 10000.0)))
    val want = h1.groupBy(_._1).toSeq.sortBy(_._1).map { case (g, rows) =>
      val ys = rows.sortBy(_._2).map(_._3)
      val xv = ys.dropRight(1); val yv = ys.tail.zip(xv).map(p => p._1 - p._2)
      val t = xv.length.toLong
      val sx = xv.sum; val sy = yv.sum
      val sxy = xv.zip(yv).map(p => BigInt(p._1) * p._2).sum
      val sxx = xv.map(a => BigInt(a) * a).sum
      val rnum = BigInt(t) * sxy - BigInt(sx) * sy
      val rden = BigInt(t) * sxx - BigInt(sx) * sx
      val rho = rnum.toDouble / rden.toDouble
      val a = (sy.toDouble - rho * sx.toDouble) / t.toDouble
      val su2 = xv.zip(yv).map { case (x0, y0) =>
        val u = y0.toDouble - (a + rho * x0.toDouble)
        math.floor(u * u).toLong
      }.sum
      val dft = if (rden > 0 && t > 2L && su2 > 0L)
        Some(r4(rho / math.sqrt((su2.toDouble / (t.toDouble - 2.0)) *
          t.toDouble / rden.toDouble)))
      else None
      (g, t, if (rden > 0) Some(r4(rho)) else None, dft)
    }
    val got = TimeSeriesOps.tsDickeyFuller(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq
    assert(got == want, s"dickey-fuller diverged: ${got.take(2)} vs " +
      s"${want.take(2)}")
    // hourly averages of iid values are stationary: strong rejection
    got.foreach { case (g, _, _, dft) =>
      dft.foreach(x => assert(x < -2.9, s"$g: df_t $x not rejecting"))
    }
  }

  test("cointegration == driver OLS + DF fold on every pair") {
    import org.apache.spark.sql.functions._
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val h1 = TimeSeriesOps.rollupAvg(spark, sf).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime,
        math.round(r.getDouble(2) * 10000.0)))
    val types = h1.map(_._1).distinct.sorted
    val byT = h1.groupBy(_._1).view
      .mapValues(_.map(x => (x._2, x._3)).toMap).toMap
    val want = (for { ma <- types; mb <- types if ma < mb } yield {
      val bks = byT(ma).keySet.intersect(byT(mb).keySet).toSeq.sorted
      val xs = bks.map(byT(ma)); val ys = bks.map(byT(mb))
      val n = bks.length.toLong
      val sx = xs.sum; val sy = ys.sum
      val sxy = xs.zip(ys).map { case (a, b) => BigInt(a) * b }.sum
      val sxx = xs.map(a => BigInt(a) * a).sum
      val bnum = BigInt(n) * sxy - BigInt(sx) * sy
      val bden = BigInt(n) * sxx - BigInt(sx) * sx
      val beta = bnum.toDouble / bden.toDouble
      val alpha = (sy.toDouble - beta * sx.toDouble) / n.toDouble
      val e = xs.zip(ys).map { case (a, b) =>
        (b.toDouble - (alpha + beta * a.toDouble)) / 10000.0 }
      val (els, des) = e.zip(e.tail).map(p => (p._1, p._2 - p._1)).unzip
      val t = els.length.toLong
      val q1s = els.zip(des)
        .map(p => math.floor(p._1 * p._2 * 1.0e9).toLong).sum
      val q2s = els.map(x => math.floor(x * x * 1.0e9).toLong).sum
      val rho = q1s.toDouble / q2s.toDouble
      val q3s = els.zip(des).map { case (el, de) =>
        val u = de - rho * el
        math.floor(u * u * 1.0e9).toLong
      }.sum
      val dft = if (q2s > 0L && t > 2L && q3s > 0L)
        Some(r4(rho / math.sqrt((q3s.toDouble / (t.toDouble - 1.0)) /
          q2s.toDouble)))
      else None
      (ma, mb, t, if (bden > 0) Some(r4(beta)) else None,
        if (q2s > 0L) Some(r4(rho)) else None, dft)
    }).toSeq
    val got = TimeSeriesOps.tsCointegration(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toSeq
    assert(got == want, s"coint diverged: ${got.take(2)} vs " +
      s"${want.take(2)}")
    // residual AR coefficient rho = (lag-1 autocorr) - 1 lives in
    // [-2, 0] for any stationary residual path
    got.foreach { case (ma, mb, _, _, rho, _) =>
      rho.foreach(x => assert(x >= -2.0 - 1e-6 && x <= 0.5,
        s"($ma,$mb): rho $x out of band"))
    }
  }

  test("grubbs == driver moments; g bounded by (n-1)/sqrt(n)") {
    import org.apache.spark.sql.functions._
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val h1 = TimeSeriesOps.rollupAvg(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(2)))
    val want = h1.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, rows) =>
      val ys = rows.map(x => math.round(x._2 * 10000.0))
      val n = ys.length.toLong
      val sy = ys.sum
      val syy = ys.map(y => BigInt(y) * y).sum
      val vnum = BigInt(n) * syy - BigInt(sy) * sy
      val sd = math.sqrt(vnum.toDouble /
        (n.toDouble * (n.toDouble - 1.0))) / 10000.0
      def g(num: Long): Double =
        (num.toDouble / (n.toDouble * 10000.0)) / sd
      val (gx, gn) = if (n >= 3L && vnum > 0)
        (Some(r4(g(n * ys.max - sy))), Some(r4(g(sy - n * ys.min))))
      else (None, None)
      (t, n, r4(ys.max.toDouble / 10000.0),
        r4(ys.min.toDouble / 10000.0), gx, gn)
    }
    val got = TimeSeriesOps.tsGrubbs(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toSeq
    assert(got == want, s"grubbs diverged: ${got.take(2)} vs " +
      s"${want.take(2)}")
    // algebraic bound: G <= (n-1)/sqrt(n) always
    got.foreach { case (t, n, _, _, gx, gn) =>
      val bound = (n.toDouble - 1.0) / math.sqrt(n.toDouble) + 1e-6
      (gx.toSeq ++ gn.toSeq).foreach(gv =>
        assert(gv > 0.0 && gv <= bound, s"$t: G=$gv out of (0, $bound]"))
    }
  }

  test("hoeffding d == O(n^2) driver reference; d in [-0.5, 1]") {
    import org.apache.spark.sql.functions._
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val h1 = TimeSeriesOps.rollupAvg(spark, sf).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime,
        r.getDouble(2)))
    val types = h1.map(_._1).distinct.sorted
    val byT = h1.groupBy(_._1).view
      .mapValues(_.map(x => (x._2, x._3)).toMap).toMap
    val want = (for {
      ma <- types; mb <- types if ma < mb
    } yield {
      val shared = byT(ma).keySet.intersect(byT(mb).keySet).toSeq
      val pts = shared.map(b => (byT(ma)(b), byT(mb)(b), b))
      val n = pts.length.toLong
      // strict (value, bucket) total-order ranks
      val rIdx = pts.sortBy(p => (p._1, p._3)).zipWithIndex
        .map { case (p, i) => p._3 -> (i + 1L) }.toMap
      val sIdx = pts.sortBy(p => (p._2, p._3)).zipWithIndex
        .map { case (p, i) => p._3 -> (i + 1L) }.toMap
      val rs = pts.map(p => (rIdx(p._3), sIdx(p._3)))
      var d1 = BigInt(0); var d2 = BigInt(0); var d3 = BigInt(0)
      rs.foreach { case (r, s) =>
        val q = rs.count { case (rj, sj) => rj < r && sj < s }.toLong
        d1 += BigInt(q) * (q - 1L)
        d2 += BigInt((r - 1L) * (r - 2L)) * ((s - 1L) * (s - 2L))
        d3 += BigInt(r - 2L) * (s - 2L) * q
      }
      val num = BigInt((n - 2L) * (n - 3L)) * d1 + d2 -
        2 * BigInt(n - 2L) * d3
      val den = n.toDouble * (n.toDouble - 1.0) * (n.toDouble - 2.0) *
        (n.toDouble - 3.0) * (n.toDouble - 4.0)
      val dv = if (n >= 5L) Some(r4(30.0 * num.toDouble / den)) else None
      (ma, mb, n, dv)
    }).toSeq
    val got = TimeSeriesOps.tsHoeffding(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq
    assert(got == want, s"hoeffding diverged: ${got.take(3)} vs " +
      s"${want.take(3)}")
    got.foreach { case (ma, mb, _, dv) =>
      dv.foreach(x => assert(x >= -0.5 - 1e-9 && x <= 1.0 + 1e-9,
        s"($ma,$mb): D=$x out of range"))
    }
  }

  test("fano: events conserved, vmr == driver ratio, burstiness " +
      "in [-1, 1]") {
    import org.apache.spark.sql.functions._
    val got = TimeSeriesOps.tsFano(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        if (r.isNullAt(5)) None else Some(r.getDouble(5))))
    assert(got.nonEmpty)
    // event conservation per type (spine only adds zero hours)
    val evCnt = graft.io.Tables.events(spark, sf)
      .groupBy(col("event_type")).count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    got.foreach { case (t, nb, ne, vmr, b) =>
      assert(ne == evCnt(t), s"$t: events not conserved $ne")
      assert(nb >= 1L)
      vmr.foreach(v => assert(v >= 0.0, s"$t: negative VMR $v"))
      b.foreach(x => assert(x >= -1.0 - 1e-9 && x <= 1.0 + 1e-9,
        s"$t: burstiness $x"))
    }
    // driver recompute of the exact integer ratio for one type
    val (t0, nb0, ne0, vmr0, _) = got.head
    val hrs = graft.io.Tables.events(spark, sf)
      .where(col("event_type") === t0)
      .select(expr("unix_micros(date_trunc('hour', ts))")).collect()
      .map(_.getLong(0))
    val all = graft.io.Tables.events(spark, sf)
      .select(expr("unix_micros(date_trunc('hour', ts))")).collect()
      .map(_.getLong(0))
    val (lo, hi) = (all.min, all.max)
    val n = (hi - lo) / 3600000000L + 1L
    assert(n == nb0, s"spine length $n != $nb0")
    val byH = hrs.groupBy(identity).view.mapValues(_.size.toLong)
    val cs = (0L until n).map(k => byH.getOrElse(lo + k * 3600000000L, 0L))
    val sc = cs.sum; val sc2 = cs.map(c => c * c).sum
    assert(sc == ne0)
    val num = BigInt(n) * sc2 - BigInt(sc) * sc
    val den = BigInt(n - 1L) * sc
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val wantV = if (den > 0) Some(r4(num.toDouble / den.toDouble))
                else None
    assert(vmr0 == wantV, s"$t0: vmr $vmr0 != $wantV")
  }

  test("conformal_iso == independent driver reference (split, PAV " +
      "sigma, exact-rank q90n, coverage)") {
    import org.apache.spark.sql.functions._
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    def mean4(s: Long, w: Long): Double =
      Math.floorDiv(2L * s + w, 2L * w).toDouble / 10000.0
    val ab = TimeSeriesOps.holtAberration(spark, sf)
      .select(col("event_type"), col("bucket"),
        abs(col("v") - col("fc")).as("r")).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
    val want = ab.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (g, rows0) =>
        val rows = rows0.sortBy(_._2.getTime)
        val n = rows.length.toLong
        val ncal = (n * 7L) / 10L
        val calR = rows.take(ncal.toInt)
        val testR = rows.drop(ncal.toInt)
        def hr(t: java.sql.Timestamp): Long =
          t.toInstant.atZone(java.time.ZoneOffset.UTC).getHour.toLong
        // PAV over (hour, w, s) with s = sum(round_half_up(r*1e4))
        val pts = calR.groupBy(x => hr(x._2)).toSeq.sortBy(_._1)
          .map { case (h, rs) =>
            val w = rs.length.toLong
            val s = rs.map(x => BigDecimal(x._3)
              .setScale(4, BigDecimal.RoundingMode.HALF_UP)
              .*(BigDecimal(10000)).toLongExact).sum
            (h, w, s)
          }.toIndexedSeq
        val blocks = scala.collection.mutable
          .ArrayBuffer[(Long, Long, Int)]()
        pts.foreach { case (_, w, s) =>
          var bw = w; var bs = s; var bc = 1
          while (blocks.nonEmpty && {
              val (pw, ps, _) = blocks.last
              BigInt(ps) * bw >= BigInt(bs) * pw
            }) {
            val (pw, ps, pc) = blocks.remove(blocks.length - 1)
            bw += pw; bs += ps; bc += pc
          }
          blocks += ((bw, bs, bc))
        }
        val sig = scala.collection.mutable.Map[Long, Double]()
        var i = 0
        blocks.foreach { case (bw, bs, bc) =>
          val fit = mean4(bs, bw)
          (0 until bc).foreach { _ => sig(pts(i)._1) = fit; i += 1 }
        }
        val usable = calR.filter(x => sig(hr(x._2)) > 0.0)
          .map(x => (x._3 / sig(hr(x._2)), x._2.getTime))
          .sortBy(identity)
        if (usable.isEmpty) Seq.empty
        else {
          val m = usable.length.toLong
          val q90n = usable(((9L * m + 9L) / 10L - 1L).toInt)._1
          val smax = sig.values.max
          val cov = testR.count { x =>
            // conservative fallback for unseen hours AND degenerate
            // (sigma <= 0) fits — mirrors tsConformalIso's guard
            val s0 = sig.getOrElse(hr(x._2), 0.0)
            val sg = if (s0 > 0.0) s0 else smax
            x._3 <= q90n * sg
          }.toLong
          Seq((g, ncal, m, testR.length.toLong, r4(q90n), cov,
            r4(cov.toDouble / testR.length.toDouble)))
        }
    }
    val got = TimeSeriesOps.tsConformalIso(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getLong(5), r.getDouble(6)))
      .toSeq
    assert(got == want,
      s"conformal_iso diverged (got ${got.take(2)} vs ${want.take(2)})")
    // the adaptive band still covers a sane fraction on this fixture
    got.foreach { case (g, _, _, nt, _, _, cov) =>
      if (nt >= 10L) assert(cov >= 0.5 && cov <= 1.0,
        s"$g: adaptive coverage $cov out of band")
    }
  }

  test("augmented dickey-fuller == driver 2-var OLS fold; " +
      "white noise still rejects and phi stays small") {
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val h1 = TimeSeriesOps.rollupAvg(spark, sf).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime,
        math.round(r.getDouble(2) * 10000.0)))
    val want = h1.groupBy(_._1).toSeq.sortBy(_._1).map { case (g, rows) =>
      val ys = rows.sortBy(_._2).map(_._3)
      // x = y_{t-1}, z = lag diff, y = diff — rows with both lags
      val trip = (2 until ys.length).map(i =>
        (ys(i - 1), ys(i - 1) - ys(i - 2), ys(i) - ys(i - 1)))
      val n = trip.length.toLong
      val sx = trip.map(_._1).sum; val sz = trip.map(_._2).sum
      val sy = trip.map(_._3).sum
      def dot(f: ((Long, Long, Long)) => Long,
          h: ((Long, Long, Long)) => Long): BigInt =
        trip.map(t => BigInt(f(t)) * h(t)).sum
      val (sxx, szz, sxz) = (dot(_._1, _._1), dot(_._2, _._2),
        dot(_._1, _._2))
      val (sxy, szy) = (dot(_._1, _._3), dot(_._2, _._3))
      val cxx = BigInt(n) * sxx - BigInt(sx) * sx
      val czz = BigInt(n) * szz - BigInt(sz) * sz
      val cxz = BigInt(n) * sxz - BigInt(sx) * sz
      val cxy = BigInt(n) * sxy - BigInt(sx) * sy
      val czy = BigInt(n) * szy - BigInt(sz) * sy
      val det = cxx * czz - cxz * cxz
      val rnum = czz * cxy - cxz * czy
      val pnum = cxx * czy - cxz * cxy
      val rho = rnum.toDouble / det.toDouble
      val phi = pnum.toDouble / det.toDouble
      val a = (sy.toDouble - rho * sx.toDouble - phi * sz.toDouble) /
        n.toDouble
      val su2 = trip.map { case (x0, z0, y0) =>
        val u = if (det > 0)
          y0.toDouble - (a + rho * x0.toDouble + phi * z0.toDouble)
        else 0.0
        math.floor(u * u).toLong
      }.sum
      val t = if (det > 0 && n > 3L && su2 > 0L)
        Some(r4(rho / math.sqrt((su2.toDouble / (n.toDouble - 3.0)) *
          n.toDouble * czz.toDouble / det.toDouble)))
      else None
      (g, n, if (det > 0) Some(r4(rho)) else None,
        if (det > 0) Some(r4(phi)) else None, t)
    }
    val got = TimeSeriesOps.tsAdf(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toSeq
    assert(got == want, s"adf diverged: ${got.take(2)} vs " +
      s"${want.take(2)}")
    got.foreach { case (g, _, rho, phi, t) =>
      // iid hourly means: strong rejection, near-full mean reversion,
      // no genuine AR(1) structure in the differences
      t.foreach(x => assert(x < -2.9, s"$g: adf_t $x not rejecting"))
      rho.foreach(x => assert(x > -2.0 && x < 0.0, s"$g: rho $x"))
      phi.foreach(x => assert(math.abs(x) < 0.5, s"$g: phi $x"))
    }
  }

  test("KPSS accepts stationarity where ADF rejects the unit root; " +
      "Bartels RVN reads random on the iid fixture") {
    // the two-sided stationarity protocol on a fixture with a known
    // answer: hourly means of iid draws are stationary, so KPSS eta
    // must sit under the 5% critical value 0.463 while ADF rejects
    val kpss = TimeSeriesOps.tsKpss(spark, sf).collect()
    assert(kpss.nonEmpty)
    kpss.foreach { r =>
      val g = r.getString(0)
      assert(!r.isNullAt(2) && r.getDouble(2) < 0.463,
        s"$g: eta_0 ${r.getDouble(2)} rejects a stationary fixture")
      assert(!r.isNullAt(3) && r.getDouble(3) < 0.463,
        s"$g: eta_4 ${r.getDouble(3)} rejects a stationary fixture")
    }
    val rvn = TimeSeriesOps.tsBartelsRvn(spark, sf).collect()
    assert(rvn.nonEmpty)
    rvn.foreach { r =>
      val g = r.getString(0)
      assert(math.abs(r.getDouble(2) - 2.0) < 0.5, s"$g: rvn off 2")
      assert(math.abs(r.getDouble(3)) < 3.0, s"$g: |z| not random")
    }
  }

  test("Cox-Stuart reads no trend and KPSS trend form stays under its " +
      "critical value on the iid fixture") {
    val cs = TimeSeriesOps.tsCoxStuart(spark, sf).collect()
    assert(cs.nonEmpty)
    cs.foreach { r =>
      val g = r.getString(0)
      // pairs split near-evenly and z stays inside the 5% band
      assert(math.abs(r.getDouble(4)) < 1.96, s"$g: trending? z=${r.getDouble(4)}")
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3), s"$g: m mismatch")
    }
    val kt = TimeSeriesOps.tsKpssTrend(spark, sf).collect()
    assert(kt.nonEmpty)
    kt.foreach { r =>
      val g = r.getString(0)
      assert(!r.isNullAt(2) && r.getDouble(2) < 0.146,
        s"$g: eta_0 ${r.getDouble(2)} rejects a trend-stationary fixture")
      assert(!r.isNullAt(3) && r.getDouble(3) < 0.146,
        s"$g: eta_4 ${r.getDouble(3)} rejects a trend-stationary fixture")
    }
  }

  test("seasonal Spearman between sources equals a per-stratum " +
      "midrank-Pearson driver walk; rho_sk bounded") {
    import org.apache.spark.sql.functions.{col, hour}
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val evs = graft.io.Tables.events(spark, sf)
      .select(hour(col("ts")).as("hod"), col("event_type"), col("value"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2)))
    val types = evs.map(_._2).distinct.sorted
    val byTH = evs.groupBy(e => (e._2, e._1)).view
      .mapValues(_.map(_._3)).toMap
    val want = (for {
      i <- types.indices; j <- (i + 1) until types.length
    } yield {
      val (s1, s2) = (types(i), types(j))
      var n1 = 0L; var n2 = 0L; var nStrata = 0L
      var snum = BigInt(0); var dq = 0L
      (0 until 24).foreach { h =>
        (byTH.get((s1, h)), byTH.get((s2, h))) match {
          case (Some(ya), Some(yb)) =>
            nStrata += 1; n1 += ya.length; n2 += yb.length
            val nn = ya.length + yb.length
            // doubled midranks: 2*rank(v) = 2*below + count(v) + 1
            val pooled = ya ++ yb
            val cnt = pooled.groupBy(identity).view.mapValues(_.size)
              .toMap
            def below(v: Double) = pooled.count(_ < v)
            val d2 = yb.map(v => BigInt(2L * below(v) + cnt(v) + 1)).sum
            val aTerm = d2 - BigInt(yb.length) * (nn + 1)
            val tsum = cnt.values
              .map(t => BigInt(t) * t * t - t).sum
            val bTerm = BigInt(nn) * nn * nn - nn - tsum
            snum += BigInt(nn) * aTerm
            if (bTerm > 0)
              dq += math.floor(math.sqrt(ya.length.toDouble *
                yb.length.toDouble * nn.toDouble *
                (bTerm.toDouble / 3.0)) * 4096.0).toLong
          case _ => ()
        }
      }
      val rho = if (dq > 0L)
        Some(r4(snum.toDouble / (dq.toDouble / 4096.0)))
      else None
      (s1, s2, n1, n2, nStrata, rho)
    }).toSeq
    val got = TimeSeriesOps.seasonalSpearmanSources(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toSeq
    assert(got == want,
      s"seasonal spearman diverged: ${got.take(2)} vs ${want.take(2)}")
    got.foreach { case (s1, s2, _, _, ns, rho) =>
      rho.foreach(x => assert(math.abs(x) <= 1.0, s"($s1,$s2): $x"))
      assert(ns == 24L, s"($s1,$s2): only $ns strata")
    }
  }

  test("seasonal Kendall between sources equals an exact driver " +
      "stratum walk; tau_sk bounded") {
    import org.apache.spark.sql.functions.{col, hour}
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val evs = graft.io.Tables.events(spark, sf)
      .select(hour(col("ts")).as("hod"), col("event_type"), col("value"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2)))
    val types = evs.map(_._2).distinct.sorted
    val byTH = evs.groupBy(e => (e._2, e._1)).view
      .mapValues(_.map(_._3)).toMap
    val want = (for {
      i <- types.indices; j <- (i + 1) until types.length
    } yield {
      val (s1, s2) = (types(i), types(j))
      var n1 = 0L; var n2 = 0L; var nStrata = 0L; var sTot = 0L
      var dq = 0L
      (0 until 24).foreach { h =>
        (byTH.get((s1, h)), byTH.get((s2, h))) match {
          case (Some(a), Some(b)) =>
            nStrata += 1; n1 += a.length; n2 += b.length
            var nc = 0L; var nd = 0L
            for (x <- a; y <- b) {
              if (y > x) nc += 1 else if (y < x) nd += 1
            }
            sTot += nc - nd
            val pooled = (a ++ b).groupBy(identity).values
              .map(g => g.size.toLong * (g.size - 1)).sum
            val nn = (a.length + b.length).toLong
            val nyt2 = nn * (nn - 1) - pooled
            dq += math.floor(math.sqrt(a.length.toDouble *
              b.length.toDouble * (nyt2.toDouble / 2.0)) * 4096.0).toLong
          case _ => ()
        }
      }
      val tau = if (dq > 0L) Some(r4(sTot.toDouble / (dq.toDouble / 4096.0)))
      else None
      (s1, s2, n1, n2, nStrata, sTot, tau)
    }).toSeq
    val got = TimeSeriesOps.seasonalKendallSources(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5),
        if (r.isNullAt(6)) None else Some(r.getDouble(6)))).toSeq
    assert(got == want,
      s"seasonal kendall diverged: ${got.take(2)} vs ${want.take(2)}")
    // theory band: tau_sk in [-1, 1]; fixture non-vacuous (all 24
    // strata populated for every pair at any SF of this testdata)
    got.foreach { case (s1, s2, _, _, ns, _, tau) =>
      tau.foreach(t => assert(math.abs(t) <= 1.0, s"($s1,$s2): $t"))
      assert(ns == 24L, s"($s1,$s2): only $ns strata")
    }
  }

  test("rollup memo rebuilds after its input file is rewritten") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.functions.col
    import graft.util.Instrument
    val target = Files.createDirectories(Paths.get("target"))
    val tmp = Files.createTempDirectory(target, "memo_stale")
    val dir = Files.createDirectory(tmp.resolve("sf"))
    val d = dir.toAbsolutePath.toString
    try {
      Files.list(Paths.get(sf)).forEach(f =>
        Files.copy(f, dir.resolve(f.getFileName)))
      val before = TimeSeriesOps.rollupAvg(spark, d).collect().toSeq
      val raw = spark.read.parquet(s"$sf/events.parquet")
      val dropped = raw.select("event_type").distinct().orderBy("event_type")
        .head().getString(0)
      // written beside the copy, so the only change under it is the
      // rewritten events.parquet
      val subset = tmp.resolve("subset").toString
      raw.where(col("event_type") =!= dropped).coalesce(1)
        .write.parquet(subset)
      val part = Files.list(Paths.get(subset)).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      Files.move(Paths.get(part), dir.resolve("events.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      val misses = Instrument.get("memo.miss")
      val after = TimeSeriesOps.rollupAvg(spark, d).collect().toSeq
      val fresh = TimeSeriesOps.hourlyAvgRelation(spark, d)
        .orderBy("event_type", "bucket").collect().toSeq
      assert(after != before, "the rewrite must change the rollup")
      assert(after == fresh, "memo served a rollup of the old file")
      assert(Instrument.get("memo.miss") > misses)
    } finally {
      Files.walk(tmp).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.delete(p))
    }
  }
}
