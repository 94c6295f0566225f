package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's anchor naming and promotion gate, checked as pure
  * functions: no session, and never `Bench.main`, which stops its
  * session. */
class BenchSpec extends AnyFunSuite {
  import Bench._

  private lazy val committed = readAnchor("BENCH_FULL_latest.json")
  private def inflated(by: Double): Seq[(String, Double)] =
    committed.toSeq.map { case (k, v) => k -> v * by }

  test("anchor, summary and suspect files are keyed by set and cpus") {
    assert(files(Suite, 32) == Files("BENCH_FULL_latest.json",
      "BENCH_SUMMARY_latest.json", "BENCH_FULL_suspect.json"))
    assert(files(Suite, 8) == Files("BENCH_FULL_c8.json",
      "BENCH_SUMMARY_c8.json", "BENCH_FULL_suspect_c8.json"))
    assert(files(Cold, 8) == Files("BENCH_COLD_FULL_c8.json",
      "BENCH_COLD_SUMMARY_c8.json", "BENCH_COLD_FULL_suspect_c8.json"))
    assert(files(Cold, 32) == Files("BENCH_COLD_FULL_latest.json",
      "BENCH_COLD_SUMMARY_latest.json", "BENCH_COLD_FULL_suspect.json"))
  }

  test("only a whole-set sf0.1 run writes a default file") {
    val ok = gate(Map("q" -> 1.0), Seq("q" -> 1.0), hardStopped = false)
    assert(ok.promote)
    val fs = files(Suite, 32)
    assert(target(fs, None, canonical("/root/testdata/sf0.1/", None), ok)
      .contains(fs.anchor))
    assert(target(fs, None, canonical("/root/testdata/sf0.01", None), ok)
      .isEmpty)
    assert(target(fs, None,
      canonical("/root/testdata/sf0.1", Some(Set("q"))), ok).isEmpty)
    // the explicit path is the one opt-in that writes anywhere
    assert(target(fs, Some("/tmp/b.json"),
      canonical("/root/testdata/sf0.01", None), ok).contains("/tmp/b.json"))
  }

  test("the committed anchor is promoted against itself") {
    assert(committed.nonEmpty)
    val g = gate(committed, committed.toSeq, hardStopped = false)
    assert(g.promote && g.outliers == 0, g)
    assert(math.abs(g.overlapRatio - 1.0) < 1e-9)
    assert(target(files(Suite, 32), None, canonical = true, g)
      .contains("BENCH_FULL_latest.json"))
  }

  test("a 1.2x or 1.28x inflated run goes to suspect") {
    for (by <- Seq(1.2, 1.28)) {
      val g = gate(committed, inflated(by), hardStopped = false)
      assert(!g.promote && math.abs(g.overlapRatio - by) < 1e-6, g)
      assert(g.outliers == 0, g)
      assert(target(files(Suite, 32), None, canonical = true, g)
        .contains("BENCH_FULL_suspect.json"))
    }
  }

  test("a hard-stopped run or one with 9 outliers goes to suspect") {
    assert(!gate(committed, committed.toSeq, hardStopped = true).promote)
    // nine small queries at 3.5x: outliers by both the ratio and the
    // 0.5 s floor, yet the overlap total stays inside the ratio bound
    val small = committed.toSeq.filter(_._2 >= 0.25).sortBy(_._2).map(_._1)
    def withOutliers(n: Int): Gate = {
      val hit = small.take(n).toSet
      gate(committed, committed.toSeq.map { case (k, v) =>
        k -> (if (hit(k)) v * 3.5 else v) }, hardStopped = false)
    }
    val nine = withOutliers(9)
    assert(nine.outliers == 9 && nine.overlapRatio <= PromoteRatio, nine)
    assert(!nine.promote)
    assert(withOutliers(8).promote)
  }

  test("with no reference a run is promoted unless hard-stopped") {
    val fresh = gate(Map.empty, Seq("pagerank_converged" -> 9.0),
      hardStopped = false)
    assert(fresh.promote && fresh.overlapRatio == -1.0)
    assert(target(files(Cold, 4), None, canonical = true, fresh)
      .contains("BENCH_COLD_FULL_c4.json"))
    assert(!gate(Map.empty, Seq("pagerank_converged" -> 9.0),
      hardStopped = true).promote)
  }

  test("the cold set lists exactly the fourteen cold-cost ops") {
    assert(coldOps.map(_._1) == Seq("pagerank_converged", "mannwhitney_dist",
      "quantiles_dist", "kendall_fast", "simhash_wide", "rfm_dist",
      "pareto_dist", "gini_dist", "kcore_converged", "jaccard_capped",
      "resource_alloc_capped", "components_pd", "semdedup_clustered",
      "hits_converged"))
    assert(ops(Cold) == coldOps)
    assert(ops(Suite).map(_._1) == SparkEntry.queries.keys.toSeq.sorted)
  }
}
