package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** Benchmark main, one harness for two measurement sets:
  *  - `runMain graft.Bench` times the full [[SparkEntry.queries]] suite;
  *  - `runMain graft.Bench cold` times the cold set ([[coldOps]]).
  *
  * Prints one per-query JSON line, optional diagnostic lines, then a
  * SHORT `{"metric":"total",...}` summary as the FINAL stdout line (the
  * driver tail-parses; the last line must stay short).
  *
  * Env: `SPARK_GRAFT_SF_DIR` (default sf0.1), `SPARK_GRAFT_CPUS` (4),
  * `SPARK_GRAFT_BENCH_PASSES` (suite only, 3), `SPARK_GRAFT_BENCH_ONLY`
  * (comma list: time a subset) and `SPARK_GRAFT_BENCH_OUT` (write the
  * per-query line there, whatever the config).
  *
  * r17 hardening (the r16 driver run timed out at rc=124 and its
  * polluted dump overwrote the committed anchor for the third round
  * in a row):
  *  - WALL-CLOCK BUDGET with adaptive passes: after pass 1, if elapsed
  *    exceeds min(soft budget, 2x the committed anchor total), later
  *    passes re-run ONLY queries whose pass-1 time deviates from their
  *    committed anchor value (or that have no anchor entry); a hard
  *    budget stops measuring entirely and reports what it has.
  *  - INTERFERENCE RE-MEASURE BUDGET: the end-of-run isolated
  *    re-measure of >3x-anchor outliers is capped (count + seconds);
  *    it previously fired unbounded, i.e. most when the box was
  *    slowest and time was scarcest.
  *  - TWO-SOLO RULE: an outlier median is replaced only when TWO
  *    consecutive solo re-measures both land under the 3x line, and
  *    the replacement is the MAX of the two (a single lucky warm pass
  *    can no longer mask a genuine regression).
  *  - RAW MEDIANS + PROMOTION GATE: the dump carries raw (un-adjusted)
  *    medians so a lucky re-measure cannot ratchet the reference down,
  *    and the committed anchor is only overwritten when the run passes
  *    [[gate]]; a suspect run is dumped beside it instead.
  */
object Bench {
  type Op = (SparkSession, String) => DataFrame

  /** A named measurement set. A `cold` set runs one pass and never
    * re-measures: a second run would hit warm memos and hide the cold
    * cost the set exists to show. */
  final case class BenchSet(name: String, prefix: String, cold: Boolean)
  val Suite = BenchSet("suite", "BENCH", cold = false)
  val Cold = BenchSet("cold", "BENCH_COLD", cold = true)

  /** The cold set: spec-gated production runtimes that are not (or
    * cannot be) suite entries — convergence-stopped or train-once
    * operators whose round counts are data-dependent, so a 3-pass median
    * would hide the real cold number behind memoization. Their
    * fixed-round oracle-checked twins (q_agg_mannwhitney_dist,
    * q_agg_quantile_dist, q_ts_kendall_fast, q_rfm_segments_dist,
    * q_pareto_abc_dist, q_revenue_gini_dist, q_llm_simhash_wide,
    * q_mm_*_dedup_wide) live in the suite. */
  val coldOps: Seq[(String, Op)] = {
    import graft.rel.{RelationalOps => R}
    Seq(
      ("pagerank_converged", R.partPagerankConverged(_, _)),
      ("mannwhitney_dist", R.mannWhitneyDistributed(_, _)),
      ("quantiles_dist", R.exactQuantilesDistributed(_, _)),
      ("kendall_fast", graft.ts.TimeSeriesOps.kendallTauFast(_, _)),
      ("simhash_wide", graft.llm.TextOps.simhashWide(_, _)),
      ("rfm_dist", R.rfmSegmentsDistributed(_, _)),
      ("pareto_dist", R.paretoAbcDistributed(_, _)),
      ("gini_dist", R.revenueGiniDistributed(_, _)),
      ("kcore_converged", R.kcoreConverged(_, _)),
      ("jaccard_capped", R.partJaccardCapped(_, _)),
      ("resource_alloc_capped", R.partResourceAllocCapped(_, _)),
      ("components_pd", R.partComponentsPd(_, _)),
      ("semdedup_clustered", graft.llm.VectorOps.semDedupClustered(_, _)),
      ("hits_converged", R.partHitsConverged(_, _)))
  }

  /** A set's ops in run order. The suite runs NAME-SORTED: Map iteration
    * order reshuffles whenever a key is added, which moves the residual
    * first-run cost to a different query each round — a stable order
    * keeps per-query numbers comparable across rounds. */
  def ops(set: BenchSet): Seq[(String, Op)] =
    if (set.cold) coldOps else SparkEntry.queries.toSeq.sortBy(_._1)

  /** Past the soft budget (this cap, or 2x the anchor total if smaller)
    * later passes degrade to deviation-only re-runs; past the hard budget
    * measuring stops, so the final line always prints inside the
    * driver's window (~60 min; a clean 3-pass run is ~17-20 min). */
  val SoftBudgetCapSec = 1500.0
  val HardBudgetSec = 2400.0
  /** Caps on the end-of-run solo re-measure: queries and seconds. */
  val RemeasureMax = 10
  val RemeasureSec = 120.0
  /** Promotion gate: overlap total at most this ratio of the anchor's,
    * at most [[MaxOutliers]] queries over [[isOutlier]], no hard stop. */
  val PromoteRatio = 1.1
  val MaxOutliers = 8

  /** The committed files of a (set, cpus) config: the per-query anchor a
    * run is gated against and promoted to, the summary written with it,
    * and the suspect dump for a run the gate refuses. 32 cpus is the
    * canonical count and keeps the `latest` names. */
  final case class Files(anchor: String, summary: String, suspect: String)
  def files(set: BenchSet, cpus: Int): Files = {
    val tag = if (cpus == 32) "latest" else s"c$cpus"
    val p = set.prefix
    Files(s"${p}_FULL_$tag.json", s"${p}_SUMMARY_$tag.json",
      s"${p}_FULL_suspect${if (cpus == 32) "" else s"_c$cpus"}.json")
  }

  /** Only sf0.1 has committed references. */
  def canonicalSf(sfDir: String): Boolean =
    new java.io.File(sfDir.replaceAll("/+$", "")).getName == "sf0.1"

  /** Only a whole-set run at sf0.1 may write a default file, or
    * re-measure (a subset or other-SF run has no comparable reference). */
  def canonical(sfDir: String, only: Option[Set[String]]): Boolean =
    only.isEmpty && canonicalSf(sfDir)

  /** The `queries` map of a per-query file; empty when it is missing. */
  def readAnchor(path: String): Map[String, Double] =
    try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8")
      val qIdx = txt.indexOf("\"queries\":{")
      if (qIdx < 0) Map.empty
      else {
        val sub = txt.substring(qIdx + 11, txt.indexOf("}", qIdx))
        "\"([^\"]+)\":([-0-9.eE]+)".r.findAllMatchIn(sub)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    } catch { case NonFatal(_) => Map.empty }

  /** Over 3x the reference and by more than 0.5 s: sub-second jitter is
    * not an interference signature. */
  def isOutlier(t: Double, ref: Double): Boolean =
    t > 3.0 * ref && t - ref > 0.5

  /** `overlapRatio` is -1 when no query has a reference. */
  final case class Gate(overlapRatio: Double, outliers: Int,
      hardStopped: Boolean) {
    def promote: Boolean =
      !hardStopped && outliers <= MaxOutliers && overlapRatio <= PromoteRatio
  }
  def gate(anchor: Map[String, Double], medians: Seq[(String, Double)],
      hardStopped: Boolean): Gate = {
    val overlap = medians.filter(kv => anchor.contains(kv._1))
    val ref = overlap.map(kv => anchor(kv._1)).sum
    Gate(if (ref > 0) overlap.map(_._2).sum / ref else -1.0,
      overlap.count { case (k, v) => isOutlier(v, anchor(k)) }, hardStopped)
  }

  /** Where the raw per-query line goes: the explicit path if given; else,
    * for a canonical run, the anchor when the gate promotes and the
    * suspect file when it does not; else nowhere. */
  def target(fs: Files, explicitOut: Option[String], canonical: Boolean,
      g: Gate): Option[String] =
    explicitOut.orElse(
      if (!canonical) None else Some(if (g.promote) fs.anchor else fs.suspect))

  /** Absorb JVM/codegen/session warmup so the first timed query isn't
    * charged ~5s of one-time cost (it isn't query work). */
  private def warmUp(spark: SparkSession, sfDir: String): Unit = {
    // an in-memory agg for the codegen/exchange classes
    import org.apache.spark.sql.functions.{broadcast, count => cnt, sum}
    spark.range(100000).agg(sum("id"), cnt("id")).collect()
    // broadcast-join, window and SQL-text paths: BroadcastExchange's
    // thread pool, window codegen and the parser otherwise bill their
    // one-time class-loading to whichever query hits them first
    spark.range(1000).toDF("id")
      .join(broadcast(spark.range(100).toDF("id")), "id").count()
    spark.sql(
      """SELECT id, sum(id) OVER (ORDER BY id ROWS BETWEEN 3 PRECEDING
        |AND CURRENT ROW) FROM range(1000)""".stripMargin).collect()
    // a tiny read per table family for the parquet reader/vectorized-
    // decoder paths (~2.5s of class-loading otherwise): prefer the tiny
    // sibling SF (no bench data touched); if absent, a 1-row read per
    // family with negligible data pages
    try {
      val sib = new java.io.File(
        new java.io.File(sfDir).getParentFile, "sf0.001")
      val tables = Seq[(SparkSession, String) => DataFrame](
        graft.io.Tables.events, graft.io.Tables.documents,
        graft.io.Tables.embeddings, graft.io.Tables.lineitem)
      if (sib.isDirectory)
        tables.foreach(t => t(spark, sib.getAbsolutePath).count())
      else tables.foreach(t => t(spark, sfDir).limit(1).count())
    } catch {
      // warmup failure must not fail the bench; class-loading hiccups
      // (LinkageError) recover lazily later, interrupts are preserved,
      // and true VM death (OOM) propagates — the run is doomed anyway
      case _: InterruptedException =>
        Thread.currentThread().interrupt()
        System.err.println(s"[bench] warmup interrupted")
      case e: LinkageError =>
        System.err.println(s"[bench] warmup skipped: ${e.getMessage}")
      case NonFatal(e) =>
        System.err.println(s"[bench] warmup skipped: ${e.getMessage}")
    }
  }

  private def write(path: String, line: String, what: String): Unit =
    try java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (line + "\n").getBytes("UTF-8"))
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] $what dump skipped: ${e.getMessage}")
    }

  def main(args: Array[String]): Unit = {
    val set = args.headOption.getOrElse("suite") match {
      case Suite.name => Suite
      case Cold.name => Cold
      case other => sys.error(s"unknown bench set '$other' (suite | cold)")
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    warmUp(spark, sfDir)
    // Multiple in-process passes (default 3) damp the ±20% single-pass
    // machine noise: the reported per-query figure is the LOWER MEDIAN
    // across passes — with an odd pass count this is the TRUE median
    // (3 passes: the middle sample, so one cold-IO outlier AND one
    // lucky fast pass are both discarded); with 2 it degrades to
    // best-of-two, which is why 3 is the default.
    val passes =
      if (set.cold) 1
      else sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt.max(1)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val ordered = ops(set).filter(kv => only.forall(_.contains(kv._1)))
    val isCanonical = canonical(sfDir, only)
    val fs = files(set, cpus)
    // the committed reference of this (set, cpus), keyed by name so a
    // BENCH_ONLY subset still gets the adaptive-pass noise band; read
    // before this run can touch it, and empty when the file is missing
    val anchor: Map[String, Double] =
      if (canonicalSf(sfDir)) readAnchor(fs.anchor) else Map.empty
    val anchorTotal = ordered.flatMap(kv => anchor.get(kv._1)).sum
    val softBudget =
      if (anchorTotal > 0) math.min(SoftBudgetCapSec, 2.0 * anchorTotal)
      else SoftBudgetCapSec
    val benchStart = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - benchStart) / 1e9
    def timed(fn: Op): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    val times =
      collection.mutable.LinkedHashMap[String, List[Double]]()
    // a failing query must NAME itself (never a silent -1): record every
    // per-pass error (not just the last), surface names in the summary
    val failures =
      collection.mutable.LinkedHashMap[String, List[String]]()
    var degraded = false
    var hardStopped = false
    var skippedSamples = 0
    var pass1Sec = 0.0
    for (pass <- 1 to passes; if !hardStopped) {
      // degraded mode: later passes only re-run queries whose pass-1
      // time deviates from their committed anchor value by more than
      // the noise band (or that have no reference / failed so far) —
      // an in-band pass-1 sample is kept as the reported figure
      val toRun =
        if (pass == 1 || !degraded) ordered
        else ordered.filter { case (name, _) =>
          times.get(name) match {
            case None => true // failed so far: keep retrying
            case Some(ts) => anchor.get(name) match {
              case Some(ref) =>
                val t1 = ts.head
                t1 > 1.5 * ref + 0.3 || t1 < ref / 1.5 - 0.3
              case None => true // new query: measure fully
            }
          }
        }
      if (degraded && pass > 1)
        skippedSamples += ordered.size - toRun.size
      for ((name, fn) <- toRun; if !hardStopped) {
        if (elapsed > HardBudgetSec) { hardStopped = true }
        else
          try times(name) = times.getOrElse(name, Nil) :+ timed(fn)
          catch {
            case NonFatal(e) =>
              val msg =
                Option(e.getMessage).getOrElse("").replaceAll("\\s+", " ")
              failures(name) = failures.getOrElse(name, Nil) :+
                s"pass $pass: ${e.getClass.getSimpleName}: ${msg.take(160)}"
          }
      }
      if (pass == 1) pass1Sec = elapsed
      if (pass < passes && !degraded && elapsed > softBudget) {
        // guarantee >= 2 FULL passes when the hard window affords it
        // (r17 verdict: soft budget flipping right after pass 1 left
        // ~45% of the suite effectively 1-pass — noisy "medians"):
        // a full pass 2 is deferred-not-degraded if the measured pass-1
        // time (+15% slack) still fits comfortably inside hard budget.
        val deferForPass2 = pass == 1 &&
          elapsed + 1.15 * pass1Sec < HardBudgetSec - 120.0
        if (deferForPass2)
          System.err.println(
            f"[bench] soft budget exceeded after pass 1 (${elapsed}%.0f s" +
              f" > ${softBudget}%.0f s) but a full pass 2 fits the hard" +
              " window; degrading from pass 3")
        else {
          degraded = true
          System.err.println(
            f"[bench] soft budget exceeded after pass $pass (${elapsed}%.0f s" +
              f" > ${softBudget}%.0f s): degrading to deviation-only passes")
        }
      }
    }
    // failed = zero successful passes (the query is NOT in the total);
    // flaky = failed some passes but succeeded others (its successful
    // passes' median DOES join the total, and it is named separately so
    // failed_count and the total stay mutually consistent)
    val failedQ = failures.keys.filterNot(times.contains).toSeq
    val flakyQ = failures.keys.filter(times.contains).toSeq
    def lowerMedian(xs: List[Double]): Double = {
      val s = xs.sorted; s((s.size - 1) / 2)
    }
    val medians = ordered.flatMap { case (name, _) =>
      times.get(name).map(name -> lowerMedian(_))
    }
    // ---- interference self-defense (r15 VERDICT): two consecutive
    // driver artifacts carried contiguous name-sorted windows of 3-8x
    // inflated timings from co-tenant box interference, which per-query
    // median comparisons then inherit. After the passes, any suite query
    // whose median is an [[isOutlier]] against its COMMITTED anchor value
    // gets TWO isolated re-measures at the end of the run, outside the
    // window that inflated it. Only if BOTH land back under the 3x line
    // was the median an artifact, and the MAX of the two replaces it (one
    // lucky warm pass cannot mask a regression — r16 ADVICE); otherwise
    // the slowdown is confirmed real and the median stands. BOTH numbers
    // are reported on the bench_remeasured line either way. The whole
    // phase is BUDGETED (count + seconds + the global hard budget):
    // unbounded, it fired most when the box was slowest and time
    // scarcest (r16 rc=124).
    val remeasured =
      collection.mutable.LinkedHashMap[String, (Double, Double)]()
    var remeasureSpent = 0.0
    val adjusted = medians.map { case (name, med) =>
      anchor.get(name) match {
        case Some(ref) if isCanonical && !set.cold && isOutlier(med, ref) &&
            remeasured.size < RemeasureMax &&
            remeasureSpent < RemeasureSec && elapsed < HardBudgetSec =>
          try {
            val fn = ordered.find(_._1 == name).get._2
            val s1 = timed(fn)
            // second solo only if the first cleared the line (a failed
            // first already confirms the median; don't spend the budget)
            val s2 = if (s1 <= 3.0 * ref) timed(fn) else s1
            remeasureSpent += s1 + (if (s1 <= 3.0 * ref) s2 else 0.0)
            val worst = math.max(s1, s2)
            remeasured(name) = (med, worst)
            name -> (if (worst <= 3.0 * ref) worst else med)
          } catch {
            case NonFatal(_) => name -> med
          }
        case _ => name -> med
      }
    }
    def qJson(ms: Seq[(String, Double)]): String =
      ms.map { case (k, v) => s"\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
    def perQuery(ms: Seq[(String, Double)]): String =
      s"""{"metric":"per_query","passes":$passes,"cpus":"$cpus","queries":${qJson(ms)},"sf":"$sfDir"}"""
    val total = adjusted.map(_._2).sum
    // final line must stay tail-parseable: name at most 8 failures there
    // (full per-query detail is on the bench_failures line above it)
    def nameList(ns: Seq[String]) =
      ns.take(8).map(n => s"\"$n\"").mkString("[", ",", "]")
    // per-query detail first (may exceed the driver's tail window), then
    // failure detail, then a SHORT summary as the final stdout line so the
    // driver can always tail-parse it
    println(perQuery(adjusted))
    // the driver artifact keeps only a 2000-char stdout tail, which
    // truncates ~half the per-query medians; persist the full line to
    // the file [[target]] picks (Bench runs with cwd = the repo). It
    // carries RAW medians (not the re-measure-adjusted figures) so a lucky
    // solo pass cannot ratchet the reference down (r16 ADVICE).
    val g = gate(anchor, medians, hardStopped)
    val out = target(fs, sys.env.get("SPARK_GRAFT_BENCH_OUT"), isCanonical, g)
    out.foreach(write(_, perQuery(medians), "per-query"))
    if (isCanonical && !g.promote)
      println(f"""{"metric":"bench_suspect","overlap_ratio":${g.overlapRatio}%.3f,"outliers":${g.outliers},"hard_stopped":$hardStopped,"note":"anchor NOT promoted; raw dump in ${out.mkString}"}""")
    if (remeasured.nonEmpty) {
      val rs = remeasured.map { case (k, (med, solo)) =>
        f""""$k":{"median":$med%.3f,"solo":$solo%.3f,"sidecar":${anchor(k)}%.3f}"""
      }.mkString("{", ",", "}")
      println(s"""{"metric":"bench_remeasured","detail":$rs}""")
    }
    if (degraded || hardStopped)
      println(f"""{"metric":"bench_budget","degraded":$degraded,"hard_stopped":$hardStopped,"elapsed_sec":$elapsed%.1f,"soft_sec":$softBudget%.0f,"hard_sec":$HardBudgetSec%.0f,"skipped_samples":$skippedSamples}""")
    if (failures.nonEmpty) {
      val detail = failures.map { case (k, v) =>
        val joined = v.mkString("; ")
        s"\"$k\":\"${joined.replace("\\", "\\\\").replace("\"", "\\\"")}\""
      }.mkString("{", ",", "}")
      println(s"""{"metric":"bench_failures","detail":$detail}""")
    }
    val totalLine =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","passes":$passes,"failed_count":${failedQ.size},"failed":${nameList(failedQ)},"flaky_count":${flakyQ.size},"flaky":${nameList(flakyQ)},"sf":"$sfDir"}"""
    // tiny summary (r17 verdict ask #1): the total must survive ANY
    // stdout tail window, so it is persisted too — beside the anchor and
    // only when the anchor is written, so an off-config run can never
    // replace the canonical figure.
    if (out.contains(fs.anchor)) write(fs.summary,
      f"""{"total":$total%.3f,"unit":"sec","cpus":"$cpus","sf":"$sfDir","passes":$passes,"failed_count":${failedQ.size},"failed":${nameList(failedQ)},"degraded":$degraded,"hard_stopped":$hardStopped}""",
      "summary")
    // the final stdout line must be the total JSON, undecorated (the
    // driver tail-parses): silence any WARN that stop()/shutdown hooks
    // would interleave, stop the session, THEN print the line.
    spark.sparkContext.setLogLevel("ERROR")
    try spark.stop()
    catch { case NonFatal(_) => }
    println(totalLine)
  }
}
