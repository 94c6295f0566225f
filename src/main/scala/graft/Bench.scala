package graft

/** Benchmark main. Prints one per-query JSON line, optional diagnostic
  * lines, then a SHORT `{"metric":"total",...}` summary as the FINAL
  * stdout line (the driver tail-parses; the last line must stay short).
  *
  * r17 hardening (the r16 driver run timed out at rc=124 and its
  * polluted dump overwrote the committed anchor for the third round
  * in a row):
  *  - WALL-CLOCK BUDGET with adaptive passes: after pass 1, if elapsed
  *    exceeds min(soft budget, 2x the committed anchor total), later
  *    passes re-run ONLY queries whose pass-1 time deviates from their
  *    committed sidecar value (or that have no sidecar entry); a hard
  *    budget stops measuring entirely and reports what it has.
  *  - INTERFERENCE RE-MEASURE BUDGET: the end-of-run isolated
  *    re-measure of >3x-sidecar outliers is capped (count + seconds);
  *    it previously fired unbounded, i.e. most when the box was
  *    slowest and time was scarcest.
  *  - TWO-SOLO RULE: an outlier median is replaced only when TWO
  *    consecutive solo re-measures both land under the 3x line, and
  *    the replacement is the MAX of the two (a single lucky warm pass
  *    can no longer mask a genuine regression).
  *  - SIDECAR = RAW MEDIANS + PROMOTION GATE: the sidecar dump carries
  *    raw (un-adjusted) medians so a lucky re-measure cannot ratchet
  *    the reference down, and the canonical `BENCH_FULL_latest.json`
  *    is only overwritten when the run looks sane vs the committed
  *    anchor (overlap total <= 1.3x and few >3x outliers); a suspect
  *    run is written to `BENCH_FULL_suspect.json` instead.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // absorb JVM/codegen/session warmup so the first timed query isn't
    // charged ~5s of one-time cost (it isn't query work): an in-memory
    // agg for the codegen/exchange classes, plus a tiny read per table
    // family (sibling sf0.001 if present, else 1-row reads of the bench
    // dir) for the parquet reader/vectorized-decoder paths — measured
    // ~2.5s of class-loading otherwise billed to whichever query the
    // Map ordering puts first
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
    // prefer the tiny sibling SF (class warmup without touching the
    // bench data); if absent, read only the SCHEMA of the bench dir
    // (footer I/O, still loads the reader classes, no data pages)
    try {
      val sib = new java.io.File(
        new java.io.File(sfDir).getParentFile, "sf0.001")
      if (sib.isDirectory) {
        val warmSf = sib.getAbsolutePath
        graft.io.Tables.events(spark, warmSf).count()
        graft.io.Tables.documents(spark, warmSf).count()
        graft.io.Tables.embeddings(spark, warmSf).count()
        graft.io.Tables.lineitem(spark, warmSf).count()
      } else {
        // no tiny sibling: a 1-row read per family still loads the
        // vectorized reader/decoder classes with negligible data pages
        graft.io.Tables.events(spark, sfDir).limit(1).count()
        graft.io.Tables.documents(spark, sfDir).limit(1).count()
        graft.io.Tables.embeddings(spark, sfDir).limit(1).count()
        graft.io.Tables.lineitem(spark, sfDir).limit(1).count()
      }
    } catch {
      // warmup failure must not fail the bench; class-loading hiccups
      // (LinkageError) recover lazily later, interrupts are preserved,
      // and true VM death (OOM) propagates — the run is doomed anyway
      case e: InterruptedException =>
        Thread.currentThread().interrupt()
        System.err.println(s"[bench] warmup interrupted")
      case e: LinkageError =>
        System.err.println(s"[bench] warmup skipped: ${e.getMessage}")
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] warmup skipped: ${e.getMessage}")
    }
    // name-sorted execution: Map iteration order reshuffles whenever a
    // key is added, which moves the residual first-run cost to a
    // different query each round — a stable order keeps per-query
    // numbers comparable across rounds. Multiple in-process passes
    // (default 3, env SPARK_GRAFT_BENCH_PASSES) damp the ±20% single-pass
    // machine noise: the reported per-query figure is the LOWER MEDIAN
    // across passes — with an odd pass count this is the TRUE median
    // (3 passes: the middle sample, so one cold-IO outlier AND one
    // lucky fast pass are both discarded); with 2 it degrades to
    // best-of-two, which is why 3 is the default.
    val passes =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt.max(1)
    // local iteration only (the driver never sets it): time a subset
    // without paying for the whole suite
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val ordered = SparkEntry.queries.toSeq
      .filter(kv => only.forall(_.contains(kv._1))).sortBy(_._1)
    // the sidecar write below only fires for the canonical config; the
    // same flag gates the interference re-measure (a subset/other-SF
    // run has no comparable reference)
    val canonicalSf =
      new java.io.File(sfDir.replaceAll("/+$", "")).getName == "sf0.1"
    val canonical = only.isEmpty && canonicalSf
    // committed per-query reference (keyed by name, so usable for the
    // adaptive-pass noise band even on a BENCH_ONLY subset) — loaded
    // from the COMMITTED sidecar of this cpu count before this run can
    // touch it: BENCH_FULL_latest.json is the 32-cpu anchor, any other
    // count reads BENCH_FULL_c<cpus>.json and has no reference without
    // one
    val anchorFile =
      if (cpus == "32") "BENCH_FULL_latest.json" else s"BENCH_FULL_c$cpus.json"
    val sidecar: Map[String, Double] =
      if (!canonicalSf) Map.empty
      else try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(anchorFile)), "UTF-8")
        val qIdx = txt.indexOf("\"queries\":{")
        if (qIdx < 0) Map.empty
        else {
          val sub = txt.substring(qIdx + 11, txt.indexOf("}", qIdx))
          "\"([^\"]+)\":([-0-9.eE]+)".r.findAllMatchIn(sub)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        }
      } catch { case scala.util.control.NonFatal(_) => Map.empty }
    val sidecarTotal = ordered.flatMap(kv => sidecar.get(kv._1)).sum
    // wall-clock budgets (seconds). The r16 driver window was ~60 min
    // and a clean 3-pass run is ~17-20 min; the soft budget flips to
    // degraded passes, the hard budget stops measuring outright so the
    // final line ALWAYS prints inside the window.
    val softBudget = sys.env.getOrElse("SPARK_GRAFT_BENCH_SOFT_SEC", "")
      .toDoubleOption.getOrElse(
        if (sidecarTotal > 0) math.min(1500.0, 2.0 * sidecarTotal)
        else 1500.0)
    val hardBudget = sys.env.getOrElse("SPARK_GRAFT_BENCH_HARD_SEC", "2400")
      .toDouble
    val benchStart = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - benchStart) / 1e9
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
      // time deviates from their committed sidecar value by more than
      // the noise band (or that have no reference / failed so far) —
      // an in-band pass-1 sample is kept as the reported figure
      val toRun =
        if (pass == 1 || !degraded) ordered
        else ordered.filter { case (name, _) =>
          times.get(name) match {
            case None => true // failed so far: keep retrying
            case Some(ts) => sidecar.get(name) match {
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
        if (elapsed > hardBudget) { hardStopped = true }
        else {
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).count()
            val dt = (System.nanoTime() - t0) / 1e9
            times(name) = times.getOrElse(name, Nil) :+ dt
          } catch {
            case scala.util.control.NonFatal(e) =>
              val msg =
                Option(e.getMessage).getOrElse("").replaceAll("\\s+", " ")
              failures(name) = failures.getOrElse(name, Nil) :+
                s"pass $pass: ${e.getClass.getSimpleName}: ${msg.take(160)}"
          }
        }
      }
      if (pass == 1) pass1Sec = elapsed
      if (!degraded && elapsed > softBudget) {
        // guarantee >= 2 FULL passes when the hard window affords it
        // (r17 verdict: soft budget flipping right after pass 1 left
        // ~45% of the suite effectively 1-pass — noisy "medians"):
        // a full pass 2 is deferred-not-degraded if the measured pass-1
        // time (+15% slack) still fits comfortably inside hard budget.
        val deferForPass2 = pass == 1 &&
          elapsed + 1.15 * pass1Sec < hardBudget - 120.0
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
    // median comparisons then inherit. After the passes, any query
    // whose median exceeds 3x its COMMITTED sidecar value (and by
    // > 0.5 s absolute — sub-second jitter is not an interference
    // signature) gets TWO isolated re-measures at the end of the run,
    // outside the window that inflated it. Only if BOTH land back under
    // the 3x line was the median an artifact, and the MAX of the two
    // replaces it (one lucky warm pass cannot mask a regression —
    // r16 ADVICE); otherwise the slowdown is confirmed real and the
    // median stands. BOTH numbers are reported on the bench_remeasured
    // line either way, so the artifact records the adjudication instead
    // of needing a next-round solo probe. The whole phase is BUDGETED
    // (count + seconds + the global hard budget): unbounded, it fired
    // most when the box was slowest and time scarcest (r16 rc=124).
    val remeasureMax =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REMEASURE_MAX", "10").toInt
    val remeasureSecBudget =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REMEASURE_SEC", "120").toDouble
    val remeasured =
      collection.mutable.LinkedHashMap[String, (Double, Double)]()
    var remeasureSpent = 0.0
    val adjusted = medians.map { case (name, med) =>
      sidecar.get(name) match {
        case Some(ref) if canonical && med > 3.0 * ref && med - ref > 0.5 &&
            remeasured.size < remeasureMax &&
            remeasureSpent < remeasureSecBudget &&
            elapsed < hardBudget =>
          try {
            val fn = ordered.find(_._1 == name).get._2
            def solo(): Double = {
              val t0 = System.nanoTime()
              fn(spark, sfDir).count()
              (System.nanoTime() - t0) / 1e9
            }
            val s1 = solo()
            // second solo only if the first cleared the line (a failed
            // first already confirms the median; don't spend the budget)
            val s2 = if (s1 <= 3.0 * ref) solo() else s1
            remeasureSpent += s1 + (if (s1 <= 3.0 * ref) s2 else 0.0)
            val worst = math.max(s1, s2)
            remeasured(name) = (med, worst)
            name -> (if (worst <= 3.0 * ref) worst else med)
          } catch {
            case scala.util.control.NonFatal(_) => name -> med
          }
        case _ => name -> med
      }
    }
    def qJson(ms: Seq[(String, Double)]): String =
      ms.map { case (k, v) => s"\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
    val total = adjusted.map(_._2).sum
    // final line must stay tail-parseable: name at most 8 failures there
    // (full per-query detail is on the bench_failures line above it)
    def nameList(ns: Seq[String]) =
      ns.take(8).map(n => s"\"$n\"").mkString("[", ",", "]")
    // per-query detail first (may exceed the driver's tail window), then
    // failure detail, then a SHORT summary as the final stdout line so the
    // driver can always tail-parse it
    val perQueryLine =
      s"""{"metric":"per_query","passes":$passes,"cpus":"$cpus","queries":${qJson(adjusted)},"sf":"$sfDir"}"""
    println(perQueryLine)
    // the driver artifact keeps only a 2000-char stdout tail, which
    // truncates ~half the per-query medians; persist the full line as a
    // sidecar the round commit picks up (default ./BENCH_FULL_latest.json
    // — Bench runs with cwd = the repo — override with
    // SPARK_GRAFT_BENCH_OUT). The sidecar carries RAW medians (not the
    // re-measure-adjusted figures) so a lucky solo pass cannot ratchet
    // the reference down (r16 ADVICE). The DEFAULT write fires only for
    // the canonical config (full suite at sf0.1) AND only when the run
    // looks sane vs the committed anchor: overlap total <= 1.3x and at
    // most 8 queries >3x over their committed value — a polluted run
    // (three consecutive driver artifacts) is dumped to
    // BENCH_FULL_suspect.json instead and never clobbers the anchor.
    val overlap = medians.filter(kv => sidecar.contains(kv._1))
    val overlapRef = overlap.map(kv => sidecar(kv._1)).sum
    val overlapNow = overlap.map(_._2).sum
    val outliers = overlap.count { case (k, v) =>
      v > 3.0 * sidecar(k) && v - sidecar(k) > 0.5 }
    val sane = sidecar.isEmpty || overlapRef == 0 ||
      (overlapNow <= 1.3 * overlapRef && outliers <= 8 && !hardStopped)
    val rawLine =
      s"""{"metric":"per_query","passes":$passes,"cpus":"$cpus","queries":${qJson(medians)},"sf":"$sfDir"}"""
    // the anchor is CPU-KEYED (r17 verdict: the driver's 8-cpu scaling
    // run clobbered the 32-cpu anchor, so the next round's soft budget
    // and deviation bands would have keyed off 8-cpu medians): only a
    // 32-cpu run may promote BENCH_FULL_latest.json; other cpu counts
    // get their own per-cpu sidecar.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (canonical && sane) anchorFile
      else if (canonical) "BENCH_FULL_suspect.json"
      else "")
    if (outPath.nonEmpty)
      try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (rawLine + "\n").getBytes("UTF-8"))
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] per-query dump skipped: ${e.getMessage}")
      }
    if (canonical && !sane)
      println(f"""{"metric":"bench_suspect","overlap_ratio":${
        if (overlapRef > 0) overlapNow / overlapRef else -1.0}%.3f,"outliers":$outliers,"hard_stopped":$hardStopped,"note":"sidecar NOT promoted; raw dump in BENCH_FULL_suspect.json"}""")
    if (remeasured.nonEmpty) {
      val rs = remeasured.map { case (k, (med, solo)) =>
        f""""$k":{"median":$med%.3f,"solo":$solo%.3f,"sidecar":${sidecar(k)}%.3f}"""
      }.mkString("{", ",", "}")
      println(s"""{"metric":"bench_remeasured","detail":$rs}""")
    }
    if (degraded || hardStopped)
      println(f"""{"metric":"bench_budget","degraded":$degraded,"hard_stopped":$hardStopped,"elapsed_sec":$elapsed%.1f,"soft_sec":$softBudget%.0f,"hard_sec":$hardBudget%.0f,"skipped_samples":$skippedSamples}""")
    if (failures.nonEmpty) {
      val fs = failures.map { case (k, v) =>
        val joined = v.mkString("; ")
        s"\"$k\":\"${joined.replace("\\", "\\\\").replace("\"", "\\\"")}\""
      }.mkString("{", ",", "}")
      println(s"""{"metric":"bench_failures","detail":$fs}""")
    }
    val totalLine =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","passes":$passes,"failed_count":${failedQ.size},"failed":${nameList(failedQ)},"flaky_count":${flakyQ.size},"flaky":${nameList(flakyQ)},"sf":"$sfDir"}"""
    // tiny summary sidecar (r17 verdict ask #1): the total must survive
    // ANY stdout tail window, so persist it as a file too — full-suite
    // runs only (a subset total would mislead), any sf/cpu (both are
    // recorded in the JSON so a reader can never mistake an 8-cpu or
    // sf0.01 run for the canonical figure).
    if (only.isEmpty)
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_SUMMARY_latest.json"),
        (f"""{"total":$total%.3f,"unit":"sec","cpus":"$cpus","sf":"$sfDir","passes":$passes,"failed_count":${failedQ.size},"failed":${nameList(failedQ)},"degraded":$degraded,"hard_stopped":$hardStopped}""" +
          "\n").getBytes("UTF-8"))
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] summary dump skipped: ${e.getMessage}")
      }
    // the final stdout line must be the total JSON, undecorated (the
    // driver tail-parses): silence any WARN that stop()/shutdown hooks
    // would interleave, stop the session, THEN print the line.
    spark.sparkContext.setLogLevel("ERROR")
    try spark.stop()
    catch { case scala.util.control.NonFatal(_) => }
    println(totalLine)
  }
}
