package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LlmSpec extends AnyFunSuite {
  import graft.llm.{TextOps, VectorOps}
  private def spark = TestSpark.spark
  private def sf = TestSpark.sf

  test("CosineSim expression matches the higher-order-function fold") {
    val e = graft.io.Tables.embeddings(spark, sf).limit(50)
    val q = e.where(col("vec_id") === 0).select(col("embedding").as("qe"))
    val hof = expr(
      """aggregate(zip_with(embedding, qe, (x, y) -> CAST(x AS DOUBLE) * y),
        | 0D, (acc, v) -> acc + v) /
        |(sqrt(aggregate(embedding, 0D, (a, x) -> a + CAST(x AS DOUBLE) * x)) *
        | sqrt(aggregate(qe, 0D, (a, x) -> a + CAST(x AS DOUBLE) * x)))""".stripMargin)
    val rows = e.crossJoin(q)
      .select(graft.functions.CosineSim(col("embedding"), col("qe")).as("fused"),
        hof.as("folded"))
      .collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      s"fused=${r.getDouble(0)} folded=${r.getDouble(1)}"))
  }

  test("cosine self-similarity is 1.0 and symmetric") {
    val e = graft.io.Tables.embeddings(spark, sf).limit(20)
    val selfSim = e.select(
      graft.functions.CosineSim(col("embedding"), col("embedding")).as("s"))
      .collect().map(_.getDouble(0))
    selfSim.foreach(s => assert(math.abs(s - 1.0) < 1e-9))
  }

  test("minhash_dedup pairs are a subset of brute-force jaccard >= 0.5") {
    val got = TextOps.minhashDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force on the same shingle definition
    val docs = graft.io.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split(" ").sliding(3).map(_.mkString(" ")).toSet))
    val brute = (for {
      (a, la, sa) <- docs; (b, lb, sb) <- docs
      if a < b && la == lb
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      if math.floor(j * 10000 + 0.5) / 10000 >= 0.5
    } yield (a, b)).toSet
    assert(got.subsetOf(brute), s"false positives: ${got -- brute}")
    // banded LSH at (16,4,4) should catch most 0.5+ pairs on this corpus
    if (brute.nonEmpty)
      assert(got.size.toDouble / brute.size >= 0.5,
        s"recall too low: ${got.size}/${brute.size}")
  }

  test("lsh hot-bucket cap drops ubiquitous-content buckets, keeps real pairs") {
    val sp = spark
    import sp.implicits._
    // 70 byte-identical boilerplate docs share every band bucket —
    // bucket size 70 > BucketCap, so WITHOUT the cap they'd emit
    // C(70,2) = 2415 candidate pairs (the quadratic hot-bucket blowup
    // this guards against at corpus scale); these are exact dups,
    // which the md5 dedup stage owns. The genuine near-dup pair
    // (19 of 20 words shared) lives in its own small buckets and must
    // survive the cap.
    val boiler = (1L to 70L).map(i => (i, "en",
      "tpl head tpl body tpl foot one two three four five six seven " +
        "eight nine ten eleven twelve"))
    val nearA = (100L, "en",
      "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda " +
        "mu nu xi omicron pi rho sigma tau upsilon")
    val nearB = (101L, "en",
      "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda " +
        "mu nu xi omicron pi rho sigma tau phi")
    val docs = (boiler :+ nearA :+ nearB).toDF("doc_id", "lang", "text")
    val got = TextOps.minhashDedupOver(docs).select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((100L, 101L)),
      s"expected only the near-dup pair to survive the cap, got ${got.size}: " +
        got.take(5).mkString(","))
  }

  test("simhash: identical docs would collide; near pairs have low hamming") {
    val rows = TextOps.simhash(spark, sf).collect()
    assert(rows.nonEmpty && rows.forall(_.getInt(2) <= 6))
    val h = rows.map(_.getInt(2))
    assert(h.sameElements(h.sorted), "not sorted by hamming")
  }

  test("SimHashAgg native aggregate equals the 64-column sum(when) formula") {
    val native = TextOps.simhashSigs(spark, sf)
      .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getLong(1))
    val columnar = TextOps.simhashSigsColumnar(spark, sf)
      .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(native.sameElements(columnar))
  }

  test("simhash multi-probe reproduces the brute-force top-20 at sf0.01") {
    val sf01 = "/root/testdata/sf0.01"
    val probe = TextOps.simhash(spark, sf01).collect().map(_.toString)
    val brute = TextOps.simhashBrute(spark, sf01).collect().map(_.toString)
    assert(probe.sameElements(brute),
      s"probe=${probe.mkString(",")} brute=${brute.mkString(",")}")
  }

  test("simhash wide probe == brute force at its d<=2 guarantee") {
    // the >=1e8-doc scale path: 6 tables of 32-bit block-pair keys,
    // pigeonhole-complete at hamming <= 2 — every pair the guarantee
    // covers must surface, and nothing looser may leak in
    val sf01 = "/root/testdata/sf0.01"
    val wide = TextOps.simhashWide(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong)).toSet
    val sig = TextOps.simhashSigs(spark, sf01).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (a, ha) <- sig; (b, hb) <- sig if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 2
    } yield (a, b, d.toLong)).toSet
    assert(wide == brute,
      s"wide probe diverges: extra=${wide -- brute} missing=${brute -- wide}")
  }

  test("langid emits one prediction per doc, deterministic") {
    val a = TextOps.langid(spark, sf).collect()
    val b = TextOps.langid(spark, sf).collect()
    val nDocs = graft.io.Tables.documents(spark, sf).count()
    assert(a.length == nDocs)
    assert(a.map(_.toString).sameElements(b.map(_.toString)))
  }

  test("fingerprint: equal texts ⇒ equal fingerprints; range bounded") {
    val fp = TextOps.fingerprint(spark, sf).collect()
    assert(fp.forall(r => r.getLong(2) >= 0 && r.getLong(2) < 999999999999989L))
    val byText = graft.io.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val fpById = fp.map(r => r.getLong(0) -> r.getLong(2)).toMap
    byText.groupBy(_._2).values.filter(_.size > 1).foreach { g =>
      val fps = g.keys.map(fpById).toSet
      assert(fps.size == 1, "same text must fingerprint identically")
    }
  }

  test("split: content-hashed, leakage-safe, ~80/10/10") {
    val rows = TextOps.trainValSplit(spark, sf).collect()
    val total = graft.io.Tables.documents(spark, sf).count()
    assert(rows.length == total)
    assert(rows.forall(r => r.getLong(1) >= 0 && r.getLong(1) <= 9))
    rows.foreach { r =>
      val expect = if (r.getLong(1) < 8) "train"
        else if (r.getLong(1) == 8) "val" else "test"
      assert(r.getString(2) == expect)
    }
    // leakage guard: identical text ⇒ identical split (content hash,
    // not row id)
    val dupSplits = graft.io.Tables.documents(spark, sf)
      .join(TextOps.trainValSplit(spark, sf), "doc_id")
      .groupBy(md5(col("text"))).agg(countDistinct(col("split")).as("k"))
      .agg(max(col("k"))).head.getLong(0)
    assert(dupSplits == 1L, "duplicate texts must land in the same split")
  }

  test("budget_sample keeps exactly the greedy hash-ordered token prefix") {
    val docs = graft.io.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map { r =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val h = md.digest(r.getString(2).getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        (r.getString(1), h, r.getLong(0),
          r.getString(2).split(" ", -1).length.toLong)
      }
    val expect = docs.groupBy(_._1).map { case (lang, rows) =>
      var cum = 0L; var n = 0L; var tok = 0L
      rows.sortBy(r => (r._2, r._3)).foreach { case (_, _, _, t) =>
        cum += t
        if (cum <= 10000L) { n += 1; tok += t }
      }
      lang -> (n, tok)
    }.filter(_._2._1 > 0)
    val got = TextOps.budgetSample(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expect)
    // the budget actually binds somewhere (otherwise the op is a no-op)
    val totals = docs.groupBy(_._1).view.mapValues(_.map(_._4).sum)
    assert(totals.exists(_._2 > 10000L))
  }

  test("budget_mix is the exact nested greedy prefix (source then lang cap)") {
    val docs = graft.io.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .collect().map { r =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val h = md.digest(r.getString(3).getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        (r.getString(1), r.getString(2), h, r.getLong(0),
          r.getString(3).split(" ", -1).length.toLong)
      }
    // level 1: per (lang, source) greedy prefix at 500 tokens
    val s1 = docs.groupBy(d => (d._1, d._2)).values.flatMap { rows =>
      var cum = 0L
      rows.sortBy(r => (r._3, r._4)).flatMap { d =>
        cum += d._5
        if (cum <= 500L) Some(d) else None
      }
    }
    // level 2: per lang greedy prefix at 4000 tokens over survivors
    val expect = s1.groupBy(_._1).values.flatMap { rows =>
      var cum = 0L
      rows.toSeq.sortBy(r => (r._3, r._4)).flatMap { d =>
        cum += d._5
        if (cum <= 4000L) Some(d) else None
      }
    }.toSeq.groupBy(d => (d._1, d._2))
      .map { case (k, rows) => k -> (rows.length.toLong, rows.map(_._5).sum) }
    val got = TextOps.budgetMix(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got == expect && got.nonEmpty)
    // both levels genuinely bind on this corpus
    val l1Drop = docs.length > s1.size
    assert(l1Drop, "sub-budget should drop something")
    assert(s1.size > expect.values.map(_._1).sum, "lang budget should bind")
  }

  test("chunk: bounded windows, full token coverage, fixed overlap") {
    val chunks = TextOps.chunkDocs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(chunks.nonEmpty && chunks.forall(_._3 <= 32) &&
      chunks.forall(c => c._4.split(" ", -1).length == c._3))
    val docs = graft.io.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    chunks.groupBy(_._1).foreach { case (id, cs) =>
      val toks = docs(id).split(" ", -1)
      val sorted = cs.sortBy(_._2)
      // chunk i covers tokens [24·i, 24·i + n_tok); the union is the doc
      sorted.foreach { case (_, idx, n, text) =>
        val start = (idx * 24).toInt
        assert(text == toks.slice(start, start + n.toInt).mkString(" "))
      }
      // coverage: last chunk reaches the final token
      val (_, lastIdx, lastN, _) = sorted.last
      assert(lastIdx * 24 + lastN == toks.length,
        s"doc $id: chunks end at ${lastIdx * 24 + lastN} of ${toks.length}")
      // consecutive FULL chunks overlap by exactly 32 - 24 = 8 tokens
      sorted.sliding(2).foreach {
        case Array((_, i1, n1, _), (_, i2, _, _)) if n1 == 32 =>
          assert(i2 == i1 + 1)
        case _ =>
      }
    }
  }

  test("pack: per-source concat-and-cut equals the reference greedy layout") {
    val docs = graft.io.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map { r =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val h = md.digest(r.getString(2).getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        (r.getString(1), h, r.getLong(0),
          r.getString(2).split(" ", -1).length.toLong)
      }
    val expect = scala.collection.mutable.Map
      .empty[(String, Long), (Long, Long)]
    docs.groupBy(_._1).foreach { case (src, rows) =>
      var cum = 0L
      rows.sortBy(r => (r._2, r._3)).foreach { case (_, _, _, t) =>
        val pack = cum / 256L // doc starts at offset cum in the concat
        cum += t
        val (n0, t0) = expect.getOrElse((src, pack), (0L, 0L))
        expect((src, pack)) = (n0 + 1, t0 + t)
      }
    }
    val got = TextOps.packSequences(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got == expect.toMap)
    // multi-pack sources exist (the cut actually happens), and every
    // non-final pack starts within budget of its predecessor's start
    assert(expect.keys.groupBy(_._1).exists(_._2.size > 1))
  }

  test("fuzzy decontamination: subset of brute force, verbatim recall") {
    def shingleSet(tk: Array[String]): Set[String] = {
      val n = math.max(tk.length - 2, 1)
      (1 to n).map(i => (i until math.min(i + 3, tk.length + 1))
        .map(j => tk(j - 1)).mkString(" ")).toSet
    }
    val docs = graft.io.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split(" ", -1)))
    val trains = docs.filter(_._1 >= 20)
    // mirror the query's eval-set derivation: 20..29 verbatim, 30..39
    // drop every 13th token
    val evals = docs.filter(d => d._1 >= 20 && d._1 < 40).map {
      case (id, lang, tk) =>
        val tk2 = if (id < 30) tk
          else tk.zipWithIndex.collect {
            case (t, i) if (i + 1) % 13 != 0 => t
          }
        (id, lang, tk2)
    }
    val brute = (for {
      (eId, eLang, eTk) <- evals
      (tId, tLang, tTk) <- trains
      if eLang == tLang
      se = shingleSet(eTk); st = shingleSet(tTk)
      jac = st.intersect(se).size.toDouble / st.union(se).size
      if jac >= 0.5
    } yield (tId, eId)).toSet
    val got = graft.llm.TextOps.decontaminateFuzzy(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(brute),
      s"flagged pairs must verify at jaccard >= 0.5: ${got -- brute}")
    // a verbatim eval copy collides in every band — recall is certain
    val verbatim = evals.filter(_._1 < 30).map(e => (e._1, e._1)).toSet
    assert(verbatim.subsetOf(got),
      s"verbatim contamination must be flagged: ${verbatim -- got}")
  }

  test("edit-distance NN matches a driver-side blocked reference") {
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to a.length) {
          val t = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = t
        }
      }
      dp(a.length)
    }
    val docs = graft.io.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .filter(_.getLong(0) < 150)
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split(" ", -1).length / 10,
        r.getString(2).take(60)))
    val want = docs.flatMap { case (id, lang, blk, px) =>
      val peers = docs.filter(d =>
        d._2 == lang && d._3 == blk && d._1 != id)
      if (peers.isEmpty) None
      else Some(id -> peers.map(p => (lev(px, p._4).toLong, p._1)).min)
    }.toMap
    val got = graft.llm.TextOps.editNearDup(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(1))).toMap
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("vocab zipf conserves totals: tokens and occurrences") {
    val texts = graft.io.Tables.documents(spark, sf)
      .select(col("text")).collect().map(_.getString(0))
    val allToks = texts.flatMap(_.split(" ", -1))
    val rows = graft.llm.TextOps.vocabZipf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._2).sum == allToks.distinct.length,
      "token buckets must partition the vocabulary")
    assert(rows.map(_._3).sum == allToks.length,
      "occurrence totals must conserve the corpus size")
    // magnitude really is the digit count of the bucketed frequencies
    val freqs = allToks.groupBy(identity).values.map(_.length)
    val wantMags = freqs.map(_.toString.length.toLong).toSet
    assert(rows.map(_._1).toSet == wantMags)
  }

  test("distributed-rank vocab growth == the global-window oracle") {
    val oracle = graft.llm.TextOps.vocabGrowth(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(oracle.nonEmpty)
    // several partition counts, incl. more partitions than docs need
    Seq(1, 3, 8, 17).foreach { p =>
      val twin = graft.llm.TextOps.vocabGrowthDistributed(spark, sf, p)
        .collect().map(_.toSeq).toSeq
      assert(twin == oracle, s"diverged at $p partitions: $twin vs $oracle")
    }
  }

  test("lm_novelty equals a driver-side bigram MLE model") {
    val texts = graft.io.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1)).toMap
    val allBg = texts.toSeq.flatMap { case (_, tk) =>
      if (tk.length >= 2) tk.sliding(2).map(_.mkString(" ")).toSeq else Nil
    }
    val c2 = allBg.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = allBg.map(_.split(" ")(0))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val want = texts.collect { case (id, tk) if tk.length >= 2 =>
      val ps = tk.sliding(2).map(_.mkString(" ")).toSeq
        .map(bg => c2(bg).toDouble / c1(bg.split(" ")(0)).toDouble)
      id -> (ps.length.toLong, r4(ps.min), ps.count(_ < 0.05).toLong)
    }
    val got = graft.llm.TextOps.lmNovelty(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2),
        r.getLong(3))).toMap
    assert(got == want)
    // novelty must discriminate: not every doc shares the same min_p
    assert(got.values.map(_._2).toSet.size > 1)
  }

  test("ivf_health: entries = vectors × replicas, coverage and bounds hold") {
    val r = graft.llm.VectorOps.ivfHealth(spark, "/root/testdata/sf0.01").head()
    val nVecs = graft.io.Tables.embeddings(spark, "/root/testdata/sf0.01")
      .count()
    val (k, pop, empty) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val (entries, mn, mx) = (r.getLong(3), r.getLong(4), r.getLong(5))
    val (avg, imb, cover) = (r.getDouble(6), r.getDouble(7), r.getLong(8))
    assert(pop + empty == k && pop >= 1)
    assert(entries == nVecs * 2, "every vector appears in exactly 2 lists")
    assert(cover == nVecs, "coverage: every vector is indexed")
    assert(mn >= 1 && mn <= mx)
    assert(avg >= mn - 0.0001 && avg <= mx + 0.0001)
    assert(imb >= 1.0 - 0.0001)
  }

  test("dup components equal driver union-find over the same edge rule") {
    val docs = graft.io.Tables.documents(spark, sf)
      .where(org.apache.spark.sql.functions.col("doc_id") < 200)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val sets = docs.map { case (id, lang, text) =>
      (id, lang, text.split(" ").toSet)
    }
    val parent = scala.collection.mutable.Map(docs.map(d => d._1 -> d._1): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    for {
      (a, la, sa) <- sets; (b, lb, sb) <- sets
      if a < b && la == lb
      inter = (sa & sb).size
      if inter.toDouble / (sa.size + sb.size - inter) >= 0.95
    } {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = docs.map(d => d._1 -> find(d._1)).toMap
    val got = graft.llm.TextOps.dupComponents(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    assert(got.values.toSet.size < docs.length, "some docs must cluster")
  }

  test("distributed kmeans: full coverage, all clusters live, inertia sane") {
    val rows = VectorOps.kmeansClusters(spark, sf).collect()
    val total = graft.io.Tables.embeddings(spark, sf).count()
    assert(rows.length == 4, "all 4 seeded clusters should survive")
    assert(rows.map(_.getLong(1)).sum == total,
      "every vector assigned exactly once")
    assert(rows.forall(_.getLong(1) >= 1))
    assert(rows.forall(_.getDouble(2) > 0.0), "inertia positive per cluster")
    // Lloyd's must actually move mass off the seeds: with 4 seeds over a
    // 10-label corpus no cluster should hold fewer than a handful or
    // nearly all of the vectors
    assert(rows.forall(r => r.getLong(1) < total * 9 / 10))
  }

  test("kmeans assignment skips empty clusters and NULL centroid cells") {
    import org.apache.spark.sql.expressions.Window
    val sp = spark
    import sp.implicits._
    // planted 2-d round: cluster 1 has NO centroid rows (read as a zero
    // vector it would win every near-origin argmin), cluster 2 has a
    // NULL cell, cluster 3 only NULL cells
    val emb = Seq((0L, Array(0.1f, 0.1f)), (1L, Array(0.2f, -0.1f)),
      (2L, Array(5.0f, 5.0f)), (3L, Array(4.0f, -9.0f)))
      .toDF("vec_id", "embedding")
    val cent = Seq[(Long, Int, Option[Double])]((0L, 0, Some(1.0)),
      (0L, 1, Some(1.0)), (2L, 0, Some(5.0)), (2L, 1, None),
      (3L, 0, None), (3L, 1, None)).toDF("cl", "dim", "c")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // a local relation evaluates the kernel interpreted on the driver;
    // behind a shuffle it runs the generated code
    val got = rows(VectorOps.kmeansAssign(emb, cent, 4))
    assert(rows(VectorOps.kmeansAssign(emb.repartition(2), cent, 4)) == got,
      "codegen and interpreted kernels must agree")
    // the oracle's long-form round: NULL terms drop from the sum, a
    // cluster that never joins is no candidate, and DuckDB orders the
    // all-NULL distance last
    val q = lit(1.0e12)
    val ref = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("vec_id"), col("dim"), col("xf").cast("double").as("x"))
      .join(cent, "dim")
      .groupBy(col("vec_id"), col("cl"))
      .agg(sum(floor((col("x") - col("c")) * (col("x") - col("c")) * q))
        .cast("long").as("dist"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("vec_id"))
        .orderBy(col("dist").asc_nulls_last, col("cl"))))
      .where(col("rn") === 1)
      .select("vec_id", "cl", "dist")
    assert(got == rows(ref))
    assert(got.map(_._2) == Seq(0L, 0L, 2L, 2L),
      s"empty or all-NULL clusters must never win: $got")
  }

  test("semdedup_clustered: every pruned pair passes the exact integer test") {
    val sp = spark
    import sp.implicits._
    val got = VectorOps.semDedupClustered(sp, sf).collect()
    assert(got.nonEmpty, "fixture corpus should contain >= tau pairs")
    // recompute each pair's test from raw vectors — exact PRECISION:
    // the clustered candidate generator may test different pairs than
    // the sign-bucket oracle (documented recall contract), but every
    // pair it prunes must be a TRUE >= tau pair under the identical
    // quantized integer math
    val vecs = graft.io.Tables.embeddings(sp, sf)
      .select(col("vec_id"), col("embedding")).as[VectorOps.VecRow]
      .collect().map(r => r.vec_id -> r.embedding).toMap
    def q(v: Array[Float]) = v.map(x => math.floor(x.toDouble * 1e6).toLong)
    for (r <- got) {
      val (p, k) = (r.getLong(0), r.getLong(1))
      assert(k < p, s"representative must be the lower id: ($k, $p)")
      val (qa, qb) = (q(vecs(k)), q(vecs(p)))
      var dot = 0L; var na = 0L; var nb = 0L
      for (i <- qa.indices) {
        dot += qa(i) * qb(i); na += qa(i) * qa(i); nb += qb(i) * qb(i)
      }
      assert(dot > 0, s"pair ($k, $p) has non-positive dot")
      val l = BigInt(dot) * 5
      assert(l * l >= BigInt(na) * 2 * (BigInt(nb) * 2),
        s"pair ($k, $p) below tau = 2/5")
    }
  }

  // 4 groups on disjoint 16-dim blocks, ALL coordinates positive: every
  // vector lands in ONE sign bucket (the degenerate case where the
  // sign-bucket pair stage is O(n^2)); groups are mutually near-
  // orthogonal (cross cos ~ 0 << tau) and internally tight (cos ~ 1).
  private def hotBucketFixture(sizes: Seq[Int]): Seq[VectorOps.VecRow] = {
    def vec(g: Int, j: Int): Array[Float] = {
      val v = Array.fill(64)(0.001f)
      for (d <- g * 16 until g * 16 + 16) v(d) = 10.0f + 0.001f * j
      v
    }
    val starts = sizes.scanLeft(0)(_ + _)
    for (g <- sizes.indices; j <- 0 until sizes(g))
      yield VectorOps.VecRow((starts(g) + j).toLong, vec(g, j))
  }

  test("semdedup_clustered: hot-bucket fixture — decisions equal the sign form") {
    val sp = spark
    import sp.implicits._
    val e = hotBucketFixture(Seq(12, 12, 12, 12)).toDF()
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("pruned_id", "kept_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth: within each tight group every id prunes to the
    // group's lowest id; no cross-group pair reaches tau
    val truth = (for (g <- 0 until 4; j <- 1 until 12)
      yield ((g * 12 + j).toLong, (g * 12).toLong)).toSet
    val clustered = pairs(VectorOps.semDedupClusteredFrom(sp, e))
    assert(clustered == truth,
      s"clustered decisions diverge: extra=${(clustered -- truth).take(3)} " +
        s"missing=${(truth -- clustered).take(3)}")
    // the sign-bucket oracle form tests ALL pairs here (one bucket) and
    // must agree — proving the cluster key loses nothing on the exact
    // fixture where its occupancy advantage is 48 -> 4 x 12
    assert(pairs(VectorOps.semDedupFrom(sp, e)) == truth)
  }

  test("semdedup_clustered: fanout cap excludes only the flooded cluster") {
    val sp = spark
    import sp.implicits._
    val e = hotBucketFixture(Seq(12, 8, 8, 8)).toDF()
    val got = VectorOps.semDedupClusteredFrom(sp, e, cap = 10L)
      .select("pruned_id", "kept_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // group 0 (12 members > cap) is excluded from the pair stage; the
    // three 8-member groups prune normally
    val starts = Seq(12, 20, 28)
    val truth = (for (s <- starts; j <- 1 until 8)
      yield ((s + j).toLong, s.toLong)).toSet
    assert(got == truth,
      s"cap behavior diverges: extra=${(got -- truth).take(3)} " +
        s"missing=${(truth -- got).take(3)}")
  }

  test("semdedup_clustered: data-driven k — corpus/cap sizes past the " +
      "fixture K=4") {
    val sp = spark
    import sp.implicits._
    // 6 tight, mutually near-orthogonal groups of 40 on disjoint
    // 10-dim blocks: n = 240, cap = 40 -> k = ceil(240/40) = 6. A
    // fixture-frozen K=4 would merge groups into >= 80-member
    // clusters, flood the cap, and silently drop their prunes; the
    // data-driven k keeps every cluster at the cap and loses nothing.
    assert(VectorOps.semDedupK(240L, 40L) == 6, "k formula")
    assert(VectorOps.semDedupK(10L, 1024L) == 4, "tiny corpora floor at 4")
    def vec(g: Int, j: Int): Array[Float] = {
      val v = Array.fill(64)(0.001f)
      for (d <- g * 10 until g * 10 + 10) v(d) = 10.0f + 0.001f * j
      v
    }
    val rows = for (g <- 0 until 6; j <- 0 until 40)
      yield VectorOps.VecRow((g * 40 + j).toLong, vec(g, j))
    val e = rows.toSeq.toDF()
    val got = VectorOps.semDedupClusteredFrom(sp, e, cap = 40L)
      .select("pruned_id", "kept_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = (for (g <- 0 until 6; j <- 1 until 40)
      yield ((g * 40 + j).toLong, (g * 40).toLong)).toSet
    assert(got == truth,
      s"data-driven k diverges: extra=${(got -- truth).take(3)} " +
        s"missing=${(truth -- got).take(3)}")
  }

  test("kmeans-par converges and beats the fixed-round oracle objective") {
    val sf01 = "/root/testdata/sf0.01"
    val par = VectorOps.kmeansConvergedPar(spark, sf01).collect()
    val fixed = VectorOps.kmeansClusters(spark, sf01).collect()
    val total = graft.io.Tables.embeddings(spark, sf01).count()
    assert(par.length == 4, "all 4 clusters survive k-means|| seeding")
    assert(par.map(_.getLong(1)).sum == total, "every vector assigned once")
    val rounds = par.head.getLong(3)
    assert(rounds >= 2 && rounds < 12,
      s"must stop by the flip-fraction criterion before the cap: $rounds")
    // same exact quantized objective as the oracle twin, so the totals
    // are directly comparable: better seeding + convergence must not be
    // WORSE than 3 fixed rounds from naive lowest-id seeds
    val parInertia = par.map(_.getDouble(2)).sum
    val fixedInertia = fixed.map(_.getDouble(2)).sum
    assert(parInertia <= fixedInertia,
      s"k-means|| converged $parInertia should be <= fixed $fixedInertia")
  }

  test("knn_label counts: n sums to table size, matches <= n") {
    val rows = VectorOps.knnLabel(spark, sf).collect()
    val total = graft.io.Tables.embeddings(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == total)
    assert(rows.forall(r => r.getLong(2) <= r.getLong(1)))
  }

  test("kmeans quantizer: recall@5 and cell balance at sf0.01") {
    val sf01 = "/root/testdata/sf0.01"
    val ann = VectorOps.annIvf(spark, sf01).collect()
    val brute = VectorOps.cosineTopk(spark, sf01).collect()
      .map(_.getLong(0)).toSet
    // >= the label-centroid quantizer's 0.6 on this corpus (measured):
    // the learned quantizer must not regress the heuristic it replaced
    val recall = ann.map(_.getLong(0)).count(brute.contains) / 5.0
    assert(recall >= 0.6, s"recall@5 = $recall")
    val e = graft.io.Tables.embeddings(spark, sf01)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    val sizes = VectorOps.cellAssignments(e,
        VectorOps.kmeansCentroids(spark, sf01))
      .groupBy("cell").count().collect().map(_.getLong(1))
    assert(sizes.length == 10, s"expected 10 non-empty cells, got ${sizes.length}")
    val mean = sizes.sum.toDouble / sizes.length
    assert(sizes.max <= 3.0 * mean,
      s"cells imbalanced: sizes=${sizes.sorted.mkString(",")}")
  }

  test("ann ladder holds recall at sf0.1 (guards luck-stable sf0.01 recall)") {
    // the bench SF: 2000 vectors — the recall/bounds contract must hold
    // at the scale the driver actually benches, not only the spec slice
    val sf1 = "/root/testdata/sf0.1"
    val brute = VectorOps.cosineTopk(spark, sf1).collect()
      .map(_.getLong(0)).toSet
    val ivf = VectorOps.annIvf(spark, sf1).collect().map(_.getLong(0))
    val recall = ivf.count(brute.contains) / 5.0
    assert(recall >= 0.6, s"sf0.1 ivf recall@5 = $recall")
    val rows = graft.llm.AnnServing.report(spark, sf1).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("flat", "sq8", "pq"))
    rows.foreach { r =>
      val rec = r.getDouble(5)
      assert(rec >= 0.0 && rec <= 1.0, s"sf0.1 ${r.getString(0)} recall $rec")
    }
    val flat = rows.find(_.getString(0) == "flat").get.getDouble(5)
    assert(flat >= 0.6, s"sf0.1 flat serving recall $flat")
  }

  test("nprobe tradeoff read: monotone recall, exact at all cells, one chosen") {
    val rows = VectorOps.nprobeTradeoff(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 4L, 10L))
    val recs = rows.map(_._2)
    assert(recs.zip(recs.tail).forall { case (a, b) => a <= b },
      s"recall must be monotone in nprobe: ${recs.mkString(",")}")
    assert(recs.last == 1.0, "probing every cell IS the exact scan")
    assert(rows.count(_._3) == 1, "exactly one chosen row")
    val chosen = rows.find(_._3).get
    assert(chosen._2 >= 0.9 || chosen._1 == 10L,
      "chosen must meet the target or be the exhaustive fallback")
  }

  test("ann drift guard: imbalance above the bound evicts and rebuilds") {
    import graft.llm.AnnIndex
    graft.util.SessionMemo.clear()
    val (idx0, r0) = AnnIndex.refreshIfDrifted(spark, sf, 10, 2, 1000.0)
    assert(!r0, "a generous bound must keep the cached index")
    assert(AnnIndex.refreshIfDrifted(spark, sf, 10, 2, 1000.0)._1 eq idx0,
      "no-refresh path must return the same cached instance")
    // max/avg > 1 holds for any non-uniform assignment, so bound 1.0
    // trips the guard: the cache entry is evicted and a fresh build
    // (new instance, deterministic content) replaces it
    val (idx1, r1) = AnnIndex.refreshIfDrifted(spark, sf, 10, 2, 1.0)
    assert(r1, "imbalance above the bound must trigger a refresh")
    assert(!(idx1 eq idx0), "refresh must rebuild, not reuse")
    assert(AnnIndex.refreshIfDrifted(spark, sf, 10, 2, 1000.0)._1 eq idx1,
      "the rebuilt index must now be the cached one")
    // content is deterministic: same corpus, same quantizer sample
    val c0 = idx0.cells.orderBy("cell").collect().map(_.toString)
    val c1 = idx1.cells.orderBy("cell").collect().map(_.toString)
    assert(c0.sameElements(c1), "unchanged corpus must rebuild identically")
  }

  test("ann index: registry caches the build; persist/load probes equal") {
    import graft.llm.AnnIndex
    graft.util.SessionMemo.clear()
    val idx = AnnIndex.buildOrGet(spark, sf, 10, 2)
    // second lookup is the SAME materialized index, not a rebuild
    assert(AnnIndex.buildOrGet(spark, sf, 10, 2) eq idx)
    val dir = java.nio.file.Files.createTempDirectory("graft_ann").toString
    AnnIndex.save(idx, dir)
    val loaded = AnnIndex.load(spark, dir)
    val q = graft.io.Tables.embeddings(spark, sf)
      .where(col("vec_id") === 0).select(col("embedding").as("qe"))
    def run(i: AnnIndex.Index) =
      AnnIndex.probe(i, q, 3, 5, excludeVecId = Some(0L)).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(run(loaded) == run(idx),
      "probing the parquet-loaded index must equal the in-session index")
    // the lists table carries every vector `replicas` times
    val n = graft.io.Tables.embeddings(spark, sf).count()
    assert(idx.lists.count() == 2 * n)
  }

  test("knn join: 3 ranked neighbors per query, recall vs brute force") {
    val rows = VectorOps.knnJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byQ = rows.groupBy(_._1)
    val nq = graft.io.Tables.embeddings(spark, sf)
      .where(col("vec_id") < 50).count()
    assert(byQ.size == nq, s"every query vector gets neighbors: ${byQ.size}")
    byQ.values.foreach { ns =>
      val sorted = ns.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == Seq(1L, 2L, 3L))
      val sims = sorted.map(_._4)
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
      assert(sorted.forall(n => n._3 != n._1)) // never its own neighbor
    }
    // recall@3 vs brute force over a handful of queries: the probed-cell
    // candidate set must find most true neighbors (weak clusters → 0.5)
    val e = graft.io.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      dot / (na * nb)
    }
    val hits = (0L until 5L).map { q =>
      val brute = (e - q).toSeq
        .map { case (id, v) => id -> cos(e(q), v) }
        .sortBy { case (id, s) => (-s, id) }.take(3).map(_._1).toSet
      byQ(q).map(_._3).count(brute.contains)
    }.sum
    assert(hits >= 8, s"recall@3 too low: $hits/15")
  }

  test("IVF tradeoff: recall is monotone in nprobe; full probe is exact") {
    import graft.llm.AnnIndex
    val sf01 = "/root/testdata/sf0.01"
    val idx = AnnIndex.buildOrGet(spark, sf01, 10, 2)
    val q = graft.io.Tables.embeddings(spark, sf01)
      .where(col("vec_id") === 0).select(col("embedding").as("qe"))
    val brute = VectorOps.cosineTopk(spark, sf01).collect()
      .map(_.getLong(0)).toSet
    // probing more cells only GROWS the candidate set, so recall@5 is
    // exactly non-decreasing; probing every cell IS the brute force
    val recalls = Seq(1, 4, 7, 10).map { np =>
      AnnIndex.probe(idx, q, np, 5, excludeVecId = Some(0L)).collect()
        .map(_.getLong(0)).count(brute.contains) / 5.0
    }
    assert(recalls.zip(recalls.tail).forall { case (a, b) => b >= a },
      s"recall not monotone in nprobe: $recalls")
    assert(recalls.last == 1.0,
      s"nprobe = k must reproduce brute force exactly: $recalls")
  }

  test("streaming ANN probe: micro-batches equal the batch knn join") {
    import graft.llm.AnnIndex
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val sp = spark
    import sp.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = sp.sqlContext
    val idx = AnnIndex.buildOrGet(sp, sf, 10, 2)
    val qs = graft.io.Tables.embeddings(sp, sf)
      .where(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val qvecs = qs.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val results =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    val in = MemoryStream[(Long, Array[Float])]
    val sq2 = AnnIndex.probeStream(
        in.toDF().toDF("q_id", "qe"), idx, nprobe = 3, k = 3) { out =>
      results.synchronized {
        results ++= out.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      }
    }
    try {
      in.addData(qvecs)
      sq2.processAllAvailable()
    } finally sq2.stop()
    val batch = AnnIndex.knnJoin(idx, qs, 3, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(results.toSet == batch.toSet && results.nonEmpty,
      s"streaming probe diverged: ${results.toSet} vs ${batch.toSet}")
  }

  test("pq knn join at full rerank equals the flat knn join exactly") {
    import graft.llm.AnnIndex
    val sp = spark
    val pq = AnnIndex.buildPqOrGet(sp, sf, 10, 2)
    val full = graft.io.Tables.embeddings(sp, sf)
      .select(col("vec_id"), col("embedding"))
    val qs = full.where(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val flat = AnnIndex.knnJoin(AnnIndex.buildOrGet(sp, sf, 10, 2), qs, 3, 3)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val viaPq = AnnIndex.pqKnnJoin(pq, full, qs, 3, 3, rerank = 1 << 20)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(viaPq == flat && viaPq.nonEmpty,
      s"full-rerank pq join diverged: $viaPq vs $flat")
    // a realistic short list keeps high overlap with the exact ranking
    val tight = AnnIndex.pqKnnJoin(pq, full, qs, 3, 3, rerank = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val flatPairs = flat.map(t => (t._1, t._3))
    val overlap = tight.intersect(flatPairs).size.toDouble / flatPairs.size
    assert(overlap >= 0.6, s"rerank=8 recall too low: $overlap")
  }

  test("sq8: full-rerank equality, bounded reconstruction, 4x payload") {
    import graft.llm.AnnIndex
    val sp = spark
    val sqi = AnnIndex.buildSqOrGet(sp, sf, 10, 2)
    val full = graft.io.Tables.embeddings(sp, sf)
      .select(col("vec_id"), col("embedding"))
    val qs = full.where(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val flat = AnnIndex.knnJoin(AnnIndex.buildOrGet(sp, sf, 10, 2), qs, 3, 3)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val viaSq = AnnIndex.sqKnnJoin(sqi, full, qs, 3, 3, rerank = 1 << 20)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(viaSq == flat && viaSq.nonEmpty,
      s"full-rerank sq join diverged: $viaSq vs $flat")
    // SQ8 keeps per-dim resolution: even a TIGHT short list reproduces
    // the exact ranking with high overlap
    val tight = AnnIndex.sqKnnJoin(sqi, full, qs, 3, 3, rerank = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val flatPairs = flat.map(t => (t._1, t._3))
    val overlap = tight.intersect(flatPairs).size.toDouble / flatPairs.size
    assert(overlap >= 0.6, s"rerank=8 recall too low: $overlap")
    // payload: dim bytes vs dim float32s = exactly 4x smaller
    val row = sqi.codes.select(length(col("codes"))).head()
    val dim = full.select(size(col("embedding"))).head().getInt(0)
    assert(row.getInt(0) == dim, "one byte per dimension")
    // reconstruction bound: |decode(encode(x)) - x/|x|| <= scale_d/2
    // per dim for in-range values (midpoint decode of a clamped cell)
    val v = full.where(col("vec_id") === 7)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val nrm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    val normed = v.map(_ / nrm)
    val dec = full.where(col("vec_id") === 7)
      .select(graft.functions.SqDecode(
        graft.functions.SqEncode(col("embedding"), sqi.sq.mins,
          sqi.sq.scales), sqi.sq.mins, sqi.sq.scales))
      .head().getSeq[Float](0).toArray
    normed.indices.foreach { d =>
      val inRange = normed(d) >= sqi.sq.mins(d) &&
        normed(d) <= sqi.sq.mins(d) + 256.0f * sqi.sq.scales(d)
      if (inRange && sqi.sq.scales(d) > 0) {
        assert(math.abs(dec(d) - normed(d)) <= sqi.sq.scales(d) * 0.5f + 1e-6,
          s"dim $d: ${dec(d)} vs ${normed(d)} scale ${sqi.sq.scales(d)}")
      }
    }
  }

  test("streaming PQ probe: micro-batches equal the batch pq knn join") {
    import graft.llm.AnnIndex
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val sp = spark
    import sp.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = sp.sqlContext
    val pq = AnnIndex.buildPqOrGet(sp, sf, 10, 2)
    val full = graft.io.Tables.embeddings(sp, sf)
      .select(col("vec_id"), col("embedding"))
    val qs = full.where(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val qvecs = qs.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val results =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    val in = MemoryStream[(Long, Array[Float])]
    val sq2 = AnnIndex.probePqStream(
        in.toDF().toDF("q_id", "qe"), pq, full, nprobe = 3, k = 3,
        rerank = 16) { out =>
      results.synchronized {
        results ++= out.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      }
    }
    try {
      in.addData(qvecs)
      sq2.processAllAvailable()
    } finally sq2.stop()
    val batch = AnnIndex.pqKnnJoin(pq, full, qs, 3, 3, rerank = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(results.toSet == batch.toSet && results.nonEmpty,
      s"streaming pq probe diverged: ${results.toSet} vs ${batch.toSet}")
  }

  test("ann_ivf returns correctly-computed sims in descending order") {
    val ann = VectorOps.annIvf(spark, sf).collect()
    assert(ann.length == 5)
    val sims = ann.map(_.getDouble(2))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    // every ANN sim must equal the brute-force sim for that vec_id
    val brute = VectorOps.cosineTopk(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val bruteTop = brute.keySet
    val annIds = ann.map(_.getLong(0)).toSet
    // recall@5 against brute force, on this data the cells are coarse —
    // require at least 1 overlap and report-level sanity otherwise
    assert(annIds.intersect(bruteTop).nonEmpty,
      s"IVF probe found none of the true top-5: ann=$annIds brute=$bruteTop")
  }

  test("ivf-pq: recall within eps of flat, exact at full rerank, 4x smaller") {
    import graft.llm.AnnIndex
    val sp = spark
    val flatIdx = AnnIndex.buildOrGet(sp, sf, 10, 2)
    val pqIdx = AnnIndex.buildPqOrGet(sp, sf, 10, 2)
    val e = graft.io.Tables.embeddings(sp, sf)
    val q = e.where(col("vec_id") === 0).select(col("embedding").as("qe"))
    val brute = VectorOps.cosineTopk(sp, sf).collect().map(_.getLong(0)).toSet
    def recall(ids: Seq[Long]) = ids.count(brute.contains) / 5.0
    val flat = AnnIndex.probe(flatIdx, q, 3, 5, excludeVecId = Some(0L))
      .collect()
    val pq = AnnIndex.pqProbe(pqIdx, e, q, 3, 5, rerank = 50,
      excludeVecId = Some(0L)).collect()
    assert(recall(pq.map(_.getLong(0))) >= recall(flat.map(_.getLong(0))) - 0.21,
      s"pq recall ${recall(pq.map(_.getLong(0)))} too far below " +
        s"flat ${recall(flat.map(_.getLong(0)))}")
    // rerank >= candidate count => the exact re-rank sees every candidate
    // the flat probe saw: identical (vec_id, sim) rows in order
    val pqFull = AnnIndex.pqProbe(pqIdx, e, q, 3, 5, rerank = 1 << 20,
      excludeVecId = Some(0L)).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(pqFull == flat.map(r => (r.getLong(0), r.getDouble(2))).toSeq,
      s"full-rerank pq must equal the flat probe: $pqFull")
    // the scale claim: code lists at least 4x smaller on disk than the
    // float-vector lists (same rows, same ids/cells, 8-byte codes)
    val tmp = java.nio.file.Files.createTempDirectory("pqsize").toString
    flatIdx.lists.select(col("vec_id"), col("cell"), col("embedding"))
      .coalesce(1).write.parquet(s"$tmp/flat")
    pqIdx.codes.coalesce(1).write.parquet(s"$tmp/pq")
    def bytes(p: String): Long = new java.io.File(p).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val (fb, pb) = (bytes(s"$tmp/flat"), bytes(s"$tmp/pq"))
    assert(fb >= 4L * pb, s"expected >=4x reduction: flat=$fb pq=$pb")
    // the declared query runs and is sorted
    val qrows = VectorOps.annPq(sp, sf).collect()
    assert(qrows.length == 5)
    val sims = qrows.map(_.getDouble(1))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
  }

  test("embed_neardup: all pairs verified >= 0.45 and subset of brute force") {
    val got = VectorOps.embedNeardup(spark, sf).collect()
    assert(got.forall(_.getDouble(2) >= 0.45))
    // brute force count of 0.45+ pairs via the fused kernel
    val e = graft.io.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val all = e.toDF("a_id", "ea")
      .join(e.toDF("b_id", "eb"), col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        graft.util.Det.r4(
          graft.functions.CosineSim(col("ea"), col("eb"))).as("cos"))
      .where(col("cos") >= 0.45)
    val brute = all.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotPairs = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotPairs.subsetOf(brute), s"false positives: ${gotPairs -- brute}")
  }

  test("embed_neardup recall: planted pairs match the s-curve expectation") {
    val sp = spark
    import sp.implicits._
    // planted pairs at controlled cosine: partner = c*u + sqrt(1-c^2)*w
    // with w unit and orthogonal to u. Planes are fixed-seed, fixture
    // is fixed-seed — measured recall is DETERMINISTIC, so the bounds
    // below are stable, not flaky.
    val rnd = new scala.util.Random(7)
    def unit(): Array[Double] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    def pairAt(c: Double): (Array[Float], Array[Float]) = {
      val u = unit()
      val r = unit()
      val d = u.zip(r).map { case (a, b) => a * b }.sum
      val w0 = r.zip(u).map { case (b, a) => b - d * a }
      val wn = math.sqrt(w0.map(x => x * x).sum)
      val w = w0.map(_ / wn)
      val v = u.zip(w).map { case (a, b) => c * a + math.sqrt(1 - c * c) * b }
      (u.map(_.toFloat), v.map(_.toFloat))
    }
    // tail regime: 250 pairs uniform in [0.46, 0.60]; near-dup regime:
    // 100 pairs in [0.92, 0.98]
    val tail = (0 until 250).map(i => (0.46 + 0.14 * i / 249.0, i))
    val near = (0 until 100).map(i => (0.92 + 0.06 * i / 99.0, i + 250))
    val planted = (tail ++ near).map { case (c, i) =>
      val (u, v) = pairAt(c)
      (2L * i, u, 2L * i + 1, v)
    }
    val fixture = planted.flatMap { case (ia, u, ib, v) =>
      Seq((ia, u), (ib, v)) }.toDF("vec_id", "embedding")
    val got = graft.llm.VectorOps.embedNeardupFrom(sp, fixture).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // per-pair: actual cosine after float32 truncation (the denominator
    // only counts pairs the exact verification would keep) and the
    // s-curve candidate probability q(c) = 1 - (1 - (1 - acos(c)/pi)^8)^8
    def cosF(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot / (na * nb)
    }
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    def q(c: Double) = {
      val pb = math.pow(1.0 - math.acos(c) / math.Pi, 8)
      1.0 - math.pow(1.0 - pb, 8)
    }
    def regime(ids: Seq[Int]): (Double, Double) = {
      val kept = planted.filter(p => ids.contains((p._1 / 2).toInt))
        .filter(p => r4(cosF(p._2, p._4)) >= 0.45)
      val expected = kept.map(p => q(cosF(p._2, p._4))).sum / kept.size
      val found = kept.count(p => got.contains((p._1, p._3)))
      (found.toDouble / kept.size, expected)
    }
    val (tailRec, tailExp) = regime(tail.map(_._2))
    val (nearRec, nearExp) = regime(near.map(_._2))
    // sd of the mean over ~250 Bernoulli draws is ~0.03; 0.15 is 5 sd
    assert(math.abs(tailRec - tailExp) <= 0.15,
      s"tail recall $tailRec vs s-curve $tailExp")
    assert(nearRec >= 0.90 && nearRec >= nearExp - 0.10,
      s"near-dup recall $nearRec vs s-curve $nearExp")
  }

  test("dup clusters: label propagation equals brute-force transitive closure") {
    import graft.llm.{DupCluster, TextOps}
    val sp = spark
    import sp.implicits._
    // synthetic chains — incl. a~b~c, where a greedy per-pair drop would
    // delete both b and c; cluster resolution keeps exactly min per comp
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 23L), (3L, 2L)).toDF("a_id", "b_id")
    val chainExpect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
      11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L)
    val lbl = DupCluster.resolve(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lbl == chainExpect)
    // distributed path: the 20~21~22~23 chain needs multiple rounds
    val lblDist = DupCluster.resolve(pairs, collectThreshold = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lblDist == chainExpect)
    // empty pair set resolves to an empty label table
    assert(DupCluster.resolve(Seq.empty[(Long, Long)].toDF("a_id", "b_id"))
      .isEmpty)

    // the real LSH pair graph: distributed propagation must equal an
    // in-test union-find transitive closure (min id as root)
    val real = TextOps.minhashDedup(sp, sf).select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(real.nonEmpty, "need real near-dup pairs for the closure check")
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    real.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = real.flatMap(p => Seq(p._1, p._2)).distinct
      .map(x => x -> find(x)).toMap
    val realPairs = TextOps.minhashDedup(sp, sf).select("a_id", "b_id")
    // default path (driver union-find over the bounded edge list)
    val got = DupCluster.resolve(realPairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect, "union-find labels must equal transitive closure")
    // forced distributed path (threshold 0 → min-label propagation)
    val gotDist = DupCluster.resolve(realPairs, collectThreshold = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotDist == expect,
      "propagation labels must equal transitive closure")
  }

  test("pipeline keeps exactly the min doc per near-dup cluster") {
    import graft.llm.{Pipeline, TextOps}
    import org.apache.spark.sql.functions.col
    val sp = spark
    val rep = Pipeline.prepare(sp, sf)
    // reconstruct the survivor pair graph the pipeline resolved
    val surv = graft.io.Tables.documents(sp, sf)
      .join(rep.where(col("pass_exact")).select("doc_id"), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("text"))
    val pr = TextOps.minhashDedupOver(surv).select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pr.nonEmpty, "need near-dup pairs among survivors")
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pr.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val kept = rep.where(col("kept")).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val comps = pr.flatMap(p => Seq(p._1, p._2)).distinct.groupBy(find)
    comps.foreach { case (_, members) =>
      assert(members.toSet.intersect(kept) == Set(members.min),
        s"cluster $members must keep exactly its min id")
    }
  }

  test("corpus prep: kept ⊆ passed-exact ⊆ passed-quality; stats add up") {
    import graft.llm.Pipeline
    val rep = Pipeline.prepare(spark, sf).collect()
    assert(rep.length == graft.io.Tables.documents(spark, sf).count())
    rep.foreach { r =>
      val (q, e, k) = (r.getBoolean(4), r.getBoolean(5), r.getBoolean(6))
      assert(!e || q, "pass_exact implies pass_quality")
      assert(!k || e, "kept implies pass_exact")
    }
    val stats = Pipeline.corpusStats(spark, sf).collect()
    assert(stats.map(_.getLong(1)).sum == rep.length)
    assert(stats.forall(r => r.getLong(2) <= r.getLong(1)), "kept <= in")
    assert(stats.forall(r => r.getLong(4) <= r.getLong(3)), "tokens kept <= in")
    // the per-stage drop attribution partitions the loss exactly
    stats.foreach { r =>
      assert(r.getLong(3) - r.getLong(4) ==
        r.getLong(5) + r.getLong(6) + r.getLong(7),
        s"stage drops must sum to the total loss: $r")
    }
    assert(stats.map(r => r.getLong(5) + r.getLong(6) + r.getLong(7)).sum > 0,
      "some stage must actually drop tokens")
    val kept = rep.count(_.getBoolean(6))
    assert(stats.map(_.getLong(2)).sum == kept)
    assert(kept > 0 && kept < rep.length, "gates must actually gate")
  }

  test("mm: features are unit-norm, frames cover every doc") {
    import graft.mm.MultimodalOps
    // every document plus the two planted near-dup clones (one image,
    // one audio — the r15 fixture-degeneracy guard)
    val expected = graft.io.Tables.documents(spark, sf).count() + 2
    val feats = MultimodalOps.features(spark, sf).collect()
    assert(feats.map(_.getLong(1)).sum == expected)
    // stub decoder L2-normalizes: sum of squares == 1 (float tolerance)
    feats.foreach { r =>
      assert(math.abs(r.getDouble(3) - 1.0) < 1e-4 &&
        math.abs(r.getDouble(4) - 1.0) < 1e-4)
    }
    val frames = MultimodalOps.frames(spark, sf).collect()
    assert(frames.map(_.getLong(2)).sum == expected)
  }

  test("mm resize: every image lands at 16x16, audio decimated to 8kHz") {
    import graft.mm.{MediaCodec, MultimodalOps}
    val resized = MultimodalOps.resize(
      MultimodalOps.media(spark, sf)).collect()
    assert(resized.nonEmpty)
    resized.foreach { m =>
      if (m.kind == "image") {
        val (w, h, _) = MediaCodec.decodeBmp(m.payload)
        assert(w == 16 && h == 16 && m.width == 16 && m.height == 16)
      } else {
        val (rate, _) = MediaCodec.decodeWav(m.payload)
        assert(rate == 8000 && m.sample_rate == 8000)
      }
    }
    // one normalized shape per kind in the declared audit query
    val stats = MultimodalOps.resizeStats(spark, sf).collect()
    assert(stats.forall(_.getLong(4) == 1L))
  }

  test("opq rotation is orthogonal and preserves cosine") {
    import graft.llm.AnnIndex
    val e = graft.io.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val sample = AnnIndex.boundedSample(e)
    val rot = AnnIndex.trainOpqRotation(sample, 8)
    val dim = rot.length
    // R · Rt == I within float tolerance
    for (i <- 0 until dim; j <- 0 until dim) {
      var d = 0.0
      var t = 0
      while (t < dim) { d += rot(i)(t).toDouble * rot(j)(t); t += 1 }
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(d - want) < 1e-4, s"RRt[$i][$j] = $d")
    }
    // rotation preserves pairwise cosine (angular ADC stays faithful)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (na * nb)
    }
    for (i <- 0 until 5; j <- i + 1 until 5) {
      val plain = cos(sample(i), sample(j))
      val rotated = cos(AnnIndex.applyRotation(rot, sample(i)),
        AnnIndex.applyRotation(rot, sample(j)))
      assert(math.abs(plain - rotated) < 1e-4,
        s"cosine not preserved: $plain vs $rotated")
    }
  }

  test("opq knn join at full rerank equals the flat knn join exactly") {
    import graft.llm.AnnIndex
    val sp = spark
    val opq = AnnIndex.buildOpqOrGet(sp, sf, 10, 2)
    assert(opq.pq.rot.nonEmpty, "opq index must carry its rotation")
    val full = graft.io.Tables.embeddings(sp, sf)
      .select(col("vec_id"), col("embedding"))
    val qs = full.where(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val flat = AnnIndex.knnJoin(AnnIndex.buildOrGet(sp, sf, 10, 2), qs, 3, 3)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val viaOpq = AnnIndex.pqKnnJoin(opq, full, qs, 3, 3, rerank = 1 << 20)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(viaOpq == flat && viaOpq.nonEmpty,
      s"full-rerank opq join diverged: $viaOpq vs $flat")
    // a realistic short list keeps high overlap with the exact ranking
    val tight = AnnIndex.pqKnnJoin(opq, full, qs, 3, 3, rerank = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val flatPairs = flat.map(t => (t._1, t._3))
    val overlap = tight.intersect(flatPairs).size.toDouble / flatPairs.size
    assert(overlap >= 0.6, s"opq rerank=8 recall too low: $overlap")
  }

  test("opq reconstruction is no worse than plain pq (within tolerance)") {
    import graft.llm.AnnIndex
    val sp = spark
    val pq = AnnIndex.buildPqOrGet(sp, sf, 10, 2)
    val opq = AnnIndex.buildOpqOrGet(sp, sf, 10, 2)
    // mean cosine between each vector and its code's reconstruction —
    // the angular analog of PQ's quantization error. OPQ's balanced
    // PCA allocation should not LOSE fidelity (on isotropic synthetic
    // data the gain may be ~0, hence tolerance rather than strict <).
    def fidelity(codes: org.apache.spark.sql.DataFrame,
        model: AnnIndex.Pq): Double = {
      val vecCol = model.rot.fold(col("embedding"))(r =>
        graft.functions.RotateVec(col("embedding"), r))
      graft.io.Tables.embeddings(sp, sf)
        .join(codes.select(col("vec_id"), col("codes")).distinct(), "vec_id")
        .select(avg(graft.functions.CosineSim(
          graft.functions.PqDecode(col("codes"), model.codebooks), vecCol))
          .as("f"))
        .collect()(0).getDouble(0)
    }
    val fPq = fidelity(pq.codes, pq.pq)
    val fOpq = fidelity(opq.codes, opq.pq)
    assert(fOpq >= fPq - 0.02, s"opq fidelity $fOpq well below pq $fPq")
    assert(fOpq > 0.5, s"opq reconstruction unreasonably poor: $fOpq")
  }

  test("iterative opq: rotation stays orthogonal, objective not worse") {
    import graft.llm.AnnIndex
    val e = graft.io.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val sample = AnnIndex.boundedSample(e)
    val dim = sample.head.length
    def normalize(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      if (n == 0.0) v else v.map(x => (x / n).toFloat)
    }
    def sqErr(rot: Array[Array[Float]],
        cb: Array[Array[Array[Float]]]): Double = {
      val dsub = dim / cb.length
      sample.map { raw =>
        val v = AnnIndex.applyRotation(rot, normalize(raw))
        var err = 0.0
        for (s <- cb.indices) {
          val book = cb(s)
          val d = book.map { cw =>
            var acc = 0.0
            for (j <- 0 until dsub) {
              val x = v(s * dsub + j) - cw(j); acc += x * x
            }
            acc
          }.min
          err += d
        }
        err
      }.sum / sample.length
    }
    val rotP = AnnIndex.trainOpqRotation(sample, 8)
    val cbP = AnnIndex.trainPq(sample.map(AnnIndex.applyRotation(rotP, _)), 8)
    val (rotI, cbI) = AnnIndex.trainOpqIterative(sample, 8, iters = 3)
    // refined R stays orthogonal (SVD through the eigensolver)
    for (i <- 0 until dim; j <- 0 until dim) {
      var d = 0.0
      var t = 0
      while (t < dim) { d += rotI(i)(t).toDouble * rotI(j)(t); t += 1 }
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(d - want) < 1e-3, s"RRt[$i][$j] = $d")
    }
    // alternating refinement must not lose to its own initialization
    val ep = sqErr(rotP, cbP)
    val ei = sqErr(rotI, cbI)
    assert(ei <= ep + 1e-3, s"refined error $ei worse than parametric $ep")
    // the refined model serves end-to-end
    val sp = spark
    val opq = AnnIndex.buildOpqOrGet(sp, sf, 10, 2, refineIters = 2)
    val full = graft.io.Tables.embeddings(sp, sf)
      .select(col("vec_id"), col("embedding"))
    val qs = full.where(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val flat = AnnIndex.knnJoin(AnnIndex.buildOrGet(sp, sf, 10, 2), qs, 3, 3)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val via = AnnIndex.pqKnnJoin(opq, full, qs, 3, 3, rerank = 1 << 20)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(via == flat && via.nonEmpty,
      s"refined-opq full-rerank join diverged: $via vs $flat")
  }

  test("sq index save/load round-trips the model; served joins agree") {
    import graft.llm.AnnIndex
    val sp = spark
    val sqi = AnnIndex.buildSqOrGet(sp, sf, 10, 2)
    val dir = java.nio.file.Files.createTempDirectory("sqsave").toString
    AnnIndex.saveSq(sqi, dir)
    val served = AnnIndex.loadSq(sp, dir)
    assert(served.sq.mins.toSeq == sqi.sq.mins.toSeq &&
      served.sq.scales.toSeq == sqi.sq.scales.toSeq,
      "per-dim model must round-trip bit-exactly")
    val full = graft.io.Tables.embeddings(sp, sf)
      .select(col("vec_id"), col("embedding"))
    val qs = full.where(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val built = AnnIndex.sqKnnJoin(sqi, full, qs, 3, 3, rerank = 16)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val loaded = AnnIndex.sqKnnJoin(served, full, qs, 3, 3, rerank = 16)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(loaded == built && loaded.nonEmpty,
      s"served sq index diverged from the built one: $loaded vs $built")
  }

  test("streaming SQ probe: micro-batches equal the batch sq knn join") {
    import graft.llm.AnnIndex
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val sp = spark
    import sp.implicits._
    implicit val sqc: org.apache.spark.sql.SQLContext = sp.sqlContext
    val sqi = AnnIndex.buildSqOrGet(sp, sf, 10, 2)
    val full = graft.io.Tables.embeddings(sp, sf)
      .select(col("vec_id"), col("embedding"))
    val qs = full.where(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val qvecs = qs.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val results =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    val in = MemoryStream[(Long, Array[Float])]
    val q = AnnIndex.probeSqStream(
        in.toDF().toDF("q_id", "qe"), sqi, full, nprobe = 3, k = 3,
        rerank = 16) { out =>
      results.synchronized {
        results ++= out.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      }
    }
    try {
      in.addData(qvecs)
      q.processAllAvailable()
    } finally q.stop()
    val batch = AnnIndex.sqKnnJoin(sqi, full, qs, 3, 3, rerank = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(results.toSet == batch.toSet && results.nonEmpty,
      s"streaming sq probe diverged: ${results.toSet} vs ${batch.toSet}")
  }

  test("pq index save/load round-trips the model; served joins agree") {
    import graft.llm.AnnIndex
    val sp = spark
    val opq = AnnIndex.buildOpqOrGet(sp, sf, 10, 2)
    val dir = java.nio.file.Files.createTempDirectory("pqsave").toString
    AnnIndex.savePq(opq, dir)
    val served = AnnIndex.loadPq(sp, dir)
    assert(served.pq.m == opq.pq.m && served.pq.dsub == opq.pq.dsub)
    assert(served.pq.rot.isDefined &&
      served.pq.rot.get.map(_.toSeq).toSeq ==
        opq.pq.rot.get.map(_.toSeq).toSeq,
      "rotation must round-trip bit-exactly")
    assert(served.pq.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      opq.pq.codebooks.map(_.map(_.toSeq).toSeq).toSeq,
      "codebooks must round-trip bit-exactly")
    val full = graft.io.Tables.embeddings(sp, sf)
      .select(col("vec_id"), col("embedding"))
    val qs = full.where(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val built = AnnIndex.pqKnnJoin(opq, full, qs, 3, 3, rerank = 16)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val loaded = AnnIndex.pqKnnJoin(served, full, qs, 3, 3, rerank = 16)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(loaded == built && loaded.nonEmpty,
      s"served index diverged from the built one: $loaded vs $built")
  }

  test("nprobe autotune picks the smallest candidate meeting the target") {
    import graft.llm.AnnIndex
    val sp = spark
    val idx = AnnIndex.buildOrGet(sp, sf, 10, 2)
    val qs = graft.io.Tables.embeddings(sp, sf)
      .where(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val (chosen, table) = AnnIndex.tuneNprobe(idx, qs, k = 3,
      targetRecall = 0.8, candidates = Seq(1, 2, 4, 7, 10))
    // the table is the spec'd tradeoff: recall non-decreasing, exact at
    // nprobe = #cells
    val recalls = table.map(_._2)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => b >= a },
      s"recall not monotone: $table")
    assert(table.last._2 == 1.0, s"all-cells probe must be exact: $table")
    // chosen is minimal: it meets the target and no smaller candidate does
    val meeting = table.filter(_._2 >= 0.8).map(_._1)
    assert(meeting.nonEmpty && chosen == meeting.min,
      s"chosen=$chosen but table=$table")
  }

  test("mrl_tradeoff: full-dim recall is 1, degradation is monotone") {
    val rows = VectorOps.mrlTradeoff(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq == Seq(64L, 32L, 16L, 8L))
    assert(rows.head._2 == 1.0, s"full-dim recall must be 1: ${rows.head}")
    rows.sliding(2).foreach { case Array((d1, r1, _), (d2, r2, _)) =>
      assert(r2 <= r1, s"recall must not rise as dims shrink: " +
        s"$d1->$r1 vs $d2->$r2")
    }
    assert(rows.forall(_._2 > 0.0), "degenerate zero recall")
    assert(rows.map(_._3).toSeq == Seq(1.0, 0.5, 0.25, 0.125))
  }

  test("heavy_hitters: exact under capacity, MG-bounded over it, SQL-registered") {
    val sp = spark
    import sp.implicits._
    // exact mode: 4 distinct items under capacity 8 — no decrement can
    // fire, so the summary IS the exact ranked count table
    val small = (0 until 110).map(i =>
      if (i % 11 == 0) "d" else if (i % 3 == 0) "c"
      else if (i % 2 == 0) "a" else "b")
    val exactSmall = small.groupBy(identity).map { case (t, xs) =>
      t -> xs.length.toLong }
    val gotSmall = sp.createDataset(small).toDF("t")
      .agg(graft.functions.HeavyHitters(col("t"), 8, 4).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.item"), col("e.est")).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(gotSmall.toSeq ==
      exactSmall.toSeq.sortBy { case (t, c) => (-c, t) },
      s"exact-mode mismatch: ${gotSmall.mkString(",")}")
    // bound mode: a Zipf-skewed stream through a deliberately tiny
    // summary (corpus token counts are too flat to clear the MG bound)
    val skewed = (0 until 8).flatMap(i =>
      Seq.fill(1 << (12 - i))(f"hot$i")) ++
      (0 until 400).flatMap(i => Seq.fill(3)(f"rare$i%03d"))
    val toksDf = sp.createDataset(skewed).toDF("t").repartition(7)
    val exact = toksDf.groupBy("t").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val cap = 16
    val hh = toksDf
      .agg(graft.functions.HeavyHitters(col("t"), cap, cap).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.item"), col("e.est")).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(exact.size > cap, s"corpus vocab ${exact.size} must exceed $cap")
    val bound = n / (cap + 1)
    hh.foreach { case (item, est) =>
      assert(est <= exact(item), s"$item overcounted: $est > ${exact(item)}")
      assert(exact(item) - est <= bound,
        s"$item undercount ${exact(item) - est} > $bound")
    }
    val mandatory = exact.filter(_._2 > bound).keySet
    assert(mandatory.nonEmpty, "degenerate: no token above the MG bound")
    assert(mandatory.subsetOf(hh.map(_._1).toSet),
      s"missing guaranteed heavy hitters: ${mandatory -- hh.map(_._1).toSet}")
    // SQL surface
    graft.functions.registerAll(sp)
    sp.createDataset(small).toDF("t").createOrReplaceTempView("hh_small")
    val viaSql = sp.sql(
      "SELECT explode(heavy_hitters(t, 8, 1)) AS e FROM hh_small")
      .select("e.item", "e.est").collect()
    val top1 = exactSmall.toSeq.sortBy { case (t, c) => (-c, t) }.head
    assert(viaSql.length == 1 && viaSql.head.getString(0) == top1._1 &&
      viaSql.head.getLong(1) == top1._2, s"sql path: ${viaSql.mkString(",")}")
  }

  test("cm_sketch: never undercounts, conserves N per row, merges exactly") {
    val sp = spark
    import sp.implicits._
    val words = Seq.fill(40)("the") ++ Seq.fill(25)("cat") ++
      Seq.fill(9)("sat") ++ (1 to 30).flatMap(i => Seq.fill(2)(f"w$i%02d"))
    val exact = words.groupBy(identity).map { case (t, xs) =>
      t -> xs.length.toLong }
    val df = sp.createDataset(words).toDF("t")
    val depth = 4; val width = 256
    def sketchOf(d: org.apache.spark.sql.DataFrame): Array[Byte] =
      d.agg(graft.functions.CmSketch(col("t"), depth, width).as("sk"))
        .head.getAs[Array[Byte]](0)
    val sk = sketchOf(df.repartition(8))
    // (1) never undercounts — the one-sided CMS guarantee, every key
    exact.foreach { case (item, c) =>
      val est = graft.functions.CountMin.query(sk, item)
      assert(est >= c, s"$item undercounted: $est < $c")
    }
    // an unseen key may collide upward but must never go negative
    assert(graft.functions.CountMin.query(sk, "never-seen") >= 0L)
    // (2) every row of the grid independently conserves N
    val (d2, w2, grid) = graft.functions.CountMin.deserialize(sk)
    assert(d2 == depth && w2 == width)
    (0 until depth).foreach { r =>
      val rowSum = (0 until width).map(c => grid(r * width + c)).sum
      assert(rowSum == words.length.toLong,
        s"row $r sums to $rowSum, not N=${words.length}")
    }
    // (3) merge is EXACT: the 8-partition partial-agg merge tree equals
    // the 1-partition sequential pass byte-for-byte
    assert(sk.sameElements(sketchOf(df.coalesce(1))),
      "partial-agg merge tree must be byte-identical to sequential")
    // (4) SQL surface: aggregate + point lookup registered
    graft.functions.registerAll(sp)
    df.createOrReplaceTempView("cms_words")
    val viaSql = sp.sql(
      "SELECT cm_query(cm_sketch(t, 4, 256), 'the') AS est FROM cms_words")
      .head.getLong(0)
    assert(viaSql == graft.functions.CountMin.query(sk, "the"),
      s"sql path $viaSql != kernel path")
  }

  test("bloom filter: no false negatives, FP bounded, SQL scalar-subquery") {
    val sp = spark
    import sp.implicits._
    val keys = graft.io.Tables.orders(sp, sf)
      .select(col("o_orderkey")).distinct()
    val bf = keys
      .agg(graft.functions.BloomAgg(col("o_orderkey"), 20000L, 200000L)
        .as("bf"))
      .head.getAs[Array[Byte]]("bf")
    // membership sketches have ONE one-sided guarantee: never a false
    // negative — every real key must probe true (the bloom literal is
    // sketch-sized, exactly what a serving layer ships)
    val n = keys.count()
    val present = keys
      .where(graft.functions.MightContain(lit(bf), col("o_orderkey")))
      .count()
    assert(present == n, s"false negatives: $present of $n keys hit")
    // false positives bounded: 200k bits for <= 20k items keeps the FP
    // rate well under 5% (theoretical ~1.6% at k=3 hashes)
    val probes = 5000L
    val fp = sp.range(1, probes + 1)
      .select((col("id") + 100000000L).as("k"))
      .where(graft.functions.MightContain(lit(bf), col("k")))
      .count()
    assert(fp <= probes / 20,
      s"FP rate too high: $fp of $probes absent keys hit")
    // SQL surface, in the scalar-subquery form Spark's own runtime
    // filtering plans
    graft.functions.registerAll(sp)
    keys.createOrReplaceTempView("bloom_keys")
    val viaSql = sp.sql(
      """SELECT count(*) FROM bloom_keys
        |WHERE might_contain(
        |  (SELECT bloom_filter_agg(o_orderkey, 20000L, 200000L)
        |   FROM bloom_keys), o_orderkey)""".stripMargin).head.getLong(0)
    assert(viaSql == n, s"sql path hit $viaSql of $n")
  }

  test("q_llm_cms_probe: mg_est <= exact <= cms_est brackets every row") {
    val sp = spark
    import sp.implicits._
    val probe = graft.llm.TextOps.cmTokenProbe(sp, sf).collect()
    assert(probe.nonEmpty)
    val exact = graft.io.Tables.documents(sp, sf)
      .select(col("lang"), explode(split(col("text"), " ")).as("token"))
      .groupBy("lang", "token").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    probe.foreach { r =>
      val (lang, tok, mg, cms) =
        (r.getString(0), r.getString(2), r.getLong(3), r.getLong(4))
      val ex = exact((lang, tok))
      assert(mg <= ex && ex <= cms,
        s"bracket broken for ($lang,$tok): mg=$mg exact=$ex cms=$cms")
    }
  }

  test("winnowing guarantee: a shared >= k+w-1 token run always collides") {
    val sp = spark
    import sp.implicits._
    // docs 1 and 2 share a 6-token run (k=3, w=4 -> k+w-1=6) inside
    // otherwise fully disjoint vocabularies; doc 3 shares nothing
    val docs = Seq(
      (1L, "a1 a2 a3 a4 a5 q1 q2 q3 q4 q5 q6 a6 a7 a8 a9 a10"),
      (2L, "b1 b2 b3 b4 q1 q2 q3 q4 q5 q6 b5 b6 b7 b8 b9 b10 b11"),
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12 c13 c14 c15"))
      .toDF("doc_id", "text")
    val pairs = graft.llm.TextOps.winnowingOver(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) >= 1L,
      s"guaranteed collision missing: $pairs")
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)),
      s"disjoint docs must not pair: $pairs")
  }

  test("perplexity == driver bigram-LM reference (quantized-log exact)") {
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val docs = graft.io.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSeq))
    val vocab = docs.flatMap(_._2).toSet.size.toLong
    val bigs = docs.filter(_._2.length >= 2).map { case (id, tk) =>
      (id, tk.sliding(2).map(_.mkString(" ")).toSeq)
    }
    val c2 = scala.collection.mutable.Map[String, Long]()
    bigs.foreach(_._2.foreach(b => c2(b) = c2.getOrElse(b, 0L) + 1L))
    val c1 = scala.collection.mutable.Map[String, Long]()
    c2.foreach { case (b, c) =>
      val w1 = b.split(" ")(0); c1(w1) = c1.getOrElse(w1, 0L) + c
    }
    val qlp = c2.map { case (b, c) =>
      b -> math.floor(math.log((c + 1L).toDouble /
        (c1(b.split(" ")(0)) + vocab).toDouble) * 1.0e9).toLong
    }
    val want = bigs.map { case (id, bb) =>
      val n = bb.length.toLong
      val h = -(bb.map(qlp).sum.toDouble / 1.0e9) / n.toDouble
      (id, n, r4(h), r4(math.exp(h)))
    }.sortBy(_._1).toSeq
    val got = graft.llm.TextOps.perplexity(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSeq
    assert(got == want,
      s"perplexity diverged from driver reference (first few: " +
        s"${got.take(3)} vs ${want.take(3)})")
    got.foreach { case (id, _, h, ppl) =>
      assert(h >= 0.0 && ppl >= 1.0, s"doc $id: h=$h ppl=$ppl")
    }
  }

  test("kl/js drift == driver fold; kl >= 0, js in [0, ln 2]") {
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val toks = graft.io.Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .flatMap(r => r.getString(1).split(" ").map((r.getString(0), _)))
    val cnt = scala.collection.mutable.Map[(String, String), Long]()
    toks.foreach(k => cnt(k) = cnt.getOrElse(k, 0L) + 1L)
    val corp = cnt.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val ns = cnt.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val nc = corp.values.sum
    val want = ns.keys.toSeq.sorted.map { s =>
      var klq = 0L; var jsq = 0L
      corp.foreach { case (w, cc) =>
        val c = cnt.getOrElse((s, w), 0L)
        val p = c.toDouble / ns(s).toDouble
        val q = cc.toDouble / nc.toDouble
        val m = (p + q) / 2.0
        val klT = if (c > 0L) p * math.log(p / q) else 0.0
        val jsT = ((if (c > 0L) p * math.log(p / m) else 0.0) +
          q * math.log(q / m)) / 2.0
        klq += math.floor(klT * 1.0e12).toLong
        jsq += math.floor(jsT * 1.0e12).toLong
      }
      (s, ns(s), r4(klq.toDouble / 1.0e12), r4(jsq.toDouble / 1.0e12))
    }
    val got = graft.llm.TextOps.klDrift(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSeq
    assert(got == want, s"kl drift diverged: ${got.take(3)} vs " +
      s"${want.take(3)}")
    got.foreach { case (s, _, kl, js) =>
      assert(kl >= 0.0, s"$s: negative KL $kl")
      assert(js >= 0.0 && js <= math.log(2.0) + 1e-9,
        s"$s: JS out of [0, ln2]: $js")
    }
  }

  test("energy distance == O(n^2) driver reference; e >= 0") {
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val docs = graft.io.Tables.documents(spark, sf)
      .select(col("source"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    def meanAbs(a: Seq[Long], b: Seq[Long]): (BigInt, Long) = {
      var s = BigInt(0)
      a.foreach(x => b.foreach(y => s += (x - y).abs))
      (s, a.size.toLong * b.size.toLong)
    }
    val want = docs.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (src, rows) =>
        val xs = rows.map(_._2)
        val ys = docs.filter(_._1 != src).map(_._2)
        val (ab, nab) = meanAbs(xs, ys)
        val (aa, naa) = meanAbs(xs, xs)
        val (bb, nbb) = meanAbs(ys, ys)
        val e = 2.0 * ab.toDouble / nab.toDouble -
          aa.toDouble / naa.toDouble - bb.toDouble / nbb.toDouble
        (src, xs.size.toLong, ys.size.toLong, r4(e))
    }
    val got = graft.llm.TextOps.energyDistance(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got == want, s"energy dist diverged: ${got.take(3)} vs " +
      s"${want.take(3)}")
    got.foreach { case (s, _, _, e) =>
      assert(e >= -1e-6, s"$s: negative energy distance $e") }
  }

  test("compress ratio == driver Deflater fold; whole-stage codegen " +
      "keeps the expression native") {
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val docs = graft.io.Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val want = docs.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (s, rows) =>
        val pairs = rows.map { case (_, t) =>
          val raw = t.getBytes("UTF-8")
          (raw.length.toLong, graft.llm.TextZ.deflatedLen(raw))
        }
        val rawB = pairs.map(_._1).sum; val defB = pairs.map(_._2).sum
        val rep = pairs.count(p => p._2 * 10L < p._1 * 4L).toLong
        (s, pairs.size.toLong, rawB, defB,
          r4(defB.toDouble / rawB.toDouble), rep)
    }
    val df = graft.llm.TextOps.compressRatio(spark, sf)
    val got = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getLong(5))).toSeq
    assert(got == want, s"compress ratio diverged: ${got.take(2)} vs " +
      s"${want.take(2)}")
    // AQE final-plan strings mark codegen stages as `*(n)`
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("),
      s"deflate_len must stay inside whole-stage codegen:\n$plan")
    got.foreach { case (s, _, _, _, ratio, _) =>
      assert(ratio > 0.0 && ratio < 1.5, s"$s: ratio $ratio") }
  }

  test("chao1 == driver fold; chao1 >= vocab; gt_unseen in [0,1]") {
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val toks = graft.io.Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .flatMap(r => r.getString(1).split(" ").map((r.getString(0), _)))
    val cnt = scala.collection.mutable.Map[(String, String), Long]()
    toks.foreach(k => cnt(k) = cnt.getOrElse(k, 0L) + 1L)
    def row(source: String, cs: Seq[Long]) = {
      val v = cs.size.toLong; val n = cs.sum
      val f1 = cs.count(_ == 1L).toLong; val f2 = cs.count(_ == 2L).toLong
      val chao = if (f2 > 0L)
        r4(v.toDouble + f1.toDouble * f1.toDouble / (2.0 * f2.toDouble))
      else r4(v.toDouble + f1.toDouble * (f1.toDouble - 1.0) / 2.0)
      (source, v, n, f1, f2, chao, r4(f1.toDouble / n.toDouble))
    }
    val per = cnt.toSeq.groupBy(_._1._1).toSeq
      .map { case (s, xs) => row(s, xs.map(_._2)) }
    val corpC = cnt.toSeq.groupBy(_._1._2).view
      .mapValues(_.map(_._2).sum).values.toSeq
    val want = (per :+ row("__corpus__", corpC)).sortBy(_._1)
    val got = graft.llm.TextOps.vocabChao1(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6)))
      .toSeq
    assert(got == want, s"chao1 diverged: ${got.take(3)} vs " +
      s"${want.take(3)}")
    got.foreach { case (s, v, _, _, _, chao, gt) =>
      assert(chao >= v.toDouble - 1e-9, s"$s: chao1 $chao below V $v")
      assert(gt >= 0.0 && gt <= 1.0, s"$s: gt_unseen $gt")
    }
  }

  test("psi length == driver fold over integer bins; psi >= 0") {
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val docs = graft.io.Tables.documents(spark, sf)
      .select(col("source"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val mn = docs.map(_._2).min; val mx = docs.map(_._2).max
    def bin(x: Long): Long = math.min(9L, ((x - mn) * 10L) / (mx - mn + 1L))
    val cnt = docs.groupBy(d => (d._1, bin(d._2)))
      .view.mapValues(_.size.toLong).toMap
    val ns = docs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val cb = (0L to 9L).map(b => // .toSeq: Set.map would dedup counts
      b -> ns.keys.toSeq.map(s => cnt.getOrElse((s, b), 0L)).sum).toMap
    val nc = docs.size.toLong
    val want = ns.keys.toSeq.sorted.map { s =>
      var psq = 0L
      (0L to 9L).foreach { b =>
        val p = (cnt.getOrElse((s, b), 0L).toDouble + 1.0) /
          (ns(s).toDouble + 10.0)
        val q = (cb(b).toDouble + 1.0) / (nc.toDouble + 10.0)
        psq += math.floor((p - q) * StrictMath.log(p / q) * 1.0e12).toLong
      }
      (s, ns(s), r4(psq.toDouble / 1.0e12))
    }
    val got = graft.llm.TextOps.psiLength(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == want, s"psi diverged: $got vs $want")
    got.foreach { case (s, _, psi) =>
      assert(psi >= -1e-6, s"$s: negative PSI $psi") }
  }

  test("mutual information == driver fold; mi >= 0; u_coef in [0,1]") {
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val toks = graft.io.Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .flatMap(r => r.getString(1).split(" ").map((r.getString(0), _)))
    val cnt = scala.collection.mutable.Map[(String, String), Long]()
    toks.foreach(k => cnt(k) = cnt.getOrElse(k, 0L) + 1L)
    val corp = cnt.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val ns = cnt.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val nc = corp.values.sum
    var miq = 0L
    cnt.foreach { case ((s, w), c) =>
      val t = (c.toDouble / nc.toDouble) * StrictMath.log(
        (c.toDouble * nc.toDouble) / (ns(s).toDouble * corp(w).toDouble))
      miq += math.floor(t * 1.0e12).toLong
    }
    var hq = 0L
    ns.values.foreach { n =>
      val t = (n.toDouble / nc.toDouble) *
        StrictMath.log(n.toDouble / nc.toDouble) * -1.0
      hq += math.floor(t * 1.0e12).toLong
    }
    val want = (nc, corp.size.toLong, ns.size.toLong,
      r4(miq.toDouble / 1.0e12), r4(hq.toDouble / 1.0e12),
      r4(miq.toDouble / hq.toDouble))
    val got = graft.llm.TextOps.mutualInfo(spark, sf).collect().head
    val gt = (got.getLong(0), got.getLong(1), got.getLong(2),
      got.getDouble(3), got.getDouble(4), got.getDouble(5))
    assert(gt == want, s"mutual info diverged: $gt vs $want")
    assert(gt._4 >= -1e-6, s"negative MI ${gt._4}")
    assert(gt._6 >= -1e-6 && gt._6 <= 1.0 + 1e-6,
      s"u_coef out of [0,1]: ${gt._6}")
  }

  test("theil index == driver fold; zero on equal lengths; >= 0") {
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val docs = graft.io.Tables.documents(spark, sf)
      .select(col("source"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .filter(_._2 > 0L).toSeq
    val want = docs.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (s, rows) =>
        val n = rows.size.toLong
        val sx = rows.map(_._2).sum
        var tq = 0L
        rows.groupBy(_._2).foreach { case (x, xs) =>
          val ratio = x.toDouble * n.toDouble / sx.toDouble
          tq += xs.size.toLong *
            math.floor(ratio * math.log(ratio) * 1.0e12).toLong
        }
        (s, n, r4(tq.toDouble / 1.0e12 / n.toDouble))
    }
    val got = graft.llm.TextOps.theilIndex(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == want, s"theil diverged: ${got.take(3)} vs " +
      s"${want.take(3)}")
    // Theil T >= 0 up to the 1e-12 quantization floor
    got.foreach { case (s, _, t) => assert(t >= -1e-6, s"$s: T=$t") }
  }

  test("pca power: unit-max loadings, oriented, PC1 variance dominates " +
      "every coordinate axis") {
    val rows = graft.llm.VectorOps.pcaPower(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3)))
    assert(rows.length == 64)
    assert(rows.map(_._2.abs).max == 1000000L, "max|v| must be 1e6")
    val fnz = rows.sortBy(_._1).map(_._2).find(_ != 0L)
    assert(fnz.exists(_ > 0L), "orientation: first nonzero positive")
    val lam = rows.head._4
    assert(lam >= 0L, s"scatter matrix is PSD: lam=$lam")
    // driver scatter matrix over the same quantization
    val embs = graft.io.Tables.embeddings(spark, sf)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray.map(x =>
        BigInt(math.floor(x.toDouble * 10000.0).toLong)))
    val n = BigInt(embs.length)
    val d = embs.head.length
    val s = Array.tabulate(d)(i => embs.map(_(i)).sum)
    def sij(i: Int, j: Int): BigInt =
      n * embs.map(e => e(i) * e(j)).sum - s(i) * s(j)
    // Rayleigh along PC1 (exact ints, the query's own units)
    val v = rows.sortBy(_._1).map(t => BigInt(t._2))
    val num = (for (i <- 0 until d; j <- 0 until d)
      yield v(i) * sij(i, j) * v(j)).sum
    val den = v.map(x => x * x).sum
    val rayPc1 = num / (den * n)
    assert(rayPc1 == BigInt(lam), s"emitted lam must equal the exact " +
      s"Rayleigh of the emitted vector: $rayPc1 vs $lam")
    // after 8 rounds PC1 must capture at least as much variance as the
    // single best coordinate axis (the indexer's naive alternative)
    val bestAxis = (0 until d).map(i => sij(i, i) / n).max
    assert(rayPc1 >= bestAxis,
      s"PC1 variance $rayPc1 below best axis $bestAxis")
  }

  test("pca2: near-orthogonal to PC1, eigenvalue below PC1's, PSD") {
    val pc1 = graft.llm.VectorOps.pcaPower(spark, sf).collect()
      .sortBy(_.getLong(0))
    val pc2 = graft.llm.VectorOps.pca2Power(spark, sf).collect()
      .sortBy(_.getLong(0))
    assert(pc2.length == 64)
    val v1 = pc1.map(r => BigInt(r.getLong(1)))
    val v2 = pc2.map(r => BigInt(r.getLong(1)))
    // two-branch normalizer bound: max|v| in {1e6, 1e6+1}
    val mx = v2.map(_.abs).max
    assert(mx >= BigInt(1000000L) && mx <= BigInt(1000001L),
      s"pc2 normalizer bound violated: $mx")
    // near-orthogonality: |cos(v1, v2)| small (quantization-limited)
    val dot = v1.zip(v2).map { case (a, b) => a * b }.sum.abs
    val n1 = math.sqrt(v1.map(x => x * x).sum.toDouble)
    val n2 = math.sqrt(v2.map(x => x * x).sum.toDouble)
    val cos = dot.toDouble / (n1 * n2)
    assert(cos < 0.02, s"PC2 not orthogonal to PC1: |cos| = $cos")
    // spectral ordering: lam2 <= lam1, both PSD-nonnegative
    val (l1, l2) = (pc1.head.getLong(3), pc2.head.getLong(3))
    assert(l2 >= 0L && l1 >= l2,
      s"eigenvalue order violated: lam1=$l1 lam2=$l2")
  }

  test("pca3: near-orthogonal to PC1 and PC2, eigenvalue below PC2's, " +
      "normalizer bound holds") {
    val pc1 = graft.llm.VectorOps.pcaPower(spark, sf).collect()
      .sortBy(_.getLong(0))
    val pc2 = graft.llm.VectorOps.pca2Power(spark, sf).collect()
      .sortBy(_.getLong(0))
    val pc3 = graft.llm.VectorOps.pca3Power(spark, sf).collect()
      .sortBy(_.getLong(0))
    assert(pc3.length == 64)
    val v1 = pc1.map(r => BigInt(r.getLong(1)))
    val v2 = pc2.map(r => BigInt(r.getLong(1)))
    val v3 = pc3.map(r => BigInt(r.getLong(1)))
    val mx = v3.map(_.abs).max
    assert(mx >= BigInt(1000000L) && mx <= BigInt(1000001L),
      s"pc3 normalizer bound violated: $mx")
    def cos(a: Array[BigInt], b: Array[BigInt]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum.abs
      dot.toDouble / (math.sqrt(a.map(x => x * x).sum.toDouble) *
        math.sqrt(b.map(x => x * x).sum.toDouble))
    }
    assert(cos(v1, v3) < 0.02, s"PC3 vs PC1: |cos| = ${cos(v1, v3)}")
    assert(cos(v2, v3) < 0.02, s"PC3 vs PC2: |cos| = ${cos(v2, v3)}")
    val (l2, l3) = (pc2.head.getLong(3), pc3.head.getLong(3))
    assert(l3 >= 0L && l2 >= l3,
      s"eigenvalue order violated: lam2=$l2 lam3=$l3")
  }

  test("pca map: bins in the 8x8 grid, counts conserve the corpus") {
    val rows = graft.llm.VectorOps.pcaProject(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    rows.foreach { case (b1, b2, _) =>
      assert(b1 >= 0L && b1 <= 7L && b2 >= 0L && b2 <= 7L,
        s"bin out of grid: ($b1, $b2)")
    }
    val n = graft.io.Tables.embeddings(spark, sf).count()
    assert(rows.map(_._3).sum == n,
      s"grid must conserve the corpus: ${rows.map(_._3).sum} vs $n")
    // a PCA-aligned grid should spread the corpus across several cells
    assert(rows.length >= 4, s"degenerate map: ${rows.length} cells")
  }

  test("cochran q == driver integers; q >= 0; columns bounded by n") {
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val docs = graft.io.Tables.documents(spark, sf)
      .select(col("n_chars"), col("text")).collect()
      .map { r =>
        val nch = r.getLong(0); val tk = r.getString(1).split(" ").length
        (if (nch >= 300L) 1L else 0L,
         if (tk >= 55) 1L else 0L,
         if (nch >= tk.toLong * 5L) 1L else 0L)
      }
    val n = docs.length.toLong
    val c1 = docs.map(_._1).sum; val c2 = docs.map(_._2).sum
    val c3 = docs.map(_._3).sum
    val t = c1 + c2 + c3
    val sr2 = docs.map(d => { val r = d._1 + d._2 + d._3; r * r }).sum
    val num = BigInt(3) * (BigInt(c1) * c1 + BigInt(c2) * c2 +
      BigInt(c3) * c3) - BigInt(t) * t
    val den = BigInt(3) * t - sr2
    val wantQ = if (den > 0) Some(r4(2.0 * num.toDouble / den.toDouble))
                else None
    val got = graft.llm.TextOps.filterCochranQ(spark, sf).collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2),
      got.getLong(3)) == ((n, c1, c2, c3)),
      s"counts diverged: $got vs ($n,$c1,$c2,$c3)")
    val gotQ = if (got.isNullAt(4)) None else Some(got.getDouble(4))
    assert(gotQ == wantQ, s"q diverged: $gotQ vs $wantQ")
    gotQ.foreach(q => assert(q >= 0.0, s"negative Q $q"))
    Seq(c1, c2, c3).foreach(c => assert(c >= 0L && c <= n))
  }

  test("filter kappa: cells partition the corpus; kappa <= po; " +
      "correlated raters agree above chance") {
    val r = graft.llm.TextOps.filterKappa(spark, sf).collect().head
    val n = graft.io.Tables.documents(spark, sf).count()
    assert(r.getLong(0) + r.getLong(1) + r.getLong(2) +
      r.getLong(3) == n, s"cells must partition the corpus: $r")
    val (po, pe, k) = (r.getDouble(4), r.getDouble(5), r.getDouble(6))
    assert(po >= 0.0 && po <= 1.0 && pe >= 0.0 && pe <= 1.0)
    // the two length gates are strongly correlated: above-chance
    assert(k > 0.0 && k <= 1.0 + 1e-9, s"kappa out of band: $k")
    assert(k <= po + 1e-9, s"kappa cannot exceed raw agreement: $k vs $po")
  }

  test("temperature mix == driver largest-remainder fold; boosts " +
      "antitone in stratum size") {
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val counts = graft.io.Tables.documents(spark, sf)
      .groupBy(col("source")).count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val ndt = counts.map(_._2).sum
    val w = counts.map { case (s, nd) =>
      (s, nd, math.floor(math.sqrt(nd.toDouble) * 1000000.0).toLong)
    }
    val wsum = w.map(_._3).sum
    val base = w.map { case (s, nd, wq) =>
      (s, nd, wq, 2000L * wq / wsum, 2000L * wq % wsum)
    }
    val leftover = 2000L - base.map(_._4).sum
    val ranked = base.sortBy(t => (-t._5, t._1)).zipWithIndex.map {
      case ((s, nd, wq, b, _), i) =>
        val alloc = math.min(b + (if (i < leftover) 1L else 0L), nd)
        (s, nd, wq, alloc,
          r4(alloc.toDouble * ndt.toDouble / (2000.0 * nd.toDouble)))
    }
    val want = ranked.sortBy(_._1)
    val got = graft.llm.TextOps.temperatureMix(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(got == want, s"temperature mix diverged:\n$got\nvs\n$want")
    // α < 1: boost antitone in stratum size (trivially so when this
    // fixture's strata are equal-sized)
    val bySize = got.sortBy(_._2)
    bySize.sliding(2).foreach { p =>
      if (p.length == 2 && p(0)._2 < p(1)._2)
        assert(p(0)._5 >= p(1)._5 - 1e-9,
          s"boost not antitone: ${p.toSeq}")
    }
    // the budget is conserved up to binding stratum caps
    assert(got.map(_._4).sum == math.min(2000L, ndt),
      s"alloc total wrong: ${got.map(_._4).sum}")
  }

  test("entropy mix == driver fold; evenness in [0,1]; __mix__ row " +
      "present") {
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val toks = graft.io.Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .flatMap(r => r.getString(1).split(" ").map((r.getString(0), _)))
    val cnt = scala.collection.mutable.Map[(String, String), Long]()
    toks.foreach(k => cnt(k) = cnt.getOrElse(k, 0L) + 1L)
    val bySrc = cnt.groupBy(_._1._1)
    def entRow(counts: Seq[Long]): (Long, Long, Double, Option[Double]) = {
      val n = counts.sum
      var hq = 0L
      counts.foreach { c =>
        val p = c.toDouble / n.toDouble
        hq += math.floor(p * math.log(p) * -1.0e12).toLong
      }
      val v = counts.length.toLong
      val h = hq.toDouble / 1.0e12
      (n, v, r4(h),
        if (v > 1L) Some(r4(h / math.log(v.toDouble))) else None)
    }
    val srcRows = bySrc.keys.toSeq.sorted.map { s =>
      val (n, v, h, e) = entRow(bySrc(s).values.toSeq)
      (s, n, v, h, e)
    }
    val (nM, kM, hM, eM) =
      entRow(bySrc.keys.toSeq.sorted.map(s => bySrc(s).values.sum))
    val want = (srcRows :+ (("__mix__", nM, kM, hM, eM)))
      .sortBy(_._1)
    val got = graft.llm.TextOps.entropyMix(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toSeq
    assert(got == want, s"entropy mix diverged: ${got.take(3)} vs " +
      s"${want.take(3)}")
    got.foreach { case (s, _, _, h, e) =>
      assert(h >= 0.0, s"$s: negative entropy")
      e.foreach(x => assert(x >= 0.0 && x <= 1.0, s"$s: evenness $x"))
    }
  }

  test("kendall tau-b between sources == brute-force pair counting") {
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val docs = graft.io.Tables.documents(spark, sf)
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val bySrc = docs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val srcs = bySrc.keys.toSeq.sorted
    val want = (for { s1 <- srcs; s2 <- srcs if s1 < s2 } yield {
      val (xs, ys) = (bySrc(s1), bySrc(s2))
      val (n1, n2) = (xs.length.toLong, ys.length.toLong)
      var nc = 0L; var nd = 0L; var crossT = 0L
      for (a <- xs; b <- ys) {
        if (b > a) nc += 1 else if (b < a) nd += 1 else crossT += 1
      }
      def tp(v: Seq[Long]): Long = v.groupBy(identity).valuesIterator
        .map { g => val c = g.length.toLong; c * (c - 1) }.sum
      val nyt2 = (n1 + n2) * (n1 + n2 - 1) -
        (tp(xs.toSeq) + tp(ys.toSeq) + 2L * crossT)
      val tau = if (n1 > 0 && n2 > 0 && nyt2 > 0)
        Some(r4((nc.toDouble - nd.toDouble) /
          math.sqrt(n1.toDouble * n2.toDouble * (nyt2.toDouble / 2.0))))
      else None
      (s1, s2, n1, n2, nc, nd, tau)
    }).toSeq
    val got = graft.llm.TextOps.kendallSources(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5),
        if (r.isNullAt(6)) None else Some(r.getDouble(6)))).toSeq
    assert(got == want, s"kendall-sources diverged: ${got.take(2)} vs " +
      s"${want.take(2)}")
    // a tie-complete tau-b is bounded and same-distribution sources
    // should not show strong ordinal separation on this fixture
    got.foreach { case (s1, s2, _, _, _, _, tau) =>
      tau.foreach(x => assert(math.abs(x) <= 1.0, s"($s1,$s2): $x"))
    }
  }

  test("self-repetition: suffix-automaton LRS equals binary-search + " +
      "substring-set reference; planted repeats score exactly") {
    // planted shapes with hand-checkable LRS (overlap allowed)
    assert(graft.llm.TextOps.lrsLen("") == 0)
    assert(graft.llm.TextOps.lrsLen("a") == 0)
    assert(graft.llm.TextOps.lrsLen("ab") == 0)
    assert(graft.llm.TextOps.lrsLen("aa") == 1)
    assert(graft.llm.TextOps.lrsLen("aaaa") == 3) // overlapping "aaa"
    assert(graft.llm.TextOps.lrsLen("abracadabra") == 4) // "abra"
    assert(graft.llm.TextOps.lrsLen("abcdefg") == 0)
    assert(graft.llm.TextOps.lrsLen("xyzxyzxyz") == 6) // "xyzxyz"
    // independent reference: monotone predicate + binary search over
    // the candidate length, substring identity via real string sets
    def lrsRef(s: String): Int = {
      def has(len: Int): Boolean = {
        if (len == 0) return true
        val seen = scala.collection.mutable.HashSet.empty[String]
        var i = 0
        while (i + len <= s.length) {
          if (!seen.add(s.substring(i, i + len))) return true
          i += 1
        }
        false
      }
      var lo = 0; var hi = math.max(s.length - 1, 0)
      while (lo < hi) {
        val mid = (lo + hi + 1) / 2
        if (has(mid)) lo = mid else hi = mid - 1
      }
      lo
    }
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val docs = graft.io.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val want = docs.sortBy(_._1).map { case (id, text) =>
      val n = text.length.toLong
      val lrs = lrsRef(text).toLong
      (id, n, lrs, if (n > 0) r4(lrs.toDouble / n.toDouble) else 0.0,
        lrs * 5L >= n && n > 0L)
    }.toSeq
    val got = graft.llm.TextOps.selfRepetition(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).toSeq
    assert(got == want,
      s"self-repetition diverged: ${got.take(2)} vs ${want.take(2)}")
    // non-vacuity: natural text repeats SOMETHING somewhere
    assert(got.exists(_._3 > 0L), "no doc has any repeated substring")
  }

  test("repeated token n-gram equals a token-slice binary-search " +
      "reference; word grain differs from char grain somewhere") {
    def lrgRef(ts: Array[String]): Int = {
      def has(len: Int): Boolean = {
        if (len == 0) return true
        val seen = scala.collection.mutable.HashSet.empty[Seq[String]]
        var i = 0
        while (i + len <= ts.length) {
          if (!seen.add(ts.slice(i, i + len).toSeq)) return true
          i += 1
        }
        false
      }
      var lo = 0; var hi = math.max(ts.length - 1, 0)
      while (lo < hi) {
        val mid = (lo + hi + 1) / 2
        if (has(mid)) lo = mid else hi = mid - 1
      }
      lo
    }
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val docs = graft.io.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val want = docs.sortBy(_._1).map { case (id, text) =>
      val ts = text.split(" ")
      val n = ts.length.toLong
      val lrg = lrgRef(ts).toLong
      (id, n, lrg, if (n > 0) r4(lrg.toDouble / n.toDouble) else 0.0,
        lrg * 5L >= n && n > 0L)
    }.toSeq
    val got = graft.llm.TextOps.repeatedNgram(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).toSeq
    assert(got == want,
      s"repeated n-gram diverged: ${got.take(2)} vs ${want.take(2)}")
    assert(got.exists(_._3 > 0L), "no doc repeats any token n-gram")
    // the grains measure different things: token-level LRS (in
    // tokens) must differ from char-level LRS (in chars) somewhere
    val chars = graft.llm.TextOps.selfRepetition(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got.exists(g => chars(g._1) != g._3),
      "token and char LRS identical everywhere: grains vacuous")
  }

  test("density stability equals a driver ladder walk; planted clump " +
      "and isolated-core hub both score max stability") {
    import org.apache.spark.sql.functions._
    val sp = spark
    import sp.implicits._
    def v(thetaDeg: Double, d0: Int): Array[Float] = {
      val t = math.toRadians(thetaDeg)
      val a = new Array[Float](64)
      a(d0) = math.cos(t).toFloat; a(d0 + 1) = math.sin(t).toFloat
      a
    }
    // the density-dedup fixture: clump + satellite + noise in the
    // (0,1)-plane, hub-and-spoke in the orthogonal (2,3)-plane
    val rows =
      (0 until 8).map(i => (100L + i, v(i * 2.0, 0), 0)) ++
        Seq((200L, v(48.0, 0), 0)) ++
        Seq((300L, v(120.0, 0), 0), (301L, v(210.0, 0), 0),
          (302L, v(300.0, 0), 0)) ++
        Seq((400L, v(0.0, 2), 0), (401L, v(-30.0, 2), 0),
          (402L, v(-15.0, 2), 0), (403L, v(15.0, 2), 0),
          (404L, v(30.0, 2), 0))
    val e0 = rows.toDF("vec_id", "embedding", "label")
    val got = graft.llm.VectorOps.densityStabilityFrom(sp, e0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSeq
    // driver walk over the SAME collected loose pair list at the same
    // three cosine cuts (minPts = 4, isolated cores self-labeled)
    val loosePairs = graft.llm.VectorOps.lshVerifiedPairs(sp, e0, 0.75)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    def labelsAt(minCos: Double): Map[Long, Long] = {
      val es = loosePairs.filter(_._3 >= minCos).map(p => (p._1, p._2))
      val deg = scala.collection.mutable.LongMap.empty[Long]
      es.foreach { case (a, b) =>
        deg(a) = deg.getOrElse(a, 0L) + 1; deg(b) = deg.getOrElse(b, 0L) + 1
      }
      val core = deg.filter(_._2 >= 4L).keySet.toSet
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        parent(x) = r; r
      }
      es.filter(p => core(p._1) && core(p._2)).foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      core.map(id => id -> find(id)).toMap
    }
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val (ll, lb, lt) = (labelsAt(0.75), labelsAt(0.80), labelsAt(0.85))
    val want = lb.groupBy(_._2).toSeq.map { case (lab, ms) =>
      val ids = ms.keySet
      val surv = ids.count(lt.contains)
      val frag = ids.flatMap(lt.get).size.toLong
      val myLoose = ids.flatMap(ll.get)
      val peers = lb.values.toSet.count { other =>
        lb.collect { case (id, l) if l == other => ll.get(id) }
          .flatten.exists(myLoose.contains)
      } - 1
      (lab, ids.size.toLong, surv.toLong, frag, peers.toLong,
        r4((ids.size.toDouble + surv.toDouble) / (2.0 * ids.size)))
    }.sortBy(_._1)
    assert(got == want, s"density stability diverged: $got vs $want")
    // the planted structure: clump cluster (label 100) and the
    // isolated-core hub (label 400) both fully survive the tightening
    val clump = got.find(_._1 == 100L)
    assert(clump.exists(c => c._2 == 8L && c._6 == 1.0 && c._4 == 1L),
      s"clump stability wrong: $got")
    assert(got.exists(c => c._1 == 400L && c._6 == 1.0),
      s"hub cluster missing or unstable: $got")
  }

  test("spearman between sources equals Pearson on pooled midranks " +
      "(independent derivation path); rho bounded") {
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val docs = graft.io.Tables.documents(spark, sf)
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val bySrc = docs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val sources = bySrc.keys.toSeq.sorted
    val want = (for {
      i <- sources.indices; j <- (i + 1) until sources.length
    } yield {
      val (s1, s2) = (sources(i), sources(j))
      val ys1 = bySrc(s1); val ys2 = bySrc(s2)
      val n1 = ys1.length; val n2 = ys2.length; val n = n1 + n2
      // pooled competition midranks of the lengths
      val sorted = (ys1 ++ ys2).sorted
      val rankOf = scala.collection.mutable.Map.empty[Long, Double]
      var k = 0
      while (k < n) {
        var e = k
        while (e + 1 < n && sorted(e + 1) == sorted(k)) e += 1
        rankOf(sorted(k)) = (k + 1 + e + 1) / 2.0
        k = e + 1
      }
      // Pearson between the x-midranks (binary x: two rank values)
      // and the y-midranks — the DEFINITION of tie-corrected Spearman
      val rx0 = (n1 + 1) / 2.0; val rx1 = n1 + (n2 + 1) / 2.0
      val pts = ys1.map(y => (rx0, rankOf(y))) ++
        ys2.map(y => (rx1, rankOf(y)))
      val mx = pts.map(_._1).sum / n; val my = pts.map(_._2).sum / n
      val cov = pts.map { case (a, b) => (a - mx) * (b - my) }.sum
      val vx = pts.map { case (a, _) => (a - mx) * (a - mx) }.sum
      val vy = pts.map { case (_, b) => (b - my) * (b - my) }.sum
      val rho = if (vx > 0 && vy > 0) Some(cov / math.sqrt(vx * vy))
      else None
      (s1, s2, n1.toLong, n2.toLong, rho)
    }).toSeq
    val got = graft.llm.TextOps.spearmanSources(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toSeq
    assert(got.map(g => (g._1, g._2, g._3, g._4)) ==
      want.map(w => (w._1, w._2, w._3, w._4)),
      s"spearman keys diverged: ${got.take(2)} vs ${want.take(2)}")
    // the closed form must agree with the definition to rounding slack
    // (the driver Pearson takes a different float path; 6e-5 covers
    // the r4 rounding plus accumulation ulps)
    got.zip(want).foreach { case (g, w) =>
      (g._5, w._5) match {
        case (Some(a), Some(b)) =>
          assert(math.abs(a - b) <= 6e-5, s"(${g._1},${g._2}): $a vs $b")
          assert(math.abs(a) <= 1.0, s"(${g._1},${g._2}): |rho| > 1")
        case (a, b) => assert(a == b, s"(${g._1},${g._2}): $a vs $b")
      }
    }
    // non-vacuity: ranks must actually separate somewhere
    assert(got.exists(g => g._5.exists(v => math.abs(v) > 0.0)),
      "every pair rho == 0: vacuous fixture")
  }

  test("CvM between sources equals a literal pooled-ECDF driver sum; " +
      "same-distribution fixture stays under the 5% critical value " +
      "somewhere") {
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val docs = graft.io.Tables.documents(spark, sf)
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val bySrc = docs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val sources = bySrc.keys.toSeq.sorted
    val want = (for {
      i <- sources.indices; j <- (i + 1) until sources.length
    } yield {
      val (s1, s2) = (sources(i), sources(j))
      val y1 = bySrc(s1).sorted; val y2 = bySrc(s2).sorted
      val n1 = y1.length; val n2 = y2.length; val nn = n1 + n2
      // literal definition: sum (F1 - F2)^2 over every pooled point
      val t = (y1 ++ y2).map { x =>
        val f1 = y1.count(_ <= x).toDouble / n1
        val f2 = y2.count(_ <= x).toDouble / n2
        (f1 - f2) * (f1 - f2)
      }.sum * n1.toDouble * n2.toDouble / (nn.toDouble * nn.toDouble)
      (s1, s2, n1.toLong, n2.toLong, t)
    }).toSeq
    val got = graft.llm.TextOps.cvmSources(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getBoolean(5))).toSeq
    assert(got.map(g => (g._1, g._2, g._3, g._4)) ==
      want.map(w => (w._1, w._2, w._3, w._4)))
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g._5 - w._5) <= 6e-5,
        s"(${g._1},${g._2}): ${g._5} vs ${w._5}")
      assert(g._6 == (r4(g._5) > 0.461) && g._5 >= 0.0,
        s"(${g._1},${g._2}): flag/value inconsistent")
    }
    // same-generator sources: at least one pair must accept H0 (a
    // fixture where EVERY pair rejects would be measuring the grid,
    // not the statistic)
    assert(got.exists(!_._6), "every pair rejects: fixture degenerate")
  }

  test("AD between sources equals a raw-value block-walk driver " +
      "reference; tail weights positive and bounded") {
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val docs = graft.io.Tables.documents(spark, sf)
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val bySrc = docs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val sources = bySrc.keys.toSeq.sorted
    val want = (for {
      i <- sources.indices; j <- (i + 1) until sources.length
    } yield {
      val (s1, s2) = (sources(i), sources(j))
      val y1 = bySrc(s1); val y2 = bySrc(s2)
      val n1 = y1.length; val n2 = y2.length; val nn = n1 + n2
      // walk the distinct pooled values (tie blocks) in order,
      // evaluating M and j at block ends — the published discrete form
      val values = (y1 ++ y2).distinct.sorted
      var qsum = BigInt(0)
      values.foreach { v =>
        val m = y1.count(_ <= v).toLong
        val jj = m + y2.count(_ <= v).toLong
        val t = y1.count(_ == v).toLong + y2.count(_ == v).toLong
        if (jj < nn && t > 0) {
          val dvb = BigInt(nn) * m - BigInt(jj) * n1
          val term = (BigInt(t) * dvb * dvb).toDouble /
            (jj.toDouble * (nn - jj).toDouble)
          qsum += BigInt(math.floor(term * 1073741824.0).toLong)
        }
      }
      (s1, s2, n1.toLong, n2.toLong,
        Some(r4(qsum.toDouble / 1073741824.0 / nn.toDouble)))
    }).toSeq
    val got = graft.llm.TextOps.adSources(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toSeq
    assert(got == want,
      s"ad diverged: ${got.take(2)} vs ${want.take(2)}")
    // theory band: A2 >= 0 always; same-generator sources should not
    // explode (the statistic is O(1) under H0, O(N) under separation)
    got.foreach { case (s1, s2, _, _, a2) =>
      a2.foreach { x =>
        assert(x >= 0.0 && x < 50.0, s"($s1,$s2): a2 $x out of band")
      }
    }
  }

  test("k-sample AD equals an independent quantized driver walk; " +
      "iid fixture sits in the null theory band") {
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val docs = graft.io.Tables.documents(spark, sf)
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val bySrc = docs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val k = bySrc.size.toLong
    val nn = docs.length.toLong
    val pooled = docs.map(_._2)
    val values = pooled.distinct.sorted
    val lAt = pooled.groupBy(identity).view.mapValues(_.length.toLong)
      .toMap
    // cumulative pooled counts at each block end
    val bAt = {
      var acc = 0L
      values.map { v => acc += lAt(v); v -> acc }.toMap
    }
    var qsum = BigInt(0)
    bySrc.values.foreach { xs =>
      val ni = xs.length.toLong
      val sorted = xs.sorted
      values.foreach { v =>
        val l = lAt(v); val bj = bAt(v)
        val m = sorted.count(_ <= v).toLong
        if (bj < nn && l > 0 && ni > 0) {
          val dv = BigInt(nn) * m - BigInt(bj) * ni
          val term = (BigInt(l) * dv * dv).toDouble /
            (ni.toDouble * bj.toDouble * (nn - bj).toDouble)
          qsum += BigInt(math.floor(term * 1073741824.0).toLong)
        }
      }
    }
    // the same 2^40 integer quantization the engine and oracle use
    val Q40 = 1099511627776L
    val hq = bySrc.values.map(xs => Q40 / xs.length).sum
    var acc = 0L
    val hqr = (1L until nn).map { r => acc += Q40 / r; acc }.toArray
    val hqTot = acc
    var gq = 0L
    (1L to nn - 2).foreach { r =>
      gq += (hqTot - hqr((r - 1).toInt)) / (nn - r)
    }
    val kd = k.toDouble; val ndd = nn.toDouble
    val hh = hq.toDouble / Q40.toDouble
    val hsm = hqTot.toDouble / Q40.toDouble
    val gg = gq.toDouble / Q40.toDouble
    val a2 = qsum.toDouble / 1073741824.0 / ndd
    val ac = (4.0 * gg - 6.0) * (kd - 1.0) + (10.0 - 6.0 * gg) * hh
    val bc = (2.0 * gg - 4.0) * kd * kd + 8.0 * hsm * kd +
      (2.0 * gg - 14.0 * hsm - 4.0) * hh - 8.0 * hsm + 4.0 * gg - 6.0
    val cc = (6.0 * hsm + 2.0 * gg - 2.0) * kd * kd +
      (4.0 * hsm - 4.0 * gg + 6.0) * kd + (2.0 * hsm - 6.0) * hh +
      4.0 * hsm
    val dc = (2.0 * hsm + 6.0) * kd * kd - 4.0 * hsm * kd
    val sig = math.sqrt(
      (ac * ndd * ndd * ndd + bc * ndd * ndd + cc * ndd + dc) /
        ((ndd - 1.0) * (ndd - 2.0) * (ndd - 3.0)))
    val t = (a2 - (kd - 1.0)) / sig
    val got = graft.llm.TextOps.adKSample(spark, sf).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(0) == k && r.getLong(1) == nn)
    assert(r.getDouble(2) == r4(a2),
      s"a2 ${r.getDouble(2)} vs ${r4(a2)}")
    assert(r.getDouble(3) == r4(sig),
      s"sigma ${r.getDouble(3)} vs ${r4(sig)}")
    assert(r.getDouble(4) == r4(t),
      s"t ${r.getDouble(4)} vs ${r4(t)}")
    // iid theory: E[A2kN] = k-1 under H0; same-generator sources must
    // sit near it and the standardized T inside the null band (a
    // fixture outside would be measuring drift, not the statistic)
    assert(r.getDouble(2) > 0.5 * (k - 1) && r.getDouble(2) < 2.0 * (k - 1),
      s"a2 ${r.getDouble(2)} far from E=k-1=${k - 1}")
    assert(math.abs(r.getDouble(4)) < 4.0, s"t ${r.getDouble(4)}")
    assert(r.getDouble(3) > 0.0)
  }

  test("kendall tau-b between embedding norms by label == brute-force " +
      "pair counting over exact quantized norms") {
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val vs = graft.io.Tables.embeddings(spark, sf)
      .select("vec_id", "label", "embedding").collect()
      .map { r =>
        val arr = r.getSeq[Float](2)
        val n2 = arr.map { x =>
          val q = math.floor(x.toDouble * 1000000.0).toLong; q * q
        }.sum
        (r.getInt(1).toLong, n2)
      }
    val byLab = vs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val labs = byLab.keys.toSeq.sorted
    val want = (for { l1 <- labs; l2 <- labs if l1 < l2 } yield {
      val (xs, ys) = (byLab(l1), byLab(l2))
      val (n1, n2) = (xs.length.toLong, ys.length.toLong)
      var nc = 0L; var nd = 0L; var crossT = 0L
      for (a <- xs; b <- ys) {
        if (b > a) nc += 1 else if (b < a) nd += 1 else crossT += 1
      }
      def tp(v: Seq[Long]): Long = v.groupBy(identity).valuesIterator
        .map { g => val c = g.length.toLong; c * (c - 1) }.sum
      val nyt2 = (n1 + n2) * (n1 + n2 - 1) -
        (tp(xs.toSeq) + tp(ys.toSeq) + 2L * crossT)
      val tau = if (n1 > 0 && n2 > 0 && nyt2 > 0)
        Some(r4((nc.toDouble - nd.toDouble) /
          math.sqrt(n1.toDouble * n2.toDouble * (nyt2.toDouble / 2.0))))
      else None
      (l1, l2, n1, n2, nc, nd, tau)
    }).toSeq
    val got = graft.llm.VectorOps.kendallNorms(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5),
        if (r.isNullAt(6)) None else Some(r.getDouble(6)))).toSeq
    assert(got == want, s"kendall-norms diverged: ${got.take(2)} vs " +
      s"${want.take(2)}")
    got.foreach { case (l1, l2, _, _, nc, nd, tau) =>
      tau.foreach(x => assert(math.abs(x) <= 1.0, s"($l1,$l2): $x"))
      // norms are near-unique: the walk must actually count pairs
      assert(nc + nd > 0L, s"($l1,$l2): degenerate (no ordered pairs)")
    }
  }

  test("MTLD == independent driver factor walk; MATTR formula cross-check") {
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val docs = graft.io.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def dirWalk(ws: Array[String]): (Long, Option[Double]) = {
      var factors = 0L
      var seen = Set.empty[String]; var tok = 0L
      ws.foreach { w =>
        seen += w; tok += 1
        if (seen.size * 100L < 72L * tok) {
          factors += 1; seen = Set.empty; tok = 0L
        }
      }
      val partial = if (tok > 0L)
        (1.0 - seen.size.toDouble / tok.toDouble) / 0.28
      else 0.0
      val denom = factors.toDouble + partial
      (factors,
        if (denom > 0.0) Some(r4(ws.length.toDouble / denom)) else None)
    }
    val want = docs.sortBy(_._1).map { case (id, text) =>
      val ws = text.split(" ")
      val (ff, mf) = dirWalk(ws)
      val (fb, mb) = dirWalk(ws.reverse)
      val bi = (mf, mb) match {
        case (Some(a), Some(b)) => Some(r4((a + b) / 2.0))
        case _ => None
      }
      (id, ws.length.toLong, ff, fb, mf, mb, bi)
    }.toSeq
    def optD(r: org.apache.spark.sql.Row, i: Int) =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    val got = graft.llm.TextOps.mtld(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        optD(r, 4), optD(r, 5), optD(r, 6))).toSeq
    assert(got == want, s"mtld diverged: ${got.take(2)} vs ${want.take(2)}")
    // bidirectional non-vacuity: the two directions must actually
    // differ somewhere on this fixture (else the mean tests nothing)
    assert(got.exists(g => g._5 != g._6),
      "mtld fwd == bwd on every doc: bidirectional walk vacuous")
    // MATTR: the clamp-formula result equals a literal sliding-window
    // mean of per-window distinct counts (brute force, driver side)
    val wantM = docs.sortBy(_._1).map { case (id, text) =>
      val ws = text.split(" ")
      val n = ws.length
      val m = if (n >= 20) {
        val tot = (0 to n - 20).map(s =>
          ws.slice(s, s + 20).distinct.length.toLong).sum
        r4(tot.toDouble / (20.0 * (n - 19).toDouble))
      } else r4(ws.distinct.length.toDouble / n.toDouble)
      (id, m)
    }.toSeq
    val gotM = graft.llm.TextOps.mattr(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(3))).toSeq
    assert(gotM == wantM,
      s"mattr diverged: ${gotM.take(2)} vs ${wantM.take(2)}")
    // factor walks must actually close factors on this fixture (the
    // vacuous-fixture rule: count the nontrivial branch)
    assert(got.map(_._3).sum > 0L, "no MTLD factor ever closed")
  }

  test("density dedup: cluster resolution equals a driver walk; " +
      "planted clump, border, and noise classify as HDBSCAN would") {
    import org.apache.spark.sql.functions._
    val sp = spark
    import sp.implicits._
    // fixture on a 2-D circle inside the 64-d space: cos(v(t1), v(t2))
    // = cos(t1 - t2), so geometry is exact by construction
    def v(thetaDeg: Double): Array[Float] = {
      val t = math.toRadians(thetaDeg)
      val a = new Array[Float](64)
      a(0) = math.cos(t).toFloat; a(1) = math.sin(t).toFloat
      a
    }
    // tight clump (8 cores: pairwise <= 14 deg, cos >= 0.970); an arc
    // satellite at 48 deg — within the eps=0.8 threshold (36.87 deg)
    // of only the clump's top two members (34/36 deg), so degree 2 <
    // minPts -> border if its edges survive the LSH; far noise
    // hub-and-spoke in the ORTHOGONAL (2,3)-plane (zero cosine to every
    // (0,1)-plane vector): hub at 0 deg with spokes at +-15/+-30 — hub
    // degree 4 = minPts -> core, each spoke degree <= 3 -> non-core, so
    // the hub is an ISOLATED core (no core-core edge) and its cluster
    // only survives via the r15 ADVICE fix (isolated cores self-label)
    def w(thetaDeg: Double): Array[Float] = {
      val t = math.toRadians(thetaDeg)
      val a = new Array[Float](64)
      a(2) = math.cos(t).toFloat; a(3) = math.sin(t).toFloat
      a
    }
    val rows =
      (0 until 8).map(i => (100L + i, v(i * 2.0), 0)) ++
        Seq((200L, v(48.0), 0)) ++
        Seq((300L, v(120.0), 0), (301L, v(210.0), 0), (302L, v(300.0), 0)) ++
        Seq((400L, w(0.0), 0), (401L, w(-30.0), 0), (402L, w(-15.0), 0),
          (403L, w(15.0), 0), (404L, w(30.0), 0))
    val e0 = rows.toDF("vec_id", "embedding", "label")
    val got = graft.llm.VectorOps.densityDedupFrom(sp, e0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    // driver reference over the SAME verified candidate graph (the
    // LSH recall half has its own s-curve spec; this one proves the
    // core/border/components resolution exactly)
    val pairs = graft.llm.VectorOps.lshVerifiedPairs(sp, e0, 0.80)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val deg = scala.collection.mutable.LongMap.empty[Long]
    pairs.foreach { case (a, b) =>
      deg(a) = deg.getOrElse(a, 0L) + 1; deg(b) = deg.getOrElse(b, 0L) + 1
    }
    val core = deg.filter(_._2 >= 4L).keySet.toSet
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      parent(x) = r; r
    }
    pairs.filter(p => core(p._1) && core(p._2)).foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val label = core.map(id => id -> find(id)).toMap
    val borderLabel = pairs.flatMap { case (a, b) =>
      Seq((a, b), (b, a)).collect {
        case (x, nb) if !core(x) && core(nb) => (x, label(nb))
      }
    }.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val want = (label.toSeq.map { case (id, l) => (id, l, true) } ++
      borderLabel.toSeq.map { case (id, l) => (id, l, false) })
      .groupBy(_._2).toSeq.map { case (l, ms) =>
        (l, ms.count(_._3).toLong, ms.count(!_._3).toLong,
          ms.length.toLong, ms.length.toLong - 1L)
      }.sortBy(_._1)
    assert(got == want, s"density dedup diverged: $got vs $want")
    // the planted structure classified as HDBSCAN would: one cluster
    // holding all 8 clump members as cores, satellite not a core,
    // noise nowhere
    val clumpCluster = got.filter(_._1 == 100L)
    assert(clumpCluster.nonEmpty && clumpCluster.head._2 == 8L,
      s"clump did not resolve to an 8-core cluster: $got")
    assert(!core(200L), "arc satellite must not be a core point")
    Seq(300L, 301L, 302L).foreach { id =>
      assert(!label.contains(id) && !borderLabel.contains(id),
        s"noise vector $id landed in a cluster")
    }
    // hub-and-spoke non-vacuity: the hub IS a core, has NO core-core
    // edge (so it exercises the isolated-core path), and its cluster
    // survives with 1 core + 4 border spokes
    assert(core(400L), "hub must be a core point")
    assert(pairs.filter(p => core(p._1) && core(p._2))
      .forall(p => p._1 != 400L && p._2 != 400L),
      "hub must have no core-core edge (isolated-core shape)")
    val hub = got.filter(_._1 == 400L)
    assert(hub.nonEmpty && hub.head._2 == 1L && hub.head._3 == 4L,
      s"isolated-core hub cluster wrong: $got")
  }
}
