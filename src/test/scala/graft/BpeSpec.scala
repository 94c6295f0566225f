package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BpeSpec extends AnyFunSuite {
  import graft.llm.BpeOps
  private def spark = TestSpark.spark
  private def sf = TestSpark.sf

  test("bpe training learns 10 deterministic merges with positive counts") {
    val m1 = BpeOps.bpeTrain(spark, sf).collect()
    // bypass the train-once memo: determinism must hold for a real re-run
    val m2 = BpeOps.trainMergesUncached(spark, sf)
      .zipWithIndex.map { case (m, i) => (i + 1L, m.a, m.b, m.total) }
    assert(m1.length == 10)
    assert(m1.map(_.getLong(0)).toSeq == (1L to 10L))
    m1.foreach { r =>
      assert(r.getString(1).nonEmpty && r.getString(2).nonEmpty)
      assert(r.getLong(3) > 0)
    }
    // merged tokens stay in the wrapped alphabet: no delimiter can ever
    // appear inside a symbol
    m1.foreach { r =>
      assert((r.getString(1) + r.getString(2)).forall(c =>
        (c >= 'a' && c <= 'z') || c == '_'))
    }
    assert(m1.map(r => (r.getLong(0), r.getString(1), r.getString(2),
      r.getLong(3))).toSeq == m2.toSeq,
      "training must be deterministic run-to-run")
  }

  test("production rank-replay tokenizer == replace-fold at the oracle model") {
    // every DISTINCT corpus word, both mechanisms, same trained model:
    // the word-level proof that q_llm_bpe_encode_prod may share
    // q_llm_bpe_encode's oracle text
    val merges = BpeOps.trainMergesUncached(spark, sf)
    val pairs = merges.map(m => (m.a, m.b)).toArray
    val rank = new java.util.HashMap[String, Integer]()
    pairs.zipWithIndex.foreach { case ((a, b), i) =>
      rank.put(a + " " + b, Integer.valueOf(i + 1)) }
    val words = graft.io.Tables.documents(spark, sf)
      .select(explode(expr(
        "regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      .distinct().collect().map(_.getString(0))
    assert(words.nonEmpty)
    words.foreach { w =>
      assert(BpeOps.tokenizeWord(w, pairs, rank).toSeq ==
        BpeOps.foldTokenizeWord(w, pairs).toSeq, s"word '$w' diverged")
    }
    // and end-to-end through Spark: the prod encode equals the fold
    // encode row-for-row
    val a = BpeOps.bpeEncode(spark, sf).collect().map(_.toSeq).toSeq
    val b = BpeOps.bpeEncodeProd(spark, sf).collect().map(_.toSeq).toSeq
    assert(a == b, "prod encode must equal fold encode")
  }

  test("production tokenizer holds at a 1024-merge vocabulary") {
    // a synthetic dict large enough to learn 1024 merges — the scale
    // where the Catalyst replace-fold's expression tree is infeasible
    // but the JVM fold mirror is still a fine reference
    def lcg(s: Long): Long = s * 6364136223846793005L + 1442695040888963407L
    var seed = 0x5eedL
    val words = (0 until 3000).map { _ =>
      seed = lcg(seed)
      val len = 4 + math.floorMod(seed >>> 16, 9L).toInt
      val sb = new StringBuilder
      (0 until len).foreach { _ =>
        seed = lcg(seed)
        sb += ('a' + math.floorMod(seed >>> 16, 26L).toInt).toChar
      }
      sb.toString
    }.distinct
    val dict = words.zipWithIndex
      .map { case (w, i) => (w, (i % 7 + 1).toLong) }.toArray
    val merges = BpeOps.trainFromDict(dict, 1024)
    assert(merges.length == 1024,
      s"dict must support 1024 merges, got ${merges.length}")
    val pairs = merges.map(m => (m.a, m.b)).toArray
    val rank = new java.util.HashMap[String, Integer]()
    pairs.zipWithIndex.foreach { case ((a, b), i) =>
      rank.put(a + " " + b, Integer.valueOf(i + 1)) }
    words.foreach { w =>
      val t = BpeOps.tokenizeWord(w, pairs, rank)
      assert(t.toSeq == BpeOps.foldTokenizeWord(w, pairs).toSeq,
        s"word '$w' diverged at 1024 merges")
      // losslessness: tokens re-concatenate to word + end marker
      assert(t.mkString("") == w + "_")
    }
    // and through the ACTUAL Spark operator: the production word map
    // applies the same 1024-merge model over the real corpus words via
    // mapPartitions — every rendered subword string must equal the JVM
    // fold mirror (the regime where the Catalyst replace-fold cannot
    // even be constructed)
    val sparkSide = BpeOps.wordSubCountsProd(spark, sf, merges)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(sparkSide.nonEmpty)
    sparkSide.foreach { case (w, nSub, wtok) =>
      val ref = BpeOps.foldTokenizeWord(w, pairs)
      assert(wtok == ref.mkString(" ") && nSub == ref.length.toLong,
        s"Spark prod map diverged for corpus word '$w' at 1024 merges")
    }
  }

  test("property: rank-replay == fold on random dicts and vocab sizes") {
    // 200 random corpora: tiny alphabets force heavy merge interaction
    // (recreated pair text, overlapping runs) — the regime where a
    // wrong rank-replay guard would diverge from the fold
    import org.scalacheck.{Gen, Test => SCTest}
    import org.scalacheck.Prop.forAll
    val wordGen = for {
      len <- Gen.chooseNum(1, 10)
      cs <- Gen.listOfN(len, Gen.chooseNum(0, 3).map(i => ('a' + i).toChar))
    } yield cs.mkString
    val dictGen = for {
      words <- Gen.nonEmptyListOf(wordGen)
      nMerges <- Gen.chooseNum(1, 40)
    } yield (words.distinct, nMerges)
    val prop = forAll(dictGen) { case (words, nMerges) =>
      val dict = words.zipWithIndex
        .map { case (w, i) => (w, (i % 5 + 1).toLong) }.toArray
      val merges = BpeOps.trainFromDict(dict, nMerges)
      val pairs = merges.map(m => (m.a, m.b)).toArray
      val rank = new java.util.HashMap[String, Integer]()
      pairs.zipWithIndex.foreach { case ((a, b), i) =>
        rank.put(a + " " + b, Integer.valueOf(i + 1)) }
      words.forall { w =>
        val t = BpeOps.tokenizeWord(w, pairs, rank)
        t.toSeq == BpeOps.foldTokenizeWord(w, pairs).toSeq &&
          t.mkString("") == w + "_"
      }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("subword counts compress below character counts and stay >= 1") {
    val rows = BpeOps.bpeTokenCount(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nWords = r.getLong(1)
      val bpe = r.getLong(2)
      // every word is >= 1 subword, and 10 merges must compress at least
      // one pair somewhere vs the chars+marker ceiling
      assert(bpe >= nWords, s"lang ${r.getString(0)}: $bpe < $nWords")
      assert(r.getDouble(3) >= 1.0)
    }
  }

  test("bpe encoding is lossless: subwords re-concatenate to the words") {
    val enc = BpeOps.bpeEncode(spark, sf)
      .select(col("doc_id"), col("toks")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val docs = graft.io.Tables.documents(spark, sf)
      .select(col("doc_id"),
        expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("ws"))
      .collect()
    assert(enc.nonEmpty)
    docs.foreach { r =>
      val ws = r.getSeq[String](1)
      if (ws.nonEmpty) {
        // stripping subword boundaries must recover word+'_' per word,
        // in document order — merges can regroup, never alter, text
        val expect = ws.map(_ + "_").mkString("")
        val got = enc(r.getLong(0)).replace(" ", "")
        assert(got == expect, s"doc ${r.getLong(0)}: $got != $expect")
      }
    }
  }

  test("bpe chunks tile the subword sequence with the declared overlap") {
    val rows = BpeOps.bpeChunk(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (doc, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.head.getLong(1) == 0L, s"doc $doc chunks start at 0")
      assert(sorted.forall(_.getLong(2) <= 64L))
      // chunk idx starts every 48 subwords and carries min(64, remaining)
      // tokens — recover the sequence length from the last chunk and
      // check the exact tiling for every chunk
      val total = 48L * sorted.last.getLong(1) + sorted.last.getLong(2)
      sorted.foreach { r =>
        val expect = math.min(64L, total - 48L * r.getLong(1))
        assert(r.getLong(2) == expect,
          s"doc $doc chunk ${r.getLong(1)}: ${r.getLong(2)} != $expect")
      }
    }
  }

  test("vocab frequencies account for every subword token exactly once") {
    val vocab = BpeOps.bpeVocab(spark, sf).collect()
    assert(vocab.nonEmpty)
    // frequency-ordered with the deterministic tiebreak
    val ns = vocab.map(_.getLong(1))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
    // total vocab mass == total subword tokens from the per-lang count
    val total = BpeOps.bpeTokenCount(spark, sf).collect()
      .map(_.getLong(2)).sum
    assert(ns.sum == total, s"vocab mass ${ns.sum} != corpus tokens $total")
  }

  test("map-side doc subword count equals the join-based count per doc") {
    val model = BpeOps.model(spark, sf)
    val joined = BpeOps.bpeEncode(spark, sf)
      .select(col("doc_id"), col("n_tok")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mapSide = graft.io.Tables.documents(spark, sf)
      .select(col("doc_id"),
        BpeOps.docSubwordCount(col("text"), model).as("n"))
      .collect()
    assert(mapSide.nonEmpty)
    mapSide.foreach { r =>
      // docs with no words are absent from the join path and count 0 here
      val expect = joined.getOrElse(r.getLong(0), 0L)
      assert(r.getLong(1) == expect,
        s"doc ${r.getLong(0)}: map-side ${r.getLong(1)} != join $expect")
    }
  }

  test("bpe pack respects the order invariant: first pack ids start at 0") {
    val packs = BpeOps.bpePack(spark, sf).collect()
    assert(packs.nonEmpty)
    val bySource = packs.groupBy(_.getString(0))
    bySource.foreach { case (src, rs) =>
      assert(rs.map(_.getLong(1)).min == 0L, s"source $src must start at pack 0")
    }
  }

  test("bpe budget mix keeps every cell within the sub-budget") {
    val rows = BpeOps.bpeBudgetMix(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) <= 1000L,
        s"cell (${r.getString(0)}, ${r.getString(1)}) over sub-budget")
    }
    // language totals respect the language budget
    rows.groupBy(_.getString(0)).foreach { case (lang, rs) =>
      assert(rs.map(_.getLong(3)).sum <= 8000L, s"lang $lang over budget")
    }
  }

  test("bpe memo serves a second session its own plan, same tokens") {
    val first = BpeOps.bpeEncode(spark, sf).collect().map(_.toSeq).toSeq
    val s2 = spark.newSession()
    val second = BpeOps.bpeEncode(s2, sf)
    assert(second.sparkSession eq s2,
      "a plan bound to the first session was served to the second")
    assert(second.collect().map(_.toSeq).toSeq == first)
  }
}
