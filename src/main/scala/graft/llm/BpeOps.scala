package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.util.{Det, SessionMemo}

/** Deterministic byte-pair-encoding (BPE) subword tokenizer, trained ON
  * the corpus and applied map-side — the subword token accounting a real
  * training pipeline budgets with (whitespace/regex counts, the previous
  * estimators in [[TextOps.tokenCount]], systematically under-count
  * non-English/code text; packing and budget admission should key off the
  * tokenizer the trainer actually uses). Algorithm: Sennrich et al. 2016
  * (arXiv:1508.07909) — greedy merge of the most frequent adjacent symbol
  * pair, iterated; apply = replay merges in rank order.
  *
  * Everything here is integer/string-exact, so the whole family is
  * oracle-checkable (the DuckDB twin unrolls the training rounds as
  * generated CTEs, the same technique as q_llm_kmeans):
  *  - a token sequence is represented as the string `<t1><t2>...<_>`
  *    (every symbol wrapped in angle brackets; `_` is the end-of-word
  *    marker; the corpus alphabet is `[a-z]`, so the delimiters can never
  *    collide with symbol text);
  *  - one merge step is a plain `replace('<a><b>' -> '<ab>')` — string
  *    replace is left-to-right and non-overlapping in BOTH engines, and
  *    because match boundaries align with token boundaries this is
  *    exactly the greedy non-overlapping pair merge BPE specifies;
  *  - pair selection orders by (count DESC, pair ASC) — exact BIGINT
  *    counts with a total lexicographic tiebreak (the separator ' ' sorts
  *    below every symbol character, so string order on `a b` equals tuple
  *    order on (a, b)).
  *
  * Scale posture (100 TB of documents): training never touches the
  * corpus after the ONE word-frequency aggregation — the dict is capped
  * at [[DictCap]] rows in a deterministic (count DESC, word ASC) order
  * (the standard bounded-sample tokenizer-training shape), checkpointed
  * once, and each merge round is an agg over that bounded dict plus a
  * 1-row collect (model-sized, like the k-means centroid collect).
  * Application is a broadcast-model map-side fold: the learned merges
  * become literal nested `replace` expressions over the DISTINCT words
  * (dedup first — at 100 TB the distinct-word relation is orders of
  * magnitude smaller than the corpus), joined back to occurrences on the
  * word key. No UDFs anywhere; every expression is codegen-friendly.
  */
object BpeOps {

  /** Merge rounds. Real vocabularies run tens of thousands of merges; the
    * oracle twin unrolls one CTE block per round, so the verification
    * slice keeps it at 10 (the algorithm is round-count-independent). */
  private val Merges = 10

  /** Training-dict cap — bounds every training round independently of
    * corpus size (31 distinct words in the synthetic corpus, so the cap
    * is latent there; at 100 TB it is the load-bearing bound). */
  private val DictCap = 4096

  private val PackBpeBudget = 1024L
  private val MixSubBpeBudget = 1000L
  private val MixLangBpeBudget = 8000L

  private[graft] case class Merge(a: String, b: String, total: Long)

  private def wordsCol: Column =
    regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))

  /** `word` -> `<c1><c2>...<_>` (every char wrapped, end-of-word mark). */
  private def wrap(c: Column): Column =
    concat(regexp_replace(c, lit("(.)"), lit("<$1>")), lit("<_>"))

  private def foldMerges(wrapped: Column, merges: Seq[Merge]): Column =
    merges.foldLeft(wrapped) { (acc, m) =>
      replace(acc, lit(s"<${m.a}><${m.b}>"), lit(s"<${m.a}${m.b}>"))
    }

  private def applyMerges(c: Column, merges: Seq[Merge]): Column =
    foldMerges(wrap(c), merges)

  /** Replace-fold expression depth is the oracle slice's luxury: at
    * [[Merges]]=10 the nested replaces are codegen-friendly literals,
    * but a production tokenizer replays tens of thousands of merges and
    * the expression tree would not survive. Past this many merges the
    * word map switches to [[tokenizeWord]], the JVM rank-replay
    * tokenizer (spec-proven token-identical to the fold). */
  private[graft] val FoldDepthLimit = 64

  /** PRODUCTION BPE APPLY — per-word rank-ordered merge replay on the
    * JVM, O(|word|²) with hash lookups, INDEPENDENT of vocabulary size
    * (30k merges cost the same as 10 for a given word). Token-identical
    * to the replace-fold by construction:
    *
    *  - the fold processes ranks 1..M in order, each as ONE left-to-
    *    right non-overlapping `<a><b>`→`<ab>` pass; token texts never
    *    contain `<`/`>`, so string matches always align with token
    *    boundaries, and merging (a,b) can only create adjacencies
    *    (prev, ab) / (ab, next) — never a new same-rank occurrence
    *    (ab ≠ a and ab ≠ b since both sides are non-empty);
    *  - therefore "repeatedly merge the LOWEST-rank pair present that
    *    is ABOVE the last processed rank, all occurrences left-to-
    *    right" replays exactly the fold's rank order while skipping
    *    absent ranks. The `> last` guard is load-bearing: a later merge
    *    CAN recreate the text of an earlier pair (two different merge
    *    paths can build the same token string), and the fold never
    *    returns to a passed rank.
    *
    * Spec'd equal to the fold on every distinct corpus word at the
    * oracle's 10-merge model AND on a 3k-word synthetic dict at a
    * 1024-merge vocabulary where the Catalyst fold is infeasible
    * (BpeSpec). */
  private[graft] def tokenizeWord(word: String, merges: Array[(String, String)],
      rank: java.util.HashMap[String, Integer]): Array[String] = {
    var toks = new Array[String](word.length + 1)
    var i = 0
    while (i < word.length) { toks(i) = String.valueOf(word.charAt(i)); i += 1 }
    toks(word.length) = "_"
    var last = 0
    var done = false
    while (!done && toks.length > 1) {
      var best = Int.MaxValue
      i = 0
      while (i < toks.length - 1) {
        val r = rank.get(toks(i) + " " + toks(i + 1))
        if (r != null && r > last && r < best) best = r.intValue()
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        val (a, b) = merges(best - 1)
        val out = new scala.collection.mutable.ArrayBuffer[String](toks.length)
        i = 0
        while (i < toks.length) {
          if (i < toks.length - 1 && toks(i) == a && toks(i + 1) == b) {
            out += a + b; i += 2
          } else { out += toks(i); i += 1 }
        }
        toks = out.toArray
        last = best
      }
    }
    toks
  }

  /** The JVM mirror of the Catalyst replace-fold — the reference
    * implementation the spec compares [[tokenizeWord]] against (Java
    * `String.replace` is the same left-to-right non-overlapping
    * literal replace as Spark/DuckDB `replace`). Test-only shape:
    * O(M·|word|) per word, fine on a dict, never on a corpus. */
  private[graft] def foldTokenizeWord(word: String,
      merges: Seq[(String, String)]): Array[String] = {
    var s = word.map(ch => s"<$ch>").mkString + "<_>"
    merges.foreach { case (a, b) =>
      s = s.replace(s"<$a><$b>", s"<$a$b>")
    }
    "<([^>]+)>".r.findAllMatchIn(s).map(_.group(1)).toArray
  }

  /** The trained model as plain (lhs, rhs) pairs — the form callers
    * outside this package (the streaming admit) broadcast. */
  def model(spark: SparkSession, sfDir: String): Seq[(String, String)] =
    trainMerges(spark, sfDir).map(m => (m.a, m.b))

  /** MAP-SIDE whole-document subword count over a raw `text` column —
    * the streaming-safe form: no word-map join, the broadcast model is
    * literal nested replaces, one expression per row. The document
    * wraps as the CONCATENATION of its words' token strings (separator
    * runs become the `<_>` end-of-word marker of the word before them),
    * and the merges fold runs once over the whole string.
    *
    * Cross-word safety: every word's final token carries the `_`
    * marker, and no learnable merge has a `_`-bearing lhs (training
    * sees nothing AFTER a `_` inside a word), so no merge pattern can
    * span a word boundary — the doc-level fold merges exactly what the
    * per-word fold would, and the counts agree (spec'd). */
  def docSubwordCount(c: Column, model: Seq[(String, String)]): Column = {
    val wrapped = regexp_replace(
      regexp_replace(
        regexp_replace(concat(lower(c), lit(" ")), lit("^[^a-z]+"), lit("")),
        lit("[^a-z]+"), lit("_")),
      lit("(.)"), lit("<$1>"))
    val folded = foldMerges(wrapped,
      model.map { case (a, b) => Merge(a, b, 0L) })
    size(regexp_extract_all(folded, lit("<([^>]+)>"), lit(1))).cast("long")
  }

  /** Train-once memo: the learned model is a pure deterministic function
    * of the corpus dir, and every downstream query replays it — paying
    * the 10 sequential training rounds once per corpus (the model
    * registry posture of a real pipeline: train the tokenizer, then
    * tokenize everywhere) instead of once per query ([[SessionMemo]]).
    * Model-sized values only (10 string pairs). */
  private[llm] def trainMerges(spark: SparkSession, sfDir: String): Seq[Merge] =
    SessionMemo.getOrBuild(spark, sfDir, "bpe.model")(
      trainMergesUncached(spark, sfDir))

  /** Learn [[Merges]] merge rules from the corpus word-frequency dict.
    *
    * ONE distributed pass (the corpus word-frequency aggregation, capped
    * at [[DictCap]] rows in deterministic order), then the merge rounds
    * run ON THE DRIVER over that bounded dict — the same bounded-sample
    * training shape as the ANN quantizer (AnnIndex Lloyd's): the working
    * set is model-sized by declaration, never corpus-sized, and the
    * per-round semantics are EXACTLY the engines': Java's literal
    * `String.replace` is the same left-to-right non-overlapping merge as
    * Spark/DuckDB `replace`, pair counts are exact Longs, and the
    * (count DESC, "a b" ASC) argmax uses the same ASCII string order as
    * both engines — so the DuckDB unrolled-CTE oracle retrains the
    * identical table (parity-proven per round). */
  private[graft] def trainMergesUncached(spark: SparkSession, sfDir: String): Seq[Merge] = {
    val dict = Tables.documents(spark, sfDir)
      .select(explode(wordsCol).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w")).limit(DictCap)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    trainFromDict(dict, Merges)
  }

  /** The driver merge loop over an ALREADY-BOUNDED word-frequency dict
    * — the model-sized core shared by the corpus trainer above (at the
    * oracle's [[Merges]]) and the ≥1k-merge production-vocabulary spec
    * (BpeSpec trains 1024 merges on a synthetic dict; the loop is
    * round-count-independent). */
  private[graft] def trainFromDict(dict: Array[(String, Long)],
      maxMerges: Int): Seq[Merge] = {
    val toks = scala.collection.mutable.ArrayBuffer(
      dict.map { case (w, c) =>
        (w.map(ch => s"<$ch>").mkString + "<_>", c)
      }: _*)
    val tokenRe = "<([^>]+)>".r
    var merges = Vector.empty[Merge]
    var round = 0
    while (round < maxMerges) {
      round += 1
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      toks.foreach { case (t, c) =>
        val ts = tokenRe.findAllMatchIn(t).map(_.group(1)).toArray
        var i = 0
        while (i < ts.length - 1) {
          val pr = ts(i) + " " + ts(i + 1)
          counts.update(pr, counts.getOrElse(pr, 0L) + c)
          i += 1
        }
      }
      if (counts.isEmpty) return merges // degenerate corpus: all merged
      val (pr, total) = counts.foldLeft(("", Long.MinValue)) {
        case (best, kv) =>
          if (kv._2 > best._2 || (kv._2 == best._2 && kv._1 < best._1)) kv
          else best
      }
      val Array(a, b) = pr.split(" ")
      merges = merges :+ Merge(a, b, total)
      val pat = s"<$a><$b>"
      val rep = s"<$a$b>"
      toks.indices.foreach { i =>
        toks(i) = (toks(i)._1.replace(pat, rep), toks(i)._2)
      }
    }
    merges
  }

  /** Distinct corpus words with their learned-subword counts AND the
    * rendered subword string — the broadcast-sized word->(n_sub, wtok)
    * map every downstream query joins on (unused columns prune away).
    * Mechanism switches on model size: literal nested replaces while
    * the expression tree stays codegen-friendly ([[FoldDepthLimit]]),
    * the JVM rank-replay tokenizer beyond — identical tokens either
    * way (spec'd), so callers never see the switch. */
  private def wordSubCounts(spark: SparkSession, sfDir: String,
      merges: Seq[Merge]): DataFrame =
    if (merges.length <= FoldDepthLimit)
      Tables.documents(spark, sfDir)
        .select(explode(wordsCol).as("w")).distinct()
        .select(col("w"),
          regexp_extract_all(applyMerges(col("w"), merges),
            lit("<([^>]+)>"), lit(1)).as("subs"))
        .select(col("w"), size(col("subs")).cast("long").as("n_sub"),
          concat_ws(" ", col("subs")).as("wtok"))
    else wordSubCountsProd(spark, sfDir, merges)

  /** The PRODUCTION word map: one broadcast of the (rank-indexed)
    * merges table, then [[tokenizeWord]] over the DISTINCT words in a
    * mapPartitions — the model ships once per executor and the per-word
    * cost is vocabulary-size-independent, so a 30k-merge tokenizer
    * applies at the same corpus cost as the 10-merge oracle model. The
    * distinct-word relation stays orders of magnitude smaller than the
    * corpus; everything downstream joins it back exactly as the fold
    * path does. */
  private[graft] def wordSubCountsProd(spark: SparkSession, sfDir: String,
      merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    val pairs = merges.map(m => (m.a, m.b)).toArray
    val bc = spark.sparkContext.broadcast(pairs)
    Tables.documents(spark, sfDir)
      .select(explode(wordsCol).as("w")).distinct()
      .as[String]
      .mapPartitions { it =>
        val ms = bc.value
        val rank = new java.util.HashMap[String, Integer](ms.length * 2)
        var i = 0
        while (i < ms.length) {
          rank.put(ms(i)._1 + " " + ms(i)._2, Integer.valueOf(i + 1))
          i += 1
        }
        it.map { w =>
          val t = tokenizeWord(w, ms, rank)
          (w, t.length.toLong, t.mkString(" "))
        }
      }
      .toDF("w", "n_sub", "wtok")
  }

  /** Per-document subword totals: explode words map-side, join the
    * distinct-word counts (auto-broadcast: |vocab| rows), one aggregate
    * on doc_id. */
  private def docSubTotals(spark: SparkSession, sfDir: String,
      merges: Seq[Merge]): DataFrame =
    encodedDocs(spark, sfDir, merges).select(col("doc_id"), col("n_tok"))

  private val ChunkBpeTokens = 64
  private val ChunkBpeStep = 48 // 16-subword overlap between chunks

  /** The UNCACHED encode plan, for plan-posture specs: the memo's
    * checkpoint hides the word-map broadcast join from every consumer
    * query's plan (the localCheckpoint/PlanSpec rule), so the spec
    * inspects the builder it materializes from. */
  private[graft] def encodedDocsPlanProbe(spark: SparkSession,
      sfDir: String): DataFrame =
    encodedDocsUncached(spark, sfDir, trainMerges(spark, sfDir))

  /** Shared doc-order assembly over any word->(n_sub, wtok) map —
    * posexplode → broadcast word-map join → one per-doc aggregate whose
    * order is pinned by sorting (pos, wtok) structs. */
  private def assembleDocs(spark: SparkSession, sfDir: String,
      wordMap: DataFrame): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), posexplode(wordsCol).as(Seq("pos", "w")))
      .join(wordMap, "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_tok"),
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(pos, wtok))), x -> x.wtok)"))
          .as("toks"))

  /** Per-document subword ENCODING (not just counts): every word's
    * rendered subwords re-assembled in document order — the actual
    * tokenizer output a trainer consumes. The assembly is
    * posexplode → broadcast word-map join → one per-doc aggregate whose
    * order is pinned by sorting (pos, wtok) structs, so the emitted
    * string is deterministic under any partitioning. */
  private def encodedDocsUncached(spark: SparkSession, sfDir: String,
      merges: Seq[Merge]): DataFrame =
    assembleDocs(spark, sfDir, wordSubCounts(spark, sfDir, merges))

  /** Tokenize-once memo beside the model registry: the encoded corpus
    * is a pure deterministic function of (corpus dir, model), every
    * consumer replays it verbatim (bpe_encode emits it, chunk_bpe
    * windows over it, the streaming admission spec reads its counts),
    * and a real pipeline materializes tokenizer output once
    * ([[SessionMemo]]). The checkpoint bounds memory to the encoded rows
    * (~3 KB/doc). */
  private def encodedDocs(spark: SparkSession, sfDir: String,
      merges: Seq[Merge]): DataFrame =
    SessionMemo.getOrBuild(spark, sfDir, "bpe.encoded")(
      encodedDocsUncached(spark, sfDir, merges).localCheckpoint())

  def bpeEncode(spark: SparkSession, sfDir: String): DataFrame =
    encodedDocs(spark, sfDir, trainMerges(spark, sfDir))
      .orderBy("doc_id")

  /** The PRODUCTION-mechanism encode: same trained model, same doc
    * assembly, but the word map tokenizes via the broadcast-model
    * rank-replay ([[wordSubCountsProd]]) instead of literal replaces —
    * the path a 30k-merge vocabulary takes. Registered with the SAME
    * DuckDB oracle text as q_llm_bpe_encode: the mechanisms are
    * token-identical, so the unrolled-CTE twin checks this one too
    * (an oracle-level proof of the equivalence, beside BpeSpec's
    * word-level one). */
  def bpeEncodeProd(spark: SparkSession, sfDir: String): DataFrame =
    assembleDocs(spark, sfDir,
      wordSubCountsProd(spark, sfDir, trainMerges(spark, sfDir)))
      .orderBy("doc_id")

  /** [[TextOps.chunkDocs]] re-keyed on SUBWORDS: fixed 64-subword
    * context windows starting every 48 subwords (16-subword overlap),
    * cut where the trainer's tokenizer counts — word-count windows
    * drift off the real context budget at exactly the documents where
    * subwords-per-word is high. Same explode + slice shape as the
    * word-level twin; the subword sequence comes from [[encodedDocs]]. */
  def bpeChunk(spark: SparkSession, sfDir: String): DataFrame =
    encodedDocs(spark, sfDir, trainMerges(spark, sfDir))
      .select(col("doc_id"), split(col("toks"), " ").as("s"))
      .select(col("doc_id"), col("s"),
        explode(sequence(lit(0), size(col("s")) - 1,
          lit(ChunkBpeStep))).as("start"))
      .select(col("doc_id"),
        expr(s"CAST(start div $ChunkBpeStep AS BIGINT)").as("chunk_idx"),
        size(expr(s"slice(s, start + 1, $ChunkBpeTokens)"))
          .cast("bigint").as("n_tok"),
        array_join(expr(s"slice(s, start + 1, $ChunkBpeTokens)"), " ")
          .as("chunk"))
      .orderBy("doc_id", "chunk_idx")

  /** The VOCABULARY artifact: every subword type with its corpus
    * frequency — what a tokenizer release ships beside the merges
    * table. Occurrence-weighted, but the subword explosion happens on
    * DISTINCT words weighted by their corpus counts (one word-count
    * aggregate, then |vocab|-sized join + explode + weighted sum) —
    * same numbers as exploding every occurrence, at a fraction of the
    * rows: the corpus pass ends at the word frequency table, exactly
    * the training pass's shape. */
  def bpeVocab(spark: SparkSession, sfDir: String): DataFrame = {
    val merges = trainMerges(spark, sfDir)
    Tables.documents(spark, sfDir)
      .select(explode(wordsCol).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .join(wordSubCounts(spark, sfDir, merges), "w")
      .select(explode(split(col("wtok"), " ")).as("subword"), col("cnt"))
      .groupBy(col("subword"))
      .agg(sum(col("cnt")).as("n"))
      .orderBy(col("n").desc, col("subword"))
  }

  /** The learned merges table itself — rank, pair, frequency. */
  def bpeTrain(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    trainMerges(spark, sfDir).zipWithIndex
      .map { case (m, i) => (i + 1L, m.a, m.b, m.total) }
      .toDF("merge_rank", "lhs", "rhs", "pair_count")
      .orderBy("merge_rank")
  }

  /** Per-language subword accounting beside the raw word count — the
    * budget-relevant ratio a mixing run reads first. */
  def bpeTokenCount(spark: SparkSession, sfDir: String): DataFrame = {
    val merges = trainMerges(spark, sfDir)
    Tables.documents(spark, sfDir)
      .select(col("lang"), explode(wordsCol).as("w"))
      .join(wordSubCounts(spark, sfDir, merges), "w")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("bpe_tokens"),
        Det.r4(sum(col("n_sub")).cast("double") / count(lit(1)))
          .as("subwords_per_word"))
      .orderBy("lang")
  }

  /** [[TextOps.packSequences]] re-keyed on SUBWORD counts: same
    * deterministic (md5(text), doc_id) concat order and per-source
    * packing, but pack boundaries fall where the trainer's tokenizer
    * says they fall, not where whitespace does. */
  def bpePack(spark: SparkSession, sfDir: String): DataFrame = {
    val merges = trainMerges(spark, sfDir)
    val w = Window.partitionBy(col("source"))
      .orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
      .join(docSubTotals(spark, sfDir, merges), "doc_id")
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("pack_id", expr(s"(cum - n_tok) div ${PackBpeBudget}L"))
      .groupBy(col("source"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tok"))
      .orderBy("source", "pack_id")
  }

  /** [[TextOps.budgetMix]] re-keyed on SUBWORD counts: cap every
    * (lang, source) cell, then every language, both filling in the same
    * deterministic (md5(text), doc_id) order — the exact nested greedy
    * prefix, now in the units the trainer bills. */
  def bpeBudgetMix(spark: SparkSession, sfDir: String): DataFrame = {
    val merges = trainMerges(spark, sfDir)
    def running(w: org.apache.spark.sql.expressions.WindowSpec) =
      sum(col("n_tok")).over(w.orderBy(col("h"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"),
        md5(col("text")).as("h"))
      .join(docSubTotals(spark, sfDir, merges), "doc_id")
      .withColumn("cum1",
        running(Window.partitionBy(col("lang"), col("source"))))
      .where(col("cum1") <= lit(MixSubBpeBudget))
      .withColumn("cum2", running(Window.partitionBy(col("lang"))))
      .where(col("cum2") <= lit(MixLangBpeBudget))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok_kept"))
      .orderBy("lang", "source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_llm_bpe_train" -> bpeTrain _,
    "q_llm_bpe_token_count" -> bpeTokenCount _,
    "q_llm_bpe_encode" -> bpeEncode _,
    "q_llm_bpe_encode_prod" -> bpeEncodeProd _,
    "q_llm_bpe_vocab" -> bpeVocab _,
    "q_llm_chunk_bpe" -> bpeChunk _,
    "q_llm_pack_bpe" -> bpePack _,
    "q_llm_budget_mix_bpe" -> bpeBudgetMix _
  )

  import Det.r4Sql

  /** DuckDB twin of [[trainMerges]]: one generated CTE block per round.
    * `MATERIALIZED` is load-bearing — DuckDB inlines plain CTEs, and the
    * round chain references its predecessor three times (directly plus
    * two scalar subqueries), which would otherwise expand to 3^rounds
    * scans of the corpus. */
  private def trainCtes: String = {
    val rounds = (1 to Merges).map { r =>
      val prev = s"t${r - 1}"
      s"""p$r AS (SELECT unnest(list_transform(generate_series(1, len(l) - 1),
        |       i -> l[i] || ' ' || l[i+1])) AS pr, cnt
        |     FROM (SELECT cnt, regexp_extract_all(tok, '<([^>]+)>', 1) AS l FROM $prev)
        |     WHERE len(l) >= 2),
        |c$r AS (SELECT pr, CAST(sum(cnt) AS BIGINT) AS total FROM p$r GROUP BY 1),
        |m$r AS MATERIALIZED (SELECT split_part(pr, ' ', 1) AS a,
        |       split_part(pr, ' ', 2) AS b, total
        |     FROM c$r ORDER BY total DESC NULLS LAST, pr NULLS FIRST LIMIT 1),
        |t$r AS MATERIALIZED (SELECT w, cnt, replace(tok,
        |       (SELECT '<' || a || '><' || b || '>' FROM m$r),
        |       (SELECT '<' || a || b || '>' FROM m$r)) AS tok FROM $prev)""".stripMargin
    }.mkString(",\n")
    val mergesUnion = (1 to Merges).map { r =>
      s"SELECT CAST($r AS BIGINT) AS merge_rank, a AS lhs, b AS rhs, total AS pair_count FROM m$r"
    }.mkString("\nUNION ALL ")
    s"""wf AS MATERIALIZED (
      |  SELECT w, CAST(count(*) AS BIGINT) AS cnt
      |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      |        FROM documents)
      |  GROUP BY 1 ORDER BY cnt DESC NULLS LAST, w NULLS FIRST LIMIT $DictCap),
      |t0 AS (SELECT w, cnt, regexp_replace(w, '(.)', '<\\1>', 'g') || '<_>' AS tok FROM wf),
      |$rounds,
      |merges AS ($mergesUnion)""".stripMargin
  }

  /** DuckDB twin of [[wordSubCounts]]: replay the learned merges as
    * nested replaces (scalar subqueries on the materialized m-rows) over
    * the distinct corpus words. */
  private def alltokCte: String = {
    val applied = (1 to Merges).foldLeft(
      "regexp_replace(w, '(.)', '<\\1>', 'g') || '<_>'") { (acc, r) =>
      s"""replace($acc,
        |      (SELECT '<' || a || '><' || b || '>' FROM m$r),
        |      (SELECT '<' || a || b || '>' FROM m$r))""".stripMargin
    }
    s"""alltok AS MATERIALIZED (
      |  SELECT w, CAST(len(subs) AS BIGINT) AS n_sub,
      |         array_to_string(subs, ' ') AS wtok
      |  FROM (SELECT w, regexp_extract_all($applied, '<([^>]+)>', 1) AS subs
      |        FROM (SELECT DISTINCT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      |              FROM documents)))""".stripMargin
  }

  /** Per-doc word sequence with positions (DuckDB parallel unnests of
    * equal length zip together, like posexplode). */
  private def wordsPosCte: String =
    s"""wp AS (SELECT doc_id,
      |            unnest(generate_series(1, len(wl))) AS pos,
      |            unnest(wl) AS w
      |     FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS wl
      |           FROM documents)),
      |enc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
      |             CAST(sum(n_sub) AS BIGINT) AS n_tok,
      |             string_agg(wtok, ' ' ORDER BY pos) AS toks
      |      FROM wp JOIN alltok USING (w) GROUP BY doc_id)""".stripMargin

  private def docTotalsCte: String =
    s"""dt AS (SELECT doc_id, CAST(sum(n_sub) AS BIGINT) AS n_tok
      |     FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      |           FROM documents) dw
      |     JOIN alltok USING (w) GROUP BY doc_id)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_llm_bpe_train" ->
      s"""WITH $trainCtes
        |SELECT merge_rank, lhs, rhs, pair_count FROM merges
        |ORDER BY merge_rank NULLS FIRST""".stripMargin,
    "q_llm_bpe_token_count" ->
      s"""WITH $trainCtes,
        |$alltokCte,
        |words AS (SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        |          FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
        |       CAST(sum(n_sub) AS BIGINT) AS bpe_tokens,
        |       ${r4Sql("CAST(sum(n_sub) AS DOUBLE) / count(*)")} AS subwords_per_word
        |FROM words JOIN alltok USING (w)
        |GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin,
    "q_llm_bpe_encode" ->
      s"""WITH $trainCtes,
        |$alltokCte,
        |$wordsPosCte
        |SELECT doc_id, n_words, n_tok, toks FROM enc
        |ORDER BY doc_id NULLS FIRST""".stripMargin,
    // The production rank-replay mechanism is token-identical to the
    // replace-fold (BpeSpec proves it word-by-word at 10 AND 1024
    // merges), so the SAME unrolled-CTE twin is its oracle.
    "q_llm_bpe_encode_prod" ->
      s"""WITH $trainCtes,
        |$alltokCte,
        |$wordsPosCte
        |SELECT doc_id, n_words, n_tok, toks FROM enc
        |ORDER BY doc_id NULLS FIRST""".stripMargin,
    "q_llm_bpe_vocab" ->
      s"""WITH $trainCtes,
        |$alltokCte,
        |words AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        |          FROM documents),
        |subs AS (SELECT unnest(string_split(wtok, ' ')) AS subword
        |         FROM words JOIN alltok USING (w))
        |SELECT subword, CAST(count(*) AS BIGINT) AS n
        |FROM subs
        |GROUP BY 1
        |ORDER BY n DESC NULLS LAST, subword NULLS FIRST""".stripMargin,
    "q_llm_chunk_bpe" ->
      s"""WITH $trainCtes,
        |$alltokCte,
        |$wordsPosCte,
        |t AS (SELECT doc_id, string_split(toks, ' ') AS s FROM enc),
        |st AS (SELECT doc_id, s,
        |              unnest(generate_series(0, len(s) - 1, $ChunkBpeStep)) AS start
        |       FROM t)
        |SELECT doc_id, CAST(start // $ChunkBpeStep AS BIGINT) AS chunk_idx,
        |       CAST(len(s[start + 1 : start + $ChunkBpeTokens]) AS BIGINT) AS n_tok,
        |       array_to_string(s[start + 1 : start + $ChunkBpeTokens], ' ') AS chunk
        |FROM st
        |ORDER BY doc_id NULLS FIRST, chunk_idx NULLS FIRST""".stripMargin,
    "q_llm_pack_bpe" ->
      s"""WITH $trainCtes,
        |$alltokCte,
        |$docTotalsCte,
        |d AS (SELECT doc_id, source, md5(text) AS h, n_tok
        |      FROM documents JOIN dt USING (doc_id)),
        |c AS (SELECT source, n_tok,
        |             sum(n_tok) OVER (PARTITION BY source
        |               ORDER BY h NULLS FIRST, doc_id NULLS FIRST
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM d)
        |SELECT source, CAST((cum - n_tok) // $PackBpeBudget AS BIGINT) AS pack_id,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_tok) AS BIGINT) AS n_tok
        |FROM c GROUP BY 1, 2
        |ORDER BY source NULLS FIRST, pack_id NULLS FIRST""".stripMargin,
    "q_llm_budget_mix_bpe" ->
      s"""WITH $trainCtes,
        |$alltokCte,
        |$docTotalsCte,
        |d AS (SELECT doc_id, lang, source, md5(text) AS h, n_tok
        |      FROM documents JOIN dt USING (doc_id)),
        |l1 AS (SELECT doc_id, lang, source, h, n_tok,
        |              sum(n_tok) OVER (PARTITION BY lang, source
        |                ORDER BY h NULLS FIRST, doc_id NULLS FIRST
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1
        |       FROM d),
        |l2 AS (SELECT doc_id, lang, source, n_tok,
        |              sum(n_tok) OVER (PARTITION BY lang
        |                ORDER BY h NULLS FIRST, doc_id NULLS FIRST
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2
        |       FROM l1 WHERE cum1 <= $MixSubBpeBudget)
        |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_tok) AS BIGINT) AS tok_kept
        |FROM l2 WHERE cum2 <= $MixLangBpeBudget
        |GROUP BY 1, 2 ORDER BY lang NULLS FIRST, source NULLS FIRST""".stripMargin
  )
}
