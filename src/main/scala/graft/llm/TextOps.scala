package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.util.Det

/** Text-side operators of a training-data pipeline: exact + near
  * deduplication, text statistics, quality scoring, language ID, and
  * document fingerprinting — all on the `documents` table.
  *
  * Scale posture (100 TB of documents):
  *  - Exact dedup is one hash-shuffle on a 16-byte key (never on the text
  *    itself); the md5 normalization key is computed map-side.
  *  - MinHash/LSH near-dup generates candidates by BAND BUCKET join (shuffle
  *    keyed on (band, band_hash)), so the quadratic verify step only runs on
  *    hash-colliding candidates, never all pairs. Signatures are fixed-width
  *    (16 longs/doc) regardless of document size.
  *  - SimHash reduces each document to one 64-bit value; candidate pairing
  *    joins on signature bands, hamming verify is a single XOR+popcount.
  *  - Language ID is a broadcast join against a (lang × vocab) model table
  *    learned with two aggregations — no driver-side state.
  */
object TextOps {

  private def toks: Column = split(col("text"), " ")

  /** Exact dedup accounting per language: raw text hash + an
    * order/multiplicity-insensitive token-set hash (catches shuffled or
    * repeated-word near-copies that raw md5 misses). */
  def exactDedup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(lower(col("text")))).as("nd_text"),
        countDistinct(md5(concat_ws(" ",
          array_sort(array_distinct(split(lower(col("text")), " "))))))
          .as("nd_tokset"))
      .orderBy("lang")

  /** EXACT-DUP RATE BY SOURCE — the per-feed duplication scorecard a
    * corpus operator reads before weighting sources: per source, doc
    * count, distinct text hashes, docs sharing a hash WITHIN the
    * source, and docs whose hash also appears in ANOTHER source
    * (cross-feed mirror content — the syndication signal). One
    * (source, md5) histogram feeds everything; the global side is a
    * hash-keyed aggregate of the same relation (vocabulary-shaped
    * shuffle, the exactDedup scale posture). Rates are one IEEE
    * division of exact BIGINTs each. */
  def dupRateBySource(spark: SparkSession, sfDir: String): DataFrame = {
    val h = Tables.documents(spark, sfDir)
      .select(col("source"), md5(lower(col("text"))).as("h"))
      .groupBy(col("source"), col("h")).agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false) // global hash counts + per-source
    val glob = h.groupBy(col("h")).agg(count(lit(1)).as("nsrc"))
    def d(c: Column) = c.cast("double")
    h.join(glob, "h")
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_docs"),
        count(lit(1)).as("n_unique"),
        sum(when(col("c") > 1L, col("c")).otherwise(0L)).as("n_dup_in"),
        sum(when(col("nsrc") > 1L, col("c")).otherwise(0L)).as("n_cross"))
      .select(col("source"), col("n_docs"), col("n_unique"),
        col("n_dup_in"), col("n_cross"),
        Det.r4(d(col("n_dup_in")) / d(col("n_docs"))).as("dup_in_rate"),
        Det.r4(d(col("n_cross")) / d(col("n_docs"))).as("cross_rate"))
      .orderBy("source")
  }

  /** LENGTH-GINI BY SOURCE — corpus-mass concentration per feed: a
    * source whose Gini spikes is one where a few giant documents carry
    * most of the characters (one bad concat artifact dominates
    * training mass). The revenueGini discipline on integer lengths:
    * rank docs within source under the total (n_chars, doc_id) order,
    * then G = (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) with Σi·x in exact
    * DECIMAL(38,0)/HUGEINT (i·x per row stays in BIGINT to ~10⁹ docs
    * × 10⁹ chars) and one IEEE expression at the end. Per-source rank
    * windows; the offset-seeded rankWalk is this family's documented
    * scale path. */
  def lengthGiniBySource(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("x"), col("doc_id"))
    def d(c: Column) = c.cast("double")
    Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"),
        col("n_chars").cast("long").as("x"))
      .withColumn("i", row_number().over(w).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("x")).as("s0"),
        sum((col("i") * col("x")).cast("decimal(38,0)")).as("s1d"))
      .select(col("source"), col("n_docs"), col("s0").as("total_chars"),
        Det.r4((lit(2.0) * col("s1d").cast("double") -
          d(col("n_docs") + lit(1L)) * d(col("s0"))) /
          (d(col("n_docs")) * d(col("s0")))).as("gini"))
      .orderBy("source")
  }

  private val SegTokens = 20

  /** Segment-level exact dedup accounting (the "Deduplicating Training
    * Data Makes Language Models Better" granularity, Lee et al. 2022,
    * arXiv:2107.06499 — cross-document duplicated SPANS, which doc-level
    * hashing can never see): each document splits into fixed 20-token
    * non-overlapping segments, each segment keys by md5, and a segment
    * counts as shared when it occurs in ≥2 distinct documents. Per doc:
    * segment count, shared-segment count, shared ratio.
    *
    * Scale posture: segments are generated MAP-SIDE (one higher-order
    * transform, no joins), the frequency table is one partial-agg
    * shuffle on the 16-byte hash, and the join-back is an equi-join on
    * that same key — never all-pairs, payload never carries text. At
    * 100 TB this is the standard two-pass shape (build span-frequency
    * index, annotate corpus against it). */
  def segmentDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val segs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0),
            floor((size(col("t")) - 1) / SegTokens).cast("int")),
          i => md5(concat_ws(" ",
            slice(col("t"), i * SegTokens + 1, lit(SegTokens)))))))
      .select(col("doc_id"), col("col").as("h"))
    val freq = segs.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
    segs.join(freq, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared_segs"))
      .withColumn("shared_ratio",
        Det.r4(col("n_shared_segs").cast("double") / col("n_segs")))
      .orderBy("doc_id")
  }

  /** Per-source boilerplate scorecard: segment-granular dedup
    * ([[segmentDedup]]) aggregated by source, split into corpus-wide
    * duplication (span in ≥2 docs) vs cross-source syndication (span
    * in ≥2 sources) — internal templating and mirrored content land in
    * different columns, so a curation run sees WHICH failure mode a
    * source has before deciding to downweight or strip it.
    *
    * Scale posture: the [[segmentDedup]] two-pass shape unchanged —
    * map-side span generation, ONE frequency shuffle on the 16-byte
    * hash now carrying (distinct-doc, distinct-source) partials,
    * equi-join back, per-source aggregate. */
  def segmentSources(spark: SparkSession, sfDir: String): DataFrame = {
    val segs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), toks.as("t"))
      .select(col("doc_id"), col("source"),
        explode(transform(
          sequence(lit(0),
            floor((size(col("t")) - 1) / SegTokens).cast("int")),
          i => md5(concat_ws(" ",
            slice(col("t"), i * SegTokens + 1, lit(SegTokens)))))).as("h"))
    val freq = segs.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"),
        countDistinct(col("source")).as("ns"))
    segs.join(freq, "h")
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_spans"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_spans"),
        sum(when(col("ns") >= 2, 1L).otherwise(0L)).as("n_xsource_spans"))
      .select(col("source"), col("n_docs"), col("n_spans"),
        col("n_dup_spans"), col("n_xsource_spans"),
        Det.r4(col("n_dup_spans").cast("double") / col("n_spans"))
          .as("dup_ratio"),
        Det.r4(col("n_xsource_spans").cast("double") / col("n_spans"))
          .as("xsource_ratio"))
      .orderBy("source")
  }

  /** Cross-source span-leakage audit: which source pairs share exact
    * 20-token spans — the curation report that catches mirrored sites
    * and syndicated boilerplate BEFORE they bias a source-weighted mix.
    * Distinct (source, span-hash) pairs self-join on the hash; spans in
    * more than 10 sources are dropped first as ubiquitous boilerplate,
    * which also bounds the join fanout per hash (≤ C(10,2) pairs), so
    * the pair explosion can never go quadratic in corpus size. */
  def sourceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = Tables.documents(spark, sfDir)
      .select(col("source"), toks.as("t"))
      .select(col("source"),
        explode(transform(
          sequence(lit(0),
            floor((size(col("t")) - 1) / SegTokens).cast("int")),
          i => md5(concat_ws(" ",
            slice(col("t"), i * SegTokens + 1, lit(SegTokens)))))).as("h"))
      .distinct()
    val shared = sh.groupBy(col("h"))
      .agg(count(lit(1)).as("nsrc"))
      .where(col("nsrc").between(2, 10))
      .select("h")
    sh.join(shared, "h")
      .join(sh.withColumnRenamed("source", "src_b"), "h")
      .where(col("source") < col("src_b"))
      .groupBy(col("source"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .select(col("source").as("src_a"), col("src_b"), col("n_shared"))
      .orderBy("src_a", "src_b")
  }

  /** Corpus statistics per language: doc count, avg chars, avg tokens. */
  def textStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        Det.r4(sum(col("n_chars")).cast("double") / count(lit(1)))
          .as("avg_chars"),
        Det.r4(sum(size(toks)).cast("double") / count(lit(1)))
          .as("avg_tokens"))
      .orderBy("lang")

  /** Regex (BPE-ish) token counting alongside whitespace tokens: the
    * two token-count estimators a training pipeline budgets with. The
    * pattern deliberately stays in the regex subset both engines share. */
  def tokenCount(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(size(toks)).as("ws_tokens"),
        sum(size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))))
          .as("re_tokens"),
        sum(size(regexp_extract_all(col("text"), lit("[a-z]{1,4}"), lit(0))))
          .as("bpe4_tokens"))
      .orderBy("lang")

  /** Per-document quality scoring: token counts, type-token ratio,
    * stopword ratio, and a composite score — the standard cheap filters
    * in front of LLM training ingestion. */
  def quality(spark: SparkSession, sfDir: String): DataFrame = {
    val nTok = size(toks).cast("long")
    val nUniq = size(array_distinct(toks)).cast("long")
    val nStop = size(filter(toks, t => t === "the" || t === "a")).cast("long")
    val ttr = nUniq.cast("double") / nTok
    val stopR = nStop.cast("double") / nTok
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), nTok.as("n_tok"),
        nUniq.as("n_uniq"), Det.r4(ttr).as("ttr"),
        Det.r4(stopR).as("stop_ratio"),
        Det.r4(ttr * lit(0.5) + (lit(1.0) - stopR) * lit(0.5)).as("score"))
      .orderBy("doc_id")
  }

  /** Token-set Jaccard similarity: top-20 most similar same-language doc
    * pairs over a bounded sample (doc_id < 200). The |∩| comes from a
    * token-bucket self-join; exact all-pairs Jaccard is inherently
    * quadratic per token bucket, so this oracle-checked form runs on a
    * fixed sample as the correctness baseline — the scalable near-dup
    * path over the full corpus is [[minhashDedup]] (LSH candidates only). */
  def jaccardPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = Tables.documents(spark, sfDir)
      .where(col("doc_id") < 200)
      .select(col("doc_id"), col("lang"),
        explode(array_distinct(toks)).as("t"))
    val sizes = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("nt"))
    val inter = tok.select(col("doc_id").as("a_id"), col("lang"), col("t"))
      .join(tok.select(col("doc_id").as("b_id"), col("lang").as("lang_b"),
          col("t").as("t_b")),
        col("t") === col("t_b") && col("lang") === col("lang_b") &&
          col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("a_id"), col("nt").as("na")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("nt").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"),
        Det.r4(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter"))).as("jac"))
      .orderBy(col("jac").desc, col("a_id"), col("b_id"))
      .limit(20)
  }

  /** Language ID as a naive-Bayes unigram model LEARNED from the corpus
    * (two aggregations → a broadcastable (lang × token) log-prob table),
    * then argmax over candidate languages per document.
    *
    * On this synthetic corpus the vocabulary is 100% shared across
    * languages (verified), so content-based ID cannot beat priors — the
    * operator is still the real pipeline shape (train → broadcast model →
    * score → argmax) and is property-tested for structure/determinism,
    * not accuracy. No oracle: multi-stage float scoring. */
  private val VocabCap = 1 << 16

  def langid(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val tok = docs.select(col("doc_id"), col("lang"), explode(toks).as("t"))
    // one shuffle over tokens builds the term-frequency table; totals and
    // vocabulary size derive from THAT tiny relation, not a token rescan
    val rawTf = tok.groupBy(col("lang").as("l_cand"), col("t"))
      .agg(count(lit(1)).as("cnt"))
    // bounded model vocabulary: keep the VocabCap most frequent tokens
    // corpus-wide (deterministic tiebreak on the token) so the broadcast
    // model is O(langs × cap) no matter how large the corpus vocabulary
    // grows; out-of-model tokens simply don't score (inner join below)
    val kept = rawTf.groupBy(col("t")).agg(sum(col("cnt")).as("ct"))
      .orderBy(col("ct").desc, col("t")).limit(VocabCap).select(col("t"))
    val tf = rawTf.join(kept, "t")
    val langTot = tf.groupBy(col("l_cand")).agg(sum(col("cnt")).as("tot"))
    val vocab = tf.agg(countDistinct(col("t")).as("v"))
    val model = tf.join(langTot, "l_cand").crossJoin(vocab)
      .select(col("l_cand"), col("t"),
        log((col("cnt") + lit(1.0)) / (col("tot") + col("v"))).as("lp"))
    // argmax folded into the aggregation (max of (score, lang) struct) —
    // no extra window shuffle over the scored relation
    tok.select(col("doc_id"), col("lang"), col("t"))
      .join(broadcast(model), "t")
      .groupBy(col("doc_id"), col("lang"), col("l_cand"))
      .agg(sum(col("lp")).as("score"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(max(struct(col("score"), col("l_cand"))).as("m"))
      .select(col("doc_id"), col("lang").as("true_lang"),
        col("m.l_cand").as("pred_lang"),
        (col("lang") === col("m.l_cand")).as("hit"))
      .orderBy("doc_id")
  }

  private val NumHashes = 16
  private val Bands = 4 // 4 bands × 4 rows

  /** Word 3-gram shingles over a PRE-SPLIT token-array column named `tk`
    * (splitting inside the lambda would re-tokenize the text once per
    * shingle — O(len²) per doc). try_element_at keeps short documents
    * safe under ANSI mode. */
  private def shingles: Column = array_distinct(expr(
    "transform(sequence(1, greatest(size(tk) - 2, 1))," +
      " i -> concat_ws(' ', try_element_at(tk, i)," +
      " try_element_at(tk, i + 1), try_element_at(tk, i + 2)))"))

  /** MinHash + LSH near-duplicate detection: 16 min-hashes per doc over
    * shingles, banded 4×4 into LSH buckets; candidate pairs come from
    * bucket collisions only, then exact shingle-Jaccard verification at
    * threshold 0.5. No oracle (hash-based; property-tested against
    * brute-force Jaccard). */
  def minhashDedup(spark: SparkSession, sfDir: String): DataFrame =
    minhashDedupOver(Tables.documents(spark, sfDir))

  /** [[minhashDedup]] over an arbitrary `(doc_id, lang, text)` relation —
    * lets the corpus-prep pipeline run near-dup detection on the docs
    * that SURVIVED earlier stages instead of the whole corpus. */
  def minhashDedupOver(input: DataFrame): DataFrame =
    minhashPairsOver(input)
      .orderBy(col("jac").desc, col("a_id"), col("b_id"))

  /** [[minhashDedupOver]] without the presentation sort — the pair SET
    * is what cluster resolution consumes; the total order only matters
    * on the query surface. */
  /** LSH band buckets for a `(doc_id, lang, tk)` relation: 16 shingle
    * min-hashes, banded 4×4 — one row per (doc, band). Shared by the
    * symmetric near-dup pair generator and the asymmetric fuzzy
    * decontamination join. */
  /** A band bucket holding more than this many docs is a ubiquitous-
    * content collision (boilerplate, templated pages — near-identical
    * members that exact/segment dedup already collapses), and SELF-
    * joining it would contribute O(size²) candidate pairs per bucket
    * with no bound — the classic LSH hot-bucket blowup at corpus
    * scale. The cap bounds every bucket's self-join fanout to
    * C(64,2); testdata buckets are far smaller, so the oracle/spec
    * surfaces see no change (the cap's trigger mechanics are spec'd
    * directly on a crafted hot bucket). Only the SELF-join needs it:
    * the fuzzy-decontamination join is broadcast-bounded by the eval
    * set, linear in bucket size. */
  private[llm] val BucketCap = 64

  private def lshBuckets(docs: DataFrame): DataFrame = {
    val sh = docs.select(col("doc_id"), col("lang"), explode(shingles).as("sh"))
    val sigCols = (0 until NumHashes)
      .map(s => min(xxhash64(col("sh"), lit(s))).as(s"h$s"))
    val sigs = sh.groupBy(col("doc_id"), col("lang"))
      .agg(sigCols.head, sigCols.tail: _*)
    val bandStructs = (0 until Bands).map { b =>
      struct(lit(b).as("band"),
        hash((4 * b until 4 * b + 4).map(i => col(s"h$i")): _*).as("bh"))
    }
    sigs.select(col("doc_id"), col("lang"),
      explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("lang"),
        col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  private[llm] def minhashPairsOver(input: DataFrame): DataFrame = {
    val spark = input.sparkSession
    val docs = input
      .select(col("doc_id"), col("lang"), toks.as("tk"))
    // build the band index ONCE: without the checkpoint the
    // shingle-explode + 16-minhash aggregation re-executes for the hot
    // list AND both collision-join sides (3x the dominant cost — the
    // r16 sf1 probe measured 11.8 s -> the build-once number below);
    // repartition first so the frozen layout keeps cluster parallelism
    // under the self-join's map side (the r15 AQE-coalesce lesson)
    val buckets = lshBuckets(docs)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .localCheckpoint(eager = false) // hot list + both join sides
    // hot-bucket guard on ONE side only: an oversized bucket with no
    // left-side rows produces no pairs at all, which is exactly the
    // cap's semantics at half the filtering work. The broadcast list
    // is the HOT buckets (the few that exceed the cap), never the
    // full bucket set — that's what stays broadcastable at 100 TB.
    val hot = buckets.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("bn"))
      .where(col("bn") > BucketCap)
      .select(col("band"), col("bh"))
    val cands = buckets.select(col("doc_id").as("a_id"), col("lang"),
        col("band"), col("bh"))
      .join(broadcast(hot), Seq("band", "bh"), "left_anti")
      .join(buckets.select(col("doc_id").as("b_id"),
          col("lang").as("lang_b"), col("band").as("band_b"),
          col("bh").as("bh_b")),
        col("band") === col("band_b") && col("bh") === col("bh_b") &&
          col("lang") === col("lang_b") && col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    // checkpoint: BOTH verify-join sides consume the shingle sets and
    // join children don't CSE — without it the shingle transform (the
    // per-doc O(len) array build) runs twice (r18, guide §1.2/§5)
    val shSets = docs.select(col("doc_id"), shingles.as("shs"))
      .localCheckpoint(eager = false)
    cands
      .join(shSets.select(col("doc_id").as("a_id"), col("shs").as("sa")), "a_id")
      .join(shSets.select(col("doc_id").as("b_id"), col("shs").as("sb")), "b_id")
      .select(col("a_id"), col("b_id"),
        Det.r4(size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(array_union(col("sa"), col("sb")))).as("jac"))
      .where(col("jac") >= 0.5)
  }

  /** FUZZY benchmark decontamination — [[decontaminate]]'s near-copy
    * companion (exact n-gram overlap misses paraphrases and light
    * edits): the eval set's LSH band buckets BROADCAST against the
    * training side's, so candidates are bucket collisions against the
    * tiny eval set only — the training corpus never self-joins, which
    * is what keeps this shape at 100 TB (eval sets are thousands of
    * docs; the broadcast is bands × eval rows). Collisions verify by
    * exact shingle-Jaccard at 0.5. The eval set here DERIVES from 20
    * training docs — 10 verbatim, 10 with every 13th token dropped (a
    * light paraphrase) — standing in for a benchmark that leaked into
    * the corpus, so the read demonstrably recovers known
    * contamination. No oracle (xxhash LSH); spec'd subset-of-brute-
    * force + verbatim-copy recall. */
  def decontaminateFuzzy(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), toks.as("tk"))
    val train = docs.where(col("doc_id") >= 20)
    val evalRel = docs.where(col("doc_id") >= 20 && col("doc_id") < 40)
      .select(col("doc_id"), col("lang"),
        when(col("doc_id") < 30, col("tk"))
          .otherwise(expr("filter(tk, (t, i) -> (i + 1) % 13 != 0)"))
          .as("tk"))
    val evalB = lshBuckets(evalRel)
      .select(col("doc_id").as("e_id"), col("lang"), col("band"), col("bh"))
    val cands = lshBuckets(train).join(broadcast(evalB),
        Seq("lang", "band", "bh"))
      .select(col("doc_id").as("t_id"), col("e_id")).distinct()
    cands
      .join(train.select(col("doc_id").as("t_id"), shingles.as("st")), "t_id")
      .join(broadcast(evalRel
        .select(col("doc_id").as("e_id"), shingles.as("se"))), "e_id")
      .select(col("t_id"), col("e_id"),
        Det.r4(size(array_intersect(col("st"), col("se"))).cast("double") /
          size(array_union(col("st"), col("se")))).as("jac"))
      .where(col("jac") >= 0.5)
      .orderBy(col("t_id"), col("e_id"))
  }

  /** 64-bit SimHash signature per doc: per-bit majority vote of token
    * hashes (Charikar STOC'02), computed by the native aggregate
    * [[graft.functions.SimHashAgg]] — one int[64] buffer per doc instead
    * of 64 separate sum(when) accumulator columns. Linear; the shuffle
    * carries one 256-byte partial per (doc × partition). */
  private[graft] def simhashSigs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(toks).as("t"))
      .groupBy(col("doc_id"))
      .agg(graft.functions.SimHashAgg(xxhash64(col("t"))).as("simhash"))

  /** The 64-column sum(when) formulation of [[simhashSigs]] — TEST ONLY
    * (LlmSpec asserts the native aggregate reproduces it bit-for-bit). */
  private[graft] def simhashSigsColumnar(spark: SparkSession,
      sfDir: String): DataFrame = {
    val tok = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(toks).as("t"))
      .withColumn("h", xxhash64(col("t")))
    val bitSums = (0 until 64).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"s$b"))
    tok.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(b => when(col(s"s$b") > 0, lit(1L << b))
          .otherwise(lit(0L))).reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup via multi-index block probing (Manku et al.,
    * "Detecting Near-Duplicates for Web Crawling", WWW'07): split the
    * signature into 8 byte-blocks; for every pair of blocks (C(8,2)=28)
    * emit a 16-bit probe key, and generate candidates only from equi-join
    * collisions on (table, key). Pigeonhole: hamming <= 6 leaves >= 2 of
    * the 8 blocks untouched, so every such pair is guaranteed to collide
    * in at least one table. The REPORTED threshold is hamming <= 6 —
    * the same bound the index guarantees, so the query's contract and
    * its recall are identical by construction (no silent misses in the
    * 7..16 band a looser filter would imply); Manku's production
    * operating point is d <= 3 on 64 bits for the same reason. On this
    * corpus every near pair is hamming <= 4, so the top-20 equals the
    * brute-force answer (asserted in LlmSpec). Work is 28n probe rows
    * hashed into 28*2^16 buckets — never an all-pairs join. At >> 10^8
    * docs, widen the probe key (pairs of 16-bit blocks) to keep buckets
    * sparse. No oracle (engine-internal hash). */
  private val MaxHamming = 6 // == the 8-block pigeonhole guarantee

  def simhash(spark: SparkSession, sfDir: String): DataFrame = {
    // materialize the 16-byte/doc signature index once — the self-join
    // below would otherwise recompute the tokenize+64-bit-vote aggregation
    // for BOTH sides (index-build-once is the semantic, too). REPARTITION
    // first: AQE coalesces the small aggregate to 1-2 partitions and the
    // checkpoint freezes that layout under the 28x probe explode + the
    // collision join's map side (the r15 AQE-coalesce lesson — the sig
    // table is small, the fan-out it feeds is not)
    val sig = simhashSigs(spark, sfDir)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .localCheckpoint()
    val block = (i: Int) =>
      shiftrightunsigned(col("simhash"), i * 8).bitwiseAND(lit(0xFFL))
    val probeArr = array((for { i <- 0 until 8; j <- i + 1 until 8 } yield
      struct(lit(i * 8 + j).as("tbl"),
        (block(i) * lit(256L) + block(j)).as("key"))): _*)
    val probes = sig
      .select(col("doc_id"), col("simhash"), explode(probeArr).as("p"))
      .select(col("doc_id"), col("simhash"),
        col("p.tbl").as("tbl"), col("p.key").as("key"))
    probes.as("a")
      .join(probes.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .as("hamming"))
      .where(col("hamming") <= MaxHamming)
      .distinct() // a pair can collide in several tables
      .orderBy(col("hamming"), col("a_id"), col("b_id"))
      .limit(20)
  }

  /** Exact all-pairs simhash baseline — TEST ONLY (LlmSpec asserts the
    * multi-probe query reproduces this top-20); O(n^2), never declared. */
  private[graft] def simhashBrute(spark: SparkSession,
      sfDir: String): DataFrame = {
    val sig = simhashSigs(spark, sfDir)
    sig.select(col("doc_id").as("a_id"), col("simhash").as("sig_a"))
      .join(sig.select(col("doc_id").as("b_id"), col("simhash").as("sig_b")),
        col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .where(col("hamming") <= MaxHamming)
      .orderBy(col("hamming"), col("a_id"), col("b_id"))
      .limit(20)
  }

  /** The WIDE-KEY probe variant of [[simhash]] for ≫10⁸-doc corpora
    * (the widening the 8-block probe's doc prescribes): signatures
    * split into FOUR 16-bit blocks, one probe table per block PAIR
    * (C(4,2) = 6) keyed on the 32-bit concatenation. Pigeonhole:
    * hamming ≤ 2 leaves ≥ 2 of the 4 blocks untouched, so every such
    * pair collides in the table of one intact pair — complete at the
    * tighter d ≤ 2 operating point with 2³² buckets per table (expected
    * occupancy n/2³²: bucket-size blowup needs a 4-billion-doc
    * boilerplate cluster). 6n probe rows vs 28n; the tradeoff is the
    * narrower guaranteed radius — exactly Manku's table-count/radius
    * dial. Spec'd equal to brute force at d ≤ 2 on the corpus. */
  private[graft] val WideMaxHamming = 2

  def simhashWide(spark: SparkSession, sfDir: String): DataFrame = {
    val sig = simhashSigs(spark, sfDir) // repartition: see [[simhash]]
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .localCheckpoint()
    val block = (i: Int) =>
      shiftrightunsigned(col("simhash"), i * 16).bitwiseAND(lit(0xFFFFL))
    val probeArr = array((for { i <- 0 until 4; j <- i + 1 until 4 } yield
      struct(lit(i * 4 + j).as("tbl"),
        (block(i) * lit(65536L) + block(j)).as("key"))): _*)
    val probes = sig
      .select(col("doc_id"), col("simhash"), explode(probeArr).as("p"))
      .select(col("doc_id"), col("simhash"),
        col("p.tbl").as("tbl"), col("p.key").as("key"))
    probes.as("a")
      .join(probes.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .as("hamming"))
      .where(col("hamming") <= WideMaxHamming)
      .distinct()
      .orderBy(col("hamming"), col("a_id"), col("b_id"))
  }

  /** Rolling-hash document fingerprint (Rabin-Karp style, base 257 mod
    * 2^61-1) over the token stream — a cheap order-sensitive content id,
    * plus winnowing-lite: the min token-level hash as a locality anchor.
    * Computed with aggregate() higher-order fn — no UDF. No oracle
    * (engine hash functions are not portable across engines). */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        // modulus < 1e15 keeps acc*257 + 1e9 far from Long overflow (ANSI)
        expr("aggregate(split(text, ' '), CAST(0 AS BIGINT)," +
          " (acc, t) -> pmod(acc * 257 + pmod(xxhash64(t), 1000000007)," +
          " 999999999999989))").as("rolling_fp"),
        expr("array_min(transform(split(text, ' '), t -> xxhash64(t)))")
          .as("min_tok_hash"))
      .orderBy("doc_id")

  /** WINNOWING fingerprint overlap (Schleimer/Wilkerson/Aiken 2003 —
    * the MOSS local fingerprinting scheme): token 3-gram hashes,
    * sliding windows of 4, keep each window's MINIMUM hash — the
    * guarantee is that any shared run of ≥ k+w−1 tokens between two
    * documents shares at least one selected fingerprint, so overlap
    * detection never misses a long-enough match while storing only
    * ~1/w of the grams. Shared-fingerprint pairs rank by a Jaccard-
    * style overlap on the winnowed sets.
    *
    * Unlike [[fingerprint]] (xxhash64 — engine-native, no oracle) the
    * gram hash here is md5 TEXT, portable bit-for-bit across engines,
    * and window minima are plain string minima — the whole pipeline is
    * oracle-checkable. Scale posture: the candidate join is an EQUI-
    * join on fingerprint value with a commonness cap (fingerprints
    * shared by >64 docs are boilerplate, dropped deterministically) —
    * the LSH-band shape, never all-pairs; per-doc work is linear in
    * token count (grams and windows are one pre-projected array pass). */
  def winnowing(spark: SparkSession, sfDir: String): DataFrame =
    winnowingOver(Tables.documents(spark, sfDir))

  /** [[winnowing]] over any (doc_id, text) relation — factored for the
    * guarantee spec (shared runs ≥ k+w−1 tokens must collide). */
  private[graft] def winnowingOver(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // RELATIONAL gram/window construction, not nested array lambdas:
    // ProjectCollapsing inlines a pre-projected gram array into the
    // per-window slice lambda (HOFs don't CSE), re-hashing every gram
    // once per window — O(len²) md5 per doc, measured 495 s at sf0.1.
    // posexplode + lead builds each gram hash exactly once and the
    // winnow minimum is a 4-row running-min frame on the SAME doc_id
    // exchange (one shuffle, two window passes) — 0.9 s at sf0.1.
    val wD = Window.partitionBy(col("doc_id")).orderBy(col("gp"))
    val wN = Window.partitionBy(col("doc_id"))
    val tok = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .toDF("doc_id", "gp", "t")
    val grams = tok
      .select(col("doc_id"), col("gp"),
        count(lit(1)).over(wN).as("n"),
        md5(concat_ws(" ", col("t"), lead(col("t"), 1).over(wD),
          lead(col("t"), 2).over(wD))).as("h"))
      .where(col("gp") <= greatest(col("n") - 3, lit(0L)))
    val winm = grams
      .select(col("doc_id"), col("gp"),
        count(lit(1)).over(wN).as("g"),
        min(col("h")).over(wD.rowsBetween(0, 3)).as("fp"))
      .where(col("gp") <= greatest(col("g") - 4, lit(0L)))
    // the fingerprint relation feeds three consumers (sizes, the
    // commonness filter, both self-join sides) — checkpoint it so the
    // gram pipeline runs once (join/union children don't CSE)
    val fps = winm.select(col("doc_id"), col("fp")).distinct()
      .localCheckpoint(eager = false)
    val sizes = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
    val ok = fps.groupBy(col("fp")).agg(count(lit(1)).as("nd"))
      .where(col("nd").between(2, 64)).select(col("fp"))
    val fo = fps.join(ok, "fp")
    fo.select(col("fp"), col("doc_id").as("a_id"))
      .join(fo.select(col("fp").as("fp_b"), col("doc_id").as("b_id")),
        col("fp") === col("fp_b") && col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("doc_id").as("a_id"), col("nf").as("na")),
        "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("nf").as("nb")),
        "b_id")
      .select(col("a_id"), col("b_id"), col("n_shared"),
        Det.r4(col("n_shared").cast("double") /
          (col("na") + col("nb") - col("n_shared")).cast("double"))
          .as("overlap"))
      .orderBy(col("overlap").desc, col("a_id"), col("b_id"))
      .limit(50)
  }

  /** Deterministic content-hash train/val/test split (80/10/10) — the
    * standard reproducible corpus partition for training pipelines:
    * bucketing on a CONTENT hash (md5, not a row id) keeps a document's
    * split stable under re-partitioning, re-ingestion, and dedup churn,
    * and identical duplicates can never straddle the train/eval
    * boundary (leakage). Map-side only — no shuffle, no UDF. */
  def trainValSplit(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        (conv(substring(md5(col("text")), 1, 8), 16, 10).cast("bigint")
          % 10).as("bucket"))
      .select(col("doc_id"), col("bucket"),
        when(col("bucket") < 8, "train")
          .when(col("bucket") === 8, "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")

  private val BudgetTokens = 10000L

  /** Token-budget stratified sampling — the data-MIXING primitive: cap
    * every language (or source) at a fixed token budget, filled in a
    * deterministic content-hash order. Docs sort by (md5(text), doc_id)
    * within their stratum — a reproducible shuffle order, stable across
    * runs, partitionings and engines — and survive while the running
    * token total stays within budget; the output is the per-stratum
    * mixing report (docs kept, tokens kept). One shuffle on lang. At
    * 100 TB the per-stratum window sort is the honest cost of an exact
    * greedy prefix; when a stratum outgrows a partition, the same
    * selection is a two-pass hash-threshold search (count tokens below
    * a hash cut, bisect the cut), which this hash order is chosen to
    * keep available. */
  def budgetSample(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        md5(col("text")).as("h"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .where(col("cum") <= lit(BudgetTokens))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok_kept"),
        max(col("cum")).as("cum_max"))
      .orderBy("lang")
  }

  private val NeymanTotal = 1000L

  /** NEYMAN-ALLOCATION stratified sampling (Neyman 1934) — the
    * variance-OPTIMAL way to spend a fixed sampling budget across
    * strata: n_h ∝ N_h·σ_h, so high-variance languages get more of the
    * budget than uniform ones, minimizing the variance of the overall
    * mean-length estimate. [[budgetSample]] spends a budget per
    * stratum; this op divides ONE budget between strata.
    *
    * Oracle-exact end to end: N_h·σ_h = sqrt(N_h·Σy² − S_h²) with the
    * radicand an exact DECIMAL(38,0); the IEEE sqrt is quantized to an
    * integer weight (floor ×1e6 — no half-boundary dialects), the
    * allocation is integer floor-division plus LARGEST-REMAINDER
    * rounding with a lang tiebreak (sums to the budget exactly), and
    * the sample itself fills in the deterministic (md5(text), doc_id)
    * content order. Headroom: budget·wq < 2^63 to ~1e9-char strata of
    * 1e9 docs. One stats aggregate + one per-stratum rank window —
    * the stratum relation (≤ #langs rows) does the tiny global work. */
  def neymanSample(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def dc(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
    val docs = Tables.documents(spark, sfDir)
    val st = docs.groupBy(col("lang")).agg(
      count(lit(1)).as("nd"), sum(col("n_chars")).as("s1"),
      sum(dc(col("n_chars")) * dc(col("n_chars"))).as("s2"))
    val m2 = (col("nd").cast("decimal(9,0)") * col("s2").cast("decimal(28,0)")
      - dc(col("s1")) * dc(col("s1"))).cast("double")
    val st2 = st.select(col("lang"), col("nd"),
      floor(sqrt(m2) * lit(1000000.0)).cast("long").as("wq"))
    val tot = st2.agg(sum(col("wq")).as("wsum"))
    // same (partition, order) spec as wRem — one fused WindowExec (r17)
    val wRem = Window.partitionBy(lit(1))
      .orderBy(col("rem").desc, col("lang"))
    val wAll = wRem
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val alloc = st2.crossJoin(broadcast(tot))
      .select(col("lang"), col("nd"), col("wq"),
        expr(s"($NeymanTotal * wq) DIV wsum").as("base"),
        expr(s"($NeymanTotal * wq) % wsum").as("rem"))
      .select(col("lang"), col("nd"), col("wq"), col("base"),
        row_number().over(wRem).cast("long").as("rk"),
        (lit(NeymanTotal) - sum(col("base")).over(wAll)).as("leftover"))
      .select(col("lang"), col("nd"), col("wq"),
        least(col("base") + when(col("rk") <= col("leftover"), 1L)
          .otherwise(0L), col("nd")).as("alloc"))
    val wPick = Window.partitionBy(col("lang"))
      .orderBy(col("h"), col("doc_id"))
    docs.select(col("doc_id"), col("lang"), col("n_chars"),
      md5(col("text")).as("h"))
      .withColumn("rn", row_number().over(wPick).cast("long"))
      .join(alloc, "lang")
      .where(col("rn") <= col("alloc"))
      .groupBy(col("lang"))
      .agg(max(col("nd")).as("n_docs"), max(col("wq")).as("w_scaled"),
        max(col("alloc")).as("alloc"), count(lit(1)).as("n_sampled"),
        Det.r4(sum(col("n_chars")).cast("double") /
          count(lit(1)).cast("double")).as("sample_mean_chars"))
      .orderBy("lang")
  }

  /** COHEN'S KAPPA between two quality filters — the filter-agreement
    * audit every curation pipeline wants before swapping a cheap rule
    * for an expensive one: raw agreement p_o overstates consensus when
    * both filters pass almost everything; κ = (p_o − p_e)/(1 − p_e)
    * discounts chance agreement from the margins. Raters here are the
    * char-length gate (n_chars ≥ 300) and the token-count gate
    * (≥ 55 tokens) — the two cheapest length screens, deliberately
    * correlated but not identical. Four exact BIGINT cells off one
    * pass, then one double-before-product IEEE text; NULL κ on a
    * degenerate p_e = 1 margin in both engines. */
  def filterKappa(spark: SparkSession, sfDir: String): DataFrame = {
    val r = Tables.documents(spark, sfDir)
      .select((col("n_chars") >= 300L).as("r1"),
        (size(split(col("text"), " ")) >= 55).as("r2"))
    val cells = r.agg(
      sum(when(col("r1") && col("r2"), 1L).otherwise(0L)).as("a"),
      sum(when(col("r1") && !col("r2"), 1L).otherwise(0L)).as("b"),
      sum(when(!col("r1") && col("r2"), 1L).otherwise(0L)).as("c"),
      sum(when(!col("r1") && !col("r2"), 1L).otherwise(0L)).as("d"))
    def d(c: Column) = c.cast("double")
    val n = d(col("a")) + d(col("b")) + d(col("c")) + d(col("d"))
    val po = (d(col("a")) + d(col("d"))) / n
    val pe = ((d(col("a")) + d(col("b"))) * (d(col("a")) + d(col("c"))) +
      (d(col("c")) + d(col("d"))) * (d(col("b")) + d(col("d")))) /
      (n * n)
    cells.select(col("a"), col("b"), col("c"), col("d"),
      Det.r4(po).as("po"), Det.r4(pe).as("pe"),
      when(pe < lit(1.0), Det.r4((po - pe) / (lit(1.0) - pe)))
        .otherwise(lit(null)).as("kappa"))
  }

  /** COCHRAN'S Q TEST over k = 3 binary quality filters — the
    * k-treatment generalization of [[filterKappa]]'s McNemar pairing
    * (Cochran 1950): do the length gate, the token-count gate and the
    * mean-token-length gate pass systematically DIFFERENT fractions
    * of the same documents? Fully ORACLE-CHECKABLE: with row sums
    * Rᵢ and column sums Cⱼ (all exact BIGINTs),
    * Q = (k−1)·(k·ΣCⱼ² − T²) / (k·T − ΣRᵢ²) — a ratio of two exact
    * integers (DECIMAL(38,0)/HUGEINT against hypothetical trillion-doc
    * counts), divided once as doubles. NULL on a degenerate design
    * (all rows all-pass or all-fail ⇒ zero denominator). One
    * aggregate pass; no shuffle beyond the map-side combine. */
  def filterCochranQ(spark: SparkSession, sfDir: String): DataFrame = {
    val x = Tables.documents(spark, sfDir)
      .select(
        when(col("n_chars") >= 300L, 1L).otherwise(0L).as("x1"),
        when(size(split(col("text"), " ")) >= 55, 1L).otherwise(0L)
          .as("x2"),
        when(col("n_chars") >=
          size(split(col("text"), " ")).cast("long") * lit(5L), 1L)
          .otherwise(0L).as("x3"))
      .withColumn("ri", col("x1") + col("x2") + col("x3"))
    val s = x.agg(count(lit(1)).as("n"),
      sum(col("x1")).as("c1"), sum(col("x2")).as("c2"),
      sum(col("x3")).as("c3"),
      sum(col("ri")).as("t"), sum(col("ri") * col("ri")).as("sr2"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val num = (dec(col("c1")) * col("c1") + dec(col("c2")) * col("c2") +
      dec(col("c3")) * col("c3")) * lit(3) - dec(col("t")) * col("t")
    val den = dec(col("t")) * lit(3) - dec(col("sr2"))
    s.select(col("n"), col("c1"), col("c2"), col("c3"),
      when(den > lit(0),
        Det.r4(lit(2.0) * num.cast("double") / den.cast("double")))
        .otherwise(lit(null)).as("q"))
  }

  private val TempTotal = 2000L

  /** TEMPERATURE-SCALED SOURCE SAMPLING (α = 1/2) — the multilingual
    * data-mixing standard (mBERT / XLM-R exponent trick [U]: sample
    * source h with probability ∝ p_h^α, α < 1, so low-resource
    * sources are boosted and the head crawl stops drowning the mix).
    * α = 1/2 makes the weight kernel sqrt — IEEE-correctly-rounded,
    * NOT libm — so unlike a general-α power this one is fully
    * ORACLE-CHECKABLE: wq = floor(√nd·10⁶) exact per stratum, the
    * budget splits by integer floor-division + largest-remainder with
    * a source tiebreak (sums to the budget exactly — the
    * [[neymanSample]] allocation machinery verbatim), and the
    * reported boost (alloc share ÷ natural share) is one
    * double-before-product IEEE expression. Strata relation is
    * |sources| rows — all global work is tiny. */
  def temperatureMix(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val st = Tables.documents(spark, sfDir)
      .groupBy(col("source")).agg(count(lit(1)).as("nd"))
    val st2 = st.select(col("source"), col("nd"),
      floor(sqrt(col("nd").cast("double")) * lit(1000000.0))
        .cast("long").as("wq"))
    val tot = st2.agg(sum(col("wq")).as("wsum"), sum(col("nd")).as("ndt"))
    // same (partition, order) spec as wRem — one fused WindowExec (r17)
    val wRem = Window.partitionBy(lit(1))
      .orderBy(col("rem").desc, col("source"))
    val wAll = wRem
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def d(c: Column) = c.cast("double")
    st2.crossJoin(broadcast(tot))
      .select(col("source"), col("nd"), col("ndt"), col("wq"),
        expr(s"($TempTotal * wq) DIV wsum").as("base"),
        expr(s"($TempTotal * wq) % wsum").as("rem"))
      .select(col("source"), col("nd"), col("ndt"), col("wq"),
        col("base"),
        row_number().over(wRem).cast("long").as("rk"),
        (lit(TempTotal) - sum(col("base")).over(wAll)).as("leftover"))
      .select(col("source"), col("nd"), col("ndt"), col("wq"),
        least(col("base") + when(col("rk") <= col("leftover"), 1L)
          .otherwise(0L), col("nd")).as("alloc"))
      .select(col("source"), col("nd").as("n_docs"),
        col("wq").as("w_scaled"), col("alloc"),
        Det.r4((d(col("alloc")) * d(col("ndt"))) /
          (lit(TempTotal.toDouble) * d(col("nd")))).as("boost"))
      .orderBy("source")
  }

  private val MixSubBudget = 500L
  private val MixLangBudget = 4000L

  /** TWO-LEVEL budget mixing — the real shape of a training-data mix:
    * cap every (lang, source) cell at a sub-budget (no source may
    * dominate its language), then cap each language at its budget over
    * the cell survivors. Both levels fill in the same deterministic
    * (md5(text), doc_id) order as [[budgetSample]], so the selection is
    * an exact nested greedy prefix, reproducible across engines. Two
    * window shuffles (cell key, then lang key) + the report aggregate —
    * each partition-local beyond its own exchange. */
  def budgetMix(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def running(w: org.apache.spark.sql.expressions.WindowSpec) =
      sum(col("n_tok")).over(w.orderBy(col("h"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        md5(col("text")).as("h"))
      .withColumn("cum1",
        running(Window.partitionBy(col("lang"), col("source"))))
      .where(col("cum1") <= lit(MixSubBudget))
      .withColumn("cum2", running(Window.partitionBy(col("lang"))))
      .where(col("cum2") <= lit(MixLangBudget))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok_kept"))
      .orderBy("lang", "source")
  }

  private val ChunkTokens = 32
  private val ChunkStep = 24 // 8-token overlap between consecutive chunks

  /** Fixed-size token-window chunking with overlap — the
    * context-window-preparation step of every training pipeline: each
    * document explodes into [[ChunkTokens]]-token windows starting every
    * [[ChunkStep]] tokens (8-token overlap so no boundary context is
    * lost). Pre-split token arrays + sequence/slice higher-order
    * functions: linear, map-side, no UDF; the explode fan-out is bounded
    * by tokens/step per document. */
  def chunkDocs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - 1,
          lit(ChunkStep))).as("start"))
      .select(col("doc_id"),
        expr(s"CAST(start div $ChunkStep AS BIGINT)").as("chunk_idx"),
        size(expr(s"slice(toks, start + 1, $ChunkTokens)"))
          .cast("bigint").as("n_tok"),
        array_join(expr(s"slice(toks, start + 1, $ChunkTokens)"), " ")
          .as("chunk"))
      .orderBy("doc_id", "chunk_idx")

  private val PackBudget = 256L

  /** Sequence PACKING — the concat-and-cut step that turns a curated
    * corpus into fixed-length training sequences (the GPT-style
    * pretraining layout: concatenate documents in a deterministic
    * order, cut every [[PackBudget]] tokens): each document lands in
    * the pack where its first token falls, `pack_id = (cum − n_tok)
    * div budget` over the running token total. Packing runs per SOURCE
    * stratum (embarrassingly parallel — one window shuffle on source);
    * the concat order is the same reproducible (md5(text), doc_id)
    * shuffle order as [[budgetSample]], so the layout is stable across
    * runs, partitionings and engines. The report is per-pack doc and
    * token counts — pack token totals hover around the budget because
    * documents are not split (pad-or-overflow is the trainer's choice).
    * At 100 TB a single global concat would serialize on one window
    * partition; per-stratum packing is the scale-honest layout (exact
    * global offsets, if ever needed, are one broadcast of per-stratum
    * totals away — a prefix scan). */
  def packSequences(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        md5(col("text")).as("h"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("pack_id", expr(s"(cum - n_tok) div ${PackBudget}L"))
      .groupBy(col("source"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tok"))
      .orderBy("source", "pack_id")
  }

  /** CORPUS DATA CARD — the one-row dataset summary a curation run
    * ships with its output (the "dataset card" numbers: volume,
    * provenance breadth, duplication, quality yield): document and
    * whitespace-token totals, source/lang breadth, exact-dup text
    * ratio, and the Gopher gate's keep rate with its token-weighted
    * share — every count exact, every ratio the shared IEEE rounding
    * over exact integers, the rule flags shared verbatim with the
    * gate. ONE aggregation pass over the doc table (the distinct
    * counts expand map-side at doc grain); at 100 TB this is the same
    * single-shuffle scan any corpus summary costs. */
  def corpusCard(spark: SparkSession, sfDir: String): DataFrame = {
    val flags = gopherFlags(Tables.documents(spark, sfDir))
      .withColumn("h", md5(col("text")))
    flags.agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_ws_tokens"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("h")).as("n_uniq_texts"),
        sum(col("keep")).as("n_keep"),
        sum(col("n_tok") * col("keep")).as("tok_kept"))
      .select(col("n_docs"), col("n_ws_tokens"), col("n_sources"),
        col("n_langs"), col("n_uniq_texts"),
        Det.r4(col("n_uniq_texts").cast("double") / col("n_docs"))
          .as("uniq_ratio"),
        col("n_keep"),
        Det.r4(col("n_keep").cast("double") / col("n_docs"))
          .as("keep_rate"),
        Det.r4(col("tok_kept").cast("double") / col("n_ws_tokens"))
          .as("tok_kept_share"))
  }

  /** CURRICULUM PACKING — [[packSequences]] with the fill order keyed
    * on QUALITY first: documents sort by (gopher rule-pass grade DESC,
    * content hash, doc_id) inside each source, so the early packs a
    * curriculum-ordered training run consumes first are the cleanest
    * ones and the boilerplate tail lands last (Bengio et al. ICML'09
    * curriculum learning, applied at the data-layout level). The
    * grade is the integer count of passed Gopher rules (0–4, shared
    * verbatim with [[gopherFlags]] so the ordering cannot drift from
    * the quality gate); per-pack min/max grade expose the gradient.
    * Same window/pack shape and scale posture as the hash-ordered
    * pack. */
  def curriculumPack(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val flags = gopherFlags(Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text")))
      .withColumn("grade",
        col("r_len") + col("r_wordlen") + col("r_ttr") + col("r_stop"))
      .withColumn("h", md5(col("text")))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("grade").desc, col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flags
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("pack_id", expr(s"(cum - n_tok) div ${PackBudget}L"))
      .groupBy(col("source"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tok"),
        min(col("grade")).as("min_grade"), max(col("grade")).as("max_grade"))
      .orderBy("source", "pack_id")
  }

  /** Word n-gram array over a PRE-projected token-array column (never
    * split inside the lambda — the CSE gotcha): shared by the
    * repetition and decontamination queries. Caller guarantees
    * size(arr) >= n (sequence would otherwise descend). */
  private[graft] def ngramExpr(arr: String, n: Int): String = {
    val parts = (0 until n)
      .map(j => if (j == 0) s"$arr[i]" else s"$arr[i+$j]").mkString(", ")
    s"transform(sequence(0, size($arr) - $n), i -> concat_ws(' ', $parts))"
  }

  /** Per-document CHARACTER-LEVEL nearest neighbor by LEVENSHTEIN
    * distance — the contamination-risk profile that token-set Jaccard
    * misses (one edited character changes a whole token; it is one
    * unit of edit distance): every document's closest same-shape
    * neighbor and how close it is, the distribution a curation run
    * reads before setting a char-level dedup threshold. Candidates
    * BLOCK on (lang, token-count decade) so the quadratic DP only
    * runs inside small same-shape buckets (near-dups rarely straddle
    * a 10-token length gap); the doc_id<150 slice bounds the declared
    * read like [[jaccardPairs]]; distances compare on the 60-char
    * prefix (the DP is O(len²) per pair — prefix comparison is the
    * production compromise). Exact integers + min-struct tiebreak ⇒
    * oracle-checkable. */
  def editNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .where(col("doc_id") < 150)
      .select(col("doc_id"), col("lang"),
        expr("size(split(text, ' ')) div 10").as("blk"),
        substring(col("text"), 1, 60).as("px"))
    val a = d.select(col("doc_id").as("a_id"), col("lang"), col("blk"),
      col("px").as("pa"))
    val b = d.select(col("doc_id").as("b_id"), col("lang"), col("blk"),
      col("px").as("pb"))
    a.join(b, Seq("lang", "blk")).where(col("a_id") =!= col("b_id"))
      .select(col("a_id"),
        levenshtein(col("pa"), col("pb")).cast("long").as("dist"),
        col("b_id"))
      .groupBy(col("a_id"))
      .agg(min(struct(col("dist"), col("b_id"))).as("m"))
      .select(col("a_id").as("doc_id"), col("m.b_id").as("nn_id"),
        col("m.dist").as("dist"))
      .orderBy("doc_id")
  }

  /** RAKE KEYWORD EXTRACTION (Rose et al. 2010) over the corpus — the
    * classic unsupervised keyword op every doc-understanding pipeline
    * carries: candidate phrases are maximal stopword-free runs, each
    * word scores deg/freq (deg = Σ phrase length over its phrases,
    * freq = occurrences — both exact integers), and a phrase scores
    * the sum of its words' scores. Determinism discipline: the word
    * score quantizes as (deg·10¹²) div freq BIGINT, per-occurrence
    * phrase scores are BIGINT sums of those quanta, and identical
    * phrase text ⇒ identical words ⇒ identical score, so the corpus
    * grouping is exact. Shape: one posexplode pass, a per-doc
    * cumulative window for phrase ids (doc-grain, embarrassingly
    * parallel), two vocabulary-keyed aggregates, one equi-join —
    * never a self-join. Top-20 under the (score_q DESC, phrase)
    * total order. */
  def rakeKeywords(spark: SparkSession, sfDir: String): DataFrame = {
    val stop = Seq("a", "the", "of", "and", "to", "in", "is")
    val words = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
    val wSeg = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val seg = words
      .withColumn("pid",
        sum(when(col("w").isin(stop: _*), 1L).otherwise(0L)).over(wSeg))
      .where(!col("w").isin(stop: _*))
    val phrases = seg.groupBy(col("doc_id"), col("pid"))
      .agg(sort_array(collect_list(struct(col("pos"), col("w"))))
        .as("ws"))
      .select(col("doc_id"), col("pid"),
        expr("array_join(transform(ws, x -> x.w), ' ')").as("phrase"),
        size(col("ws")).cast("long").as("n_words"))
    val pw = phrases
      .select(col("doc_id"), col("pid"), col("phrase"), col("n_words"),
        explode(split(col("phrase"), " ")).as("w"))
      .localCheckpoint(eager = false) // word stats + scoring join
    val ws = pw.groupBy(col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("n_words")).as("deg"))
      .select(col("w"),
        expr("(deg * 1000000000000L) div freq").as("wscore_q"))
    val occ = pw.join(ws, "w")
      .groupBy(col("doc_id"), col("pid"), col("phrase"), col("n_words"))
      .agg(sum(col("wscore_q")).as("score_q"))
    occ.groupBy(col("phrase"), col("n_words"), col("score_q"))
      .agg(count(lit(1)).as("n_occurrences"))
      .select(col("phrase"), col("n_words"), col("n_occurrences"),
        col("score_q"),
        Det.r4(col("score_q").cast("double") / lit(1.0e12)).as("score"))
      .orderBy(col("score_q").desc, col("phrase"))
      .limit(20)
  }

  /** TEXTRANK KEYWORD SCORES (Mihalcea & Tarau 2004) — the
    * graph-centrality complement of [[rakeKeywords]]: words are nodes,
    * adjacent-word co-occurrences are weighted undirected edges, and
    * the score is damped weighted PageRank. The whole iteration reuses
    * the q_part_pagerank INTEGER discipline, extended to weights:
    * r′(v) = 150000 + (85·Σ_{u~v} ((r(u)·w_uv) div wtot(u))) div 100 —
    * every round exact BIGINT (r stays ≈10⁶ by the damped weighted-
    * average bound; r·w ≤ 10⁶·Σw holds BIGINT to ~9·10¹² corpus
    * bigrams — widen past that), so 3 unrolled rounds match a chained
    * MATERIALIZED-CTE DuckDB twin bit-for-bit. The corpus-scale work
    * is the ONE bigram extraction pass; the graph itself is
    * vocabulary-sized, so rounds are model-sized joins. Top-20 under
    * the (rank_scaled DESC, word) total order. */
  def textRank(spark: SparkSession, sfDir: String): DataFrame = {
    val stop = Seq("a", "the", "of", "and", "to", "in", "is")
    val bg = Tables.documents(spark, sfDir)
      .select(split(col("text"), " ").as("tk"))
      .where(size(col("tk")) >= 2)
      .select(explode(expr(ngramExpr("tk", 2))).as("bg"))
      .select(split(col("bg"), " ").getItem(0).as("w1"),
        split(col("bg"), " ").getItem(1).as("w2"))
      .where(!col("w1").isin(stop: _*) && !col("w2").isin(stop: _*) &&
        col("w1") =!= col("w2"))
    val e = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("w"))
      .localCheckpoint(eager = false) // both orientations
    val sym = e.select(col("w1").as("src"), col("w2").as("dst"), col("w"))
      .unionByName(e.select(col("w2").as("src"), col("w1").as("dst"),
        col("w")))
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
      .localCheckpoint(eager = false) // deg + every round
    val deg = sym.groupBy(col("src")).agg(sum(col("w")).as("wtot"))
      .localCheckpoint(eager = false) // rounds + summary
    var r = deg.select(col("src").as("node"), lit(1000000L).as("r"))
    for (_ <- 1 to 3) {
      val sumin = sym
        .join(r, col("node") === col("src"))
        .join(deg, "src")
        .select(col("dst"), expr("(r * w) div wtot").as("cv"))
        .groupBy(col("dst")).agg(sum(col("cv")).as("s"))
      r = deg.select(col("src").as("node"))
        .join(sumin, col("node") === col("dst"), "left")
        .select(col("node"),
          expr("150000L + (85 * coalesce(s, 0L)) div 100").as("r"))
        .localCheckpoint(eager = false) // next round + summary
    }
    r.join(deg, col("node") === col("src"))
      .select(col("node").as("word"), col("wtot"),
        col("r").as("rank_scaled"))
      .orderBy(col("rank_scaled").desc, col("word"))
      .limit(20)
  }

  /** Vocabulary ZIPF profile — the corpus-health shape check (a missing
    * tail means over-aggressive dedup; a bloated head means boilerplate
    * flooding): token frequencies histogram by decimal MAGNITUDE — the
    * digit count of the frequency, an exact cross-engine "log10 bucket"
    * (libm log10 would drift at ulp boundaries; string length of an
    * integer cannot). Two aggregations, the second over the vocabulary
    * relation only. */
  def vocabZipf(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(toks).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
      .groupBy(length(col("c").cast("string")).cast("long").as("magnitude"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("c")).as("occurrences"))
      .orderBy("magnitude")

  /** VOCABULARY GROWTH (Heaps'-law) CURVE — distinct types vs corpus
    * size at ten doc-order checkpoints: the saturation read a corpus
    * team uses to judge "is more of this source still adding
    * vocabulary". Deciles come from the document RANK (integer
    * (rn−1)·10 div n — both engines' integer division), a token's
    * first-seen decile is min(decile) (equal to the decile of its
    * first doc, since the decile is monotone in doc_id), and every
    * reported number is an exact integer running sum over the 10-row
    * grid — no float anywhere. The explode is the standard
    * corpus-sized token pass; first-seen is one vocabulary-keyed
    * aggregate (the explode_tokens shuffle). The doc-rank window is
    * document-count-grain; past one executor's worth of doc IDS the
    * production form is the two-pass distributed rank
    * ([[graft.rel.RelationalOps.mannWhitneyDistributed]] — range
    * partition, per-partition counts, broadcast prefix offsets), the
    * documented scale path for this rank family. */
  def vocabGrowth(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .localCheckpoint(eager = false) // rank grid + token explode
    val wR = Window.orderBy(col("doc_id"))
    val deciles = d.select(col("doc_id"))
      .withColumn("rn", row_number().over(wR).cast("long"))
      .withColumn("nd", count(lit(1)).over(Window.partitionBy()))
      .select(col("doc_id"), expr("((rn - 1) * 10) div nd").as("dk"))
      .localCheckpoint(eager = false) // doc counts + token join
    vocabGrowthFrom(d, deciles)
  }

  /** DISTRIBUTED-RANK production twin of [[vocabGrowth]] (the r13
    * doc-rank residue): the exact form's decile grid rides a GLOBAL
    * `Window.orderBy(doc_id)` — a single-partition sort of every doc id,
    * the wrong shape past one executor's worth of documents. This twin
    * derives the SAME integer ranks with the two-pass distributed rank
    * ([[graft.rel.RelationalOps.exactQuantilesDistributed]]'s
    * scaffolding): range-partition the (unique) doc ids, count per
    * partition, collect only the P partition totals into broadcast
    * prefix offsets, then emit rank = offset + local position during one
    * sorted partition walk. Ranks — and therefore deciles, and therefore
    * every downstream integer — are IDENTICAL to the window form's by
    * uniqueness of doc_id, so it registers against the SAME oracle SQL
    * (the rfm_segments_dist precedent) and is spec'd row-equal at
    * several partition counts. Driver traffic is P longs. */
  def vocabGrowthDistributed(spark: SparkSession, sfDir: String,
      partitions: Int = 8): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .localCheckpoint(eager = false) // rank pass + token explode
    val ids = d.select(col("doc_id")).as[Long]
      .repartitionByRange(partitions, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .localCheckpoint(eager = false) // totals pass + rank pass
    val partTotals = ids.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var t = 0L
      it.foreach(_ => t += 1L)
      Iterator((pid, t))
    }.collect().toMap
    val n = partTotals.values.sum
    val offsets = (0 until partitions).map { p =>
      p -> (0 until p).map(q => partTotals.getOrElse(q, 0L)).sum
    }.toMap
    val bcOff = spark.sparkContext.broadcast(offsets)
    val bcN = spark.sparkContext.broadcast(n)
    val deciles = ids.mapPartitions { it =>
        var rn = bcOff.value(
          org.apache.spark.TaskContext.getPartitionId())
        it.map { id =>
          rn += 1L
          (id, (rn - 1L) * 10L / bcN.value)
        }
      }
      .toDF("doc_id", "dk")
      .localCheckpoint(eager = false) // doc counts + token join
    vocabGrowthFrom(d, deciles)
  }

  /** Shared tail of [[vocabGrowth]] / [[vocabGrowthDistributed]]: the
    * corpus token pass, first-seen vocabulary aggregate and 10-row
    * cumulative grid over a caller-supplied (doc_id, dk) decile map. */
  private def vocabGrowthFrom(d: DataFrame, deciles: DataFrame)
      : DataFrame = {
    val toks = d
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .join(deciles, "doc_id")
      .localCheckpoint(eager = false) // first-seen + per-decile counts
    val newTypes = toks.groupBy(col("token"))
      .agg(min(col("dk")).as("dk"))
      .groupBy(col("dk")).agg(count(lit(1)).as("new_types"))
    val perDec = toks.groupBy(col("dk")).agg(count(lit(1)).as("n_tok"))
    val docsDec = deciles.groupBy(col("dk")).agg(count(lit(1)).as("n_docs"))
    val wC = Window.orderBy(col("dk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docsDec.join(perDec, Seq("dk"), "left")
      .join(newTypes, Seq("dk"), "left")
      .na.fill(0L, Seq("n_tok", "new_types"))
      .select(col("dk"),
        sum(col("n_docs")).over(wC).as("cum_docs"),
        sum(col("n_tok")).over(wC).as("cum_tokens"),
        sum(col("new_types")).over(wC).as("cum_types"))
      .orderBy("dk")
  }

  /** Bigram-LM NOVELTY scoring — the language-model quality filter
    * (CCNet / GPT-3 data prep [U] use LM perplexity; this is its
    * cross-engine-exact core): a bigram model is learned from the
    * corpus itself (conditional MLE c(w1,w2)/c(w1·)), every document
    * is scored by its RAREST transition (min p) and its count of
    * below-threshold transitions — order statistics and integer
    * counts, not a log-prob sum, precisely so the whole read stays
    * IEEE-exact in both engines (each p is one BIGINT/BIGINT divide;
    * a Σlog p accumulation would drift). Shape: two aggregations
    * build the model, one broadcast join scores — at production the
    * model table is vocabulary-capped like [[langid]]'s, keeping the
    * broadcast O(vocab²-capped) regardless of corpus size. */
  def lmNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .where(size(col("tk")) >= 2)
    // the exploded bigram relation feeds BOTH the model aggregation and
    // the scoring join; checkpointing it lazily halves the scan+explode
    // cost (the Pipeline stage-cache pattern; plan assertions inspect
    // the pre-checkpoint relation — checkpoints truncate lineage)
    val big = docs.select(col("doc_id"),
      explode(expr(ngramExpr("tk", 2))).as("bg"))
      .localCheckpoint(eager = false)
    val bgCnt = big.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    val uniCnt = bgCnt
      .groupBy(split(col("bg"), " ").getItem(0).as("w1"))
      .agg(sum(col("c2")).as("c1"))
    val model = bgCnt
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .join(uniCnt, "w1")
      .select(col("bg"),
        (col("c2").cast("double") / col("c1").cast("double")).as("p"))
    big.join(broadcast(model), "bg")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bg"),
        Det.r4(min(col("p"))).as("min_p"),
        sum(when(col("p") < 0.05, 1L).otherwise(0L)).as("n_rare"))
      .orderBy("doc_id")
  }

  /** PER-DOCUMENT BIGRAM-LM PERPLEXITY — the staple LM-based quality
    * score (CCNet / Wenzek et al. [U] filter by LM perplexity; this is
    * the engine-native form: an add-one-smoothed bigram model trained
    * on the corpus itself, scored back over every document). NO ORACLE
    * by the no-libm rule (ln/exp are libm); instead spec-gated against
    * a driver reference sharing the JVM's Math.log/exp bit-for-bit,
    * and made ORDER-INDEPENDENT by the quantized-log discipline: each
    * bigram's log-prob is floor-quantized at 1e9 ONCE (a fixed
    * function of the model counts), per-doc sums are then exact
    * BIGINTs — no double-sum shuffle-order drift. H = −Σqlp/(1e9·n),
    * ppl = e^H. Shapes like [[lmNovelty]]: one exploded bigram
    * relation (lazily checkpointed) feeds both the model aggregation
    * and the scoring join; the model is bigram-vocab-sized and
    * broadcasts. The min-prob corner of this score is the
    * oracle-checked [[lmNovelty]]. */
  def perplexity(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .where(size(col("tk")) >= 2)
    val big = docs.select(col("doc_id"),
      explode(expr(ngramExpr("tk", 2))).as("bg"))
      .localCheckpoint(eager = false) // model agg + scoring join
    val bgCnt = big.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    val uniCnt = bgCnt
      .groupBy(split(col("bg"), " ").getItem(0).as("w1"))
      .agg(sum(col("c2")).as("c1"))
    val vDf = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    def d(c: Column) = c.cast("double")
    val model = bgCnt
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .join(uniCnt, "w1")
      .crossJoin(broadcast(vDf))
      .select(col("bg"),
        floor(log(d(col("c2") + lit(1L)) / d(col("c1") + col("v"))) *
          lit(1.0e9)).cast("long").as("qlp"))
    val h = (lit(0.0) - d(col("qsum")) / lit(1.0e9)) / d(col("n_bg"))
    big.join(broadcast(model), "bg")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bg"), sum(col("qlp")).as("qsum"))
      .select(col("doc_id"), col("n_bg"),
        Det.r4(h).as("h"), Det.r4(exp(h)).as("ppl"))
      .orderBy("doc_id")
  }

  /** Shared (source, token) count histogram — the feed for the whole
    * source-distribution family ([[klDrift]], [[entropyMix]],
    * [[driftTokens]], [[renyi2Rank]]): one explode + one aggregate at
    * (source, token) grain, everything downstream is histogram-sized. */
  private def sourceTokenCounts(spark: SparkSession,
      sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("c"))

  /** PER-SOURCE KL / JS DRIFT — the distribution-level curation read
    * beside [[chisqDrift]]'s test statistic: how far is each source's
    * unigram distribution from the corpus mixture, in nats (KL) and in
    * the bounded symmetric form (JS ∈ [0, ln 2])? NO ORACLE (ln is
    * libm); spec-gated vs a driver fold, and order-independent by the
    * quantized-term discipline: each token's contribution is floor-
    * quantized at 1e12 (a fixed function of exact counts), sums are
    * BIGINTs. The (source × corpus-vocab) grid the JS mixture needs is
    * the cliffs-delta fan-out shape — vocab-grain × a handful of
    * sources, never row grain. Token-ranked drift DIRECTION is the
    * oracle-checked [[driftTokens]]. */
  def klDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = sourceTokenCounts(spark, sfDir)
      .localCheckpoint(eager = false) // corpus roll-up + grid join
    val corp = tok.groupBy(col("w")).agg(sum(col("c")).as("cc"))
    val nSrc = tok.groupBy(col("source")).agg(sum(col("c")).as("ns"))
    val nCorp = nSrc.agg(sum(col("ns")).as("nc"))
    def d(c: Column) = c.cast("double")
    val grid = corp.crossJoin(broadcast(nSrc))
      .join(tok, Seq("source", "w"), "left")
      .na.fill(0L, Seq("c"))
      .crossJoin(broadcast(nCorp))
    val p = d(col("c")) / d(col("ns"))
    val q = d(col("cc")) / d(col("nc"))
    val m = (p + q) / lit(2.0)
    val klT = when(col("c") > 0L, p * log(p / q)).otherwise(lit(0.0))
    val jsT = (when(col("c") > 0L, p * log(p / m)).otherwise(lit(0.0)) +
      q * log(q / m)) / lit(2.0)
    grid.groupBy(col("source"))
      .agg(max(col("ns")).as("n_tokens"),
        sum(floor(klT * lit(1.0e12)).cast("long")).as("klq"),
        sum(floor(jsT * lit(1.0e12)).cast("long")).as("jsq"))
      .select(col("source"), col("n_tokens"),
        Det.r4(d(col("klq")) / lit(1.0e12)).as("kl"),
        Det.r4(d(col("jsq")) / lit(1.0e12)).as("js"))
      .orderBy("source")
  }

  /** SHANNON-ENTROPY MIX METRICS — the corpus-balance read every data
    * card wants: per-source token entropy H = −Σp·ln p with evenness
    * H/ln V (Pielou), plus one `__mix__` row giving the entropy of the
    * source-size mix itself (is the corpus one giant crawl plus
    * crumbs, or balanced?). NO ORACLE (ln is libm); spec-gated vs a
    * driver fold; order-independent by the same 1e12 floor-quantized
    * term discipline. The oracle-checked rank twin is [[renyi2Rank]]
    * (rank by the log's ARGUMENT — the collocations PMI precedent).
    * Union sides share one checkpointed per-source relation (union
    * children don't CSE — the standing rule). */
  def entropyMix(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = sourceTokenCounts(spark, sfDir)
      .localCheckpoint(eager = false) // per-source terms + totals
    val nSrc = tok.groupBy(col("source"))
      .agg(sum(col("c")).as("ns"), countDistinct(col("w")).as("v"))
      .localCheckpoint(eager = false) // per-source rows + the mix row
    def d(c: Column) = c.cast("double")
    val pp = d(col("c")) / d(col("ns"))
    val perSrc = tok.join(broadcast(nSrc), "source")
      .select(col("source"), col("ns"), col("v"),
        floor(pp * log(pp) * lit(-1.0e12)).cast("long").as("hq"))
      .groupBy(col("source"), col("ns"), col("v"))
      .agg(sum(col("hq")).as("hqs"))
      .select(col("source"), col("ns").as("n_tokens"),
        col("v").as("vocab"),
        Det.r4(d(col("hqs")) / lit(1.0e12)).as("h"),
        when(col("v") > 1L,
          Det.r4(d(col("hqs")) / lit(1.0e12) / log(d(col("v")))))
          .otherwise(lit(null)).as("evenness"))
    val nTot = nSrc.agg(sum(col("ns")).as("nt"))
    val ps = d(col("ns")) / d(col("nt"))
    val mix = nSrc.crossJoin(broadcast(nTot))
      .select(col("nt"),
        floor(ps * log(ps) * lit(-1.0e12)).cast("long").as("hq"))
      .groupBy(col("nt"))
      .agg(sum(col("hq")).as("hqs"), count(lit(1)).as("k"))
      .select(lit("__mix__").as("source"), col("nt").as("n_tokens"),
        col("k").as("vocab"),
        Det.r4(d(col("hqs")) / lit(1.0e12)).as("h"),
        when(col("k") > 1L,
          Det.r4(d(col("hqs")) / lit(1.0e12) / log(d(col("k")))))
          .otherwise(lit(null)).as("evenness"))
    perSrc.unionByName(mix).orderBy("source")
  }

  /** DRIFT-DIRECTION TOKENS — the ORACLE-CHECKED member of the
    * [[klDrift]] family: each source's top tokens by probability ratio
    * p_src/p_corpus (the pointwise KL contribution's direction). The
    * log is monotone in the ratio, so ranking by the ratio ranks by
    * pointwise KL sign/magnitude WITHOUT libm (the q_llm_collocations
    * PMI precedent): ratio = (c·N_corpus)/(N_src·cc) with every factor
    * cast to double BEFORE multiplying (the r10 overflow rule), one
    * IEEE expression shared verbatim with DuckDB, ordered UNROUNDED
    * (identical doubles ⇒ identical order) with a token tiebreak.
    * c ≥ 5 floors noise; top-3 per source via row_number. */
  def driftTokens(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = sourceTokenCounts(spark, sfDir)
      .localCheckpoint(eager = false) // corpus roll-up + ratio join
    val corp = tok.groupBy(col("w")).agg(sum(col("c")).as("cc"))
    val nSrc = tok.groupBy(col("source")).agg(sum(col("c")).as("ns"))
    val nCorp = nSrc.agg(sum(col("ns")).as("nc"))
    def d(c: Column) = c.cast("double")
    val ratio = (d(col("c")) * d(col("nc"))) /
      (d(col("ns")) * d(col("cc")))
    val wS = Window.partitionBy(col("source"))
      .orderBy(col("ratio").desc, col("w"))
    tok.where(col("c") >= 5L)
      .join(corp, "w")
      .join(broadcast(nSrc), "source")
      .crossJoin(broadcast(nCorp))
      .select(col("source"), col("w"), col("c"), col("cc"),
        ratio.as("ratio"))
      .withColumn("rnk", row_number().over(wS).cast("long"))
      .where(col("rnk") <= 3L)
      .select(col("source"), col("rnk"), col("w").as("token"),
        col("c"), col("cc"), Det.r4(col("ratio")).as("ratio"))
      .orderBy("source", "rnk")
  }

  /** ENERGY DISTANCE (Székely & Rizzo 2004) between each source's
    * document-length distribution and the REST of the corpus — the
    * metric two-sample distance that sees location AND shape shifts
    * the KS/TV pair can miss, and (unlike PSI) needs no binning:
    * E = 2·E|X−Y| − E|X−X′| − E|Y−Y′|, ≥ 0 with equality iff the
    * distributions match. Fully ORACLE-CHECKABLE: every pairwise
    * expectation reduces at the distinct-value grid to
    * Σₓ h(x)·(x·B₍<₎ − S₍<₎ + S₍>₎ − x·B₍>₎) with exclusive
    * prefix/suffix count-and-sum windows — pure BIGINT/DECIMAL(38,0)
    * integer work (the cliffs-delta two-pass shape, never an O(n²)
    * pair join), divided once as doubles with factors cast first.
    * Grid = sources × distinct lengths — value-grain bounded. */
  def energyDistance(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byV = Tables.documents(spark, sfDir)
      .groupBy(col("source"), col("n_chars").as("x"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false) // grid + corpus roll-up
    val corpV = byV.groupBy(col("x")).agg(sum(col("c")).as("ct"))
    val grid = byV.select(col("source")).distinct()
      .crossJoin(corpV)
      .join(byV, Seq("source", "x"), "left")
      .na.fill(0L, Seq("c"))
      .withColumn("hr", col("ct") - col("c"))
    val wLt = Window.partitionBy(col("source")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wGt = Window.partitionBy(col("source")).orderBy(col("x"))
      .rowsBetween(1, Window.unboundedFollowing)
    def dec(e: Column) = e.cast("decimal(38,0)")
    def walk(h: Column, b: Column): Column = {
      val blt = coalesce(sum(b).over(wLt), lit(0L))
      val slt = coalesce(sum(col("x") * b).over(wLt), lit(0L))
      val bgt = coalesce(sum(b).over(wGt), lit(0L))
      val sgt = coalesce(sum(col("x") * b).over(wGt), lit(0L))
      dec(h) * (dec(col("x")) * blt - slt + sgt - dec(col("x")) * bgt)
    }
    val s = grid
      .select(col("source"), col("x"), col("c"), col("hr"),
        walk(col("c"), col("hr")).as("tab"),
        walk(col("c"), col("c")).as("taa"),
        walk(col("hr"), col("hr")).as("tbb"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("ns"), sum(col("hr")).as("nr"),
        sum(col("tab")).as("ab"), sum(col("taa")).as("aa"),
        sum(col("tbb")).as("bb"))
    def d(e: Column) = e.cast("double")
    s.select(col("source"), col("ns"), col("nr"),
        when(col("ns") > 0L && col("nr") > 0L,
          Det.r4(lit(2.0) * d(col("ab")) / (d(col("ns")) * d(col("nr")))
            - d(col("aa")) / (d(col("ns")) * d(col("ns")))
            - d(col("bb")) / (d(col("nr")) * d(col("nr")))))
          .otherwise(lit(null)).as("e_dist"))
      .orderBy("source")
  }

  /** KENDALL τ-b BETWEEN SOURCES on document length — for every source
    * pair, the rank-correlation between the source INDICATOR and
    * n_chars over the pooled two-sample data (Kendall 1945 tie-adjusted
    * form; with a binary x this is the tie-complete sibling of Cliff's
    * delta and the rank-biserial, read as "how stochastically longer is
    * source b than source a, tie-penalized"). Everything before the
    * final formula is EXACT pair counting at the distinct-length grid
    * ([[aggCliffsDelta]]'s machinery, never a row-level pair join):
    * concordant nc = Σᵥ c₁(v)·#{b-docs > v}, discordant nd with <, the
    * x-tie term drops analytically (n0 − tx = n1·n2), and the y-tie
    * term ty = Σᵥ C(c₁+c₂, 2) splits into two per-source constants plus
    * one cross term Σᵥ c₁·c₂ — all BIGINT/DECIMAL(38,0). τ-b is then
    * ONE IEEE expression with every factor cast to double first (the
    * r10 ratio rule — the BIGINT products would overflow at 100 TB doc
    * counts). Grid cost: sources × distinct lengths, value-grain
    * bounded; the pair join fans 190 pairs × grid, calendar-free but
    * domain-bounded. Total order (s1, s2). */
  def kendallSources(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byV = Tables.documents(spark, sfDir)
      .groupBy(col("source"), col("n_chars").as("x"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false) // grid fan-out + per-source ties
    def dec(e: Column) = e.cast("decimal(38,0)")
    def d(e: Column) = e.cast("double")
    val grid = byV.select(col("x")).distinct()
      .crossJoin(broadcast(byV.select(col("source")).distinct()))
      .join(byV, Seq("source", "x"), "left")
      .na.fill(0L, Seq("c"))
    val wCum = Window.partitionBy(col("source")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // same (partition, order) spec as wCum with a full-partition frame:
    // both window expressions fuse into ONE WindowExec pass (an
    // order-free partitionBy would plan a second Window operator over
    // the same rows); the total is order-independent, so n_g is
    // unchanged (guide §2.4 — share the established partitioning)
    val wG = Window.partitionBy(col("source")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cums = grid
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n_g", sum(col("c")).over(wG))
      .localCheckpoint(eager = false) // both sides of the pair join
    val a = cums.select(col("source").as("s1"), col("x"),
      col("c").as("c1"), col("n_g").as("n1"))
    val b = cums.select(col("source").as("s2"), col("x"),
      col("c").as("c2"), (col("cum") - col("c")).as("below2"),
      col("cum").as("upto2"), col("n_g").as("n2"))
    // ×2 trick (the midrank discipline): carry 2·C(c,2) = c(c−1) so
    // every tie accumulator stays DECIMAL(38,0) — no decimal-scale
    // creep from a /2. The per-source self-tie terms ty1/ty2 compute
    // INLINE in this same aggregate (r17): the grid is COMPLETE over x
    // for every source, so Σ_v c·(c−1) within the pair group IS the
    // per-source constant — no separate per-source aggregate and no
    // broadcast joins to attach it
    val pair = a.join(b, "x").where(col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2"), col("n1"), col("n2"))
      .agg(sum(dec(col("c1")) * (col("n2") - col("upto2"))).as("nc"),
        sum(dec(col("c1")) * col("below2")).as("nd"),
        sum(dec(col("c1")) * col("c2")).as("crossT"),
        sum(dec(col("c1")) * (col("c1") - 1)).as("ty1"),
        sum(dec(col("c2")) * (col("c2") - 1)).as("ty2"))
    // doubled pooled terms: 2·n0 = (n1+n2)(n1+n2−1); 2·ty = ty1 + ty2
    // + 2·crossT — exact DECIMAL(38,0) at any corpus size
    val n02 = dec(col("n1") + col("n2")) * (col("n1") + col("n2") - 1)
    val nyt2 = n02 - (col("ty1") + col("ty2") + col("crossT") * 2)
    pair
      .select(col("s1"), col("s2"), col("n1"), col("n2"),
        col("nc").cast("long").as("n_conc"),
        col("nd").cast("long").as("n_disc"),
        when(col("n1") > 0L && col("n2") > 0L && nyt2 > lit(0),
          Det.r4((d(col("nc")) - d(col("nd"))) /
            sqrt(d(col("n1")) * d(col("n2")) * (d(nyt2) / lit(2.0)))))
          .otherwise(lit(null)).as("tau_b"))
      .orderBy("s1", "s2")
  }

  /** SPEARMAN ρ BETWEEN SOURCES on document length — [[kendallSources]]'
    * midrank sibling: for every source pair, the Spearman rank
    * correlation between the source INDICATOR and n_chars over the
    * pooled two-sample data. With a binary x the Pearson-on-midranks
    * definition collapses to a closed form over three exact integers:
    * with N = n1+n2, the DOUBLED pooled-midrank sum of source-2 docs
    * D2 = Σᵥ c₂(v)·(2·pooledBelow(v) + c₁+c₂ + 1) (the ×2 midrank
    * trick — no .5 fractions ever materialize), A = D2 − n2·(N+1) and
    * the pooled tie term B = N³ − N − Σₜ(t³ − t), the identity is
    * ρ = N·A / √(n1·n2·N·(B/3)) (derivation: rank deviations of the
    * indicator are ±n₂/2, n₁/2; midranks sum to N(N+1)/2 exactly even
    * under ties). Everything up to the final expression is exact
    * DECIMAL(38,0) pair counting at the distinct-length grid — the
    * [[kendallSources]] machinery, never a row-level pair join; ρ is
    * then ONE IEEE expression with every factor cast to double first
    * (the r10 ratio rule). All-tied pools (B = 0) yield NULL. Grid
    * cost: sources × distinct lengths, value-grain bounded. Total
    * order (s1, s2). */
  def spearmanSources(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byV = Tables.documents(spark, sfDir)
      .groupBy(col("source"), col("n_chars").as("x"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false) // grid fan-out below
    def dec(e: Column) = e.cast("decimal(38,0)")
    def d(e: Column) = e.cast("double")
    val grid = byV.select(col("x")).distinct()
      .crossJoin(broadcast(byV.select(col("source")).distinct()))
      .join(byV, Seq("source", "x"), "left")
      .na.fill(0L, Seq("c"))
    val wCum = Window.partitionBy(col("source")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // same (partition, order) spec as wCum with a full-partition frame:
    // both window expressions fuse into ONE WindowExec pass (an
    // order-free partitionBy would plan a second Window operator over
    // the same rows); the total is order-independent, so n_g is
    // unchanged (guide §2.4 — share the established partitioning)
    val wG = Window.partitionBy(col("source")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cums = grid
      .withColumn("below", sum(col("c")).over(wCum) - col("c"))
      .withColumn("n_g", sum(col("c")).over(wG))
      .localCheckpoint(eager = false) // both sides of the pair join
    val a = cums.select(col("source").as("s1"), col("x"),
      col("c").as("c1"), col("below").as("below1"), col("n_g").as("n1"))
    val b = cums.select(col("source").as("s2"), col("x"),
      col("c").as("c2"), col("below").as("below2"), col("n_g").as("n2"))
    val t = col("c1") + col("c2")
    val pair = a.join(b, "x").where(col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2"), col("n1"), col("n2"))
      .agg(sum(dec(col("c2")) *
          ((col("below1") + col("below2")) * 2 + t + 1)).as("d2"),
        sum(dec(t) * t * t - t).as("tsum"))
    val nn = col("n1") + col("n2")
    val aTerm = col("d2") - dec(col("n2")) * (nn + 1)
    val bTerm = dec(nn) * nn * nn - nn - col("tsum")
    pair.select(col("s1"), col("s2"), col("n1"), col("n2"),
        col("d2").cast("long").as("rank_sum2"),
        when(col("n1") > 0L && col("n2") > 0L && bTerm > lit(0),
          Det.r4(d(nn) * d(aTerm) /
            sqrt(d(col("n1")) * d(col("n2")) * d(nn) *
              (d(bTerm) / lit(3.0)))))
          .otherwise(lit(null)).as("rho_s"))
      .orderBy("s1", "s2")
  }

  /** TWO-SAMPLE CRAMÉR–VON MISES between sources on document length —
    * the ECDF-distance drift statistic that weights the WHOLE
    * distribution (where KS reads only the max gap and the energy
    * distance reads expectations): T = n1·n2/N² · Σ over all pooled
    * points (F1 − F2)² (Anderson 1962's two-sample form). On the
    * distinct-length grid everything before the final division is
    * EXACT: with D(v) = cum1(v)·n2 − cum2(v)·n1 (an integer), the sum
    * collapses to Σᵥ (c1+c2)·D(v)² / (N²·n1·n2) — DECIMAL(38,0)
    * products (D ≤ n1·n2 bounds the per-pair headroom to ~10⁹ docs a
    * side; past that, pre-bucket lengths as psi_length does), ONE
    * IEEE division with every factor cast to double first. The
    * asymptotic 5% critical value 0.461 is a CONSTANT of the limiting
    * distribution (Anderson–Darling 1952 table), so the exceedance
    * flag is an exact comparison. Grid cost: sources × distinct
    * lengths, one pair join — the kendall/spearman machinery. */
  def cvmSources(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byV = Tables.documents(spark, sfDir)
      .groupBy(col("source"), col("n_chars").as("x"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false) // grid fan-out below
    def dec(e: Column) = e.cast("decimal(38,0)")
    def d(e: Column) = e.cast("double")
    val grid = byV.select(col("x")).distinct()
      .crossJoin(broadcast(byV.select(col("source")).distinct()))
      .join(byV, Seq("source", "x"), "left")
      .na.fill(0L, Seq("c"))
    val wCum = Window.partitionBy(col("source")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // same (partition, order) spec as wCum with a full-partition frame:
    // both window expressions fuse into ONE WindowExec pass (an
    // order-free partitionBy would plan a second Window operator over
    // the same rows); the total is order-independent, so n_g is
    // unchanged (guide §2.4 — share the established partitioning)
    val wG = Window.partitionBy(col("source")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cums = grid
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n_g", sum(col("c")).over(wG))
      .localCheckpoint(eager = false) // both sides of the pair join
    val a = cums.select(col("source").as("s1"), col("x"),
      col("c").as("c1"), col("cum").as("cum1"), col("n_g").as("n1"))
    val b = cums.select(col("source").as("s2"), col("x"),
      col("c").as("c2"), col("cum").as("cum2"), col("n_g").as("n2"))
    val dv = dec(col("cum1")) * col("n2") - dec(col("cum2")) * col("n1")
    val pair = a.join(b, "x").where(col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2"), col("n1"), col("n2"))
      .agg(sum(dec(col("c1") + col("c2")) * dv * dv).as("tnum"))
    val nn = col("n1") + col("n2")
    val t = d(col("tnum")) /
      (d(nn) * d(nn) * d(col("n1")) * d(col("n2")))
    pair.select(col("s1"), col("s2"), col("n1"), col("n2"),
        when(col("n1") > 0L && col("n2") > 0L, Det.r4(t))
          .otherwise(lit(null)).as("cvm_t"),
        when(col("n1") > 0L && col("n2") > 0L,
          (Det.r4(t) > lit(0.461)).cast("boolean"))
          .otherwise(lit(null)).as("reject_5pct"))
      .orderBy("s1", "s2")
  }

  /** TWO-SAMPLE ANDERSON–DARLING between sources on document length —
    * [[cvmSources]]' tail-sensitive sibling (Scholz & Stephens 1987's
    * tie-adjusted k-sample form at k = 2, block-end evaluation, no
    * continuity correction): A² = (1/N) Σ over tie blocks except the
    * last of t·(N·M − j·n1)² / (j·(N−j)), with M = cum1 and j =
    * pooled cum at the block END — the 1/(F(1−F)) weight is what
    * makes AD catch tail drift CvM's uniform weight smooths over.
    * Determinism: the numerator t·(N·M − j·n1)² is EXACT
    * (DECIMAL(38,0)); each block contributes ONE IEEE division whose
    * result is made order-free by the ×2³⁰ power-of-two quantization
    * (exponent shift — no mantissa loss), floored to an exact
    * integer-valued double and cast to DECIMAL(38,0) (exact: floor
    * leaves no fraction for engine rounding dialects to disagree on),
    * then summed; A² is one shared IEEE expression over the exact
    * sum. The j = N block drops in both engines (zero denominator —
    * the published convention). 5% critical value for the
    * standardized two-sample statistic is not emitted (it needs the
    * variance expansion); A² itself plus n1/n2 is the drift read. */
  def adSources(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byV = Tables.documents(spark, sfDir)
      .groupBy(col("source"), col("n_chars").as("x"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false) // grid fan-out below
    def dec(e: Column) = e.cast("decimal(38,0)")
    def d(e: Column) = e.cast("double")
    val grid = byV.select(col("x")).distinct()
      .crossJoin(broadcast(byV.select(col("source")).distinct()))
      .join(byV, Seq("source", "x"), "left")
      .na.fill(0L, Seq("c"))
    val wCum = Window.partitionBy(col("source")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // same (partition, order) spec as wCum with a full-partition frame:
    // both window expressions fuse into ONE WindowExec pass (an
    // order-free partitionBy would plan a second Window operator over
    // the same rows); the total is order-independent, so n_g is
    // unchanged (guide §2.4 — share the established partitioning)
    val wG = Window.partitionBy(col("source")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cums = grid
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n_g", sum(col("c")).over(wG))
      .localCheckpoint(eager = false) // both sides of the pair join
    val a = cums.select(col("source").as("s1"), col("x"),
      col("c").as("c1"), col("cum").as("cum1"), col("n_g").as("n1"))
    val b = cums.select(col("source").as("s2"), col("x"),
      col("c").as("c2"), col("cum").as("cum2"), col("n_g").as("n2"))
    val nn = col("n1") + col("n2")
    val j = col("cum1") + col("cum2")
    val t = col("c1") + col("c2")
    val dv = dec(nn) * col("cum1") - dec(j) * col("n1")
    val term = d(dec(t) * dv * dv) / (d(j) * d(nn - j))
    val q = floor(term * lit(1073741824.0)).cast("decimal(38,0)")
    val pair = a.join(b, "x").where(col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2"), col("n1"), col("n2"))
      .agg(sum(when(j < nn && t > 0L, q).otherwise(dec(lit(0L))))
        .as("qsum"))
    pair.select(col("s1"), col("s2"), col("n1"), col("n2"),
        when(col("n1") > 0L && col("n2") > 0L,
          Det.r4(d(col("qsum")) / lit(1073741824.0) / d(nn)))
          .otherwise(lit(null)).as("ad_a2"))
      .orderBy("s1", "s2")
  }

  /** k-SAMPLE ANDERSON–DARLING over ALL sources at once on document
    * length (Scholz & Stephens 1987, the tie-adjusted A²kN form without
    * continuity correction — their eq. 3 generalizing [[adSources]]'
    * k = 2 — plus their variance normalization): A²kN = (1/N) Σᵢ (1/nᵢ)
    * Σⱼ lⱼ·(N·Mᵢⱼ − nᵢ·Bⱼ)²/(Bⱼ(N−Bⱼ)) over pooled tie blocks except
    * the last, standardized to T = (A²kN − (k−1))/σ_N where σ²_N =
    * (aN³ + bN² + cN + d)/((N−1)(N−2)(N−3)) with the paper's a,b,c,d in
    * H = Σ 1/nᵢ, h = Σ_{i<N} 1/i and g = Σ_{i<j<N} 1/((N−i)j).
    * Determinism, in three layers of the proven quantization
    * discipline: (1) each block term folds 1/nᵢ into ONE IEEE division
    * of exact DECIMAL(38,0)/HUGEINT integers, ×2³⁰-floor-quantized
    * (power of two — exponent shift, no mantissa loss) and summed
    * order-free; (2) H quantizes as Σ (2⁴⁰ div nᵢ) — integer floor
    * division, bit-identical in both engines; (3) h and g come off a
    * generated 1..N−1 integer range with quantized harmonic prefix
    * sums Hq_r = Σ_{i≤r} (2⁴⁰ div i), g via the O(N) reduction
    * g = Σ_{r≤N−2} (Hq_{N−1} − Hq_r) div (N−r) (substituting m = N−i
    * in the paper's double sum) — every accumulator an exact BIGINT,
    * so the final σ/T are ONE shared IEEE expression over identical
    * integers. The statistic is DEFINED as its quantized form (error
    * ≤ N/2⁴⁰ ≈ 1e-6 at sf1 vs the real-valued form — far below the
    * 4-decimal grid). Scale: the term grid is sources × distinct
    * lengths (the adSources shape, value-grain bounded); the harmonic
    * range is O(N) rows generated in 64Ki chunks with a two-pass
    * distributed prefix (per-chunk sums + a bounded window over
    * ~N/65536 chunk rows), never a data-scale global window. */
  def adKSample(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byV = Tables.documents(spark, sfDir)
      .groupBy(col("source"), col("n_chars").as("x"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false) // grid fan-out below
    def dec(e: Column) = e.cast("decimal(38,0)")
    def d(e: Column) = e.cast("double")
    val grid = byV.select(col("x")).distinct()
      .crossJoin(broadcast(byV.select(col("source")).distinct()))
      .join(byV, Seq("source", "x"), "left")
      .na.fill(0L, Seq("c"))
    val wCum = Window.partitionBy(col("source")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // same (partition, order) spec as wCum with a full-partition frame:
    // both window expressions fuse into ONE WindowExec pass (an
    // order-free partitionBy would plan a second Window operator over
    // the same rows); the total is order-independent, so n_g is
    // unchanged (guide §2.4 — share the established partitioning)
    val wG = Window.partitionBy(col("source")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wX = Window.partitionBy(col("x"))
    val cums = grid
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n_g", sum(col("c")).over(wG))
    // pooled per tie block: lⱼ = Σᵢ cᵢ and Bⱼ = Σᵢ Mᵢⱼ — the grid is a
    // complete sources × values cross, so the per-x window sums ARE the
    // pooled block count and pooled cum (k rows per x, bounded)
    val pooled = cums
      .withColumn("l", sum(col("c")).over(wX))
      .withColumn("bj", sum(col("cum")).over(wX))
    val nk = byV.agg(sum(col("c")).cast("long").as("nn"),
      countDistinct(col("source")).cast("long").as("k"))
    val dv = dec(col("nn")) * col("cum") - dec(col("bj")) * col("n_g")
    val term = d(dec(col("l")) * dv * dv) /
      (d(col("n_g")) * d(col("bj")) * d(col("nn") - col("bj")))
    val q = floor(term * lit(1073741824.0)).cast("decimal(38,0)")
    val a2row = pooled.crossJoin(broadcast(nk))
      .agg(sum(when(col("bj") < col("nn") && col("l") > 0L &&
          col("n_g") > 0L, q).otherwise(dec(lit(0L)))).as("qsum"))
    // H = Σᵢ 1/nᵢ as exact 2⁴⁰-scaled integer floor divisions
    val hs = byV.groupBy(col("source")).agg(sum(col("c")).as("n_i"))
      .agg(sum(expr("1099511627776L div n_i")).as("hq"))
    // harmonic range 1..N−1 in 64Ki chunks (distributed explode — a
    // single sequence() would build an O(N) array in one task)
    val CH = 65536L
    val rRows = nk.select(col("nn"),
        explode(expr(s"sequence(0L, (nn - 2) div $CH)")).as("ch"))
      .repartition(col("ch"))
      .select(col("nn"), col("ch"),
        explode(expr(
          s"sequence(ch * $CH + 1L, least((ch + 1L) * $CH, nn - 1L))"))
          .as("r"))
      .withColumn("v", expr("1099511627776L div r"))
      .localCheckpoint(eager = false) // chunk sums + prefix + total
    val perChunk = rRows.groupBy(col("ch")).agg(sum(col("v")).as("s"))
    // bounded global window: ~N/65536 chunk rows (≈ 92 at sf1)
    val wOff = Window.orderBy(col("ch"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = perChunk
      .withColumn("off", coalesce(sum(col("s")).over(wOff), lit(0L)))
      .select(col("ch"), col("off"))
    val wIn = Window.partitionBy(col("ch")).orderBy(col("r"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val htot = rRows.agg(sum(col("v")).as("hq_tot"))
    val gRow = rRows.join(broadcast(offs), "ch")
      .withColumn("hqr", col("off") + sum(col("v")).over(wIn))
      .crossJoin(broadcast(htot))
      .where(col("r") <= col("nn") - 2)
      .agg(sum(expr("(hq_tot - hqr) div (nn - r)")).as("gq"))
    val one = a2row.crossJoin(hs).crossJoin(htot).crossJoin(gRow)
      .crossJoin(nk)
    val q40 = lit(1099511627776.0)
    val kd = d(col("k")); val nd = d(col("nn"))
    val hD = d(col("hq")) / q40
    val hhD = d(col("hq_tot")) / q40
    val gD = d(col("gq")) / q40
    val a2 = d(col("qsum")) / lit(1073741824.0) / nd
    val aC = (lit(4.0) * gD - lit(6.0)) * (kd - lit(1.0)) +
      (lit(10.0) - lit(6.0) * gD) * hD
    val bC = (lit(2.0) * gD - lit(4.0)) * kd * kd + lit(8.0) * hhD * kd +
      (lit(2.0) * gD - lit(14.0) * hhD - lit(4.0)) * hD -
      lit(8.0) * hhD + lit(4.0) * gD - lit(6.0)
    val cC = (lit(6.0) * hhD + lit(2.0) * gD - lit(2.0)) * kd * kd +
      (lit(4.0) * hhD - lit(4.0) * gD + lit(6.0)) * kd +
      (lit(2.0) * hhD - lit(6.0)) * hD + lit(4.0) * hhD
    val dC = (lit(2.0) * hhD + lit(6.0)) * kd * kd - lit(4.0) * hhD * kd
    val varA = (aC * nd * nd * nd + bC * nd * nd + cC * nd + dC) /
      ((nd - lit(1.0)) * (nd - lit(2.0)) * (nd - lit(3.0)))
    val sig = sqrt(varA)
    one.select(col("k"), col("nn").as("n_total"),
      Det.r4(a2).as("a2_kn"), Det.r4(sig).as("sigma_n"),
      Det.r4((a2 - (kd - lit(1.0))) / sig).as("t_kn"))
  }

  /** MATTR — Moving-Average Type-Token Ratio per document (Covington &
    * McFall 2010), the window-length-corrected lexical-diversity score
    * the curation stack quotes where the raw TTR is length-confounded:
    * the mean of types/W over every W-token sliding window. NO window
    * is ever materialized — the whole statistic collapses to one exact
    * per-token count: token p (1-based) is a NEW type in window s iff
    * max(p−W+1, prev(p)+1, 1) ≤ s ≤ min(p, N−W+1) where prev(p) is the
    * previous position of the same type (0 if none), so
    * Σ_s types(s) = Σ_p clamp-width — a lag + two clamps per token,
    * O(tokens) with no self-join (the prev-occurrence trick; same
    * family as winnowing's fingerprint walk). MATTR is then ONE IEEE
    * division of exact BIGINTs; docs shorter than W fall back to the
    * plain whole-doc TTR (the published convention). W = 20. Scale:
    * embarrassingly parallel per doc, one narrow shuffle to
    * (doc, type) grain for the lag. */
  def mattr(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val W = 20L
    def d(e: Column) = e.cast("double")
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos0", "w")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("p"),
        col("w"))
    val wPrev = Window.partitionBy(col("doc_id"), col("w"))
      .orderBy(col("p"))
    val wDoc = Window.partitionBy(col("doc_id"))
    val cnts = toks
      .withColumn("prev", coalesce(lag(col("p"), 1).over(wPrev), lit(0L)))
      .withColumn("n", count(lit(1)).over(wDoc))
      .withColumn("lo", greatest(col("p") - lit(W - 1L),
        col("prev") + lit(1L), lit(1L)))
      .withColumn("hi", least(col("p"), col("n") - lit(W - 1L)))
      .groupBy(col("doc_id"), col("n"))
      .agg(sum(greatest(col("hi") - col("lo") + lit(1L), lit(0L)))
        .as("news"),
        countDistinct(col("w")).as("n_types"))
    cnts.select(col("doc_id"), col("n").as("n_tokens"), col("n_types"),
        when(col("n") >= lit(W),
          Det.r4(d(col("news")) / (lit(20.0) * d(col("n") - lit(19L)))))
          .otherwise(Det.r4(d(col("n_types")) / d(col("n"))))
          .as("mattr"))
      .orderBy("doc_id")
  }

  /** MTLD — Measure of Textual Lexical Diversity per document
    * (McCarthy & Jarvis 2010), BIDIRECTIONAL as published: walk the
    * token sequence counting "factors" — maximal prefixes whose
    * running type-token ratio stays ≥ 0.72; when TTR dips below,
    * close the factor and reset. A directional score is
    * N / (full factors + the partial factor's (1 − TTR)/(1 − 0.72)
    * remainder); MTLD is the MEAN of the forward and backward walks
    * (the direction artifact: a front-loaded template reads diverse
    * forward but repetitive backward). The threshold comparison is
    * EXACT (types·100 < 72·tokens — no float in the walk); only the
    * final divisions are IEEE. NO ORACLE: the walk's state is the
    * current factor's SET of seen types — a data-dependent-size
    * carried collection, the declared no-oracle class (isotonic/PAV
    * precedent) — spec-gated against an independent driver fold in
    * BOTH directions. One typed mapGroups per doc: each group is one
    * document's token list, a real per-doc statistic an executor
    * holds. */
  def mtld(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .as[(Long, Int, String)]
    val perDoc = toks.groupByKey(_._1)
      .mapGroups { (id: Long, it: Iterator[(Long, Int, String)]) =>
        val ws = it.toArray.sortBy(_._2).map(_._3)
        val n = ws.length.toLong
        // one factor walk; run FORWARD and BACKWARD (McCarthy & Jarvis
        // publish MTLD as the mean of the two directional scores — a
        // front-loaded template reads diverse forward but repetitive
        // backward; the mean removes the direction artifact)
        def walk(seq: Array[String]): (Long, Double) = {
          var factors = 0L
          val seen = scala.collection.mutable.HashSet.empty[String]
          var tok = 0L
          seq.foreach { w =>
            seen += w; tok += 1
            if (seen.size * 100L < 72L * tok) { // TTR < 0.72: close
              factors += 1; seen.clear(); tok = 0L
            }
          }
          val partial = if (tok > 0L)
            (1.0 - seen.size.toDouble / tok.toDouble) / 0.28
          else 0.0
          val denom = factors.toDouble + partial
          val m = if (denom > 0.0)
            math.floor(n.toDouble / denom * 10000.0 + 0.5) / 10000.0
          else Double.NaN
          (factors, m)
        }
        val (ff, mf) = walk(ws)
        val (fb, mb) = walk(ws.reverse)
        val bi = if (!mf.isNaN && !mb.isNaN)
          Some(math.floor((mf + mb) / 2.0 * 10000.0 + 0.5) / 10000.0)
        else None
        (id, n, ff, fb, if (mf.isNaN) None else Some(mf),
          if (mb.isNaN) None else Some(mb), bi)
      }
    perDoc.toDF("doc_id", "n_tokens", "n_factors_fwd", "n_factors_bwd",
        "mtld_fwd", "mtld_bwd", "mtld")
      .orderBy("doc_id")
  }

  /** Longest repeated substring length via a SUFFIX AUTOMATON (Blumer
    * et al. 1985's online O(n) construction): the LRS appearing ≥ 2
    * times is the longest state whose endpos class has size ≥ 2 —
    * occurrence counts propagate up suffix links in len order (each
    * non-clone state seeds 1; a clone seeds 0 and collects from its
    * children). O(n) states/transitions, per-character HashMap edges
    * (document alphabets are small but unbounded — no 26-slot array
    * assumption). */
  private[graft] def lrsLen(s: String): Int = {
    val a = new Array[Int](s.length)
    var i = 0
    while (i < s.length) { a(i) = s.charAt(i).toInt; i += 1 }
    lrsLenSeq(a)
  }

  /** [[lrsLen]] over an arbitrary symbol sequence — the token-grain
    * twin runs the same automaton over per-doc dense token ids. */
  private[graft] def lrsLenSeq(s: Array[Int]): Int = {
    if (s.length < 2) return 0
    val maxStates = 2 * s.length + 5
    val len = new Array[Int](maxStates)
    val link = new Array[Int](maxStates)
    val cnt = new Array[Long](maxStates)
    val next =
      Array.fill(maxStates)(null: scala.collection.mutable.HashMap[Int, Int])
    def edges(i: Int) = {
      if (next(i) == null)
        next(i) = scala.collection.mutable.HashMap.empty[Int, Int]
      next(i)
    }
    var size = 1; var last = 0
    link(0) = -1
    s.foreach { c =>
      val cur = size; size += 1
      len(cur) = len(last) + 1; cnt(cur) = 1L
      var p = last
      while (p != -1 && !edges(p).contains(c)) {
        edges(p)(c) = cur; p = link(p)
      }
      if (p == -1) link(cur) = 0
      else {
        val q = edges(p)(c)
        if (len(p) + 1 == len(q)) link(cur) = q
        else {
          val clone = size; size += 1
          len(clone) = len(p) + 1
          next(clone) = edges(q).clone()
          link(clone) = link(q)
          cnt(clone) = 0L
          while (p != -1 && edges(p).get(c).contains(q)) {
            edges(p)(c) = clone; p = link(p)
          }
          link(q) = clone; link(cur) = clone
        }
      }
      last = cur
    }
    // counting sort by len (lens are <= n): propagate cnt up links in
    // decreasing-len order, then take the longest state seen >= twice
    val byLen = Array.fill(s.length + 1)(List.empty[Int])
    (1 until size).foreach(i => byLen(len(i)) ::= i)
    var best = 0
    var l = s.length
    while (l >= 1) {
      byLen(l).foreach { i =>
        if (link(i) >= 0) cnt(link(i)) += cnt(i)
        if (cnt(i) >= 2L && len(i) > best) best = len(i)
      }
      l -= 1
    }
    best
  }

  /** SELF-REPETITION READ per document — the junk detector the
    * gopher-rules family lacks (SURVEY §8.5): a template/spam doc
    * repeats a long literal block, so the LONGEST REPEATED SUBSTRING
    * is a large fraction of the text, where natural prose repeats
    * only short spans. Per doc: [[lrsLen]] (suffix automaton, O(n))
    * over the raw characters, the ratio lrs/n, and the exact integer
    * flag 5·lrs ≥ n (a repeated block covering ≥ 20% of the doc).
    * Embarrassingly parallel per doc (one typed map, no shuffle at
    * all until the output sort). NO ORACLE — the statistic rides a
    * per-doc automaton walk with data-dependent state (no
    * SQL-expressible twin); spec'd against a driver binary-search +
    * substring-set reference and planted repeats of known length. */
  def selfRepetition(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val n = text.length.toLong
        val lrs = lrsLen(text).toLong
        val ratio =
          if (n > 0L)
            math.floor(lrs.toDouble / n.toDouble * 10000.0 + 0.5) / 10000.0
          else 0.0
        (id, n, lrs, ratio, lrs * 5L >= n && n > 0L)
      }
      .toDF("doc_id", "n_chars", "lrs_len", "lrs_ratio", "repetitive")
      .orderBy("doc_id")
  }

  /** LONGEST REPEATED TOKEN N-GRAM per document — the word-grain
    * sibling of [[selfRepetition]] (char-level LRS catches long
    * literal blocks; the token grain reads REPEATED PHRASING —
    * boilerplate sentences, listicle scaffolding — that differs by
    * whitespace or punctuation at the char level). Per doc: tokens
    * map to dense per-doc ids, [[lrsLenSeq]] runs the same O(n)
    * suffix automaton over them, output is the longest n-gram
    * repeated ≥ 2 times (overlap allowed), its token-fraction, and
    * the exact 5·lrs ≥ n coverage flag. Embarrassingly parallel per
    * doc. NO ORACLE (per-doc automaton state) — spec'd against a
    * token-slice binary-search reference. */
  def repeatedNgram(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val toks = text.split(" ")
        val idOf = scala.collection.mutable.HashMap.empty[String, Int]
        val syms = toks.map(t => idOf.getOrElseUpdate(t, idOf.size))
        val n = toks.length.toLong
        val lrs = lrsLenSeq(syms).toLong
        val ratio =
          if (n > 0L)
            math.floor(lrs.toDouble / n.toDouble * 10000.0 + 0.5) / 10000.0
          else 0.0
        (id, n, lrs, ratio, lrs * 5L >= n && n > 0L)
      }
      .toDF("doc_id", "n_tokens", "lrg_len", "lrg_ratio", "repetitive")
      .orderBy("doc_id")
  }

  /** COMPRESSION-RATIO QUALITY SCORE per source — the cheapest strong
    * junk detector in the curation playbook (boilerplate, keyword
    * stuffing and template spam compress far below natural prose;
    * the Gopher/RefinedWeb pipelines both gate on it [U]): per doc,
    * DEFLATE(text).length / text.bytes via the codegen'd
    * [[org.apache.spark.sql.graft.DeflateLenExpr]] (no UDF). NO
    * ORACLE — DuckDB has no DEFLATE — spec-gated against a driver
    * Deflater fold (same JVM ⇒ bit-equal). Aggregation is exact:
    * pooled ratio = Σdeflated/Σraw (two BIGINT sums, one division),
    * and the repetitive-doc flag 10·dlen < 4·raw is an exact integer
    * comparison per doc. */
  def compressRatio(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.graft.DeflateLenExpr
    val d0 = Tables.documents(spark, sfDir)
      .select(col("source"),
        octet_length(col("text")).cast("long").as("raw"),
        DeflateLenExpr(col("text")).as("dlen"))
    def d(c: Column) = c.cast("double")
    d0.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("raw")).as("raw_bytes"),
        sum(col("dlen")).as("deflated_bytes"),
        sum(when(col("dlen") * lit(10L) < col("raw") * lit(4L), 1L)
          .otherwise(0L)).as("n_repetitive"))
      .select(col("source"), col("n_docs"), col("raw_bytes"),
        col("deflated_bytes"),
        Det.r4(d(col("deflated_bytes")) / d(col("raw_bytes")))
          .as("ratio"),
        col("n_repetitive"))
      .orderBy("source")
  }

  /** CHAO1 VOCABULARY-RICHNESS ESTIMATE + GOOD–TURING UNSEEN MASS —
    * the "how much vocabulary have we NOT crawled yet" read behind
    * every corpus-coverage decision (Chao 1984; Good 1953): per
    * source and for the whole corpus, the abundance-based richness
    * floor chao1 = V + F1²/(2F2) (F1 = hapax count, F2 = doubleton
    * count; the F2 = 0 fallback is the bias-corrected
    * V + F1(F1−1)/2), and the Good–Turing estimate of the probability
    * mass of UNSEEN words, F1/N. Fully ORACLE-CHECKABLE: V, N, F1,
    * F2 are exact BIGINTs and both estimates are single IEEE
    * expressions over them (factors cast to double BEFORE the
    * product — F1² overflows BIGINT at web-crawl hapax counts). One
    * token-count aggregate feeds both grains; the shared relation is
    * checkpointed (union children don't CSE). */
  def vocabChao1(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = sourceTokenCounts(spark, sfDir)
      .localCheckpoint(eager = false) // per-source + corpus consumers
    def d(c: Column) = c.cast("double")
    def summarize(g: DataFrame): DataFrame = g.groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"), sum(col("c")).as("n_tokens"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2L, 1L).otherwise(0L)).as("f2"))
      .select(col("source"), col("vocab"), col("n_tokens"), col("f1"),
        col("f2"),
        when(col("f2") > 0L,
          Det.r4(d(col("vocab")) +
            d(col("f1")) * d(col("f1")) / (lit(2.0) * d(col("f2")))))
          .otherwise(Det.r4(d(col("vocab")) +
            d(col("f1")) * (d(col("f1")) - lit(1.0)) / lit(2.0)))
          .as("chao1"),
        Det.r4(d(col("f1")) / d(col("n_tokens"))).as("gt_unseen"))
    val perSrc = summarize(tok)
    val corp = summarize(
      tok.groupBy(col("w")).agg(sum(col("c")).as("c"))
        .select(lit("__corpus__").as("source"), col("w"), col("c")))
    perSrc.unionByName(corp).orderBy("source")
  }

  /** POPULATION STABILITY INDEX of the document-length distribution,
    * per source vs the whole corpus — THE industry drift monitor
    * (PSI = Σ(p−q)·ln(p/q); > 0.25 conventionally flags a shifted
    * population): is one crawl's length profile unlike the corpus it
    * feeds? Bins are 10 equal-width INTEGER buckets over the corpus
    * [min, max] (pure integer arithmetic — deterministic), with
    * add-one smoothing on BOTH sides so empty cells stay finite. NO
    * ORACLE (ln is libm); spec-gated vs a driver fold; order-free by
    * the 1e12 floor-quantized-term discipline over exact counts. The
    * grid is sources × 10 — model-sized everywhere. */
  def psiLength(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("source"), col("n_chars"))
      .localCheckpoint(eager = false) // extent + binned counts
    val ext = docs.agg(min(col("n_chars")).as("mn"),
      max(col("n_chars")).as("mx"))
    val binned = docs.crossJoin(broadcast(ext))
      .select(col("source"),
        expr("least(9L, ((n_chars - mn) * 10L)" +
          " div (mx - mn + 1L))").as("bin"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false) // grid + corpus roll-up
    val grid = binned.select(col("source")).distinct()
      .crossJoin(spark.range(10).select(col("id").as("bin")))
      .join(binned, Seq("source", "bin"), "left")
      .na.fill(0L, Seq("c"))
    val nSrc = binned.groupBy(col("source")).agg(sum(col("c")).as("ns"))
    val corpBin = binned.groupBy(col("bin")).agg(sum(col("c")).as("cb"))
    val nCorp = nSrc.agg(sum(col("ns")).as("nc"))
    def d(c: Column) = c.cast("double")
    val p = (d(col("c")) + lit(1.0)) / (d(col("ns")) + lit(10.0))
    val q = (d(col("cb")) + lit(1.0)) / (d(col("nc")) + lit(10.0))
    val term = (p - q) * log(p / q)
    grid.join(broadcast(nSrc), "source")
      .join(broadcast(corpBin), Seq("bin"), "left") // corpus-empty bins
      .na.fill(0L, Seq("cb"))                       // still smooth
      .crossJoin(broadcast(nCorp))
      .groupBy(col("source"))
      .agg(max(col("ns")).as("n_docs"),
        sum(floor(term * lit(1.0e12)).cast("long")).as("psq"))
      .select(col("source"), col("n_docs"),
        Det.r4(d(col("psq")) / lit(1.0e12)).as("psi"))
      .orderBy("source")
  }

  /** MUTUAL INFORMATION I(source; word) + the uncertainty coefficient
    * U = I/H(source) — the single-number answer to "how
    * source-identifiable is this corpus's text" (U → 0: sources share
    * one voice, dedup/mixing freely; U → 1: every source is its own
    * dialect, stratify everything). I = Σ_{c>0}(c/N)·ln(c·N/(n_s·c_w))
    * over the (source, word) count grid — absent cells contribute 0,
    * so the sum runs on the OBSERVED grid only (no fan-out). NO
    * ORACLE (ln); spec-gated vs a driver fold; 1e12 floor-quantized
    * terms with every product factor cast to double BEFORE
    * multiplying (the r10 2⁵³ rule). Pointwise direction is already
    * oracle-checked by [[driftTokens]]. */
  def mutualInfo(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = sourceTokenCounts(spark, sfDir)
      .localCheckpoint(eager = false) // roll-ups + term pass
    val corp = tok.groupBy(col("w")).agg(sum(col("c")).as("cc"))
    val nSrc = tok.groupBy(col("source")).agg(sum(col("c")).as("ns"))
      .localCheckpoint(eager = false) // totals + H(source) terms
    val nCorp = nSrc.agg(sum(col("ns")).as("nc"))
    def d(c: Column) = c.cast("double")
    val miT = (d(col("c")) / d(col("nc"))) *
      log((d(col("c")) * d(col("nc"))) / (d(col("ns")) * d(col("cc"))))
    val mi = tok.join(corp, "w")
      .join(broadcast(nSrc), "source")
      .crossJoin(broadcast(nCorp))
      .agg(max(col("nc")).as("n_tokens"),
        countDistinct(col("w")).as("vocab"),
        countDistinct(col("source")).as("n_sources"),
        sum(floor(miT * lit(1.0e12)).cast("long")).as("miq"))
    val hT = (d(col("ns")) / d(col("nc"))) *
      log(d(col("ns")) / d(col("nc"))) * lit(-1.0)
    val hs = nSrc.crossJoin(broadcast(nCorp))
      .agg(sum(floor(hT * lit(1.0e12)).cast("long")).as("hq"))
    mi.crossJoin(broadcast(hs))
      .select(col("n_tokens"), col("vocab"), col("n_sources"),
        Det.r4(d(col("miq")) / lit(1.0e12)).as("mi"),
        Det.r4(d(col("hq")) / lit(1.0e12)).as("h_source"),
        when(col("hq") > 0L, Det.r4(d(col("miq")) / d(col("hq"))))
          .otherwise(lit(null)).as("u_coef"))
  }

  /** THEIL INDEX of document-length inequality per source — the
    * entropy-family inequality measure that completes [[lengthGiniBySource]]
    * (Gini weighs the middle; Theil T = (1/n)Σ(x/μ)ln(x/μ) is
    * top-sensitive and decomposes across subgroups — the econometric
    * standard): does one crawl's length mass concentrate in a few
    * giant docs? NO ORACLE (ln is libm); spec-gated vs a driver fold,
    * order-independent by the 1e12 floor-quantized term discipline at
    * (source, length) histogram grain. The oracle-checked companion
    * is [[atkinson2]] (its harmonic-mean kernel needs no log at all). */
  def theilIndex(spark: SparkSession, sfDir: String): DataFrame = {
    val byV = Tables.documents(spark, sfDir)
      .where(col("n_chars") > 0L)
      .groupBy(col("source"), col("n_chars").as("x"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false) // totals + term pass
    val tot = byV.groupBy(col("source"))
      .agg(sum(col("c")).as("n"), sum(col("c") * col("x")).as("sx"))
    def d(c: Column) = c.cast("double")
    val ratio = d(col("x")) * d(col("n")) / d(col("sx"))
    val term = ratio * log(ratio)
    byV.join(broadcast(tot), "source")
      .select(col("source"), col("n"),
        (col("c") * floor(term * lit(1.0e12)).cast("long")).as("tq"))
      .groupBy(col("source"), col("n"))
      .agg(sum(col("tq")).as("tqs"))
      .select(col("source"), col("n").as("n_docs"),
        Det.r4(d(col("tqs")) / lit(1.0e12) / d(col("n"))).as("theil_t"))
      .orderBy("source")
  }

  /** ATKINSON INEQUALITY (ε = 2) of document lengths per source — the
    * ORACLE-CHECKED member of the inequality family: A₂ = 1 −
    * harmonic/arithmetic mean, whose kernel Σ(1/xᵢ) needs NO log.
    * Exactness: each reciprocal is the INTEGER division 10¹² div x
    * (bit-identical in any engine — the defined quantization), summed
    * as BIGINT with the doc-count weights, so A₂ = 1 − n²·10¹²/
    * (Σq·Σx) is one fixed IEEE text over exact integers
    * (double-before-product per the r10 rule). NULL on an empty
    * source in both engines. */
  def atkinson2(spark: SparkSession, sfDir: String): DataFrame = {
    def d(c: Column) = c.cast("double")
    Tables.documents(spark, sfDir)
      .where(col("n_chars") > 0L)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(expr("1000000000000L div n_chars")).as("hq"))
      .select(col("source"), col("n_docs"), col("sum_chars"), col("hq"),
        when(col("hq") > 0L && col("sum_chars") > 0L,
          Det.r4(lit(1.0) - d(col("n_docs")) * d(col("n_docs")) *
            lit(1.0e12) / (d(col("hq")) * d(col("sum_chars")))))
          .otherwise(lit(null)).as("a2"))
      .orderBy("source")
  }

  /** RÉNYI-2 DIVERSITY RANK — the ORACLE-CHECKED entropy read: inverse
    * Simpson D₂ = 1/Σp² = N²/Σc² per source. Rényi-2 entropy is
    * ln D₂, and ln is monotone — ranking by D₂ IS ranking by the
    * entropy (the rank-by-the-log's-argument trick), with every input
    * exact: Σc² accumulates as DECIMAL(38,0) (BIGINT would survive
    * today's SFs; the widening is the 100 TB posture), the final ratio
    * is double-before-product over BIGINTs < 2⁵³. Sources sort by
    * UNROUNDED D₂ (identical IEEE in both engines), source tiebreak. */
  def renyi2Rank(spark: SparkSession, sfDir: String): DataFrame = {
    def d(c: Column) = c.cast("double")
    val g = sourceTokenCounts(spark, sfDir)
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tok"),
        sum(col("c").cast("decimal(38,0)") * col("c")).cast("long")
          .as("sum_c2"))
    val d2 = d(col("n_tok")) * d(col("n_tok")) / d(col("sum_c2"))
    g.select(col("source"), col("n_tok"), col("sum_c2"),
        Det.r4(d2).as("d2"), d2.as("d2_raw"))
      .orderBy(col("d2_raw").desc, col("source"))
      .drop("d2_raw")
  }

  /** Duplicate-trigram fraction per document — the repetition quality
    * signal (Rae et al., "Scaling Language Models" / Gopher rules [U]:
    * heavily repetitive docs are low-quality training data). Trigrams
    * via transform over a pre-projected token array (lambda-CSE gotcha:
    * never re-split inside the lambda); rep = 1 − distinct/total.
    * Map-side only. */
  def repetition(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= 3)
      .select(col("doc_id"), expr(ngramExpr("toks", 3)).as("tg"))
      .select(col("doc_id"),
        size(col("tg")).cast("bigint").as("n3"),
        size(array_distinct(col("tg"))).cast("bigint").as("nd3"))
      .select(col("doc_id"), col("n3"), col("nd3"),
        Det.r4(lit(1.0) -
          col("nd3").cast("double") / col("n3").cast("double")).as("rep"))
      .orderBy("doc_id")

  /** Benchmark DECONTAMINATION — the n-gram overlap rule (GPT-3 appendix
    * C [U]: drop training docs sharing a 13-gram with any eval set; 5
    * here for this corpus's short docs): the held-out set's distinct
    * n-grams join against the training side's n-grams, flagging every
    * training doc with an overlap and its shared-gram count. Shapes like
    * exact dedup — explode → distinct benchmark grams (small: eval sets
    * are thousands of docs) → one equi-join on the gram; never all-pairs
    * document comparison. The doc_id<20 slice stands in for the eval
    * set. */
  def decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val grams = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .where(size(col("tk")) >= 5)
      .select(col("doc_id"), explode(expr(ngramExpr("tk", 5))).as("g5"))
    val benchGrams = grams.where(col("doc_id") < 20)
      .select(col("g5")).distinct()
    grams.where(col("doc_id") >= 20)
      .join(benchGrams, "g5")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g5")).as("n_shared"))
      .orderBy("doc_id")
  }

  /** q_llm_decontaminate's DuckDB text — shared verbatim with the
    * bloom-gated twin, whose pre-filter cannot change the result. */
  private val decontaminateOracle: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
      |           FROM documents
      |           WHERE len(string_split(text, ' ')) >= 5),
      |g AS (SELECT doc_id,
      |             unnest(list_transform(generate_series(1, len(tk) - 4),
      |               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])) AS g5
      |      FROM t),
      |b AS (SELECT DISTINCT g5 FROM g WHERE doc_id < 20)
      |SELECT g.doc_id, CAST(count(DISTINCT g.g5) AS BIGINT) AS n_shared
      |FROM g JOIN b USING (g5)
      |WHERE g.doc_id >= 20
      |GROUP BY 1
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  /** BLOOM-GATED DECONTAMINATION — [[decontaminate]] with the 100 TB
    * front door: the benchmark's n-gram set compiles to ONE
    * sketch-sized bloom filter (driver-held, ~25 KB — the AnnIndex
    * build/serve split applied to contamination), every corpus gram
    * pre-filters MAP-SIDE through `might_contain(xxhash64(g5))`
    * (codegen'd, no shuffle, no broadcast of the gram set), and only
    * the survivors reach the exact join that kills false positives.
    * The output is therefore IDENTICAL to the exact read — it shares
    * q_llm_decontaminate's oracle verbatim — while at scale the join
    * input shrinks by the bloom's pass rate (FP-bounded), which is the
    * entire shuffle saving. */
  def decontaminateBloom(spark: SparkSession, sfDir: String): DataFrame = {
    val grams = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .where(size(col("tk")) >= 5)
      .select(col("doc_id"), explode(expr(ngramExpr("tk", 5))).as("g5"))
      .localCheckpoint(eager = false)
    val benchGrams = grams.where(col("doc_id") < 20)
      .select(col("g5")).distinct()
      .localCheckpoint(eager = false)
    val bloom = benchGrams
      .agg(graft.functions.BloomAgg(xxhash64(col("g5")), 20000L, 200000L)
        .as("bf"))
      .head.getAs[Array[Byte]]("bf") // model-sized collect, by design
    grams.where(col("doc_id") >= 20)
      .where(graft.functions.MightContain(lit(bloom), xxhash64(col("g5"))))
      .join(benchGrams, "g5")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g5")).as("n_shared"))
      .orderBy("doc_id")
  }

  /** PII REDACTION — the scrub pass every curation pipeline runs before
    * training: mask emails, URLs and long digit runs, and account for
    * what was removed per document. The corpus is synthetic word-salad
    * with no organic PII, so each doc first gains a deterministic
    * contact footer derived from its own doc_id (the same
    * derive-from-testdata device as the upsert changes feed) — the
    * redaction then has real work to do and an exact oracle. Entirely
    * map-side (regexp_replace chains are codegen'd row expressions);
    * patterns use only character classes + bounded quantifiers, which
    * behave identically in Java regex and RE2. */
  def redact(spark: SparkSession, sfDir: String): DataFrame = {
    val email = "[a-z0-9._]+@[a-z0-9.]+"
    val url = "https?://[^ ]+"
    val num = "[0-9]{5,}"
    val aug = Tables.documents(spark, sfDir)
      .select(col("doc_id"), concat(col("text"),
        lit(" contact user"), col("doc_id"),
        lit("@mail.example.com or http://host.example/p/"), col("doc_id"),
        lit(" ref "), (col("doc_id") * 137 + lit(4200017L)).cast("string"))
        .as("txt"))
    aug.select(col("doc_id"),
        size(regexp_extract_all(col("txt"), lit(email), lit(0)))
          .cast("long").as("n_email"),
        size(regexp_extract_all(col("txt"), lit(url), lit(0)))
          .cast("long").as("n_url"),
        regexp_replace(regexp_replace(regexp_replace(col("txt"),
          email, "<EMAIL>"), url, "<URL>"), num, "<NUM>").as("red"))
      .select(col("doc_id"), col("n_email"), col("n_url"),
        length(col("red")).cast("long").as("red_len"),
        md5(col("red")).as("red_md5"))
      .orderBy("doc_id")
  }

  /** COLLOCATION mining — top bigrams by association lift
    * N·c(xy)/(c(x)·c(y)), the PMI argument WITHOUT the log: log is
    * monotone, so the lift ranking IS the PMI ranking while staying
    * inside IEEE-exact ops (cross-engine libm transcendentals drift).
    * Counts are exact integers below 2^53, their double conversions
    * exact, and the one compound float expression has identical op
    * text both engines. At 100 TB: two map-side-combined counting
    * aggregates; the unigram vocabulary joins by broadcast (vocab ≪
    * corpus — Zipf guarantees it); the min-count floor (c₂ ≥ 5)
    * bounds the ranked set before the TakeOrdered top-20. */
  def collocations(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(split(col("text"), " ").as("tk"))
    val uni = docs.select(explode(col("tk")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cw"))
    val nTok = uni.agg(sum(col("cw")).as("n"))
    docs.where(size(col("tk")) >= 2)
      .select(explode(expr(ngramExpr("tk", 2))).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c2"))
      .where(col("c2") >= 5L)
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
      .join(broadcast(uni.select(col("w").as("w1"), col("cw").as("c_w1"))), "w1")
      .join(broadcast(uni.select(col("w").as("w2"), col("cw").as("c_w2"))), "w2")
      .crossJoin(broadcast(nTok))
      .select(col("bg"), col("c2"), col("c_w1"), col("c_w2"),
        Det.r4((col("c2").cast("double") * col("n").cast("double")) /
          (col("c_w1").cast("double") * col("c_w2").cast("double")))
          .as("lift"))
      .orderBy(col("lift").desc, col("bg"))
      .limit(20)
  }

  /** Per-document KEYWORD extraction — tf·idf with LINEAR idf (N/df,
    * log-free; documented deviation from log-idf: the combined tf·idf
    * ranking can differ from the log variant, but the score is exactly
    * reproducible cross-engine, which the log variant is not). df comes
    * from a window over the (doc, term) aggregate — counting the rows
    * of a term's partition IS its document frequency, no self-join.
    * Top-3 terms per doc by row_number with a total tiebreak. At
    * 100 TB: one shuffle for the (doc,term) agg, one for the term
    * window, one for the doc window — each on a different natural key. */
  def tfidfKeywords(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val nDocs = Tables.documents(spark, sfDir)
      .agg(count(lit(1)).as("n_docs"))
    val wTerm = Window.partitionBy(col("term"))
    val wDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.withColumn("df", count(lit(1)).over(wTerm))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        Det.r4((col("tf").cast("double") * col("n_docs").cast("double")) /
          col("df").cast("double")))
      .withColumn("rnk", row_number().over(wDoc).cast("long"))
      .where(col("rnk") <= 3L)
      .select(col("doc_id"), col("rnk"), col("term"),
        col("tf"), col("df"), col("score"))
      .orderBy("doc_id", "rnk")
  }

  /** CONNECTED COMPONENTS over the verified near-dup edge list — the
    * graph step that turns pairwise similarity into dedup clusters
    * (Lee et al. 2022 dedup pipelines cluster before dropping), HERE AS
    * AN ORACLE-CHECKED QUERY: 6 unrolled rounds of min-label
    * propagation (converges in ≤4 on both SFs; integer-only state, so
    * every round is exact in any engine — the unrolled-CTE technique
    * from q_llm_kmeans on a graph recursion). Edges = same-lang doc
    * pairs with distinct-token Jaccard ≥ 0.95 on the doc_id<200 slice
    * (the exact pairwise criterion of [[jaccardPairs]]; at corpus
    * scale the candidate pairs come from MinHash-LSH instead — see
    * [[minhashDedup]]/DupCluster — but the propagation core is THIS).
    * Per round: one shuffle on dst for the neighbor-min, one equi-join
    * back — label size is one BIGINT regardless of component size. */
  def dupComponents(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = Tables.documents(spark, sfDir)
      .where(col("doc_id") < 200)
      .select(col("doc_id"), col("lang"),
        explode(array_distinct(toks)).as("t"))
    val sizes = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("nt"))
    val inter = tok.select(col("doc_id").as("a_id"), col("lang"), col("t"))
      .join(tok.select(col("doc_id").as("b_id"), col("lang").as("lang_b"),
          col("t").as("t_b")),
        col("t") === col("t_b") && col("lang") === col("lang_b") &&
          col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("inter"))
    val edges = inter
      .join(sizes.select(col("doc_id").as("a_id"), col("nt").as("na")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("nt").as("nb")), "b_id")
      .where(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")) >= lit(0.95))
      .select(col("a_id"), col("b_id"))
      // checkpoint BEFORE symmetrizing: union children don't CSE, so an
      // unmaterialized edge relation would run the Jaccard self-join twice
      .localCheckpoint(eager = false)
    val sym = edges.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionByName(edges.select(col("b_id").as("src"), col("a_id").as("dst")))
      .localCheckpoint(eager = false)
    val docs = Tables.documents(spark, sfDir)
      .where(col("doc_id") < 200)
      .select(col("doc_id").as("node"), col("doc_id").as("comp"))
    graft.rel.RelationalOps.minLabels(sym, docs, 6, converge = false)
      .select(col("node").as("doc_id"), col("comp"))
      .orderBy("doc_id")
  }

  /** Gopher-style rule-based quality gate (Rae et al. 2021, "Scaling
    * Language Models: Methods, Analysis & Insights from Training
    * Gopher", Appendix A): per-document rule flags and the combined
    * keep decision — the length band, the mean-word-length band, the
    * type-token-ratio floor and the stopword-presence rule. Every rule
    * evaluates in EXACT integer arithmetic (mean word length ∈ [3,10]
    * as 3·n ≤ Σlen ≤ 10·n, TTR ≥ 0.3 as 10·uniq ≥ 3·n), so the gate is
    * bit-reproducible across engines; only the REPORTED mean word
    * length touches floats (exact integers in, shared r4 rounding).
    *
    * Scale posture: entirely map-side — one projection of array folds
    * over the pre-split token array, no shuffle except the
    * presentation sort. At 100 TB this is the cheapest possible gate
    * shape: it composes with the corpus-prep pipeline as a pushed-down
    * filter in front of every dedup shuffle. */
  def gopherRules(spark: SparkSession, sfDir: String): DataFrame =
    gopherFlags(Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("text")))
      .drop("text")
      .orderBy("doc_id")

  /** The rule columns of [[gopherRules]] over ANY relation carrying a
    * `text` column — stateless and deterministic, so the SAME
    * expressions serve the batch report and the streaming admission
    * gate ([[graft.streaming.Ingest.gopherGate]]); keeps the two gates
    * incapable of drifting apart. */
  private[graft] def gopherFlags(docs: DataFrame): DataFrame = {
    val nTok = size(col("tk")).cast("long")
    val nUniq = size(array_distinct(col("tk"))).cast("long")
    val sumChars = aggregate(
      transform(col("tk"), t => length(t).cast("long")),
      lit(0L), (a, x) => a + x)
    val nStop = size(filter(col("tk"),
      t => t === "the" || t === "a" || t === "of" || t === "to")).cast("long")
    def flag(c: Column) = when(c, 1L).otherwise(0L)
    docs
      .withColumn("tk", split(col("text"), " "))
      .withColumn("n_tok", nTok)
      .withColumn("mean_wlen", Det.r4(sumChars.cast("double") / col("n_tok")))
      .withColumn("r_len", flag(col("n_tok").between(20, 80)))
      .withColumn("r_wordlen",
        flag(sumChars >= col("n_tok") * 3 && sumChars <= col("n_tok") * 10))
      .withColumn("r_ttr", flag(nUniq * 10 >= col("n_tok") * 3))
      .withColumn("r_stop", flag(nStop >= 2))
      .withColumn("keep", when(
        col("r_len") + col("r_wordlen") + col("r_ttr") + col("r_stop") === 4,
        1L).otherwise(0L))
      .drop("tk")
  }

  /** Source-mix curation report: per source, corpus share in documents
    * and whitespace tokens, the exact-dup ratio inside the source, and
    * the dominant language with its document count — the table a
    * data-mixing pass reads before assigning per-source sampling
    * weights (and the first place a scraped mirror shows up, as a
    * source whose uniq_ratio collapses).
    *
    * Scale posture: two partial-agg shuffles keyed on (source[, lang])
    * plus one scalar corpus total (crossJoin of a 1-row aggregate, not
    * a window over the full relation); the dominant language folds into
    * min(struct(-count, lang)) inside the same aggregation — argmax
    * with a deterministic alphabetical tiebreak, no extra window
    * shuffle. */
  def domainMix(spark: SparkSession, sfDir: String): DataFrame =
    domainMixOf(domainMixPrep(Tables.documents(spark, sfDir)))

  /** The per-doc grain [[domainMixOf]] consumes — factored out so the
    * streaming twin's spec ([[graft.streaming.Ingest.domainMixStream]])
    * can feed the SAME prepared columns through both paths and assert
    * field equality instead of re-deriving the formulas. */
  def domainMixPrep(raw: DataFrame): DataFrame =
    raw.select(col("doc_id"), col("source"), col("lang"),
      size(toks).cast("long").as("ntok"), md5(col("text")).as("h"))

  def domainMixOf(docs: DataFrame): DataFrame = {
    val top = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("nl"))
      .groupBy(col("source"))
      .agg(min(struct((-col("nl")).as("neg"), col("lang"))).as("m"))
      .select(col("source"), col("m.lang").as("top_lang"),
        (-col("m.neg")).as("top_lang_docs"))
    val bySrc = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("ws_tokens"),
        countDistinct(col("h")).as("nd"))
    val tot = docs.agg(sum(col("ntok")).as("tot_tokens"),
      count(lit(1)).as("tot_docs"))
    bySrc.join(top, "source").crossJoin(tot)
      .select(col("source"), col("n_docs"), col("ws_tokens"),
        Det.r4(col("n_docs").cast("double") / col("tot_docs")).as("doc_share"),
        Det.r4(col("ws_tokens").cast("double") / col("tot_tokens"))
          .as("tok_share"),
        Det.r4(col("nd").cast("double") / col("n_docs")).as("uniq_ratio"),
        col("top_lang"), col("top_lang_docs"))
      .orderBy("source")
  }

  /** Per-source quality scorecard: the [[gopherRules]] gate aggregated
    * by source — keep rate, per-rule failure counts, and kept-token
    * share — the table a curation run reads to decide which sources to
    * deprioritize BEFORE burning dedup compute on them. Every cell is
    * an exact integer or an r4-rounded ratio of exact integers.
    *
    * Scale posture: the gate is map-side ([[gopherFlags]]); this adds
    * exactly one partial-agg shuffle keyed on source. */
  def sourceQuality(spark: SparkSession, sfDir: String): DataFrame =
    gopherFlags(Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep")).as("n_keep"),
        sum(lit(1L) - col("r_len")).as("fail_len"),
        sum(lit(1L) - col("r_wordlen")).as("fail_wordlen"),
        sum(lit(1L) - col("r_ttr")).as("fail_ttr"),
        sum(lit(1L) - col("r_stop")).as("fail_stop"),
        sum(col("n_tok") * col("keep")).as("tok_kept"),
        sum(col("n_tok")).as("tok_total"))
      .select(col("source"), col("n_docs"), col("n_keep"),
        Det.r4(col("n_keep").cast("double") / col("n_docs")).as("keep_rate"),
        col("fail_len"), col("fail_wordlen"), col("fail_ttr"),
        col("fail_stop"),
        Det.r4(col("tok_kept").cast("double") / col("tok_total"))
          .as("tok_kept_share"))
      .orderBy("source")

  /** χ² INDEPENDENCE read over the (source × lang) contingency — the
    * distribution-drift audit a curation run does before trusting a
    * source mix: a source whose language distribution departs from the
    * corpus marginal shows up as the cells with the largest χ²
    * contribution ((o−e)²/e). Every input is an exact BIGINT count
    * (observed cell, row/column marginals, total — three partial-agg
    * shuffles over the doc table, all summary-sized and broadcast
    * back); expected values and contributions are then the SAME IEEE
    * op sequence in both engines under the shared rounding. The FULL
    * marginal grid is generated (tiny sources × langs cross join, left
    * join observed, zero-fill) so empty cells contribute their e — no
    * silent omission. Per-cell rows let the reader sum any slice
    * without cross-engine float-summation order entering the oracle. */
  def chisqDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    val cells = d.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("o"))
    val rs = d.groupBy(col("source")).agg(count(lit(1)).as("ri"))
    val cs = d.groupBy(col("lang")).agg(count(lit(1)).as("cj"))
    val tot = d.agg(count(lit(1)).as("n"))
    def dd(c: org.apache.spark.sql.Column) = c.cast("double")
    val grid = rs.crossJoin(broadcast(cs)).crossJoin(broadcast(tot))
      .join(cells, Seq("source", "lang"), "left")
      .select(col("source"), col("lang"),
        coalesce(col("o"), lit(0L)).as("o"),
        col("ri"), col("cj"), col("n"))
    // doubles BEFORE the product: a BIGINT ri*cj overflows at extreme
    // corpus sizes; below 2^53 the two forms are bit-identical
    val e = dd(col("ri")) * dd(col("cj")) / dd(col("n"))
    grid.select(col("source"), col("lang"), col("o"), col("ri"),
        col("cj"), col("n"), Det.r4(e).as("expected"),
        Det.r4((dd(col("o")) - e) * (dd(col("o")) - e) / e).as("contrib"))
      .orderBy("source", "lang")
  }

  private[llm] val TradeoffConfigs = Seq((8, 1), (4, 2), (2, 4), (1, 8))

  /** MinHash-LSH banding tradeoff report — the dedup twin of the ANN
    * nprobe tradeoff read: for each (bands × rows) split of an 8-hash
    * signature, the candidate-pair count, true positives, precision and
    * recall against EXACT shingle-Jaccard ≥ 0.5 ground truth. The
    * signature here is an md5-based minhash (15-hex-digit prefix folded
    * to a 60-bit integer) and every threshold test is integer
    * (2·|∩| ≥ |∪|), so the whole report is oracle-checkable — unlike
    * the production xxhash LSH ([[minhashDedup]]), whose banding this
    * read exists to TUNE before a 100 TB dedup run commits to one.
    *
    * Scale posture: signatures are map-side folds over the pre-split
    * shingle array (no shuffle); candidates come from band-bucket
    * equi-joins keyed on (config, band, sig) — never all pairs; the
    * ground-truth side bounds its inverted index by shingle document
    * frequency ≤ 20 (a pair at Jaccard ≥ 0.5 shares ~half its
    * shingles, so rare shingles always witness it — the same fanout
    * cap as [[sourceOverlap]]) and demands a ≥5-shared-rare-shingle
    * witness before any exact verify; and each unique candidate pair
    * verifies exactly once regardless of how many configs surface it. */
  def lshTradeoff(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // shared by signatures, the truth index and both verify joins —
    // checkpointed so the union of consumers doesn't recompute shingles
    val s = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), toks.as("tk"))
      .select(col("doc_id"), col("lang"), shingles.as("shs"))
      .localCheckpoint()
    // signatures via explode + 8 codegen'd min(conv(md5)) aggregates —
    // the same shape as the production [[lshBuckets]]. A nested
    // higher-order-function fold over md5 hex digits computes the same
    // value but runs INTERPRETED (HOFs are CodegenFallback) and, worse,
    // lambdas don't CSE, so a fold reading substr(md5(...), i, 1)
    // recomputes the md5 per digit — measured 15× this query's cost.
    // conv(hex, 16, 10) on the 15-digit prefix is the single codegen'd
    // scalar that equals the DuckDB side's integer hex fold exactly
    // (60-bit positive values, no sign edge).
    val shRows = s.select(col("doc_id"), col("lang"),
      explode(col("shs")).as("sh"))
    val sigCols = (0 until 8).map(i =>
      min(expr("CAST(conv(substr(md5(concat(sh, '|', '" + i +
        "')), 1, 15), 16, 10) AS BIGINT)")).as(s"h$i"))
    // no checkpoint here: the band self-join's two sides plan the SAME
    // aggregation exchange and ReuseExchange computes it once
    val sigs = shRows.groupBy(col("doc_id"), col("lang"))
      .agg(sigCols.head, sigCols.tail: _*)
      .select(col("doc_id"), col("lang"),
        array((0 until 8).map(i => col(s"h$i")): _*).as("h"))
    val bandDefs = TradeoffConfigs.flatMap { case (b, r) =>
      (0 until b).map(band =>
        struct(lit(b).as("bands"), lit(r).as("rows_per_band"),
          lit(band).as("band"),
          array_join(transform(slice(col("h"), band * r + 1, r),
            x => x.cast("string")), ",").as("sig")))
    }
    val bandrows = sigs
      .select(col("doc_id"), col("lang"), explode(array(bandDefs: _*)).as("bb"))
      .select(col("doc_id"), col("lang"), col("bb.bands").as("bands"),
        col("bb.rows_per_band").as("rows_per_band"),
        col("bb.band").as("band"), col("bb.sig").as("sig"))
    val cand = bandrows
      .select(col("doc_id").as("a_id"), col("lang"), col("bands"),
        col("rows_per_band"), col("band"), col("sig"))
      .join(bandrows.select(col("doc_id").as("b_id"),
          col("lang").as("lang_b"), col("bands").as("bands_b"),
          col("band").as("band_b"), col("sig").as("sig_b")),
        col("bands") === col("bands_b") && col("band") === col("band_b") &&
          col("sig") === col("sig_b") && col("lang") === col("lang_b") &&
          col("a_id") < col("b_id"))
      .select(col("bands"), col("rows_per_band"), col("a_id"), col("b_id"))
      .distinct()
    // each unique pair verifies once; configs re-join the verdict
    val withJac = cand.select(col("a_id"), col("b_id")).distinct()
      .join(s.select(col("doc_id").as("a_id"), col("shs").as("sa")), "a_id")
      .join(s.select(col("doc_id").as("b_id"), col("shs").as("sb")), "b_id")
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("inter"),
        size(array_union(col("sa"), col("sb"))).cast("long").as("uni"))
    val candStats = cand.join(withJac, Seq("a_id", "b_id"))
      .groupBy(col("bands"), col("rows_per_band"))
      .agg(count(lit(1)).as("n_cand"),
        sum(when(col("inter") * 2 >= col("uni"), 1L).otherwise(0L)).as("tp"))
    // truth requires a ≥5-rare-shingle witness BEFORE the exact
    // verify: a pair at Jaccard ≥ 0.5 shares ≥~27 shingles, almost
    // all rare (measured: every true pair at both SFs shares ≥ 8),
    // while the witness count folds out of the SAME equi-join the
    // candidate pairs come from — this cuts the array verifies from
    // ~290k pairs to under a hundred at sf0.1 (3000×)
    val inv = s.select(col("doc_id"), col("lang"), explode(col("shs")).as("sh"))
    val rare = inv.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .where(col("df") <= 20).select("sh")
    val rinv = inv.join(rare, "sh")
    val nTrue = rinv
      .select(col("doc_id").as("a_id"), col("lang"), col("sh"))
      .join(rinv.select(col("doc_id").as("b_id"), col("lang").as("lang_b"),
          col("sh").as("sh_b")),
        col("sh") === col("sh_b") && col("lang") === col("lang_b") &&
          col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_rare_shared"))
      .where(col("n_rare_shared") >= 5)
      .join(s.select(col("doc_id").as("a_id"), col("shs").as("sa")), "a_id")
      .join(s.select(col("doc_id").as("b_id"), col("shs").as("sb")), "b_id")
      .where(size(array_intersect(col("sa"), col("sb"))) * 2 >=
        size(array_union(col("sa"), col("sb"))))
      .agg(count(lit(1)).as("n_true"))
    TradeoffConfigs.toDF("bands", "rows_per_band")
      .join(candStats, Seq("bands", "rows_per_band"), "left")
      .na.fill(0L, Seq("n_cand", "tp"))
      .crossJoin(nTrue)
      .select(col("bands").cast("long").as("bands"),
        col("rows_per_band").cast("long").as("rows_per_band"),
        col("n_cand"), col("tp"), col("n_true"),
        when(col("n_cand") === 0, lit(null).cast("double"))
          .otherwise(Det.r4(col("tp").cast("double") / col("n_cand")))
          .as("prec"),
        when(col("n_true") === 0, lit(null).cast("double"))
          .otherwise(Det.r4(col("tp").cast("double") / col("n_true")))
          .as("recall"))
      .orderBy(col("bands").desc)
  }

  /** Top tokens per language via the native Misra–Gries summary
    * ([[graft.functions.HeavyHitters]]) — the sketch read a 100 TB
    * corpus runs where exact `groupBy(token).count` would shuffle the
    * whole vocabulary: the shuffle here carries one ≤1024-entry
    * summary per (lang × partition). No oracle (estimates depend on
    * partition merge order by design); the guarantees — never
    * overcounts, undercount ≤ n/(capacity+1), exact when a group's
    * vocabulary fits the summary — are spec-proven in LlmSpec. */
  def heavyHitterTokens(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("lang"), explode(toks).as("token"))
      .groupBy(col("lang"))
      .agg(graft.functions.HeavyHitters(col("token"), 1024, 10).as("hh"))
      .select(col("lang"), posexplode(col("hh")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
        col("col.item").as("token"), col("col.est").as("est"))
      .orderBy("lang", "rank")

  /** HEAVY-HITTER × COUNT–MIN CROSS-CHECK — the corpus's two frequency
    * sketches reading each other: per language the MG legend's top
    * tokens probe the CMS, and because MG never overcounts while
    * cm_query never undercounts, `mg_est ≤ true ≤ cms_est` brackets
    * every legend row WITHOUT an exact pass — the 100 TB way to bound
    * a sketch's error in production. Both summaries are fixed-size per
    * (lang × partition); the token stream materializes once (lazy
    * checkpoint) and the final join is legend-sized. No oracle
    * (seeded-hash internals); LlmSpec proves the bracket against exact
    * counts. */
  def cmTokenProbe(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = Tables.documents(spark, sfDir)
      .select(col("lang"), explode(toks).as("token"))
      .localCheckpoint(eager = false)
    val hh = tok.groupBy(col("lang"))
      .agg(graft.functions.HeavyHitters(col("token"), 1024, 10).as("hh"))
      .select(col("lang"), posexplode(col("hh")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
        col("col.item").as("token"), col("col.est").as("mg_est"))
    val sk = tok.groupBy(col("lang"))
      .agg(graft.functions.CmSketch(col("token"), 4, 4096).as("sk"))
    hh.join(broadcast(sk), "lang")
      .select(col("lang"), col("rank"), col("token"), col("mg_est"),
        graft.functions.CmQuery(col("sk"), col("token")).as("cms_est"))
      .orderBy("lang", "rank")
  }

  /** COUNT–MIN WIDTH TRADEOFF — the tuning read for sizing
    * [[graft.functions.CountMin]] (the family's established pattern:
    * hash-parameter sweeps become ORACLE-CHECKABLE by swapping the
    * production murmur kernel for an md5-derived twin both engines
    * compute bit-identically — `conv` on the 15-hex md5 prefix, the
    * q_llm_lsh_tradeoff fold). For widths 64/256/1024 at depth 4 the
    * whole sketch is declared relationally: cell = md5-fold % width,
    * cell sums are one exact aggregate, each token's estimate is the
    * min over its 4 cells, and the report shows mean/max overestimate
    * and the exactly-estimated fraction per width — all integer math
    * until the two shared-formula ratios. Everything is vocab-grain
    * after one explode; the cell table is sketch-sized. */
  def cmsTradeoff(spark: SparkSession, sfDir: String): DataFrame = {
    val depth = 4
    val exact = Tables.documents(spark, sfDir)
      .select(explode(toks).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val cellDefs = Seq(64, 256, 1024).flatMap(w => (0 until depth).map { r =>
      struct(lit(w.toLong).as("w"), lit(r).as("r"),
        expr(s"CAST(conv(substr(md5(concat(token, '#', '$r')), 1, 15), " +
          s"16, 10) AS BIGINT) % ${w}L").as("cell"))
    })
    val cells = exact.select(col("token"), col("cnt"),
        explode(array(cellDefs: _*)).as("c"))
      .select(col("token"), col("cnt"), col("c.w").as("w"),
        col("c.r").as("r"), col("c.cell").as("cell"))
      .localCheckpoint(eager = false) // shared by the cell table + probe
    val celltab = cells.groupBy(col("w"), col("r"), col("cell"))
      .agg(sum(col("cnt")).as("cellsum"))
    cells.join(celltab, Seq("w", "r", "cell"))
      .groupBy(col("token"), col("w"))
      .agg(min(col("cellsum")).as("est"), max(col("cnt")).as("cnt"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_tokens"),
        Det.r4(sum(col("est") - col("cnt")).cast("double") / count(lit(1)))
          .as("mean_overest"),
        max(col("est") - col("cnt")).as("max_overest"),
        Det.r4(sum(when(col("est") === col("cnt"), 1L).otherwise(0L))
          .cast("double") / count(lit(1))).as("frac_exact"))
      .select(col("w").as("width"), col("n_tokens"), col("mean_overest"),
        col("max_overest"), col("frac_exact"))
      .orderBy("width")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_llm_cms_tradeoff" -> cmsTradeoff _,
    "q_llm_cms_probe" -> cmTokenProbe _,
    "q_llm_heavy_hitters" -> heavyHitterTokens _,
    "q_llm_gopher_rules" -> gopherRules _,
    "q_llm_source_quality" -> sourceQuality _,
    "q_llm_chisq_drift" -> chisqDrift _,
    "q_llm_domain_mix" -> domainMix _,
    "q_llm_lsh_tradeoff" -> lshTradeoff _,
    "q_llm_dup_components" -> dupComponents _,
    "q_llm_collocations" -> collocations _,
    "q_llm_tfidf" -> tfidfKeywords _,
    "q_llm_redact" -> redact _,
    "q_llm_decontaminate" -> decontaminate _,
    "q_llm_decontaminate_bloom" -> decontaminateBloom _,
    "q_llm_decontaminate_fuzzy" -> decontaminateFuzzy _,
    "q_llm_lm_novelty" -> lmNovelty _,
    "q_llm_perplexity" -> perplexity _,
    "q_llm_kl_drift" -> klDrift _,
    "q_llm_psi_length" -> psiLength _,
    "q_llm_vocab_chao1" -> vocabChao1 _,
    "q_llm_compress_ratio" -> compressRatio _,
    "q_llm_energy_dist" -> energyDistance _,
    "q_llm_kendall_sources" -> kendallSources _,
    "q_llm_spearman_sources" -> spearmanSources _,
    "q_llm_cvm_sources" -> cvmSources _,
    "q_llm_ad_sources" -> adSources _,
    "q_llm_ad_ksample" -> adKSample _,
    "q_llm_self_repetition" -> selfRepetition _,
    "q_llm_repeated_ngram" -> repeatedNgram _,
    "q_llm_mattr" -> mattr _,
    "q_llm_mtld" -> mtld _,
    "q_llm_mutual_info" -> mutualInfo _,
    "q_llm_entropy_mix" -> entropyMix _,
    "q_llm_drift_tokens" -> driftTokens _,
    "q_llm_renyi2" -> renyi2Rank _,
    "q_llm_theil_index" -> theilIndex _,
    "q_llm_atkinson2" -> atkinson2 _,
    "q_llm_temperature_mix" -> temperatureMix _,
    "q_llm_filter_kappa" -> filterKappa _,
    "q_llm_filter_cochran_q" -> filterCochranQ _,
    "q_llm_vocab_zipf" -> vocabZipf _,
    "q_llm_vocab_growth" -> vocabGrowth _,
    "q_llm_vocab_growth_dist" ->
      ((s: SparkSession, d: String) => vocabGrowthDistributed(s, d)),
    "q_llm_rake_keywords" -> rakeKeywords _,
    "q_llm_textrank" -> textRank _,
    "q_llm_dup_rate_by_source" -> dupRateBySource _,
    "q_llm_length_gini" -> lengthGiniBySource _,
    "q_llm_edit_neardup" -> editNearDup _,
    "q_llm_repetition" -> repetition _,
    "q_llm_split" -> trainValSplit _,
    "q_llm_budget_sample" -> budgetSample _,
    "q_llm_budget_mix" -> budgetMix _,
    "q_llm_chunk" -> chunkDocs _,
    "q_llm_pack" -> packSequences _,
    "q_llm_curriculum_pack" -> curriculumPack _,
    "q_llm_corpus_card" -> corpusCard _,
    "q_llm_exact_dedup" -> exactDedup _,
    "q_llm_segment_dedup" -> segmentDedup _,
    "q_llm_segment_sources" -> segmentSources _,
    "q_llm_source_overlap" -> sourceOverlap _,
    "q_llm_text_stats" -> textStats _,
    "q_llm_token_count" -> tokenCount _,
    "q_llm_quality" -> quality _,
    "q_llm_jaccard_pairs" -> jaccardPairs _,
    "q_llm_langid" -> langid _,
    "q_llm_minhash_dedup" -> minhashDedup _,
    "q_llm_simhash" -> simhash _,
    "q_llm_simhash_wide" -> simhashWide _,
    "q_llm_fingerprint" -> fingerprint _,
    "q_llm_winnowing" -> winnowing _,
    "q_llm_neyman_sample" -> neymanSample _
  )

  import Det.r4Sql

  private val oracleSqlBase: Map[String, String] = Map(
    "q_llm_gopher_rules" ->
      s"""WITH s AS (SELECT doc_id, lang, string_split(text, ' ') AS tk
        |           FROM documents),
        |m AS (SELECT doc_id, lang,
        |        CAST(len(tk) AS BIGINT) AS n_tok,
        |        CAST(len(list_distinct(tk)) AS BIGINT) AS n_uniq,
        |        CAST(list_sum(list_transform(tk,
        |          t -> CAST(length(t) AS BIGINT))) AS BIGINT) AS sum_chars,
        |        CAST(len(list_filter(tk, t -> t = 'the' OR t = 'a'
        |          OR t = 'of' OR t = 'to')) AS BIGINT) AS n_stop
        |      FROM s),
        |f AS (SELECT doc_id, lang, n_tok,
        |        ${r4Sql("CAST(sum_chars AS DOUBLE) / n_tok")} AS mean_wlen,
        |        CAST(CASE WHEN n_tok BETWEEN 20 AND 80
        |          THEN 1 ELSE 0 END AS BIGINT) AS r_len,
        |        CAST(CASE WHEN sum_chars >= n_tok * 3
        |          AND sum_chars <= n_tok * 10
        |          THEN 1 ELSE 0 END AS BIGINT) AS r_wordlen,
        |        CAST(CASE WHEN n_uniq * 10 >= n_tok * 3
        |          THEN 1 ELSE 0 END AS BIGINT) AS r_ttr,
        |        CAST(CASE WHEN n_stop >= 2
        |          THEN 1 ELSE 0 END AS BIGINT) AS r_stop
        |      FROM m)
        |SELECT doc_id, lang, n_tok, mean_wlen, r_len, r_wordlen, r_ttr,
        |       r_stop,
        |       CAST(CASE WHEN r_len + r_wordlen + r_ttr + r_stop = 4
        |         THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM f ORDER BY doc_id NULLS FIRST""".stripMargin,
    "q_llm_source_quality" ->
      s"""WITH s AS (SELECT doc_id, source, string_split(text, ' ') AS tk
        |           FROM documents),
        |m AS (SELECT doc_id, source,
        |        CAST(len(tk) AS BIGINT) AS n_tok,
        |        CAST(len(list_distinct(tk)) AS BIGINT) AS n_uniq,
        |        CAST(list_sum(list_transform(tk,
        |          t -> CAST(length(t) AS BIGINT))) AS BIGINT) AS sum_chars,
        |        CAST(len(list_filter(tk, t -> t = 'the' OR t = 'a'
        |          OR t = 'of' OR t = 'to')) AS BIGINT) AS n_stop
        |      FROM s),
        |f AS (SELECT doc_id, source, n_tok,
        |        CAST(CASE WHEN n_tok BETWEEN 20 AND 80
        |          THEN 1 ELSE 0 END AS BIGINT) AS r_len,
        |        CAST(CASE WHEN sum_chars >= n_tok * 3
        |          AND sum_chars <= n_tok * 10
        |          THEN 1 ELSE 0 END AS BIGINT) AS r_wordlen,
        |        CAST(CASE WHEN n_uniq * 10 >= n_tok * 3
        |          THEN 1 ELSE 0 END AS BIGINT) AS r_ttr,
        |        CAST(CASE WHEN n_stop >= 2
        |          THEN 1 ELSE 0 END AS BIGINT) AS r_stop
        |      FROM m),
        |k AS (SELECT doc_id, source, n_tok, r_len, r_wordlen, r_ttr,
        |        r_stop,
        |        CAST(CASE WHEN r_len + r_wordlen + r_ttr + r_stop = 4
        |          THEN 1 ELSE 0 END AS BIGINT) AS keep
        |      FROM f)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(keep) AS BIGINT) AS n_keep,
        |  ${r4Sql("CAST(sum(keep) AS DOUBLE) / count(*)")} AS keep_rate,
        |  CAST(sum(1 - r_len) AS BIGINT) AS fail_len,
        |  CAST(sum(1 - r_wordlen) AS BIGINT) AS fail_wordlen,
        |  CAST(sum(1 - r_ttr) AS BIGINT) AS fail_ttr,
        |  CAST(sum(1 - r_stop) AS BIGINT) AS fail_stop,
        |  ${r4Sql("CAST(sum(n_tok * keep) AS DOUBLE) / sum(n_tok)")} AS tok_kept_share
        |FROM k GROUP BY source
        |ORDER BY source NULLS FIRST""".stripMargin,
    "q_llm_chisq_drift" -> {
      val e = "CAST(ri AS DOUBLE) * CAST(cj AS DOUBLE) / CAST(n AS DOUBLE)"
      s"""WITH cells AS (
        |  SELECT source, lang, CAST(count(*) AS BIGINT) AS o
        |  FROM documents GROUP BY 1, 2),
        |rs AS (SELECT source, CAST(count(*) AS BIGINT) AS ri
        |       FROM documents GROUP BY 1),
        |cs AS (SELECT lang, CAST(count(*) AS BIGINT) AS cj
        |       FROM documents GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |g AS (
        |  SELECT rs.source, cs.lang, COALESCE(cells.o, 0) AS o,
        |         ri, cj, n
        |  FROM rs CROSS JOIN cs CROSS JOIN t
        |  LEFT JOIN cells ON cells.source = rs.source
        |    AND cells.lang = cs.lang)
        |SELECT source, lang, o, ri, cj, n,
        |       ${r4Sql(e)} AS expected,
        |       ${r4Sql(s"(CAST(o AS DOUBLE) - $e) * (CAST(o AS DOUBLE) - $e) / ($e)")} AS contrib
        |FROM g
        |ORDER BY source NULLS FIRST, lang NULLS FIRST""".stripMargin
    },
    "q_llm_domain_mix" ->
      s"""WITH d AS (SELECT doc_id, source, lang,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
        |             md5(text) AS h
        |           FROM documents),
        |b AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |        CAST(sum(ntok) AS BIGINT) AS ws_tokens,
        |        CAST(count(DISTINCT h) AS BIGINT) AS nd
        |      FROM d GROUP BY source),
        |t AS (SELECT CAST(sum(ntok) AS BIGINT) AS tot_tokens,
        |        CAST(count(*) AS BIGINT) AS tot_docs FROM d),
        |r AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS nl,
        |        row_number() OVER (PARTITION BY source
        |          ORDER BY count(*) DESC, lang NULLS FIRST) AS rn
        |      FROM d GROUP BY source, lang),
        |tl AS (SELECT source, lang AS top_lang, nl AS top_lang_docs
        |       FROM r WHERE rn = 1)
        |SELECT b.source, n_docs, ws_tokens,
        |       ${r4Sql("CAST(n_docs AS DOUBLE) / tot_docs")} AS doc_share,
        |       ${r4Sql("CAST(ws_tokens AS DOUBLE) / tot_tokens")} AS tok_share,
        |       ${r4Sql("CAST(nd AS DOUBLE) / n_docs")} AS uniq_ratio,
        |       top_lang, top_lang_docs
        |FROM b JOIN tl USING (source) CROSS JOIN t
        |ORDER BY source NULLS FIRST""".stripMargin,
    "q_llm_cms_tradeoff" ->
      s"""WITH ex AS MATERIALIZED (
        |  SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(string_split(text, ' ')) AS token
        |        FROM documents)
        |  GROUP BY 1),
        |wr AS (SELECT w, unnest(generate_series(0, 3)) AS r
        |       FROM (VALUES (64), (256), (1024)) AS t(w)),
        |cells AS MATERIALIZED (
        |  SELECT ex.token, ex.cnt, CAST(wr.w AS BIGINT) AS w, wr.r,
        |    list_reduce(list_transform(generate_series(1, 15),
        |      i -> CAST(strpos('0123456789abcdef',
        |        substr(md5(ex.token || '#' || CAST(wr.r AS VARCHAR)), i, 1))
        |        - 1 AS BIGINT)),
        |      (acc, x) -> acc * 16 + x) % w AS cell
        |  FROM ex CROSS JOIN wr),
        |ct AS (SELECT w, r, cell, CAST(sum(cnt) AS BIGINT) AS cellsum
        |       FROM cells GROUP BY 1, 2, 3),
        |est AS (
        |  SELECT token, w, CAST(min(cellsum) AS BIGINT) AS est,
        |         max(cnt) AS cnt
        |  FROM cells JOIN ct USING (w, r, cell) GROUP BY 1, 2)
        |SELECT w AS width, CAST(count(*) AS BIGINT) AS n_tokens,
        |  ${r4Sql("CAST(CAST(sum(est - cnt) AS BIGINT) AS DOUBLE) / count(*)")} AS mean_overest,
        |  CAST(max(est - cnt) AS BIGINT) AS max_overest,
        |  ${r4Sql("CAST(sum(CASE WHEN est = cnt THEN 1 ELSE 0 END) AS DOUBLE) / count(*)")} AS frac_exact
        |FROM est GROUP BY 1 ORDER BY width""".stripMargin,
    "q_llm_lsh_tradeoff" ->
      s"""WITH s AS MATERIALIZED (
        |  SELECT doc_id, lang,
        |    list_distinct(list_transform(
        |      generate_series(1, greatest(len(tk) - 2, 1)),
        |      i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS shs
        |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS tk
        |        FROM documents)),
        |sg AS MATERIALIZED (
        |  SELECT doc_id, lang,
        |    list_transform(generate_series(0, 7), s ->
        |      list_min(list_transform(
        |        list_transform(shs, sh -> md5(sh || '|' || CAST(s AS VARCHAR))),
        |        m -> list_reduce(list_transform(generate_series(1, 15),
        |          i -> CAST(strpos('0123456789abcdef', substr(m, i, 1))
        |            - 1 AS BIGINT)),
        |          (acc, x) -> acc * 16 + x)))) AS h
        |  FROM s),
        |cfg AS (SELECT * FROM (VALUES (8, 1), (4, 2), (2, 4), (1, 8))
        |        AS t(bands, rows_per_band)),
        |cfgb AS (SELECT bands, rows_per_band,
        |           unnest(generate_series(0, bands - 1)) AS band
        |         FROM cfg),
        |br AS MATERIALIZED (
        |  SELECT sg.doc_id, sg.lang, cfgb.bands, cfgb.rows_per_band,
        |    cfgb.band,
        |    array_to_string(sg.h[cfgb.band * cfgb.rows_per_band + 1 :
        |      cfgb.band * cfgb.rows_per_band + cfgb.rows_per_band],
        |      ',') AS sig
        |  FROM sg CROSS JOIN cfgb),
        |cand AS MATERIALIZED (
        |  SELECT DISTINCT a.bands, a.rows_per_band,
        |    a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM br a JOIN br b ON a.bands = b.bands AND a.band = b.band
        |    AND a.sig = b.sig AND a.lang = b.lang AND a.doc_id < b.doc_id),
        |pj AS MATERIALIZED (
        |  SELECT up.a_id, up.b_id,
        |    CAST(len(list_intersect(sa.shs, sb.shs)) AS BIGINT) AS inter,
        |    CAST(len(list_distinct(list_concat(sa.shs, sb.shs)))
        |      AS BIGINT) AS uni
        |  FROM (SELECT DISTINCT a_id, b_id FROM cand) up
        |  JOIN s sa ON sa.doc_id = up.a_id
        |  JOIN s sb ON sb.doc_id = up.b_id),
        |cs AS (
        |  SELECT bands, rows_per_band, CAST(count(*) AS BIGINT) AS n_cand,
        |    CAST(sum(CASE WHEN inter * 2 >= uni THEN 1 ELSE 0 END)
        |      AS BIGINT) AS tp
        |  FROM cand JOIN pj USING (a_id, b_id) GROUP BY 1, 2),
        |inv AS (SELECT doc_id, lang, unnest(shs) AS sh FROM s),
        |rare AS (SELECT sh FROM inv GROUP BY sh HAVING count(*) <= 20),
        |ri AS MATERIALIZED (SELECT inv.doc_id, inv.lang, inv.sh
        |                    FROM inv JOIN rare USING (sh)),
        |nt AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_true
        |  FROM (SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |        FROM ri a JOIN ri b ON a.sh = b.sh AND a.lang = b.lang
        |          AND a.doc_id < b.doc_id
        |        GROUP BY 1, 2 HAVING count(*) >= 5) tpr
        |  JOIN s sa ON sa.doc_id = tpr.a_id
        |  JOIN s sb ON sb.doc_id = tpr.b_id
        |  WHERE len(list_intersect(sa.shs, sb.shs)) * 2 >=
        |    len(list_distinct(list_concat(sa.shs, sb.shs))))
        |SELECT CAST(cfg.bands AS BIGINT) AS bands,
        |  CAST(cfg.rows_per_band AS BIGINT) AS rows_per_band,
        |  COALESCE(cs.n_cand, 0) AS n_cand, COALESCE(cs.tp, 0) AS tp,
        |  nt.n_true,
        |  CASE WHEN COALESCE(cs.n_cand, 0) = 0 THEN NULL
        |    ELSE ${r4Sql("CAST(cs.tp AS DOUBLE) / cs.n_cand")} END AS prec,
        |  CASE WHEN nt.n_true = 0 THEN NULL
        |    ELSE ${r4Sql("CAST(COALESCE(cs.tp, 0) AS DOUBLE) / nt.n_true")}
        |    END AS recall
        |FROM cfg LEFT JOIN cs USING (bands, rows_per_band) CROSS JOIN nt
        |ORDER BY bands DESC""".stripMargin,
    "q_llm_dup_components" -> {
      val rounds = (1 to 6).map { i =>
        s"""g$i AS (SELECT e.dst AS doc_id, min(l.comp) AS m
          |      FROM sym e JOIN l${i - 1} l ON l.doc_id = e.src GROUP BY 1),
          |l$i AS (SELECT l.doc_id, least(l.comp, COALESCE(g.m, l.comp)) AS comp
          |      FROM l${i - 1} l LEFT JOIN g$i g USING (doc_id))""".stripMargin
      }.mkString(",\n")
      s"""WITH tok AS (SELECT doc_id, lang,
        |               unnest(list_distinct(string_split(text, ' '))) AS t
        |             FROM documents WHERE doc_id < 200),
        |n AS (SELECT doc_id, count(*) AS nt FROM tok GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
        |      FROM tok a JOIN tok b
        |        ON a.t = b.t AND a.lang = b.lang AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |e0 AS (SELECT a_id, b_id
        |       FROM p JOIN n na ON na.doc_id = a_id
        |              JOIN n nb ON nb.doc_id = b_id
        |       WHERE CAST(inter AS DOUBLE) / (na.nt + nb.nt - inter) >= 0.95),
        |sym AS (SELECT a_id AS src, b_id AS dst FROM e0
        |        UNION ALL SELECT b_id, a_id FROM e0),
        |l0 AS (SELECT doc_id, doc_id AS comp
        |       FROM documents WHERE doc_id < 200),
        |$rounds
        |SELECT doc_id, comp FROM l6
        |ORDER BY doc_id NULLS FIRST""".stripMargin
    },
    "q_llm_drift_tokens" ->
      s"""WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w
        |       FROM documents),
        |c AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
        |      FROM tok GROUP BY 1, 2),
        |corp AS (SELECT w, CAST(sum(c) AS BIGINT) AS cc FROM c GROUP BY 1),
        |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns
        |       FROM c GROUP BY 1),
        |nc AS (SELECT CAST(sum(cc) AS BIGINT) AS nc FROM corp),
        |s AS (SELECT c.source, c.w, c.c, corp.cc,
        |        (CAST(c.c AS DOUBLE) * CAST(nc.nc AS DOUBLE)) /
        |        (CAST(ns.ns AS DOUBLE) * CAST(corp.cc AS DOUBLE)) AS ratio
        |      FROM c JOIN corp USING (w) JOIN ns USING (source)
        |      CROSS JOIN nc
        |      WHERE c.c >= 5),
        |r AS (SELECT source, w, c, cc, ratio,
        |        CAST(row_number() OVER (PARTITION BY source
        |          ORDER BY ratio DESC NULLS LAST, w NULLS FIRST)
        |          AS BIGINT) AS rnk
        |      FROM s)
        |SELECT source, rnk, w AS token, c, cc,
        |       ${r4Sql("ratio")} AS ratio
        |FROM r WHERE rnk <= 3
        |ORDER BY source NULLS FIRST, rnk NULLS FIRST""".stripMargin,
    "q_llm_renyi2" ->
      s"""WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w
        |       FROM documents),
        |c AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
        |      FROM tok GROUP BY 1, 2),
        |g AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tok,
        |        CAST(sum(c * c) AS BIGINT) AS sum_c2
        |      FROM c GROUP BY 1)
        |SELECT source, n_tok, sum_c2,
        |  ${r4Sql("CAST(n_tok AS DOUBLE) * CAST(n_tok AS DOUBLE) / CAST(sum_c2 AS DOUBLE)")} AS d2
        |FROM g
        |ORDER BY CAST(n_tok AS DOUBLE) * CAST(n_tok AS DOUBLE) /
        |  CAST(sum_c2 AS DOUBLE) DESC NULLS LAST,
        |  source NULLS FIRST""".stripMargin,
    "q_llm_filter_kappa" -> {
      def dd(x: String) = s"CAST($x AS DOUBLE)"
      val n = s"(${dd("a")} + ${dd("b")} + ${dd("c")} + ${dd("d")})"
      val po = s"((${dd("a")} + ${dd("d")}) / $n)"
      val pe = s"(((${dd("a")} + ${dd("b")}) * (${dd("a")} + ${dd("c")})" +
        s" + (${dd("c")} + ${dd("d")}) * (${dd("b")} + ${dd("d")}))" +
        s" / ($n * $n))"
      s"""WITH r AS (
        |  SELECT n_chars >= 300 AS r1,
        |         len(string_split(text, ' ')) >= 55 AS r2
        |  FROM documents),
        |cells AS (
        |  SELECT
        |    CAST(sum(CASE WHEN r1 AND r2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS a,
        |    CAST(sum(CASE WHEN r1 AND NOT r2 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN NOT r1 AND r2 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN NOT r1 AND NOT r2 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d
        |  FROM r)
        |SELECT a, b, c, d,
        |       ${r4Sql(po)} AS po, ${r4Sql(pe)} AS pe,
        |       CASE WHEN $pe < 1.0 THEN
        |         ${r4Sql(s"($po - $pe) / (1.0 - $pe)")}
        |       END AS kappa
        |FROM cells""".stripMargin
    },
    "q_llm_energy_dist" -> {
      def w(agg: String, frame: String) =
        s"COALESCE(sum($agg) OVER (PARTITION BY source " +
          s"ORDER BY x NULLS FIRST ROWS BETWEEN $frame), 0)"
      def walk(h: String, b: String) =
        s"CAST($h AS HUGEINT) * (CAST(x AS HUGEINT) * " +
          w(b, "UNBOUNDED PRECEDING AND 1 PRECEDING") +
          s" - ${w(s"x * $b", "UNBOUNDED PRECEDING AND 1 PRECEDING")}" +
          s" + ${w(s"x * $b", "1 FOLLOWING AND UNBOUNDED FOLLOWING")}" +
          s" - CAST(x AS HUGEINT) * " +
          w(b, "1 FOLLOWING AND UNBOUNDED FOLLOWING") + ")"
      val e = "2.0 * CAST(ab AS DOUBLE) / " +
        "(CAST(ns AS DOUBLE) * CAST(nr AS DOUBLE)) - " +
        "CAST(aa AS DOUBLE) / (CAST(ns AS DOUBLE) * CAST(ns AS DOUBLE))" +
        " - CAST(bb AS DOUBLE) / " +
        "(CAST(nr AS DOUBLE) * CAST(nr AS DOUBLE))"
      s"""WITH byv AS MATERIALIZED (
        |  SELECT source, n_chars AS x, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |corpv AS (SELECT x, CAST(sum(c) AS BIGINT) AS ct
        |          FROM byv GROUP BY 1),
        |grid AS (
        |  SELECT s.source, corpv.x, COALESCE(byv.c, 0) AS c,
        |         corpv.ct - COALESCE(byv.c, 0) AS hr
        |  FROM (SELECT DISTINCT source FROM byv) s
        |  CROSS JOIN corpv
        |  LEFT JOIN byv ON byv.source = s.source AND byv.x = corpv.x),
        |t AS (
        |  SELECT source, c, hr,
        |         ${walk("c", "hr")} AS tab,
        |         ${walk("c", "c")} AS taa,
        |         ${walk("hr", "hr")} AS tbb
        |  FROM grid),
        |s AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS ns,
        |         CAST(sum(hr) AS BIGINT) AS nr,
        |         sum(tab) AS ab, sum(taa) AS aa, sum(tbb) AS bb
        |  FROM t GROUP BY 1)
        |SELECT source, ns, nr,
        |       CASE WHEN ns > 0 AND nr > 0 THEN ${r4Sql(e)} END
        |         AS e_dist
        |FROM s ORDER BY source NULLS FIRST""".stripMargin
    },
    "q_llm_kendall_sources" -> {
      val tau = "(CAST(nc AS DOUBLE) - CAST(nd AS DOUBLE)) / " +
        "sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * " +
        "(CAST(nyt2 AS DOUBLE) / 2.0))"
      s"""WITH byv AS MATERIALIZED (
        |  SELECT source, n_chars AS x, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |pers AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n_g,
        |         sum(CAST(c AS HUGEINT) * (c - 1)) AS tself2
        |  FROM byv GROUP BY 1),
        |grid AS (
        |  SELECT s.source, g.x, COALESCE(byv.c, 0) AS c
        |  FROM (SELECT DISTINCT source FROM byv) s
        |  CROSS JOIN (SELECT DISTINCT x FROM byv) g
        |  LEFT JOIN byv ON byv.source = s.source AND byv.x = g.x),
        |cums AS MATERIALIZED (
        |  SELECT source, x, c,
        |         sum(c) OVER (PARTITION BY source ORDER BY x NULLS FIRST
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS cum,
        |         sum(c) OVER (PARTITION BY source) AS n_g
        |  FROM grid),
        |pair AS (
        |  SELECT a.source AS s1, b.source AS s2,
        |         CAST(a.n_g AS BIGINT) AS n1,
        |         CAST(b.n_g AS BIGINT) AS n2,
        |         sum(CAST(a.c AS HUGEINT) * (b.n_g - b.cum)) AS nc,
        |         sum(CAST(a.c AS HUGEINT) * (b.cum - b.c)) AS nd,
        |         sum(CAST(a.c AS HUGEINT) * b.c) AS crosst
        |  FROM cums a JOIN cums b ON a.x = b.x AND a.source < b.source
        |  GROUP BY 1, 2, 3, 4)
        |SELECT s1, s2, n1, n2, CAST(nc AS BIGINT) AS n_conc,
        |       CAST(nd AS BIGINT) AS n_disc,
        |       CASE WHEN n1 > 0 AND n2 > 0 AND nyt2 > 0 THEN
        |         ${r4Sql(tau)}
        |       END AS tau_b
        |FROM (
        |  SELECT pair.*, t1.tself2 AS ty1, t2.tself2 AS ty2,
        |         CAST(n1 + n2 AS HUGEINT) * (n1 + n2 - 1) -
        |           (t1.tself2 + t2.tself2 + crosst * 2) AS nyt2
        |  FROM pair
        |  JOIN pers t1 ON t1.source = pair.s1
        |  JOIN pers t2 ON t2.source = pair.s2)
        |ORDER BY s1 NULLS FIRST, s2 NULLS FIRST""".stripMargin
    },
    "q_llm_spearman_sources" -> {
      val rho = "CAST(n1 + n2 AS DOUBLE) * CAST(aterm AS DOUBLE) / " +
        "sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * " +
        "CAST(n1 + n2 AS DOUBLE) * (CAST(bterm AS DOUBLE) / 3.0))"
      s"""WITH byv AS MATERIALIZED (
        |  SELECT source, n_chars AS x, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |grid AS (
        |  SELECT s.source, g.x, COALESCE(byv.c, 0) AS c
        |  FROM (SELECT DISTINCT source FROM byv) s
        |  CROSS JOIN (SELECT DISTINCT x FROM byv) g
        |  LEFT JOIN byv ON byv.source = s.source AND byv.x = g.x),
        |cums AS MATERIALIZED (
        |  SELECT source, x, c,
        |         sum(c) OVER (PARTITION BY source ORDER BY x NULLS FIRST
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c
        |           AS below,
        |         sum(c) OVER (PARTITION BY source) AS n_g
        |  FROM grid),
        |pair AS (
        |  SELECT a.source AS s1, b.source AS s2,
        |         CAST(a.n_g AS BIGINT) AS n1,
        |         CAST(b.n_g AS BIGINT) AS n2,
        |         sum(CAST(b.c AS HUGEINT) *
        |           ((a.below + b.below) * 2 + a.c + b.c + 1)) AS d2,
        |         sum(CAST(a.c + b.c AS HUGEINT) * (a.c + b.c) *
        |           (a.c + b.c) - (a.c + b.c)) AS tsum
        |  FROM cums a JOIN cums b ON a.x = b.x AND a.source < b.source
        |  GROUP BY 1, 2, 3, 4)
        |SELECT s1, s2, n1, n2, CAST(d2 AS BIGINT) AS rank_sum2,
        |       CASE WHEN n1 > 0 AND n2 > 0 AND bterm > 0 THEN
        |         ${r4Sql(rho)}
        |       END AS rho_s
        |FROM (
        |  SELECT pair.*,
        |         d2 - CAST(n2 AS HUGEINT) * (n1 + n2 + 1) AS aterm,
        |         CAST(n1 + n2 AS HUGEINT) * (n1 + n2) * (n1 + n2) -
        |           (n1 + n2) - tsum AS bterm
        |  FROM pair)
        |ORDER BY s1 NULLS FIRST, s2 NULLS FIRST""".stripMargin
    },
    "q_llm_cvm_sources" -> {
      val t = "CAST(tnum AS DOUBLE) / (CAST(n1 + n2 AS DOUBLE) * " +
        "CAST(n1 + n2 AS DOUBLE) * CAST(n1 AS DOUBLE) * " +
        "CAST(n2 AS DOUBLE))"
      s"""WITH byv AS MATERIALIZED (
        |  SELECT source, n_chars AS x, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |grid AS (
        |  SELECT s.source, g.x, COALESCE(byv.c, 0) AS c
        |  FROM (SELECT DISTINCT source FROM byv) s
        |  CROSS JOIN (SELECT DISTINCT x FROM byv) g
        |  LEFT JOIN byv ON byv.source = s.source AND byv.x = g.x),
        |cums AS MATERIALIZED (
        |  SELECT source, x, c,
        |         sum(c) OVER (PARTITION BY source ORDER BY x NULLS FIRST
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS cum,
        |         sum(c) OVER (PARTITION BY source) AS n_g
        |  FROM grid),
        |pair AS (
        |  SELECT a.source AS s1, b.source AS s2,
        |         CAST(a.n_g AS BIGINT) AS n1,
        |         CAST(b.n_g AS BIGINT) AS n2,
        |         sum(CAST(a.c + b.c AS HUGEINT) *
        |           (CAST(a.cum AS HUGEINT) * b.n_g -
        |            CAST(b.cum AS HUGEINT) * a.n_g) *
        |           (CAST(a.cum AS HUGEINT) * b.n_g -
        |            CAST(b.cum AS HUGEINT) * a.n_g)) AS tnum
        |  FROM cums a JOIN cums b ON a.x = b.x AND a.source < b.source
        |  GROUP BY 1, 2, 3, 4)
        |SELECT s1, s2, n1, n2,
        |       CASE WHEN n1 > 0 AND n2 > 0 THEN ${r4Sql(t)}
        |       END AS cvm_t,
        |       CASE WHEN n1 > 0 AND n2 > 0 THEN
        |         ${r4Sql(t)} > CAST(0.461 AS DOUBLE)
        |       END AS reject_5pct
        |FROM pair
        |ORDER BY s1 NULLS FIRST, s2 NULLS FIRST""".stripMargin
    },
    "q_llm_ad_sources" -> {
      val term = "CAST(CAST(a.c + b.c AS HUGEINT) * " +
        "(CAST(a.n_g + b.n_g AS HUGEINT) * a.cum - " +
        "CAST(a.cum + b.cum AS HUGEINT) * a.n_g) * " +
        "(CAST(a.n_g + b.n_g AS HUGEINT) * a.cum - " +
        "CAST(a.cum + b.cum AS HUGEINT) * a.n_g) AS DOUBLE) / " +
        "(CAST(a.cum + b.cum AS DOUBLE) * " +
        "CAST(a.n_g + b.n_g - a.cum - b.cum AS DOUBLE))"
      val a2 = "CAST(qsum AS DOUBLE) / 1073741824.0 / " +
        "CAST(n1 + n2 AS DOUBLE)"
      s"""WITH byv AS MATERIALIZED (
        |  SELECT source, n_chars AS x, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |grid AS (
        |  SELECT s.source, g.x, COALESCE(byv.c, 0) AS c
        |  FROM (SELECT DISTINCT source FROM byv) s
        |  CROSS JOIN (SELECT DISTINCT x FROM byv) g
        |  LEFT JOIN byv ON byv.source = s.source AND byv.x = g.x),
        |cums AS MATERIALIZED (
        |  SELECT source, x, c,
        |         sum(c) OVER (PARTITION BY source ORDER BY x NULLS FIRST
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS cum,
        |         sum(c) OVER (PARTITION BY source) AS n_g
        |  FROM grid),
        |pair AS (
        |  SELECT a.source AS s1, b.source AS s2,
        |         CAST(a.n_g AS BIGINT) AS n1,
        |         CAST(b.n_g AS BIGINT) AS n2,
        |         sum(CASE WHEN a.cum + b.cum < a.n_g + b.n_g
        |                   AND a.c + b.c > 0 THEN
        |               CAST(floor(($term) * 1073741824.0)
        |                 AS DECIMAL(38,0))
        |             ELSE 0 END) AS qsum
        |  FROM cums a JOIN cums b ON a.x = b.x AND a.source < b.source
        |  GROUP BY 1, 2, 3, 4)
        |SELECT s1, s2, n1, n2,
        |       CASE WHEN n1 > 0 AND n2 > 0 THEN ${r4Sql(a2)}
        |       END AS ad_a2
        |FROM pair
        |ORDER BY s1 NULLS FIRST, s2 NULLS FIRST""".stripMargin
    },
    "q_llm_ad_ksample" -> {
      val term = "CAST(CAST(l AS HUGEINT) * " +
        "(CAST(nn AS HUGEINT) * cum - CAST(bj AS HUGEINT) * n_g) * " +
        "(CAST(nn AS HUGEINT) * cum - CAST(bj AS HUGEINT) * n_g) " +
        "AS DOUBLE) / " +
        "(CAST(n_g AS DOUBLE) * CAST(bj AS DOUBLE) * " +
        "CAST(nn - bj AS DOUBLE))"
      s"""WITH byv AS MATERIALIZED (
        |  SELECT source, n_chars AS x, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |nk AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS nn,
        |         CAST(count(DISTINCT source) AS BIGINT) AS k
        |  FROM byv),
        |hs AS (
        |  SELECT CAST(sum(1099511627776 // n_i) AS BIGINT) AS hq
        |  FROM (SELECT source, CAST(sum(c) AS BIGINT) AS n_i
        |        FROM byv GROUP BY 1)),
        |grid AS (
        |  SELECT s.source, g.x, COALESCE(byv.c, 0) AS c
        |  FROM (SELECT DISTINCT source FROM byv) s
        |  CROSS JOIN (SELECT DISTINCT x FROM byv) g
        |  LEFT JOIN byv ON byv.source = s.source AND byv.x = g.x),
        |cums AS MATERIALIZED (
        |  SELECT source, x, c,
        |         sum(c) OVER (PARTITION BY source ORDER BY x NULLS FIRST
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS cum,
        |         sum(c) OVER (PARTITION BY source) AS n_g
        |  FROM grid),
        |pooled AS MATERIALIZED (
        |  SELECT *, sum(c) OVER (PARTITION BY x) AS l,
        |         sum(cum) OVER (PARTITION BY x) AS bj
        |  FROM cums),
        |a2r AS (
        |  SELECT sum(CASE WHEN bj < nn AND l > 0 AND n_g > 0 THEN
        |           CAST(floor(($term) * 1073741824.0)
        |             AS DECIMAL(38,0))
        |         ELSE 0 END) AS qsum
        |  FROM pooled CROSS JOIN nk),
        |rs AS MATERIALIZED (
        |  SELECT CAST(r AS BIGINT) AS r,
        |         1099511627776 // CAST(r AS BIGINT) AS v
        |  FROM (SELECT unnest(range(1, nn)) AS r FROM nk)),
        |pre AS MATERIALIZED (
        |  SELECT r, v, sum(v) OVER (ORDER BY r
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hqr
        |  FROM rs),
        |ht AS (SELECT CAST(sum(v) AS BIGINT) AS hq_tot FROM rs),
        |gr AS (
        |  SELECT CAST(sum((hq_tot - hqr) // (nn - r)) AS BIGINT) AS gq
        |  FROM pre CROSS JOIN ht CROSS JOIN nk
        |  WHERE r <= nn - 2),
        |base AS (
        |  SELECT k, nn, CAST(k AS DOUBLE) AS kd,
        |         CAST(nn AS DOUBLE) AS ndd,
        |         CAST(hq AS DOUBLE) / 1099511627776.0 AS hh,
        |         CAST(hq_tot AS DOUBLE) / 1099511627776.0 AS hsm,
        |         CAST(gq AS DOUBLE) / 1099511627776.0 AS gg,
        |         CAST(qsum AS DOUBLE) / 1073741824.0 /
        |           CAST(nn AS DOUBLE) AS a2
        |  FROM a2r CROSS JOIN hs CROSS JOIN ht CROSS JOIN gr
        |  CROSS JOIN nk),
        |coef AS (
        |  SELECT *,
        |    (4.0 * gg - 6.0) * (kd - 1.0) + (10.0 - 6.0 * gg) * hh
        |      AS ac,
        |    (2.0 * gg - 4.0) * kd * kd + 8.0 * hsm * kd +
        |      (2.0 * gg - 14.0 * hsm - 4.0) * hh - 8.0 * hsm +
        |      4.0 * gg - 6.0 AS bc,
        |    (6.0 * hsm + 2.0 * gg - 2.0) * kd * kd +
        |      (4.0 * hsm - 4.0 * gg + 6.0) * kd +
        |      (2.0 * hsm - 6.0) * hh + 4.0 * hsm AS cc,
        |    (2.0 * hsm + 6.0) * kd * kd - 4.0 * hsm * kd AS dc
        |  FROM base),
        |fin AS (
        |  SELECT *,
        |    sqrt((ac * ndd * ndd * ndd + bc * ndd * ndd + cc * ndd + dc)
        |      / ((ndd - 1.0) * (ndd - 2.0) * (ndd - 3.0))) AS sig
        |  FROM coef)
        |SELECT k, nn AS n_total, ${r4Sql("a2")} AS a2_kn,
        |       ${r4Sql("sig")} AS sigma_n,
        |       ${r4Sql("(a2 - (kd - 1.0)) / sig")} AS t_kn
        |FROM fin""".stripMargin
    },
    "q_llm_mattr" ->
      s"""WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
        |         CAST(generate_subscripts(string_split(text, ' '), 1)
        |           AS BIGINT) AS p
        |  FROM documents),
        |lagged AS (
        |  SELECT doc_id, w, p,
        |         COALESCE(lag(p, 1) OVER (PARTITION BY doc_id, w
        |           ORDER BY p NULLS FIRST), 0) AS prev,
        |         CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n
        |  FROM tok),
        |cnts AS (
        |  SELECT doc_id, n,
        |         CAST(sum(greatest(
        |           least(p, n - 19) -
        |           greatest(p - 19, prev + 1, 1) + 1, 0)) AS BIGINT)
        |           AS news,
        |         CAST(count(DISTINCT w) AS BIGINT) AS n_types
        |  FROM lagged GROUP BY 1, 2)
        |SELECT doc_id, n AS n_tokens, n_types,
        |       CASE WHEN n >= 20 THEN
        |         ${r4Sql("CAST(news AS DOUBLE) / " +
                   "(20.0 * CAST(n - 19 AS DOUBLE))")}
        |       ELSE
        |         ${r4Sql("CAST(n_types AS DOUBLE) / CAST(n AS DOUBLE)")}
        |       END AS mattr
        |FROM cnts ORDER BY doc_id NULLS FIRST""".stripMargin,
    "q_llm_vocab_chao1" -> {
      val chao = "CASE WHEN f2 > 0 THEN " +
        r4Sql("CAST(vocab AS DOUBLE) + CAST(f1 AS DOUBLE) * " +
          "CAST(f1 AS DOUBLE) / (2.0 * CAST(f2 AS DOUBLE))") +
        " ELSE " +
        r4Sql("CAST(vocab AS DOUBLE) + CAST(f1 AS DOUBLE) * " +
          "(CAST(f1 AS DOUBLE) - 1.0) / 2.0") +
        " END"
      s"""WITH tok AS MATERIALIZED (
        |  SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM
        |    (SELECT source, unnest(string_split(text, ' ')) AS w
        |     FROM documents)
        |  GROUP BY 1, 2),
        |per AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS vocab,
        |         CAST(sum(c) AS BIGINT) AS n_tokens,
        |         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS f1,
        |         CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS f2
        |  FROM tok GROUP BY 1),
        |corpc AS (SELECT w, CAST(sum(c) AS BIGINT) AS c
        |          FROM tok GROUP BY 1),
        |corps AS (
        |  SELECT '__corpus__' AS source, CAST(count(*) AS BIGINT)
        |           AS vocab,
        |         CAST(sum(c) AS BIGINT) AS n_tokens,
        |         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS f1,
        |         CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS f2
        |  FROM corpc),
        |u AS (SELECT * FROM per UNION ALL SELECT * FROM corps)
        |SELECT source, vocab, n_tokens, f1, f2, $chao AS chao1,
        |       ${r4Sql("CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE)")}
        |         AS gt_unseen
        |FROM u ORDER BY source NULLS FIRST""".stripMargin
    },
    "q_llm_filter_cochran_q" -> {
      val num = "(3 * (CAST(c1 AS HUGEINT) * c1 + " +
        "CAST(c2 AS HUGEINT) * c2 + CAST(c3 AS HUGEINT) * c3) - " +
        "CAST(t AS HUGEINT) * t)"
      val den = "(3 * CAST(t AS HUGEINT) - CAST(sr2 AS HUGEINT))"
      s"""WITH x AS (
        |  SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS x1,
        |         CASE WHEN len(string_split(text, ' ')) >= 55
        |           THEN 1 ELSE 0 END AS x2,
        |         CASE WHEN n_chars >=
        |             CAST(len(string_split(text, ' ')) AS BIGINT) * 5
        |           THEN 1 ELSE 0 END AS x3
        |  FROM documents),
        |xr AS (SELECT x1, x2, x3, x1 + x2 + x3 AS ri FROM x),
        |s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(x1) AS BIGINT) AS c1,
        |         CAST(sum(x2) AS BIGINT) AS c2,
        |         CAST(sum(x3) AS BIGINT) AS c3,
        |         CAST(sum(ri) AS BIGINT) AS t,
        |         CAST(sum(ri * ri) AS BIGINT) AS sr2
        |  FROM xr)
        |SELECT n, c1, c2, c3,
        |       CASE WHEN $den > 0 THEN
        |         ${r4Sql(s"2.0 * CAST($num AS DOUBLE) / " +
                    s"CAST($den AS DOUBLE)")}
        |       END AS q
        |FROM s""".stripMargin
    },
    "q_llm_temperature_mix" -> {
      val alloc = "least(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 " +
        "END, nd)"
      s"""WITH st AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS nd
        |  FROM documents GROUP BY 1),
        |w AS (
        |  SELECT source, nd,
        |         CAST(floor(sqrt(CAST(nd AS DOUBLE)) * 1000000.0)
        |           AS BIGINT) AS wq
        |  FROM st),
        |t AS (SELECT CAST(sum(wq) AS BIGINT) AS wsum,
        |             CAST(sum(nd) AS BIGINT) AS ndt FROM w),
        |a0 AS (
        |  SELECT source, nd, ndt, wq, (2000 * wq) // wsum AS base,
        |         (2000 * wq) % wsum AS rem
        |  FROM w CROSS JOIN t),
        |a1 AS (
        |  SELECT source, nd, ndt, wq, base,
        |         CAST(row_number() OVER (ORDER BY rem DESC NULLS LAST,
        |           source NULLS FIRST) AS BIGINT) AS rk,
        |         2000 - CAST(sum(base) OVER () AS BIGINT) AS leftover
        |  FROM a0)
        |SELECT source, nd AS n_docs, wq AS w_scaled,
        |       $alloc AS alloc,
        |       ${r4Sql(s"(CAST($alloc AS DOUBLE) * CAST(ndt AS DOUBLE))" +
               " / (2000.0 * CAST(nd AS DOUBLE))")} AS boost
        |FROM a1
        |ORDER BY source NULLS FIRST""".stripMargin
    },
    "q_llm_atkinson2" ->
      s"""WITH g AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |         CAST(sum(1000000000000 // n_chars) AS BIGINT) AS hq
        |  FROM documents WHERE n_chars > 0 GROUP BY 1)
        |SELECT source, n_docs, sum_chars, hq,
        |  CASE WHEN hq > 0 AND sum_chars > 0 THEN
        |    ${Det.r4Sql(
             "1.0 - CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE) * " +
             "1000000000000.0 / (CAST(hq AS DOUBLE) * " +
             "CAST(sum_chars AS DOUBLE))")}
        |  END AS a2
        |FROM g
        |ORDER BY source NULLS FIRST""".stripMargin,
    "q_llm_collocations" ->
      s"""WITH t AS (SELECT string_split(text, ' ') AS tk FROM documents),
        |u AS (SELECT unnest(tk) AS w FROM t),
        |cu AS (SELECT w, CAST(count(*) AS BIGINT) AS cw FROM u GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM u),
        |b AS (SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
        |        i -> tk[i] || ' ' || tk[i+1])) AS bg
        |      FROM t WHERE len(tk) >= 2),
        |cb AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2 FROM b GROUP BY 1
        |       HAVING count(*) >= 5)
        |SELECT bg, c2, u1.cw AS c_w1, u2.cw AS c_w2,
        |       ${r4Sql("(CAST(c2 AS DOUBLE) * CAST(n.n AS DOUBLE)) / (CAST(u1.cw AS DOUBLE) * CAST(u2.cw AS DOUBLE))")} AS lift
        |FROM cb
        |CROSS JOIN n
        |JOIN cu u1 ON split_part(bg, ' ', 1) = u1.w
        |JOIN cu u2 ON split_part(bg, ' ', 2) = u2.w
        |ORDER BY lift DESC NULLS LAST, bg NULLS FIRST
        |LIMIT 20""".stripMargin,
    "q_llm_tfidf" ->
      s"""WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |c AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |      FROM tok GROUP BY 1, 2),
        |d AS (SELECT doc_id, term, tf,
        |             CAST(count(*) OVER (PARTITION BY term) AS BIGINT) AS df
        |      FROM c),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |s AS (SELECT doc_id, term, tf, df,
        |             ${r4Sql("(CAST(tf AS DOUBLE) * CAST(n_docs AS DOUBLE)) / CAST(df AS DOUBLE)")} AS score
        |      FROM d CROSS JOIN n),
        |r AS (SELECT doc_id, term, tf, df, score,
        |             CAST(row_number() OVER (PARTITION BY doc_id
        |               ORDER BY score DESC NULLS LAST, term NULLS FIRST)
        |               AS BIGINT) AS rnk
        |      FROM s)
        |SELECT doc_id, rnk, term, tf, df, score
        |FROM r WHERE rnk <= 3
        |ORDER BY doc_id NULLS FIRST, rnk NULLS FIRST""".stripMargin,
    "q_llm_redact" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |         text || ' contact user' || doc_id ||
        |         '@mail.example.com or http://host.example/p/' || doc_id ||
        |         ' ref ' || CAST(doc_id * 137 + 4200017 AS VARCHAR) AS txt
        |  FROM documents),
        |r AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_extract_all(txt, '[a-z0-9._]+@[a-z0-9.]+')) AS BIGINT) AS n_email,
        |         CAST(len(regexp_extract_all(txt, 'https?://[^ ]+')) AS BIGINT) AS n_url,
        |         regexp_replace(regexp_replace(regexp_replace(txt,
        |           '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>', 'g'),
        |           'https?://[^ ]+', '<URL>', 'g'),
        |           '[0-9]{5,}', '<NUM>', 'g') AS red
        |  FROM aug)
        |SELECT doc_id, n_email, n_url,
        |       CAST(length(red) AS BIGINT) AS red_len,
        |       md5(red) AS red_md5
        |FROM r
        |ORDER BY doc_id NULLS FIRST""".stripMargin,
    "q_llm_decontaminate" -> decontaminateOracle,
    // the bloom pre-gate provably changes nothing about the result —
    // the exact confirm join kills every false positive — so the bloom
    // twin is held to the SAME oracle verbatim
    "q_llm_decontaminate_bloom" -> decontaminateOracle,
    "q_llm_edit_neardup" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |         len(string_split(text, ' ')) // 10 AS blk,
        |         substr(text, 1, 60) AS px
        |  FROM documents WHERE doc_id < 150),
        |p AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |         CAST(levenshtein(a.px, b.px) AS BIGINT) AS dist,
        |         row_number() OVER (PARTITION BY a.doc_id
        |           ORDER BY levenshtein(a.px, b.px), b.doc_id) AS rn
        |  FROM d a JOIN d b
        |    ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id <> b.doc_id)
        |SELECT a_id AS doc_id, b_id AS nn_id, dist
        |FROM p WHERE rn = 1
        |ORDER BY doc_id NULLS FIRST""".stripMargin,
    "q_llm_vocab_zipf" ->
      """WITH tf AS (
        |  SELECT t, count(*) AS c
        |  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        |  GROUP BY 1)
        |SELECT CAST(len(CAST(c AS VARCHAR)) AS BIGINT) AS magnitude,
        |       count(*) AS n_tokens, CAST(sum(c) AS BIGINT) AS occurrences
        |FROM tf GROUP BY 1
        |ORDER BY magnitude NULLS FIRST""".stripMargin,
    "q_llm_length_gini" -> {
      val g = Det.r4Sql(
        "(2.0 * CAST(s1d AS DOUBLE) - " +
          "CAST(n_docs + 1 AS DOUBLE) * CAST(s0 AS DOUBLE)) / " +
          "(CAST(n_docs AS DOUBLE) * CAST(s0 AS DOUBLE))")
      s"""WITH r AS (
        |  SELECT source, CAST(n_chars AS BIGINT) AS x,
        |         CAST(row_number() OVER (PARTITION BY source
        |           ORDER BY n_chars NULLS FIRST, doc_id NULLS FIRST)
        |           AS BIGINT) AS i
        |  FROM documents),
        |s AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(x) AS BIGINT) AS s0,
        |         CAST(sum(i * x) AS HUGEINT) AS s1d
        |  FROM r GROUP BY 1)
        |SELECT source, n_docs, s0 AS total_chars, $g AS gini
        |FROM s ORDER BY source NULLS FIRST""".stripMargin
    },
    "q_llm_dup_rate_by_source" -> {
      val din = Det.r4Sql(
        "CAST(n_dup_in AS DOUBLE) / CAST(n_docs AS DOUBLE)")
      val dx = Det.r4Sql(
        "CAST(n_cross AS DOUBLE) / CAST(n_docs AS DOUBLE)")
      s"""WITH h AS MATERIALIZED (
        |  SELECT source, md5(lower(text)) AS h,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |g AS (SELECT h, CAST(count(*) AS BIGINT) AS nsrc
        |      FROM h GROUP BY 1),
        |s AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
        |         CAST(count(*) AS BIGINT) AS n_unique,
        |         CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
        |           AS n_dup_in,
        |         CAST(sum(CASE WHEN nsrc > 1 THEN c ELSE 0 END) AS BIGINT)
        |           AS n_cross
        |  FROM h JOIN g USING (h) GROUP BY 1)
        |SELECT source, n_docs, n_unique, n_dup_in, n_cross,
        |       $din AS dup_in_rate, $dx AS cross_rate
        |FROM s ORDER BY source NULLS FIRST""".stripMargin
    },
    "q_llm_textrank" -> {
      val stop = "('a', 'the', 'of', 'and', 'to', 'in', 'is')"
      val rounds = (1 to 3).map { i =>
        val prev = if (i == 1) "r0" else s"g${i - 1}"
        s"""g$i AS MATERIALIZED (
          |  SELECT d.src AS node,
          |         CAST(150000 + (85 * COALESCE(si.s, 0)) // 100
          |           AS BIGINT) AS r
          |  FROM deg d LEFT JOIN (
          |    SELECT sym.dst,
          |           CAST(sum((p.r * sym.w) // dg.wtot) AS BIGINT) AS s
          |    FROM sym JOIN $prev p ON sym.src = p.node
          |    JOIN deg dg ON sym.src = dg.src
          |    GROUP BY 1) si ON d.src = si.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH tkt AS (SELECT string_split(text, ' ') AS tk
        |             FROM documents
        |             WHERE len(string_split(text, ' ')) >= 2),
        |b AS (
        |  SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
        |           i -> tk[i])) AS w1,
        |         unnest(list_transform(generate_series(1, len(tk) - 1),
        |           i -> tk[i + 1])) AS w2
        |  FROM tkt),
        |e AS MATERIALIZED (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS w FROM b
        |  WHERE w1 NOT IN $stop AND w2 NOT IN $stop AND w1 <> w2
        |  GROUP BY 1, 2),
        |sym AS MATERIALIZED (
        |  SELECT src, dst, CAST(sum(w) AS BIGINT) AS w FROM (
        |    SELECT w1 AS src, w2 AS dst, w FROM e
        |    UNION ALL SELECT w2, w1, w FROM e) u GROUP BY 1, 2),
        |deg AS MATERIALIZED (
        |  SELECT src, CAST(sum(w) AS BIGINT) AS wtot FROM sym
        |  GROUP BY 1),
        |r0 AS MATERIALIZED (
        |  SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM deg),
        |$rounds
        |SELECT node AS word, wtot, r AS rank_scaled
        |FROM g3 JOIN deg ON deg.src = g3.node
        |ORDER BY rank_scaled DESC NULLS LAST, word NULLS FIRST
        |LIMIT 20""".stripMargin
    },
    "q_llm_rake_keywords" -> {
      val stop = "('a', 'the', 'of', 'and', 'to', 'in', 'is')"
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |w AS MATERIALIZED (
        |  SELECT doc_id, unnest(generate_series(1, len(ws))) AS pos,
        |         unnest(ws) AS w
        |  FROM t),
        |s AS MATERIALIZED (
        |  SELECT doc_id, pos, w,
        |         CAST(sum(CASE WHEN w IN $stop THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY pos
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS pid
        |  FROM w),
        |ph AS MATERIALIZED (
        |  SELECT doc_id, pid,
        |         string_agg(w, ' ' ORDER BY pos) AS phrase,
        |         CAST(count(*) AS BIGINT) AS n_words
        |  FROM s WHERE w NOT IN $stop GROUP BY 1, 2),
        |pw AS MATERIALIZED (
        |  SELECT doc_id, pid, phrase, n_words,
        |         unnest(string_split(phrase, ' ')) AS w
        |  FROM ph),
        |ws AS MATERIALIZED (
        |  SELECT w, (CAST(sum(n_words) AS BIGINT) * 1000000000000)
        |           // CAST(count(*) AS BIGINT) AS wscore_q
        |  FROM pw GROUP BY 1),
        |os AS (
        |  SELECT doc_id, pid, phrase, n_words,
        |         CAST(sum(wscore_q) AS BIGINT) AS score_q
        |  FROM pw JOIN ws USING (w) GROUP BY 1, 2, 3, 4)
        |SELECT phrase, n_words,
        |       CAST(count(*) AS BIGINT) AS n_occurrences, score_q,
        |       ${r4Sql("CAST(score_q AS DOUBLE) / 1000000000000.0")}
        |         AS score
        |FROM os GROUP BY 1, 2, 4
        |ORDER BY score_q DESC NULLS LAST, phrase NULLS FIRST
        |LIMIT 20""".stripMargin
    },
    "q_llm_vocab_growth" ->
      """WITH d AS MATERIALIZED (SELECT doc_id, text FROM documents),
        |dd AS MATERIALIZED (
        |  SELECT doc_id,
        |         ((row_number() OVER (ORDER BY doc_id NULLS FIRST) - 1)
        |           * 10) // count(*) OVER () AS dk
        |  FROM d),
        |tk AS MATERIALIZED (
        |  SELECT dd.dk, t.token FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM d) t
        |  JOIN dd ON dd.doc_id = t.doc_id),
        |nt AS (SELECT dk, CAST(count(*) AS BIGINT) AS new_types
        |       FROM (SELECT token, min(dk) AS dk FROM tk GROUP BY 1) f
        |       GROUP BY 1),
        |pt AS (SELECT dk, CAST(count(*) AS BIGINT) AS n_tok
        |       FROM tk GROUP BY 1),
        |dc AS (SELECT dk, CAST(count(*) AS BIGINT) AS n_docs
        |       FROM dd GROUP BY 1),
        |g AS (SELECT dc.dk AS dk, n_docs,
        |             COALESCE(n_tok, 0) AS n_tok,
        |             COALESCE(new_types, 0) AS new_types
        |      FROM dc LEFT JOIN pt ON pt.dk = dc.dk
        |      LEFT JOIN nt ON nt.dk = dc.dk)
        |SELECT dk,
        |       CAST(sum(n_docs) OVER w AS BIGINT) AS cum_docs,
        |       CAST(sum(n_tok) OVER w AS BIGINT) AS cum_tokens,
        |       CAST(sum(new_types) OVER w AS BIGINT) AS cum_types
        |FROM g
        |WINDOW w AS (ORDER BY dk NULLS FIRST
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY dk NULLS FIRST""".stripMargin,
    "q_llm_lm_novelty" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
        |           FROM documents
        |           WHERE len(string_split(text, ' ')) >= 2),
        |b AS (SELECT doc_id,
        |             unnest(list_transform(generate_series(1, len(tk) - 1),
        |               i -> tk[i] || ' ' || tk[i+1])) AS bg
        |      FROM t),
        |cb AS (SELECT bg, count(*) AS c2 FROM b GROUP BY 1),
        |cu AS (SELECT split_part(bg, ' ', 1) AS w1,
        |              CAST(sum(c2) AS BIGINT) AS c1
        |       FROM cb GROUP BY 1),
        |m AS (SELECT bg, CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE) AS p
        |      FROM cb JOIN cu ON split_part(cb.bg, ' ', 1) = cu.w1)
        |SELECT doc_id, count(*) AS n_bg,
        |       ${Det.r4Sql("min(p)")} AS min_p,
        |       CAST(sum(CASE WHEN p < 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
        |FROM b JOIN m USING (bg)
        |GROUP BY 1
        |ORDER BY doc_id NULLS FIRST""".stripMargin,
    "q_llm_repetition" -> {
      val nd3 = "CAST(len(list_distinct(tg)) AS DOUBLE)"
      val n3 = "CAST(len(tg) AS DOUBLE)"
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |g AS (SELECT doc_id,
        |             list_transform(generate_series(1, len(toks) - 2),
        |               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS tg
        |      FROM t WHERE len(toks) >= 3)
        |SELECT doc_id, CAST(len(tg) AS BIGINT) AS n3,
        |       CAST(len(list_distinct(tg)) AS BIGINT) AS nd3,
        |       ${r4Sql(s"1.0 - $nd3 / $n3")} AS rep
        |FROM g
        |ORDER BY doc_id NULLS FIRST""".stripMargin
    },
    "q_llm_split" ->
      """WITH h AS (
        |  SELECT doc_id,
        |         CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 10 AS bucket
        |  FROM documents)
        |SELECT doc_id, bucket,
        |       CASE WHEN bucket < 8 THEN 'train'
        |            WHEN bucket = 8 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM h
        |ORDER BY doc_id NULLS FIRST""".stripMargin,
    "q_llm_budget_sample" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |         md5(text) AS h
        |  FROM documents),
        |c AS (
        |  SELECT lang, n_tok,
        |         sum(n_tok) OVER (PARTITION BY lang ORDER BY h, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_tok) AS BIGINT) AS tok_kept,
        |       CAST(max(cum) AS BIGINT) AS cum_max
        |FROM c
        |WHERE cum <= 10000
        |GROUP BY 1
        |ORDER BY lang NULLS FIRST""".stripMargin,
    "q_llm_budget_mix" ->
      """WITH t AS (
        |  SELECT doc_id, lang, source,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |         md5(text) AS h
        |  FROM documents),
        |c1 AS (
        |  SELECT *, sum(n_tok) OVER (PARTITION BY lang, source
        |           ORDER BY h, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1
        |  FROM t),
        |s1 AS (SELECT * FROM c1 WHERE cum1 <= 500),
        |c2 AS (
        |  SELECT *, sum(n_tok) OVER (PARTITION BY lang ORDER BY h, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2
        |  FROM s1)
        |SELECT lang, source, count(*) AS n_docs,
        |       CAST(sum(n_tok) AS BIGINT) AS tok_kept
        |FROM c2
        |WHERE cum2 <= 4000
        |GROUP BY 1, 2
        |ORDER BY lang NULLS FIRST, source NULLS FIRST""".stripMargin,
    "q_llm_pack" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |         md5(text) AS h
        |  FROM documents),
        |c AS (
        |  SELECT source, n_tok,
        |         sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT source, CAST((cum - n_tok) // 256 AS BIGINT) AS pack_id,
        |       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tok
        |FROM c GROUP BY 1, 2
        |ORDER BY source NULLS FIRST, pack_id NULLS FIRST""".stripMargin,
    "q_llm_corpus_card" ->
      s"""WITH s AS (SELECT doc_id, source, lang, md5(text) AS h,
        |             string_split(text, ' ') AS tk
        |           FROM documents),
        |m AS (SELECT doc_id, source, lang, h,
        |        CAST(len(tk) AS BIGINT) AS n_tok,
        |        CAST(len(list_distinct(tk)) AS BIGINT) AS n_uniq,
        |        CAST(list_sum(list_transform(tk,
        |          t -> CAST(length(t) AS BIGINT))) AS BIGINT) AS sum_chars,
        |        CAST(len(list_filter(tk, t -> t = 'the' OR t = 'a'
        |          OR t = 'of' OR t = 'to')) AS BIGINT) AS n_stop
        |      FROM s),
        |k AS (SELECT source, lang, h, n_tok,
        |        CAST(CASE WHEN n_tok BETWEEN 20 AND 80
        |          AND sum_chars >= n_tok * 3 AND sum_chars <= n_tok * 10
        |          AND n_uniq * 10 >= n_tok * 3
        |          AND n_stop >= 2
        |          THEN 1 ELSE 0 END AS BIGINT) AS keep
        |      FROM m),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(n_tok) AS BIGINT) AS n_ws_tokens,
        |         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |         CAST(count(DISTINCT h) AS BIGINT) AS n_uniq_texts,
        |         CAST(sum(keep) AS BIGINT) AS n_keep,
        |         CAST(sum(n_tok * keep) AS BIGINT) AS tok_kept
        |  FROM k)
        |SELECT n_docs, n_ws_tokens, n_sources, n_langs, n_uniq_texts,
        |       ${r4Sql("CAST(n_uniq_texts AS DOUBLE) / n_docs")} AS uniq_ratio,
        |       n_keep,
        |       ${r4Sql("CAST(n_keep AS DOUBLE) / n_docs")} AS keep_rate,
        |       ${r4Sql("CAST(tok_kept AS DOUBLE) / n_ws_tokens")} AS tok_kept_share
        |FROM a""".stripMargin,
    "q_llm_curriculum_pack" ->
      """WITH s AS (SELECT doc_id, source, md5(text) AS h,
        |             string_split(text, ' ') AS tk
        |           FROM documents),
        |m AS (SELECT doc_id, source, h,
        |        CAST(len(tk) AS BIGINT) AS n_tok,
        |        CAST(len(list_distinct(tk)) AS BIGINT) AS n_uniq,
        |        CAST(list_sum(list_transform(tk,
        |          t -> CAST(length(t) AS BIGINT))) AS BIGINT) AS sum_chars,
        |        CAST(len(list_filter(tk, t -> t = 'the' OR t = 'a'
        |          OR t = 'of' OR t = 'to')) AS BIGINT) AS n_stop
        |      FROM s),
        |g AS (SELECT doc_id, source, h, n_tok,
        |        CAST(CASE WHEN n_tok BETWEEN 20 AND 80
        |          THEN 1 ELSE 0 END AS BIGINT)
        |        + CAST(CASE WHEN sum_chars >= n_tok * 3
        |          AND sum_chars <= n_tok * 10
        |          THEN 1 ELSE 0 END AS BIGINT)
        |        + CAST(CASE WHEN n_uniq * 10 >= n_tok * 3
        |          THEN 1 ELSE 0 END AS BIGINT)
        |        + CAST(CASE WHEN n_stop >= 2
        |          THEN 1 ELSE 0 END AS BIGINT) AS grade
        |      FROM m),
        |c AS (
        |  SELECT source, n_tok, grade,
        |         sum(n_tok) OVER (PARTITION BY source
        |           ORDER BY grade DESC, h, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM g)
        |SELECT source, CAST((cum - n_tok) // 256 AS BIGINT) AS pack_id,
        |       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tok,
        |       min(grade) AS min_grade, max(grade) AS max_grade
        |FROM c GROUP BY 1, 2
        |ORDER BY source NULLS FIRST, pack_id NULLS FIRST""".stripMargin,
    "q_llm_chunk" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |s AS (SELECT doc_id, toks,
        |             unnest(generate_series(0, len(toks) - 1, 24)) AS start
        |      FROM t)
        |SELECT doc_id, CAST(start // 24 AS BIGINT) AS chunk_idx,
        |       CAST(len(toks[start + 1 : start + 32]) AS BIGINT) AS n_tok,
        |       array_to_string(toks[start + 1 : start + 32], ' ') AS chunk
        |FROM s
        |ORDER BY doc_id NULLS FIRST, chunk_idx NULLS FIRST""".stripMargin,
    "q_llm_exact_dedup" ->
      """SELECT lang, count(*) AS n_docs,
        |       count(DISTINCT md5(lower(text))) AS nd_text,
        |       count(DISTINCT md5(array_to_string(
        |         list_sort(list_distinct(string_split(lower(text), ' '))), ' '))) AS nd_tokset
        |FROM documents GROUP BY lang
        |ORDER BY lang NULLS FIRST""".stripMargin,
    "q_llm_segment_dedup" ->
      s"""WITH segs AS (
        |  SELECT doc_id,
        |         UNNEST(list_transform(range((len(t)-1)//20 + 1),
        |                g -> md5(array_to_string(t[(g*20+1):(g*20+20)], ' ')))) AS h
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
        |freq AS (SELECT h, count(DISTINCT doc_id) AS nd FROM segs GROUP BY 1)
        |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_segs,
        |       CAST(sum(CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_segs,
        |       ${r4Sql("CAST(sum(CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)")} AS shared_ratio
        |FROM segs s JOIN freq f USING (h)
        |GROUP BY 1
        |ORDER BY s.doc_id NULLS FIRST""".stripMargin,
    "q_llm_segment_sources" ->
      s"""WITH segs AS (
        |  SELECT doc_id, source,
        |         UNNEST(list_transform(range((len(t)-1)//20 + 1),
        |                g -> md5(array_to_string(t[(g*20+1):(g*20+20)], ' ')))) AS h
        |  FROM (SELECT doc_id, source, string_split(text, ' ') AS t
        |        FROM documents)),
        |freq AS (SELECT h, count(DISTINCT doc_id) AS nd,
        |                count(DISTINCT source) AS ns
        |         FROM segs GROUP BY 1)
        |SELECT s.source,
        |  CAST(count(DISTINCT s.doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(sum(CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_spans,
        |  CAST(sum(CASE WHEN f.ns >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_xsource_spans,
        |  ${r4Sql("CAST(sum(CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)")} AS dup_ratio,
        |  ${r4Sql("CAST(sum(CASE WHEN f.ns >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)")} AS xsource_ratio
        |FROM segs s JOIN freq f USING (h)
        |GROUP BY 1
        |ORDER BY s.source NULLS FIRST""".stripMargin,
    "q_llm_source_overlap" ->
      """WITH segs AS (
        |  SELECT source,
        |         UNNEST(list_transform(range((len(t)-1)//20 + 1),
        |                g -> md5(array_to_string(t[(g*20+1):(g*20+20)], ' ')))) AS h
        |  FROM (SELECT source, string_split(text, ' ') AS t FROM documents)),
        |sh AS (SELECT DISTINCT source, h FROM segs),
        |f AS (SELECT h FROM sh GROUP BY h HAVING count(*) BETWEEN 2 AND 10)
        |SELECT a.source AS src_a, b.source AS src_b,
        |       CAST(count(*) AS BIGINT) AS n_shared
        |FROM sh a JOIN f USING (h) JOIN sh b USING (h)
        |WHERE a.source < b.source
        |GROUP BY 1, 2
        |ORDER BY src_a NULLS FIRST, src_b NULLS FIRST""".stripMargin,
    "q_llm_text_stats" ->
      s"""SELECT lang, count(*) AS n,
        |       ${r4Sql("CAST(sum(n_chars) AS DOUBLE) / count(*)")} AS avg_chars,
        |       ${r4Sql("CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*)")} AS avg_tokens
        |FROM documents GROUP BY lang
        |ORDER BY lang NULLS FIRST""".stripMargin,
    "q_llm_token_count" ->
      """SELECT lang, count(*) AS n,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
        |       CAST(sum(len(regexp_extract_all(text, '[a-z]+'))) AS BIGINT) AS re_tokens,
        |       CAST(sum(len(regexp_extract_all(text, '[a-z]{1,4}'))) AS BIGINT) AS bpe4_tokens
        |FROM documents GROUP BY lang
        |ORDER BY lang NULLS FIRST""".stripMargin,
    "q_llm_quality" -> {
      val nTok = "CAST(len(string_split(text, ' ')) AS BIGINT)"
      val nUniq = "CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)"
      val nStop = "CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) AS BIGINT)"
      val ttr = s"CAST($nUniq AS DOUBLE) / $nTok"
      val stopR = s"CAST($nStop AS DOUBLE) / $nTok"
      s"""SELECT doc_id, lang, $nTok AS n_tok, $nUniq AS n_uniq,
        |       ${r4Sql(ttr)} AS ttr, ${r4Sql(stopR)} AS stop_ratio,
        |       ${r4Sql(s"($ttr) * 0.5 + (1.0 - ($stopR)) * 0.5")} AS score
        |FROM documents
        |ORDER BY doc_id NULLS FIRST""".stripMargin
    },
    "q_llm_jaccard_pairs" ->
      s"""WITH tok AS (SELECT doc_id, lang,
        |               unnest(list_distinct(string_split(text, ' '))) AS t
        |             FROM documents WHERE doc_id < 200),
        |n AS (SELECT doc_id, count(*) AS nt FROM tok GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
        |      FROM tok a JOIN tok b
        |        ON a.t = b.t AND a.lang = b.lang AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |SELECT a_id, b_id,
        |       ${r4Sql("CAST(inter AS DOUBLE) / (na.nt + nb.nt - inter)")} AS jac
        |FROM p JOIN n na ON na.doc_id = a_id JOIN n nb ON nb.doc_id = b_id
        |ORDER BY jac DESC NULLS LAST, a_id NULLS FIRST, b_id NULLS FIRST
        |LIMIT 20""".stripMargin,
    "q_llm_neyman_sample" -> {
      val m2 = "CAST(CAST(nd AS DECIMAL(9,0)) * CAST(s2 AS DECIMAL(28,0))" +
        " - CAST(s1 AS DECIMAL(19,0)) * CAST(s1 AS DECIMAL(19,0))" +
        " AS DOUBLE)"
      s"""WITH st AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS nd,
        |         CAST(sum(n_chars) AS BIGINT) AS s1,
        |         sum(CAST(n_chars AS DECIMAL(19,0))
        |           * CAST(n_chars AS DECIMAL(19,0))) AS s2
        |  FROM documents GROUP BY 1),
        |w AS (
        |  SELECT lang, nd,
        |         CAST(floor(sqrt($m2) * 1000000.0) AS BIGINT) AS wq
        |  FROM st),
        |t AS (SELECT CAST(sum(wq) AS BIGINT) AS wsum FROM w),
        |a0 AS (
        |  SELECT lang, nd, wq, (1000 * wq) // wsum AS base,
        |         (1000 * wq) % wsum AS rem
        |  FROM w CROSS JOIN t),
        |a1 AS (
        |  SELECT lang, nd, wq, base,
        |         CAST(row_number() OVER (ORDER BY rem DESC NULLS LAST,
        |           lang NULLS FIRST) AS BIGINT) AS rk,
        |         1000 - CAST(sum(base) OVER () AS BIGINT) AS leftover
        |  FROM a0),
        |al AS (
        |  SELECT lang, nd, wq,
        |         least(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END,
        |           nd) AS alloc
        |  FROM a1),
        |d AS (SELECT doc_id, lang, n_chars, md5(text) AS h
        |      FROM documents),
        |r AS (
        |  SELECT lang, doc_id, n_chars,
        |         CAST(row_number() OVER (PARTITION BY lang
        |           ORDER BY h NULLS FIRST, doc_id NULLS FIRST)
        |           AS BIGINT) AS rn
        |  FROM d)
        |SELECT r.lang, max(al.nd) AS n_docs, max(al.wq) AS w_scaled,
        |       max(al.alloc) AS alloc, CAST(count(*) AS BIGINT)
        |         AS n_sampled,
        |       ${r4Sql("CAST(sum(r.n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS sample_mean_chars
        |FROM r JOIN al ON r.lang = al.lang
        |WHERE r.rn <= al.alloc
        |GROUP BY 1
        |ORDER BY r.lang NULLS FIRST""".stripMargin
    },
    "q_llm_winnowing" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk
        |           FROM documents),
        |g AS (SELECT doc_id,
        |        list_transform(generate_series(1, greatest(len(tk) - 2, 1)),
        |          i -> md5(concat_ws(' ', tk[i], tk[i + 1], tk[i + 2])))
        |          AS hs
        |      FROM d),
        |w AS (SELECT doc_id,
        |        list_distinct(list_transform(
        |          generate_series(1, greatest(len(hs) - 3, 1)),
        |          j -> list_min(hs[j:j + 3]))) AS fps
        |      FROM g),
        |f AS (SELECT doc_id, unnest(fps) AS fp FROM w),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nf
        |       FROM f GROUP BY 1),
        |ok AS (SELECT fp FROM f GROUP BY fp
        |       HAVING count(*) BETWEEN 2 AND 64),
        |fo AS (SELECT f.doc_id, f.fp FROM f JOIN ok USING (fp)),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |        CAST(count(*) AS BIGINT) AS n_shared
        |      FROM fo a JOIN fo b
        |        ON a.fp = b.fp AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |SELECT a_id, b_id, n_shared,
        |       ${r4Sql("CAST(n_shared AS DOUBLE) / CAST(sa.nf + sb.nf - n_shared AS DOUBLE)")} AS overlap
        |FROM p JOIN sz sa ON sa.doc_id = a_id
        |JOIN sz sb ON sb.doc_id = b_id
        |ORDER BY overlap DESC NULLS LAST, a_id NULLS FIRST,
        |         b_id NULLS FIRST
        |LIMIT 50""".stripMargin
  )

  // the distributed-rank twin produces IDENTICAL rows by construction
  // (unique doc_id ⇒ identical integer ranks), so it is judged against
  // the exact form's SQL verbatim — the rfm_segments_dist precedent
  val oracleSql: Map[String, String] = oracleSqlBase ++ Map(
    "q_llm_vocab_growth_dist" -> oracleSqlBase("q_llm_vocab_growth")
  )
}
