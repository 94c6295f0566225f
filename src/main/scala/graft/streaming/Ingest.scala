package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** A typed metric point — Kenshin's write-path payload
  * (`rurouni/protocols.py — MetricLineReceiver` parses exactly this
  * shape from the line protocol [U, SURVEY §2.1 R13]). */
case class Point(metric: String, ts: java.sql.Timestamp, value: Double)

/** Last-known value per metric — the live read-side state Kenshin keeps
  * in `MetricCache` (R10/R15). */
case class LastValue(metric: String, ts: java.sql.Timestamp, value: Double,
    n_updates: Long)

/** A closed activity session for one metric. */
case class SessionSummary(metric: String, start: java.sql.Timestamp,
    end: java.sql.Timestamp, n: Long, sum_v: Double)

/** Running session accumulator (epoch millis bounds). */
case class SessionState(startMs: Long, endMs: Long, n: Long, sum: Double)

/** Holt double-exponential state for one live metric: consumed-point
  * count (the 2-point seed discipline), level/trend/deviation, the first
  * value (held until the second point seeds the trend), and the last
  * consumed event-time (non-monotone arrivals are dropped — the live
  * recursion consumes each series in time order). */
case class HoltStreamState(n: Long, lvl: Double, trd: Double, dev: Double,
    firstV: Double, lastMs: Long)

/** A live Holt-bands score: the point, its one-step-ahead forecast and
  * bands, and the deviation outside them (0 inside). */
case class HoltAlert(metric: String, ts: java.sql.Timestamp, value: Double,
    fc: Double, lo_band: Double, hi_band: Double, aberration: Double)

/** A streamed corpus document heading for the mixing gate. */
case class StreamDoc(doc_id: Long, lang: String, n_tok: Long)

/** A streamed corpus document carrying its source for the live mix. */
case class MixDoc(doc_id: Long, source: String, lang: String, n_tok: Long)

/** A streamed (language, token) observation for the live legend. */
case class LangToken(lang: String, token: String)

/** One ranked entry of the live heavy-hitters legend. */
case class HotToken(lang: String, rank: Long, token: String, est: Long)

/** The live count–min state republished per micro-batch: the
  * self-describing serialized grid, probe-ready via `cm_query`. */
case class LangSketch(lang: String, sketch: Array[Byte])

/** A labeled embedding row for the live drift monitor. */
case class LabeledVec(label: Int, embedding: Array[Float])

/** Per-label drift state: the FROZEN reference centroid (quantized
  * per-dim sums from the label's first micro-batch) and the running
  * current-cohort sums. */
case class DriftState(ref: Array[Long], nRef: Long, cur: Array[Long],
    nCur: Long)

/** One live drift reading: cohort sizes and the centroid cosine vs the
  * frozen reference (1.0 = no drift). */
case class DriftScore(label: Int, n_ref: Long, n_cur: Long, cosine: Double)

/** Live CUSUM state: exact-integer recursion after a frozen warmup. */
case class CusumStreamState(n: Long, warmSum: Long, s: Long, alarms: Long,
    lastMs: Long)

/** A scored post-warmup point: the CUSUM statistic in value units. */
case class CusumAlert(metric: String, ts: java.sql.Timestamp, value: Double,
    stat: Double, fired: Boolean)
case class RawDoc(doc_id: Long, lang: String, text: String)

/** A typed user event for the live funnel — the product-analytics
  * view→click→purchase progression (batch twin:
  * [[graft.ts.TimeSeriesOps.funnel]]) as arbitrary state. */
case class FunnelEvent(user_id: Long, event_type: String,
    ts: java.sql.Timestamp)

/** Per-user live-funnel state: epoch ms of each stage's first
  * qualifying hit (-1 = not reached) plus the last consumed event-time
  * (the monotone-consumption guard shared with the Holt/CUSUM lives). */
case class FunnelProgress(viewMs: Long, clickMs: Long, purchaseMs: Long,
    lastMs: Long)

/** An emitted funnel transition; `closed` rows come from the
  * idle-timeout branch (the journey's final depth at eviction). */
case class FunnelHit(user_id: Long, stage: Long, stage_name: String,
    ts: java.sql.Timestamp, closed: Boolean)

/** A typed user event for live attribution: the batch window orders by
  * (ts, event_id), so the id rides along to keep tie order identical. */
case class AttribEvent(user_id: Long, event_id: Long, event_type: String,
    ts: java.sql.Timestamp, value: Double)

/** A routed, bucketed sample for the live KS drift monitor: `isRef`
  * rows are baseline copies fanned out to each monitored channel. */
case class KsEvent(t: String, isRef: Boolean, bucket: Long)

/** Per-channel KS monitor state: test + reference value histograms
  * (bounded by the bucket alphabet, not the stream). */
case class KsState(test: Map[Long, Long], ref: Map[Long, Long])

/** One live KS score: D's exact numerator and the IEEE ratio. */
case class KsScore(t: String, n: Long, m: Long, d_num: Long, d: Double,
  buckets: Long)

/** A (source, doc length) arrival for the per-source KS monitor. */
case class SourceDoc(source: String, n_chars: Long)

/** One live PSI score: the 1e12-quantized sum (the batch query's
  * exact accumulator) and its IEEE ratio. */
case class PsiScore(t: String, n: Long, m: Long, psq: Long, psi: Double,
  buckets: Long)

/** A scored forecast residual arriving at the conformal gate. */
case class ResidualObs(t: String, r: Double)

/** Live conformal-coverage state/score: exact in/total counts. */
case class CovState(n: Long, covered: Long)
case class CoverScore(t: String, n: Long, covered: Long,
  coverage: Double, degraded: Boolean)

/** Live Kruskal–Wallis state: per-(group, bucket) exact counts —
  * bounded by |groups| × the calibrated bucket alphabet. */
case class KwState(counts: Map[String, Map[Long, Long]])

/** One live Kruskal–Wallis score (the q_agg_kruskal_wallis outputs
  * plus the state-bound witness). */
case class KwScore(n_groups: Long, n: Long, h: Double,
  h_tie: Option[Double], buckets: Long)

/** Live one-way-ANOVA state: per-group exact moment triple
  * (count, Σq, Σq²) over 1e4-scaled BIGINT values — THREE longs per
  * group, the smallest state in the monitor family (no bucket
  * alphabet: exact decimal scaling needs no calibration grid). */
case class AnovaState(n: Map[String, Long], s: Map[String, Long],
  ssq: Map[String, Long])

/** One live ANOVA score (the q_agg_anova outputs). */
case class AnovaScore(n_groups: Long, n: Long, ssb: Double, ssw: Double,
  f: Option[Double])

/** Live Cochran–Armitage state: per-hour (total, successes) exact
  * counts — at most 24 × 2 longs, the alphabet is the clock. */
case class CaState(n: Map[Long, Long], r: Map[Long, Long])

/** One live Cochran–Armitage score (the q_agg_cochran_armitage
  * outputs). */
case class CaScore(n: Long, r: Long, t: Double, z: Option[Double])

/** A closed hourly rollup bucket arriving at the live Bollinger
  * monitor; `v4` is the exact 1e4-scaled bucket average (the avg4
  * grain the batch query reads). */
case class RollupBucket(metric: String, bucket: java.sql.Timestamp,
  v4: Long)

/** One emitted control-band row from [[Ingest.bollingerMonitor]]. */
case class BollingerBand(metric: String, bucket: java.sql.Timestamp,
  ma: Double, upper: Double, lower: Double, breach: Long)

/** Monitor state: the last ≤ 6 scaled bucket values, time order. */
case class BollWindow(vals: Seq[Long])

/** Page–Hinkley monitor state — the batch fold's accumulator verbatim
  * ([[graft.ts.TimeSeriesOps.pageHinkley]]). */
case class PhState(t: Long, sum: Double, m: Double, mm: Double,
  al: Long, fi: Long)

/** A rollup bucket joined with its series' calibrated μ/σ — the
  * stream-static join output the EWMA monitor folds over. */
case class EwmaIn(metric: String, bucket: java.sql.Timestamp, v4: Long,
  mu: Double, sd: Double)

/** EWMA-chart monitor state — the batch fold's accumulator verbatim
  * ([[graft.ts.TimeSeriesOps.ewmaChart]]). */
case class EwmaState(t: Long, z: Double, p: Double, br: Long, fi: Long)

/** One live EWMA-chart emission (per closed bucket). */
case class EwmaBand(metric: String, bucket: java.sql.Timestamp, t: Long,
  breaches: Long, first_breach: Long, ewma: Double, limit: Double)

/** One live Page–Hinkley emission (per closed bucket). */
case class PhScore(metric: String, bucket: java.sql.Timestamp, t: Long,
  alarms: Long, first_alarm: Long, ph: Double)

/** A typed state-change event for the live SCD2 maintainer. */
case class Scd2Event(user_id: Long, ts: java.sql.Timestamp,
    event_id: Long, state: String)

/** The open (current) SCD2 version per user. */
case class Scd2Open(version: Long, state: String,
    effFrom: java.sql.Timestamp)

/** A CLOSED SCD2 version row emitted by [[Ingest.scd2Maintain]]. */
case class Scd2Version(user_id: Long, version: Long, state: String,
    eff_from: java.sql.Timestamp, eff_to: java.sql.Timestamp)

/** Per-user live-attribution state: the most recent touch (click/view)
  * and the (ts, event_id) consumption frontier. */
case class TouchState(touch: String, lastMs: Long, lastId: Long)

/** [[Ingest.liveAttributionBuffered]]'s state: the watermark-bounded
  * hold-back buffer plus the folded last-touch record. */
case class TouchBufState(pending: Seq[AttribEvent], touch: String,
    lastMs: Long, lastId: Long)

/** [[Ingest.liveFunnelBuffered]]'s state: the hold-back buffer plus
  * the folded per-user stage anchors. */
case class FunnelBufState(pending: Seq[FunnelEvent], viewMs: Long,
    clickMs: Long, purchaseMs: Long, lastMs: Long)

/** One attributed purchase (touch_type = 'none' when no prior touch). */
case class AttributedPurchase(user_id: Long, event_id: Long,
    touch_type: String, value: Double)

/** An admitted document with its stratum's running token total. */
case class AdmittedDoc(doc_id: Long, lang: String, n_tok: Long, cum: Long)

/** Kenshin's ingestion daemon (rurouni-cache) re-expressed as Structured
  * Streaming: protocol parse → in-memory accumulation (micro-batch +
  * state store replaces MetricCache) → batched rollup writes (foreachBatch
  * replaces the writer thread) → live state queryable alongside storage
  * (cache-merge read).
  *
  * Every builder takes/returns DataFrames or Datasets so the same
  * transformations run on `MemoryStream` in tests, a socket/file source
  * locally, and Kafka at production — the plan, watermarks and state
  * semantics are source-agnostic.
  *
  * Scale posture: state is keyed by metric (hash-partitioned by the
  * shuffle — Kenshin's consistent-hash sharding R16 for free); watermarks
  * bound state size; at production scale the state store backend is
  * RocksDB (`spark.sql.streaming.stateStore.providerClass`) and sinks are
  * date-partitioned parquet appended per micro-batch. */
object Ingest {

  /** Epochs must fit the SQL timestamp range BEFORE timestamp_seconds
    * touches them: it multiplies to micros with Math.multiplyExact, so a
    * LONG-parseable but absurd epoch (a client sending nanos) would
    * otherwise throw and KILL the streaming query instead of being
    * dropped/quarantined. Bounds = years 1..9999. */
  private val EpochMin = -62135596800L
  private val EpochMax = 253402300799L
  private def epochInRange(epoch: org.apache.spark.sql.Column) =
    epoch.isNotNull && epoch.between(EpochMin, EpochMax)

  /** R13 line protocol: `"metric value epoch_seconds"` → typed points.
    * Malformed lines (wrong arity, empty metric, non-numeric or
    * out-of-range fields) are dropped, matching the daemon's tolerant
    * receiver; try_cast keeps ANSI mode safe. The accepted set is
    * EXACTLY the `reason = "ok"` fork of [[parseLinesQuarantine]]
    * (spec'd): strictly three fields — carbon's plaintext protocol.
    * Tokenization is carbon's `line.strip().split()`: surplus whitespace
    * (trailing blanks, doubled separators, tabs) never changes arity. */
  def parseLines(lines: DataFrame): DataFrame =
    lines
      .select(split(trim(col("value")), "\\s+").as("f"))
      .select(try_element_at(col("f"), lit(1)).as("metric"),
        expr("try_cast(try_element_at(f, 3) AS LONG)").as("epoch"),
        expr("try_cast(try_element_at(f, 2) AS DOUBLE)").as("value"),
        size(col("f")).as("arity"))
      .where(col("arity") === 3 &&
        col("metric").isNotNull && length(col("metric")) > 0 &&
        epochInRange(col("epoch")) && col("value").isNotNull)
      .select(col("metric"), timestamp_seconds(col("epoch")).as("ts"),
        col("value"))

  /** [[parseLines]] with a DEAD-LETTER channel: instead of silently
    * dropping malformed input, every line is tagged with the first parse
    * failure in field order (`bad_arity` / `bad_metric` / `bad_value` /
    * `bad_epoch`), so a pipeline can fork `ok` into the rollup path and
    * quarantine the rest for replay/alerting — the production upgrade
    * over the daemon's tolerant drop (at 100 TB/day, "0.3% of lines
    * silently vanished" must be observable). The `ok` fork accepts
    * EXACTLY [[parseLines]]'s rows (spec'd). One map-side pass, same
    * plan shape streaming or batch; split with two filters on `reason`
    * (both prune map-side). `ts` is only materialized for in-range
    * epochs — an absurd epoch quarantines, never throws. */
  def parseLinesQuarantine(lines: DataFrame): DataFrame =
    lines
      .select(col("value").as("raw"),
        split(trim(col("value")), "\\s+").as("f"))
      .select(col("raw"),
        try_element_at(col("f"), lit(1)).as("metric"),
        expr("try_cast(try_element_at(f, 3) AS LONG)").as("epoch"),
        expr("try_cast(try_element_at(f, 2) AS DOUBLE)").as("value"),
        size(col("f")).as("arity"))
      .select(col("raw"), col("metric"),
        when(epochInRange(col("epoch")), timestamp_seconds(col("epoch")))
          .as("ts"),
        col("value"),
        when(col("arity") =!= 3, "bad_arity")
          .when(col("metric").isNull || length(col("metric")) === 0,
            "bad_metric")
          .when(col("value").isNull, "bad_value")
          .when(!epochInRange(col("epoch")), "bad_epoch")
          .otherwise("ok").as("reason"))

  /** R14 (batched binary protocol, the pickle-receiver analog): one frame
    * carries many points — `[n:int32][n × (len:int32, metric:utf8,
    * ts:int64 epoch-seconds, value:float64)]`, big-endian. Encoder for
    * producers/tests; the decoder is map-side flatMap (a frame explodes
    * into points with zero shuffle), malformed frames dropped like the
    * daemon's tolerant receiver. */
  def encodeFrame(points: Seq[(String, Long, Double)]): Array[Byte] = {
    val metricBytes = points.map(_._1.getBytes("UTF-8"))
    val size = 4 + points.zip(metricBytes)
      .map { case (_, m) => 4 + m.length + 8 + 8 }.sum
    val buf = java.nio.ByteBuffer.allocate(size)
    buf.putInt(points.length)
    points.zip(metricBytes).foreach { case ((_, ts, v), m) =>
      buf.putInt(m.length); buf.put(m); buf.putLong(ts); buf.putDouble(v)
    }
    buf.array()
  }

  def parseFrames(frames: Dataset[Array[Byte]]): Dataset[Point] = {
    import frames.sparkSession.implicits._
    frames.flatMap { bytes =>
      try {
        val buf = java.nio.ByteBuffer.wrap(bytes)
        val n = buf.getInt
        require(n >= 0 && n < (1 << 20))
        (0 until n).map { _ =>
          val len = buf.getInt
          require(len >= 0 && len <= buf.remaining())
          val m = new Array[Byte](len); buf.get(m)
          val ts = buf.getLong; val v = buf.getDouble
          Point(new String(m, "UTF-8"), new java.sql.Timestamp(ts * 1000L), v)
        }
      } catch { case _: Exception => Seq.empty } // tolerant receiver
    }
  }

  /** R14 proper: the pickle batch protocol — each frame is a Python
    * pickle of `[(metric, (ts, value)), ...]` exactly as carbon's pickle
    * receiver takes it, decoded map-side by [[PickleCodec]] (tolerant:
    * malformed frames drop). */
  def parsePickleFrames(frames: Dataset[Array[Byte]]): Dataset[Point] = {
    import frames.sparkSession.implicits._
    frames.flatMap { bytes =>
      PickleCodec.decode(bytes).map { case (m, ts, v) =>
        Point(m, new java.sql.Timestamp(ts * 1000L), v)
      }
    }
  }

  /** R3+R5: tumbling-window rollup with bounded lateness — the streaming
    * form of the batch `q_ts_rollup_*` family. */
  def tumblingRollup(points: DataFrame, step: String = "1 minute",
      lateness: String = "10 minutes"): DataFrame =
    points
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), step), col("metric"))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("avg_v"),
        max(col("value")).as("max_v"))
      .select(col("window.start").as("bucket"), col("metric"),
        col("n"), col("avg_v"), col("max_v"))

  /** Graphite movingAverage analog: sliding windows (length, slide). */
  def slidingRollup(points: DataFrame, length: String = "10 minutes",
      slide: String = "1 minute", lateness: String = "10 minutes"): DataFrame =
    points
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), length, slide), col("metric"))
      .agg(avg(col("value")).as("avg_v"), count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("metric"), col("avg_v"), col("n"))

  /** Session windows: activity bursts per metric separated by > gap.
    * Note: Spark rejects Update output mode for session-window aggs —
    * sinks must use Append (watermark-gated emission) or Complete. */
  def sessionAgg(points: DataFrame, gap: String = "30 seconds",
      lateness: String = "10 minutes"): DataFrame =
    points
      .withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap), col("metric"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("metric"), col("n"),
        col("sum_v"))

  /** Idempotent ingest: drop replayed points (same metric+ts) while their
    * window is still inside the watermark. */
  def dedupIngest(points: DataFrame, lateness: String = "10 minutes"): DataFrame =
    points
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark(Seq("metric", "ts"))

  /** Streaming corpus ingest with CONTENT-hash dedup: duplicate texts
    * arriving in later micro-batches drop while their arrival window is
    * inside the watermark, BEFORE the train/val/test assignment — so a
    * streamed corpus can't leak one text into two splits (the batch-side
    * guarantee of [[graft.llm.TextOps.trainValSplit]], which this shares
    * its md5 content key and bucket formula with: same text ⇒ same
    * bucket ⇒ same split, batch or streamed). Dedup keys on the content
    * hash, not doc_id — re-ingested copies with fresh ids still drop. */
  def dedupCorpusStream(docs: DataFrame,
      lateness: String = "10 minutes"): DataFrame =
    docs
      .withColumn("content_key", md5(col("text")))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark(Seq("content_key"))
      .withColumn("bucket",
        conv(substring(col("content_key"), 1, 8), 16, 10).cast("bigint") % 10)
      .select(col("doc_id"), col("content_key"), col("bucket"),
        when(col("bucket") < 8, "train")
          .when(col("bucket") === 8, "val")
          .otherwise("test").as("split"),
        col("ts"))

  /** Streaming quality admission — the online half of the Gopher rule
    * gate ([[graft.llm.TextOps.gopherRules]]): incoming documents are
    * annotated with the SAME rule-flag expressions (shared code, so
    * the two gates cannot drift) and only keep==1 rows pass. The gate
    * is stateless and map-side — no watermark, no state store — which
    * is exactly why it belongs FIRST in the streaming corpus pipeline:
    * every rejected document is one the content-hash dedup state and
    * the budget state never have to see. */
  def gopherGate(docs: DataFrame): DataFrame =
    graft.llm.TextOps.gopherFlags(docs)
      .where(col("keep") === 1)

  /** LIVE domain-mix monitor — the streaming twin of
    * [[graft.llm.TextOps.domainMix]]: ONE streaming aggregation at the
    * finest (source, lang) grain, run in Complete mode, so the state
    * store holds exactly the mix cube (|sources|·|langs| rows of two
    * longs — bounded, no watermark). Chained streaming aggregations are
    * unsupported, and the scorecard's shares/argmax need a second
    * level, so the dashboard read is [[mixScorecard]]: a BATCH rollup
    * over the tiny emitted cube — the standard "stream maintains the
    * finest cell, the panel rolls up" split. Sits AFTER the
    * content-hash dedup stage ([[dedupCorpusStream]]) in the pipeline,
    * so the live mix is the post-dedup mix and the batch twin's
    * uniq_ratio column is 1 by construction (dropped here). Input
    * columns: source, lang, n_tok. */
  def domainMixStream(docs: DataFrame): DataFrame =
    docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("nl"), sum(col("n_tok")).as("tok"))

  /** Batch rollup of [[domainMixStream]]'s complete-mode cube into the
    * per-source scorecard — identical share/argmax formulas to
    * [[graft.llm.TextOps.domainMixOf]] (spec-asserted field-equal on
    * the same documents). */
  def mixScorecard(cube: DataFrame): DataFrame = {
    // the cube self-joins (rollup ⋈ argmax); a memory-sink view exposes
    // the SAME attribute ids on both branches — re-alias one copy so
    // every column gets a fresh exprId before the join
    val cube2 = cube.select(cube.columns.map(n => col(n).as(n)).toIndexedSeq: _*)
    val top = cube2.groupBy(col("source"))
      .agg(min(struct((-col("nl")).as("neg"), col("lang"))).as("m"))
      .select(col("source"), col("m.lang").as("top_lang"),
        (-col("m.neg")).as("top_lang_docs"))
    val bySrc = cube.groupBy(col("source"))
      .agg(sum(col("nl")).as("n_docs"), sum(col("tok")).as("ws_tokens"))
    val tot = cube.agg(sum(col("nl")).as("tot_docs"),
      sum(col("tok")).as("tot_tokens"))
    bySrc.join(top, "source").crossJoin(tot)
      .select(col("source"), col("n_docs"), col("ws_tokens"),
        graft.util.Det.r4(col("n_docs").cast("double") / col("tot_docs"))
          .as("doc_share"),
        graft.util.Det.r4(col("ws_tokens").cast("double") /
          col("tot_tokens")).as("tok_share"),
        col("top_lang"), col("top_lang_docs"))
      .orderBy("source")
  }

  /** Streaming token-budget admission — the online half of the mixing
    * primitive ([[graft.llm.TextOps.budgetSample]]): each language keeps
    * a running token total as explicit state and admits documents while
    * the stratum stays within budget; once a stratum fills, its later
    * arrivals drop forever (the state survives across micro-batches).
    * A stream cannot sort by content hash, so admission is arrival-order
    * greedy — the honest online semantics — with a deterministic
    * (doc_id) fold order WITHIN each micro-batch so replays and tests
    * reproduce. State per key is one long; keys are languages/sources —
    * bounded, no watermark needed. */
  /** LIVE BOLLINGER MONITOR — q_ts_bollinger gone online: each series
    * keeps its last 6 closed rollup buckets as state (6 longs — the
    * MetricCache bound) and emits the control band + breach flag as
    * every new bucket closes. Decision-EQUAL to the batch query by
    * construction: state holds EXACT 1e4-scaled values, the window
    * sums are exact longs (Σq ≤ 6·10⁸, Σq² ≤ 6·10¹⁴ — both inside
    * 2⁵³, so the scale-back divisions are correctly rounded to the
    * same doubles the batch DECIMAL→double casts produce), and the
    * band/breach formulas are the identical IEEE text. Fold order
    * inside a micro-batch is bucket order; cross-batch ordering is
    * the delivery contract (feed closed rollups in time order — the
    * scd2Maintain rule). Spec streams the batch query's own buckets
    * in two micro-batches and proves every band AND breach equal. */
  def bollingerMonitor(rollups: Dataset[RollupBucket])
      : Dataset[BollingerBand] = {
    import rollups.sparkSession.implicits._
    def r4(x: Double): Double = math.floor(x * 10000.0 + 0.5) / 10000.0
    rollups.groupByKey(_.metric)
      .flatMapGroupsWithState[BollWindow, BollingerBand](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (m: String, rows: Iterator[RollupBucket],
            state: GroupState[BollWindow]) =>
          var st = state.getOption.getOrElse(BollWindow(Nil))
          val out = scala.collection.mutable.ArrayBuffer[BollingerBand]()
          for (r <- rows.toSeq.sortBy(_.bucket.getTime)) {
            st = BollWindow((st.vals :+ r.v4).takeRight(6))
            if (st.vals.length == 6) {
              var s1l = 0L; var s2l = 0L
              st.vals.foreach { q => s1l += q; s2l += q * q }
              // decision-equality contract: Σq² must stay inside 2⁵³
              // or the two-step scale-back rounds differently from the
              // batch's single DECIMAL→double cast (ksMonitor guard
              // precedent).
              require(s2l >= 0L && s2l <= (1L << 53),
                s"bollingerMonitor: sum of squares $s2l exceeds 2^53 " +
                  "— bucket averages too large for exact-long state")
              val s1 = s1l.toDouble / 10000.0
              val s2 = s2l.toDouble / 100000000.0
              val ma = s1 / 6.0
              val sd = math.sqrt((s2 - (s1 * s1) / 6.0) / 6.0)
              val v = r.v4.toDouble / 10000.0
              val breach =
                if (v > ma + 2.0 * sd) 1L
                else if (v < ma - 2.0 * sd) -1L
                else 0L
              out += BollingerBand(m, r.bucket, r4(ma),
                r4(ma + 2.0 * sd), r4(ma - 2.0 * sd), breach)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** LIVE EWMA CONTROL-CHART MONITOR — q_ts_ewma_chart gone online:
    * arriving rollup buckets meet their series' CALIBRATED μ/σ via a
    * stream-static equi-join on metric (the calibration is
    * [[graft.ts.TimeSeriesOps.ewmaCalibration]], a TABLE — never
    * driver state; the ksReferenceEdges posture), then a five-scalar
    * state (t, z, (1−λ)^{2t}, breaches, first-breach) advances with
    * the batch fold's exact IEEE op sequence, so every band and breach
    * is bit-equal to the batch chart at the same prefix. State is
    * per-series constant-size; the power term multiplies forward —
    * no pow(), no history. In-order per-series delivery contract. */
  def ewmaChartMonitor(rollups: Dataset[RollupBucket],
      calibration: DataFrame): Dataset[EwmaBand] = {
    import rollups.sparkSession.implicits._
    def r4(x: Double): Double = math.floor(x * 10000.0 + 0.5) / 10000.0
    rollups.toDF()
      .join(calibration, Seq("metric")) // stream-static, bucket-keyed
      .as[EwmaIn]
      .groupByKey(_.metric)
      .flatMapGroupsWithState[EwmaState, EwmaBand](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (metric: String, rows: Iterator[EwmaIn],
            state: GroupState[EwmaState]) =>
          val out = scala.collection.mutable.ArrayBuffer[EwmaBand]()
          var st: EwmaState = null
          for (r <- rows.toSeq.sortBy(_.bucket.getTime)) {
            if (st == null)
              st = state.getOption.getOrElse(
                EwmaState(0L, r.mu, 1.0, 0L, 0L)) // z seeds at mu
            val v = r.v4.toDouble / 10000.0
            // the batch fold's update text, field for field
            val z2 = 0.2 * v + 0.8 * st.z
            val p2 = st.p * 0.64
            val lim = 3.0 * r.sd * math.sqrt(0.2 / 1.8 * (1.0 - p2))
            val breach = math.abs(z2 - r.mu) > lim
            st = EwmaState(st.t + 1L, z2, p2,
              st.br + (if (breach) 1L else 0L),
              if (st.fi > 0L) st.fi
              else if (breach) st.t + 1L else 0L)
            out += EwmaBand(metric, r.bucket, st.t, st.br, st.fi,
              r4(st.z), r4(lim))
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  /** LIVE PAGE–HINKLEY MONITOR — q_ts_page_hinkley gone online: per
    * series the state is the batch fold's accumulator (t, Σx, m,
    * min m, alarms, first-alarm index — six scalars, stream-length
    * independent), advanced with the IDENTICAL IEEE op sequence
    * (JVM doubles and codegen'd expression doubles are both strict
    * IEEE-754, the s_bollinger_monitor precedent), so every emission
    * is bit-equal to the batch fold at the same prefix. Input is the
    * closed rollup-bucket stream, `v4` at the exact 1e4 scale
    * (v = v4/10⁴ reproduces the batch's double exactly — correctly
    * rounded division of exactly-representable operands). In-order
    * per-series delivery is the contract (scd2Maintain rule). */
  def pageHinkleyMonitor(rollups: Dataset[RollupBucket])
      : Dataset[PhScore] = {
    import rollups.sparkSession.implicits._
    def r4(x: Double): Double = math.floor(x * 10000.0 + 0.5) / 10000.0
    rollups.groupByKey(_.metric)
      .flatMapGroupsWithState[PhState, PhScore](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (metric: String, rows: Iterator[RollupBucket],
            state: GroupState[PhState]) =>
          var st = state.getOption.getOrElse(
            PhState(0L, 0.0, 0.0, 0.0, 0L, 0L))
          val out = scala.collection.mutable.ArrayBuffer[PhScore]()
          for (rb <- rows.toSeq.sortBy(_.bucket.getTime)) {
            val v = rb.v4.toDouble / 10000.0
            // the batch fold's update text, field for field
            val m2 = st.m + (v - (st.sum + v) / (st.t + 1L).toDouble
              - 0.005)
            val mm2 = math.min(st.mm, m2)
            val alarm = m2 - mm2 > 50.0
            st = PhState(st.t + 1L, st.sum + v, m2, mm2,
              st.al + (if (alarm) 1L else 0L),
              if (st.fi > 0L) st.fi
              else if (alarm) st.t + 1L else 0L)
            out += PhScore(metric, rb.bucket, st.t, st.al, st.fi,
              r4(st.m - st.mm))
          }
          state.update(st)
          out.iterator
      }
  }

  /** Equiprobable reference bin edges for [[ksMonitor]] — the offline
    * calibration half of the monitor: the B−1 interior quantiles of
    * the baseline channel's value distribution, computed ONCE from the
    * reference table (exact `percentile` aggregate — calibration runs
    * offline where a sort is fine) and collected as model-sized
    * material (B−1 doubles — the ANN codebook rule). The live state is
    * then counts over a FIXED alphabet of B bins per side, so the
    * bound holds for ANY real-valued stream — the r11 form bucketed on
    * a 0.1-wide value grid, whose alphabet (hence state) grew with the
    * stream's dynamic range. Equiprobable-under-baseline bins also
    * put resolution where the reference mass lives, the standard
    * drift-monitor binning. */
  def ksReferenceEdges(spark: SparkSession, sfDir: String,
      bins: Int = 32): Array[Double] = {
    val ps = (1 until bins).map(k => k.toDouble / bins)
      .mkString("array(", ", ", ")")
    graft.io.Tables.events(spark, sfDir)
      .where(col("event_type") === "view")
      .agg(expr(s"percentile(CAST(value AS DOUBLE), $ps)").as("e"))
      .head.getSeq[Double](0).toArray
  }

  /** SKETCH-PATH recalibration for [[ksReferenceEdges]]: the same B−1
    * equiprobable edges from ONE mergeable
    * [[graft.functions.QuantileSketch]] pass instead of an exact
    * percentile sort — so the monitor's edges can re-derive
    * continuously (per partition summaries merge; no corpus-wide
    * sort ever materializes). Returns (edges, err_bound, n): the
    * sketch SELF-CERTIFIES its worst-case rank error, and the spec
    * asserts both the certificate and that monitor decisions match
    * the exact-edge calibration on the 21-decade fixture. */
  def ksReferenceEdgesSketch(spark: SparkSession, sfDir: String,
      bins: Int = 32, k: Int = 256): (Array[Double], Long, Long) = {
    val r = graft.io.Tables.events(spark, sfDir)
      .where(col("event_type") === "view")
      .agg(graft.functions.QuantileEdges(
        col("value").cast("double"), k, bins).as("s"))
      .select(col("s.edges"), col("s.err_bound"), col("s.n"))
      .head
    (r.getSeq[Double](0).toArray, r.getLong(1), r.getLong(2))
  }

  /** LIVE KOLMOGOROV–SMIRNOV DRIFT MONITOR — q_agg_ks_drift gone
    * online: each monitored channel's value distribution scored
    * against the 'view' baseline after every micro-batch. Values
    * bucket map-side by binary search over the CALIBRATED edge array
    * (see [[ksReferenceEdges]]; a binned KS is a defined,
    * exactly-reproducible metric, and the edge alphabet — never the
    * stream's value range — bounds the state at ≤ edges+1 bins per
    * side, asserted in spec on a stream whose dynamic range defeats
    * any fixed grid), and baseline rows fan out as reference COPIES to
    * each channel's group so every group owns both histograms (state
    * routing beats a cross-group read; the fan-out factor is the
    * channel count, a constant). D's sup runs in BigInt |i·m − j·n|
    * over the merged sorted buckets — the exact batch kernel.
    * Histogram merges are commutative counter adds, so arrival order
    * never matters (the s_cm_sketch guarantee class). */
  def ksMonitor(evs: Dataset[AttribEvent], edges: Array[Double],
      channels: Seq[String] = Seq("click", "error", "purchase", "signup"))
      : Dataset[KsScore] = {
    import evs.sparkSession.implicits._
    val chan = channels.toArray
    val sortedEdges = edges.sorted
    val routed = evs.flatMap { e =>
      val i = java.util.Arrays.binarySearch(sortedEdges, e.value)
      val b = (if (i >= 0) i + 1 else -i - 1).toLong // edges are <= cuts
      if (e.event_type == "view") chan.toSeq.map(c => KsEvent(c, true, b))
      else if (chan.contains(e.event_type))
        Seq(KsEvent(e.event_type, false, b))
      else Nil
    }
    ksScoreStream(routed)
  }

  /** The shared two-histogram KS fold behind [[ksMonitor]] and
    * [[ksBySourceMonitor]]: per routed key, accumulate the test/ref
    * bucket histograms (bounded by the calibrated alphabet) and emit
    * the exact BigInt sup |i·m − j·n| after each micro-batch. */
  private def ksScoreStream(routed: Dataset[KsEvent])
      : Dataset[KsScore] = {
    import routed.sparkSession.implicits._
    routed.groupByKey(_.t)
      .flatMapGroupsWithState[KsState, KsScore](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) {
        (t: String, rows: Iterator[KsEvent], state: GroupState[KsState]) =>
          var st = state.getOption.getOrElse(
            KsState(Map.empty[Long, Long], Map.empty[Long, Long]))
          rows.foreach { e =>
            st =
              if (e.isRef) st.copy(ref = st.ref +
                (e.bucket -> (st.ref.getOrElse(e.bucket, 0L) + 1L)))
              else st.copy(test = st.test +
                (e.bucket -> (st.test.getOrElse(e.bucket, 0L) + 1L)))
          }
          state.update(st)
          val n = st.test.values.sum
          val m = st.ref.values.sum
          if (n == 0L || m == 0L) Iterator.empty
          else {
            val keys = (st.test.keySet ++ st.ref.keySet).toSeq.sorted
            var i = 0L; var j = 0L; var best = BigInt(0)
            keys.foreach { k =>
              i += st.test.getOrElse(k, 0L)
              j += st.ref.getOrElse(k, 0L)
              val diff = (BigInt(i) * m - BigInt(j) * n).abs
              if (diff > best) best = diff
            }
            // the batch twin (ksDrift) fails loudly on the ANSI
            // decimal->long cast past Long range; match that contract
            // rather than silently wrapping (n*m exceeds Long only past
            // ~3e9 x 3e9 events per type, but the guard costs nothing)
            require(best.isValidLong,
              s"ksMonitor d_num overflow for type $t: $best (n=$n m=$m)")
            Iterator.single(KsScore(t, n, m, best.toLong,
              best.toDouble / (n.toDouble * m.toDouble), keys.size.toLong))
          }
      }
  }

  /** LIVE TOTAL-VARIATION DRIFT MONITOR — q_agg_tv_drift gone online:
    * the SAME two-histogram state as [[ksMonitor]] (same routing, same
    * calibrated-alphabet bound) scored with the L1 kernel instead of
    * the sup: tv_num = Σ|c1ₖ·m − c2ₖ·n| in BigInt, tv = tv_num/(2nm).
    * Histogram adds commute, so batching never matters; calibrated at
    * value grain the final scores equal the batch query exactly
    * (spec'd under two batchings). */
  def tvMonitor(evs: Dataset[AttribEvent], edges: Array[Double],
      channels: Seq[String] = Seq("click", "error", "purchase", "signup"))
      : Dataset[KsScore] = {
    import evs.sparkSession.implicits._
    val chan = channels.toArray
    val sortedEdges = edges.sorted
    val routed = evs.flatMap { e =>
      val i = java.util.Arrays.binarySearch(sortedEdges, e.value)
      val b = (if (i >= 0) i + 1 else -i - 1).toLong
      if (e.event_type == "view") chan.toSeq.map(c => KsEvent(c, true, b))
      else if (chan.contains(e.event_type))
        Seq(KsEvent(e.event_type, false, b))
      else Nil
    }
    routed.groupByKey(_.t)
      .flatMapGroupsWithState[KsState, KsScore](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) {
        (t: String, rows: Iterator[KsEvent], state: GroupState[KsState]) =>
          var st = state.getOption.getOrElse(
            KsState(Map.empty[Long, Long], Map.empty[Long, Long]))
          rows.foreach { e =>
            st =
              if (e.isRef) st.copy(ref = st.ref +
                (e.bucket -> (st.ref.getOrElse(e.bucket, 0L) + 1L)))
              else st.copy(test = st.test +
                (e.bucket -> (st.test.getOrElse(e.bucket, 0L) + 1L)))
          }
          state.update(st)
          val n = st.test.values.sum
          val m = st.ref.values.sum
          if (n == 0L || m == 0L) Iterator.empty
          else {
            val keys = (st.test.keySet ++ st.ref.keySet).toSeq.sorted
            var acc = BigInt(0)
            keys.foreach { k =>
              acc += (BigInt(st.test.getOrElse(k, 0L)) * m -
                BigInt(st.ref.getOrElse(k, 0L)) * n).abs
            }
            require(acc.isValidLong,
              s"tvMonitor tv_num overflow for type $t: $acc (n=$n m=$m)")
            Iterator.single(KsScore(t, n, m, acc.toLong,
              acc.toDouble / (2.0 * n.toDouble * m.toDouble),
              keys.size.toLong))
          }
      }
  }

  /** LIVE CRAMÉR–VON MISES DRIFT MONITOR — q_agg_cvm_drift gone
    * online: the SAME two-histogram state as [[ksMonitor]] (same
    * routing, same calibrated-alphabet bound) scored with the
    * integral-squared kernel — u = Σₖ tₖ·(i·m − j·n)² over the merged
    * sorted buckets in exact BigInt, ω²·1000 = 1000·u/(n²m²(n+m)).
    * KS sees one worst gap, TV the total mass moved; CvM weights
    * every gap by occupancy — spread-out drift none of a sup or an L1
    * sees as sharply. Histogram adds commute (order/batching never
    * matter); calibrated at value grain the final scores equal the
    * batch query's u exactly (spec'd under two batchings). The u
    * witness reports scaled DOWN by 10⁶ (u grows ∝ n³m²-ish; the
    * require guards the Long window like the ks/tv monitors). */
  def cvmMonitor(evs: Dataset[AttribEvent], edges: Array[Double],
      channels: Seq[String] = Seq("click", "error", "purchase", "signup"))
      : Dataset[KsScore] = {
    import evs.sparkSession.implicits._
    val chan = channels.toArray
    val sortedEdges = edges.sorted
    val routed = evs.flatMap { e =>
      val i = java.util.Arrays.binarySearch(sortedEdges, e.value)
      val b = (if (i >= 0) i + 1 else -i - 1).toLong
      if (e.event_type == "view") chan.toSeq.map(c => KsEvent(c, true, b))
      else if (chan.contains(e.event_type))
        Seq(KsEvent(e.event_type, false, b))
      else Nil
    }
    routed.groupByKey(_.t)
      .flatMapGroupsWithState[KsState, KsScore](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) {
        (t: String, rows: Iterator[KsEvent], state: GroupState[KsState]) =>
          var st = state.getOption.getOrElse(
            KsState(Map.empty[Long, Long], Map.empty[Long, Long]))
          rows.foreach { e =>
            st =
              if (e.isRef) st.copy(ref = st.ref +
                (e.bucket -> (st.ref.getOrElse(e.bucket, 0L) + 1L)))
              else st.copy(test = st.test +
                (e.bucket -> (st.test.getOrElse(e.bucket, 0L) + 1L)))
          }
          state.update(st)
          val n = st.test.values.sum
          val m = st.ref.values.sum
          if (n == 0L || m == 0L) Iterator.empty
          else {
            val keys = (st.test.keySet ++ st.ref.keySet).toSeq.sorted
            var i = 0L; var j = 0L; var u = BigInt(0)
            keys.foreach { k =>
              val c1 = st.test.getOrElse(k, 0L)
              val c2 = st.ref.getOrElse(k, 0L)
              i += c1; j += c2
              val gap = BigInt(i) * m - BigInt(j) * n
              u += gap * gap * (c1 + c2)
            }
            val uScaled = u / 1000000L
            require(uScaled.isValidLong,
              s"cvmMonitor u overflow for type $t: $u (n=$n m=$m)")
            val omega = 1000.0 * u.toDouble /
              (n.toDouble * n.toDouble * m.toDouble * m.toDouble *
                (n.toDouble + m.toDouble))
            Iterator.single(KsScore(t, n, m, uScaled.toLong, omega,
              keys.size.toLong))
          }
      }
  }

  /** LIVE PER-SOURCE KS MONITOR — q_agg_ks_by_source gone online: each
    * source's document-length distribution scored LEAVE-ONE-OUT
    * against all other sources after every micro-batch. A doc from
    * source s routes as a TEST event to s's group and as a REFERENCE
    * copy to every other listed source (the ksMonitor baseline-copy
    * pattern; fan-out = |sources|, a constant), so every group owns
    * both histograms and the fold is the identical exact-BigInt kernel
    * ([[ksScoreStream]]). Values bucket map-side over the calibrated
    * edge alphabet — state ≤ edges+1 bins per side per source.
    * Calibrated at value grain (edges = the distinct n_chars values),
    * the final scores equal the BATCH query's (n, m, d_num) exactly —
    * spec'd under two batchings; coarser alphabets trade resolution
    * for the bound, the documented binned-KS contract. */
  def ksBySourceMonitor(docs: Dataset[SourceDoc], edges: Array[Double],
      sources: Seq[String]): Dataset[KsScore] = {
    import docs.sparkSession.implicits._
    val srcs = sources.toArray
    val sortedEdges = edges.sorted
    ksScoreStream(docs.flatMap { d =>
      val i = java.util.Arrays.binarySearch(sortedEdges,
        d.n_chars.toDouble)
      val b = (if (i >= 0) i + 1 else -i - 1).toLong
      srcs.toSeq.map(s => KsEvent(s, s != d.source, b))
    })
  }

  /** LIVE CONFORMAL-COVERAGE MONITOR — the online check that
    * [[graft.ts.TimeSeriesOps.tsConformal]]'s calibrated q90 band is
    * still honest on NEW data (a conformal guarantee only holds under
    * exchangeability; regime change silently voids it): per series,
    * count |residual| ≤ q90 arrivals against the total, exact
    * integers in state (two longs per type — no histogram needed),
    * and flag `degraded` when covered·100 < 85·n (an exact-integer
    * comparison: coverage below 0.85 against the 0.90 design target).
    * Types without a calibration entry are ignored (never scored
    * against a band that doesn't exist). Fed the batch query's own
    * test split, the final counts equal q_ts_conformal's
    * (n_test, n_covered) bit-for-bit — spec'd under two batchings. */
  def conformalCoverageMonitor(obs: Dataset[ResidualObs],
      q90: Map[String, Double]): Dataset[CoverScore] = {
    import obs.sparkSession.implicits._
    obs.filter(o => q90.contains(o.t))
      .groupByKey(_.t)
      .flatMapGroupsWithState[CovState, CoverScore](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) {
        (t: String, rows: Iterator[ResidualObs],
            state: GroupState[CovState]) =>
          var st = state.getOption.getOrElse(CovState(0L, 0L))
          val band = q90(t)
          rows.foreach { o =>
            st = CovState(st.n + 1L,
              st.covered + (if (math.abs(o.r) <= band) 1L else 0L))
          }
          state.update(st)
          if (st.n == 0L) Iterator.empty
          else Iterator.single(CoverScore(t, st.n, st.covered,
            st.covered.toDouble / st.n.toDouble,
            st.covered * 100L < 85L * st.n))
      }
  }

  /** LIVE PSI MONITOR — q_llm_psi_length gone online: per source, the
    * population stability index of the BINNED length distribution vs
    * the whole corpus after every micro-batch. Bins come from the
    * calibrated [lo, hi] extent (the batch query's integer-bin
    * formula, clamped for out-of-calibration arrivals); each doc
    * routes as a TEST event to its own source and as a REFERENCE
    * copy to every listed source (the corpus INCLUDES self — exactly
    * the batch convention), so each group owns both histograms
    * (state ≤ 2×10 longs). The emit replays the batch fold verbatim:
    * add-one-smoothed (p−q)·ln(p/q) per bin, floor-quantized at 1e12
    * and summed as a Long — calibrated at the batch extent the final
    * score equals q_llm_psi_length bit-for-bit (spec'd under two
    * batchings). Histogram adds are commutative: order-free. */
  def psiBySourceMonitor(docs: Dataset[SourceDoc], lo: Long, hi: Long,
      sources: Seq[String]): Dataset[PsiScore] = {
    import docs.sparkSession.implicits._
    val srcs = sources.toArray
    val routed = docs.flatMap { d =>
      val b = math.min(9L, math.max(0L,
        ((d.n_chars - lo) * 10L) / (hi - lo + 1L)))
      KsEvent(d.source, false, b) +:
        srcs.toSeq.map(s => KsEvent(s, true, b))
    }
    routed.groupByKey(_.t)
      .flatMapGroupsWithState[KsState, PsiScore](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) {
        (t: String, rows: Iterator[KsEvent], state: GroupState[KsState]) =>
          var st = state.getOption.getOrElse(
            KsState(Map.empty[Long, Long], Map.empty[Long, Long]))
          rows.foreach { e =>
            st =
              if (e.isRef) st.copy(ref = st.ref +
                (e.bucket -> (st.ref.getOrElse(e.bucket, 0L) + 1L)))
              else st.copy(test = st.test +
                (e.bucket -> (st.test.getOrElse(e.bucket, 0L) + 1L)))
          }
          state.update(st)
          val n = st.test.values.sum
          val m = st.ref.values.sum
          if (n == 0L || m == 0L) Iterator.empty
          else {
            var psq = 0L
            (0L to 9L).foreach { b =>
              val p = (st.test.getOrElse(b, 0L).toDouble + 1.0) /
                (n.toDouble + 10.0)
              val q = (st.ref.getOrElse(b, 0L).toDouble + 1.0) /
                (m.toDouble + 10.0)
              psq += math.floor((p - q) * StrictMath.log(p / q) * 1.0e12)
                .toLong
            }
            Iterator.single(PsiScore(t, n, m, psq,
              psq.toDouble / 1.0e12,
              (st.test.keySet ++ st.ref.keySet).size.toLong))
          }
      }
  }

  /** LIVE KRUSKAL–WALLIS MONITOR — q_agg_kruskal_wallis gone online:
    * one state holds the per-(group, bucket) exact count matrix
    * (≤ |groups| × (edges+1) longs — the calibrated-alphabet bound)
    * and after every micro-batch replays the batch fold over it:
    * exact BIGINT 2·midranks from the sorted bucket totals, each
    * group's H contribution the SAME IEEE double text floor-quantized
    * at 1e6 and summed as a Long (order-free — the cramers_v Σ rule),
    * tie correction from exact t³−t, the n ≥ 2 / corr > 0 guards.
    * Histogram adds are commutative, so arrival order and batching
    * never matter. Calibrated at value grain the final score equals
    * the batch query bit-for-bit (spec'd under two batchings); the
    * bucketing runs map-side, the single-group fold touches only the
    * bounded matrix. */
  def kwMonitor(evs: Dataset[AttribEvent], edges: Array[Double],
      groups: Seq[String] = Seq("click", "purchase", "signup", "error"))
      : Dataset[KwScore] = {
    import evs.sparkSession.implicits._
    val grp = groups.toArray
    val sortedEdges = edges.sorted
    def r4(x: Double): Double = math.floor(x * 10000.0 + 0.5) / 10000.0
    val routed = evs.flatMap { e =>
      if (!grp.contains(e.event_type)) Nil
      else {
        val i = java.util.Arrays.binarySearch(sortedEdges, e.value)
        Seq((e.event_type, (if (i >= 0) i + 1 else -i - 1).toLong))
      }
    }
    routed.groupByKey(_ => "kw")
      .flatMapGroupsWithState[KwState, KwScore](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[(String, Long)],
            state: GroupState[KwState]) =>
          var st = state.getOption.getOrElse(
            KwState(Map.empty[String, Map[Long, Long]]))
          rows.foreach { case (g, b) =>
            val h = st.counts.getOrElse(g, Map.empty[Long, Long])
            st = KwState(st.counts +
              (g -> (h + (b -> (h.getOrElse(b, 0L) + 1L)))))
          }
          state.update(st)
          val buckets = st.counts.values.flatMap(_.keys).toSet.toSeq.sorted
          val t = buckets.map(b =>
            b -> st.counts.values.map(_.getOrElse(b, 0L)).sum).toMap
          val n = t.values.sum
          if (n < 2L) Iterator.empty // the batch n >= 2 filter
          else {
            // exact 2*midranks over the sorted bucket grid
            var cum = 0L
            val r2 = scala.collection.mutable.Map[Long, Long]()
            buckets.foreach { b =>
              r2(b) = 2L * cum + t(b) + 1L
              cum += t(b)
            }
            val tsum = buckets.map(b => t(b) * t(b) * t(b) - t(b)).sum
            // per-group H contribution: the batch query's IEEE text,
            // floor-quantized at 1e6 and summed as a Long (order-free)
            var hqs = 0L
            st.counts.values.foreach { hist =>
              val nI = hist.values.sum
              val s2 = hist.map { case (b, c) => c * r2(b) }.sum
              val di = s2.toDouble / (2.0 * nI.toDouble) -
                (n.toDouble + 1.0) / 2.0
              val hi = 12.0 * nI.toDouble * di * di /
                (n.toDouble * (n.toDouble + 1.0))
              hqs += math.floor(hi * 1000000.0).toLong
            }
            val h = hqs.toDouble / 1000000.0
            val corr = 1.0 - tsum.toDouble /
              (n.toDouble * n.toDouble * n.toDouble - n.toDouble)
            Iterator.single(KwScore(st.counts.size.toLong, n, r4(h),
              if (corr > 0.0) Some(r4(h / corr)) else None,
              buckets.size.toLong))
          }
      }
  }

  /** LIVE ONE-WAY-ANOVA MONITOR — q_agg_anova gone online: one state
    * holds per-group EXACT moment triples (count, Σq, Σq²) over the
    * batch query's own 1e4-scaled BIGINT grain, so unlike the KS/KW
    * monitors no calibration alphabet exists at all — the state is
    * 3·|groups| longs and the live score equals the batch query
    * BIT-FOR-BIT at any batching (moment adds are commutative exact
    * integer ops; the replayed fold is the batch query's IEEE text:
    * per-group between-term floor-quantized at 1e6 summed as a Long,
    * SSW from the exact total SS minus the quantized SSB, the
    * n > k / SSW > 0 guards). The per-row decimal scaling uses
    * BigDecimal.valueOf — the same shortest-repr double→DECIMAL(18,4)
    * HALF_UP cast Spark applies in the batch plan. addExact /
    * multiplyExact enforce the documented BIGINT bound instead of
    * silently wrapping (the ksMonitor overflow-guard precedent). */
  def anovaMonitor(evs: Dataset[AttribEvent],
      groups: Seq[String] = Seq("A", "N", "R")): Dataset[AnovaScore] = {
    import evs.sparkSession.implicits._
    val grp = groups.toArray
    def r4(x: Double): Double = math.floor(x * 10000.0 + 0.5) / 10000.0
    val routed = evs.flatMap { e =>
      if (!grp.contains(e.event_type)) Nil
      else {
        val qi = java.math.BigDecimal.valueOf(e.value)
          .setScale(4, java.math.RoundingMode.HALF_UP)
          .movePointRight(4).longValueExact()
        Seq((e.event_type, qi))
      }
    }
    routed.groupByKey(_ => "anova")
      .flatMapGroupsWithState[AnovaState, AnovaScore](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[(String, Long)],
            state: GroupState[AnovaState]) =>
          var st = state.getOption.getOrElse(
            AnovaState(Map.empty, Map.empty, Map.empty))
          rows.foreach { case (g, q) =>
            st = AnovaState(
              st.n + (g -> (st.n.getOrElse(g, 0L) + 1L)),
              st.s + (g -> Math.addExact(st.s.getOrElse(g, 0L), q)),
              st.ssq + (g -> Math.addExact(st.ssq.getOrElse(g, 0L),
                Math.multiplyExact(q, q))))
          }
          state.update(st)
          val n = st.n.values.sum
          if (n == 0L) Iterator.empty
          else {
            val k = st.n.size.toLong
            val t = st.s.values.foldLeft(0L)(Math.addExact)
            val ssqD = st.ssq.values.foldLeft(0L)(Math.addExact).toDouble
            val m = t.toDouble / 10000.0 / n.toDouble
            // the batch query's per-group term, 1e6-floor-quantized and
            // summed as a Long — order-free
            var bqs = 0L
            st.n.keys.foreach { g =>
              val nI = st.n(g)
              val mG = st.s(g).toDouble / 10000.0 / nI.toDouble
              val term = nI.toDouble * (mG - m) * (mG - m)
              bqs = Math.addExact(bqs,
                math.floor(term * 1000000.0).toLong)
            }
            val ssb = bqs.toDouble / 1000000.0
            val tU = t.toDouble / 10000.0
            val sstot = ssqD / 100000000.0 - tU * tU / n.toDouble
            val ssw = sstot - ssb
            val f =
              if (n > k && ssw > 0.0 && k > 1L)
                Some(r4((ssb / (k.toDouble - 1.0)) /
                  (ssw / (n.toDouble - k.toDouble))))
              else None
            Iterator.single(AnovaScore(k, n, r4(ssb), r4(ssw), f))
          }
      }
  }

  /** LIVE COCHRAN–ARMITAGE TREND MONITOR — q_agg_cochran_armitage
    * gone online: the state is the per-hour (total, success) count
    * pair — at most 24 × 2 longs, the alphabet is the CLOCK, so like
    * [[anovaMonitor]] there is nothing to calibrate — and every
    * micro-batch replays the batch query's fixed IEEE text over the
    * five exact sums (N, R, Σsr, Σsn, Σs²n). Hour extraction pins
    * UTC explicitly (the batch plan's session timezone), so routing
    * is machine-independent. Bit-equal to the batch row at any
    * batching (count adds are commutative); overflow guarded by
    * addExact (the ksMonitor precedent). */
  def cochranArmitageMonitor(evs: Dataset[AttribEvent],
      successType: String = "purchase"): Dataset[CaScore] = {
    import evs.sparkSession.implicits._
    def r4(x: Double): Double = math.floor(x * 10000.0 + 0.5) / 10000.0
    val routed = evs.map { e =>
      val h = e.ts.toInstant.atZone(java.time.ZoneOffset.UTC)
        .getHour.toLong
      (h, if (e.event_type == successType) 1L else 0L)
    }
    routed.groupByKey(_ => "ca")
      .flatMapGroupsWithState[CaState, CaScore](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[(Long, Long)],
            state: GroupState[CaState]) =>
          var st = state.getOption.getOrElse(
            CaState(Map.empty, Map.empty))
          rows.foreach { case (h, x) =>
            st = CaState(
              st.n + (h -> (st.n.getOrElse(h, 0L) + 1L)),
              if (x == 0L) st.r
              else st.r + (h -> (st.r.getOrElse(h, 0L) + 1L)))
          }
          state.update(st)
          val n = st.n.values.foldLeft(0L)(Math.addExact)
          if (n == 0L) Iterator.empty
          else {
            val r = st.r.values.foldLeft(0L)(Math.addExact)
            var sr = 0L; var sn = 0L; var snn = 0L
            st.n.keys.foreach { h =>
              val nI = st.n(h)
              val rI = st.r.getOrElse(h, 0L)
              sr = Math.addExact(sr, h * rI)
              sn = Math.addExact(sn, h * nI)
              snn = Math.addExact(snn, h * h * nI)
            }
            // the batch query's IEEE text, verbatim
            val t = (n.toDouble * sr.toDouble -
              r.toDouble * sn.toDouble) / n.toDouble
            val p = r.toDouble / n.toDouble
            val v = p * (1.0 - p) *
              (snn.toDouble - sn.toDouble * sn.toDouble / n.toDouble)
            Iterator.single(CaScore(n, r, r4(t),
              if (v > 0.0) Some(r4(t / math.sqrt(v))) else None))
          }
      }
  }

  /** LIVE SCD2 MAINTAINER — the streaming twin of
    * [[graft.rel.RelationalOps.scd2Build]]: per user, track the open
    * dimension version in state; a state-change CLOSES the open
    * version (emits it with eff_to = change ts, Append mode) and
    * opens the next. Fold order inside each micro-batch is the exact
    * (ts-µs, event_id) batch key; CROSS-batch ordering is the
    * delivery contract (the liveAttribution rule — feed in event-time
    * order or front a watermark buffer). State per user is one open
    * version — bounded, no timeout needed. Spec'd row-equal to the
    * batch build's closed versions on an in-order feed. */
  def scd2Maintain(events: Dataset[Scd2Event]): Dataset[Scd2Version] = {
    import events.sparkSession.implicits._
    def micros(t: java.sql.Timestamp): Long =
      t.getTime / 1000L * 1000000L + t.getNanos / 1000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2Open, Scd2Version](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[Scd2Event],
            state: GroupState[Scd2Open]) =>
          var open = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer[Scd2Version]()
          for (e <- rows.toSeq.sortBy(r => (micros(r.ts), r.event_id))) {
            if (open == null) {
              open = Scd2Open(1L, e.state, e.ts)
            } else if (e.state != open.state) {
              out += Scd2Version(uid, open.version, open.state,
                open.effFrom, e.ts)
              open = Scd2Open(open.version + 1L, e.state, e.ts)
            }
          }
          if (open != null) state.update(open)
          out.iterator
      }
  }

  def budgetAdmit(docs: Dataset[StreamDoc],
      budget: Long): Dataset[AdmittedDoc] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.lang)
      .flatMapGroupsWithState[Long, AdmittedDoc](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (lang: String, rows: Iterator[StreamDoc], state: GroupState[Long]) =>
          var cum = state.getOption.getOrElse(0L)
          val admitted = rows.toSeq.sortBy(_.doc_id).flatMap { d =>
            if (cum + d.n_tok <= budget) {
              cum += d.n_tok
              Some(AdmittedDoc(d.doc_id, lang, d.n_tok, cum))
            } else None
          }
          state.update(cum)
          admitted.iterator
      }
  }

  /** [[budgetAdmit]] re-keyed on SUBWORD counts — the online mixing
    * gate billing in the units the trainer bills: incoming raw
    * documents get their BPE token count MAP-SIDE from the broadcast
    * merges model ([[graft.llm.BpeOps.docSubwordCount]] — literal
    * nested replaces, no join, no extra state), then ride the same
    * per-lang greedy budget fold. The model is trained offline
    * (train-once registry) and carried as plain literals, so the
    * streaming plan stays one stateful operator. */
  def bpeBudgetAdmit(docs: Dataset[RawDoc],
      model: Seq[(String, String)], budget: Long): Dataset[AdmittedDoc] = {
    import docs.sparkSession.implicits._
    budgetAdmit(
      docs.select(col("doc_id"), col("lang"),
        graft.llm.BpeOps.docSubwordCount(col("text"), model).as("n_tok"))
        .as[StreamDoc],
      budget)
  }

  /** [[bpeBudgetAdmit]] at PRODUCTION vocabulary size: the literal
    * replace-fold billing caps at [[graft.llm.BpeOps.FoldDepthLimit]]
    * merges (expression-tree depth), so a 30k-merge tokenizer bills
    * through the broadcast rank-replay instead — one model broadcast
    * per executor, [[graft.llm.BpeOps.tokenizeWord]] per word inside a
    * mapPartitions (vocabulary-size-independent per-word cost), then
    * the same per-lang greedy budget fold. Word extraction mirrors the
    * batch `wordsCol` exactly (`[a-z]+` over the ROOT-lowercased
    * text), and the tokenizer is spec-proven token-identical to the
    * fold, so at the oracle's 10-merge model this operator's output
    * EQUALS [[bpeBudgetAdmit]]'s row-for-row (StreamingSpec twin). */
  def bpeBudgetAdmitProd(docs: Dataset[RawDoc],
      model: Seq[(String, String)], budget: Long): Dataset[AdmittedDoc] = {
    import docs.sparkSession.implicits._
    val pairs = model.toArray
    val bc = docs.sparkSession.sparkContext.broadcast(pairs)
    val wordRe = java.util.regex.Pattern.compile("[a-z]+")
    val counted = docs.mapPartitions { it =>
      val ms = bc.value
      val rank = new java.util.HashMap[String, Integer](ms.length * 2)
      var i = 0
      while (i < ms.length) {
        rank.put(ms(i)._1 + " " + ms(i)._2, Integer.valueOf(i + 1))
        i += 1
      }
      it.map { d =>
        val m = wordRe.matcher(d.text.toLowerCase(java.util.Locale.ROOT))
        var n = 0L
        while (m.find()) {
          n += graft.llm.BpeOps.tokenizeWord(m.group(), ms, rank).length
        }
        StreamDoc(d.doc_id, d.lang, n)
      }
    }
    budgetAdmit(counted, budget)
  }

  /** LIVE `highestCurrent(k)` — the top-k dashboard legend maintained
    * over the stream: per-metric latest value (max_by over event time,
    * value as final tiebreak — [[graft.ts.TimeSeriesOps.rollupLast]]'s
    * discipline) with a global ranked cut, emitted in COMPLETE mode so
    * every micro-batch republishes the full current board. State is one
    * row per metric (MetricCache cardinality); the sort runs over that
    * state, never over raw points. */
  def liveTopK(points: Dataset[Point], k: Int = 3): DataFrame =
    points.toDF()
      .groupBy(col("metric"))
      .agg(max_by(col("value"), struct(col("ts"), col("value")))
        .as("current"),
        max(col("ts")).as("last_ts"))
      .orderBy(col("current").desc, col("metric"))
      .limit(k)

  /** LIVE Holt aberration alerting — the streaming twin of
    * [[graft.ts.TimeSeriesOps.holtAberration]]: per-metric Holt
    * (level, trend, deviation) state advances point by point, each
    * consumed point scored against the PRE-update one-step-ahead band.
    * The update and scoring arithmetic is the identical IEEE double op
    * sequence as the batch fold's lambda text, so on the same in-order
    * series the live alerts equal the batch read bit-exactly (spec'd
    * against a driver reference fold). Contract: within a micro-batch
    * rows consume in (ts, value) order; a point at-or-before the last
    * consumed event-time is DROPPED (the recursion is strictly
    * monotone — replays and duplicates cannot corrupt the state).
    * State per key is five doubles + two longs; keys are metrics —
    * the MetricCache cardinality, RocksDB-backed at production. */
  def holtAlertStream(points: Dataset[Point]): Dataset[HoltAlert] = {
    import points.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    points.groupByKey(_.metric)
      .flatMapGroupsWithState[HoltStreamState, HoltAlert](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (metric: String, rows: Iterator[Point],
            state: GroupState[HoltStreamState]) =>
          var st = state.getOption.getOrElse(
            HoltStreamState(0L, 0.0, 0.0, 0.0, 0.0, Long.MinValue))
          val out = Seq.newBuilder[HoltAlert]
          rows.toSeq.sortBy(p => (p.ts.getTime, p.value)).foreach { p =>
            if (p.ts.getTime > st.lastMs) {
              val ms = p.ts.getTime
              st = st.n match {
                case 0L =>
                  st.copy(n = 1L, firstV = p.value, lastMs = ms)
                case 1L =>
                  // the 2-point seed: lvl = v1, trd = v2 - v1, dev = 0
                  HoltStreamState(2L, st.firstV, p.value - st.firstV, 0.0,
                    st.firstV, ms)
                case _ =>
                  // score against the pre-update state (same op text as
                  // the batch fold: fc = lvl + trd, bands = fc -/+ 3*dev)
                  val fc = st.lvl + st.trd
                  val hi = st.lvl + st.trd + 3.0 * st.dev
                  val lo = st.lvl + st.trd - 3.0 * st.dev
                  val ab =
                    if (p.value > hi) p.value - hi
                    else if (p.value < lo) p.value - lo
                    else 0.0
                  out += HoltAlert(metric, p.ts, p.value, fc, lo, hi, ab)
                  val lvlNew = 0.1 * p.value + 0.9 * (st.lvl + st.trd)
                  val trdNew = 0.01 * (0.1 * p.value + 0.9 * (st.lvl + st.trd)
                    - st.lvl) + 0.99 * st.trd
                  val devNew = 0.1 * math.abs(p.value - (st.lvl + st.trd)) +
                    0.9 * st.dev
                  HoltStreamState(st.n + 1L, lvlNew, trdNew, devNew,
                    st.firstV, ms)
              }
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** LIVE cardinality monitor — per-source approximate distinct
    * document count over the stream (HLL++ via
    * `approx_count_distinct`, the same sketch behind `q_agg_hll`):
    * the "is this feed suddenly all duplicates / suddenly exploding"
    * panel. ONE complete-mode streaming aggregation whose state per
    * source is the fixed-width HLL register set plus two longs —
    * bounded regardless of corpus size, which is the whole point: an
    * exact streaming distinct would grow state with every new content
    * hash forever. Emits n_docs, the distinct estimate, and the
    * apparent duplication ratio. */
  def cardinalityMonitor(docs: DataFrame): DataFrame =
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        approx_count_distinct(col("content_key")).as("approx_distinct"))

  /** LIVE heavy hitters — the streaming twin of the native
    * `heavy_hitters` aggregate ([[graft.functions.MisraGries]] is the
    * SHARED kernel, so the two surfaces cannot drift): per-language
    * Misra–Gries summary held as explicit state (bounded at `capacity`
    * entries per key — never the vocabulary), the ranked top-k legend
    * re-emitted each micro-batch in Update mode. Within a micro-batch
    * tokens fold in arrival order; like partition order in the batch
    * aggregate, the order can shift ESTIMATES once a summary
    * overflows, while the MG guarantees (never overcounts, undercount
    * ≤ n/(capacity+1)) hold for every order. */
  def heavyHittersStream(toks: Dataset[LangToken], capacity: Int = 1024,
      k: Int = 10): Dataset[HotToken] = {
    import toks.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    toks.groupByKey(_.lang)
      .flatMapGroupsWithState[Map[String, Long], HotToken](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (lang: String, rows: Iterator[LangToken],
            state: GroupState[Map[String, Long]]) =>
          val buf = scala.collection.mutable.HashMap.empty[String, Long]
          state.getOption.foreach(_.foreach { case (t, c) => buf(t) = c })
          rows.foreach(t =>
            graft.functions.MisraGries.observe(buf, t.token, capacity))
          state.update(buf.toMap)
          graft.functions.MisraGries.topK(buf, k).zipWithIndex.map {
            case ((tok, est), i) => HotToken(lang, (i + 1).toLong, tok, est)
          }.iterator
      }
  }

  /** LIVE COUNT–MIN SKETCH per language — the streaming twin of the
    * `cm_sketch` aggregate, SHARING [[graft.functions.CountMin]] (the
    * MisraGries kernel discipline: one implementation, two surfaces
    * that cannot drift). State per key is the fixed depth×width grid;
    * each micro-batch folds its tokens in and republishes the
    * serialized sketch, so a serving layer probes the LATEST row with
    * `cm_query` for any key — including ones chosen after ingestion.
    * Because CMS merge/update is pure commutative counter addition,
    * the live grid after any prefix of batches is BYTE-IDENTICAL to
    * the batch aggregate over the same rows (spec-asserted) — a
    * stronger twin guarantee than MG's, whose summary is
    * consume-order-dependent. */
  def cmSketchStream(toks: Dataset[LangToken], depth: Int = 4,
      width: Int = 256): Dataset[LangSketch] = {
    import toks.sparkSession.implicits._
    toks.groupByKey(_.lang)
      .mapGroupsWithState[Array[Long], LangSketch](
        GroupStateTimeout.NoTimeout()) {
        (lang: String, rows: Iterator[LangToken],
            state: GroupState[Array[Long]]) =>
          val buf = state.getOption.getOrElse(new Array[Long](depth * width))
          rows.foreach(t =>
            graft.functions.CountMin.observe(buf, depth, width, t.token))
          state.update(buf)
          LangSketch(lang, graft.functions.CountMin.serialize(buf, depth,
            width))
      }
  }

  /** STREAMING CONTAMINATION GATE — the serve side of
    * [[graft.llm.TextOps.decontaminateBloom]]'s build/serve split (the
    * s_ann_probe pattern applied to eval leakage): the benchmark's
    * 5-gram bloom compiles OFFLINE (sketch-sized bytes ride into the
    * plan as a literal — no broadcast of the gram set, no stream
    * state), and each arriving document explodes to 5-grams and emits
    * its bloom-suspect grams Append-mode, fully stateless map-side.
    * Downstream an exact batch join confirms (bloom guarantees no
    * false NEGATIVES, so nothing contaminated slips through the gate).
    * Spec: the stream's suspect set equals the batch pre-gate on the
    * same docs — deterministic because both sides share the identical
    * bloom bytes and xxhash64. */
  def contaminationGate(docs: Dataset[RawDoc],
      bloom: Array[Byte]): DataFrame = {
    docs.toDF()
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .where(size(col("tk")) >= 5)
      .select(col("doc_id"),
        explode(expr(graft.llm.TextOps.ngramExpr("tk", 5))).as("g5"))
      .where(graft.functions.MightContain(lit(bloom), xxhash64(col("g5"))))
  }

  /** STREAMING MATTR QUALITY GATE — [[graft.llm.TextOps.mattr]] gone
    * online as an ingest-time low-diversity filter (template spam and
    * keyword stuffing read MATTR well under natural prose): each
    * arriving document computes its own moving-average type-token
    * ratio LOCALLY (the batch query's prev-occurrence clamp walk — a
    * per-doc O(tokens) fold, no window, no state, no shuffle) and is
    * flagged when mattr < `minMattr`. Fully STATELESS map-side Append
    * mode; batch and stream emit bit-identical scores because the
    * walk is a pure function of the document (spec'd equal to the
    * batch query's rounded values under two batchings). */
  def mattrGate(docs: Dataset[RawDoc], minMattr: Double = 0.6,
      w: Int = 20): DataFrame = {
    import docs.sparkSession.implicits._
    docs.map { doc =>
      val ws = doc.text.split(" ")
      val n = ws.length.toLong
      val prev = scala.collection.mutable.HashMap.empty[String, Long]
      var news = 0L
      var types = 0L
      var p = 1L
      ws.foreach { tok =>
        val pr = prev.getOrElse(tok, 0L)
        if (pr == 0L) types += 1
        val lo = math.max(math.max(p - (w - 1), pr + 1), 1L)
        val hi = math.min(p, n - (w - 1))
        news += math.max(hi - lo + 1, 0L)
        prev(tok) = p
        p += 1
      }
      val m = if (n >= w)
        math.floor(news.toDouble / (w.toDouble * (n - (w - 1)).toDouble)
          * 10000.0 + 0.5) / 10000.0
      else math.floor(types.toDouble / n.toDouble * 10000.0 + 0.5) / 10000.0
      (doc.doc_id, n, m, m < minMattr)
    }.toDF("doc_id", "n_tokens", "mattr", "low_diversity")
  }

  /** STREAMING SELF-REPETITION GATE — [[graft.llm.TextOps
    * .selfRepetition]] gone online: each arriving document runs the
    * O(n) suffix-automaton longest-repeated-substring walk LOCALLY
    * (pure function of the document — no window, no state, no
    * shuffle) and is flagged when the repeated block covers ≥ 20% of
    * the text (the exact integer 5·lrs ≥ n test, matching the batch
    * query bit-for-bit). Template spam and keyword stuffing repeat
    * long literal blocks; natural prose repeats only short spans.
    * Fully STATELESS map-side Append mode. */
  def selfRepetitionGate(docs: Dataset[RawDoc]): DataFrame = {
    import docs.sparkSession.implicits._
    docs.map { doc =>
      val n = doc.text.length.toLong
      val lrs = graft.llm.TextOps.lrsLen(doc.text).toLong
      val ratio =
        if (n > 0L)
          math.floor(lrs.toDouble / n.toDouble * 10000.0 + 0.5) / 10000.0
        else 0.0
      (doc.doc_id, n, lrs, ratio, lrs * 5L >= n && n > 0L)
    }.toDF("doc_id", "n_chars", "lrs_len", "lrs_ratio", "repetitive")
  }

  /** LIVE EMBEDDING-DRIFT MONITOR — the streaming twin of
    * [[graft.llm.VectorOps.embedDrift]] under the frozen-warmup
    * pattern shared with [[cusumAlertStream]]: a label's FIRST
    * micro-batch freezes as its reference centroid (no stream has the
    * batch read's whole-corpus split), later batches accumulate the
    * current cohort, and each emits the centroid cosine vs the
    * reference. The same quantized-sum discipline as the batch twin —
    * floor(v·10⁶) BIGINT per-dim sums, so state is exact integers
    * (replays cannot drift it) and the cosine is one IEEE formula per
    * emission. State per label: 2·dims longs; keying by label shards
    * the monitor across the cluster. */
  def embedDriftStream(rows: Dataset[LabeledVec]): Dataset[DriftScore] = {
    import rows.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    def qsum(acc: Array[Long], v: Array[Float]): Unit = {
      var i = 0
      while (i < v.length && i < acc.length) {
        acc(i) += math.floor(v(i).toDouble * 1000000.0).toLong
        i += 1
      }
    }
    def cosine(a: Array[Long], b: Array[Long]): Double = {
      var ab = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
      while (i < a.length) {
        ab += a(i).toDouble * b(i).toDouble
        aa += a(i).toDouble * a(i).toDouble
        bb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      if (aa == 0.0 || bb == 0.0) 0.0
      else ab / (math.sqrt(aa) * math.sqrt(bb))
    }
    rows.groupByKey(_.label)
      .flatMapGroupsWithState[DriftState, DriftScore](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (label: Int, it: Iterator[LabeledVec],
            state: GroupState[DriftState]) =>
          val batch = it.toArray
          val dims = state.getOption.map(_.ref.length)
            .orElse(batch.headOption.map(_.embedding.length)).getOrElse(0)
          state.getOption match {
            case None =>
              val ref = new Array[Long](dims)
              batch.foreach(r => qsum(ref, r.embedding))
              state.update(DriftState(ref, batch.length.toLong,
                new Array[Long](dims), 0L))
              Iterator.empty // the calibration batch is silent
            case Some(s) =>
              batch.foreach(r => qsum(s.cur, r.embedding))
              val upd = s.copy(nCur = s.nCur + batch.length)
              state.update(upd)
              Iterator.single(DriftScore(label, upd.nRef, upd.nCur,
                cosine(upd.ref, upd.cur)))
          }
      }
  }

  /** LIVE CUSUM changepoint alerting — the online analog of
    * [[graft.ts.TimeSeriesOps.cusum]] (Page 1954). The batch read
    * centers on the FULL-series mean, which no stream has; the honest
    * online variant freezes the reference after a `warmup`-point
    * learning phase (the standard in-control calibration) and then
    * runs the identical multiplied-through recursion in EXACT BIGINT:
    * ys = 1e4-quantized value (the same half-up decimal quantization
    * as the batch fold), target T = Σ warmup ys, state
    * S ← max(0, S + warmup·ys − T) (scale warmup·1e4 — integer, so
    * replays/restarts cannot drift it), alarm while S exceeds
    * `thresholdUnits` value units. Monotone-clock guard and in-batch
    * (ts, value) consume order as [[holtAlertStream]]. State per key:
    * five longs; warmup points emit nothing (the calibration window is
    * silent by definition). */
  def cusumAlertStream(points: Dataset[Point], warmup: Int = 24,
      thresholdUnits: Long = 10L): Dataset[CusumAlert] = {
    import points.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    points.groupByKey(_.metric)
      .flatMapGroupsWithState[CusumStreamState, CusumAlert](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (metric: String, rows: Iterator[Point],
            state: GroupState[CusumStreamState]) =>
          var st = state.getOption.getOrElse(
            CusumStreamState(0L, 0L, 0L, 0L, Long.MinValue))
          val out = Seq.newBuilder[CusumAlert]
          rows.toSeq.sortBy(p => (p.ts.getTime, p.value)).foreach { p =>
            if (p.ts.getTime > st.lastMs) {
              val ys = (BigDecimal(p.value)
                .setScale(4, BigDecimal.RoundingMode.HALF_UP) * 10000)
                .toLongExact
              st = if (st.n < warmup) {
                st.copy(n = st.n + 1L, warmSum = st.warmSum + ys,
                  lastMs = p.ts.getTime)
              } else {
                val sNew = math.max(0L, st.s + warmup * ys - st.warmSum)
                val fired = sNew > thresholdUnits * warmup * 10000L
                out += CusumAlert(metric, p.ts, p.value,
                  sNew.toDouble / (warmup * 10000L), fired)
                st.copy(n = st.n + 1L, s = sNew,
                  alarms = st.alarms + (if (fired) 1L else 0L),
                  lastMs = p.ts.getTime)
              }
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** [[holtAlertStream]] hardened for AT-LEAST-ONCE sources: exact
    * (metric, ts) redeliveries are dropped by watermark-bounded dedup
    * state (`dropDuplicatesWithinWatermark`) BEFORE the Holt recursion.
    * The recursion's own monotone-clock guard already ignores stale
    * arrivals, so correctness is unchanged — what this buys is the
    * operational posture: replayed deliveries never reach (or wake) the
    * per-metric fold, and the dedup map EXPIRES with the watermark
    * instead of relying solely on the per-key clock. In-horizon
    * duplicates die in the dedup state; out-of-horizon replays still
    * die on the monotone clock. */
  def holtAlertDeduped(points: Dataset[Point],
      delay: String = "10 minutes"): Dataset[HoltAlert] = {
    import points.sparkSession.implicits._
    holtAlertStream(points
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("metric", "ts")
      .as[Point])
  }

  /** R10/R15 live last-value cache per metric, as explicit state:
    * arbitrary stateful op via mapGroupsWithState. The state store IS
    * the MetricCache. */
  def statefulLast(points: Dataset[Point]): Dataset[LastValue] = {
    import points.sparkSession.implicits._
    points
      .groupByKey(_.metric)
      .mapGroupsWithState[LastValue, LastValue](
        GroupStateTimeout.NoTimeout()) {
        (metric: String, rows: Iterator[Point], state: GroupState[LastValue]) =>
          val prev = state.getOption
          var best = prev.map(lv => Point(metric, lv.ts, lv.value))
          var n = prev.map(_.n_updates).getOrElse(0L)
          rows.foreach { p =>
            n += 1
            if (best.forall(b => p.ts.compareTo(b.ts) >= 0)) best = Some(p)
          }
          val out = LastValue(metric, best.get.ts, best.get.value, n)
          state.update(out)
          out
      }
  }

  /** Explicit sessionization with EVENT-TIME TIMEOUT — the MetricCache
    * drain-by-age policy (R10) as arbitrary state: a session closes
    * either when a later point arrives beyond the gap, or when the
    * WATERMARK passes end+gap with no successor (flatMapGroupsWithState
    * emits it from the timeout branch — something session_window's
    * built-in agg also does, but here the state transition is ours). */
  def sessionize(points: Dataset[Point], gapSeconds: Long = 30,
      lateness: String = "10 minutes"): Dataset[SessionSummary] = {
    import points.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val gapMs = gapSeconds * 1000L
    points
      .withWatermark("ts", lateness)
      .groupByKey(_.metric)
      .flatMapGroupsWithState[SessionState, SessionSummary](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (metric: String, rows: Iterator[Point], state: GroupState[SessionState]) =>
          def close(s: SessionState) = SessionSummary(metric,
            new java.sql.Timestamp(s.startMs), new java.sql.Timestamp(s.endMs),
            s.n, s.sum)
          if (state.hasTimedOut) {
            val out = state.getOption.map(close).iterator
            state.remove()
            out
          } else {
            val sorted = rows.toArray.sortBy(_.ts.getTime)
            var cur = state.getOption
            val closed = Seq.newBuilder[SessionSummary]
            sorted.foreach { p =>
              val t = p.ts.getTime
              cur match {
                case Some(s) if t - s.endMs <= gapMs =>
                  cur = Some(SessionState(s.startMs, math.max(s.endMs, t),
                    s.n + 1, s.sum + p.value))
                case Some(s) =>
                  closed += close(s)
                  cur = Some(SessionState(t, t, 1, p.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, p.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.endMs + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** LIVE FUNNEL — the streaming twin of the batch conversion funnel
    * ([[graft.ts.TimeSeriesOps.funnel]]): per user, the first view
    * anchors stage 1, the first click AT OR AFTER it stage 2, the first
    * purchase at or after that stage 3 (same-instant events convert,
    * matching the batch `>=`). Each stage advance emits an Append row;
    * when the watermark passes last activity + the idle horizon the
    * journey closes (one `closed = true` row at its final depth) and
    * state is evicted.
    *
    * Semantics contract (spec'd): consuming each user's events in
    * event-time order reproduces the batch funnel EXACTLY — rows are
    * sorted (ts, stage-rank) within every micro-batch, and same-ts
    * events process view→click→purchase so `>=` anchoring matches the
    * batch chain; across batches a regressive arrival (ts < last
    * consumed) is dropped, the same replay guard as the Holt/CUSUM
    * lives — so batch equality REQUIRES per-user in-order delivery
    * across micro-batches (see [[liveAttribution]]'s delivery-order
    * contract; the twin specs feed per-user-ordered batches, and a
    * source that reorders a user across batches needs user_id-keyed
    * partitioning upstream or the buffer-to-watermark mechanism
    * [[liveAttributionBuffered]] demonstrates, applied to this fold).
    * State exists only for users with an anchored view and is
    * three longs, watermark-bounded — at 100 TB/day the state store
    * holds one small fixed-size record per ACTIVE funnel entrant, not
    * per event. */
  def liveFunnel(events: Dataset[FunnelEvent], lateness: String = "10 minutes",
      idleSeconds: Long = 3600L): Dataset[FunnelHit] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val idleMs = idleSeconds * 1000L
    val stageRank = Map("view" -> 0, "click" -> 1, "purchase" -> 2)
    def depth(s: FunnelProgress): (Long, String, Long) =
      if (s.purchaseMs >= 0) (3L, "purchase", s.purchaseMs)
      else if (s.clickMs >= 0) (2L, "click", s.clickMs)
      else (1L, "view", s.viewMs)
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelProgress, FunnelHit](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[FunnelEvent],
            state: GroupState[FunnelProgress]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map { s =>
              val (d, name, ms) = depth(s)
              FunnelHit(uid, d, name, new java.sql.Timestamp(ms),
                closed = true)
            }.iterator
            state.remove()
            out
          } else {
            val sorted = rows.toArray.sortBy(e =>
              (e.ts.getTime, stageRank.getOrElse(e.event_type, 3)))
            var s = state.getOption.getOrElse(FunnelProgress(-1L, -1L, -1L,
              Long.MinValue))
            val hits = Seq.newBuilder[FunnelHit]
            sorted.foreach { e =>
              val t = e.ts.getTime
              if (t >= s.lastMs) {
                e.event_type match {
                  case "view" if s.viewMs < 0 =>
                    s = s.copy(viewMs = t)
                    hits += FunnelHit(uid, 1L, "view", e.ts, closed = false)
                  case "click" if s.viewMs >= 0 && s.clickMs < 0 &&
                      t >= s.viewMs =>
                    s = s.copy(clickMs = t)
                    hits += FunnelHit(uid, 2L, "click", e.ts, closed = false)
                  case "purchase" if s.clickMs >= 0 && s.purchaseMs < 0 &&
                      t >= s.clickMs =>
                    s = s.copy(purchaseMs = t)
                    hits += FunnelHit(uid, 3L, "purchase", e.ts,
                      closed = false)
                  case _ => ()
                }
                s = s.copy(lastMs = math.max(s.lastMs, t))
              }
            }
            if (s.viewMs >= 0) { // stage-0 users never occupy the store
              state.update(s)
              state.setTimeoutTimestamp(
                math.max(s.lastMs + idleMs, state.getCurrentWatermarkMs() + 1L))
            }
            hits.result().iterator
          }
      }
  }

  /** LIVE LAST-TOUCH ATTRIBUTION — the streaming twin of the batch
    * window read ([[graft.ts.TimeSeriesOps.attribution]]): every
    * purchase emits one Append row attributed to the user's most recent
    * PRIOR touch (click or view) under the batch's exact (ts, event_id)
    * tie order — the event id rides along so a same-instant touch counts
    * iff its id sorts before the purchase's, just as the batch's
    * strictly-before window frame decides it. State per user is one
    * (touch, ts, id) record; regressive arrivals (before the consumption
    * frontier) are dropped — the replay guard shared with
    * [[liveFunnel]] — and idle users evict by event-time timeout.
    * Spec'd as a twin: per-touch counts and value sums on the real
    * events table EQUAL the batch attribution rollup.
    *
    * DELIVERY-ORDER CONTRACT: the batch-twin equality holds only when
    * each user's events arrive in event-time order ACROSS micro-batches
    * (within a batch they are sorted here). A late-but-inside-watermark
    * touch landing in a LATER micro-batch than an already-consumed
    * purchase sorts before the consumption frontier and is dropped by
    * the replay guard — the stream then under-attributes relative to
    * the batch window read. Producers that can reorder a user across
    * batches (multi-partition keys without user_id partitioning) need a
    * per-user partitioned source, or [[liveAttributionBuffered]] — the
    * buffer-to-watermark variant that holds events in state until the
    * watermark passes before folding, trading one watermark of latency
    * for exact out-of-order tolerance (spec'd on the exact feed where
    * this eager operator diverges). */
  def liveAttribution(events: Dataset[AttribEvent],
      lateness: String = "10 minutes",
      idleSeconds: Long = 3600L): Dataset[AttributedPurchase] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val idleMs = idleSeconds * 1000L
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TouchState, AttributedPurchase](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[AttribEvent],
            state: GroupState[TouchState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toArray.sortBy(e => (e.ts.getTime, e.event_id))
            var s = state.getOption.getOrElse(
              TouchState("none", Long.MinValue, Long.MinValue))
            val out = Seq.newBuilder[AttributedPurchase]
            sorted.foreach { e =>
              val t = e.ts.getTime
              if (t > s.lastMs || (t == s.lastMs && e.event_id > s.lastId)) {
                e.event_type match {
                  case "click" | "view" =>
                    s = TouchState(e.event_type, t, e.event_id)
                  case "purchase" =>
                    out += AttributedPurchase(uid, e.event_id, s.touch,
                      e.value)
                    s = s.copy(lastMs = t, lastId = e.event_id)
                  case _ => () // batch filters to these 3 types; mirror it
                }
              }
            }
            state.update(s)
            state.setTimeoutTimestamp(
              math.max(s.lastMs + idleMs, state.getCurrentWatermarkMs() + 1L))
            out.result().iterator
          }
      }
  }

  /** BUFFER-TO-WATERMARK funnel — [[liveFunnel]]'s anchoring with the
    * delivery-order contract removed ([[liveAttributionBuffered]]'s
    * mechanism applied to the view→click→purchase fold): events park
    * per user until the watermark passes them, then fold in exact
    * (ts, stage-rank) order — a view arriving in a LATER micro-batch
    * than the click it anchors still builds the journey. Stage
    * advances emit once released; an idle drained user closes at its
    * final depth and evicts, exactly as the eager operator does. */
  def liveFunnelBuffered(events: Dataset[FunnelEvent],
      lateness: String = "10 minutes",
      idleSeconds: Long = 3600L): Dataset[FunnelHit] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val idleMs = idleSeconds * 1000L
    val stageRank = Map("view" -> 0, "click" -> 1, "purchase" -> 2)
    def depth(s: FunnelBufState): (Long, String, Long) =
      if (s.purchaseMs >= 0) (3L, "purchase", s.purchaseMs)
      else if (s.clickMs >= 0) (2L, "click", s.clickMs)
      else (1L, "view", s.viewMs)
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelBufState, FunnelHit](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[FunnelEvent],
            state: GroupState[FunnelBufState]) =>
          val wm = state.getCurrentWatermarkMs()
          var s = state.getOption.getOrElse(
            FunnelBufState(Nil, -1L, -1L, -1L, Long.MinValue))
          val all = s.pending ++ rows.toSeq
          val (ready, hold) = all.partition(_.ts.getTime <= wm)
          val hits = Seq.newBuilder[FunnelHit]
          ready.sortBy(e =>
            (e.ts.getTime, stageRank.getOrElse(e.event_type, 3)))
            .foreach { e =>
              val t = e.ts.getTime
              e.event_type match {
                case "view" if s.viewMs < 0 =>
                  s = s.copy(viewMs = t)
                  hits += FunnelHit(uid, 1L, "view", e.ts, closed = false)
                case "click" if s.viewMs >= 0 && s.clickMs < 0 &&
                    t >= s.viewMs =>
                  s = s.copy(clickMs = t)
                  hits += FunnelHit(uid, 2L, "click", e.ts, closed = false)
                case "purchase" if s.clickMs >= 0 && s.purchaseMs < 0 &&
                    t >= s.clickMs =>
                  s = s.copy(purchaseMs = t)
                  hits += FunnelHit(uid, 3L, "purchase", e.ts,
                    closed = false)
                case _ => ()
              }
              s = s.copy(lastMs = math.max(s.lastMs, t))
            }
          s = s.copy(pending = hold)
          val anchored = s.viewMs >= 0
          if (state.hasTimedOut && hold.isEmpty &&
              s.lastMs != Long.MinValue && s.lastMs + idleMs <= wm) {
            if (anchored) {
              val (d, name, ms) = depth(s)
              hits += FunnelHit(uid, d, name, new java.sql.Timestamp(ms),
                closed = true)
            }
            state.remove()
          } else if (anchored || hold.nonEmpty) {
            state.update(s)
            state.setTimeoutTimestamp(
              if (hold.nonEmpty) wm + 1L
              else math.max(s.lastMs + idleMs, wm + 1L))
          } else {
            // stage-0 user with nothing pending: never occupies the store
            state.remove()
          }
          hits.result().iterator
      }
  }

  /** BUFFER-TO-WATERMARK attribution — [[liveAttribution]]'s
    * delivery-order contract REMOVED at the price of one watermark of
    * latency: arriving events park in per-user state until the
    * watermark passes them, then fold in exact (ts, event_id) order —
    * so a late-but-inside-watermark touch landing in a LATER
    * micro-batch than a not-yet-folded purchase still attributes
    * correctly under ANY cross-batch reordering (the exact case the
    * eager operator's replay guard drops). The fold itself is the
    * identical last-touch recursion; only events later than the
    * watermark allows are ever lost, which is the watermark's own
    * documented contract. State is the folded record plus ≤ one
    * watermark window of pending events per user — bounded by
    * construction; a user with pending events re-arms an event-time
    * timeout at watermark+1 so every watermark advance drains what it
    * has released, new input or not; an idle drained user evicts.
    * Spec'd: cross-batch out-of-order delivery equals the batch
    * attribution where [[liveAttribution]] demonstrably diverges. */
  def liveAttributionBuffered(events: Dataset[AttribEvent],
      lateness: String = "10 minutes",
      idleSeconds: Long = 3600L): Dataset[AttributedPurchase] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val idleMs = idleSeconds * 1000L
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TouchBufState, AttributedPurchase](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[AttribEvent],
            state: GroupState[TouchBufState]) =>
          val wm = state.getCurrentWatermarkMs()
          var s = state.getOption.getOrElse(
            TouchBufState(Nil, "none", Long.MinValue, Long.MinValue))
          val all = s.pending ++ rows.toSeq
          val (ready, hold) = all.partition(_.ts.getTime <= wm)
          val out = Seq.newBuilder[AttributedPurchase]
          ready.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val t = e.ts.getTime
            if (t > s.lastMs || (t == s.lastMs && e.event_id > s.lastId)) {
              e.event_type match {
                case "click" | "view" =>
                  s = s.copy(touch = e.event_type, lastMs = t,
                    lastId = e.event_id)
                case "purchase" =>
                  out += AttributedPurchase(uid, e.event_id, s.touch,
                    e.value)
                  s = s.copy(lastMs = t, lastId = e.event_id)
                case _ => () // batch filters to these 3 types; mirror it
              }
            }
          }
          s = s.copy(pending = hold)
          if (state.hasTimedOut && hold.isEmpty &&
              s.lastMs + idleMs <= wm) {
            state.remove()
          } else {
            state.update(s)
            // pending events drain at the NEXT watermark advance; a
            // drained user waits out the idle horizon
            state.setTimeoutTimestamp(
              if (hold.nonEmpty) wm + 1L
              else math.max(s.lastMs + idleMs, wm + 1L))
          }
          out.result().iterator
      }
  }

  /** R11 writer loop: micro-batch → aligned rollup rows appended to a
    * parquet table (the `update_many` analog; each batch is one
    * sequential columnar write). Returns the DataStreamWriter-ready
    * function for `.writeStream.foreachBatch(...)`. */
  def rollupBatchWriter(outDir: String, stepSec: Long = 60L)
      : (DataFrame, Long) => Unit = { (batch: DataFrame, batchId: Long) =>
    batch
      .groupBy(col("metric"),
        timestamp_seconds(
          (col("ts").cast("long") / stepSec).cast("long") * stepSec)
          .as("bucket"))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("avg_v"))
      .withColumn("batch_id", lit(batchId))
      .write.mode("append").parquet(outDir)
  }

  /** Hourly PARTIALS of a points frame (metric, ts, value) in the
    * routing-compatible append-mode shape (metric, bucket, sum_v DECIMAL,
    * n, min_v, max_v) — what [[liveRollupWriter]] appends per batch. */
  def hourlyPartials(points: DataFrame): DataFrame =
    points
      .groupBy(col("metric"), date_trunc("hour", col("ts")).as("bucket"))
      .agg(sum(col("value").cast("decimal(18,4)")).as("sum_v"),
        count(lit(1)).as("n"), min(col("value")).as("min_v"),
        max(col("value")).as("max_v"))

  /** The LIVE writer loop, routing-integrated (R11 + SURVEY §8.3
    * freshness): every micro-batch appends [[hourlyPartials]] to
    * `rollupDir` and then re-registers the raw table with the advanced
    * frontier, so concurrent batch reads route the folded interior from
    * the rollup and scan only the still-filling tail raw. A bucket
    * touched by several batches holds several partial rows — the
    * registration is append-mode, every routed read re-aggregates
    * exactly, and `graft.io.Layout.compact` can later fold the partials.
    *
    * ONE write per batch (AQE runs it as two jobs: the aggregate's
    * shuffle, then the write) and nothing else: the batch's max event
    * time is an [[org.apache.spark.sql.Observation]] on the aggregate's
    * input, so it comes out of the write itself (no emptiness probe, no
    * separate max job), and the re-registration hands the catalog the
    * schema just written, so it skips parquet schema inference.
    *
    * The frontier is the max event time folded so far + 1µs, correct
    * when the upstream delivers in event-time order (pair with a
    * watermark + late-drop otherwise — a late point behind the frontier
    * would land in a bucket reads no longer scan raw). The frontier
    * only ADVANCES (monotone max), so a batch of old replayed data
    * cannot regress it.
    *
    * An EMPTY batch (e.g. an all-malformed micro-batch upstream) still
    * runs the write, which appends one schema-only part file (no rows,
    * so reads are unchanged); its observation carries no max (AQE prunes
    * the metrics node: the key is absent, not null), so the frontier
    * stays put and the table is not re-registered. */
  def liveRollupWriter(spark: org.apache.spark.sql.SparkSession,
      rawPath: String, rollupDir: String)
      : (DataFrame, Long) => Unit = {
    val frontier = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    (batch: DataFrame, _: Long) => {
      val obs = org.apache.spark.sql.Observation()
      val partials = hourlyPartials(
        batch.observe(obs, max(expr("unix_micros(ts)")).as("mx")))
      partials.write.mode("append").parquet(rollupDir)
      obs.get.get("mx") match {
        case Some(mx: Long) =>
          val f = math.max(frontier.get, mx + 1L)
          frontier.set(f)
          graft.plans.RollupCatalog.registerTable(spark, rawPath,
            rollupDir, Some(f), appendRollup = true,
            rollupSchema = Some(partials.schema))
        case _ => () // empty batch: absent (or null) max
      }
    }
  }

  /** Stream-stream interval join: purchases enriched with the same
    * user's signups within [p.ts - window, p.ts]. Both sides carry
    * watermarks so the join state is bounded — the streaming form of the
    * as-of read (q_join_asof is the batch twin). */
  def streamStreamAsof(purchases: DataFrame, signups: DataFrame,
      windowSpec: String = "1 hour", lateness: String = "10 minutes",
      joinType: String = "inner"): DataFrame = {
    val p = purchases.withWatermark("ts", lateness)
      .select(col("metric").as("p_metric"), col("ts").as("p_ts"),
        col("value").as("p_value"))
    val s = signups.withWatermark("ts", lateness)
      .select(col("metric").as("s_metric"), col("ts").as("s_ts"))
    p.join(s,
      col("p_metric") === col("s_metric") &&
        col("s_ts") <= col("p_ts") &&
        col("s_ts") >= col("p_ts") - expr(s"INTERVAL $windowSpec"),
      joinType)
  }

  /** LEFT OUTER variant of [[streamStreamAsof]]: unmatched purchases are
    * EMITTED with null signup columns — but only once the watermark has
    * passed their join window, when the engine can prove no matching
    * signup can still arrive (the state-expiry behavior that separates
    * streaming outer joins from inner ones; state stays bounded by the
    * same watermark). */
  def streamStreamAsofOuter(purchases: DataFrame, signups: DataFrame,
      windowSpec: String = "1 hour",
      lateness: String = "10 minutes"): DataFrame =
    streamStreamAsof(purchases, signups, windowSpec, lateness, "left_outer")

  /** FULL OUTER variant: unmatched rows from EITHER stream are emitted
    * with nulls on the other side once the watermark proves no partner
    * can arrive — the reconciliation read (every purchase AND every
    * signup accounted for exactly once). */
  def streamStreamAsofFull(purchases: DataFrame, signups: DataFrame,
      windowSpec: String = "1 hour",
      lateness: String = "10 minutes"): DataFrame =
    streamStreamAsof(purchases, signups, windowSpec, lateness, "full_outer")

  /** General stream-stream INTERVAL join (SURVEY §8 item 6): left rows
    * enriched with same-key right rows inside the SYMMETRIC range
    * [l.ts - before, l.ts + after] — the superset of the as-of family
    * above (as-of = `after` 0). Both sides carry watermarks, so Structured
    * Streaming derives a state-eviction bound for each side from the range
    * condition: a right row can be dropped once the left watermark passes
    * `r.ts + before`, a left row once the right watermark passes
    * `l.ts + after` — state stays bounded at any input rate, which is the
    * property that makes this runnable indefinitely on a real cluster
    * (spec: s_interval_join_eviction proves expired state is gone).
    *
    * Schema-general: `keyCol`/`tsCol`/`payloadCols` name the join key,
    * event-time and carried payload columns (outputs are l_/r_-prefixed).
    * `joinType` accepts the streaming outer variants too — left_outer
    * emits unmatched left rows with null right columns once the
    * watermark proves no partner can arrive (spec:
    * s_interval_join_outer). */
  def streamStreamInterval(left: DataFrame, right: DataFrame,
      before: String = "1 hour", after: String = "1 hour",
      lateness: String = "10 minutes",
      joinType: String = "inner",
      keyCol: String = "metric", tsCol: String = "ts",
      payloadCols: Seq[String] = Seq("value")): DataFrame = {
    // schema-general: any key/event-time column pair plus whatever
    // payload columns each side carries; outputs are l_/r_-prefixed
    def side(df: DataFrame, p: String): DataFrame =
      df.withWatermark(tsCol, lateness)
        .select((Seq(keyCol, tsCol) ++ payloadCols).map(c =>
          col(c).as(s"$p$c")): _*)
    val l = side(left, "l_")
    val r = side(right, "r_")
    l.join(r,
      col(s"l_$keyCol") === col(s"r_$keyCol") &&
        col(s"r_$tsCol") >= col(s"l_$tsCol") - expr(s"INTERVAL $before") &&
        col(s"r_$tsCol") <= col(s"l_$tsCol") + expr(s"INTERVAL $after"),
      joinType)
  }

  /** R15 read-merge: the serving view = flushed storage UNION live
    * not-yet-flushed state (here: the in-memory sink table of a running
    * rollup query vs a batch table). */
  def cacheMerge(disk: DataFrame, live: DataFrame): DataFrame =
    disk.select(col("bucket"), col("metric"), col("n"))
      .withColumn("src", lit("disk"))
      .unionByName(
        live.select(col("bucket"), col("metric"), col("n"))
          .withColumn("src", lit("cache")))
}
