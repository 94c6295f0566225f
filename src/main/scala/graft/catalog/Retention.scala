package graft.catalog

import scala.util.matching.Regex
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Det

/** Rollup aggregation method (kenshin/agg.py [U, SURVEY §2.1 R6]). */
sealed trait AggMethod { def name: String }
object AggMethod {
  case object Average extends AggMethod { val name = "average" }
  case object Sum extends AggMethod { val name = "sum" }
  case object Last extends AggMethod { val name = "last" }
  case object Max extends AggMethod { val name = "max" }
  case object Min extends AggMethod { val name = "min" }
  val all: Seq[AggMethod] = Seq(Average, Sum, Last, Max, Min)
  def of(s: String): AggMethod = all.find(_.name == s).getOrElse(
    throw new IllegalArgumentException(s"unknown agg method: $s"))
}

/** One archive = one resolution tier: `(secondsPerPoint, points)` —
  * retention covers secondsPerPoint × points seconds
  * (`rurouni/storage.py — Archive.fromString` [U]). */
final case class Archive(secondsPerPoint: Long, points: Long) {
  def retentionSeconds: Long = secondsPerPoint * points
}

/** A retention policy: first-regex-match wins, archives ordered highest
  * resolution first — the `storage-schemas.conf` model
  * (`rurouni/storage.py — loadStorageSchemas/Schema.test` [U]).
  * xFilesFactor: minimum fraction of non-null higher-res points for a
  * rollup point to materialize. */
final case class RetentionPolicy(name: String, pattern: Regex,
    archives: Seq[Archive], agg: AggMethod = AggMethod.Average,
    xFilesFactor: Double = 0.5) {
  require(archives.nonEmpty, "policy needs at least one archive")
  require(archives.sliding(2).forall {
    case Seq(a, b) => a.secondsPerPoint < b.secondsPerPoint
    case _ => true
  }, "archives must be ordered highest resolution first")
  require(archives.sliding(2).forall {
    case Seq(a, b) => b.secondsPerPoint % a.secondsPerPoint == 0
    case _ => true
  }, "each archive step must be a multiple of the previous (propagation)")

  def matches(metric: String): Boolean =
    pattern.findFirstIn(metric).isDefined
}

/** The schema catalog: ordered policies, first match wins; a default
  * catch-all is appended (Kenshin requires an explicit default schema —
  * we ship one). */
final case class SchemaCatalog(policies: Seq[RetentionPolicy]) {
  def policyFor(metric: String): RetentionPolicy =
    policies.find(_.matches(metric)).getOrElse(SchemaCatalog.Default)
}

object SchemaCatalog {
  val Default: RetentionPolicy = RetentionPolicy(
    "default", ".*".r, Seq(Archive(60, 60 * 24), Archive(3600, 24 * 30),
      Archive(86400, 365)))

  /** A production-shaped example catalog (10s:12h, 60s:30d, 600s:1y for
    * high-frequency metrics; coarser for the rest). */
  val example: SchemaCatalog = SchemaCatalog(Seq(
    RetentionPolicy("high_freq", "^(cpu|mem|purchase|click)\\..*".r,
      Seq(Archive(10, 4320), Archive(60, 43200), Archive(600, 52560)),
      AggMethod.Average, 0.5),
    RetentionPolicy("counters", ".*\\.(count|sum)$".r,
      Seq(Archive(60, 1440), Archive(3600, 720)), AggMethod.Sum, 0.0),
    Default))
}

/** The archive-selection logic of Kenshin's `fetch` (R4): pick the
  * HIGHEST-RESOLUTION archive whose retention covers the requested
  * range start — generalized to route a query to the right rollup
  * table. This is the "small custom" piece Catalyst doesn't do: an
  * optimizer never knows that `rollup_1h` is derivable from raw, so the
  * routing decision lives at the API layer (SURVEY §4.1).
  *
  * At 100 TB this is the core read-side economy: a 30-day dashboard
  * query scans the 1h rollup (~10^5 rows/metric) instead of raw
  * (~10^8 rows/metric).
  */
object RollupRouter {

  /** Choose the archive for a query window, Kenshin-style: smallest
    * step whose retention reaches back to `fromSecondsAgo`; if none
    * covers it, the coarsest archive (the ring clamps, R9). */
  def selectArchive(policy: RetentionPolicy, fromSecondsAgo: Long): Archive =
    policy.archives.find(_.retentionSeconds >= fromSecondsAgo)
      .getOrElse(policy.archives.last)

  /** Rollup table name for an archive — the materialization the writer
    * (s_foreachbatch_rollup) maintains per resolution. */
  def tableFor(a: Archive): String = s"rollup_${a.secondsPerPoint}s"

  /** The archive-value aggregate for a method, under the [[Det]]
    * determinism discipline: exact decimal accumulation, stored values
    * rounded to 4 decimals — the Spark analog of Kenshin's float32
    * archive cells, and cross-engine-stable for the oracle gate.
    * `last` breaks timestamp ties on the larger value (explicit
    * tiebreak; raw points have no exact-timestamp duplicates). */
  private[graft] def detAgg(m: AggMethod, v: Column, ts: Column): Column =
    m match {
      case AggMethod.Average => Det.avg4(v)
      case AggMethod.Sum => Det.sum4(v)
      case AggMethod.Max => round(max(v), 4)
      case AggMethod.Min => round(min(v), 4)
      case AggMethod.Last => round(max_by(v, struct(ts, v)), 4)
    }

  /** The [from, until] clamp shared by both fetch forms — Kenshin's
    * `Storage.fetch` clamps the read to the requested window
    * (`kenshin/storage.py — Storage.fetch` [U]); without it a "fetch"
    * aggregates the entire history, which is wrong (and unprunable) at
    * any real retention. Bounds are anchored to the table's max ts (the
    * reproducible analog of wall-clock "now" — same anchor as
    * q_ts_retention); the window is the closed interval
    * [now − from, now − until]. The scalar max is a 1-row broadcast; at
    * production scale absolute bounds become date-partition pruning. */
  private def clampWindow(points: DataFrame, selected: DataFrame,
      fromSecondsAgo: Long, untilSecondsAgo: Long): DataFrame = {
    require(untilSecondsAgo >= 0 && untilSecondsAgo < fromSecondsAgo,
      s"bad window: from=-${fromSecondsAgo}s until=-${untilSecondsAgo}s")
    // "now" is the TABLE max, not the matched series' max — one shared
    // clock for every series, like Kenshin's wall-clock anchor
    val now = broadcast(points.agg(max("ts").as("_now")))
    selected.crossJoin(now)
      .where(col("ts") >= col("_now") -
          expr(s"INTERVAL $fromSecondsAgo SECONDS") &&
        col("ts") <= col("_now") -
          expr(s"INTERVAL $untilSecondsAgo SECONDS"))
      .drop("_now")
  }

  /** Build the routed fetch plan over a points DataFrame: clamp to the
    * [from, until] window, align to the selected archive step and
    * aggregate with the policy's method — the batch form of
    * `fetch(metric, from, until)` (R4+R8).
    * `last` uses max_by(value, ts) per R6.
    *
    * `consolidateBy` is Graphite's read-time aggregation override
    * (`graphite-web render/functions.py — consolidateBy` [U]): the
    * archive choice (and thus the step) still follows the POLICY — only
    * the consolidation function applied at read time changes, exactly
    * as graphite-web overrides the series' consolidationFunc without
    * re-selecting the archive. */
  def fetch(points: DataFrame, policy: RetentionPolicy, metric: Column,
      fromSecondsAgo: Long, untilSecondsAgo: Long = 0L,
      consolidateBy: Option[AggMethod] = None): DataFrame = {
    val a = selectArchive(policy, fromSecondsAgo)
    val step = a.secondsPerPoint
    val bucket = timestamp_seconds(
      (col("ts").cast("long") / step).cast("long") * lit(step))
    clampWindow(points, points.where(metric), fromSecondsAgo,
        untilSecondsAgo)
      .groupBy(bucket.as("bucket"))
      .agg(detAgg(consolidateBy.getOrElse(policy.agg), col("value"),
          col("ts")).as("v"),
        count(lit(1)).as("n"))
      .orderBy("bucket")
  }

  /** Multi-series routed fetch: glob-resolve metrics (KenshinFinder,
    * [[MetricGlob]]), clamp to the window, and aggregate per
    * (metric, bucket) at the selected archive's step — the batch form of
    * `fetch(glob, from, until)` over many series at once. One shuffle on
    * (metric, bucket); the glob predicate is pushed into the scan. */
  def fetchSeries(points: DataFrame, policy: RetentionPolicy, glob: String,
      fromSecondsAgo: Long, untilSecondsAgo: Long = 0L): DataFrame = {
    val a = selectArchive(policy, fromSecondsAgo)
    val step = a.secondsPerPoint
    val bucket = timestamp_seconds(
      (col("ts").cast("long") / step).cast("long") * lit(step))
    clampWindow(points,
        points.where(MetricGlob.predicate(col("metric"), glob)),
        fromSecondsAgo, untilSecondsAgo)
      .groupBy(col("metric"), bucket.as("bucket"))
      .agg(detAgg(policy.agg, col("value"), col("ts")).as("v"),
        count(lit(1)).as("n"))
      .orderBy("metric", "bucket")
  }

  /** Archive migration (kenshin-resize, R19 [U `bin/` tools]): re-aggregate
    * an existing rollup table `(metric, bucket, v, n)` to a coarser step.
    * Kenshin-faithful: aggregates the STORED archive values (avg-of-avgs
    * for Average — same as propagation R5), weights counts additively.
    * `newStep` must be a multiple of the table's step (checked by caller
    * via the policy invariants). */
  def resample(rollup: DataFrame, newStepSeconds: Long,
      agg: AggMethod = AggMethod.Average): DataFrame = {
    val bucket = timestamp_seconds(
      (col("bucket").cast("long") / newStepSeconds).cast("long") *
        lit(newStepSeconds))
    rollup
      .groupBy(col("metric"), bucket.as("bucket"))
      .agg(detAgg(agg, col("v"), col("bucket")).as("v"),
        sum(col("n")).as("n"))
      .orderBy("metric", "bucket")
  }

  /** `kenshin-info` analog (R7/R17): human-readable description of a
    * policy — the header a packed Kenshin file would carry. */
  def describe(policy: RetentionPolicy): String = {
    val archives = policy.archives.map(a =>
      s"  ${a.secondsPerPoint}s × ${a.points} pts " +
        s"(retention ${a.retentionSeconds}s → ${tableFor(a)})").mkString("\n")
    s"""policy: ${policy.name}
       |pattern: ${policy.pattern}
       |agg: ${policy.agg.name}  xFilesFactor: ${policy.xFilesFactor}
       |archives (highest resolution first):
       |$archives""".stripMargin
  }
}
