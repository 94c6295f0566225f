package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, FileTable}
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StructType, TimestampType}

/** Plan-level rollup routing — the one piece of Kenshin's read path that
  * Catalyst cannot learn on its own (SURVEY §4.1): that `rollup_1h` is
  * derivable from the raw points table, so an hourly aggregate over raw
  * should READ THE ROLLUP instead of scanning points.
  *
  * [[RollupCatalog.register]] declares "this raw parquet path has an
  * hourly materialized rollup (metric, bucket, sum_v, n, min_v, max_v)";
  * [[RollupRouteRule]] then rewrites any matching
  * `Aggregate(metric, date_trunc('hour', ts), <avg|sum|min|max|count>)`
  * over that scan into a Project over the rollup — at 100 TB that turns
  * a 10^8-row-per-metric scan into a 10^5-row one, the reference's
  * headline read economy. ROLLUP/CUBE/GROUPING SETS over the same two
  * dimensions route too: grouping-set expansion is grain-preserving, so
  * the rewrite replicates ROLLUP PARTIALS per set instead of raw rows.
  *
  * The rule is deliberately conservative: it fires only on the exact
  * supported shape (metric-only and ts-range filters, supported
  * aggregates over the value column, hourly truncation of the scan's own
  * ts column) and leaves every other plan untouched. Every matched
  * metric/ts/value reference is resolved through the collected Project
  * aliases down to an attribute OF THE SCAN ITSELF, so a Project that
  * redefines a column under the same name (`withColumn("value",
  * col("value") * 2)`) aborts the rewrite instead of silently routing to
  * pre-aggregates of the original values. Enable per session with
  * `spark.experimental.extraOptimizations ++= Seq(RollupRouteRule)` (or
  * graft.GraftExtensions at session build).
  */
object RollupCatalog {
  final case class Entry(rawPaths: Set[String], rollup: LogicalPlan,
    completeUntilMicros: Option[Long], appendRollup: Boolean,
    datePartitioned: Boolean = false)
  @volatile private var entries: List[Entry] = Nil

  /** Declare `rollupDf` (schema: metric, bucket, sum_v DECIMAL, n, min_v,
    * max_v) as the hourly rollup of the parquet table at `rawPath`.
    *
    * CONTRACT: the raw table's `value` column must contain no nulls (true
    * of everything the ingest path writes — parseLines/parseFrames drop
    * null values). With nulls, `avg(value)` (null-skipping) and the
    * rewrite's `sum_v / n` (n = all rows) would diverge.
    *
    * `completeUntilMicros` is the FRESHNESS frontier for a rollup the
    * streaming writer is still appending to: the writer has folded every
    * raw point with `ts < completeUntil` (the foreachBatch watermark
    * frontier). Routing then trusts only COMPLETE buckets
    * (bucket + 1h ≤ frontier); everything at or past the frontier's hour
    * floor is served from the raw scan as fringe partials — so a
    * dashboard reading "up to now" stays exact while the current hour is
    * still filling. None (the default) = the rollup is complete.
    *
    * `appendRollup = true` declares an APPEND-MODE rollup (the live
    * writer's shape): a bucket may hold SEVERAL partial rows (one per
    * micro-batch that touched it), so every routed read re-aggregates —
    * the pure one-row-per-bucket projection is reserved for compacted
    * tables. sum_v/n/min_v/max_v are decomposable, so recombination is
    * exact. Re-registering a path REPLACES its entry (the live writer
    * advances the frontier once per batch). */
  def register(rawPath: String, rollupDf: DataFrame,
      completeUntilMicros: Option[Long] = None,
      appendRollup: Boolean = false,
      datePartitioned: Boolean = false): Unit =
    registerPaths(Seq(rawPath), rollupDf, completeUntilMicros, appendRollup,
      datePartitioned)

  /** Multi-path registration — the lakehouse layout where ONE logical
    * table is physically split over several roots (per-shard dirs, a
    * pre/post-migration split, explicit partition-dir lists): `rollupDf`
    * is the rollup of the UNION of `rawPaths`, and a scan routes only
    * when it reads exactly that set (see [[lookup]]).
    *
    * `datePartitioned = true` DECLARES the hive layout contract
    * `<root>/date=YYYY-MM-DD/` where each partition's date is the UTC
    * date of its rows' `ts` — then a scan reading a SUBSET of partition
    * dirs also routes, to the rollup filtered to those days' bucket
    * ranges (see [[lookup]]; sound because hourly buckets never
    * straddle a day). Never inferred from the layout: routing on a
    * guessed partition semantic could silently return wrong data. */
  def registerPaths(rawPaths: Seq[String], rollupDf: DataFrame,
      completeUntilMicros: Option[Long] = None,
      appendRollup: Boolean = false,
      datePartitioned: Boolean = false): Unit = {
    val n = pathSet(rawPaths)
    require(!datePartitioned || n.size == 1,
      "datePartitioned registration requires a single root path")
    entries = Entry(n, rollupDf.queryExecution.analyzed,
      completeUntilMicros, appendRollup, datePartitioned) ::
      entries.filterNot(_.rawPaths == n)
    // a DataFrame-form registration supersedes any table-backed one for
    // the same path set — drop its persistable row, or save() would
    // write the STALE rollup/frontier for other sessions to load
    tableEntries = tableEntries.filterNot(_._1 == n)
  }

  def clear(): Unit = { entries = Nil; tableEntries = Nil }

  // path-based registrations (the persistable form): rawPath set →
  // (rollupPath, frontier, appendRollup). The DataFrame form above
  // stays for ad-hoc plans; only table-backed ones can be saved/loaded.
  @volatile private var tableEntries
    : List[(Set[String], String, Option[Long], Boolean, Boolean)] = Nil

  /** Register a rollup BY ITS TABLE PATH — the persistable form a
    * serving fleet uses: the plan is rebuilt from the path, so the
    * registration can be [[save]]d and [[load]]ed by other sessions.
    *
    * `rollupSchema`, when the caller knows it (a writer that just wrote
    * the table), is handed to the reader, so registration only lists
    * the files and runs no parquet schema-inference job. None (the
    * default) infers it from the footers; [[load]] always does, since a
    * saved catalog carries no schema. Either way the persisted entry is
    * the same. */
  def registerTable(spark: org.apache.spark.sql.SparkSession,
      rawPath: String, rollupPath: String,
      completeUntilMicros: Option[Long] = None,
      appendRollup: Boolean = false,
      datePartitioned: Boolean = false,
      rollupSchema: Option[StructType] = None): Unit =
    registerTablePaths(spark, Seq(rawPath), rollupPath, completeUntilMicros,
      appendRollup, datePartitioned, rollupSchema)

  /** Multi-path variant of [[registerTable]] (see [[registerPaths]]). */
  def registerTablePaths(spark: org.apache.spark.sql.SparkSession,
      rawPaths: Seq[String], rollupPath: String,
      completeUntilMicros: Option[Long] = None,
      appendRollup: Boolean = false,
      datePartitioned: Boolean = false,
      rollupSchema: Option[StructType] = None): Unit = {
    require(rawPaths.forall(!_.contains(PathSep)),
      s"raw paths must not contain '$PathSep' (catalog TSV separator)")
    val reader = rollupSchema.fold(spark.read)(spark.read.schema)
    registerPaths(rawPaths, reader.parquet(rollupPath),
      completeUntilMicros, appendRollup, datePartitioned)
    val n = pathSet(rawPaths)
    tableEntries =
      (n, rollupPath, completeUntilMicros, appendRollup, datePartitioned) ::
        tableEntries.filterNot(_._1 == n)
  }

  /** Persist every table-backed registration as one small TSV
    * (raw<TAB>rollup<TAB>frontierMicros?<TAB>appendRollup) through the
    * Hadoop FileSystem, so it lands wherever the tables live
    * (HDFS/S3/local) and any session can [[load]] it. */
  def save(spark: org.apache.spark.sql.SparkSession, file: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(file)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(tableEntries.reverse.map { case (r, ru, f, a, dp) =>
      s"${r.toSeq.sorted.mkString(PathSep)}\t$ru\t${f.map(_.toString).getOrElse("")}\t$a\t$dp"
    }.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Re-register every entry of a [[save]]d catalog into THIS session.
    * Returns the number of registrations applied. */
  def load(spark: org.apache.spark.sql.SparkSession, file: String): Int = {
    val p = new org.apache.hadoop.fs.Path(file)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val text = try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      Iterator.continually(in.read(chunk)).takeWhile(_ > 0)
        .foreach(n => buf.write(chunk, 0, n))
      new String(buf.toByteArray, "UTF-8")
    } finally in.close()
    val rows = text.split("\n").iterator.filter(_.nonEmpty).map { line =>
      val f = line.split("\t", -1)
      // 4-field lines are pre-datePartitioned catalogs (flag false)
      require(f.length == 4 || f.length == 5, s"bad catalog line: $line")
      (f(0).split(java.util.regex.Pattern.quote(PathSep)).toSeq, f(1),
        if (f(2).isEmpty) None else Some(f(2).toLong), f(3).toBoolean,
        f.length == 5 && f(4).toBoolean)
    }.toList
    rows.foreach { case (raws, rollup, frontier, append, dp) =>
      registerTablePaths(spark, raws, rollup, frontier, append, dp)
    }
    rows.length
  }

  /** VERSIONED catalog commits — the multi-writer metastore discipline
    * on a plain filesystem: each save claims the next version number
    * with a create-EXCLUSIVE lock file (atomic no-overwrite create is
    * the one concurrency primitive HDFS, object-store committers and
    * the local FS all share), writes the full TSV to a temp file, and
    * publishes it with a same-directory rename (readers see
    * old-or-new, never a torn file). A lost claim recomputes against
    * the newer state and retries — optimistic concurrency, no
    * coordinator. Returns the committed version. */
  def saveVersioned(spark: org.apache.spark.sql.SparkSession,
      dir: String, maxAttempts: Int = 10): Long = {
    val d = new org.apache.hadoop.fs.Path(dir)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(d)
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val next = latestVersion(fs, d) + 1
      val lock = new org.apache.hadoop.fs.Path(d, f"catalog_v$next%06d.lock")
      val claimed =
        try { fs.create(lock, false).close(); true }
        catch { case _: java.io.IOException => false }
      if (claimed) {
        val tmp = new org.apache.hadoop.fs.Path(d,
          s".tmp_${java.util.UUID.randomUUID()}")
        save(spark, tmp.toString)
        val dst = new org.apache.hadoop.fs.Path(d, f"catalog_v$next%06d.tsv")
        require(fs.rename(tmp, dst), s"publish failed for $dst")
        return next
      }
    }
    throw new IllegalStateException(
      s"catalog commit lost $maxAttempts claim races in $dir")
  }

  /** Load the HIGHEST committed version from a [[saveVersioned]]
    * directory into this session. Returns (version, registrations) or
    * None when the directory holds no committed catalog yet. */
  def loadLatest(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[(Long, Int)] = {
    val d = new org.apache.hadoop.fs.Path(dir)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(d)) return None
    val v = latestCommitted(fs, d)
    if (v <= 0) None
    else Some((v, load(spark,
      new org.apache.hadoop.fs.Path(d, f"catalog_v$v%06d.tsv").toString)))
  }

  private def versionOf(name: String, suffix: String): Option[Long] =
    if (name.startsWith("catalog_v") && name.endsWith(suffix))
      name.stripPrefix("catalog_v").stripSuffix(suffix).toLongOption
    else None

  /** Highest version CLAIMED (lock or tsv) — what a writer must move
    * past. */
  private def latestVersion(fs: org.apache.hadoop.fs.FileSystem,
      d: org.apache.hadoop.fs.Path): Long =
    fs.listStatus(d).flatMap(s => versionOf(s.getPath.getName, ".lock")
      .orElse(versionOf(s.getPath.getName, ".tsv")))
      .foldLeft(0L)(math.max)

  /** Highest version PUBLISHED (tsv present) — what a reader may load. */
  private def latestCommitted(fs: org.apache.hadoop.fs.FileSystem,
      d: org.apache.hadoop.fs.Path): Long =
    fs.listStatus(d).flatMap(s => versionOf(s.getPath.getName, ".tsv"))
      .foldLeft(0L)(math.max)

  /** A scan is routable only when its root-path SET equals a registered
    * entry's path set exactly (order- and duplicate-insensitive — a
    * multi-root lakehouse table registered via [[registerPaths]] routes
    * however the caller ordered the roots). Proper subsets and supersets
    * both stay raw, for soundness in each direction: a scan reading a
    * SUBSET of the registered roots sees fewer rows than the rollup
    * folded (routing would overcount), and a scan reading extra paths
    * unions rows the rollup never saw (routing would undercount). */
  private[plans] def lookup(paths: Seq[String]): Option[Entry] = {
    val scanned = paths.map(normalize).toSet
    entries.find(_.rawPaths == scanned)
      .orElse(datePartitionLookup(scanned))
  }

  private val DayMicros = 86400L * 1000000L

  /** `date=YYYY-MM-DD` dir name → UTC midnight micros. Strict: anything
    * else (other keys, nested dirs, malformed dates) keeps the raw scan. */
  private def parseDayDir(name: String): Option[Long] =
    if (name.startsWith("date=") && !name.contains("/"))
      try Some(java.time.LocalDate.parse(name.stripPrefix("date="))
        .toEpochDay * DayMicros)
      catch { case _: java.time.format.DateTimeParseException => None }
    else None

  /** Subset reads of a [[registerPaths datePartitioned]] registration:
    * when every scanned root is a direct `date=YYYY-MM-DD` child of the
    * entry's single root, serve the scan from the rollup FILTERED to
    * those days' bucket ranges — `bucket ∈ [d, d+1d)` per day, plain
    * timestamp comparisons (no truncation, so no timezone dependence
    * beyond the declared UTC-date contract). Exact: an hourly bucket
    * lies inside [d, d+1d) iff every raw `ts` it folded does. The
    * synthesized entry carries the frontier/append flags through, so
    * freshness fringes and append-mode re-aggregation behave as for a
    * whole-table read. */
  private def datePartitionLookup(scanned: Set[String]): Option[Entry] = {
    if (scanned.isEmpty) return None
    entries.iterator
      .filter(e => e.datePartitioned && e.rawPaths.size == 1)
      .flatMap { e =>
        val root = e.rawPaths.head + "/"
        val days = scanned.toSeq.map(p =>
          if (p.startsWith(root)) parseDayDir(p.stripPrefix(root)) else None)
        if (days.exists(_.isEmpty)) None
        else e.rollup.output.find(_.name == "bucket").map { bucket =>
          val pred = days.flatten.distinct.sorted.map { d =>
            And(GreaterThanOrEqual(bucket, Literal(d, TimestampType)),
              LessThan(bucket, Literal(d + DayMicros, TimestampType)))
          }.reduce[Expression](Or)
          e.copy(rollup = Filter(pred, e.rollup))
        }
      }.nextOption()
  }

  /** TSV separator for multi-path table entries ('|' never appears in
    * sane table URIs; [[registerTablePaths]] rejects paths carrying it). */
  private val PathSep = "|"

  private def pathSet(ps: Seq[String]): Set[String] = {
    require(ps.nonEmpty, "at least one raw path required")
    ps.map(normalize).toSet
  }

  private def normalize(p: String): String =
    p.stripPrefix("file:").replaceAll("/+$", "")
}

object RollupRouteRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(groupings, aggExprs, expand: Expand, _) =>
      rewriteGroupingSets(groupings, aggExprs, expand).getOrElse(agg)
    case agg @ Aggregate(groupings, aggExprs, child, _) =>
      rewrite(agg, groupings, aggExprs, child)
        .orElse(rewriteUnion(groupings, aggExprs, child))
        .getOrElse(agg)
  }

  // grains the hourly rollup can serve: its own, plus any calendar
  // grain no hour boundary straddles (re-aggregated)
  private val Coarser = Set("day", "week", "month", "quarter", "year")
  private val HourMicros = 3600L * 1000000L
  private val PartialDec = DecimalType(28, 4)

  /** The two scan shapes the routing serves: a v1 file relation and a
    * DataSourceV2 file table (what `spark.sql.sources.useV1SourceList`
    * without "parquet" — or any DSv2 file catalog — plans). The rule
    * runs in the operator-optimization batch, BEFORE
    * V2ScanRelationPushDown builds a DataSourceV2ScanRelation, so the
    * DSv2 node still carries its full filter/project surroundings (a
    * post-pushdown scan may have absorbed filters the rewrite could no
    * longer see, so it is deliberately NOT matched). */
  private def asScan(plan: LogicalPlan)
      : Option[(LogicalPlan, Seq[Attribute], Seq[String])] = plan match {
    case lr @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      Some((lr, lr.output, fs.location.rootPaths.map(_.toString)))
    case dv2 @ DataSourceV2Relation(ft: FileTable, _, _, _, _, _) =>
      Some((dv2, dv2.output, ft.fileIndex.rootPaths.map(_.toString)))
    case _ => None
  }

  /** Walk transparent Projects down to the scan, accumulating alias
    * definitions (the optimizer's PullOutGroupingExpressions hoists
    * `date_trunc` into a `_groupingexpression` alias below the
    * Aggregate) and every filter conjunct on the way. Classification of
    * the conjuncts (metric selection / ts range / anything else →
    * abort) happens later, once the full alias map and the scan's own
    * output are known. */
  private def scanDown(plan: LogicalPlan,
      aliases: Map[ExprId, Expression] = Map.empty,
      filters: Seq[Expression] = Nil)
      : Option[(LogicalPlan, Seq[Attribute], Seq[String],
        Map[ExprId, Expression], Seq[Expression])] =
    asScan(plan) match {
      case Some((node, out, paths)) =>
        Some((node, out, paths, aliases, filters))
      case None => plan match {
        case Project(list, child) =>
          val newAliases = list.collect {
            case a @ Alias(e, _) => a.exprId -> e
          }.toMap
          scanDown(child, aliases ++ newAliases, filters)
        case Filter(cond, child) =>
          scanDown(child, aliases,
            filters ++ splitConjunctivePredicates(cond))
        case _ => None
      }
    }

  private def splitConjunctivePredicates(c: Expression): Seq[Expression] =
    c match {
      case And(l, r) =>
        splitConjunctivePredicates(l) ++ splitConjunctivePredicates(r)
      case other => Seq(other)
    }

  /** Resolution of plan expressions through Project aliases down to the
    * scan's own attributes — the load-bearing safety device: a matched
    * column must resolve to an attribute OF THE SCAN with the expected
    * name, never name-only (a shadowing Project alias resolves to its
    * defining expression instead and the rewrite aborts). */
  private final class ColumnResolver(scanOutput: Seq[Attribute],
      aliases: Map[ExprId, Expression]) {
    private val scanIds = scanOutput.map(_.exprId).toSet

    @annotation.tailrec
    final def resolve(e: Expression): Expression = e match {
      case a: AttributeReference if aliases.contains(a.exprId) =>
        resolve(aliases(a.exprId))
      case Alias(c, _) => resolve(c)
      case other => other
    }
    def scanAttr(e: Expression, name: String): Boolean = resolve(e) match {
      case a: AttributeReference => a.name == name && scanIds(a.exprId)
      case _ => false
    }
    def truncOf(e: Expression): Option[TruncTimestamp] = resolve(e) match {
      case t @ TruncTimestamp(Literal(fmt, _), tsExpr, _)
          if scanAttr(tsExpr, "ts") && // the rollup bucketed THIS column
            (String.valueOf(fmt).equalsIgnoreCase("hour") ||
              Coarser(String.valueOf(fmt).toLowerCase)) => Some(t)
      case _ => None
    }
    // Only a cast to DOUBLE is transparent (the raw value column is
    // DOUBLE, so it is a no-op): a NARROWING cast — sum(CAST(value AS
    // INT)), avg(value.cast("decimal(10,2)")) — changes per-row values
    // before aggregation and must keep the raw scan.
    def overValue(e: Expression): Boolean = resolve(e) match {
      case Cast(c, DoubleType, _, _) => overValue(c)
      case other => scanAttr(other, "value")
    }
    def metricOnly(e: Expression): Boolean = {
      val refs = e.references.toSeq
      refs.nonEmpty && refs.forall(a => scanAttr(a, "metric"))
    }
    def rawAttr(name: String): Option[Attribute] =
      scanOutput.find(_.name == name)
    def anchorMetric(fs: Seq[Expression], target: Attribute): Seq[Expression] =
      fs.map(_.transform {
        case a: AttributeReference if scanAttr(a, "metric") => target
      })
  }

  private final case class RollupCols(metric: Attribute, bucket: Attribute,
    sum: Attribute, n: Attribute, min: Attribute, max: Attribute)

  private def rollupColsOf(rollup: LogicalPlan): Option[RollupCols] = {
    def c(name: String) = rollup.output.find(_.name == name)
    for {
      m <- c("metric"); b <- c("bucket"); s <- c("sum_v")
      n <- c("n"); mn <- c("min_v"); mx <- c("max_v")
    } yield RollupCols(m, b, s, n, mn, mx)
  }

  /** The filter conjuncts classified against the hourly bucket grid.
    * metric-only predicates push through unchanged (the rollup preserves
    * metric exactly). ts-range predicates decompose: bucket B covers the
    * raw half-open range [B, B+1h), so for bounds `ts >= L` / `ts < U`
    * the region splits into
    *   INTERIOR — complete buckets [ceil(L), floor(U)), served by the
    *   rollup exactly, and
    *   FRINGE — the partial-bucket slivers [L, ceil(L)) ∪ [floor(U), U),
    *   which only the raw scan can serve.
    * Aligned bounds have empty fringes and keep the pure-rollup rewrite;
    * non-aligned bounds (every "last 24h from now" dashboard query)
    * rewrite to a UNION of rollup partials and singleton raw partials,
    * re-aggregated. Strict bounds normalize EXACTLY to the half-open
    * form at the type's resolution (TimestampType IS Long micros):
    * `ts > L` ≡ `ts >= L+1µs`, `ts <= U` ≡ `ts < U+1µs` — no value
    * exists between adjacent micros, so the admitted row sets are
    * identical and the fringe machinery applies unchanged. floor/ceil
    * use the SAME hour truncation the rollup uses (session timezone and
    * all, by evaluating TruncTimestamp — a raw micros % 3600e6 test
    * would mis-bucket fractional-offset timezones like +05:30). */
  private final case class TsWindow(metricFs: Seq[Expression],
      lo: Option[Long], up: Option[Long],
      loCeil: Option[Long], upFloor: Option[Long],
      fringeLo: Option[(Long, Long)], fringeUp: Option[(Long, Long)],
      nullGuard: Boolean) {
    def hasFringe: Boolean = fringeLo.isDefined || fringeUp.isDefined
  }

  private def hourFloorFn(tzId: Option[String]): Long => Option[Long] =
    micros => {
      val t = TruncTimestamp(
        Literal(org.apache.spark.unsafe.types.UTF8String.fromString("hour")),
        Literal(micros, TimestampType), tzId)
      Option(t.eval(null)).map(_.asInstanceOf[Long])
    }

  private def classifyFilters(filters: Seq[Expression], r: ColumnResolver,
      hourFloor: Long => Option[Long]): Option[TsWindow] = {
    def tsLit(l: Literal): Option[Long] =
      if (l.dataType == TimestampType && l.value != null)
        Some(l.value.asInstanceOf[Long])
      else None
    // strict → half-open at µs resolution; MaxValue cannot advance (no
    // representable successor), so that degenerate literal keeps the raw
    // scan instead of wrapping
    def succ(m: Long): Option[Long] =
      if (m == Long.MaxValue) None else Some(m + 1L)

    val metricFs = Seq.newBuilder[Expression]
    var lowers = List.empty[Long] // ts >= L, micros
    var uppers = List.empty[Long] // ts < U, micros
    var nullGuard = false
    var unsupported = false
    filters.foreach { f =>
      if (r.metricOnly(f)) metricFs += f
      else f match {
        case GreaterThanOrEqual(t, l: Literal)
            if r.scanAttr(t, "ts") && tsLit(l).isDefined =>
          lowers ::= tsLit(l).get
        case LessThanOrEqual(l: Literal, t)
            if r.scanAttr(t, "ts") && tsLit(l).isDefined =>
          lowers ::= tsLit(l).get
        case LessThan(t, l: Literal)
            if r.scanAttr(t, "ts") && tsLit(l).isDefined =>
          uppers ::= tsLit(l).get
        case GreaterThan(l: Literal, t)
            if r.scanAttr(t, "ts") && tsLit(l).isDefined =>
          uppers ::= tsLit(l).get
        // strict forms: ts > L ≡ ts >= L+1µs (lower), ts <= U ≡
        // ts < U+1µs (upper) — exact, TimestampType is integral micros
        case GreaterThan(t, l: Literal)
            if r.scanAttr(t, "ts") && tsLit(l).flatMap(succ).isDefined =>
          lowers ::= tsLit(l).flatMap(succ).get
        case LessThan(l: Literal, t)
            if r.scanAttr(t, "ts") && tsLit(l).flatMap(succ).isDefined =>
          lowers ::= tsLit(l).flatMap(succ).get
        case LessThanOrEqual(t, l: Literal)
            if r.scanAttr(t, "ts") && tsLit(l).flatMap(succ).isDefined =>
          uppers ::= tsLit(l).flatMap(succ).get
        case GreaterThanOrEqual(l: Literal, t)
            if r.scanAttr(t, "ts") && tsLit(l).flatMap(succ).isDefined =>
          uppers ::= tsLit(l).flatMap(succ).get
        // null ts rows land in the rollup's null bucket
        // (date_trunc(null)), so the optimizer-injected guard maps
        case IsNotNull(t) if r.scanAttr(t, "ts") => nullGuard = true
        case _ => unsupported = true
      }
    }
    if (unsupported) return None
    // conjunction ⇒ the binding bounds are the max lower / min upper
    val lo: Option[Long] = if (lowers.isEmpty) None else Some(lowers.max)
    val up: Option[Long] = if (uppers.isEmpty) None else Some(uppers.min)
    val loFloor = lo.map(hourFloor); val upFloor = up.map(hourFloor)
    if (loFloor.exists(_.isEmpty) || upFloor.exists(_.isEmpty)) return None
    // first complete bucket at/after L; abort if the +1h step does not
    // land on a bucket start (sub-hour DST shifts)
    val loCeil: Option[Long] = (lo, loFloor.flatten) match {
      case (Some(l), Some(fl)) if l == fl => Some(l)
      case (Some(_), Some(fl)) =>
        val c = fl + HourMicros
        if (hourFloor(c).contains(c)) Some(c) else return None
      case _ => None
    }
    val fringeLo = (lo, loCeil) match {
      case (Some(l), Some(c)) if l != c => Some((l, c)) // [L, ceil(L))
      case _ => None
    }
    val fringeUp = (up, upFloor.flatten) match {
      case (Some(u), Some(fu)) if u != fu => Some((fu, u)) // [floor(U), U)
      case _ => None
    }
    Some(TsWindow(metricFs.result(), lo, up, loCeil, upFloor.flatten,
      fringeLo, fringeUp, nullGuard))
  }

  private def mkTs(m: Long): Literal = Literal(m, TimestampType)

  /** Hour-floored freshness frontier, kept only when it BINDS (some
    * queried bucket could be incomplete). Shared by the single-scan,
    * tiered-union and grouping-set paths so the binding rule cannot
    * drift between them. Returns None when the truncation cannot be
    * evaluated (abort routing); Some(None) when no frontier applies. */
  private def bindingFrontier(entry: RollupCatalog.Entry, win: TsWindow,
      hourFloor: Long => Option[Long]): Option[Option[Long]] =
    entry.completeUntilMicros match {
      case Some(f) => hourFloor(f) match {
        case Some(ff) if win.upFloor.forall(_ > ff) => Some(Some(ff))
        case Some(_) => Some(None)
        case None => None
      }
      case None => Some(None)
    }

  /** Recombine ONE supported aggregate from decomposable partials
    * (sum_c, n_c, min_c, max_c) — the single source of truth for which
    * aggregates route and how they recombine, shared by every
    * partials-consuming path. */
  private def recombineAgg(fn: AggregateFunction,
      overValue: Expression => Boolean, sU: Attribute, nU: Attribute,
      mnU: Attribute, mxU: Attribute): Option[Expression] = {
    def aggOf(f: AggregateFunction): Expression = f.toAggregateExpression()
    fn match {
      case Average(v, _) if overValue(v) =>
        Some(Divide(Cast(aggOf(Sum(sU)), DoubleType),
          Cast(aggOf(Sum(nU)), DoubleType)))
      case Sum(v, _) if overValue(v) =>
        Some(Cast(aggOf(Sum(sU)), DoubleType))
      case Min(v) if overValue(v) => Some(aggOf(Min(mnU)))
      case Max(v) if overValue(v) => Some(aggOf(Max(mxU)))
      case Count(Seq(Literal(_, _))) =>
        Some(Cast(aggOf(Sum(nU)), LongType))
      case _ => None
    }
  }

  /** The routed region as decomposable partials — output (metric,
    * bucket, sum_c DECIMAL(28,4), n_c LONG, min_c DOUBLE, max_c DOUBLE).
    * A rollup row IS a bucket partial; when the window has fringes, each
    * fringe raw row becomes a singleton partial (value, 1, value, value)
    * under its hour bucket and the two sides union. Recombination is
    * exact for min/max/count, and sum/avg recombine as EXACT DECIMAL
    * (the registered-rollup contract: values are ≤4-decimal, sum_v
    * accumulates DECIMAL(18,4) per-row casts), so routed results are
    * partition-order independent like the pure-rollup paths. At 100 TB
    * the fringe is ≤ 2 bucket-widths of raw rows (with the ts bounds
    * pushed into the scan) while the interior stays a rollup read. */
  private def partialsPlan(rollup: LogicalPlan, rc: RollupCols,
      scanPlan: LogicalPlan, r: ColumnResolver, win: TsWindow,
      tzId: Option[String],
      frontier: Option[Long] = None): Option[LogicalPlan] = {
    // freshness frontier (hour-floored, only passed when it BINDS): the
    // interior trusts only buckets strictly below it; rows at/after it
    // read raw as an extra fringe window
    val effUpFloor: Option[Long] = (win.upFloor, frontier) match {
      case (Some(u), Some(f)) => Some(math.min(u, f))
      case (None, f @ Some(_)) => f
      case (u, None) => u
    }
    val interiorPreds: Seq[Expression] =
      r.anchorMetric(win.metricFs, rc.metric) ++
        win.loCeil.map(c => GreaterThanOrEqual(rc.bucket, mkTs(c))) ++
        effUpFloor.map(f => LessThan(rc.bucket, mkTs(f))) ++
        (if (win.nullGuard) Seq(IsNotNull(rc.bucket)) else Nil)
    val base =
      if (interiorPreds.isEmpty) rollup
      else Filter(interiorPreds.reduce(And), rollup)
    val interiorProj = Project(Seq(
      Alias(rc.metric, "metric")(),
      Alias(rc.bucket, "bucket")(),
      Alias(Cast(rc.sum, PartialDec), "sum_c")(),
      Alias(Cast(rc.n, LongType), "n_c")(),
      Alias(Cast(rc.min, DoubleType), "min_c")(),
      Alias(Cast(rc.max, DoubleType), "max_c")()), base)
    if (!win.hasFringe && frontier.isEmpty) return Some(interiorProj)

    val rawMetric = r.rawAttr("metric")
    val rawTs = r.rawAttr("ts")
    val rawValue = r.rawAttr("value")
    if (Seq(rawMetric, rawTs, rawValue).exists(_.isEmpty)) return None
    val (rm, rt, rv) = (rawMetric.get, rawTs.get, rawValue.get)
    val windows: Seq[Expression] =
      win.fringeLo.toSeq.map { case (l, c) =>
        And(GreaterThanOrEqual(rt, mkTs(l)), LessThan(rt, mkTs(c))): Expression
      } ++
      win.fringeUp.toSeq.map { case (f, u) =>
        And(GreaterThanOrEqual(rt, mkTs(f)), LessThan(rt, mkTs(u))): Expression
      } ++
      // frontier tail: everything at/after the frontier reads raw (the
      // original bounds below still clamp it to the query window); an
      // overlap with fringeUp is a harmless OR
      frontier.toSeq.map(f => GreaterThanOrEqual(rt, mkTs(f)): Expression) ++
      // a query with NO ts bounds keeps raw null-ts rows — the routed
      // plan must too (interior drops the rollup's null bucket once a
      // bucket upper bound exists, so nulls re-enter via raw)
      (if (frontier.isDefined && !win.nullGuard &&
          win.lo.isEmpty && win.up.isEmpty)
        Seq(IsNull(rt): Expression) else Nil)
    // The original ts bounds must stay conjoined: when both bounds
    // fall inside ONE bucket (ceil(L) > floor(U)) or the region is
    // empty (L >= U), the windows extend beyond the query region and
    // window membership alone would ADMIT rows the raw plan excludes.
    val bounds: Seq[Expression] =
      win.lo.map(l => GreaterThanOrEqual(rt, mkTs(l))).toSeq ++
        win.up.map(u => LessThan(rt, mkTs(u)))
    val fringePred =
      (r.anchorMetric(win.metricFs, rm) ++ bounds :+ windows.reduce(Or))
        .reduce(And)
    val hourOfTs = TruncTimestamp(
      Literal(org.apache.spark.unsafe.types.UTF8String.fromString("hour")),
      rt, tzId)
    val fringeProj = Project(Seq(
      Alias(rm, "metric")(),
      Alias(hourOfTs, "bucket")(),
      Alias(Cast(rv, PartialDec), "sum_c")(),
      Alias(Literal(1L), "n_c")(),
      Alias(Cast(rv, DoubleType), "min_c")(),
      Alias(Cast(rv, DoubleType), "max_c")()),
      Filter(fringePred, scanPlan))
    Some(Union(Seq(interiorProj, fringeProj)))
  }

  private def rewrite(agg: Aggregate, groupings: Seq[Expression],
      aggExprs: Seq[NamedExpression], child: LogicalPlan): Option[LogicalPlan] = {
    for {
      (scanPlan, scanOutput, paths, aliases, filters) <- scanDown(child)
      entry <- RollupCatalog.lookup(paths)
      out <- buildProject(agg, groupings, aggExprs, entry, scanPlan,
        scanOutput, aliases, filters)
    } yield out
  }

  /** Match groupings = {metric, date_trunc('hour'+, ts)} and aggregates
    * over `value`; emit a Project (or re-aggregation for coarser grains)
    * over the rollup with the ORIGINAL output exprIds so the surrounding
    * plan stays resolved. */
  private def buildProject(agg: Aggregate, groupings: Seq[Expression],
      aggExprs: Seq[NamedExpression], entry: RollupCatalog.Entry,
      scanPlan: LogicalPlan, scanOutput: Seq[Attribute],
      aliases: Map[ExprId, Expression],
      filters: Seq[Expression]): Option[LogicalPlan] = {
    val rollup = entry.rollup
    val r = new ColumnResolver(scanOutput, aliases)

    def isMetric(e: Expression): Boolean = r.scanAttr(e, "metric")
    val trunc = groupings.flatMap(r.truncOf).headOption
    val groupable = groupings.length == 2 &&
      groupings.exists(isMetric) && trunc.isDefined
    if (!groupable) return None
    val grain = String.valueOf(
      trunc.get.format.asInstanceOf[Literal].value).toLowerCase
    def isHourTrunc(e: Expression): Boolean = r.truncOf(e).isDefined

    val rc = rollupColsOf(rollup).getOrElse(return None)

    val hourFloor = hourFloorFn(trunc.get.timeZoneId)
    val win = classifyFilters(filters, r, hourFloor).getOrElse(return None)

    // hour-floored freshness frontier, kept only when it BINDS (some
    // queried bucket could be incomplete). A query bounded entirely
    // below the frontier routes exactly as a complete rollup would.
    val frontier: Option[Long] =
      bindingFrontier(entry, win, hourFloor).getOrElse(return None)


    if (win.hasFringe || frontier.isDefined) {
      // ---- interior ∪ fringe rewrite ---------------------------------
      // Both sides emit the same decomposable-partial shape; one final
      // aggregate recombines them — see [[partialsPlan]].
      val parts = partialsPlan(rollup, rc, scanPlan, r, win,
        trunc.get.timeZoneId, frontier).getOrElse(return None)
      val Seq(mU, bU, sU, nU, mnU, mxU) = parts.output
      val bucketGroup: Expression =
        if (grain == "hour") bU else trunc.get.copy(timestamp = bU)
      val results: Seq[Option[NamedExpression]] = aggExprs.map {
        case ne if isMetric(ne) =>
          Some(Alias(mU, ne.name)(exprId = ne.exprId))
        case ne if isHourTrunc(ne) =>
          Some(Alias(bucketGroup, ne.name)(exprId = ne.exprId))
        case ne @ Alias(AggregateExpression(fn, _, false, None, _), name) =>
          val repl: Option[Expression] =
            recombineAgg(fn, r.overValue, sU, nU, mnU, mxU)
          repl.map(e => Alias(e, name)(exprId = ne.exprId))
        case _ => None
      }
      return if (results.exists(_.isEmpty)) None
      else Some(Aggregate(Seq(mU, bucketGroup), results.flatten, parts, None))
    }

    // aligned window: the interior predicates ARE the whole filter
    val interiorPreds: Seq[Expression] =
      r.anchorMetric(win.metricFs, rc.metric) ++
        win.loCeil.map(c => GreaterThanOrEqual(rc.bucket, mkTs(c))) ++
        win.upFloor.map(f => LessThan(rc.bucket, mkTs(f))) ++
        (if (win.nullGuard) Seq(IsNotNull(rc.bucket)) else Nil)
    val base =
      if (interiorPreds.isEmpty) rollup
      else Filter(interiorPreds.reduce(And), rollup)

    if (grain == "hour" && !entry.appendRollup) {
      // same grain over a COMPACTED archive (one row per bucket): pure
      // column remapping — an append-mode rollup may hold several
      // partial rows per bucket and must take the re-aggregation branch
      val projected: Seq[Option[NamedExpression]] = aggExprs.map {
        case ne if isMetric(ne) =>
          Some(Alias(rc.metric, ne.name)(exprId = ne.exprId))
        case ne if isHourTrunc(ne) =>
          Some(Alias(rc.bucket, ne.name)(exprId = ne.exprId))
        case ne @ Alias(AggregateExpression(fn, _, false, None, _), name) =>
          val repl: Option[Expression] = fn match {
            case Average(v, _) if r.overValue(v) =>
              Some(Divide(Cast(rc.sum, DoubleType),
                Cast(rc.n, DoubleType)))
            case Sum(v, _) if r.overValue(v) =>
              Some(Cast(rc.sum, DoubleType))
            case Min(v) if r.overValue(v) => Some(rc.min)
            case Max(v) if r.overValue(v) => Some(rc.max)
            case Count(Seq(Literal(_, _))) => Some(rc.n)
            case _ => None
          }
          repl.map(e => Alias(e, name)(exprId = ne.exprId))
        case _ => None
      }
      if (projected.exists(_.isEmpty)) None
      else Some(Project(projected.flatten, base))
    } else {
      // coarser grain (or an append-mode rollup at its own grain):
      // re-aggregate the archive — exact, because the rollup stores
      // decimal partial sums and counts (avg-of-raw == sum(sum_v)/
      // sum(n), never avg-of-avgs)
      val coarseBucket: Expression =
        if (grain == "hour") rc.bucket
        else trunc.get.copy(timestamp = rc.bucket)
      val results: Seq[Option[NamedExpression]] = aggExprs.map {
        case ne if isMetric(ne) =>
          Some(Alias(rc.metric, ne.name)(exprId = ne.exprId))
        case ne if isHourTrunc(ne) =>
          Some(Alias(coarseBucket, ne.name)(exprId = ne.exprId))
        case ne @ Alias(AggregateExpression(fn, _, false, None, _), name) =>
          val repl: Option[Expression] =
            recombineAgg(fn, r.overValue, rc.sum, rc.n, rc.min, rc.max)
          repl.map(e => Alias(e, name)(exprId = ne.exprId))
        case _ => None
      }
      if (results.exists(_.isEmpty)) None
      else Some(Aggregate(Seq(rc.metric, coarseBucket),
        results.flatten, base, None))
    }
  }

  /** Aggregate over a UNION of registered raw tables — the TIERED read
    * (hot recent table ∪ cold historical table, Kenshin's retention
    * economics at production): each leg routes to ITS OWN rollup as
    * decomposable partials and ONE final aggregate recombines across
    * tiers. Shared Projects/Filters above the Union resolve into every
    * leg (Union output is positional: output(i) ≡ leg.output(i)), and
    * each leg may carry its own below the Union — incl. its own
    * freshness frontier. Every leg must resolve to a registered scan
    * with the same grouping grain, else the raw plan stays. */
  private def rewriteUnion(groupings: Seq[Expression],
      aggExprs: Seq[NamedExpression],
      child: LogicalPlan): Option[LogicalPlan] = {
    @annotation.tailrec
    def downToUnion(plan: LogicalPlan, aliases: Map[ExprId, Expression],
        filters: Seq[Expression])
        : Option[(Union, Map[ExprId, Expression], Seq[Expression])] =
      plan match {
        case u: Union => Some((u, aliases, filters))
        case Project(list, c) =>
          downToUnion(c, aliases ++ list.collect {
            case a @ Alias(e, _) => a.exprId -> e
          }.toMap, filters)
        case Filter(cond, c) =>
          downToUnion(c, aliases,
            filters ++ splitConjunctivePredicates(cond))
        case _ => None
      }
    val (union, sharedAliases, sharedFilters) =
      downToUnion(child, Map.empty, Nil).getOrElse(return None)
    if (union.children.length < 2) return None

    var grain: Option[String] = None
    var headResolver: Option[ColumnResolver] = None
    var headTrunc: Option[TruncTimestamp] = None
    val legParts: Seq[LogicalPlan] = union.children.map { leg =>
      val (scanPlan, scanOutput, paths, legAliases, legFilters) =
        scanDown(leg).getOrElse(return None)
      val entry = RollupCatalog.lookup(paths).getOrElse(return None)
      // positional bridge: a Union output attr names each leg's attr at
      // the same position (identity pairs omitted — the Union reuses
      // the FIRST leg's exprIds, and a self-mapping would not resolve)
      val bridge: Map[ExprId, Expression] =
        union.output.zip(leg.output).collect {
          case (u, l) if u.exprId != l.exprId => u.exprId -> (l: Expression)
        }.toMap
      val r = new ColumnResolver(scanOutput,
        sharedAliases ++ bridge ++ legAliases)
      val rc = rollupColsOf(entry.rollup).getOrElse(return None)
      val trunc = groupings.flatMap(r.truncOf).headOption
        .getOrElse(return None)
      if (!(groupings.length == 2 &&
          groupings.exists(e => r.scanAttr(e, "metric")))) return None
      val g = String.valueOf(
        trunc.format.asInstanceOf[Literal].value).toLowerCase
      if (grain.exists(_ != g)) return None
      grain = Some(g)
      if (headResolver.isEmpty) {
        headResolver = Some(r); headTrunc = Some(trunc)
      }
      val hourFloor = hourFloorFn(trunc.timeZoneId)
      val win = classifyFilters(sharedFilters ++ legFilters, r, hourFloor)
        .getOrElse(return None)
      val frontier: Option[Long] =
        bindingFrontier(entry, win, hourFloor).getOrElse(return None)
      partialsPlan(entry.rollup, rc, scanPlan, r, win, trunc.timeZoneId,
        frontier).getOrElse(return None)
    }
    val parts: LogicalPlan = Union(legParts)
    val Seq(mU, bU, sU, nU, mnU, mxU) = parts.output
    val r0 = headResolver.get
    val trunc0 = headTrunc.get
    val bucketGroup: Expression =
      if (grain.contains("hour")) bU else trunc0.copy(timestamp = bU)
    val results: Seq[Option[NamedExpression]] = aggExprs.map {
      case ne if r0.scanAttr(ne, "metric") =>
        Some(Alias(mU, ne.name)(exprId = ne.exprId))
      case ne if r0.truncOf(ne).isDefined =>
        Some(Alias(bucketGroup, ne.name)(exprId = ne.exprId))
      case ne @ Alias(AggregateExpression(fn, _, false, None, _), name) =>
        val repl: Option[Expression] =
          recombineAgg(fn, r0.overValue, sU, nU, mnU, mxU)
        repl.map(e => Alias(e, name)(exprId = ne.exprId))
      case _ => None
    }
    if (results.exists(_.isEmpty)) None
    else Some(Aggregate(Seq(mU, bucketGroup), results.flatten, parts, None))
  }

  /** ROLLUP / CUBE / GROUPING SETS over (metric, date_trunc(grain, ts)):
    * the analyzer lowers these to `Aggregate(groupAttrs :+
    * spark_grouping_id, Expand(one projection row per grouping set,
    * child))` — each input row is replicated once per set with
    * non-member group columns nulled out. The expansion is
    * grain-preserving, so the rewrite replicates each ROLLUP PARTIAL per
    * set instead of each raw row and recombines: sum/count/min/max
    * decompose over partials, and a nulled group key aggregates across
    * that dimension exactly as the raw rows would (the per-set null is
    * injected AFTER the partial, identically on both plans). At 100 TB a
    * `ROLLUP(metric, bucket)` dashboard fan-in reads 10^5 rollup rows
    * instead of re-scanning 10^8 raw points per grouping set. */
  private def rewriteGroupingSets(groupings: Seq[Expression],
      aggExprs: Seq[NamedExpression], expand: Expand): Option[LogicalPlan] = {
    val (scanPlan, scanOutput, paths, aliases, filters) =
      scanDown(expand.child).getOrElse(return None)
    val entry = RollupCatalog.lookup(paths).getOrElse(return None)
    val r = new ColumnResolver(scanOutput, aliases)
    val rc = rollupColsOf(entry.rollup).getOrElse(return None)

    // the Aggregate's groupings must be exactly the grouping-id column
    // plus two set-expanded attributes resolving to metric and a
    // supported truncation of the scan's ts (anything else — a third
    // dimension, an expression group — keeps the raw scan)
    val groupAttrs: Seq[Attribute] = groupings.flatMap {
      case a: Attribute => Some(a)
      case _ => None
    }
    if (groupAttrs.length != groupings.length) return None
    val gidAttr = groupAttrs
      .find(_.name == "spark_grouping_id").getOrElse(return None)
    val gidIdx = expand.output.indexWhere(_.exprId == gidAttr.exprId)
    if (gidIdx < 0 ||
      !expand.projections.forall(_(gidIdx).isInstanceOf[Literal]))
      return None
    val others = groupAttrs.filterNot(_.exprId == gidAttr.exprId)
    if (others.length != 2) return None

    // per grouping attribute: its Expand column is {base-expr, null}
    // across the projection rows; the base must resolve to the scan's
    // metric / a supported trunc of the scan's ts
    final case class GroupCol(attr: Attribute, pos: Int, base: Expression)
    def classify(a: Attribute): Option[GroupCol] = {
      val pos = expand.output.indexWhere(_.exprId == a.exprId)
      if (pos < 0) return None
      val nonNull = expand.projections.map(_(pos)).filter {
        case Literal(null, _) => false
        case _ => true
      }.distinct
      if (nonNull.length != 1) return None
      Some(GroupCol(a, pos, nonNull.head))
    }
    val cols = others.flatMap(classify(_))
    if (cols.length != 2) return None
    val metricGC = cols.find(c => r.scanAttr(c.base, "metric"))
      .getOrElse(return None)
    val bucketGC = cols.find(c => r.truncOf(c.base).isDefined)
      .getOrElse(return None)
    if (metricGC.pos == bucketGC.pos) return None
    val trunc = r.truncOf(bucketGC.base).get
    val grain = String.valueOf(
      trunc.format.asInstanceOf[Literal].value).toLowerCase

    val hourFloor = hourFloorFn(trunc.timeZoneId)
    val win = classifyFilters(filters, r, hourFloor).getOrElse(return None)
    val frontier: Option[Long] =
      bindingFrontier(entry, win, hourFloor).getOrElse(return None)
    val parts = partialsPlan(entry.rollup, rc, scanPlan, r, win,
      trunc.timeZoneId, frontier).getOrElse(return None)
    val Seq(pm, pb, ps, pn, pmin, pmax) = parts.output
    val gb: Expression =
      if (grain == "hour") pb else trunc.copy(timestamp = pb)

    // rebuild the Expand over partials: per original set, partial
    // measures pass through, group keys keep the set's null mask, the
    // grouping-id literal is copied verbatim
    def isNull(e: Expression): Boolean = e match {
      case Literal(null, _) => true
      case _ => false
    }
    val newProjections: Seq[Seq[Expression]] = expand.projections.map { row =>
      Seq[Expression](ps, pn, pmin, pmax,
        if (isNull(row(metricGC.pos))) Literal(null, metricGC.attr.dataType)
        else pm,
        if (isNull(row(bucketGC.pos))) Literal(null, bucketGC.attr.dataType)
        else gb,
        row(gidIdx))
    }
    val sumA = AttributeReference("sum_c", PartialDec)()
    val nA = AttributeReference("n_c", LongType)()
    val minA = AttributeReference("min_c", DoubleType)()
    val maxA = AttributeReference("max_c", DoubleType)()
    val newExpand = Expand(newProjections,
      Seq(sumA, nA, minA, maxA, metricGC.attr, bucketGC.attr, gidAttr),
      parts)

    // aggregate outputs: group-key expressions (incl. grouping()/
    // grouping_id() arithmetic over the gid attr) pass through — their
    // attributes survive with the same exprIds; supported aggregates
    // over value recombine from the partials; anything else aborts
    val groupSet = AttributeSet(Seq(metricGC.attr, bucketGC.attr, gidAttr))
    val results: Seq[Option[NamedExpression]] = aggExprs.map {
      // reference-free aggregates (count(1)) would pass the subset test
      // vacuously and then count PARTIAL rows — the aggregate guard keeps
      // them on the recombination path below
      case ne if ne.references.subsetOf(groupSet) &&
          !ne.exists(_.isInstanceOf[AggregateExpression]) => Some(ne)
      case ne @ Alias(AggregateExpression(fn, _, false, None, _), name) =>
        val repl: Option[Expression] =
          recombineAgg(fn, r.overValue, sumA, nA, minA, maxA)
        repl.map(e => Alias(e, name)(exprId = ne.exprId))
      case _ => None
    }
    if (results.exists(_.isEmpty)) None
    else Some(Aggregate(groupings, results.flatten, newExpand, None))
  }
}
