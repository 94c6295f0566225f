package graft.rel

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.util.{Det, Rounds, SessionMemo}

/** Relational surface of the engine (SURVEY §2.2): scans, predicates, the
  * full join family, grouping sets, windows, set ops, and scalar-function
  * coverage. The reference (a Graphite-compatible TSDB) has no relational
  * layer; this is the north-star capability set, expressed as declarative
  * Spark plans so Catalyst owns the physical strategy.
  *
  * Scale posture (100 TB):
  *  - Scans select only needed columns before anything else → parquet
  *    `ReadSchema` pruning; predicates sit directly on the scan →
  *    `PushedFilters`.
  *  - Dimension tables (region/nation/supplier/part at any realistic scale)
  *    ride broadcast joins — explicit `broadcast()` where the statistics
  *    might not prove it, AQE elsewhere.
  *  - The as-of and interval joins bound their range condition by an
  *    equi-key (user_id / week grid) so the shuffle keys stay joinable and
  *    skew-manageable; nothing collects to the driver.
  *  - Window queries partition by a real key; the single global-order
  *    window (`q_window_running`) runs over an already-aggregated
  *    ~thousands-row relation (days), never over raw rows.
  *
  * Determinism: every float aggregate uses [[Det]] exact decimal
  * accumulation + the shared IEEE rounding formula; every query ends in a
  * total-order `orderBy` (SURVEY §7.4).
  */
object RelationalOps {

  /** Scan + projection + limit: column pruning must reach the scan.
    * (l_orderkey, l_linenumber) is NOT unique in this testdata, so the
    * order must be total over EVERY output column — identical rows at
    * the limit boundary are then interchangeable and hash-stable. */
  def scanProject(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_shipdate")
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_shipdate")
      .limit(100)

  /** Predicate coverage: IN + BETWEEN + LIKE + AND/OR, pushed to parquet. */
  def filterPred(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .where(col("o_orderstatus").isin("F", "P") &&
        col("o_totalprice").between(10000.0, 200000.0) &&
        (col("o_orderpriority").like("%URGENT") ||
         col("o_orderpriority").like("2%")))
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority")
      .orderBy("o_orderkey")

  /** 3-way equi join (fact ⋈ dims) + agg: revenue per nation. */
  def joinInner(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(Tables.orders(spark, sfDir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_orders"),
        Det.dsum4(col("o_totalprice")).as("revenue"))
      .orderBy("n_name")

  /** Broadcast hash join: fact lineitem ⋈ small part dim, agg by brand. */
  def joinBroadcast(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select("l_partkey", "l_quantity", "l_extendedprice")
      .join(broadcast(Tables.part(spark, sfDir).select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"), Det.dsum4(col("l_quantity")).as("qty"),
        Det.dsum4(col("l_extendedprice")).as("rev"))
      .orderBy("p_brand")

  /** Left outer join preserving 0-order customers. */
  def joinLeft(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir).select("c_custkey", "c_name")
      .join(Tables.orders(spark, sfDir).select("o_custkey", "o_totalprice"),
        col("o_custkey") === col("c_custkey"), "left")
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(count(col("o_custkey")).as("n_orders"),
        coalesce(Det.dsum4(col("o_totalprice")), lit(0.0)).as("spend"))
      .orderBy("c_custkey")

  /** Left semi: parts that have at least one lineitem. Semi-join
    * reduction: distinct the fact-side key first, so the shuffle carries
    * ≤|part| keys instead of the whole fact table, and AQE can flip the
    * now-tiny right side to a broadcast at runtime. */
  def joinSemi(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir).select("p_partkey", "p_name")
      .join(Tables.lineitem(spark, sfDir).select("l_partkey").distinct(),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .orderBy("p_partkey")

  /** Left anti: customers that never placed an URGENT order. */
  def joinAnti(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir).select("c_custkey", "c_name")
      .join(Tables.orders(spark, sfDir)
          .where(col("o_orderpriority") === "1-URGENT").select("o_custkey"),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .orderBy("c_custkey")

  /** MAP-typed column toolkit: parse props into a map, extend it with
    * map_concat, read it back through map_keys/map_values/element_at and
    * a value fold — all map ops stay inside whole-stage codegen, and the
    * OUTPUT columns are scalars (map-typed outputs don't hash-compare
    * portably across engines). */
  def mapFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("props"))
      .withColumn("m", map_concat(
        from_json(col("props"), lit("map<string,bigint>")),
        map(lit("uid"), col("user_id").cast("bigint"))))
      .select(col("event_id"),
        size(col("m")).cast("long").as("n_keys"),
        array_join(array_sort(map_keys(col("m"))), ",").as("keys_csv"),
        // try_: a props row without 'k' must yield NULL (as the oracle's
        // json_extract does), not an ANSI MAP_KEY_DOES_NOT_EXIST error
        try_element_at(col("m"), lit("k")).as("k_val"),
        try_element_at(col("m"), lit("uid")).as("uid_val"),
        aggregate(map_values(col("m")), lit(0L), _ + _).as("val_sum"))
      .orderBy("event_id")

  /** Full outer join of two pre-aggregated sides: per-nation customer
    * vs supplier counts — both inputs shrink to ≤|nation| rows BEFORE
    * the join, so the full-outer shuffle is trivial at any scale. */
  def joinFull(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
      .groupBy(col("c_nationkey").as("ck"))
      .agg(count(lit(1)).as("n_cust"))
    val s = Tables.supplier(spark, sfDir)
      .groupBy(col("s_nationkey").as("sk"))
      .agg(count(lit(1)).as("n_supp"))
    c.join(s, col("ck") === col("sk"), "full")
      .select(coalesce(col("ck"), col("sk")).as("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy("nationkey")
  }

  /** EXISTS-in-select: per customer, whether any URGENT order exists —
    * the correlated-EXISTS projection, decorrelated to a distinct
    * key-set + left join + IS NOT NULL (one shuffle on the distinct'd
    * order keys, never a per-row subquery). */
  def existsSelect(spark: SparkSession, sfDir: String): DataFrame = {
    val urgent = Tables.orders(spark, sfDir)
      .where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey")).distinct()
    Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_name"))
      .join(urgent, col("o_custkey") === col("c_custkey"), "left")
      .select(col("c_custkey"), col("c_name"),
        col("o_custkey").isNotNull.as("has_urgent"))
      .orderBy("c_custkey")
  }

  /** Time-RANGE window: per-series trailing-1h moving average over raw
    * event times (value-based frame, so frame membership is identical in
    * any engine regardless of tie order; exact decimal numerator). The
    * Graphite movingAverage("1h") analog on irregular samples. */
  def windowRange(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts_s"))
      .rangeBetween(-3600L, 0L)
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"),
        col("ts").cast("long").as("ts_s"), col("value"))
      .withColumn("mavg", Det.r4(
        sum(col("value").cast("decimal(18,4)")).over(w).cast("double")
          / count(lit(1)).over(w)))
      .orderBy("event_id")
  }

  /** As-of join (no native Spark op): for each purchase, the latest
    * signup of the same user at-or-before it.
    *
    * Implemented as the scale-safe union + ordered-window form: tag both
    * sides, sort within user by (ts, side) — signups before purchases at
    * equal ts, making the bound inclusive — and carry the last non-null
    * signup ts forward. ONE shuffle on user_id, O(n log n), zero join
    * fan-out: at 100 TB this beats any range join, whose per-key
    * candidate sets grow with history length. */
  def joinAsof(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
      .where(col("event_type").isin("purchase", "signup"))
      .select(col("event_id"), col("user_id"), col("ts"),
        when(col("event_type") === "signup", col("ts")).as("s_ts"),
        (col("event_type") === "purchase").as("is_p"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_p"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("signup_ts", last(col("s_ts"), ignoreNulls = true).over(w))
      .where(col("is_p"))
      .select(col("event_id"), col("user_id"), col("ts").as("p_ts"),
        col("signup_ts"))
      .orderBy("event_id")
  }

  /** FORWARD as-of join — [[joinAsof]] mirrored: each signup finds the
    * FIRST purchase at-or-after it (time-to-first-conversion, the
    * onboarding funnel's core measure). Same single-window technique
    * with the frame reversed (currentRow → unboundedFollowing, first
    * ignoreNulls); at equal ts the signup orders BEFORE the purchase
    * (is_s DESC — booleans sort false<true in both engines) so a
    * same-instant conversion counts. Unconverted signups keep NULL
    * through the exact epoch-µs gap arithmetic identically. One
    * user_id exchange is the entire shuffle cost. */
  def joinAsofFwd(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
      .where(col("event_type").isin("purchase", "signup"))
      .select(col("event_id"), col("user_id"), col("ts"),
        when(col("event_type") === "purchase", col("ts")).as("p_ts"),
        (col("event_type") === "signup").as("is_s"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_s").desc, col("event_id"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    e.withColumn("next_p_ts", first(col("p_ts"), ignoreNulls = true).over(w))
      .where(col("is_s"))
      .select(col("event_id"), col("user_id"), col("ts").as("s_ts"),
        col("next_p_ts"),
        expr("(unix_micros(next_p_ts) - unix_micros(ts)) div 1000000")
          .as("secs_to_convert"))
      .orderBy("event_id")
  }

  /** Time-to-convert summary — the 1-row onboarding dashboard over
    * [[joinAsofFwd]]'s gaps: conversion rate plus exact p50/p90
    * seconds-to-convert by INTEGER rank (ceil(q·n) = (q·n + denom−1)
    * div denom — indexed selection, never an interpolating percentile
    * dialect). The global rank window sorts only the CONVERTED-signup
    * summary rows (two longs each, already the heavy reduction) for a
    * single-row answer — the one place a global sort is the honest
    * plan; per-key percentile reads partition instead (nPercentile). */
  def timeToConvert(spark: SparkSession, sfDir: String): DataFrame = {
    val f = joinAsofFwd(spark, sfDir).localCheckpoint(eager = false)
    val ranked = f.where(col("next_p_ts").isNotNull)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("secs_to_convert"), col("event_id"))))
      .withColumn("nc", count(lit(1)).over(Window.partitionBy()))
    val tot = f.agg(count(lit(1)).as("n_signups"))
    ranked.agg(
        max(col("nc")).as("n_converted"),
        max(when(col("rk") === expr("(nc + 1) div 2"),
          col("secs_to_convert"))).as("p50_secs"),
        max(when(col("rk") === expr("(9 * nc + 9) div 10"),
          col("secs_to_convert"))).as("p90_secs"))
      .crossJoin(tot)
      .select(col("n_signups"), col("n_converted"),
        Det.r4(col("n_converted").cast("double") / col("n_signups"))
          .as("cvr"),
        col("p50_secs"), col("p90_secs"))
  }

  /** KAPLAN–MEIER survival curve over user lifetimes (product-limit
    * estimator, Kaplan & Meier 1958) — the churn-analysis staple the
    * cohort grid can't answer: "what fraction of users survive past
    * day t" with RIGHT-CENSORING handled honestly (users still active
    * near the corpus end aren't counted as churned). Observation =
    * per-user (first_ts → last_ts) span in whole days; censored iff
    * last activity falls within 12 hours of the corpus horizon (the
    * testdata corpus spans ~30 days with every user active in its
    * final 3 — a longer window degenerates to all-censored).
    *
    * Oracle-exactness: at-risk counts are a reverse-cumulative integer
    * window; the survival product S_t = Π(1 − dₜ/rₜ) is a SEQUENTIAL
    * float recursion, expressed as a sorted aggregate() fold whose
    * per-step text — `s · (1.0 − CAST(d) / CAST(r))` — matches the
    * DuckDB recursive CTE word-for-word, the proven holt-family
    * bit-equality class. The fold runs over the per-DAY summary
    * relation (≤ calendar-span rows — the heavy reduction already
    * happened in the per-user aggregate), so the driver-sized global
    * sort is the honest 1-curve plan; the user-grain work is one
    * groupBy shuffle. */
  def kaplanMeier(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val per = ev.groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
    val hor = ev.agg(max(col("ts")).as("end_ts"))
    val obs = per.crossJoin(broadcast(hor))
      .select(
        expr("(unix_micros(last_ts) - unix_micros(first_ts))" +
          " div 86400000000").as("dur"),
        (col("last_ts") >= col("end_ts") - expr("INTERVAL 12 HOURS"))
          .as("censored"))
    val durs = obs.groupBy(col("dur"))
      .agg(sum(when(col("censored"), 0L).otherwise(1L)).as("d"),
        sum(when(col("censored"), 1L).otherwise(0L)).as("c"))
    val wR = Window.orderBy(col("dur"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val risk = durs.select(col("dur"), col("d"), col("c"),
      sum(col("d") + col("c")).over(wR).as("r"))
    val step = "acc.s * (1.0D - CAST(p.d AS DOUBLE) / CAST(p.r AS DOUBLE))"
    risk
      .agg(array_sort(collect_list(struct(col("dur"), col("d"), col("c"),
        col("r")))).as("pts"))
      .select(explode(arrays_zip(col("pts"), expr(
        s"slice(aggregate(pts, named_struct('s', 1.0D, 'out', array(1.0D))," +
          s" (acc, p) -> named_struct('s', $step, 'out'," +
          s" acc.out || array($step))).out, 2, size(pts))").as("sv")))
        .as("z"))
      .select(col("z.pts.dur").as("dur_days"), col("z.pts.r").as("n_risk"),
        col("z.pts.d").as("n_event"), col("z.pts.c").as("n_censor"),
        Det.r4(col("z.sv")).as("surv"))
      .orderBy("dur_days")
  }

  /** LOG-RANK TEST (Mantel–Cox) — does retention differ between the
    * two user segments: the standard two-sample survival comparison
    * over the SAME lifetime/censoring table as [[kaplanMeier]], split
    * by user_id parity. Per distinct event time: group-1 deaths d1
    * and at-risk r1 against totals d, r — the at-risk counts come
    * from a suffix window over the FULL dur × group grid (grid
    * fan-out, so a dur absent from one group still sees that group's
    * correct risk set). O1 = Σd1 is exact BIGINT; the expectation and
    * hypergeometric variance terms are each ONE shared IEEE
    * expression over exact-count doubles, floor-quantized at 1e6 and
    * summed as BIGINT (the kruskal-H order-free-Σ rule; a raw double
    * Σ over event times is addend-order-dependent), with the r ≤ 1
    * variance guard in both texts. z = (O1 − E1)/√V from the
    * quantized sums; NULL when V = 0. */
  def survLogRank(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val per = ev.groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
    val hor = ev.agg(max(col("ts")).as("end_ts"))
    val obs = per.crossJoin(broadcast(hor))
      .select((col("user_id") % 2).as("grp"),
        expr("(unix_micros(last_ts) - unix_micros(first_ts))" +
          " div 86400000000").as("dur"),
        (col("last_ts") >= col("end_ts") - expr("INTERVAL 12 HOURS"))
          .as("censored"))
      .localCheckpoint(eager = false) // durs + the two group counts
    val durs = obs.groupBy(col("dur"), col("grp"))
      .agg(sum(when(col("censored"), 0L).otherwise(1L)).as("d"),
        sum(when(col("censored"), 1L).otherwise(0L)).as("c"))
      .localCheckpoint(eager = false) // grid fan-out + counts
    val grid = durs.select(col("dur")).distinct()
      .crossJoin(broadcast(durs.select(col("grp")).distinct()))
      .join(durs, Seq("dur", "grp"), "left")
      .na.fill(0L, Seq("d", "c"))
    val wR = Window.partitionBy(col("grp")).orderBy(col("dur"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val risk = grid.withColumn("r_g", sum(col("d") + col("c")).over(wR))
    val byT = risk.groupBy(col("dur"))
      .agg(sum(col("d")).as("d"), sum(col("r_g")).as("r"),
        sum(when(col("grp") === 0L, col("d")).otherwise(0L)).as("d1"),
        sum(when(col("grp") === 0L, col("r_g")).otherwise(0L)).as("r1"))
    def dd(c: Column) = c.cast("double")
    val p1 = dd(col("d")) * dd(col("r1")) / dd(col("r"))
    val vt = dd(col("d")) * (dd(col("r1")) / dd(col("r"))) *
      (lit(1.0) - dd(col("r1")) / dd(col("r"))) *
      (dd(col("r")) - dd(col("d"))) / (dd(col("r")) - lit(1.0))
    val s = byT.agg(sum(col("d1")).as("o1"), sum(col("d")).as("d_tot"),
      sum(floor(p1 * lit(1000000.0)).cast("long")).as("e1q"),
      sum(when(col("r") > 1L,
        floor(vt * lit(1000000.0)).cast("long")).otherwise(0L)).as("vq"))
    val n1 = obs.where(col("grp") === 0L).groupBy()
      .agg(count(lit(1)).as("n1"))
    val n2 = obs.where(col("grp") =!= 0L).groupBy()
      .agg(count(lit(1)).as("n2"))
    s.crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .select(col("n1"), col("n2"), col("o1"),
        Det.r4(dd(col("e1q")) / lit(1000000.0)).as("e1"),
        when(col("vq") > 0L,
          Det.r4((dd(col("o1")) - dd(col("e1q")) / lit(1000000.0)) /
            sqrt(dd(col("vq")) / lit(1000000.0))))
          .otherwise(lit(null)).as("z"))
  }

  /** GEHAN–BRESLOW WEIGHTED LOG-RANK — [[survLogRank]]'s
    * early-difference-sensitive sibling (the log-rank weights every
    * event time equally, so late-tail differences dominate; Gehan
    * weights each time by the TOTAL at-risk count r_t, so EARLY
    * separations — the churn-intervention read — carry the test):
    * U = Σ r_t(d1_t − E1_t), Var = Σ r_t²·v_t over the SAME per-time
    * terms as the log-rank, with the identical 1e6-floor quantization
    * of each IEEE term and the r_t / r_t² weights applied as exact
    * integers AFTER quantization (BIGINT for U, DECIMAL(38,0)/HUGEINT
    * for the r²-weighted variance — r²·vq ~ 10¹⁹ at sf1 overflows
    * BIGINT). NULL z on zero variance. Same lifetime/censoring table,
    * same grid machinery, one more aggregation over the ≤ |durs|-row
    * per-time relation. */
  def survGehan(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val per = ev.groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
    val hor = ev.agg(max(col("ts")).as("end_ts"))
    val obs = per.crossJoin(broadcast(hor))
      .select((col("user_id") % 2).as("grp"),
        expr("(unix_micros(last_ts) - unix_micros(first_ts))" +
          " div 86400000000").as("dur"),
        (col("last_ts") >= col("end_ts") - expr("INTERVAL 12 HOURS"))
          .as("censored"))
      .localCheckpoint(eager = false) // durs + the two group counts
    val durs = obs.groupBy(col("dur"), col("grp"))
      .agg(sum(when(col("censored"), 0L).otherwise(1L)).as("d"),
        sum(when(col("censored"), 1L).otherwise(0L)).as("c"))
      .localCheckpoint(eager = false) // grid fan-out + counts
    val grid = durs.select(col("dur")).distinct()
      .crossJoin(broadcast(durs.select(col("grp")).distinct()))
      .join(durs, Seq("dur", "grp"), "left")
      .na.fill(0L, Seq("d", "c"))
    val wR = Window.partitionBy(col("grp")).orderBy(col("dur"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val risk = grid.withColumn("r_g", sum(col("d") + col("c")).over(wR))
    val byT = risk.groupBy(col("dur"))
      .agg(sum(col("d")).as("d"), sum(col("r_g")).as("r"),
        sum(when(col("grp") === 0L, col("d")).otherwise(0L)).as("d1"),
        sum(when(col("grp") === 0L, col("r_g")).otherwise(0L)).as("r1"))
    def dd(c: Column) = c.cast("double")
    val p1 = dd(col("d")) * dd(col("r1")) / dd(col("r"))
    val vt = dd(col("d")) * (dd(col("r1")) / dd(col("r"))) *
      (lit(1.0) - dd(col("r1")) / dd(col("r"))) *
      (dd(col("r")) - dd(col("d"))) / (dd(col("r")) - lit(1.0))
    val s = byT.agg(
      sum(col("r") * (col("d1") * lit(1000000L) -
        floor(p1 * lit(1000000.0)).cast("long"))).as("uq"),
      sum(col("r").cast("decimal(38,0)") * col("r") *
        when(col("r") > 1L, floor(vt * lit(1000000.0)).cast("long"))
          .otherwise(lit(0L))).as("vq"))
    val n1 = obs.where(col("grp") === 0L).groupBy()
      .agg(count(lit(1)).as("n1"))
    val n2 = obs.where(col("grp") =!= 0L).groupBy()
      .agg(count(lit(1)).as("n2"))
    s.crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .select(col("n1"), col("n2"),
        Det.r4(dd(col("uq")) / lit(1000000.0)).as("u"),
        when(col("vq") > lit(0L),
          Det.r4((dd(col("uq")) / lit(1000000.0)) /
            sqrt(dd(col("vq")) / lit(1000000.0))))
          .otherwise(lit(null)).as("z"))
  }

  /** TARONE–WARE WEIGHTED LOG-RANK — the middle point of the
    * log-rank/Gehan weighting ladder (w_t = √r_t): less early-skewed
    * than Gehan's w_t = r_t, more early-sensitive than the unweighted
    * test, the recommended compromise when the hazard-difference
    * timing is unknown. Same per-time terms and grid machinery as
    * [[survLogRank]] / [[survGehan]]; determinism: √r_t of an exact
    * BIGINT is a single correctly-rounded IEEE op, its product with
    * the exact integer U-term (d1·10⁶ − p1q, representable < 2⁵³) is
    * one more IEEE op, and ONE floor per time quantizes the weighted
    * term before the order-free BIGINT Σ. Variance weights are r_t
    * (exact integers), applied AFTER the 1e6 quantization of v_t with
    * the same DECIMAL(38,0)/HUGEINT widening as Gehan. NULL z on zero
    * variance. */
  def survTaroneWare(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val per = ev.groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
    val hor = ev.agg(max(col("ts")).as("end_ts"))
    val obs = per.crossJoin(broadcast(hor))
      .select((col("user_id") % 2).as("grp"),
        expr("(unix_micros(last_ts) - unix_micros(first_ts))" +
          " div 86400000000").as("dur"),
        (col("last_ts") >= col("end_ts") - expr("INTERVAL 12 HOURS"))
          .as("censored"))
      .localCheckpoint(eager = false) // durs + the two group counts
    val durs = obs.groupBy(col("dur"), col("grp"))
      .agg(sum(when(col("censored"), 0L).otherwise(1L)).as("d"),
        sum(when(col("censored"), 1L).otherwise(0L)).as("c"))
      .localCheckpoint(eager = false) // grid fan-out + counts
    val grid = durs.select(col("dur")).distinct()
      .crossJoin(broadcast(durs.select(col("grp")).distinct()))
      .join(durs, Seq("dur", "grp"), "left")
      .na.fill(0L, Seq("d", "c"))
    val wR = Window.partitionBy(col("grp")).orderBy(col("dur"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val risk = grid.withColumn("r_g", sum(col("d") + col("c")).over(wR))
    val byT = risk.groupBy(col("dur"))
      .agg(sum(col("d")).as("d"), sum(col("r_g")).as("r"),
        sum(when(col("grp") === 0L, col("d")).otherwise(0L)).as("d1"),
        sum(when(col("grp") === 0L, col("r_g")).otherwise(0L)).as("r1"))
    def dd(c: Column) = c.cast("double")
    val p1 = dd(col("d")) * dd(col("r1")) / dd(col("r"))
    val vt = dd(col("d")) * (dd(col("r1")) / dd(col("r"))) *
      (lit(1.0) - dd(col("r1")) / dd(col("r"))) *
      (dd(col("r")) - dd(col("d"))) / (dd(col("r")) - lit(1.0))
    val uTerm = floor(sqrt(dd(col("r"))) *
      (col("d1") * lit(1000000L) -
        floor(p1 * lit(1000000.0)).cast("long")).cast("double"))
      .cast("long")
    val s = byT.agg(
      sum(uTerm).as("uq"),
      sum(col("r").cast("decimal(38,0)") *
        when(col("r") > 1L, floor(vt * lit(1000000.0)).cast("long"))
          .otherwise(lit(0L))).as("vq"))
    val n1 = obs.where(col("grp") === 0L).groupBy()
      .agg(count(lit(1)).as("n1"))
    val n2 = obs.where(col("grp") =!= 0L).groupBy()
      .agg(count(lit(1)).as("n2"))
    s.crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .select(col("n1"), col("n2"),
        Det.r4(dd(col("uq")) / lit(1000000.0)).as("u"),
        when(col("vq") > lit(0L),
          Det.r4((dd(col("uq")) / lit(1000000.0)) /
            sqrt(dd(col("vq")) / lit(1000000.0))))
          .otherwise(lit(null)).as("z"))
  }

  /** COX PROPORTIONAL HAZARDS (one binary covariate, Breslow ties) —
    * the model behind the whole weighted-log-rank ladder: hazard
    * h(t|x) = h₀(t)·e^{βx} with x = the [[survLogRank]] group
    * indicator. Newton–Raphson on the Breslow partial log-likelihood:
    *   U(β) = Σ_t [d1_t − d_t·r1_t e^β / (r0_t + r1_t e^β)],
    *   I(β) = Σ_t  d_t·r0_t r1_t e^β / (r0_t + r1_t e^β)²,
    * β ← β + U/I from β = 0. U(0) is EXACTLY the log-rank's O1 − E1
    * (the log-rank is Cox's score test at β = 0) — the spec pins that
    * identity plus |U(β̂)| ≈ 0 against an independent brute-force
    * driver reference. Spec-gated no-oracle: e^β is libm (the ANN /
    * sketch precedent); StrictMath.exp keeps the JVM side
    * deterministic. Scale: the heavy work (per-user lifetime agg +
    * per-time risk grid) is distributed; Newton runs on the collected
    * per-DAY summary — bounded by the calendar span in days, the
    * model-sized-collect class (k-means / Markov precedent). */
  def survCoxPh(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val per = ev.groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
    val hor = ev.agg(max(col("ts")).as("end_ts"))
    val obs = per.crossJoin(broadcast(hor))
      .select((col("user_id") % 2).as("grp"),
        expr("(unix_micros(last_ts) - unix_micros(first_ts))" +
          " div 86400000000").as("dur"),
        (col("last_ts") >= col("end_ts") - expr("INTERVAL 12 HOURS"))
          .as("censored"))
    val durs = obs.groupBy(col("dur"), col("grp"))
      .agg(sum(when(col("censored"), 0L).otherwise(1L)).as("d"),
        sum(when(col("censored"), 1L).otherwise(0L)).as("c"))
      .localCheckpoint(eager = false) // grid fan-out + counts
    val grid = durs.select(col("dur")).distinct()
      .crossJoin(broadcast(durs.select(col("grp")).distinct()))
      .join(durs, Seq("dur", "grp"), "left")
      .na.fill(0L, Seq("d", "c"))
    val wR = Window.partitionBy(col("grp")).orderBy(col("dur"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val risk = grid.withColumn("r_g", sum(col("d") + col("c")).over(wR))
    val byT = risk.groupBy(col("dur"))
      .agg(sum(col("d")).as("d"), sum(col("r_g")).as("r"),
        sum(when(col("grp") === 1L, col("d")).otherwise(0L)).as("d1"),
        sum(when(col("grp") === 1L, col("r_g")).otherwise(0L)).as("r1"))
    // per-DAY summary: <= calendar-span rows — model-sized
    val ts = byT.select(col("dur"), col("d"), col("r"), col("d1"),
        col("r1")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1)
    val n1 = ts.map { case (_, _, r, _, r1) => r - r1 }.max // grp 0
    val n2 = ts.map(_._5).max                               // grp 1
    def scoreInfo(beta: Double): (Double, Double) = {
      var u = 0.0; var inf = 0.0
      ts.foreach { case (_, d, r, d1, r1) =>
        val r0 = (r - r1).toDouble
        val w = r1.toDouble * StrictMath.exp(beta)
        if (r0 + w > 0.0 && d > 0L) {
          val p = w / (r0 + w)
          u += d1.toDouble - d.toDouble * p
          inf += d.toDouble * p * (1.0 - p)
        } else if (d > 0L) u += d1.toDouble
      }
      (u, inf)
    }
    val score0 = scoreInfo(0.0)._1
    var beta = 0.0; var iters = 0L; var u = score0
    var inf = scoreInfo(0.0)._2
    while (iters < 16L && math.abs(u) > 1e-10 && inf > 0.0) {
      beta += u / inf; iters += 1
      val s = scoreInfo(beta); u = s._1; inf = s._2
    }
    val se = if (inf > 0.0) 1.0 / math.sqrt(inf) else Double.NaN
    def r4d(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    import spark.implicits._
    Seq((n1, n2, r4d(beta), r4d(StrictMath.exp(beta)),
        r4d(se), r4d(score0), iters))
      .toDF("n1", "n2", "beta", "hazard_ratio", "se", "score0", "iters")
  }

  /** NELSON–AALEN CUMULATIVE HAZARD — the additive twin of
    * [[kaplanMeier]] over the same lifetime/censoring table:
    * H(t) = Σ_{durᵢ ≤ t} dᵢ/rᵢ. A windowed running double-sum is NOT
    * cross-engine stable (engines may sum segments in different
    * orders), so the hazard accumulates through the SAME sequential
    * fold / recursive-CTE pair as the KM product — each step one IEEE
    * add of an exact-count ratio, identical text both engines. */
  def nelsonAalen(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val per = ev.groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
    val hor = ev.agg(max(col("ts")).as("end_ts"))
    val obs = per.crossJoin(broadcast(hor))
      .select(
        expr("(unix_micros(last_ts) - unix_micros(first_ts))" +
          " div 86400000000").as("dur"),
        (col("last_ts") >= col("end_ts") - expr("INTERVAL 12 HOURS"))
          .as("censored"))
    val durs = obs.groupBy(col("dur"))
      .agg(sum(when(col("censored"), 0L).otherwise(1L)).as("d"),
        sum(when(col("censored"), 1L).otherwise(0L)).as("c"))
    val wR = Window.orderBy(col("dur"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val risk = durs.select(col("dur"), col("d"), col("c"),
      sum(col("d") + col("c")).over(wR).as("r"))
    val step = "acc.s + CAST(p.d AS DOUBLE) / CAST(p.r AS DOUBLE)"
    risk
      .agg(array_sort(collect_list(struct(col("dur"), col("d"), col("c"),
        col("r")))).as("pts"))
      .select(explode(arrays_zip(col("pts"), expr(
        s"slice(aggregate(pts, named_struct('s', 0.0D, 'out', array(0.0D))," +
          s" (acc, p) -> named_struct('s', $step, 'out'," +
          s" acc.out || array($step))).out, 2, size(pts))").as("hz")))
        .as("z"))
      .select(col("z.pts.dur").as("dur_days"), col("z.pts.r").as("n_risk"),
        col("z.pts.d").as("n_event"), col("z.pts.c").as("n_censor"),
        Det.r4(col("z.hz")).as("cumhaz"))
      .orderBy("dur_days")
  }

  /** DATA-QUALITY AUDIT — the dbt-test-style expectations report every
    * warehouse runs before trusting a load: primary-key duplication
    * (rows participating in a duplicated o_orderkey), referential
    * orphans in BOTH fact→dim directions (lineitem→orders,
    * orders→customer — each ONE left join against the distinct key set
    * with a conditional count, never an anti-join + second count scan),
    * a range rule and a null rule. Five small union branches, each one
    * aggregate; every rate an IEEE division of exact counts. At scale
    * each check is a single key-shuffle (or a scan-local agg) over the
    * table it audits. */
  def dqReport(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val li = Tables.lineitem(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    def emit(name: String, viol: Column, checked: Column,
        src: DataFrame): DataFrame =
      src.agg(viol.cast("long").as("n_violations"),
          checked.cast("long").as("n_checked"))
        .select(lit(name).as("check_name"), col("n_violations"),
          col("n_checked"),
          Det.r4(col("n_violations").cast("double") / col("n_checked"))
            .as("viol_rate"))
    val pkDup = emit("orders_pk_unique",
      sum(when(col("n") > 1L, col("n")).otherwise(0L)),
      sum(col("n")),
      o.groupBy(col("o_orderkey")).agg(count(lit(1)).as("n")))
    val orphanLi = emit("lineitem_order_fk",
      sum(when(col("ok").isNull, 1L).otherwise(0L)), count(lit(1)),
      li.join(o.select(col("o_orderkey")).distinct()
          .withColumn("ok", lit(1)),
        col("l_orderkey") === col("o_orderkey"), "left"))
    val orphanO = emit("orders_customer_fk",
      sum(when(col("ck").isNull, 1L).otherwise(0L)), count(lit(1)),
      o.join(c.select(col("c_custkey")).distinct()
          .withColumn("ck", lit(1)),
        col("o_custkey") === col("c_custkey"), "left"))
    val priceRange = emit("lineitem_price_positive",
      sum(when(col("l_extendedprice") <= lit(0.0), 1L).otherwise(0L)),
      count(lit(1)), li)
    val segNull = emit("customer_segment_present",
      sum(when(col("c_mktsegment").isNull ||
        col("c_mktsegment") === lit(""), 1L).otherwise(0L)),
      count(lit(1)), c)
    pkDup.unionByName(orphanLi).unionByName(orphanO)
      .unionByName(priceRange).unionByName(segNull)
      .orderBy("check_name")
  }

  /** REPEAT-PURCHASE CADENCE — the loyalty-cycle summary: per user the
    * lag window yields exact day gaps between consecutive purchases
    * (integer epoch-µs arithmetic), then one global integer-rank
    * selection (the [[timeToConvert]] technique) reads p50/p90 beside
    * the exact-sum mean. The per-user window partitions on the real
    * key; only the gap SUMMARY rows (two longs each) meet the global
    * rank — the honest plan for a 1-row answer. */
  def repeatPurchase(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gaps = Tables.events(spark, sfDir)
      .where(col("event_type") === "purchase")
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .where(col("prev_ts").isNotNull)
      .select(col("user_id"), col("event_id"),
        expr("(unix_micros(ts) - unix_micros(prev_ts)) div 86400000000")
          .as("gap_days"))
    gaps
      .withColumn("rk", row_number().over(
        Window.orderBy(col("gap_days"), col("user_id"), col("event_id"))))
      .withColumn("nc", count(lit(1)).over(Window.partitionBy()))
      .agg(max(col("nc")).as("n_gaps"),
        Det.r4(sum(col("gap_days")).cast("double") / count(lit(1)))
          .as("avg_gap_days"),
        max(when(col("rk") === expr("(nc + 1) div 2"), col("gap_days")))
          .as("p50_gap_days"),
        max(when(col("rk") === expr("(9 * nc + 9) div 10"), col("gap_days")))
          .as("p90_gap_days"))
  }

  /** RFM SEGMENTATION — the classic customer-value grid: per customer,
    * Recency (days since last order vs the dataset anchor), Frequency
    * (order count) and Monetary (exact-decimal revenue), each cut into
    * quartiles by EXPLICIT integer-rank arithmetic
    * (((rk−1)·4) div n + 1 over a total order — our own formula written
    * identically in both engines, never an ntile dialect; quartile 1 =
    * best in every dimension), then the ≤4×4×4 grid summarized. This
    * window form is the ORACLE BASELINE: its three global rank windows
    * sort the per-customer summary through one partition — honest at
    * oracle scale, wrong shape at a billion customers. The production
    * read is [[rfmSegmentsDistributed]], spec'd row-identical. */
  /** The per-customer R/F/M summary both [[rfmSegments]] forms share. */
  private def rfmPerCustomer(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val o = Tables.orders(spark, sfDir)
    o.groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_d"),
        count(lit(1)).as("freq"),
        sum(col("o_totalprice").cast("decimal(18,4)")).as("mon_d"))
      .crossJoin(broadcast(o.agg(max(col("o_orderdate")).as("anchor"))))
      .withColumn("rec_days", // orderdate is NTZ; UTC session ⇒ exact cast
        expr("(unix_micros(CAST(anchor AS TIMESTAMP)) - " +
          "unix_micros(CAST(last_d AS TIMESTAMP))) div 86400000000"))
  }

  def rfmSegments(spark: SparkSession, sfDir: String): DataFrame = {
    val per = rfmPerCustomer(spark, sfDir)
    per
      .withColumn("rr", row_number().over(
        Window.orderBy(col("rec_days"), col("o_custkey"))))
      .withColumn("rf", row_number().over(
        Window.orderBy(col("freq").desc, col("o_custkey"))))
      .withColumn("rm", row_number().over(
        Window.orderBy(col("mon_d").desc, col("o_custkey"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .select(expr("((rr - 1) * 4) div n + 1").as("r_q"),
        expr("((rf - 1) * 4) div n + 1").as("f_q"),
        expr("((rm - 1) * 4) div n + 1").as("m_q"),
        col("mon_d"))
      .transform(rfmGrid)
  }

  /** Shared grid summary of quartiled customers — one aggregation text
    * for the window oracle and the distributed twin. */
  private def rfmGrid(quartiled: DataFrame): DataFrame =
    quartiled
      .groupBy("r_q", "f_q", "m_q")
      .agg(count(lit(1)).as("n_customers"),
        Det.davg4(col("mon_d")).as("avg_monetary"))
      .orderBy("r_q", "f_q", "m_q")

  /** PRODUCTION TWIN of [[rfmSegments]] — the same quartile grid
    * WITHOUT the three single-partition windows: each dimension ranks
    * through the shared offset-seeded rank walk ([[rankWalk]] — the
    * [[mannWhitneyDistributed]] scaffolding), so a billion-customer
    * dimension sorts as `partitions` range-partitioned local sorts
    * plus one P-row collect, never one global WindowExec. The walk
    * assigns ONLY integer ranks; quartile arithmetic is the identical
    * `((rk−1)·4) div n + 1` integer formula and the monetary average
    * re-joins the exact-decimal relation, so the grid is row-identical
    * to the window form by construction (spec'd at several partition
    * counts). Descending dimensions rank by the NEGATED exact scaled
    * key — the same total order the `.desc` window declares. */
  def rfmSegmentsDistributed(spark: SparkSession, sfDir: String,
      partitions: Int = 8): DataFrame = {
    val per = rfmPerCustomer(spark, sfDir).localCheckpoint(eager = false)
    def dimQ(key: Column, name: String): DataFrame = {
      val (ranked, n) = rankWalk(spark,
        per.select(key.as("k"), col("o_custkey").as("id")), partitions)
      ranked.select(col("id").as("o_custkey"),
        expr(s"((rk - 1) * 4) div ${n}L + 1").as(name))
    }
    val rq = dimQ(col("rec_days"), "r_q")
    val fq = dimQ(-col("freq"), "f_q")
    val mq = dimQ(-(col("mon_d") * lit(10000)).cast("long"), "m_q")
    per.select(col("o_custkey"), col("mon_d"))
      .join(rq, "o_custkey").join(fq, "o_custkey").join(mq, "o_custkey")
      .select(col("r_q"), col("f_q"), col("m_q"), col("mon_d"))
      .transform(rfmGrid)
  }

  /** PARETO / ABC CLASSIFICATION — the inventory-concentration read:
    * parts ranked by exact-decimal revenue, cumulative share walks the
    * ranking, class A holds the first 80%, B to 95%, C the tail. The
    * class boundaries compare EXACT DECIMALS by cross-multiplication
    * (cum·5 ≤ tot·4, cum·20 ≤ tot·19) — no float enters until the
    * reported shares, so the classification cannot drift on a rounding
    * ulp. One aggregate shuffle to part grain, one global window over
    * the part SUMMARY (dimension-sized), a ≤3-row answer. This window
    * form is the ORACLE BASELINE; the production read is
    * [[paretoAbcDistributed]], spec'd row-identical. */
  def paretoAbc(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,4)")).as("rev_d"))
    rev
      .withColumn("cum_d", sum(col("rev_d")).over(
        Window.orderBy(col("rev_d").desc, col("l_partkey"))))
      .withColumn("tot_d", sum(col("rev_d")).over(Window.partitionBy()))
      .withColumn("cls",
        when(col("cum_d") * lit(5) <= col("tot_d") * lit(4), "A")
          .when(col("cum_d") * lit(20) <= col("tot_d") * lit(19), "B")
          .otherwise("C"))
      .transform(abcSummary)
  }

  /** Shared class summary — one aggregation text for the window oracle
    * and the distributed twin (input: rev_d, tot_d, cls per part). */
  private def abcSummary(classed: DataFrame): DataFrame =
    classed
      .groupBy(col("cls"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("rev_d")).cast("double").as("class_rev"),
        Det.r4(sum(col("rev_d")).cast("double") /
          max(col("tot_d")).cast("double")).as("rev_share"))
      .orderBy("cls")

  /** PRODUCTION TWIN of [[paretoAbc]] — the cumulative-share walk
    * without the single-partition window: part revenues range-partition
    * descending (negated exact scaled key), partition totals collect
    * once (P rows) into prefix offsets, and one offset-seeded pass
    * classifies each part by comparing its running cumulative against
    * integer thresholds precomputed from the grand total. The decimal
    * compare `cum·5 ≤ tot·4` is equivalent to `cum ≤ ⌊tot·4/5⌋` over
    * the exact scaled integers (computed once in BigInt, so a grand
    * total near Long.Max cannot overflow the threshold math); the
    * class aggregation re-joins the exact-decimal relation through the
    * same [[abcSummary]] text, so the 3-row answer is row-identical to
    * the window form by construction (spec'd at several partition
    * counts). */
  def paretoAbcDistributed(spark: SparkSession, sfDir: String,
      partitions: Int = 8): DataFrame = {
    import spark.implicits._
    val rev = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,4)")).as("rev_d"))
      .localCheckpoint(eager = false)
    val ds = rev
      .select((-(col("rev_d") * lit(10000)).cast("long")).as("k"),
        col("l_partkey").as("id"))
      .as[(Long, Long)]
      .repartitionByRange(partitions, col("k"), col("id"))
      .sortWithinPartitions("k", "id")
      .localCheckpoint(eager = false)
    val partTotals = ds.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var t = 0L
      it.foreach { case (k, _) => t += -k }
      Iterator((pid, t))
    }.collect().toMap
    val tot = partTotals.values.sum
    def thr(num: Long, den: Long): Long = (BigInt(tot) * num / den).toLong
    val thA = thr(4, 5)
    val thB = thr(19, 20)
    val offsets = (0 until partitions).map { p =>
      p -> (0 until p).map(q => partTotals.getOrElse(q, 0L)).sum
    }.toMap
    val bc = spark.sparkContext.broadcast(offsets)
    val classed = ds.mapPartitions { it =>
        var cum = bc.value(
          org.apache.spark.TaskContext.getPartitionId())
        it.map { case (k, id) =>
          cum += -k
          (id, if (cum <= thA) "A" else if (cum <= thB) "B" else "C")
        }
      }.toDF("l_partkey", "cls")
    rev.join(classed, "l_partkey")
      .crossJoin(broadcast(rev.agg(sum(col("rev_d")).as("tot_d"))))
      .transform(abcSummary)
  }

  /** GINI COEFFICIENT of customer revenue — the one-number concentration
    * monitor next to [[paretoAbc]]'s classed view: with customers ranked
    * ascending by exact-decimal revenue (total order), G = (2·Σi·xᵢ −
    * (n+1)·Σx) / (n·Σx). Both Σ terms accumulate as exact DECIMAL
    * (rank·revenue products stay inside DECIMAL(36,4) through sf0.1 ×
    * thousands of customers), so the only float math is the final
    * shared-text IEEE formula. One shuffle to customer grain + one
    * summary-sized rank window → a single row. This window form is the
    * ORACLE BASELINE; the production read is
    * [[revenueGiniDistributed]], spec'd bit-identical. */
  def revenueGini(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = custRevenue(spark, sfDir)
    cust
      .withColumn("i", row_number().over(
        Window.orderBy(col("rev_d"), col("o_custkey"))))
      .transform(giniFromRanked)
  }

  /** HOOVER INDEX (Robin Hood index) of customer revenue — the third
    * concentration read beside [[revenueGini]]/[[paretoAbc]]: the
    * share of total revenue that would have to move to equalize
    * customers, H = Σ|xᵢ − X/n| / (2X) = Σ|n·xᵢ − X| / (2nX).
    * Deliberately integer-only: revenue floors to whole currency
    * units (floor has no rounding-mode dialect), every |n·xᵢ − X|
    * term and their sum stay inside BIGINT through sf1 (Σ ≤ 2nX ≈
    * 7·10¹⁶), and BIGINT→DOUBLE casts round identically in both
    * engines — the decimal→double one-shot cast past 2⁵³ is the trap
    * this avoids (the q_tpch_pricing lesson). NO rank window at all —
    * unlike gini, Hoover needs only the mean, so the whole statistic
    * is two aggregates and scales embarrassingly. */
  def revenueHoover(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = custRevenue(spark, sfDir)
      .select(floor(col("rev_d")).cast("long").as("q"))
      .localCheckpoint(eager = false) // totals + term scan
    val tot = cust.agg(count(lit(1)).as("n"), sum(col("q")).as("x"))
    cust.crossJoin(broadcast(tot))
      .groupBy(col("n"), col("x"))
      .agg(sum(abs(col("n") * col("q") - col("x"))).as("h_num"))
      .select(col("n").as("n_customers"), col("x").as("total_units"),
        col("h_num"),
        Det.r4(col("h_num").cast("double") /
          (lit(2.0) * col("n").cast("double") * col("x").cast("double")))
          .as("hoover"))
  }

  /** Per-customer exact-decimal revenue both [[revenueGini]] forms
    * share. */
  private def custRevenue(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("rev_d"))

  /** Shared moment aggregation + IEEE formula over (rev_d, i)-ranked
    * customers — one text for the window oracle and the distributed
    * twin. `i` arrives as the window's Int in one and the walk's Long
    * in the other; both cast to the same DECIMAL(18,0) before the
    * exact product, so the moments are identical integers. */
  private def giniFromRanked(ranked: DataFrame): DataFrame =
    ranked
      .agg(count(lit(1)).as("n_customers"),
        sum(col("rev_d")).as("s0_d"),
        sum(col("i").cast("decimal(18,0)") * col("rev_d")).as("s1_d"))
      .select(col("n_customers"),
        col("s0_d").cast("double").as("total_rev"),
        Det.r4((lit(2.0) * col("s1_d").cast("double") -
          (col("n_customers") + lit(1L)) * col("s0_d").cast("double")) /
          (col("n_customers") * col("s0_d").cast("double"))).as("gini"))

  /** PRODUCTION TWIN of [[revenueGini]] — the ascending revenue rank
    * comes from the shared offset-seeded [[rankWalk]] (negated nothing:
    * the Gini rank IS ascending) instead of one single-partition
    * row_number window; the walk emits only (customer, rank) integers
    * and the exact-decimal moment sums re-join the revenue relation
    * through the same [[giniFromRanked]] text, so the one-row answer is
    * bit-identical to the window form by construction (spec'd at
    * several partition counts). */
  def revenueGiniDistributed(spark: SparkSession, sfDir: String,
      partitions: Int = 8): DataFrame = {
    val cust = custRevenue(spark, sfDir).localCheckpoint(eager = false)
    val (ranked, _) = rankWalk(spark,
      cust.select((col("rev_d") * lit(10000)).cast("long").as("k"),
        col("o_custkey").as("id")), partitions)
    cust.join(ranked.select(col("id").as("o_custkey"),
        col("rk").as("i")), "o_custkey")
      .transform(giniFromRanked)
  }

  /** Shared OFFSET-SEEDED RANK WALK — the distributed replacement for
    * an unpartitioned `row_number` window at dimension grain
    * ([[mannWhitneyDistributed]]'s two-pass scaffolding, factored for
    * the RFM/Pareto/Gini twins): range-partition (k, id) — already a
    * TOTAL order, ties impossible — sort within partitions, collect
    * one row per partition into prefix offsets, then walk each
    * partition once assigning rank = offset + local position. Returns
    * the (id, rk) relation and the grand total n. The lazy checkpoint
    * pins ONE sampled range layout across the totals pass and the walk
    * — two executions of repartitionByRange may sample different
    * bounds. Descending dimensions pass a negated exact integer key:
    * the same total order their `.desc` window form declares. */
  private def rankWalk(spark: SparkSession, keyed: DataFrame,
      partitions: Int): (DataFrame, Long) = {
    import spark.implicits._
    val ds = keyed.select(col("k").cast("long"), col("id").cast("long"))
      .as[(Long, Long)]
      .repartitionByRange(partitions, col("k"), col("id"))
      .sortWithinPartitions("k", "id")
      .localCheckpoint(eager = false)
    val partTotals = ds.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var t = 0L
      it.foreach(_ => t += 1L)
      Iterator((pid, t))
    }.collect().toMap
    val n = partTotals.values.sum
    val offsets = (0 until partitions).map { p =>
      p -> (0 until p).map(q => partTotals.getOrElse(q, 0L)).sum
    }.toMap
    val bc = spark.sparkContext.broadcast(offsets)
    val ranked = ds.mapPartitions { it =>
        var rk = bc.value(org.apache.spark.TaskContext.getPartitionId())
        it.map { case (_, id) => rk += 1L; (id, rk) }
      }.toDF("id", "rk")
    (ranked, n)
  }

  /** MARKET-BASKET PAIR LIFT — co-occurrence mining over order baskets.
    * ONE shuffle reduces lineitem to order grain (sorted distinct-part
    * arrays, bounded by per-order line counts); every downstream
    * candidate then generates MAP-SIDE: the i<j pair structs explode
    * from each array (≤ k²/2 per order — never an order-key self-join
    * whose inputs re-shuffle twice), item supports explode from the
    * same arrays, and lift = (c_ab·N)/(c_a·c_b) is one IEEE division
    * of exact BIGINT products. Top-15 by support under a total
    * (pa, pb) tiebreak — the boundary is tie-stable at every SF. The
    * order-grain relation checkpoints once for its three consumers. */
  def basketLift(spark: SparkSession, sfDir: String): DataFrame = {
    val ob = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
      // keep the cached basket list at cluster parallelism: AQE
      // coalesces this small aggregate to 1-2 partitions and the lazy
      // checkpoint would freeze that under the heavy per-order pair
      // explosion below (the coPurchasePairs lesson)
      .repartition(spark.sparkContext.defaultParallelism,
        col("l_orderkey"))
      .localCheckpoint(eager = false)
    val n = ob.agg(count(lit(1)).as("n_orders"))
    val supp = ob.select(explode(col("parts")).as("pk"))
      .groupBy(col("pk")).agg(count(lit(1)).as("c"))
    ob.select(explode(expr(
        "flatten(transform(parts, (x, i) -> transform(" +
          "slice(parts, i + 2, size(parts)), " +
          "y -> struct(x AS pa, y AS pb))))")).as("p"))
      .groupBy(col("p.pa").as("pa"), col("p.pb").as("pb"))
      .agg(count(lit(1)).as("c_ab"))
      .join(supp.select(col("pk").as("pa"), col("c").as("c_a")), "pa")
      .join(supp.select(col("pk").as("pb"), col("c").as("c_b")), "pb")
      .crossJoin(broadcast(n))
      .select(col("pa"), col("pb"), col("c_ab"), col("c_a"), col("c_b"),
        // factors cast to DOUBLE before multiplying (the r10 overflow
        // audit rule: BIGINT products cap hypothetical-scale headroom;
        // bit-identical below 2^53)
        Det.r4(col("c_ab").cast("double") * col("n_orders").cast("double") /
          (col("c_a").cast("double") * col("c_b").cast("double")))
          .as("lift"))
      .orderBy(col("c_ab").desc, col("pa"), col("pb"))
      .limit(15)
  }

  /** PAGERANK over the part co-purchase graph — graph centrality made
    * ORACLE-EXACT by the unrolled-integer-rounds discipline
    * (q_llm_kmeans / q_llm_dup_components): ranks live as 10⁶-scaled
    * BIGINTs, each of 3 damped rounds is
    * r′(v) = 150000 + (85 · Σ_{u→v} (r(u) div outdeg(u))) div 100 —
    * every operation an integer add/multiply/floor-division written
    * identically in both engines, so three rounds of a genuinely
    * iterative graph algorithm hash-match DuckDB bit-exactly. Edges
    * are [[basketLift]]'s map-side pair generation symmetrized (the
    * checkpoint-before-union discipline); each round is one equi-join
    * + one aggregate on the node key — the scalable Pregel shape, with
    * lazy checkpoints bounding the unrolled plan. Isolated parts
    * (no co-purchase) are out of the graph by construction. */
  /** The co-purchase graph's (sym edges, out-degrees) — shared by the
    * fixed-round oracle slice and the convergence-stopped production
    * twin. `sliceMod` bounds the part domain (Some(4) = the oracle's
    * deterministic quarter); None is the full graph. */
  /** Distinct undirected co-purchase edges (pa < pb), map-side pair
    * generation from per-order sorted part arrays — never a fact
    * self-join. Shared by PageRank and triangle counting, and
    * MEMOIZED per (corpus, slice): the graph-build is the expensive
    * common prefix of every graph read (the tokenize-once discipline —
    * a real pipeline materializes the edge table once and every
    * algorithm consumes it), so consumers after the first reuse the
    * checkpointed edges instead of re-deriving them ([[SessionMemo]]). */
  private def coPurchasePairs(spark: SparkSession, sfDir: String,
      sliceMod: Option[Int]): DataFrame =
    SessionMemo.getOrBuild(spark, sfDir,
        s"rel.coPurchasePairs|${sliceMod.getOrElse(0)}") {
      val base = Tables.lineitem(spark, sfDir)
      val sliced =
        sliceMod.fold(base)(m => base.where(col("l_partkey") % m === 0))
      sliced
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
        .select(explode(expr(
          "flatten(transform(parts, (x, i) -> transform(" +
            "slice(parts, i + 2, size(parts)), " +
            "y -> struct(x AS pa, y AS pb))))")).as("p"))
        .select(col("p.pa").as("pa"), col("p.pb").as("pb"))
        .distinct()
        // Restore full parallelism BEFORE the checkpoint freezes the
        // layout: AQE coalesces this small distinct output to 1-2
        // partitions (it is only ~MBs), and a lazy localCheckpoint
        // captures that — every downstream wedge join then runs its
        // O(Σd²) fan-out on 1-2 cores (measured 43 s vs 14 s for
        // q_part_jaccard at the 10× soak SF; the whole graph family
        // pays it). An explicit hash repartition keeps the CACHED
        // relation at cluster parallelism — the edge list is small,
        // the work it FEEDS is not.
        .repartition(spark.sparkContext.defaultParallelism, col("pa"))
        .localCheckpoint(eager = false)
    }

  /** Scale-adaptive layout for ITERATIVE graph rounds (r17, guide §2 —
    * derive partitioning from input size, never a constant): the
    * peel/propagation loops do trivial map-side work per row over the
    * cached edge list, so at bench scale their cost is TASK COUNT, not
    * data (measured: 6 kcore peels over a 150k-row sym list take 4.6 s
    * on the wedge guard's 32 frozen partitions vs 2.2 s coalesced — all
    * stage-scheduling overhead). The count() reads (or fills) the lazy
    * checkpoint the loop materializes anyway; partitions then target
    * ~250k rows/task, capped at cluster parallelism, and `coalesce`
    * NEVER widens — at real scale (rows ≥ parallelism × target) this is
    * an exact no-op and the rounds keep full width. The shared memoized
    * wedge-guard layout is untouched: fan-out consumers (jaccard,
    * triangles, resource-alloc) still read the wide relation. */
  private def loopLayout(spark: SparkSession, df: DataFrame,
      targetRows: Long = 250000L): DataFrame = {
    val rows = df.count()
    val parts = math.min(spark.sparkContext.defaultParallelism.toLong,
      rows / targetRows + 1L).toInt
    df.coalesce(parts)
  }

  private def coPurchaseGraph(spark: SparkSession, sfDir: String,
      sliceMod: Option[Int]): (DataFrame, DataFrame) = {
    val pairs = coPurchasePairs(spark, sfDir, sliceMod)
    val sym = pairs.select(col("pa").as("src"), col("pb").as("dst"))
      .unionByName(pairs.select(col("pb").as("src"), col("pa").as("dst")))
      .localCheckpoint(eager = false)
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .localCheckpoint(eager = false)
    (sym, deg)
  }

  /** One damped integer round:
    * r′(v) = 150000 + (85 · Σ_{u→v} (r(u) div outdeg(u))) div 100. */
  private def pagerankRound(r: DataFrame, sym: DataFrame,
      deg: DataFrame): DataFrame = {
    val contrib = r.join(deg, col("node") === col("src"))
      .select(col("src"), expr("r div outdeg").as("c"))
    val sumin = sym.join(contrib, "src")
      .groupBy(col("dst")).agg(sum(col("c")).as("s"))
    // per-round lazy checkpoint: without it AQE re-plans the growing
    // subtree and can pick a too-large broadcast (measured OOM at
    // sf0.1); with it each round is two bounded node-key jobs
    deg.select(col("src").as("node"))
      .join(sumin, col("node") === col("dst"), "left")
      .select(col("node"),
        expr("150000L + (85 * coalesce(s, 0L)) div 100").as("r"))
      .localCheckpoint(eager = false)
  }

  def partPagerank(spark: SparkSession, sfDir: String): DataFrame =
    // the oracle SLICE runs on the deterministic quarter of the part
    // domain (pk % 4 = 0 — the dup_components bounding pattern: the
    // operator's shape is scale-free, the verified slice keeps the
    // 3-round × 2-join × agg pipeline cheap at every SF)
    pagerankRanks(spark, sfDir, Some(4), 3, None)
      .orderBy(col("rank_scaled").desc, col("node"))
      .limit(20)

  /** The PRODUCTION PageRank — [[partPagerank]]'s kernel, unsliced and
    * CONVERGENCE-STOPPED (the kmeansConvergedPar pattern): same
    * integer-exact damped round, but over the FULL part co-purchase
    * graph, iterating until the largest per-node rank move is ≤
    * `tolScaled` (10⁶-scale units; 100 = 10⁻⁴ of a unit rank) or
    * `maxRounds` caps a pathological graph. The probe is one scalar
    * max-|Δ| aggregate per round — driver-synchronized scalars, never
    * data; damping 0.85 contracts the move geometrically so the stop
    * arrives in O(log 1/tol) rounds regardless of graph size. Returns
    * ALL node ranks (a caller ranks/joins downstream), not the
    * oracle's top-20 read.
    *
    * SPEC-GATED, not an oracle query, by design: the round count is
    * data-dependent (no fixed-depth SQL unrolls it); the spec pins it
    * to the sliced oracle twin by running this kernel on the slice
    * subgraph with the round budget forced to the oracle's 3 —
    * bit-equal ranks — then proves full-graph convergence under the
    * cap with conserved total rank mass. */
  def partPagerankConverged(spark: SparkSession, sfDir: String,
      sliceMod: Option[Int] = None, maxRounds: Int = 30,
      tolScaled: Long = 100L): DataFrame =
    pagerankRanks(spark, sfDir, sliceMod, maxRounds, Some(tolScaled))

  /** Every node's rank after `cap` rounds, or once no rank moves by
    * more than `tol` when one is given. */
  private def pagerankRanks(spark: SparkSession, sfDir: String,
      sliceMod: Option[Int], cap: Int, tol: Option[Long]): DataFrame = {
    val (sym0, deg) = coPurchaseGraph(spark, sfDir, sliceMod)
    val sym = loopLayout(spark, sym0) // size-derived round layout (r17)
    val moved: (DataFrame, DataFrame) => Long = (r, next) => {
      val probe = next
        .join(r.select(col("node"), col("r").as("r_prev")), "node")
        .agg(max(abs(col("r") - col("r_prev")))).head
      if (probe.isNullAt(0)) 0L else probe.getLong(0) // empty graph
    }
    val r0 = deg.select(col("src").as("node"), lit(1000000L).as("r"))
    val (r, _) = Rounds(r0, cap, tol.map(_ => moved), tol.getOrElse(0L))(
      pagerankRound(_, sym, deg))
    r.join(deg, col("node") === col("src"))
      .select(col("node"), col("outdeg"), col("r").as("rank_scaled"))
  }

  /** One HITS round on the bipartite edge list: authority = in-sum of
    * hub scores, hub = in-sum of authority scores, each L∞-normalized
    * in EXACT integers ((x·10⁶) div max — the pagerank quantization).
    * FUSED (the r13 verdict ask): each side is ONE job — the scalar
    * max executes against the lazily-checkpointed raw-sum relation
    * (materializing it as a side effect) and comes back as a DRIVER
    * LITERAL, so normalization is a plain projection RIDING the
    * checkpoint — no broadcast exchange, no second materialization.
    * 3 rounds = 6 driver-synchronized jobs (was 13); identical
    * integers, so the unrolled DuckDB oracle is unchanged. BIGINT
    * bound: Σ of 10⁶-scaled scores ≤ 10⁶·indeg and the ·10⁶
    * renormalization product holds BIGINT for in-degrees to ~9·10⁶ —
    * widen the scaled state to DECIMAL(38,0) past that (the
    * kruskalWallis widening note). */
  private def hitsRound(edgesByC: DataFrame, edgesByS: DataFrame,
      h: DataFrame): (DataFrame, DataFrame) = {
    // checkpoint each raw-sum relation BEFORE probing its max: the
    // max action materializes the checkpoint, and every later consumer
    // (normalization projection, next round, summary) rides the cache
    // instead of re-running the edge join (no-CSE).
    // The edge side arrives pre-partitioned AND pre-sorted on the join
    // key (r18, guide §2.4 bucketed layout): the sort-merge join reads
    // it exchange-free and sort-free — only the score table (one row
    // per node, aggregate-grain) shuffles each round.
    val ar = edgesByC.join(h, "c").groupBy(col("s"))
      .agg(sum(col("h")).as("ar"))
      .localCheckpoint(eager = false) // max probe + normalization
    val amRow = ar.agg(max(col("ar"))).head
    val am = if (amRow.isNullAt(0)) 1L else amRow.getLong(0)
    val a = ar.select(col("s"), expr(s"(ar * 1000000L) div ${am}L").as("a"))
      .localCheckpoint(eager = false) // hub step + next round + summary
    val hr = edgesByS.join(a, "s").groupBy(col("c"))
      .agg(sum(col("a")).as("hr"))
      .localCheckpoint(eager = false) // max probe + normalization
    val hmRow = hr.agg(max(col("hr"))).head
    val hm = if (hmRow.isNullAt(0)) 1L else hmRow.getLong(0)
    val h2 = hr.select(col("c"), expr(s"(hr * 1000000L) div ${hm}L").as("h"))
      .localCheckpoint(eager = false) // next round + summary
    (a, h2)
  }

  /** The bipartite customer→supplier edge list in TWO persisted
    * layouts, hash-partitioned and sorted within partitions on `c` and
    * on `s` (r18, guide §2.4/§8 "bucket both sides"): HITS alternates
    * equi-joins on c and on s every round, and the r17 shape re-planned
    * a SortMergeJoin with BOTH sides exchanged per join — 6 data-scale
    * shuffles + sorts of the edge list across 3 rounds (measured 0.95
    * s/round at sf0.1). `persist` (not localCheckpoint) keeps the
    * outputPartitioning/outputOrdering visible to the planner, so every
    * round join streams the cached side exchange-free and sort-free;
    * only the node-grain score table shuffles. The (c,s) distinct rides
    * the c-repartition (HashPartitioning(c) satisfies the (c,s)
    * clustering), so the by-c layout costs no extra exchange over the
    * r17 distinct; the by-s copy is one more edge-list exchange paid
    * ONCE instead of every round. At 100 TB both copies are disk-backed
    * buckets — the standard trade of one materialized layout per join
    * key against per-round shuffles of the same bytes. Both layouts are
    * [[SessionMemo]] entries: every HITS read of a session shares them,
    * and the memo unpersists them when it releases them. */
  private[graft] def hitsGraphKeyed(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame) = {
    val byC = SessionMemo.getOrBuild(spark, sfDir, "rel.hitsByC") {
      val o = Tables.orders(spark, sfDir)
        .select(col("o_orderkey").as("ok"), col("o_custkey").as("c"))
      val l = Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("s"))
      o.join(l, "ok").select(col("c"), col("s"))
        .repartition(col("c")).distinct()
        .sortWithinPartitions("c")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val byS = SessionMemo.getOrBuild(spark, sfDir, "rel.hitsByS")(
      byC.repartition(col("s")).sortWithinPartitions("s")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    (byC, byS)
  }

  private def hitsSummary(a: DataFrame, h: DataFrame): DataFrame = {
    val top = a.select(lit("authority").as("side"), col("s").as("node"),
        col("a").as("score_scaled"))
      .unionByName(h.select(lit("hub").as("side"), col("c").as("node"),
        col("h").as("score_scaled")))
    val w = Window.partitionBy(col("side"))
      .orderBy(col("score_scaled").desc, col("node"))
    top.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 10)
      .orderBy("side", "rk")
  }

  /** HITS hubs & authorities (Kleinberg 1999) over the bipartite
    * customer→supplier purchase graph — the eigenvector centrality
    * read beside [[partPagerank]]'s: which customers are the broad
    * "hub" buyers and which suppliers the consensus "authority"
    * sources. Bipartite edges keep the two scores genuinely distinct
    * (on a symmetric graph hubs = authorities). Determinism: the
    * whole iteration is INTEGER-EXACT — 10⁶-scaled scores, in-sums as
    * BIGINT, L∞ normalization by exact integer division — so 3
    * unrolled rounds match a DuckDB chained-CTE twin bit-for-bit (the
    * partPagerank discipline; every CTE MATERIALIZED per the standing
    * multi-reference rule). Each round is two edge-keyed aggregates +
    * two broadcast scalar joins — linear in |E|, no wedge blow-up;
    * [[partHitsConverged]] is the convergence-stopped production
    * twin. Top-10 per side under the (side, score DESC, node) total
    * order. */
  def partHits(spark: SparkSession, sfDir: String): DataFrame =
    hitsScores(spark, sfDir, 3, None)

  /** The PRODUCTION HITS — [[partHits]]'s kernel, CONVERGENCE-STOPPED
    * (the partPagerankConverged pattern): iterate the same
    * integer-exact round until the largest per-node move on EITHER
    * side is ≤ `tolScaled` (10⁶-scale units) or `maxRounds` caps a
    * pathological graph; the probe is one fused max-|Δ| aggregate per
    * round — a driver-synchronized scalar, never data. Returns the
    * same top-10-per-side summary. SPEC-GATED, not an oracle query
    * (data-dependent round count): the spec forces the round budget
    * to the oracle's 3 (tol 0) and proves bit-equality to
    * [[partHits]], then full convergence under the default cap. */
  def partHitsConverged(spark: SparkSession, sfDir: String,
      maxRounds: Int = 30, tolScaled: Long = 100L): DataFrame =
    hitsScores(spark, sfDir, maxRounds, Some(tolScaled))

  /** The (authority, hub) state after `cap` rounds, or once neither
    * side moves by more than `tol` when one is given, summarized. */
  private def hitsScores(spark: SparkSession, sfDir: String, cap: Int,
      tol: Option[Long]): DataFrame = {
    val (edgesByC, edgesByS) = hitsGraphKeyed(spark, sfDir)
    // distinct rides the keyed layout — no exchange
    def ones(edges: DataFrame, node: String, score: String) =
      edges.select(col(node)).distinct()
        .withColumn(score, lit(1000000L))
        .localCheckpoint(eager = false)
    // ONE fused probe job (r13 verdict ask): both sides' |Δ| union into
    // a single max — the relations are checkpoint-backed, so the
    // union's no-CSE hazard costs nothing
    val moved: ((DataFrame, DataFrame), (DataFrame, DataFrame)) => Long = {
      case ((a, h), (a2, h2)) =>
        val probe = a2.join(a.select(col("s"), col("a").as("ap")), "s")
          .select(abs(col("a") - col("ap")).as("d"))
          .unionByName(
            h2.join(h.select(col("c"), col("h").as("hp")), "c")
              .select(abs(col("h") - col("hp")).as("d")))
          .agg(max(col("d"))).head
        if (probe.isNullAt(0)) 0L else probe.getLong(0)
    }
    val h0 = ones(edgesByC, "c", "h")
    // only the probe reads the initial authorities
    val a0 = if (tol.isEmpty) null else ones(edgesByS, "s", "a")
    val ((a, h), _) = Rounds.run[(DataFrame, DataFrame)](
      (a0, h0), cap, s => Seq(s._1, s._2),
      tol.map(_ => moved), tol.getOrElse(0L)) {
      case (_, h) => hitsRound(edgesByC, edgesByS, h)
    }
    hitsSummary(a, h)
  }

  /** TRIANGLE COUNTING over the part co-purchase graph — the local
    * clustering primitive behind community detection and recommender
    * quality reads, on the same oracle slice as [[partPagerank]].
    * Implementation is the Schank–Wagner degree-oriented wedge join
    * (the distributed-triangle standard, cf. Suri & Vassilvitskii
    * WWW'11 "Counting triangles and the curse of the last reducer"):
    * every undirected edge orients from its lower-(degree, id)
    * endpoint to the higher, so each triangle has EXACTLY ONE node
    * with two out-edges — wedges fan out from that apex only, bounding
    * per-node join fanout by oriented out-degree (≤ O(√|E|)) instead
    * of raw degree: the hub that melts the naive a<b<c join at 100 TB
    * generates almost no wedges here. One wedge equi-join on the apex
    * + one edge equi-join closes each triangle exactly once; per-node
    * counts then credit all three corners (checkpoint before the
    * 3-way union — union children don't CSE). The DuckDB twin counts
    * the same triangles via the plain ordered 3-way join — enumeration
    * differs, the multiset of triangles is provably identical. */
  def partTriangles(spark: SparkSession, sfDir: String): DataFrame =
    triPerNode(spark, sfDir)
      .orderBy(col("n_tri").desc, col("node"))
      .limit(20)

  /** Per-node triangle counts via the degree-oriented wedge join —
    * shared by [[partTriangles]] and [[partClusteringCoef]]. */
  private def triPerNode(spark: SparkSession, sfDir: String): DataFrame = {
    val e = coPurchasePairs(spark, sfDir, Some(4))
    val deg = e.select(explode(array(col("pa"), col("pb"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val withDeg = e
      .join(deg.select(col("n").as("pa"), col("d").as("da")), "pa")
      .join(deg.select(col("n").as("pb"), col("d").as("db")), "pb")
    // orient by the (degree, id) total order; carry the head's key so
    // wedge endpoints sort by the SAME order the closing edge uses
    val oriented = withDeg.select(
        when(struct(col("da").as("d"), col("pa").as("i")) <
            struct(col("db").as("d"), col("pb").as("i")),
          struct(col("pa").as("src"), col("pb").as("dst"),
            struct(col("db").as("d"), col("pb").as("i")).as("kd")))
          .otherwise(struct(col("pb").as("src"), col("pa").as("dst"),
            struct(col("da").as("d"), col("pa").as("i")).as("kd"))).as("o"))
      .select(col("o.src").as("src"), col("o.dst").as("dst"),
        col("o.kd").as("kd"))
      .localCheckpoint(eager = false)
    val w1 = oriented.select(col("src").as("apex"), col("dst").as("v1"),
      col("kd").as("k1"))
    val w2 = oriented.select(col("src").as("apex"), col("dst").as("v2"),
      col("kd").as("k2"))
    val close = oriented.select(col("src").as("v1"), col("dst").as("v2"))
    val tri = w1.join(w2, "apex").where(col("k1") < col("k2"))
      .join(close, Seq("v1", "v2"))
      .select(col("apex"), col("v1"), col("v2"))
      .localCheckpoint(eager = false)
    tri.select(col("apex").as("node"))
      .unionByName(tri.select(col("v1").as("node")))
      .unionByName(tri.select(col("v2").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
  }

  /** LOCAL CLUSTERING COEFFICIENT (Watts–Strogatz) per node —
    * 2·tri(v) / (d(v)·(d(v)−1)), the "how clique-like is this part's
    * neighborhood" read beside the raw triangle counts: triangle
    * counts come from the SAME degree-oriented wedge join as
    * [[partTriangles]] (shared [[triPerNode]]), degrees from the
    * symmetric adjacency, and the ranking key is the exact integer
    * quotient (2·tri·10¹²) div (d(d−1)) — BIGINT-safe to ~9·10⁶
    * triangles per node (widen to DECIMAL(38,0) products past that,
    * the jq rule). Nodes with d ≥ 2 and zero triangles report 0 —
    * the left join keeps them honest. Top-20 under (cq DESC, node). */
  def partClusteringCoef(spark: SparkSession, sfDir: String): DataFrame = {
    val e = coPurchasePairs(spark, sfDir, Some(4))
    val deg = e.select(explode(array(col("pa"), col("pb"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    deg.where(col("d") >= 2)
      .join(triPerNode(spark, sfDir), Seq("node"), "left")
      .na.fill(0L, Seq("n_tri"))
      .select(col("node"), col("d"), col("n_tri"),
        expr("(2 * n_tri * 1000000000000L) div (d * (d - 1))").as("cq"))
      .select(col("node"), col("d"), col("n_tri"), col("cq"),
        Det.r4(col("cq").cast("double") / lit(1.0e12)).as("coef"))
      .orderBy(col("cq").desc, col("node"))
      .limit(20)
  }

  /** One k-core peel: recount degrees over the surviving symmetric
    * edge set, keep edges whose BOTH endpoints still have deg ≥ k.
    * Two node-key semi-joins + one groupBy — linear per round, no
    * driver data. The alive set checkpoints once for its two
    * consumers (union/semi children do not CSE). */
  private def kcorePeel(sym: DataFrame, k: Int): DataFrame = {
    val alive = sym.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .where(col("d") >= k).select(col("src").as("n"))
      .localCheckpoint(eager = false)
    sym.join(alive.select(col("n").as("src")), Seq("src"), "left_semi")
      .join(alive.select(col("n").as("dst")), Seq("dst"), "left_semi")
      .localCheckpoint(eager = false)
  }

  /** K-CORE DECOMPOSITION (k = 3) over the co-purchase graph — the
    * classic "dense sub-community" peel: repeatedly delete nodes of
    * degree < k until the k-core remains. Oracle form unrolls SIX
    * integer-exact peel rounds (the q_llm_kmeans unrolled-rounds
    * discipline: every round is identical relational text in both
    * engines, so a genuinely iterative distributed algorithm
    * hash-matches bit-exactly); [[kcoreConverged]] is the production
    * twin that peels to an actual fixpoint. Top-20 survivors under
    * the (core_deg DESC, node) total order. */
  def partKcore(spark: SparkSession, sfDir: String): DataFrame =
    kcore(spark, sfDir, 3, 6, converge = false)

  /** Convergence-stopped k-core peel (production twin of
    * [[partKcore]]): peels until the surviving edge count is stable —
    * the count is the round's only driver-side value (one Long per
    * round, the partPagerankConverged pattern). */
  def kcoreConverged(spark: SparkSession, sfDir: String, k: Int = 3,
      maxRounds: Int = 64): DataFrame =
    kcore(spark, sfDir, k, maxRounds, converge = true)

  private def kcore(spark: SparkSession, sfDir: String, k: Int, cap: Int,
      converge: Boolean): DataFrame = {
    val (sym0, _) = coPurchaseGraph(spark, sfDir, Some(4))
    val e0 = loopLayout(spark, sym0) // size-derived round layout (r17)
    val (e, _) = Rounds(e0, cap, if (converge) peeled(e0) else None)(
      kcorePeel(_, k))
    e.groupBy(col("src")).agg(count(lit(1)).as("core_deg"))
      .select(col("src").as("node"), col("core_deg"))
      .orderBy(col("core_deg").desc, col("node"))
      .limit(20)
  }

  /** The k-core/k-truss stop probe: edges a round peeled, from a count
    * carried across rounds (one count per round; 0 = fixpoint). */
  private def peeled(init: DataFrame): Rounds.Probe[DataFrame] = {
    var prev = init.count()
    Some((_, next) => {
      val n = next.count()
      val d = prev - n
      prev = n
      d
    })
  }

  /** One k-truss peel round over canonical (pa < pb) edges: enumerate
    * the surviving triangles with the plain ordered 3-way join, credit
    * all three edges (checkpoint before the union — union children
    * don't CSE), keep edges with support ≥ minSup carrying that
    * support. Edges in no triangle simply have no support row — the
    * inner join IS the filter. */
  private def trussRound(e: DataFrame, minSup: Long): DataFrame = {
    val e1 = e.select(col("pa"), col("pb"))
      .localCheckpoint(eager = false) // wedge sides + the final join
    val t2 = e1.select(col("pa"), col("pb").as("pc"))
    val t3 = e1.select(col("pa").as("pb"), col("pb").as("pc"))
    val tri = e1.join(t2, "pa").where(col("pb") < col("pc"))
      .join(t3, Seq("pb", "pc"))
      .select(col("pa"), col("pb"), col("pc"))
      .localCheckpoint(eager = false) // credited three ways below
    val sup = tri.select(col("pa"), col("pb"))
      .unionByName(tri.select(col("pa"), col("pc").as("pb")))
      .unionByName(tri.select(col("pb").as("pa"), col("pc").as("pb")))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("sup"))
      .where(col("sup") >= minSup)
    e1.join(sup, Seq("pa", "pb"))
  }

  /** K-TRUSS DECOMPOSITION (k = 4) over the co-purchase graph — the
    * EDGE-density sibling of [[partKcore]] (Cohen 2008): repeatedly
    * delete edges supported by fewer than k−2 surviving triangles;
    * what remains is the strongest cohesion read short of clique
    * enumeration (every k-truss edge sits in a dense near-clique, and
    * truss ⊆ core strictly). Oracle form unrolls THREE integer-exact
    * peel rounds (the partKcore unrolled-rounds discipline: identical
    * relational text in both engines, triangle multisets provably
    * equal under the ordered 3-way enumeration, support counts exact
    * BIGINTs); [[ktrussConverged]] peels to a fixpoint. Per-round
    * cost is one triangle enumeration over the SURVIVING edges —
    * monotone shrinking, bounded by the first round. Top-20 edges
    * under the (sup DESC, pa, pb) total order. */
  def partKtruss(spark: SparkSession, sfDir: String): DataFrame =
    ktruss(spark, sfDir, 4, 3, converge = false)

  /** Convergence-stopped twin of [[partKtruss]] (the kcoreConverged
    * pattern): peels until the surviving edge count is stable — one
    * Long per round driver-side. */
  def ktrussConverged(spark: SparkSession, sfDir: String, k: Int = 4,
      maxRounds: Int = 64): DataFrame =
    ktruss(spark, sfDir, k, maxRounds, converge = true)

  private def ktruss(spark: SparkSession, sfDir: String, k: Int, cap: Int,
      converge: Boolean): DataFrame = {
    val e0 = coPurchasePairs(spark, sfDir, Some(4))
    val (e, _) = Rounds(e0, cap, if (converge) peeled(e0) else None)(
      trussRound(_, (k - 2).toLong))
    e.select(col("pa"), col("pb"), col("sup"))
      .orderBy(col("sup").desc, col("pa"), col("pb"))
      .limit(20)
  }

  /** NEIGHBORHOOD JACCARD SIMILARITY over the co-purchase graph —
    * "parts bought alongside the same other parts": for each node
    * pair sharing a neighbor, |N∩|/|N∪| with |N∪| = d₁ + d₂ − |N∩|.
    * Candidates come from the apex wedge EQUI-join (only pairs with
    * ≥ 1 common neighbor ever materialize — never an all-pairs
    * cross); the ranking key is the exact integer quotient
    * (common · 10¹²) div union — cross-engine stable where a double
    * ratio's ties are not (BIGINT-safe to ~9·10⁶ common neighbors;
    * widen to DECIMAL(38,0) products past that). Top-15 under the
    * (jq DESC, v1, v2) total order. */
  def partJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    val e = coPurchasePairs(spark, sfDir, Some(4))
    val sym = e.select(col("pa").as("src"), col("pb").as("dst"))
      .unionByName(e.select(col("pb").as("src"), col("pa").as("dst")))
      .localCheckpoint(eager = false)
    // codegen'd self-join on the apex beats map-side array explosion
    // here (measured 1.98 vs 2.59 s at sf0.1): hub-node arrays
    // concentrate the O(d²) pair generation into single interpreted
    // lambda evaluations, while the join streams and AQE rebalances
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .localCheckpoint(eager = false)
    val w1 = sym.select(col("src").as("apex"), col("dst").as("v1"))
    val w2 = sym.select(col("src").as("apex"), col("dst").as("v2"))
    w1.join(w2, "apex").where(col("v1") < col("v2"))
      .groupBy(col("v1"), col("v2")).agg(count(lit(1)).as("common_n"))
      .join(deg.select(col("src").as("v1"), col("d").as("d1")), "v1")
      .join(deg.select(col("src").as("v2"), col("d").as("d2")), "v2")
      .select(col("v1"), col("v2"), col("common_n"),
        (col("d1") + col("d2") - col("common_n")).as("union_n"),
        expr("(common_n * 1000000000000L) div " +
          "(d1 + d2 - common_n)").as("jq"))
      .select(col("v1"), col("v2"), col("common_n"), col("union_n"),
        col("jq"),
        Det.r4(col("common_n").cast("double") /
          col("union_n").cast("double")).as("jaccard"))
      .orderBy(col("jq").desc, col("v1"), col("v2"))
      .limit(15)
  }

  /** CONNECTED COMPONENTS of the co-purchase graph — "product
    * families": 8 unrolled rounds of min-label propagation (the
    * q_llm_dup_components recursion on the part graph; integer-only
    * state, so every round is exact in any engine and the unrolled
    * DuckDB twin matches bit-for-bit REGARDLESS of convergence — the
    * spec additionally proves [[componentsConverged]] lands on the
    * same labels, i.e. 8 rounds DO converge at fixture SFs). Per
    * round: one shuffle on dst for the neighbor-min, one equi-join
    * back; label state is one BIGINT per node however large the
    * component. Top-20 components under the (n_members DESC, comp)
    * total order. */
  def partComponents(spark: SparkSession, sfDir: String): DataFrame =
    components(spark, sfDir, 8, converge = false)

  /** Convergence-stopped twin of [[partComponents]] (the kcoreConverged
    * pattern): propagate until no label changes — the change count is
    * the round's only driver-side value. */
  def componentsConverged(spark: SparkSession, sfDir: String,
      maxRounds: Int = 64): DataFrame =
    components(spark, sfDir, maxRounds, converge = true)

  private def components(spark: SparkSession, sfDir: String, cap: Int,
      converge: Boolean): DataFrame = {
    val (sym, nodes) = componentGraph(spark, sfDir)
    componentSummary(minLabels(sym, nodes, cap, converge))
  }

  /** POINTER-DOUBLING production twin of [[partComponents]] /
    * [[componentsConverged]]: plain min-label propagation needs
    * O(diameter) rounds — a long-chain graph at 100× stalls it (the
    * r12 self-flag). Each round here is propagate THEN shortcut:
    *
    *   1. comp(v) ← min(comp(v), min_{u∈N(v)} comp(u))   (one hop)
    *   2. comp(v) ← comp(comp(v))                        (doubling)
    *
    * Labels are always node ids (mins of node ids), so step 2 is an
    * equi-join of the label relation with itself on comp = node; the
    * label-holder distance roughly doubles per round → O(log d)
    * rounds (pointer jumping / the large-star–small-star geometry).
    * Fixpoint identity: when a combined round changes nothing,
    * propagate alone is stable, which forces labels constant per
    * component = the component minimum — the SAME labels as the
    * O(d) twin (spec'd on a diameter-299 path the plain twin cannot
    * finish in a 16-round budget, and bit-equal to q_part_components
    * at fixture SFs, sharing its unrolled oracle). State is one
    * BIGINT per node; each round is two equi-joins + one aggregate —
    * shuffle-bounded, never a collect. */
  def componentsDoubling(sym: DataFrame, nodes: DataFrame,
      maxRounds: Int = 32): (DataFrame, Int) =
    Rounds(nodes.localCheckpoint(eager = false), maxRounds, labelsChanged) {
      labels =>
        val prop = componentStep(sym, labels)
        prop.as("a")
          .join(prop.select(col("node").as("n2"), col("comp").as("c2")),
            col("a.comp") === col("n2"), "left")
          .select(col("a.node").as("node"),
            least(col("a.comp"), coalesce(col("c2"), col("a.comp")))
              .as("comp"))
          .localCheckpoint(eager = false)
    }

  /** [[componentsDoubling]] over the co-purchase graph, summarized —
    * registered as q_part_components_pd against the SAME unrolled
    * oracle as q_part_components (identical labels by the fixpoint
    * argument above; the bpe_encode_prod shared-oracle precedent). */
  def partComponentsPd(spark: SparkSession, sfDir: String): DataFrame = {
    val (sym, nodes) = componentGraph(spark, sfDir)
    componentSummary(componentsDoubling(sym, nodes)._1)
  }

  /** SAMPLED HARMONIC CENTRALITY over the co-purchase graph — the
    * closeness-family read the part family lacked ("which products
    * sit nearest everything else"), in the form that scales: exact
    * all-pairs BFS is O(V·E), so centrality is estimated from K = 8
    * deterministic seed sources (smallest node ids — the standard
    * pivot-sampling estimator, Eppstein–Wang 2004 [U]) with 6
    * unrolled multi-source BFS rounds. ORACLE-CHECKABLE throughout:
    * distances are integers, and the harmonic kernel Σ 1/d sums as
    * the EXACT integer Σ (60 div d) (60 = lcm(1..6) — every
    * in-horizon distance divides it), so no float ever appears.
    * State is (seed × node) = 8·V rows; each round one edge join +
    * one min-aggregate — the Pregel shape, never a collect. Top-20
    * under the (h DESC, node) total order. */
  def partHarmonic(spark: SparkSession, sfDir: String): DataFrame = {
    val (sym, nodes0) = componentGraph(spark, sfDir)
    val seeds = nodes0.select(col("node")).orderBy("node").limit(8)
    var dist = seeds.select(col("node").as("seed"), col("node"),
      lit(0L).as("d")).localCheckpoint(eager = false)
    for (_ <- 1 to 6) {
      val nbr = sym.join(dist, sym("src") === dist("node"))
        .select(col("seed"), col("dst").as("node"),
          (col("d") + lit(1L)).as("d"))
      dist = dist.unionByName(nbr)
        .groupBy(col("seed"), col("node")).agg(min(col("d")).as("d"))
        .localCheckpoint(eager = false) // next round joins it twice
    }
    dist.where(col("d") > 0L)
      .select(col("node"), expr("60L div d").as("hc"))
      .groupBy(col("node"))
      .agg(sum(col("hc")).as("h"), count(lit(1)).as("n_reached"))
      .orderBy(col("h").desc, col("node"))
      .limit(20)
  }

  /** RICH-CLUB COEFFICIENT of the co-purchase graph — do the
    * best-connected products preferentially connect to EACH OTHER
    * (Zhou & Mondragón 2004)? φ(k) = 2·E₍>k₎ / (n₍>k₎·(n₍>k₎−1)) at
    * degree thresholds k ∈ {16,24,32,40} (the fixture degree range spans ~8–62): the density of the subgraph
    * induced by nodes of degree > k. Fully exact: degrees, club
    * sizes and club edge counts are BIGINTs from one edge pass per
    * threshold set (a conditional aggregate over the edges×thresholds
    * cross — 4 constants, not a fan-out), φ is a single
    * cast-first double expression; NULL below 2 members. */
  def partRichClub(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (sym, deg) = coPurchaseGraph(spark, sfDir, Some(4))
    val pairs = coPurchasePairs(spark, sfDir, Some(4))
    val ks = Seq(16L, 24L, 32L, 40L).toDF("k")
    val nk = deg.crossJoin(broadcast(ks)).groupBy(col("k"))
      .agg(sum(when(col("outdeg") > col("k"), 1L).otherwise(0L))
        .as("n_k"))
    val e = pairs
      .join(deg.select(col("src").as("pa"), col("outdeg").as("da")),
        "pa")
      .join(deg.select(col("src").as("pb"), col("outdeg").as("db")),
        "pb")
    val ek = e.crossJoin(broadcast(ks)).groupBy(col("k"))
      .agg(sum(when(col("da") > col("k") && col("db") > col("k"), 1L)
        .otherwise(0L)).as("e_k"))
    def d(c: Column) = c.cast("double")
    nk.join(ek, "k")
      .select(col("k"), col("n_k"), col("e_k"),
        when(col("n_k") >= 2L,
          Det.r4(lit(2.0) * d(col("e_k")) /
            (d(col("n_k")) * (d(col("n_k")) - lit(1.0)))))
          .otherwise(lit(null)).as("phi"))
      .orderBy("k")
  }

  private def componentGraph(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame) = {
    val e = coPurchasePairs(spark, sfDir, Some(4))
    // every componentGraph consumer is an iterative round loop
    // (components, pointer doubling, harmonic BFS, LPA) — size-derived
    // round layout (r17, see loopLayout)
    val sym = loopLayout(spark,
      e.select(col("pa").as("src"), col("pb").as("dst"))
        .unionByName(e.select(col("pb").as("src"), col("pa").as("dst")))
        .localCheckpoint(eager = false)) // per-round joins + node list
    val nodes = sym.select(col("src").as("node")).distinct()
      .withColumn("comp", col("node"))
    (sym, nodes)
  }

  private[graft] def componentStep(sym: DataFrame, labels: DataFrame)
      : DataFrame = {
    val nbrMin = sym.join(labels, sym("src") === labels("node"))
      .groupBy(col("dst")).agg(min(col("comp")).as("m"))
    labels.join(nbrMin, labels("node") === nbrMin("dst"), "left")
      .select(labels("node"),
        least(col("comp"), coalesce(col("m"), col("comp"))).as("comp"))
      .localCheckpoint(eager = false)
  }

  /** Min-label propagation — the one loop of the part-graph and
    * near-dup-doc components reads — from `labels` (node, comp) over
    * the symmetric `sym` (src, dst): `cap` rounds, or until a round
    * changes no label when `converge`. */
  private[graft] def minLabels(sym: DataFrame, labels: DataFrame, cap: Int,
      converge: Boolean): DataFrame =
    Rounds(labels, cap, if (converge) labelsChanged else None)(
      componentStep(sym, _))._1

  /** The components stop probe: how many labels the round changed. */
  private val labelsChanged: Rounds.Probe[DataFrame] = Some((prev, next) =>
    next.join(prev.select(col("node"), col("comp").as("prev")), "node")
      .where(col("comp") =!= col("prev")).count())

  private def componentSummary(labels: DataFrame): DataFrame =
    labels.groupBy(col("comp")).agg(count(lit(1)).as("n_members"))
      .orderBy(col("n_members").desc, col("comp"))
      .limit(20)

  /** LABEL-PROPAGATION COMMUNITIES (Raghavan 2007, synchronous
    * variant) over the co-purchase graph — the modularity-free
    * community baseline beside [[partComponents]] (components answers
    * reachability; LPA finds densely-linked clusters INSIDE one
    * component): each round every node adopts the MODE of its
    * neighbors' labels, ties broken by the smallest label — a total
    * deterministic update rule, so 4 unrolled synchronous rounds match
    * a chained MATERIALIZED-CTE DuckDB twin bit-for-bit (the
    * partComponents discipline with an argmax instead of a min). Per
    * round: one shuffle for the (dst, label) counts, one window over
    * that count relation (label-grain, not edge-grain), one node-key
    * join back; label state is one BIGINT per node. Top-20 communities
    * under the (n_members DESC, community) total order. */
  def partLabelProp(spark: SparkSession, sfDir: String): DataFrame =
    lpaLabels(spark, sfDir)._2.groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(col("n_members").desc, col("community"))
      .limit(20)

  /** [[componentGraph]]'s symmetric edges and their (node, lbl) labels
    * after the 4 synchronous LPA rounds — a fixed-round loop, so a
    * plain `for`. */
  private def lpaLabels(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame) = {
    val (sym, nodes0) = componentGraph(spark, sfDir)
    val nodes = nodes0.select(col("node"))
      .localCheckpoint(eager = false) // every round's carry join
    var labels = nodes.select(col("node"), col("node").as("lbl"))
    for (_ <- 1 to 4) {
      val cnt = sym.join(labels, sym("src") === labels("node"))
        .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("dst"))
        .orderBy(col("c").desc, col("lbl"))
      val pick = cnt.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("dst").as("node"), col("lbl"))
      labels = nodes
        .join(pick, Seq("node"), "left")
        .select(col("node"), coalesce(col("lbl"), col("node")).as("lbl"))
        .localCheckpoint(eager = false) // next round + the reader
    }
    (sym, labels)
  }

  /** NEWMAN MODULARITY of the [[partLabelProp]] partition — the
    * community-quality number that belongs beside any community
    * detector: Q = Σ_c [ e_c^dir/(2m) − (d_c/(2m))² ] over the same
    * 4-round synchronous LPA labels (deterministic, so the whole
    * pipeline stays oracle-checkable). Exact accumulation: within-
    * community directed stub counts and community degree sums are
    * BIGINTs; each community's term is ONE shared IEEE expression
    * floor-quantized at 1e12 and summed as BIGINT (the kruskal hq
    * rule — a raw double Σ over communities is addend-order-
    * dependent; floor is well-defined for the negative terms too).
    * Shape: the LPA rounds + one edge-key label join + two
    * community-grain aggregates. */
  def partModularity(spark: SparkSession, sfDir: String): DataFrame = {
    val (sym, lbl) = lpaLabels(spark, sfDir) // both stub ends + degree
    val stubs = sym
      .join(lbl.select(col("node").as("src"), col("lbl").as("ls")), "src")
      .join(lbl.select(col("node").as("dst"), col("lbl").as("ld")), "dst")
    // within-community directed stubs + per-community degree sums
    val perC = stubs.groupBy(col("ls").as("lbl"))
      .agg(count(lit(1)).as("d_c"),
        sum(when(col("ls") === col("ld"), 1L).otherwise(0L)).as("e2_c"))
      .localCheckpoint(eager = false) // total + per-community terms
    val tot = perC.agg(sum(col("d_c")).as("m2"))
    def d(c: Column) = c.cast("double")
    val term = d(col("e2_c")) / d(col("m2")) -
      (d(col("d_c")) / d(col("m2"))) * (d(col("d_c")) / d(col("m2")))
    val agg = perC.crossJoin(broadcast(tot))
      .select(col("m2"),
        floor(term * lit(1.0e12)).cast("long").as("tq"))
      .groupBy(col("m2"))
      .agg(count(lit(1)).as("n_communities"), sum(col("tq")).as("tqs"))
    agg.select(col("n_communities"), expr("m2 div 2").as("m"),
      Det.r4(d(col("tqs")) / lit(1.0e12)).as("q"))
  }

  /** RESOURCE-ALLOCATION link-prediction index (Zhou–Lü–Zhang 2009)
    * over the co-purchase graph — the hub-discounting complement of
    * [[partJaccard]]: each common neighbor w contributes 1/d(w), so a
    * promiscuous hub vouches for a pair far less than an exclusive
    * mutual friend (RA beats common-neighbor counts on exactly the
    * skewed graphs where hubs dominate). EXACT ranking: the per-apex
    * contribution quantizes as floor(10¹²/d(w)) BIGINT at wedge-
    * generation time, so the sum, the order and the ties are
    * bit-identical cross-engine; only the reported double divides
    * back. Same wedge equi-join candidate shape as jaccard (pairs
    * with ≥ 1 common neighbor, never all-pairs); the degree join is
    * against the model-sized degree table. Top-15 under the
    * (ra_q DESC, v1, v2) total order. */
  def partResourceAlloc(spark: SparkSession, sfDir: String): DataFrame = {
    val e = coPurchasePairs(spark, sfDir, Some(4))
    val sym = e.select(col("pa").as("src"), col("pb").as("dst"))
      .unionByName(e.select(col("pb").as("src"), col("pa").as("dst")))
      .localCheckpoint(eager = false) // wedge sides + degree
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("dw"))
    val w1 = sym.select(col("src").as("apex"), col("dst").as("v1"))
    val w2 = sym.select(col("src").as("apex"), col("dst").as("v2"))
    w1.join(w2, "apex").where(col("v1") < col("v2"))
      .join(deg.select(col("src").as("apex"), col("dw")), "apex")
      .groupBy(col("v1"), col("v2"))
      .agg(count(lit(1)).as("common_n"),
        sum(expr("1000000000000L div dw")).as("ra_q"))
      .select(col("v1"), col("v2"), col("common_n"), col("ra_q"),
        Det.r4(col("ra_q").cast("double") / lit(1.0e12)).as("ra"))
      .orderBy(col("ra_q").desc, col("v1"), col("v2"))
      .limit(15)
  }

  /** PREFERENTIAL-ATTACHMENT link-prediction index (Barabási–Albert /
    * Liben-Nowell–Kleinberg 2003) over the co-purchase graph — the
    * third index beside [[partJaccard]] and [[partResourceAlloc]]:
    * score(u,v) = d(u)·d(v), the "rich get richer" baseline every
    * link-prediction benchmark reports. Candidates come from the same
    * apex wedge equi-join (pairs with ≥ 1 common neighbor — PA over
    * ALL pairs is an outer product nobody materializes; scoring the
    * candidate set is the standard evaluation form), so the value is
    * an exact BIGINT product of two degrees — bit-identical
    * cross-engine, no quantization needed at all. Top-15 under the
    * (pa_q DESC, v1, v2) total order. */
  def partPrefAttach(spark: SparkSession, sfDir: String): DataFrame = {
    val e = coPurchasePairs(spark, sfDir, Some(4))
    val sym = e.select(col("pa").as("src"), col("pb").as("dst"))
      .unionByName(e.select(col("pb").as("src"), col("pa").as("dst")))
      .localCheckpoint(eager = false) // wedge sides + degree
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .localCheckpoint(eager = false)
    val w1 = sym.select(col("src").as("apex"), col("dst").as("v1"))
    val w2 = sym.select(col("src").as("apex"), col("dst").as("v2"))
    w1.join(w2, "apex").where(col("v1") < col("v2"))
      .groupBy(col("v1"), col("v2")).agg(count(lit(1)).as("common_n"))
      .join(deg.select(col("src").as("v1"), col("d").as("d1")), "v1")
      .join(deg.select(col("src").as("v2"), col("d").as("d2")), "v2")
      .select(col("v1"), col("v2"), col("common_n"),
        (col("d1") * col("d2")).as("pa_q"))
      .orderBy(col("pa_q").desc, col("v1"), col("v2"))
      .limit(15)
  }

  /** DEGREE ASSORTATIVITY (Newman 2002) of the co-purchase graph —
    * the one-number answer to "do popular parts co-purchase with
    * popular parts": Pearson correlation of (d(u), d(v)) over the
    * DIRECTED stub list (each undirected edge contributes both
    * orientations — the standard formulation, and it makes the two
    * marginals equal by symmetry while keeping the generic Pearson
    * text). Every moment accumulates exactly (DECIMAL(38,0)/HUGEINT
    * sums of BIGINT products — per-stub d(u)·d(v) < 2⁶³ for degrees
    * to ~3×10⁹); r is the shared IEEE text over exact-sum doubles,
    * NULL on a degree-regular graph (zero variance) in both engines. */
  def partAssortativity(spark: SparkSession, sfDir: String): DataFrame = {
    val e = coPurchasePairs(spark, sfDir, Some(4))
    val sym = e.select(col("pa").as("src"), col("pb").as("dst"))
      .unionByName(e.select(col("pb").as("src"), col("pa").as("dst")))
      .localCheckpoint(eager = false) // stub list + degree
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .localCheckpoint(eager = false) // joined on both endpoints
    val ed = sym
      .join(deg.select(col("src"), col("d").as("dx")), "src")
      .join(deg.select(col("src").as("dst2"), col("d").as("dy")),
        col("dst") === col("dst2"))
    def sd(x: Column) = sum(x.cast("decimal(38,0)")).cast("double")
    def dd(c: Column) = c.cast("double")
    val s = ed.agg(count(lit(1)).as("m"),
      sd(col("dx")).as("sx"), sd(col("dy")).as("sy"),
      sd(col("dx") * col("dy")).as("sxy"),
      sd(col("dx") * col("dx")).as("sxx"),
      sd(col("dy") * col("dy")).as("syy"))
    val vx = dd(col("m")) * col("sxx") - col("sx") * col("sx")
    val vy = dd(col("m")) * col("syy") - col("sy") * col("sy")
    s.select(col("m"),
      when(vx > lit(0.0) && vy > lit(0.0),
        Det.r4((dd(col("m")) * col("sxy") - col("sx") * col("sy")) /
          (sqrt(vx) * sqrt(vy))))
        .otherwise(lit(null)).as("r"))
  }

  /** DEGREE-CAPPED production twin of [[partJaccard]] (the r11 weak
    * flag): the exact form's apex wedge join generates Σd² rows, so a
    * single hub apex of degree d contributes d² pairs — the wrong
    * shape on a skewed co-purchase graph at 100 TB. This twin splits
    * apexes at the cap and verifies EXACTLY (the LSH two-phase
    * discipline used by winnowing/minhash/embed_neardup):
    *
    *  1. SMALL apexes (d ≤ cap) fan out their FULL wedges — already
    *     exact, volume ≤ cap·E. HUB apexes contribute wedges only
    *     among their `cap` LOWEST-id neighbors (deterministic by key),
    *     generating candidates without the d² blow-up.
    *  2. Exact hub-side verification: each candidate pair's common
    *     count over HUB apexes comes from joining hub adjacency only
    *     (≤ E/cap hub nodes) on (v1) then the composite (v2, apex)
    *     key; common_n = small-side count + hub-side count, so every
    *     emitted value (common_n, union_n, jq, jaccard) is IDENTICAL
    *     to the exact query's value for that pair.
    *
    * DOCUMENTED RECALL CONTRACT: a true pair is missed only if every
    * common apex is a hub (d > cap) that ranks one of the two past its
    * cap-th lowest-id neighbor; with cap ≥ max degree the result is
    * row-identical to [[partJaccard]] (spec'd, along with value
    * exactness and candidate monotonicity at tighter caps). The exact
    * form stays the oracle; this is the scale path. */
  def partJaccardCapped(spark: SparkSession, sfDir: String,
      cap: Int = 64): DataFrame = {
    val e = coPurchasePairs(spark, sfDir, Some(4))
    val sym = e.select(col("pa").as("src"), col("pb").as("dst"))
      .unionByName(e.select(col("pb").as("src"), col("pa").as("dst")))
      .localCheckpoint(eager = false) // degree + hub/small split
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .localCheckpoint(eager = false)
    // skew gate (r18, guide §2.5 — apply hub handling only when hubs
    // exist): one scalar max on the model-sized degree relation. When
    // max(d) <= cap the hub set is EMPTY and the split is a provable
    // no-op (the published cap contract: row-identical to the exact
    // form), so the whole hub branch — semi/anti split, capped-list
    // window, anti-join, verification join, full outer — never plans.
    // At a skewed 100 TB graph the max exceeds the cap and the r12
    // two-phase machinery runs unchanged.
    val maxDegRow = deg.agg(max(col("d"))).head
    val maxDeg = if (maxDegRow.isNullAt(0)) 0L else maxDegRow.getLong(0)
    val common = if (maxDeg <= cap) {
      sym.select(col("src").as("apex"), col("dst").as("v1"))
        .join(sym.select(col("src").as("apex"), col("dst").as("v2")),
          "apex")
        .where(col("v1") < col("v2"))
        .groupBy(col("v1"), col("v2")).agg(count(lit(1)).as("common_n"))
    } else {
    val hubs = deg.where(col("d") > cap).select(col("src").as("hub"))
    // hub/small APEX decomposition (r12): a small apex (d <= cap) is
    // never capped, so its full wedge fan-out already yields EXACT
    // common counts — only hub-side commons need a verification join,
    // and hub adjacency is the small relation (<= E/cap hub nodes).
    val symH = sym.join(hubs, sym("src") === hubs("hub"), "left_semi")
      .localCheckpoint(eager = false) // capped lists + both verify sides
    val symS = sym.join(hubs, sym("src") === hubs("hub"), "left_anti")
      .localCheckpoint(eager = false) // both wedge sides
    val cS = symS.select(col("src").as("apex"), col("dst").as("v1"))
      .join(symS.select(col("src").as("apex"), col("dst").as("v2")),
        "apex")
      .where(col("v1") < col("v2"))
      .groupBy(col("v1"), col("v2")).agg(count(lit(1)).as("c_small"))
      .localCheckpoint(eager = false) // candidate union + common join
    val wR = Window.partitionBy(col("src")).orderBy(col("dst"))
    val hCap = symH.withColumn("rk", row_number().over(wR))
      .where(col("rk") <= cap).drop("rk")
    val hOnly = hCap.select(col("src").as("apex"), col("dst").as("v1"))
      .join(hCap.select(col("src").as("apex"), col("dst").as("v2")),
        "apex")
      .where(col("v1") < col("v2"))
      .select(col("v1"), col("v2")).distinct()
      .join(cS, Seq("v1", "v2"), "left_anti")
    // candidates = cS pairs ∪ hub-only pairs — DISJOINT by the anti
    // join, so no global distinct pass
    val cands = cS.select(col("v1"), col("v2")).unionByName(hOnly)
    val cH = cands
      .join(symH.select(col("src").as("w"), col("dst").as("v1")), "v1")
      .join(symH.select(col("src").as("w"), col("dst").as("v2")),
        Seq("v2", "w"))
      .groupBy(col("v1"), col("v2")).agg(count(lit(1)).as("c_hub"))
    // full outer: cS-only pairs have no hub commons, cH-only pairs
    // (hub-discovered, verified) may have no small commons
    cS.join(cH, Seq("v1", "v2"), "full")
      .select(col("v1"), col("v2"),
        (coalesce(col("c_small"), lit(0L)) +
          coalesce(col("c_hub"), lit(0L))).as("common_n"))
    }
    common
      .join(deg.select(col("src").as("v1"), col("d").as("d1")), "v1")
      .join(deg.select(col("src").as("v2"), col("d").as("d2")), "v2")
      .select(col("v1"), col("v2"), col("common_n"),
        (col("d1") + col("d2") - col("common_n")).as("union_n"),
        expr("(common_n * 1000000000000L) div " +
          "(d1 + d2 - common_n)").as("jq"))
      .select(col("v1"), col("v2"), col("common_n"), col("union_n"),
        col("jq"),
        Det.r4(col("common_n").cast("double") /
          col("union_n").cast("double")).as("jaccard"))
      .orderBy(col("jq").desc, col("v1"), col("v2"))
      .limit(15)
  }

  /** DEGREE-CAPPED production twin of [[partResourceAlloc]] (the r12
    * weak flag — byte-for-byte the jaccard Σd² shape): the exact form's
    * apex wedge join gives a hub apex of degree d a d² candidate
    * fan-out, the first blow-up on a skewed co-purchase graph at 100×.
    * Same remedy as [[partJaccardCapped]], and RA makes the hub-side
    * exact verification even more direct because the per-wedge
    * contribution floor(10¹²/d(w)) is quantized AT WEDGE TIME — the
    * verification join just re-sums the same BIGINTs:
    *
    *  1. SMALL apexes (d ≤ cap) fan out full wedges carrying their
    *     quantized contribution — exact, volume ≤ cap·E. HUB apexes
    *     generate candidates only among their `cap` lowest-id
    *     neighbors (deterministic by key) — no d² term.
    *  2. Exact hub-side verification: candidates join FULL hub
    *     adjacency on (v1) then (v2, apex), each matched hub apex
    *     contributing its quantized 1/d(w); so for every emitted pair
    *     common_n = c_small + c_hub and ra_q = ra_small + ra_hub are
    *     IDENTICAL to the exact query's BIGINTs.
    *
    * Same recall contract as the jaccard twin: a true pair is missed
    * only if every common apex is a hub that ranks one endpoint past
    * its cap-th lowest-id neighbor; cap ≥ max degree is row-identical
    * to [[partResourceAlloc]] (spec'd, with value exactness at tighter
    * caps). The exact form stays the oracle baseline; this is the
    * scale path. */
  def partResourceAllocCapped(spark: SparkSession, sfDir: String,
      cap: Int = 64): DataFrame = {
    val e = coPurchasePairs(spark, sfDir, Some(4))
    val sym = e.select(col("pa").as("src"), col("pb").as("dst"))
      .unionByName(e.select(col("pb").as("src"), col("pa").as("dst")))
      .localCheckpoint(eager = false) // degree + hub/small split
    // per-apex quantized contribution rides the degree table (model-
    // sized), so every wedge row carries its exact BIGINT addend
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("dw"))
      .withColumn("raw", expr("1000000000000L div dw"))
      .localCheckpoint(eager = false)
    // skew gate (r18, guide §2.5): scalar max on the model-sized degree
    // relation — no hubs means the split is a provable no-op (cap
    // contract), so the wedge join runs directly over the raw-carrying
    // adjacency and the hub branch never plans. See partJaccardCapped.
    val maxDegRow = deg.agg(max(col("dw"))).head
    val maxDeg = if (maxDegRow.isNullAt(0)) 0L else maxDegRow.getLong(0)
    val common = if (maxDeg <= cap) {
      // checkpoint: the raw-carrying adjacency feeds BOTH wedge sides
      // (join children don't CSE — the standing union rule)
      val symJ = sym.join(deg.drop("dw"), "src")
        .localCheckpoint(eager = false)
      symJ.select(col("src").as("apex"), col("dst").as("v1"), col("raw"))
        .join(symJ.select(col("src").as("apex"), col("dst").as("v2")),
          "apex")
        .where(col("v1") < col("v2"))
        .groupBy(col("v1"), col("v2"))
        .agg(count(lit(1)).as("common_n"), sum(col("raw")).as("ra_q"))
    } else {
    // ONE edge-sized degree join feeds both halves of the hub/small
    // split as filters (instead of semi+anti+two raw joins).
    val symJ = sym.join(deg, "src")
      .localCheckpoint(eager = false) // hub + small filters below
    val symH = symJ.where(col("dw") > cap).drop("dw")
      .localCheckpoint(eager = false) // capped lists + verify side
    val symS = symJ.where(col("dw") <= cap).drop("dw")
      .localCheckpoint(eager = false) // both wedge sides
    val cS = symS.select(col("src").as("apex"), col("dst").as("v1"),
        col("raw"))
      .join(symS.select(col("src").as("apex"), col("dst").as("v2")),
        "apex")
      .where(col("v1") < col("v2"))
      .groupBy(col("v1"), col("v2"))
      .agg(count(lit(1)).as("c_small"), sum(col("raw")).as("ra_small"))
      .localCheckpoint(eager = false) // candidate union + verify join
    val wR = Window.partitionBy(col("src")).orderBy(col("dst"))
    val hCap = symH.withColumn("rk", row_number().over(wR))
      .where(col("rk") <= cap).drop("rk")
    val hOnly = hCap.select(col("src").as("apex"), col("dst").as("v1"))
      .join(hCap.select(col("src").as("apex"), col("dst").as("v2")),
        "apex")
      .where(col("v1") < col("v2"))
      .select(col("v1"), col("v2")).distinct()
      .join(cS, Seq("v1", "v2"), "left_anti")
    val cands = cS.select(col("v1"), col("v2")).unionByName(hOnly)
    val cH = cands
      .join(symH.select(col("src").as("w"), col("dst").as("v1"),
        col("raw")), "v1")
      .join(symH.select(col("src").as("w"), col("dst").as("v2")),
        Seq("v2", "w"))
      .groupBy(col("v1"), col("v2"))
      .agg(count(lit(1)).as("c_hub"), sum(col("raw")).as("ra_hub"))
    cS.join(cH, Seq("v1", "v2"), "full")
      .select(col("v1"), col("v2"),
        (coalesce(col("c_small"), lit(0L)) +
          coalesce(col("c_hub"), lit(0L))).as("common_n"),
        (coalesce(col("ra_small"), lit(0L)) +
          coalesce(col("ra_hub"), lit(0L))).as("ra_q"))
    }
    common
      .select(col("v1"), col("v2"), col("common_n"), col("ra_q"),
        Det.r4(col("ra_q").cast("double") / lit(1.0e12)).as("ra"))
      .orderBy(col("ra_q").desc, col("v1"), col("v2"))
      .limit(15)
  }

  /** DEGREE-CAPPED production twin of [[partPrefAttach]] — closing the
    * LAST uncapped Σd² wedge join in the graph family (jaccard was the
    * r11 flag, RA the r12 flag; PA shares the shape byte-for-byte).
    * PA's value d(u)·d(v) needs only the model-sized degree table, so
    * the capped twin is the jaccard remedy with an even lighter
    * verification phase: the hub-side join re-derives ONLY the exact
    * common-neighbor count (no quantized value sum to carry):
    *
    *  1. SMALL apexes (d ≤ cap) fan out full wedges — exact commons,
    *     volume ≤ cap·E. HUB apexes generate candidates only among
    *     their `cap` lowest-id neighbors (deterministic by key).
    *  2. Exact hub-side verification: candidates join FULL hub
    *     adjacency on (v1) then (v2, apex); common_n = c_small +
    *     c_hub, and pa_q = d1·d2 comes from the full degree table —
    *     every emitted value IDENTICAL to the exact query's.
    *
    * Same recall contract as the other twins: a true pair is missed
    * only if every common apex is a hub ranking one endpoint past its
    * cap-th lowest-id neighbor; cap ≥ max degree is row-identical to
    * [[partPrefAttach]] (spec'd, with brute-force value equality at
    * caps 2/4/8). The exact form stays the oracle baseline. */
  def partPrefAttachCapped(spark: SparkSession, sfDir: String,
      cap: Int = 64): DataFrame = {
    val e = coPurchasePairs(spark, sfDir, Some(4))
    val sym = e.select(col("pa").as("src"), col("pb").as("dst"))
      .unionByName(e.select(col("pb").as("src"), col("pa").as("dst")))
      .localCheckpoint(eager = false) // degree + hub/small split
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .localCheckpoint(eager = false)
    // skew gate (r18, guide §2.5): scalar max on the model-sized degree
    // relation — no hubs means the split is a provable no-op (cap
    // contract) and the wedge join runs directly over the adjacency.
    // See partJaccardCapped.
    val maxDegRow = deg.agg(max(col("d"))).head
    val maxDeg = if (maxDegRow.isNullAt(0)) 0L else maxDegRow.getLong(0)
    val common = if (maxDeg <= cap) {
      sym.select(col("src").as("apex"), col("dst").as("v1"))
        .join(sym.select(col("src").as("apex"), col("dst").as("v2")),
          "apex")
        .where(col("v1") < col("v2"))
        .groupBy(col("v1"), col("v2")).agg(count(lit(1)).as("common_n"))
    } else {
    val hubs = deg.where(col("d") > cap).select(col("src").as("hub"))
    val symH = sym.join(hubs, sym("src") === hubs("hub"), "left_semi")
      .localCheckpoint(eager = false) // capped lists + verify side
    val symS = sym.join(hubs, sym("src") === hubs("hub"), "left_anti")
      .localCheckpoint(eager = false) // both wedge sides
    val cS = symS.select(col("src").as("apex"), col("dst").as("v1"))
      .join(symS.select(col("src").as("apex"), col("dst").as("v2")),
        "apex")
      .where(col("v1") < col("v2"))
      .groupBy(col("v1"), col("v2")).agg(count(lit(1)).as("c_small"))
      .localCheckpoint(eager = false) // candidate union + common join
    val wR = Window.partitionBy(col("src")).orderBy(col("dst"))
    val hCap = symH.withColumn("rk", row_number().over(wR))
      .where(col("rk") <= cap).drop("rk")
    val hOnly = hCap.select(col("src").as("apex"), col("dst").as("v1"))
      .join(hCap.select(col("src").as("apex"), col("dst").as("v2")),
        "apex")
      .where(col("v1") < col("v2"))
      .select(col("v1"), col("v2")).distinct()
      .join(cS, Seq("v1", "v2"), "left_anti")
    val cands = cS.select(col("v1"), col("v2")).unionByName(hOnly)
    val cH = cands
      .join(symH.select(col("src").as("w"), col("dst").as("v1")), "v1")
      .join(symH.select(col("src").as("w"), col("dst").as("v2")),
        Seq("v2", "w"))
      .groupBy(col("v1"), col("v2")).agg(count(lit(1)).as("c_hub"))
    cS.join(cH, Seq("v1", "v2"), "full")
      .select(col("v1"), col("v2"),
        (coalesce(col("c_small"), lit(0L)) +
          coalesce(col("c_hub"), lit(0L))).as("common_n"))
    }
    common
      .join(deg.select(col("src").as("v1"), col("d").as("d1")), "v1")
      .join(deg.select(col("src").as("v2"), col("d").as("d2")), "v2")
      .select(col("v1"), col("v2"), col("common_n"),
        (col("d1") * col("d2")).as("pa_q"))
      .orderBy(col("pa_q").desc, col("v1"), col("v2"))
      .limit(15)
  }

  /** Interval join: events bucketed into a 7-day window grid. The grid is
    * a handful of rows → broadcast; empty windows survive via left join. */
  def joinInterval(spark: SparkSession, sfDir: String): DataFrame = {
    val weeks = spark.range(1)
      .select(explode(sequence(
        lit("2024-01-01 00:00:00").cast("timestamp"),
        lit("2024-01-29 00:00:00").cast("timestamp"),
        expr("INTERVAL 7 DAYS"))).as("w_start"))
    val e = Tables.events(spark, sfDir).select("event_id", "ts", "value")
    broadcast(weeks)
      .join(e, col("ts") >= col("w_start") &&
        col("ts") < col("w_start") + expr("INTERVAL 7 DAYS"), "left")
      .groupBy(col("w_start"))
      .agg(count(col("event_id")).as("n"),
        coalesce(Det.dsum4(col("value")), lit(0.0)).as("v"))
      .orderBy("w_start")
  }

  /** Grouping sets via ROLLUP: per-(flag,status), per-flag, grand total. */
  def aggRollupSets(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), Det.dsum4(col("l_quantity")).as("qty"),
        Det.dsum4(col("l_extendedprice")).as("rev"))
      .orderBy("l_returnflag", "l_linestatus")

  /** CUBE: all four grouping combinations of (flag, status) in one pass. */
  def aggCube(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), Det.dsum4(col("l_quantity")).as("qty"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Unpivot (melt): the per-user pivoted matrix back to long form —
    * wide→long reshaping without a generator UDF. */
  def unpivotEvents(spark: SparkSession, sfDir: String): DataFrame =
    pivotEvents(spark, sfDir)
      .unpivot(Array(col("user_id")),
        Array(col("click"), col("error"), col("purchase"), col("signup"),
          col("view")),
        "event_type", "v")
      .orderBy("user_id", "event_type")

  /** Rank statistics: percent_rank, cume_dist, ntile — distribution
    * position reads per priority class. */
  def windowPctRank(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .withColumn("pr", Det.r4(percent_rank().over(w)))
      .withColumn("cd", Det.r4(cume_dist().over(w)))
      .withColumn("nt", ntile(4).over(w).cast("long"))
      .orderBy("o_orderpriority", "o_totalprice", "o_orderkey")
  }

  /** Distinct aggregate: distinct parts + suppliers per return flag. */
  def aggDistinct(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("nd_part"),
        countDistinct(col("l_suppkey")).as("nd_supp"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** Deterministic MODE: the most frequent quantity per return flag
    * with ties resolved to the smallest value — engine-native mode()
    * breaks ties arbitrarily, so the argmax folds into
    * min(struct(−count, qty)) instead (exact integers end to end;
    * quantities are integral, so the BIGINT cast is exact in both
    * engines). Two partial-agg shuffles, the second over the tiny
    * (flag × distinct-qty) relation. */
  def aggMode(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"), col("l_quantity").cast("long").as("qty"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("l_returnflag"))
      .agg(min(struct((-col("cnt")).as("neg"), col("qty"))).as("m"),
        count(lit(1)).as("n_values"))
      .select(col("l_returnflag"), col("m.qty").as("mode_qty"),
        (-col("m.neg")).as("mode_count"), col("n_values"))
      .orderBy("l_returnflag")

  /** Benford first-digit profile over `l_extendedprice` — the
    * data-quality screen a warehouse runs before trusting a money
    * column (fabricated or truncated feeds bend the leading-digit
    * curve away from log10(1+1/d)). The digit is extracted from the
    * DECIMAL(18,2) rendering (both engines print decimals without
    * leading zeros; prices are ≥ 1 so char 1 is the leading digit) —
    * never via log10, which is libm and cross-engine unstable. The
    * expected shares are 4-dp literals generated ONCE in Scala and
    * embedded as identical text in both plans, so the deviation is
    * plain IEEE subtraction of exact inputs.
    *
    * Scale posture: one map-side digit projection + one 9-row agg +
    * one scalar total (crossJoin of a 1-row aggregate, not a window
    * over the relation). */
  def benfordPrices(spark: SparkSession, sfDir: String): DataFrame = {
    val digits = Tables.lineitem(spark, sfDir)
      .select(substring(col("l_extendedprice").cast("decimal(18,2)")
        .cast("string"), 1, 1).cast("long").as("digit"))
    val expected = benfordExpected.foldLeft(lit(null).cast("double")) {
      case (acc, (d, p)) => when(col("digit") === d, lit(p)).otherwise(acc)
    }
    val tot = digits.agg(count(lit(1)).as("total"))
    digits.groupBy(col("digit")).agg(count(lit(1)).as("n"))
      .crossJoin(tot)
      .select(col("digit"), col("n"),
        Det.r4(col("n").cast("double") / col("total")).as("share"),
        expected.as("expected"))
      .withColumn("dev", Det.r4(abs(col("share") - col("expected"))))
      .orderBy("digit")
  }

  /** log10(1+1/d) half-up-rounded to 4 dp, rendered once so the Spark
    * literal and the DuckDB text are the same 6 characters per digit. */
  private val benfordExpected: Seq[(Int, Double)] =
    (1 to 9).map(d => d ->
      math.floor(math.log10(1.0 + 1.0 / d) * 10000.0 + 0.5) / 10000.0)

  /** Statistical aggregates with exact accumulation: engine-native
    * stddev implementations differ in accumulation order (Welford vs
    * pairwise), so the sample stddev is assembled from exact decimal
    * Σx, Σx² and the identical IEEE formula on both sides. l_discount’s
    * domain (≤0.1, ≤4 decimals) keeps Σx² exactly representable. */
  def aggStats(spark: SparkSession, sfDir: String): DataFrame = {
    val nd = count(lit(1)).cast("double")
    val s1 = sum(col("l_discount").cast("decimal(18,8)")).cast("double")
    val s2 = sum((col("l_discount") * col("l_discount"))
      .cast("decimal(18,8)")).cast("double")
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        Det.davg4(col("l_extendedprice")).as("avg_price"),
        Det.r4(sqrt((s2 - (s1 * s1) / nd) / (nd - lit(1.0)))).as("sd_disc"))
      .orderBy("l_linestatus")
  }

  /** Higher central moments — skewness and excess kurtosis per group,
    * the distribution-shape profile behind "is this measure normal
    * enough for z-score alarms". All four RAW moment sums accumulate
    * as exact integers (q = 100-scaled quantity ≤ ~1e4, so Σq⁴ ≤
    * n·1e16 stays inside DECIMAL(38,0) to n ≈ 1e22 rows); every
    * downstream step — the casts (correctly rounded), the central-
    * moment algebra, sqrt — is the identical IEEE text in both
    * engines, so cross-engine bits match without needing r4 to mask
    * anything. pow() is avoided (libm): m2^1.5 is m2·sqrt(m2).
    * Single hash aggregation, map-side partials — scales. */
  def aggSkewKurt(spark: SparkSession, sfDir: String): DataFrame = {
    def dc(c: org.apache.spark.sql.Column) = c.cast("decimal(7,0)")
    val q = (col("l_quantity").cast("decimal(18,2)") * lit(100))
      .cast("long")
    val nd = col("n").cast("double")
    val m1 = col("s1").cast("double") / nd
    val r2 = col("s2").cast("double") / nd
    val r3 = col("s3").cast("double") / nd
    val r4m = col("s4").cast("double") / nd
    val m2 = r2 - m1 * m1
    val m3 = r3 - lit(3.0) * m1 * r2 + lit(2.0) * m1 * m1 * m1
    val m4 = r4m - lit(4.0) * m1 * r3 + lit(6.0) * m1 * m1 * r2 -
      lit(3.0) * m1 * m1 * m1 * m1
    Tables.lineitem(spark, sfDir)
      .select(col("l_linestatus"), q.as("q"))
      .groupBy(col("l_linestatus"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("s1"),
        sum(dc(col("q")) * dc(col("q"))).as("s2"),
        sum(dc(col("q")) * dc(col("q")) * dc(col("q"))).as("s3"),
        sum(dc(col("q")) * dc(col("q")) * dc(col("q")) * dc(col("q")))
          .as("s4"))
      .select(col("l_linestatus"), col("n"),
        Det.r4(m1 / lit(100.0)).as("mean_qty"),
        Det.r4(sqrt(m2) / lit(100.0)).as("sd_qty"),
        Det.r4(m3 / (m2 * sqrt(m2))).as("skew"),
        Det.r4(m4 / (m2 * m2) - lit(3.0)).as("kurt_excess"))
      .orderBy("l_linestatus")
  }

  /** Pearson correlation from exact decimal sums + the shared IEEE
    * formula (engine-native corr() accumulation differs across engines).
    * Per-row products have ≤4 true decimals, so the DECIMAL(18,4) casts
    * are exact; widened decimal sums stay below 2^53 scaled at sf0.01. */
  def aggCorr(spark: SparkSession, sfDir: String): DataFrame = {
    def s(e: org.apache.spark.sql.Column) =
      sum(e.cast("decimal(18,4)")).cast("double")
    val nd = count(lit(1)).cast("double")
    val sx = s(col("l_quantity")); val sy = s(col("l_extendedprice"))
    val sxy = s(col("l_quantity") * col("l_extendedprice"))
    val sxx = s(col("l_quantity") * col("l_quantity"))
    val syy = s(col("l_extendedprice") * col("l_extendedprice"))
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        Det.r4((nd * sxy - sx * sy) /
          (sqrt(nd * sxx - sx * sx) * sqrt(nd * syy - sy * sy))).as("corr_qp"))
      .orderBy("l_linestatus")
  }

  /** PER-DAY GINI IMPURITY of the event-type mix — 1 − Σ pᵢ²: the
    * split-quality read (CART's impurity) applied as a daily
    * mix-health monitor — a day whose impurity collapses is a day one
    * event type swamped the feed. EXACT: Σ cᵢ² and n² are BIGINT
    * (cᵢ ≤ n ≤ 9·10⁸ per day stays inside; the cramers_v integer-Σ
    * rule), impurity = (n² − Σc²)/n² is ONE IEEE division of exact
    * casts — no per-class float sum anywhere. */
  def aggGiniImpurity(spark: SparkSession, sfDir: String): DataFrame = {
    def d(c: Column) = c.cast("double")
    Tables.events(spark, sfDir)
      .groupBy(date_trunc("day", col("ts")).as("d"),
        col("event_type"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n_types"), sum(col("c")).as("n"),
        sum(col("c") * col("c")).as("ssq"))
      .select(col("d"), col("n_types"), col("n"),
        Det.r4((d(col("n")) * d(col("n")) - d(col("ssq"))) /
          (d(col("n")) * d(col("n")))).as("impurity"))
      .orderBy("d")
  }

  /** CORPUS-GRAIN SPEARMAN rank correlation (quantity ↔ price per
    * linestatus) — [[aggCorr]]'s robust sibling at ROW grain, where
    * [[graft.ts.TimeSeriesOps.spearmanCorr]] ranks 720 calendar
    * buckets: here the ranks cover millions of rows, so they are
    * DERIVED, never materialized per row — the mannwhitney value-grain
    * histogram discipline. Per measure, one (group, value) count +
    * cumulative window yields the exact integer 2·midrank per DISTINCT
    * value; the joint (x, y) cell histogram then joins both rank
    * tables and every moment (Σc·rx·ry, Σc·rx, Σc·rx², …) accumulates
    * as exact DECIMAL(38,0)/HUGEINT — per-row products stay in BIGINT
    * while c·(2n)² < 2⁶³ (≈ 6×10⁶ rows per group with unique values —
    * both engines fail LOUDLY past it, never wrap). ρ is then the
    * Pearson text over exact-sum doubles; the 2× rank scale cancels
    * exactly (powers of two). */
  def aggSpearman(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_linestatus").as("g"), col("l_quantity").as("x"),
        col("l_extendedprice").as("y"))
      .localCheckpoint(eager = false) // two rank histograms + cells
    def ranks(vc: String) = {
      val wCum = Window.partitionBy(col("g")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      li.groupBy(col("g"), col(vc).as("v")).agg(count(lit(1)).as("c"))
        .withColumn("cum", coalesce(sum(col("c")).over(wCum), lit(0L)))
        .select(col("g"), col("v"),
          (lit(2L) * col("cum") + col("c") + lit(1L)).as("r2"))
    }
    val rx = ranks("x")
      .select(col("g"), col("v").as("x"), col("r2").as("rx2"))
    val ry = ranks("y")
      .select(col("g"), col("v").as("y"), col("r2").as("ry2"))
    val cells = li.groupBy(col("g"), col("x"), col("y"))
      .agg(count(lit(1)).as("c"))
    def sd(e: Column) = sum(e.cast("decimal(38,0)")).cast("double")
    val nd = sum(col("c")).cast("double")
    val sx = sd(col("c") * col("rx2")); val sy = sd(col("c") * col("ry2"))
    val sxy = sd(col("c") * col("rx2") * col("ry2"))
    val sxx = sd(col("c") * col("rx2") * col("rx2"))
    val syy = sd(col("c") * col("ry2") * col("ry2"))
    cells.join(rx, Seq("g", "x")).join(ry, Seq("g", "y"))
      .groupBy(col("g"))
      .agg(sum(col("c")).as("n"),
        Det.r4((nd * sxy - sx * sy) /
          (sqrt(nd * sxx - sx * sx) * sqrt(nd * syy - sy * sy)))
          .as("rho"))
      .select(col("g").as("l_linestatus"), col("n"), col("rho"))
      .orderBy("l_linestatus")
  }

  /** JOIN-KEY SKEW AUDIT — the diagnostic read run BEFORE choosing a
    * join strategy at 100 TB: per candidate key, row and distinct-key
    * counts, the heaviest key's frequency, its share of all rows, and
    * the max/mean frequency ratio (a uniform key reads ~1; the ratio
    * is how much the hottest reducer exceeds the average — the number
    * that decides between a plain shuffle join, salting, or an AQE
    * skew split). All counts exact; ratios the shared IEEE rounding.
    * One partial-agg shuffle per audited key over the fact table —
    * the same cost as any key profile. */
  def skewReport(spark: SparkSession, sfDir: String): DataFrame = {
    def profile(keyCol: String): DataFrame = {
      def d(c: org.apache.spark.sql.Column) = c.cast("double")
      Tables.lineitem(spark, sfDir)
        .groupBy(col(keyCol).as("k")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).as("n_rows"), count(lit(1)).as("n_keys"),
          max(col("c")).as("max_freq"))
        .select(lit(keyCol).as("join_key"), col("n_rows"), col("n_keys"),
          col("max_freq"),
          Det.r4(d(col("max_freq")) / d(col("n_rows"))).as("top_share"),
          // multiply AFTER the double casts: a BIGINT max_freq*n_keys
          // product can overflow at extreme key cardinalities
          Det.r4(d(col("max_freq")) * d(col("n_keys")) / d(col("n_rows")))
            .as("skew_ratio"))
        .localCheckpoint(eager = false) // union children don't CSE
    }
    profile("l_orderkey")
      .unionByName(profile("l_partkey"))
      .unionByName(profile("l_suppkey"))
      .orderBy("join_key")
  }

  /** MANN–WHITNEY U rank-sum test (Mann & Whitney 1947): do click and
    * purchase event values come from the same distribution? The
    * nonparametric two-sample read an experimentation platform runs
    * when values are skewed and a t-test's normality assumption fails.
    * Oracle-exact: ranking happens at DISTINCT-VALUE grain — one
    * (value → per-group count) aggregation, then a running total over
    * the value order gives every tie group's 2·average-rank as an
    * integer (2·first_rank + tie_count − 1); 2·R₁ and 2·U₁ stay exact
    * BIGINTs and the normal-approximation z is one shared IEEE formula
    * over those integers (no tie-correction term — documented, ties
    * average into the ranks themselves). Scale shape: the global sort
    * runs on the distinct-value relation AFTER the counting shuffle —
    * value-domain-sized, which collapses far below corpus size for
    * discrete/rounded measures; for a fully continuous measure the
    * domain IS corpus-sized and the production form of this same plan
    * is a range-partitioned sort with a per-partition count prefix
    * pass (distributed rank), the standard two-pass rank statistic —
    * the single ordered window here is the honest minimal at bench
    * scale and keeps the oracle twin textually identical. */
  def aggMannWhitney(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byVal = Tables.events(spark, sfDir)
      .where(col("event_type").isin("click", "purchase"))
      .groupBy(col("value"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
        .as("c1"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("c2"))
    val wCum = Window.orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = byVal
      .withColumn("cum", coalesce(sum(col("c1") + col("c2")).over(wCum),
        lit(0L)))
      .withColumn("r2",
        lit(2L) * (col("cum") + lit(1L)) + col("c1") + col("c2") - lit(1L))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    ranked.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
        sum(col("c1") * col("r2")).as("r1x2"))
      .select(col("n1"), col("n2"),
        (col("r1x2") - col("n1") * (col("n1") + lit(1L))).as("u1x2"))
      .select(col("n1"), col("n2"), col("u1x2"),
        Det.r4(d(col("u1x2") - col("n1") * col("n2")) /
          sqrt(d(col("n1")) * d(col("n2")) *
            d(col("n1") + col("n2") + lit(1L)) / lit(3.0))).as("z"))
  }

  /** BRUNNER–MUNZEL TEST (2000) — [[aggMannWhitney]]'s
    * heteroscedasticity-robust replacement (MW's z assumes equal
    * variances under H₀; BM estimates each sample's placement
    * variance, the modern recommendation when spreads differ): with
    * pooled midranks R and within-sample midranks R⁽ⁱ⁾,
    * W = n₁n₂(R̄₂−R̄₁) / (N·√(n₁S₁²+n₂S₂²)), plus the stochastic-
    * superiority estimate p̂ = P(X₁<X₂)+½P(=). Oracle-exact at the
    * distinct-value grid: doubled midranks (2·cum+…) are BIGINTs, and
    * each deviation multiplies through by 2nᵢ to the EXACT integer
    * Dᵢ(v) = nᵢ·(r2p − r2wᵢ + nᵢ + 1) − Σc·r2p, so
    * Sᵢ² = Σc·Dᵢ²/((2nᵢ)²(nᵢ−1)) accumulates in DECIMAL(38,0)/
    * HUGEINT with the final W one shared cast-first IEEE expression.
    * NULL when either sample has < 2 values or the variance is 0. */
  def aggBrunnerMunzel(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byVal = Tables.events(spark, sfDir)
      .where(col("event_type").isin("click", "purchase"))
      .groupBy(col("value"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
        .as("c1"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("c2"))
    val wCum = Window.orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = byVal
      .withColumn("cumt",
        coalesce(sum(col("c1") + col("c2")).over(wCum), lit(0L)))
      .withColumn("cum1", coalesce(sum(col("c1")).over(wCum), lit(0L)))
      .withColumn("cum2", coalesce(sum(col("c2")).over(wCum), lit(0L)))
      .withColumn("r2p",
        lit(2L) * (col("cumt") + lit(1L)) + col("c1") + col("c2") -
          lit(1L))
      .withColumn("r2w1",
        lit(2L) * (col("cum1") + lit(1L)) + col("c1") - lit(1L))
      .withColumn("r2w2",
        lit(2L) * (col("cum2") + lit(1L)) + col("c2") - lit(1L))
      .localCheckpoint(eager = false) // totals pass + deviation pass
    val tot = ranked.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
      sum(col("c1") * col("r2p")).as("s1"),
      sum(col("c2") * col("r2p")).as("s2"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val d1 = col("n1") * (col("r2p") - col("r2w1") + col("n1") +
      lit(1L)) - col("s1")
    val d2 = col("n2") * (col("r2p") - col("r2w2") + col("n2") +
      lit(1L)) - col("s2")
    val sq = ranked.crossJoin(broadcast(tot))
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        max(col("s1")).as("s1"), max(col("s2")).as("s2"),
        sum(dec(col("c1")) * d1 * d1).as("sq1"),
        sum(dec(col("c2")) * d2 * d2).as("sq2"))
    def d(c: Column) = c.cast("double")
    val rb1 = d(col("s1")) / (lit(2.0) * d(col("n1")))
    val rb2 = d(col("s2")) / (lit(2.0) * d(col("n2")))
    val v1 = d(col("sq1")) /
      (lit(4.0) * d(col("n1")) * d(col("n1")) * (d(col("n1")) - lit(1.0)))
    val v2 = d(col("sq2")) /
      (lit(4.0) * d(col("n2")) * d(col("n2")) * (d(col("n2")) - lit(1.0)))
    val w = d(col("n1")) * d(col("n2")) * (rb2 - rb1) /
      ((d(col("n1")) + d(col("n2"))) *
        sqrt(d(col("n1")) * v1 + d(col("n2")) * v2))
    val ph = (rb2 - (d(col("n2")) + lit(1.0)) / lit(2.0)) / d(col("n1"))
    sq.select(col("n1"), col("n2"),
      Det.r4(rb1).as("rbar1"), Det.r4(rb2).as("rbar2"),
      Det.r4(ph).as("p_hat"),
      when(col("n1") > 1L && col("n2") > 1L &&
          (col("sq1") > lit(0) || col("sq2") > lit(0)),
        Det.r4(w)).otherwise(lit(null)).as("w"))
  }

  /** KRUSKAL–WALLIS H TEST — the k-sample generalization of
    * [[aggMannWhitney]] (same midrank machinery, four event-type
    * groups): H = 12/(N(N+1)) Σ nᵢ(R̄ᵢ − (N+1)/2)², tie-corrected by
    * 1 − Σ(t³−t)/(N³−N). Determinism discipline: per-(group, value)
    * counts and 2·midranks are exact BIGINTs; each group's H
    * CONTRIBUTION is one shared-text double expression floor-quantized
    * at 1e6 and summed as BIGINT (the q_agg_cramers_v order-free-Σ
    * rule — a raw double Σ over groups is addend-order-dependent), so
    * the reported H is bit-stable. Per-group contribution ≤ 12nᵢ
    * bounds the quantized term inside BIGINT at any N; the tie term's
    * t³ stays in BIGINT while per-value tie counts are ≲ 10⁶ (document
    * DECIMAL widening past that); N³−N is computed in doubles (both
    * engines IEEE-identical), never BIGINT. Distinct-value window
    * grain — the mannwhitney precedent, with the two-pass rank runtime
    * as the family's scale path. */
  def kruskalWallis(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byGV = Tables.events(spark, sfDir)
      .where(col("event_type").isin("click", "purchase", "signup",
        "error"))
      .groupBy(col("event_type").as("g"), col("value").as("v"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false) // value grid + per-group sums
    val byVal = byGV.groupBy(col("v")).agg(sum(col("c")).as("t"))
      .localCheckpoint(eager = false) // rank window + totals
    val wCum = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = byVal
      .withColumn("cum", coalesce(sum(col("t")).over(wCum), lit(0L)))
      .withColumn("r2", lit(2L) * col("cum") + col("t") + lit(1L))
    val perG = byGV.join(ranked.select(col("v"), col("r2")), "v")
      .groupBy(col("g"))
      .agg(sum(col("c")).as("n_i"), sum(col("c") * col("r2")).as("s2"))
    val tot = byVal.agg(sum(col("t")).as("n"),
      sum(col("t") * col("t") * col("t") - col("t")).as("tsum"))
      .where(col("n") >= 2) // N < 2 makes N³−N = 0 (degenerate H)
    def d(c: Column) = c.cast("double")
    val di = d(col("s2")) / (lit(2.0) * d(col("n_i"))) -
      (d(col("n")) + lit(1.0)) / lit(2.0)
    val hi = lit(12.0) * d(col("n_i")) * di * di /
      (d(col("n")) * (d(col("n")) + lit(1.0)))
    val q = perG.crossJoin(broadcast(tot))
      .select(col("g"), col("n"), col("tsum"),
        floor(hi * lit(1000000.0)).cast("long").as("hq"))
      .groupBy(col("n"), col("tsum"))
      .agg(count(lit(1)).as("n_groups"), sum(col("hq")).as("hqs"))
    val h = d(col("hqs")) / lit(1000000.0)
    val corr = lit(1.0) - d(col("tsum")) /
      (d(col("n")) * d(col("n")) * d(col("n")) - d(col("n")))
    // fully-tied column ⇒ corr = 0: NULL h_tie in BOTH engines (the
    // by-source guard, mirrored — ANSI floor(Inf)→LONG would throw
    // here while DuckDB returns Inf).
    q.select(col("n_groups"), col("n"),
        Det.r4(h).as("h"),
        when(corr > lit(0.0), Det.r4(h / corr))
          .otherwise(lit(null)).as("h_tie"))
  }

  /** PER-SOURCE KRUSKAL–WALLIS — [[kruskalWallis]] partitioned by
    * corpus source over the documents table: within each source, does
    * document length differ across LANGUAGES? The corpus-health read
    * that catches a crawl whose per-language length profiles diverged
    * (one bad extractor for one language). Identical determinism
    * discipline, with every window/aggregate keyed by source; sources
    * with a single value row (N < 2) or a fully-tied value column
    * (correction = 0) report NULL h_tie in both engines. */
  def kruskalWallisBySource(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byGV = Tables.documents(spark, sfDir)
      .groupBy(col("source"), col("lang").as("g"),
        col("n_chars").as("v"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false) // value grid + per-group sums
    val byVal = byGV.groupBy(col("source"), col("v"))
      .agg(sum(col("c")).as("t"))
      .localCheckpoint(eager = false) // rank window + totals
    val wCum = Window.partitionBy(col("source")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = byVal
      .withColumn("cum", coalesce(sum(col("t")).over(wCum), lit(0L)))
      .withColumn("r2", lit(2L) * col("cum") + col("t") + lit(1L))
    val perG = byGV
      .join(ranked.select(col("source"), col("v"), col("r2")),
        Seq("source", "v"))
      .groupBy(col("source"), col("g"))
      .agg(sum(col("c")).as("n_i"), sum(col("c") * col("r2")).as("s2"))
    val tot = byVal.groupBy(col("source"))
      .agg(sum(col("t")).as("n"),
        sum(col("t") * col("t") * col("t") - col("t")).as("tsum"))
      .where(col("n") >= 2)
    def d(c: Column) = c.cast("double")
    val di = d(col("s2")) / (lit(2.0) * d(col("n_i"))) -
      (d(col("n")) + lit(1.0)) / lit(2.0)
    val hi = lit(12.0) * d(col("n_i")) * di * di /
      (d(col("n")) * (d(col("n")) + lit(1.0)))
    val q = perG.join(tot, "source")
      .select(col("source"), col("n"), col("tsum"),
        floor(hi * lit(1000000.0)).cast("long").as("hq"))
      .groupBy(col("source"), col("n"), col("tsum"))
      .agg(count(lit(1)).as("n_groups"), sum(col("hq")).as("hqs"))
    val h = d(col("hqs")) / lit(1000000.0)
    val corr = lit(1.0) - d(col("tsum")) /
      (d(col("n")) * d(col("n")) * d(col("n")) - d(col("n")))
    q.select(col("source"), col("n_groups"), col("n"),
        Det.r4(h).as("h"),
        when(corr > lit(0.0), Det.r4(h / corr))
          .otherwise(lit(null)).as("h_tie"))
      .orderBy("source")
  }

  /** ONE-WAY ANOVA F — the parametric complement of [[kruskalWallis]]
    * on the same question shape (does a measure's MEAN differ across
    * groups): F = (SSB/(k−1))/(SSW/(n−k)) over l_quantity by return
    * flag. Determinism discipline: per-group moments accumulate
    * exactly (scaled-BIGINT sums, DECIMAL(38,0) sums of squares — the
    * assortativity widening, safe at any corpus size), all means are
    * single IEEE divisions of exact-rounded doubles, and the
    * between-group sum Σ nᵢ(mᵢ−m)² — the one group-ORDER-dependent
    * double Σ — is floor-quantized at 1e6 per group and summed as
    * BIGINT (the kruskalWallis hq rule; per-group term ≤ nᵢ·range², so
    * the quantized addend holds BIGINT to ~10¹² rows — document
    * widening past that). SSW comes from the exact total sum of
    * squares minus the quantized SSB, so every reported double is
    * bit-stable cross-engine. NULL F when SSW ≤ 0 or n ≤ k (degenerate
    * within-variance) in both engines. One aggregation pass + a
    * broadcast of the k-row moment table. */
  def aggAnova(spark: SparkSession, sfDir: String): DataFrame = {
    val q = (col("l_quantity").cast("decimal(18,4)") * lit(10000L))
      .cast("long")
    val perG = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag").as("g"), q.as("qi"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_i"), sum(col("qi")).as("s_i"),
        sum(col("qi").cast("decimal(38,0)") * col("qi")).as("ssq_i"))
      .localCheckpoint(eager = false) // totals + per-group terms
    val tot = perG.agg(sum(col("n_i")).as("n"), sum(col("s_i")).as("t"),
      sum(col("ssq_i")).cast("double").as("ssq"))
    def d(c: Column) = c.cast("double")
    val mG = d(col("s_i")) / lit(10000.0) / d(col("n_i"))
    val m = d(col("t")) / lit(10000.0) / d(col("n"))
    val termG = d(col("n_i")) * (mG - m) * (mG - m)
    val agg = perG.crossJoin(broadcast(tot))
      .select(col("n"), col("t"), col("ssq"),
        floor(termG * lit(1000000.0)).cast("long").as("bq"))
      .groupBy(col("n"), col("t"), col("ssq"))
      .agg(count(lit(1)).as("n_groups"), sum(col("bq")).as("bqs"))
    val ssb = d(col("bqs")) / lit(1000000.0)
    val tU = d(col("t")) / lit(10000.0)
    val sstot = col("ssq") / lit(100000000.0) - tU * tU / d(col("n"))
    val ssw = sstot - ssb
    val f = (ssb / (d(col("n_groups")) - lit(1.0))) /
      (ssw / (d(col("n")) - d(col("n_groups"))))
    agg.select(col("n_groups"), col("n"),
      Det.r4(ssb).as("ssb"), Det.r4(ssw).as("ssw"),
      when(col("n") > col("n_groups") && ssw > lit(0.0) &&
        col("n_groups") > lit(1L), Det.r4(f))
        .otherwise(lit(null)).as("f"))
  }

  /** PAIRWISE EFFECT SIZES — Cohen's d and Welch's t for every order
    * priority pair on o_totalprice: the "is the difference LARGE, not
    * just significant" read that belongs next to every test in this
    * family (reviewer-standard practice since Cohen 1988). Per-group
    * moments accumulate exactly (scaled-BIGINT sums, DECIMAL(38,0)
    * sums of squares — per-row qi² ≈ 4·10¹⁸ stays in the decimal/
    * HUGEINT accumulator, the assortativity widening); the k-row
    * moment table self-joins (broadcast — k groups, k² pairs) and
    * every output is the same IEEE op sequence over exact-rounded
    * doubles: sample variances via (ssq − n·m²)/(n−1), pooled sd for
    * d, per-group sd quotients for Welch. NULL d when the pooled
    * variance is 0; NULL t when either group is a singleton — both
    * engines. Total order (g1, g2). */
  def aggEffectSize(spark: SparkSession, sfDir: String): DataFrame = {
    val q = (col("o_totalprice").cast("decimal(18,4)") * lit(10000L))
      .cast("long")
    val perG = Tables.orders(spark, sfDir)
      .select(col("o_orderpriority").as("g"), q.as("qi"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("qi")).as("s"),
        sum(col("qi").cast("decimal(38,0)") * col("qi"))
          .cast("double").as("ssq"))
      .localCheckpoint(eager = false) // both sides of the pair join
    def d(c: Column) = c.cast("double")
    def m(s: Column, n: Column) = d(s) / lit(10000.0) / d(n)
    def varS(ssq: Column, s: Column, n: Column) =
      (ssq / lit(100000000.0) -
        d(n) * m(s, n) * m(s, n)) / (d(n) - lit(1.0))
    val a = perG.select(col("g").as("g1"), col("n").as("n1"),
      col("s").as("s1"), col("ssq").as("q1"))
    val b = perG.select(col("g").as("g2"), col("n").as("n2"),
      col("s").as("s2"), col("ssq").as("q2"))
    val m1 = m(col("s1"), col("n1"))
    val m2 = m(col("s2"), col("n2"))
    val v1 = varS(col("q1"), col("s1"), col("n1"))
    val v2 = varS(col("q2"), col("s2"), col("n2"))
    val vp = ((d(col("n1")) - lit(1.0)) * v1 +
      (d(col("n2")) - lit(1.0)) * v2) /
      (d(col("n1")) + d(col("n2")) - lit(2.0))
    val t = (m1 - m2) /
      sqrt(v1 / d(col("n1")) + v2 / d(col("n2")))
    a.join(broadcast(b), col("g1") < col("g2"))
      .select(col("g1"), col("g2"), col("n1"), col("n2"),
        when(col("n1") + col("n2") > lit(2L) && vp > lit(0.0),
          Det.r4((m1 - m2) / sqrt(vp)))
          .otherwise(lit(null)).as("cohens_d"),
        when(col("n1") > lit(1L) && col("n2") > lit(1L) &&
          v1 + v2 > lit(0.0), Det.r4(t))
          .otherwise(lit(null)).as("welch_t"))
      .orderBy("g1", "g2")
  }

  /** BROWN–FORSYTHE (median-Levene) VARIANCE-EQUALITY TEST — do
    * document lengths have the same SPREAD across languages? The
    * robust homoscedasticity companion to [[aggAnova]] (which compares
    * means): z = |n_chars − median_g| with the per-group median from
    * EXACT integer-rank selection (first grain value whose running
    * count reaches ⌈n/2⌉ — the bowley/tukey discipline, no
    * interpolation), so every deviation is an exact BIGINT and the
    * whole W statistic runs on the [[aggAnova]] machinery: exact
    * moment sums (DECIMAL(38,0) squares), per-group between-term
    * floor-quantized at 1e6 and summed as BIGINT, within-SS from the
    * exact total minus the quantized between. NULL W when the
    * within-spread is 0 or n ≤ k — both engines. Two histogram-grain
    * aggregates + one value-grain join; never a raw-row sort. */
  def aggBrownForsythe(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byGV = Tables.documents(spark, sfDir)
      .groupBy(col("lang").as("g"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false) // median scan + deviation join
    val wCum = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // same (partition, order) spec as wCum — one fused WindowExec (r17)
    val wG = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val med = byGV
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n_g", sum(col("c")).over(wG))
      .where(col("cum") * lit(2L) >= col("n_g"))
      .groupBy(col("g")).agg(min(col("v")).as("med"))
    val z = byGV.join(med, "g")
      .select(col("g"), abs(col("v") - col("med")).as("z"), col("c"))
    val perG = z.groupBy(col("g"))
      .agg(sum(col("c")).as("n_i"), sum(col("c") * col("z")).as("s_i"),
        sum(col("c").cast("decimal(38,0)") * col("z") * col("z"))
          .as("ssq_i"))
      .localCheckpoint(eager = false) // totals + per-group terms
    val tot = perG.agg(sum(col("n_i")).as("n"), sum(col("s_i")).as("t"),
      sum(col("ssq_i")).cast("double").as("ssq"))
    def d(c: Column) = c.cast("double")
    val mG = d(col("s_i")) / d(col("n_i"))
    val m = d(col("t")) / d(col("n"))
    val termG = d(col("n_i")) * (mG - m) * (mG - m)
    val agg = perG.crossJoin(broadcast(tot))
      .select(col("n"), col("t"), col("ssq"),
        floor(termG * lit(1000000.0)).cast("long").as("bq"))
      .groupBy(col("n"), col("t"), col("ssq"))
      .agg(count(lit(1)).as("n_groups"), sum(col("bq")).as("bqs"))
    val ssb = d(col("bqs")) / lit(1000000.0)
    val sstot = col("ssq") - d(col("t")) * (d(col("t")) / d(col("n")))
    val ssw = sstot - ssb
    val w = (ssb / (d(col("n_groups")) - lit(1.0))) /
      (ssw / (d(col("n")) - d(col("n_groups"))))
    agg.select(col("n_groups"), col("n"),
      Det.r4(ssb).as("ssb"), Det.r4(ssw).as("ssw"),
      when(col("n") > col("n_groups") && ssw > lit(0.0) &&
        col("n_groups") > lit(1L), Det.r4(w))
        .otherwise(lit(null)).as("w"))
  }

  /** ANSARI–BRADLEY TEST — the two-sample DISPERSION rank test
    * (click vs purchase on value): where [[aggMannWhitney]] asks "is
    * one sample shifted", this asks "is one sample more SPREAD OUT",
    * from the same value-grain histogram machinery. Scores are
    * a = min(r̄, N+1−r̄) over pooled midranks — in the exact 2× units
    * a2 = min(r2, 2(N+1)−r2), so the statistic A2 = Σ c₁·a2 is an
    * exact BIGINT; the untied null moments split by N's parity (the
    * classical tables) and enter ONE fixed IEEE z text per branch,
    * selected by the same CASE in both engines. Midrank-tie variant
    * documented as the defined metric; NULL z on a degenerate design.
    * One cumulative window at value grain (the mannwhitney precedent,
    * with the two-pass rank as the family scale path). */
  def aggAnsariBradley(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byVal = Tables.events(spark, sfDir)
      .where(col("event_type").isin("click", "purchase"))
      .groupBy(col("value").as("v"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
        .as("c1"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("c2"))
    val wCum = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy()
    val ranked = byVal
      .withColumn("cum", coalesce(sum(col("c1") + col("c2")).over(wCum),
        lit(0L)))
      .withColumn("nn", sum(col("c1") + col("c2")).over(wAll))
      .withColumn("r2",
        lit(2L) * col("cum") + col("c1") + col("c2") + lit(1L))
      .withColumn("a2",
        least(col("r2"), lit(2L) * (col("nn") + lit(1L)) - col("r2")))
    val g = ranked.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
      sum(col("c1") * col("a2")).as("a2sum"))
    def d(c: Column) = c.cast("double")
    val n = d(col("n1")) + d(col("n2"))
    // 2E[A] and 4Var[A] by N parity — classical untied moments
    val e2even = d(col("n1")) * (n + lit(2.0)) / lit(2.0)
    val v4even = d(col("n1")) * d(col("n2")) * (n + lit(2.0)) *
      (n - lit(2.0)) / (lit(12.0) * (n - lit(1.0)))
    val e2odd = d(col("n1")) * ((n + lit(1.0)) * (n + lit(1.0))) /
      (lit(2.0) * n)
    val v4odd = d(col("n1")) * d(col("n2")) * (n + lit(1.0)) *
      (lit(3.0) + n * n) / (lit(12.0) * (n * n))
    val even = (col("n1") + col("n2")) % lit(2L) === lit(0L)
    val e2 = when(even, e2even).otherwise(e2odd)
    val v4 = when(even, v4even).otherwise(v4odd)
    g.select(col("n1"), col("n2"), col("a2sum"),
      when(v4 > lit(0.0),
        Det.r4((d(col("a2sum")) - e2) / sqrt(v4)))
        .otherwise(lit(null)).as("z"))
  }

  /** MOOD'S MEDIAN TEST — the median-based k-sample test that
    * completes the center-comparison family ([[aggAnova]] compares
    * means parametrically, [[kruskalWallis]] compares rank
    * distributions; this asks only "do the groups straddle the GRAND
    * median equally" — maximally robust, minimally powered, the
    * standard screen when outliers are extreme): grand median by
    * exact integer-rank selection over the pooled value-grain
    * histogram, per-group above/not-above counts as exact BIGINTs,
    * then the k×2 chi-squared with each group's two-cell term ONE
    * shared IEEE expression floor-quantized at 1e6 and BIGINT-summed
    * (the kruskal hq rule). NULL chi² when a margin is empty (all
    * values on one side — the constant column) in both engines. */
  def aggMoodMedian(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val types = Seq("click", "purchase", "signup", "error")
    val byGV = Tables.events(spark, sfDir)
      .where(col("event_type").isin(types: _*))
      .groupBy(col("event_type").as("g"), col("value").as("v"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false) // pooled median + group counts
    val wCum = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    val med = byGV.groupBy(col("v")).agg(sum(col("c")).as("t"))
      .withColumn("cum", sum(col("t")).over(wCum))
      .withColumn("n", sum(col("t")).over(wAll))
      .where(col("cum") * lit(2L) >= col("n"))
      .agg(min(col("v")).as("med"))
    val perG = byGV.crossJoin(broadcast(med))
      .groupBy(col("g"))
      .agg(sum(when(col("v") > col("med"), col("c")).otherwise(lit(0L)))
        .as("a_i"),
        sum(col("c")).as("n_i"))
      .localCheckpoint(eager = false) // margins + per-group terms
    val tot = perG.agg(sum(col("a_i")).as("a"), sum(col("n_i")).as("n"))
    def d(c: Column) = c.cast("double")
    val eA = d(col("n_i")) * d(col("a")) / d(col("n"))
    val eB = d(col("n_i")) * (d(col("n")) - d(col("a"))) / d(col("n"))
    val bI = col("n_i") - col("a_i")
    val term = (d(col("a_i")) - eA) * (d(col("a_i")) - eA) / eA +
      (d(bI) - eB) * (d(bI) - eB) / eB
    // degenerate margins (a = 0 or a = n) make E = 0 ⇒ Inf terms, and
    // ANSI floor(Inf)→LONG throws — guard INSIDE the quantization (the
    // kruskal corr>0 hazard, applied one step earlier)
    val agg = perG.crossJoin(broadcast(tot))
      .select(col("a"), col("n"),
        when(col("a") > lit(0L) && col("a") < col("n"),
          floor(term * lit(1000000.0)).cast("long"))
          .otherwise(lit(0L)).as("tq"))
      .groupBy(col("a"), col("n"))
      .agg(count(lit(1)).as("n_groups"), sum(col("tq")).as("tqs"))
    agg.select(col("n_groups"), col("n"), col("a").as("n_above"),
      when(col("a") > lit(0L) && col("a") < col("n"),
        Det.r4(d(col("tqs")) / lit(1000000.0)))
        .otherwise(lit(null)).as("chisq"))
  }

  /** PER-SOURCE BROWN–FORSYTHE — [[aggBrownForsythe]] partitioned by
    * corpus source (the ks_by_source / kw_by_source family member):
    * within each source, do document lengths have the same SPREAD
    * across languages? Catches the crawl whose one-language extractor
    * produces erratic lengths even when the MEDIANS still agree
    * (which kw_by_source would miss). Identical determinism
    * discipline with every window/aggregate keyed by source; sources
    * with a degenerate design (n ≤ k, zero within-spread, or a single
    * language) report NULL w in both engines. */
  def bfBySource(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byGV = Tables.documents(spark, sfDir)
      .groupBy(col("source"), col("lang").as("g"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false) // median scan + deviation join
    val wCum = Window.partitionBy(col("source"), col("g"))
      .orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // same (partition, order) spec as wCum — one fused WindowExec (r17)
    val wG = Window.partitionBy(col("source"), col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val med = byGV
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n_g", sum(col("c")).over(wG))
      .where(col("cum") * lit(2L) >= col("n_g"))
      .groupBy(col("source"), col("g")).agg(min(col("v")).as("med"))
    val z = byGV.join(med, Seq("source", "g"))
      .select(col("source"), col("g"),
        abs(col("v") - col("med")).as("z"), col("c"))
    val perG = z.groupBy(col("source"), col("g"))
      .agg(sum(col("c")).as("n_i"), sum(col("c") * col("z")).as("s_i"),
        sum(col("c").cast("decimal(38,0)") * col("z") * col("z"))
          .as("ssq_i"))
      .localCheckpoint(eager = false) // totals + per-group terms
    val tot = perG.groupBy(col("source"))
      .agg(sum(col("n_i")).as("n"), sum(col("s_i")).as("t"),
        sum(col("ssq_i")).cast("double").as("ssq"))
    def d(c: Column) = c.cast("double")
    val mG = d(col("s_i")) / d(col("n_i"))
    val m = d(col("t")) / d(col("n"))
    val termG = d(col("n_i")) * (mG - m) * (mG - m)
    val agg = perG.join(tot, "source")
      .select(col("source"), col("n"), col("t"), col("ssq"),
        floor(termG * lit(1000000.0)).cast("long").as("bq"))
      .groupBy(col("source"), col("n"), col("t"), col("ssq"))
      .agg(count(lit(1)).as("n_groups"), sum(col("bq")).as("bqs"))
    val ssb = d(col("bqs")) / lit(1000000.0)
    val sstot = col("ssq") - d(col("t")) * (d(col("t")) / d(col("n")))
    val ssw = sstot - ssb
    val w = (ssb / (d(col("n_groups")) - lit(1.0))) /
      (ssw / (d(col("n")) - d(col("n_groups"))))
    agg.select(col("source"), col("n_groups"), col("n"),
        Det.r4(ssb).as("ssb"), Det.r4(ssw).as("ssw"),
        when(col("n") > col("n_groups") && ssw > lit(0.0) &&
          col("n_groups") > lit(1L), Det.r4(w))
          .otherwise(lit(null)).as("w"))
      .orderBy("source")
  }

  /** CLIFF'S DELTA — the ordinal effect size that belongs beside
    * [[aggMannWhitney]] exactly as [[aggEffectSize]] belongs beside
    * the t test: δ = (#(x₁>x₂) − #(x₁<x₂))/(n₁n₂) for every pair of
    * event types, computed ENTIRELY from value-grain histograms — one
    * cumulative window over the merged value grid per group, then
    * dominance counts as exact Σ c₁(v)·C₂(<v) products (BIGINT
    * products under DECIMAL(38,0)/HUGEINT sums — safe at any corpus
    * size), never a row-level pair join. δ itself is the only float:
    * double-before-product denominator (the r10 ratio rule), one IEEE
    * division. Total order (g1, g2). */
  def aggCliffsDelta(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val types = Seq("click", "purchase", "signup", "error")
    val byGV = Tables.events(spark, sfDir)
      .where(col("event_type").isin(types: _*))
      .groupBy(col("event_type").as("g"), col("value").as("v"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false) // grid fan-out + pair join
    val grid = byGV.select(col("v")).distinct()
    val full = grid.crossJoin(broadcast(byGV.select(col("g")).distinct()))
      .join(byGV, Seq("g", "v"), "left")
      .na.fill(0L, Seq("c"))
    val wCum = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // same (partition, order) spec as wCum — one fused WindowExec (r17)
    val wG = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cums = full
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n_g", sum(col("c")).over(wG))
      .select(col("g"), col("v"), col("c"), col("cum"), col("n_g"))
      .localCheckpoint(eager = false) // both sides of the pair join
    val a = cums.select(col("g").as("g1"), col("v"), col("c").as("c1"),
      col("n_g").as("n1"))
    val b = cums.select(col("g").as("g2"), col("v"),
      (col("cum") - col("c")).as("below2"), col("cum").as("upto2"),
      col("n_g").as("n2"))
    val pair = a.join(b, "v").where(col("g1") < col("g2"))
      .groupBy(col("g1"), col("g2"), col("n1"), col("n2"))
      .agg(
        sum(col("c1").cast("decimal(38,0)") * col("below2")).as("more"),
        sum(col("c1").cast("decimal(38,0)") *
          (col("n2") - col("upto2"))).as("less"))
    def d(c: Column) = c.cast("double")
    pair.select(col("g1"), col("g2"), col("n1"), col("n2"),
        col("more").cast("long").as("n_greater"),
        col("less").cast("long").as("n_less"),
        when(col("n1") > lit(0L) && col("n2") > lit(0L),
          Det.r4((d(col("more")) - d(col("less"))) /
            (d(col("n1")) * d(col("n2")))))
          .otherwise(lit(null)).as("delta"))
      .orderBy("g1", "g2")
  }

  /** FRIEDMAN TEST + KENDALL'S W — the within-block rank test that
    * completes the k-sample family ([[kruskalWallis]] compares
    * independent samples; this blocks by DAY and asks "do the event
    * types keep the same daily ordering of mean value"), plus the
    * effect size W = Q/(n(k−1)) every reviewer wants beside it. Per
    * (day, type) means are exact ([[Det.avg4]]); within-day MIDRANKS
    * are exact integers (2·midrank = 2·min-rank + ties − 1 — the
    * kruskal discipline at block grain), blocks are kept only when
    * COMPLETE (all k types present — the classical design); rank sums
    * and their squares stay BIGINT, so Q = 3·Σ(2Rⱼ)²/(nk(k+1)) −
    * 3n(k+1) is one fixed IEEE expression over exact integers
    * (midrank-tie variant documented as the defined metric). NULL on
    * a degenerate design (no complete blocks or k < 2). Day-grain
    * windows — embarrassingly parallel. */
  def aggFriedman(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val types = Seq("click", "purchase", "signup", "error")
    val m = Tables.events(spark, sfDir)
      .where(col("event_type").isin(types: _*))
      .groupBy(date_trunc("day", col("ts")).as("d"),
        col("event_type").as("g"))
      .agg(Det.avg4(col("value")).as("v"))
    val complete = m
      .withColumn("nb", count(lit(1)).over(Window.partitionBy(col("d"))))
      .where(col("nb") === types.size)
    val ranked = complete
      .withColumn("rk",
        rank().over(Window.partitionBy(col("d")).orderBy(col("v")))
          .cast("long"))
      .withColumn("cnt",
        count(lit(1)).over(Window.partitionBy(col("d"), col("v"))))
      .withColumn("r2", lit(2L) * col("rk") + col("cnt") - lit(1L))
    val perT = ranked.groupBy(col("g"))
      .agg(sum(col("r2")).as("r2sum"), count(lit(1)).as("nb"))
    val agg = perT.agg(count(lit(1)).as("k"), max(col("nb")).as("n"),
      sum(col("r2sum") * col("r2sum")).as("sr2"))
    def d(c: Column) = c.cast("double")
    val q = lit(3.0) * d(col("sr2")) /
      (d(col("n")) * d(col("k")) * (d(col("k")) + lit(1.0))) -
      lit(3.0) * d(col("n")) * (d(col("k")) + lit(1.0))
    agg.select(col("k"), col("n").as("n_blocks"),
      when(col("n") > lit(0L) && col("k") > lit(1L), Det.r4(q))
        .otherwise(lit(null)).as("q"),
      when(col("n") > lit(0L) && col("k") > lit(1L),
        Det.r4(q / (d(col("n")) * (d(col("k")) - lit(1.0)))))
        .otherwise(lit(null)).as("w"))
  }

  /** QUADE TEST over the same complete daily blocks as
    * [[aggFriedman]] — Friedman's range-weighted sibling (Quade
    * 1979): blocks where the treatments actually SPREAD carry more
    * weight (Friedman gives a flat day and a wild day one vote
    * each), which buys power at small k. With doubled within-block
    * midranks 2r and doubled block-range midranks 2Q, the statistic
    * multiplies through by 4 to EXACT integers
    * S4ᵢⱼ = 2Qᵢ·(2rᵢⱼ − (k+1)):
    * F = (n−1)·Σⱼ(Σᵢ S4ᵢⱼ)² / (n·Σᵢⱼ S4ᵢⱼ² − Σⱼ(Σᵢ S4ᵢⱼ)²) — a pure
    * ratio of exact DECIMAL(38,0)/HUGEINT sums, one cast-first
    * division. Block ranges are exact differences of avg4 grid
    * values; range ranks tie via midranks like everything else.
    * NULL on a degenerate design (A = B). Day-grain windows. */
  def aggQuade(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val types = Seq("click", "purchase", "signup", "error")
    val m = Tables.events(spark, sfDir)
      .where(col("event_type").isin(types: _*))
      .groupBy(date_trunc("day", col("ts")).as("d"),
        col("event_type").as("g"))
      .agg(Det.avg4(col("value")).as("v"))
    val complete = m
      .withColumn("nb", count(lit(1)).over(Window.partitionBy(col("d"))))
      .where(col("nb") === types.size)
      .localCheckpoint(eager = false) // ranks + ranges
    val ranked = complete
      .withColumn("rk",
        rank().over(Window.partitionBy(col("d")).orderBy(col("v")))
          .cast("long"))
      .withColumn("cnt",
        count(lit(1)).over(Window.partitionBy(col("d"), col("v"))))
      .withColumn("r2", lit(2L) * col("rk") + col("cnt") - lit(1L))
    val rng = complete.groupBy(col("d"))
      .agg((max(col("v")) - min(col("v"))).as("rg"))
    val qr = rng
      .withColumn("qk", rank().over(Window.orderBy(col("rg")))
        .cast("long"))
      .withColumn("qc",
        count(lit(1)).over(Window.partitionBy(col("rg"))))
      .select(col("d"),
        (lit(2L) * col("qk") + col("qc") - lit(1L)).as("q2"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val s4 = col("q2") * (col("r2") - lit((types.size + 1).toLong))
    val rows = ranked.join(broadcast(qr), "d")
      .select(col("g"), s4.as("s4"))
      .localCheckpoint(eager = false) // per-treatment + total sums
    val perT = rows.groupBy(col("g"))
      .agg(sum(col("s4")).as("s4j"), count(lit(1)).as("nb"))
    val tot = rows.agg(sum(dec(col("s4")) * col("s4")).as("sa"))
    val agg = perT.agg(count(lit(1)).as("k"), max(col("nb")).as("n"),
        sum(dec(col("s4j")) * col("s4j")).as("sb"))
      .crossJoin(broadcast(tot))
    def d(c: Column) = c.cast("double")
    val den = dec(col("n")) * col("sa") - col("sb")
    agg.select(col("k"), col("n").as("n_blocks"),
      when(col("n") > 1L && col("k") > 1L && den > lit(0),
        Det.r4((d(col("n")) - lit(1.0)) * col("sb").cast("double") /
          den.cast("double")))
        .otherwise(lit(null)).as("f"))
  }

  /** DISTRIBUTED two-pass twin of [[aggCliffsDelta]] — the scale path
    * for the WHOLE dominance family (cliffs, jonckheere): the exact
    * form's per-group cumulative window over the merged value grid
    * puts one group's full grid in one partition at 100×; this twin
    * range-partitions the (group, value) histogram BY VALUE (all
    * groups co-located per value), reduces each partition to G
    * per-group subtotals (pass A — P×G longs to the driver, broadcast
    * back as strictly-before offsets), then walks each partition once
    * accumulating the SAME exact dominance products c₁(v)·C₂(<v) /
    * c₁(v)·C₂(>v) into a G²-entry map (pass B) — identical integers
    * to the window plan by construction, so it registers against the
    * SAME oracle SQL (the rfm_segments_dist precedent) and is spec'd
    * row-equal at several partition counts. addExact guards the
    * BIGINT dominance sums (the monitor discipline); the lazy
    * checkpoint pins ONE range layout for both passes. */
  def cliffsDeltaDistributed(spark: SparkSession, sfDir: String,
      partitions: Int = 8): DataFrame = {
    import spark.implicits._
    val types = Seq("click", "purchase", "signup", "error")
    val hist = Tables.events(spark, sfDir)
      .where(col("event_type").isin(types: _*))
      .groupBy(col("event_type").as("g"), col("value").as("v"))
      .agg(count(lit(1)).as("c"))
    val (pairSums, nG, grps) = dominancePairSums(spark, hist, partitions)
    val totDf = grps.map(g => (g, nG(g))).toDF("g", "n")
    def d(c: Column) = c.cast("double")
    pairSums
      .join(broadcast(totDf.select(col("g").as("g1"), col("n").as("n1"))),
        "g1")
      .join(broadcast(totDf.select(col("g").as("g2"), col("n").as("n2"))),
        "g2")
      .select(col("g1"), col("g2"), col("n1"), col("n2"),
        col("more").as("n_greater"), col("less").as("n_less"),
        when(col("n1") > lit(0L) && col("n2") > lit(0L),
          Det.r4((d(col("more")) - d(col("less"))) /
            (d(col("n1")) * d(col("n2")))))
          .otherwise(lit(null)).as("delta"))
      .orderBy("g1", "g2")
  }

  /** The dominance-walk core shared by the whole family's twins
    * ([[cliffsDeltaDistributed]], [[jonckheereDistributed]]): given a
    * (g, v, c) histogram, range-partition by value (every group
    * co-located per value), reduce each partition to G per-group
    * subtotals (pass A — P×G longs to the driver, broadcast back as
    * strictly-before offsets), then walk each partition once
    * accumulating exact c₁(v)·C₂(<v) / c₁(v)·C₂(>v) products into a
    * G²-entry map (pass B). Returns the (g1 < g2) pair sums plus the
    * per-group totals — the same integers as the merged-grid window
    * plan by construction. */
  private def dominancePairSums(spark: SparkSession, hist: DataFrame,
      partitions: Int)
      : (DataFrame, Map[String, Long], Seq[String]) = {
    import spark.implicits._
    val byGV = hist
      .as[(String, Double, Long)]
      .repartitionByRange(partitions, col("v"))
      .sortWithinPartitions("v", "g")
      .localCheckpoint(eager = false) // totals pass + walk pass
    val partTotals: Map[Int, Map[String, Long]] = byGV.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val m = scala.collection.mutable.Map[String, Long]()
      it.foreach { case (g, _, c) =>
        m(g) = m.getOrElse(g, 0L) + c
      }
      Iterator((pid, m.toMap))
    }.collect().toMap
    val grps = partTotals.values.flatMap(_.keys).toSeq.distinct.sorted
    val nG: Map[String, Long] = grps.map { g =>
      g -> partTotals.values.map(_.getOrElse(g, 0L)).sum
    }.toMap
    val offsets: Map[Int, Map[String, Long]] = (0 until partitions).map {
      p =>
        p -> grps.map { g =>
          g -> (0 until p).map(q =>
            partTotals.getOrElse(q, Map.empty).getOrElse(g, 0L)).sum
        }.toMap
    }.toMap
    val bcOff = spark.sparkContext.broadcast(offsets)
    val bcN = spark.sparkContext.broadcast(nG)
    val bcG = spark.sparkContext.broadcast(grps)
    val pairSums = byGV.mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val cum = scala.collection.mutable.Map[String, Long]() ++=
          bcOff.value(pid)
        val n = bcN.value
        val gs = bcG.value
        val more = scala.collection.mutable.Map[(String, String), Long]()
        val less = scala.collection.mutable.Map[(String, String), Long]()
        val block = scala.collection.mutable.ArrayBuffer[(String, Long)]()
        def flush(): Unit = {
          if (block.nonEmpty) {
            val at = block.toMap
            block.foreach { case (g1, c1) =>
              gs.foreach { g2 =>
                if (g2 != g1) {
                  val below2 = cum.getOrElse(g2, 0L)
                  val above2 = n(g2) - below2 - at.getOrElse(g2, 0L)
                  val k = (g1, g2)
                  more(k) = Math.addExact(more.getOrElse(k, 0L),
                    Math.multiplyExact(c1, below2))
                  less(k) = Math.addExact(less.getOrElse(k, 0L),
                    Math.multiplyExact(c1, above2))
                }
              }
            }
            block.foreach { case (g, c) =>
              cum(g) = cum.getOrElse(g, 0L) + c
            }
            block.clear()
          }
        }
        var curV = Double.NaN
        it.foreach { case (g, v, c) =>
          if (block.nonEmpty && v != curV) flush()
          curV = v
          block += ((g, c))
        }
        flush()
        gs.flatMap(g1 => gs.collect { case g2 if g1 < g2 =>
          (g1, g2, more.getOrElse((g1, g2), 0L),
            less.getOrElse((g1, g2), 0L))
        }).iterator
      }
      .toDF("g1", "g2", "more", "less")
      .groupBy(col("g1"), col("g2"))
      .agg(sum(col("more")).as("more"), sum(col("less")).as("less"))
    (pairSums, nG, grps)
  }

  /** DISTRIBUTED two-pass twin of [[aggJonckheere]] — the dominance
    * family's scale path instantiated for the ordered-alternative
    * test: the exact form's per-group cumulative window over the
    * merged o_totalprice grid becomes [[dominancePairSums]]'s
    * range-partitioned walk (identical more/less integers by
    * construction), and 2J = Σ_{i<j} (n₁n₂ − more + less) plus the
    * untied null moments are then the SAME DECIMAL(38,0)/IEEE tail as
    * the exact form — so it registers against the SAME oracle SQL
    * (the rfm_segments_dist precedent) and is spec'd row-equal at
    * several partition counts. No window anywhere in the plan. */
  def jonckheereDistributed(spark: SparkSession, sfDir: String,
      partitions: Int = 8): DataFrame = {
    import spark.implicits._
    val hist = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderpriority").as("g"), col("o_totalprice").as("v"))
      .agg(count(lit(1)).as("c"))
    val (pairSums, nG, grps) = dominancePairSums(spark, hist, partitions)
    val totDf = grps.map(g => (g, nG(g))).toDF("g", "n_i")
    val pair = pairSums
      .join(broadcast(totDf.select(col("g").as("g1"), col("n_i").as("n1"))),
        "g1")
      .join(broadcast(totDf.select(col("g").as("g2"), col("n_i").as("n2"))),
        "g2")
      // 2·U_ij = 2·less + ties = n1·n2 − more + less — exact BIGINT
      .select((col("n1").cast("decimal(38,0)") * col("n2") - col("more")
        + col("less")).cast("long").as("u2"))
      .agg(sum(col("u2")).as("j2"))
    val perG = totDf
      .agg(sum(col("n_i")).as("n"),
        sum(col("n_i") * col("n_i")).as("sn2"),
        sum(col("n_i") * col("n_i") *
          (lit(2L) * col("n_i") + lit(3L))).as("sn23"))
    def d(c: Column) = c.cast("double")
    // 2·μ = (N² − Σn²)/2 ; (2σ)² = (N²(2N+3) − Σn²(2n+3))/18
    val mu2 = (d(col("n")) * d(col("n")) - d(col("sn2"))) / lit(2.0)
    val var4 = (d(col("n")) * d(col("n")) *
      (lit(2.0) * d(col("n")) + lit(3.0)) - d(col("sn23"))) / lit(18.0)
    pair.crossJoin(broadcast(perG))
      .select(col("n"), col("j2"),
        when(var4 > lit(0.0),
          Det.r4((d(col("j2")) - mu2) / sqrt(var4)))
          .otherwise(lit(null)).as("z"))
  }

  /** DISTRIBUTED two-pass twin of [[aggAnsariBradley]] — the
    * [[mannWhitneyDistributed]] scaffolding pointed at the dispersion
    * scores: pass A reduces each range partition of the value-grain
    * histogram to its pooled total (P longs → prefix offsets + the
    * global N the scores need), pass B walks each partition once
    * computing the SAME exact 2× scores a2 = min(r2, 2(N+1)−r2) and
    * accumulating Σ c₁·a2 under addExact — identical integers to the
    * global cumulative window, then the identical parity-split IEEE
    * moment text. Shares the exact form's oracle SQL verbatim. */
  def ansariBradleyDistributed(spark: SparkSession, sfDir: String,
      partitions: Int = 8): DataFrame = {
    import spark.implicits._
    val byVal = Tables.events(spark, sfDir)
      .where(col("event_type").isin("click", "purchase"))
      .groupBy(col("value").as("v"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
        .as("c1"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("c2"))
      .as[(Double, Long, Long)]
      .repartitionByRange(partitions, col("v"))
      .sortWithinPartitions("v")
      .localCheckpoint(eager = false) // totals pass + walk pass
    val partTotals = byVal.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var t = 0L
      it.foreach { case (_, c1, c2) => t += c1 + c2 }
      Iterator((pid, t))
    }.collect().toMap
    val nTot = partTotals.values.sum
    val offsets = (0 until partitions).map { p =>
      p -> (0 until p).map(q => partTotals.getOrElse(q, 0L)).sum
    }.toMap
    val bcOff = spark.sparkContext.broadcast(offsets)
    val bcN = spark.sparkContext.broadcast(nTot)
    val g = byVal.mapPartitions { it =>
        var cum = bcOff.value(
          org.apache.spark.TaskContext.getPartitionId())
        val nn = bcN.value
        var n1 = 0L; var n2 = 0L; var a2sum = 0L
        it.foreach { case (_, c1, c2) =>
          val r2 = 2L * cum + c1 + c2 + 1L
          val a2 = Math.min(r2, 2L * (nn + 1L) - r2)
          a2sum = Math.addExact(a2sum, Math.multiplyExact(c1, a2))
          n1 += c1; n2 += c2; cum += c1 + c2
        }
        Iterator((n1, n2, a2sum))
      }
      .toDF("pn1", "pn2", "pa2")
      .agg(sum(col("pn1")).as("n1"), sum(col("pn2")).as("n2"),
        sum(col("pa2")).as("a2sum"))
    def d(c: Column) = c.cast("double")
    val n = d(col("n1")) + d(col("n2"))
    // 2E[A] and 4Var[A] by N parity — classical untied moments
    val e2even = d(col("n1")) * (n + lit(2.0)) / lit(2.0)
    val v4even = d(col("n1")) * d(col("n2")) * (n + lit(2.0)) *
      (n - lit(2.0)) / (lit(12.0) * (n - lit(1.0)))
    val e2odd = d(col("n1")) * ((n + lit(1.0)) * (n + lit(1.0))) /
      (lit(2.0) * n)
    val v4odd = d(col("n1")) * d(col("n2")) * (n + lit(1.0)) *
      (lit(3.0) + n * n) / (lit(12.0) * (n * n))
    val even = (col("n1") + col("n2")) % lit(2L) === lit(0L)
    val e2 = when(even, e2even).otherwise(e2odd)
    val v4 = when(even, v4even).otherwise(v4odd)
    g.select(col("n1"), col("n2"), col("a2sum"),
      when(v4 > lit(0.0),
        Det.r4((d(col("a2sum")) - e2) / sqrt(v4)))
        .otherwise(lit(null)).as("z"))
  }

  /** DISTRIBUTED two-pass twin of [[aggMoodMedian]] — the only global
    * state the exact form's pooled cumulative window computes is ONE
    * scalar (the grand median), so the twin replaces it with the
    * [[exactQuantilesDistributed]] selection: range-partition the
    * pooled value histogram, collect P partition totals into prefix
    * offsets, walk once emitting each partition's first value with
    * 2·cum ≥ N (≤ P candidates; the global first = their min — the
    * condition is monotone along the value order). The k×2 chi-squared
    * tail over per-group above/not-above BIGINTs is then the exact
    * form's text verbatim — no window anywhere in the plan. */
  def moodMedianDistributed(spark: SparkSession, sfDir: String,
      partitions: Int = 8): DataFrame = {
    import spark.implicits._
    val types = Seq("click", "purchase", "signup", "error")
    val byGV = Tables.events(spark, sfDir)
      .where(col("event_type").isin(types: _*))
      .groupBy(col("event_type").as("g"), col("value").as("v"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false) // median walk + group counts
    val byVal = byGV.groupBy(col("v")).agg(sum(col("c")).as("t"))
      .as[(Double, Long)]
      .repartitionByRange(partitions, col("v"))
      .sortWithinPartitions("v")
      .localCheckpoint(eager = false) // totals pass + walk pass
    val partTotals = byVal.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var t = 0L
      it.foreach { case (_, c) => t += c }
      Iterator((pid, t))
    }.collect().toMap
    val nTot = partTotals.values.sum
    val offsets = (0 until partitions).map { p =>
      p -> (0 until p).map(q => partTotals.getOrElse(q, 0L)).sum
    }.toMap
    val bcOff = spark.sparkContext.broadcast(offsets)
    val bcN = spark.sparkContext.broadcast(nTot)
    val cands = byVal.mapPartitions { it =>
      var cum = bcOff.value(
        org.apache.spark.TaskContext.getPartitionId())
      var found: Option[Double] = None
      it.foreach { case (v, t) =>
        cum += t
        if (found.isEmpty && 2L * cum >= bcN.value) found = Some(v)
      }
      found.iterator
    }.collect()
    val med = if (cands.isEmpty) Double.NaN else cands.min
    val perG = byGV
      .groupBy(col("g"))
      .agg(sum(when(col("v") > lit(med), col("c")).otherwise(lit(0L)))
        .as("a_i"),
        sum(col("c")).as("n_i"))
      .localCheckpoint(eager = false) // margins + per-group terms
    val tot = perG.agg(sum(col("a_i")).as("a"), sum(col("n_i")).as("n"))
    def d(c: Column) = c.cast("double")
    val eA = d(col("n_i")) * d(col("a")) / d(col("n"))
    val eB = d(col("n_i")) * (d(col("n")) - d(col("a"))) / d(col("n"))
    val bI = col("n_i") - col("a_i")
    val term = (d(col("a_i")) - eA) * (d(col("a_i")) - eA) / eA +
      (d(bI) - eB) * (d(bI) - eB) / eB
    val agg = perG.crossJoin(broadcast(tot))
      .select(col("a"), col("n"),
        when(col("a") > lit(0L) && col("a") < col("n"),
          floor(term * lit(1000000.0)).cast("long"))
          .otherwise(lit(0L)).as("tq"))
      .groupBy(col("a"), col("n"))
      .agg(count(lit(1)).as("n_groups"), sum(col("tq")).as("tqs"))
    agg.select(col("n_groups"), col("n"), col("a").as("n_above"),
      when(col("a") > lit(0L) && col("a") < col("n"),
        Det.r4(d(col("tqs")) / lit(1000000.0)))
        .otherwise(lit(null)).as("chisq"))
  }

  /** WINDOW-FREE twin of [[aggPageTrend]] — the exact form's per-week
    * rank windows are already bounded (exactly 7 rows per block), so
    * the scale rewrite here is shape, not survival: within-block
    * midranks come from a block-keyed self-join (49 bounded pairs per
    * week; 2·rank + ties − 1 = 2·#less + #eq + 1 with #eq including
    * self), completeness from a groupBy + semi-join instead of a
    * window count. Identical integers, identical IEEE moment text,
    * shared oracle SQL; the `partitions` knob re-lays the block table
    * to prove layout independence. */
  def pageTrendDistributed(spark: SparkSession, sfDir: String,
      partitions: Int = 8): DataFrame = {
    val m = Tables.events(spark, sfDir)
      .groupBy(date_trunc("week", col("ts")).as("wk"),
        dayofweek(col("ts")).cast("long").as("s"))
      .agg(Det.dsum4(col("value")).as("v"))
      .repartition(partitions, col("wk"))
      .localCheckpoint(eager = false) // completeness probe + rank join
    val complete = m.groupBy(col("wk")).agg(count(lit(1)).as("nb"))
      .where(col("nb") === 7).select(col("wk"))
    val mc = m.join(complete, Seq("wk"), "left_semi")
      .localCheckpoint(eager = false) // both sides of the rank join
    val other = mc.select(col("wk"), col("v").as("v2"))
    val ranked = mc.join(other, Seq("wk"))
      .groupBy(col("wk"), col("s"), col("v"))
      .agg((lit(2L) * sum(when(col("v2") < col("v"), 1L).otherwise(0L)) +
        sum(when(col("v2") === col("v"), 1L).otherwise(0L)) + lit(1L))
        .as("r2"))
    val perS = ranked.groupBy(col("s"))
      .agg(sum(col("r2")).as("r2sum"), count(lit(1)).as("nb"))
    val agg = perS.agg(count(lit(1)).as("k"), max(col("nb")).as("n"),
      sum(col("s") * col("r2sum")).as("l2"))
    def d(c: Column) = c.cast("double")
    val e2 = d(col("n")) * d(col("k")) *
      ((d(col("k")) + lit(1.0)) * (d(col("k")) + lit(1.0))) / lit(2.0)
    val var2 = d(col("n")) * d(col("k")) * d(col("k")) *
      (d(col("k")) + lit(1.0)) *
      (d(col("k")) * d(col("k")) - lit(1.0)) / lit(36.0)
    agg.select(col("k"), col("n").as("n_blocks"), col("l2"),
      when(col("n") > lit(0L) && var2 > lit(0.0),
        Det.r4((d(col("l2")) - e2) / sqrt(var2)))
        .otherwise(lit(null)).as("z"))
  }

  /** PAGE'S L TREND TEST — [[aggFriedman]]'s ordered-alternative
    * sibling exactly as [[aggJonckheere]] is [[kruskalWallis]]'s: with
    * blocks = ISO weeks and ordered treatments = days of week, does
    * daily activity TREND monotonically across the week? L = Σ s_j R_j
    * over the same exact within-block midranks (2L stays BIGINT), and
    * the untied null moments E[2L] = nk(k+1)²/2, Var(2L) =
    * nk²(k+1)(k²−1)/36 complete one fixed IEEE z text (midrank-tie
    * variant documented as the defined metric). Weekday scores use
    * Spark's dayofweek (1 = Sunday); the DuckDB twin writes
    * dayofweek+1 to align the engines' conventions. Complete weeks
    * only (all 7 days present). NULL z on a degenerate design. */
  def aggPageTrend(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = Tables.events(spark, sfDir)
      .groupBy(date_trunc("week", col("ts")).as("wk"),
        dayofweek(col("ts")).cast("long").as("s"))
      .agg(Det.dsum4(col("value")).as("v"))
    val complete = m
      .withColumn("nb", count(lit(1)).over(Window.partitionBy(col("wk"))))
      .where(col("nb") === 7)
    val ranked = complete
      .withColumn("rk",
        rank().over(Window.partitionBy(col("wk")).orderBy(col("v")))
          .cast("long"))
      .withColumn("cnt",
        count(lit(1)).over(Window.partitionBy(col("wk"), col("v"))))
      .withColumn("r2", lit(2L) * col("rk") + col("cnt") - lit(1L))
    val perS = ranked.groupBy(col("s"))
      .agg(sum(col("r2")).as("r2sum"), count(lit(1)).as("nb"))
    val agg = perS.agg(count(lit(1)).as("k"), max(col("nb")).as("n"),
      sum(col("s") * col("r2sum")).as("l2"))
    def d(c: Column) = c.cast("double")
    val e2 = d(col("n")) * d(col("k")) *
      ((d(col("k")) + lit(1.0)) * (d(col("k")) + lit(1.0))) / lit(2.0)
    val var2 = d(col("n")) * d(col("k")) * d(col("k")) *
      (d(col("k")) + lit(1.0)) *
      (d(col("k")) * d(col("k")) - lit(1.0)) / lit(36.0)
    agg.select(col("k"), col("n").as("n_blocks"), col("l2"),
      when(col("n") > lit(0L) && var2 > lit(0.0),
        Det.r4((d(col("l2")) - e2) / sqrt(var2)))
        .otherwise(lit(null)).as("z"))
  }

  /** JONCKHEERE–TERPSTRA TEST — the ordered-alternative rank test
    * ([[aggKruskalWallis]] asks "any group difference", this asks "do
    * o_totalprice distributions SHIFT monotonically along the urgency
    * order"): J = Σ_{i<j} U_ij with U_ij = #(xᵢ<xⱼ) + ½#(=), groups
    * ordered by priority label (lexicographic = the numeric order).
    * Machinery is [[aggCliffsDelta]]'s histogram dominance counts —
    * one cumulative window per group over the merged value grid,
    * pairwise exact HUGEINT/DECIMAL(38,0) Σ c₁·C₂ products — so the
    * whole statistic is integer-exact: 2J = Σ (n₁n₂ − more + less)
    * stays BIGINT, and the z-score's mean/variance need only N and
    * Σnᵢ², Σnᵢ²(2nᵢ+3) (the untied null moments — documented defined
    * metric; tie-corrected variance is a client-side refinement).
    * One fixed IEEE text; NULL z on a degenerate (σ = 0) design.
    * Scale path: the per-group merged-grid window is replaced at
    * production size by [[cliffsDeltaDistributed]]'s two-pass
    * range-partitioned walk — the same dominance integers without a
    * single-partition-per-group sort. */
  def aggJonckheere(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byGV = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderpriority").as("g"), col("o_totalprice").as("v"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false) // grid fan-out + pair join
    val grid = byGV.select(col("v")).distinct()
    val full = grid.crossJoin(broadcast(byGV.select(col("g")).distinct()))
      .join(byGV, Seq("g", "v"), "left")
      .na.fill(0L, Seq("c"))
    val wCum = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // same (partition, order) spec as wCum — one fused WindowExec (r17)
    val wG = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cums = full
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n_g", sum(col("c")).over(wG))
      .select(col("g"), col("v"), col("c"), col("cum"), col("n_g"))
      .localCheckpoint(eager = false) // both sides of the pair join
    val a = cums.select(col("g").as("g1"), col("v"), col("c").as("c1"),
      col("n_g").as("n1"))
    val b = cums.select(col("g").as("g2"), col("v"),
      (col("cum") - col("c")).as("below2"), col("cum").as("upto2"),
      col("n_g").as("n2"))
    val pair = a.join(b, "v").where(col("g1") < col("g2"))
      .groupBy(col("g1"), col("g2"), col("n1"), col("n2"))
      .agg(
        sum(col("c1").cast("decimal(38,0)") * col("below2")).as("more"),
        sum(col("c1").cast("decimal(38,0)") *
          (col("n2") - col("upto2"))).as("less"))
      // 2·U_ij = 2·less + ties = n1·n2 − more + less — exact BIGINT
      .select((col("n1").cast("decimal(38,0)") * col("n2") - col("more")
        + col("less")).cast("long").as("u2"))
      .agg(sum(col("u2")).as("j2"))
    val perG = byGV.groupBy(col("g")).agg(sum(col("c")).as("n_i"))
      .agg(sum(col("n_i")).as("n"),
        sum(col("n_i") * col("n_i")).as("sn2"),
        sum(col("n_i") * col("n_i") *
          (lit(2L) * col("n_i") + lit(3L))).as("sn23"))
    def d(c: Column) = c.cast("double")
    // 2·μ = (N² − Σn²)/2 ; (2σ)² = (N²(2N+3) − Σn²(2n+3))/18
    val mu2 = (d(col("n")) * d(col("n")) - d(col("sn2"))) / lit(2.0)
    val var4 = (d(col("n")) * d(col("n")) *
      (lit(2.0) * d(col("n")) + lit(3.0)) - d(col("sn23"))) / lit(18.0)
    pair.crossJoin(broadcast(perG))
      .select(col("n"), col("j2"),
        when(var4 > lit(0.0),
          Det.r4((d(col("j2")) - mu2) / sqrt(var4)))
          .otherwise(lit(null)).as("z"))
  }

  /** COCHRAN–ARMITAGE TREND TEST — does purchase propensity TREND
    * monotonically across the hour of day? The ordered-groups
    * proportions test that completes the categorical family
    * (chi-squared asks "any difference", this asks "a directional
    * one"; scores s_i = hour). Five exact integer aggregates (N, R,
    * Σs·r, Σs·n, Σs²·n — BIGINT here, DECIMAL(38,0) at 10¹²-row
    * scale per the standing widening note), then one fixed IEEE text:
    * T = (N·Σsr − R·Σsn)/N, Var = p(1−p)(Σs²n − (Σsn)²/N),
    * Z = T/√Var — double-before-product on every BIGINT pair (the
    * r10 ratio rule). NULL Z on zero variance (all events in one
    * hour, or p ∈ {0,1}) in both engines. One aggregation pass over
    * a 24-row intermediate. */
  def aggCochranArmitage(spark: SparkSession, sfDir: String): DataFrame = {
    val byH = Tables.events(spark, sfDir)
      .select(hour(col("ts")).cast("long").as("s"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("x"))
      .groupBy(col("s"))
      .agg(count(lit(1)).as("n_i"), sum(col("x")).as("r_i"))
    val agg = byH.agg(sum(col("n_i")).as("n"), sum(col("r_i")).as("r"),
      sum(col("s") * col("r_i")).as("sr"),
      sum(col("s") * col("n_i")).as("sn"),
      sum(col("s") * col("s") * col("n_i")).as("snn"))
    def d(c: Column) = c.cast("double")
    val t = (d(col("n")) * d(col("sr")) - d(col("r")) * d(col("sn"))) /
      d(col("n"))
    val p = d(col("r")) / d(col("n"))
    val v = p * (lit(1.0) - p) *
      (d(col("snn")) - d(col("sn")) * d(col("sn")) / d(col("n")))
    agg.select(col("n"), col("r"), Det.r4(t).as("t"),
      when(v > lit(0.0), Det.r4(t / sqrt(v)))
        .otherwise(lit(null)).as("z"))
  }

  /** The PRODUCTION form of [[aggMannWhitney]]'s ranking — the
    * distributed two-pass rank statistic for value domains too large
    * for one ordered window (fully continuous measures, where the
    * distinct-value relation is corpus-sized): range-partition the
    * value-grain counts, sort within partitions (globally ordered by
    * the range property), pass A reduces each partition to its item
    * total (one tiny collect → prefix offsets, broadcast back), pass B
    * walks each partition once with its offset, accumulating the exact
    * 2·average-rank products locally — the shuffle after it carries
    * one partial triple per partition. Same integers as the window
    * plan by construction; spec'd row-identical to [[aggMannWhitney]]
    * (the partPagerankConverged production-twin pattern). The lazy
    * checkpoint pins ONE range layout for both passes — two
    * executions of repartitionByRange may sample different bounds. */
  def mannWhitneyDistributed(spark: SparkSession, sfDir: String,
      partitions: Int = 8): DataFrame = {
    import spark.implicits._
    val byVal = Tables.events(spark, sfDir)
      .where(col("event_type").isin("click", "purchase"))
      .groupBy(col("value"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
        .as("c1"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("c2"))
      .as[(Double, Long, Long)]
      .repartitionByRange(partitions, col("value"))
      .sortWithinPartitions("value")
      .localCheckpoint(eager = false)
    val partTotals = byVal.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var t = 0L
      it.foreach { case (_, c1, c2) => t += c1 + c2 }
      Iterator((pid, t))
    }.collect().toMap
    val offsets = (0 until partitions).map { p =>
      p -> (0 until p).map(q => partTotals.getOrElse(q, 0L)).sum
    }.toMap
    val bc = spark.sparkContext.broadcast(offsets)
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    byVal.mapPartitions { it =>
        var cum = bc.value(org.apache.spark.TaskContext.getPartitionId())
        var n1 = 0L; var n2 = 0L; var r1x2 = 0L
        it.foreach { case (_, c1, c2) =>
          val r2 = 2L * (cum + 1L) + c1 + c2 - 1L
          r1x2 += c1 * r2; n1 += c1; n2 += c2; cum += c1 + c2
        }
        Iterator((n1, n2, r1x2))
      }
      .toDF("pn1", "pn2", "pr1x2")
      .agg(sum(col("pn1")).as("n1"), sum(col("pn2")).as("n2"),
        sum(col("pr1x2")).as("r1x2"))
      .select(col("n1"), col("n2"),
        (col("r1x2") - col("n1") * (col("n1") + lit(1L))).as("u1x2"))
      .select(col("n1"), col("n2"), col("u1x2"),
        Det.r4(d(col("u1x2") - col("n1") * col("n2")) /
          sqrt(d(col("n1")) * d(col("n2")) *
            d(col("n1") + col("n2") + lit(1L)) / lit(3.0))).as("z"))
  }

  /** Distributed EXACT order statistics — the two-pass rank runtime
    * ([[mannWhitneyDistributed]]'s scaffolding) pointed at quantile
    * selection: exact lower-median-style integer-rank quantiles
    * (rank ⌈q·n⌉, the nPercentile discipline) of a measure WITHOUT a
    * single-partition sort. Value-grain counts range-partition and
    * sort locally; partition totals collect once (P rows) into prefix
    * offsets; the partition holding each target rank emits its value
    * during one offset-seeded walk. Returns (quantile, value) rows.
    * Spec'd equal to a driver-side exact rank selection over the same
    * grain at several partition counts. */
  def exactQuantilesDistributed(spark: SparkSession, sfDir: String,
      quantiles: Seq[(Long, Long)] = Seq((1L, 2L), (9L, 10L)),
      partitions: Int = 8): DataFrame = {
    import spark.implicits._
    val byVal = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_quantity").as("v"))
      .agg(count(lit(1)).as("c"))
      .as[(Double, Long)]
      .repartitionByRange(partitions, col("v"))
      .sortWithinPartitions("v")
      .localCheckpoint(eager = false)
    val partTotals = byVal.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var t = 0L
      it.foreach { case (_, c) => t += c }
      Iterator((pid, t))
    }.collect().toMap
    val n = partTotals.values.sum
    // ceil(q·n) as (num·n + den − 1) div den — exact integer ranks
    val targets = quantiles.map { case (num, den) =>
      (s"p${num * 100 / den}", (num * n + den - 1) / den)
    }
    val offsets = (0 until partitions).map { p =>
      p -> (0 until p).map(q => partTotals.getOrElse(q, 0L)).sum
    }.toMap
    val bcOff = spark.sparkContext.broadcast(offsets)
    val bcT = spark.sparkContext.broadcast(targets)
    byVal.mapPartitions { it =>
        var cum = bcOff.value(
          org.apache.spark.TaskContext.getPartitionId())
        val out = Seq.newBuilder[(String, Double)]
        it.foreach { case (v, c) =>
          val lo = cum + 1L
          cum += c
          bcT.value.foreach { case (lbl, r) =>
            if (r >= lo && r <= cum) out += ((lbl, v))
          }
        }
        out.result().iterator
      }
      .toDF("quantile", "value")
      .orderBy("quantile")
  }

  /** Exact interpolated percentiles (median + p90) per return flag —
    * Spark percentile() and DuckDB quantile_cont share linear
    * interpolation; r4 absorbs last-ulp arithmetic differences. */
  def aggPercentile(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        Det.r4(expr("percentile(l_quantity, 0.5)")).as("p50_qty"),
        Det.r4(expr("percentile(l_quantity, 0.9)")).as("p90_qty"))
      .orderBy("l_returnflag")

  /** BOWLEY (quartile) SKEWNESS per order priority — the robust
    * skewness read beside [[aggSkewKurt]]'s moment form: (Q1 + Q3 −
    * 2·Q2)/(Q3 − Q1) from EXACT integer-rank quartiles (the
    * q_agg_quantile_dist selection: first grain value whose running
    * count reaches ⌈q·n⌉ — no interpolation, so the quartiles are
    * actual data values and bit-identical cross-engine); the ratio is
    * one shared IEEE expression, NULL when Q3 = Q1 (degenerate IQR)
    * in both engines. Histogram grain per group. */
  def aggBowleySkew(spark: SparkSession, sfDir: String): DataFrame = {
    val g = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderpriority").as("p"), col("o_totalprice").as("v"))
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("p")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val r = g.withColumn("cum", sum(col("c")).over(wCum))
      .localCheckpoint(eager = false) // three quartile selections
    val n = g.groupBy(col("p")).agg(sum(col("c")).as("n"))
      .localCheckpoint(eager = false)
    val rq = r.join(n, "p")
    def quart(num: Int): DataFrame = rq
      .where(col("cum") >= expr(s"($num * n + 3) div 4"))
      .groupBy(col("p")).agg(min(col("v")).as(s"q$num"))
    quart(1).join(quart(2), "p").join(quart(3), "p").join(n, "p")
      .select(col("p").as("o_orderpriority"), col("n"),
        col("q1"), col("q2"), col("q3"),
        when(col("q3") > col("q1"),
          Det.r4((col("q1") + col("q3") - lit(2.0) * col("q2")) /
            (col("q3") - col("q1"))))
          .otherwise(lit(null)).as("bowley"))
      .orderBy("o_orderpriority")
  }

  /** WINSORIZED MEAN per order priority — the robust center that
    * CLIPS instead of dropping ([[aggBowleySkew]] family; the trimmed
    * mean discards tails, winsorizing pins them to the exact
    * integer-rank P10/P90 — the estimator of choice when tail MASS
    * matters but tail VALUES are noise): cut points by the
    * interpolation-free rank selection (⌈n/10⌉, ⌈9n/10⌉ — actual data
    * values), the clipped sum assembled from exact 100-scaled BIGINTs
    * (o_totalprice carries 2 decimals) in one histogram-grain pass,
    * and the mean is a single IEEE expression over those integers. */
  def aggWinsorMean(spark: SparkSession, sfDir: String): DataFrame = {
    val g = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderpriority").as("p"),
        (col("o_totalprice").cast("decimal(18,2)") * lit(100L))
          .cast("long").as("vq"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false) // two cut selections + clip pass
    val wCum = Window.partitionBy(col("p")).orderBy(col("vq"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val r = g.withColumn("cum", sum(col("c")).over(wCum))
      .localCheckpoint(eager = false)
    val n = g.groupBy(col("p")).agg(sum(col("c")).as("n"))
    val rq = r.join(n, "p")
    def cut(name: String, rankExpr: String): DataFrame = rq
      .where(col("cum") >= expr(rankExpr))
      .groupBy(col("p")).agg(min(col("vq")).as(name))
    val cuts = cut("lo", "(n + 9) div 10")
      .join(cut("hi", "(9 * n + 9) div 10"), "p")
    def d(c: Column) = c.cast("double")
    g.join(broadcast(cuts), "p").join(broadcast(n), "p")
      .groupBy(col("p"), col("n"), col("lo"), col("hi"))
      .agg(
        sum(when(col("vq") < col("lo"), col("c")).otherwise(0L))
          .as("nlo"),
        sum(when(col("vq") > col("hi"), col("c")).otherwise(0L))
          .as("nhi"),
        sum(when(col("vq") >= col("lo") && col("vq") <= col("hi"),
          col("c").cast("decimal(38,0)") * col("vq"))
          .otherwise(lit(0L).cast("decimal(38,0)"))).as("smid"))
      .select(col("p").as("o_orderpriority"), col("n"),
        Det.r4(d(col("lo")) / lit(100.0)).as("p10"),
        Det.r4(d(col("hi")) / lit(100.0)).as("p90"),
        Det.r4((d(col("smid")) + d(col("nlo")) * d(col("lo")) +
          d(col("nhi")) * d(col("hi"))) / (lit(100.0) * d(col("n"))))
          .as("wmean"))
      .orderBy("o_orderpriority")
  }

  /** CRONBACH'S ALPHA over the daily event-type panel — the internal-
    * consistency read ([[aggFriedman]]'s blocks recast as a
    * reliability design: event types are the "items", complete days
    * the observations; do the four daily series move together enough
    * to be one composite activity index?). α = k/(k−1)·(1 −
    * Σᵢσᵢ²/σ_tot²) with every variance an exact n²-scaled integer
    * (nΣq² − S² over 10⁴-scaled daily means — the common n on
    * complete days cancels the scale), so α is one IEEE text over
    * exact DECIMAL(38,0)s. NULL on k < 2 or zero total variance. */
  def aggCronbachAlpha(spark: SparkSession, sfDir: String): DataFrame = {
    val types = Seq("click", "purchase", "signup", "error")
    def dc(c: Column) = c.cast("decimal(38,0)")
    val m = Tables.events(spark, sfDir)
      .where(col("event_type").isin(types: _*))
      .groupBy(date_trunc("day", col("ts")).as("d"),
        col("event_type").as("g"))
      .agg(Det.avg4(col("value")).as("v"))
      .select(col("d"), col("g"),
        (col("v").cast("decimal(18,4)") * lit(10000L)).cast("long")
          .as("q"))
      .localCheckpoint(eager = false) // completeness + items + total
    val complete = m.groupBy(col("d")).agg(count(lit(1)).as("nb"))
      .where(col("nb") === types.size).select(col("d"))
    val mc = m.join(complete, Seq("d"), "left_semi")
      .localCheckpoint(eager = false) // item variances + day totals
    val items = mc.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("s"),
        sum(dc(col("q")) * col("q")).as("s2"))
      .select(col("g"), col("n"),
        (dc(col("n")) * col("s2") - dc(col("s")) * col("s")).as("vn2"))
    val tot = mc.groupBy(col("d")).agg(sum(col("q")).as("qt"))
      .agg(count(lit(1)).as("n"), sum(col("qt")).as("s"),
        sum(dc(col("qt")) * col("qt")).as("s2"))
      .select(col("n").as("nt"),
        (dc(col("n")) * col("s2") - dc(col("s")) * col("s")).as("tn2"))
    val agg = items.agg(count(lit(1)).as("k"), max(col("n")).as("n"),
      sum(col("vn2")).as("svi")).crossJoin(broadcast(tot))
    def d(c: Column) = c.cast("double")
    agg.select(col("k"), col("n").as("n_days"),
      when(col("k") > 1L && col("tn2") > lit(0L),
        Det.r4((d(col("k")) / (d(col("k")) - lit(1.0))) *
          (lit(1.0) - d(col("svi")) / d(col("tn2")))))
        .otherwise(lit(null)).as("alpha"))
  }

  /** ODDS RATIO + RELATIVE RISK for the 2×2 exposure/outcome table —
    * the A/B-test effect sizes beside [[aggCramersV]]'s symmetric
    * association: exposure = user parity (the experiment-arm stand-in
    * this fixture affords), outcome = converted (any purchase). The
    * four cells are exact BIGINTs off one per-user pass; OR =
    * (a·d)/(b·c) and RR = (a/(a+b))/(c/(c+d)) multiply AFTER the
    * double casts (the skew-ratio overflow rule — a BIGINT a·d
    * product dies at ~3×10⁹ users per cell) and report NULL on an
    * empty denominator cell in both engines. */
  def aggOddsRatio(spark: SparkSession, sfDir: String): DataFrame = {
    def d(c: Column) = c.cast("double")
    val per = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("conv"))
      .select((col("user_id") % 2 === 0).as("exposed"), col("conv"))
    val s = per.agg(
      sum(when(col("exposed") && col("conv") === 1L, 1L).otherwise(0L))
        .as("a"),
      sum(when(col("exposed") && col("conv") === 0L, 1L).otherwise(0L))
        .as("b"),
      sum(when(!col("exposed") && col("conv") === 1L, 1L).otherwise(0L))
        .as("c"),
      sum(when(!col("exposed") && col("conv") === 0L, 1L).otherwise(0L))
        .as("d"))
    val orv = d(col("a")) * d(col("d")) / (d(col("b")) * d(col("c")))
    val rr = (d(col("a")) / (d(col("a")) + d(col("b")))) /
      (d(col("c")) / (d(col("c")) + d(col("d"))))
    s.select(col("a"), col("b"), col("c"), col("d"),
      when(col("b") > 0L && col("c") > 0L, Det.r4(orv))
        .otherwise(lit(null)).as("odds_ratio"),
      when(col("c") > 0L && col("a") + col("b") > 0L &&
          col("c") + col("d") >= 0L, Det.r4(rr))
        .otherwise(lit(null)).as("rel_risk"))
  }

  /** TUKEY-FENCE OUTLIER AUDIT per order priority — the boxplot read:
    * exact integer-rank quartiles (the [[aggBowleySkew]] selection),
    * fences at Q1 − 1.5·IQR and Q3 + 1.5·IQR computed in ONE shared
    * IEEE expression (1.5·x is exact in binary; the comparisons see
    * identical doubles in both engines), and exact counts of rows
    * beyond each fence. The quartile pass is histogram-grain; the
    * counting pass is one more aggregate over the same histogram —
    * never a second raw scan shape. */
  def aggTukeyOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val g = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderpriority").as("p"), col("o_totalprice").as("v"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false) // quartiles + the outlier count
    val wCum = Window.partitionBy(col("p")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val r = g.withColumn("cum", sum(col("c")).over(wCum))
      .localCheckpoint(eager = false) // two quartile selections
    val n = g.groupBy(col("p")).agg(sum(col("c")).as("n"))
    val rq = r.join(n, "p")
    def quart(num: Int): DataFrame = rq
      .where(col("cum") >= expr(s"($num * n + 3) div 4"))
      .groupBy(col("p")).agg(min(col("v")).as(s"q$num"))
    val fences = quart(1).join(quart(3), "p")
      .select(col("p"),
        (col("q1") - lit(1.5) * (col("q3") - col("q1"))).as("lo"),
        (col("q3") + lit(1.5) * (col("q3") - col("q1"))).as("hi"))
    g.join(fences, "p").join(n, "p")
      .groupBy(col("p"), col("n"), col("lo"), col("hi"))
      .agg(sum(when(col("v") < col("lo"), col("c")).otherwise(0L))
        .as("n_low"),
        sum(when(col("v") > col("hi"), col("c")).otherwise(0L))
          .as("n_high"))
      .select(col("p").as("o_orderpriority"), col("n"),
        Det.r4(col("lo")).as("lo"), Det.r4(col("hi")).as("hi"),
        col("n_low"), col("n_high"))
      .orderBy("o_orderpriority")
  }

  /** HLL++ sketch distinct (no oracle — approximate; bounds in spec). */
  def aggHll(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("approx_nd"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** Approximate-quantile SKETCH (Greenwald-Khanna via
    * `approx_percentile`) next to its exact twin [[aggPercentile]] —
    * the mergeable one-pass summary that replaces the exact sort-based
    * percentile at 100 TB (exact percentile must see all values per
    * group; the sketch is fixed-size per partition and merges
    * associatively). accuracy=100 bounds rank error at n/100 per
    * group. No oracle (sketch internals are engine-specific); the spec
    * brackets every sketched quantile against the exact per-group
    * rank neighborhood. */
  def aggApproxPercentile(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        expr("approx_percentile(l_quantity, 0.5, 100)").as("ap50"),
        expr("approx_percentile(l_quantity, 0.9, 100)").as("ap90"))
      .orderBy("l_returnflag")

  /** rank + dense_rank per priority by price (ties share a rank). */
  def windowRank(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc)
    Tables.orders(spark, sfDir)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rnk", rank().over(w).cast("long"))
      .withColumn("drnk", dense_rank().over(w).cast("long"))
      .orderBy(col("o_orderpriority"), col("o_totalprice").desc,
        col("o_orderkey"))
  }

  /** REVENUE QUARTILES — NTILE(4) over customers by lifetime revenue
    * (the segmentation cut marketing reads before everything else):
    * per-customer revenue is an exact DECIMAL sum, the quartile
    * assignment rides a TOTAL order (rev_dec DESC, custkey — ntile is
    * deterministic only under a total order; both engines share the
    * standard ⌈n/k⌉-then-⌊n/k⌋ SQL NTILE definition), and each
    * quartile reports its exact size and revenue mass. */
  def windowNtile(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("rev_dec"))
    val w = Window.orderBy(col("rev_dec").desc, col("o_custkey"))
    rev.withColumn("quartile", ntile(4).over(w).cast("long"))
      .groupBy(col("quartile"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("rev_dec")).cast("double").as("revenue"))
      .orderBy("quartile")
  }

  /** Running total + lag over DAILY revenue (pre-aggregated, so the
    * global-order window sees thousands of rows, not raw orders; the
    * running sum accumulates DECIMAL — exact, order-independent). */
  def windowRunning(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.orders(spark, sfDir)
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("rev_dec"))
    val w = Window.orderBy(col("day"))
    daily
      .withColumn("run", sum(col("rev_dec"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("prev", lag(col("rev_dec"), 1).over(w))
      .select(col("day"), col("rev_dec").cast("double").as("rev"),
        col("run").cast("double").as("run"),
        col("prev").cast("double").as("prev"))
      .orderBy("day")
  }

  /** 7-row moving average per priority (ROWS frame; decimal numerator and
    * explicit double division keep both engines bit-identical). */
  def windowMoving(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_orderdate"), col("o_orderkey")).rowsBetween(-6, 0)
    Tables.orders(spark, sfDir)
      .select(col("o_orderpriority"), col("o_orderdate"), col("o_orderkey"),
        col("o_totalprice"))
      .withColumn("mov", Det.r4(
        sum(col("o_totalprice").cast("decimal(18,4)")).over(w).cast("double")
          / count(lit(1)).over(w)))
      .orderBy("o_orderpriority", "o_orderdate", "o_orderkey")
  }

  /** Top-3 orders per priority (keyed row_number — deterministic limit). */
  def topkGroup(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, sfDir)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= 3)
      .orderBy(col("o_orderpriority"), col("rn"))
  }

  /** Multi-key sort, mixed direction, total order before LIMIT. */
  def sortLimit(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_totalprice", "o_orderdate", "o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderdate"), col("o_orderkey"))
      .limit(50)

  private def custNations(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir).select(col("c_nationkey").as("nationkey"))
  private def suppNations(spark: SparkSession, sfDir: String): DataFrame =
    Tables.supplier(spark, sfDir).select(col("s_nationkey").as("nationkey"))

  def setUnion(spark: SparkSession, sfDir: String): DataFrame =
    custNations(spark, sfDir).union(suppNations(spark, sfDir))
      .distinct().orderBy("nationkey")

  def setIntersect(spark: SparkSession, sfDir: String): DataFrame =
    custNations(spark, sfDir).intersect(suppNations(spark, sfDir))
      .orderBy("nationkey")

  /** EXCEPT with a non-trivial result: parts ordered at least once minus
    * the large-size catalog — exercises distinct-set difference. */
  def setExcept(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir).select(col("l_partkey").as("partkey"))
      .except(Tables.part(spark, sfDir).where(col("p_size") > 10)
        .select(col("p_partkey").as("partkey")))
      .orderBy("partkey")

  /** Multiset EXCEPT ALL — the bag semantics (multiplicity = max(0,
    * m₁−m₂), SQL standard) both engines implement natively; rows are
    * single-column so duplicates at any position are interchangeable
    * and the sorted hash is total-order-stable. */
  def setExceptAll(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir).select(col("l_partkey").as("partkey"))
      .exceptAll(Tables.part(spark, sfDir).where(col("p_size") > 10)
        .select(col("p_partkey").as("partkey")))
      .orderBy("partkey")

  /** Multiset INTERSECT ALL — multiplicity = min(m₁, m₂). */
  def setIntersectAll(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir).select(col("c_nationkey").as("nationkey"))
      .intersectAll(Tables.supplier(spark, sfDir)
        .select(col("s_nationkey").as("nationkey")))
      .orderBy("nationkey")

  /** Scalar string functions (codegen'd builtins — no UDFs). */
  def strFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir)
      .select(col("p_partkey"),
        lower(col("p_name")).as("lname"),
        upper(col("p_brand")).as("ubrand"),
        substring(col("p_type"), 1, 5).as("type5"),
        length(col("p_name")).cast("long").as("name_len"),
        regexp_replace(col("p_name"), lit(" "), lit("_")).as("snake"),
        concat(col("p_brand"), lit(":"), col("p_type")).as("brand_type"),
        col("p_name").like("%a%").as("has_a"))
      .orderBy("p_partkey")

  /** Scalar date functions (types widened to BIGINT to match DuckDB). */
  def dateFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"),
        dayofmonth(col("o_orderdate")).cast("long").as("d"),
        date_trunc("month", col("o_orderdate")).as("mon"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
          .cast("long").as("days_since"))
      .orderBy("o_orderkey")

  /** Scalar math functions; transcendentals rounded via the shared
    * IEEE formula (1-ulp libm differences vanish at 4 decimals). */
  def mathFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber"),
        abs(col("l_quantity") - lit(25.0)).as("a"),
        ceil(col("l_extendedprice")).as("c"),
        floor(col("l_extendedprice")).as("f"),
        Det.r4(col("l_extendedprice") / lit(7.0)).as("r"),
        Det.r4(sqrt(col("l_extendedprice"))).as("sq"),
        Det.r4(log(col("l_extendedprice"))).as("lg"),
        Det.r4(exp(col("l_discount"))).as("ex"),
        pmod(col("l_orderkey"), lit(7L)).as("pm"))
      .orderBy("l_orderkey", "l_linenumber")

  /** JSON extraction (Kenshin tag analog): props.k stats per type. */
  def jsonFuncs(spark: SparkSession, sfDir: String): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast("long")
    Tables.events(spark, sfDir)
      .select(col("event_type"), k.as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        max(col("k")).as("max_k"),
        Det.r4(sum(col("k")).cast("double") / count(lit(1))).as("avg_k"))
      .orderBy("event_type")
  }

  /** Pivot: per-user event-type value matrix (wide rollup read). The
    * pivot column list is explicit, so the plan is a single pass with
    * conditional aggregates — no collect-distinct stage. */
  def pivotEvents(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(coalesce(Det.dsum4(col("value")), lit(0.0)))
      .orderBy("user_id")

  /** Scalar-subquery shape: orders pricier than their priority class
    * average. The comparison is multiplied through (price·n > Σprice)
    * so it stays in exact decimal arithmetic — no division, no float
    * divergence between engines. */
  def scalarSubquery(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .withColumn("s", sum(col("o_totalprice").cast("decimal(18,4)")).over(w))
      .withColumn("n", count(lit(1)).over(w))
      .where(col("o_totalprice").cast("decimal(18,4)") * col("n") > col("s"))
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** Array-function family over the embeddings table: length, endpoint
    * access, min/max, ordered fold — the ARRAY<FLOAT> toolkit. */
  def arrayFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        Det.r4(element_at(col("embedding"), 1).cast("double")).as("first"),
        Det.r4(element_at(col("embedding"), -1).cast("double")).as("last"),
        Det.r4(array_min(col("embedding")).cast("double")).as("mn"),
        Det.r4(array_max(col("embedding")).cast("double")).as("mx"),
        Det.r4(aggregate(col("embedding"), lit(0.0d),
          (acc, x) => acc + x.cast("double"))).as("s"))
      .orderBy("vec_id")

  /** Generator/UDTF surface: token explosion, top-20 by frequency. */
  def explodeTokens(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(20)

  /** The composed star-schema read (TPC-H Q5 family): fact ⋈ three
    * dimensions with a selective date filter, revenue per (nation,
    * month). This is the query shape Catalyst exists for — the date
    * predicate pushes into the orders scan, join order is
    * optimizer-chosen, the nation dimension broadcasts explicitly (and
    * customer auto-broadcasts under the threshold; at 100 TB it becomes
    * a shuffle join on the same plan). Exact decimal revenue
    * accumulation per the [[Det]] discipline. */
  def starRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
      .where(col("o_orderdate") >= expr("TIMESTAMP '1996-01-01 00:00:00'") &&
        col("o_orderdate") < expr("TIMESTAMP '1997-01-01 00:00:00'"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sfDir),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), date_trunc("month", col("o_orderdate"))
        .as("month"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("n_name", "month")
  }

  /** Latest-row-per-key dedup (the SCD / upsert-compaction read): each
    * customer's most recent order via one row_number window — the
    * single most common warehouse dedup shape. Total tiebreak
    * (o_orderdate, o_orderkey) keeps the winner engine-independent;
    * at scale this is one shuffle on the key, no join. */
  def latestPerKey(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    Tables.orders(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"))
      .orderBy("o_custkey")
  }

  /** MERGE-ON-READ upsert snapshot — the CDC read every lakehouse
    * deployment runs: a base table plus a changes feed (updates +
    * tombstones) resolve latest-version-wins per key, tombstones drop,
    * and the snapshot aggregates per status. One hash shuffle on the
    * key does the whole merge (max_by over a version-tagged struct —
    * no join, no window sort); at 100 TB base and changes are
    * bucket-partitioned on the key so the merge is co-located. The
    * changes feed derives deterministically from orders (every 10th
    * key doubles its price at v1; every 97th-mod-3 key that is not
    * also an update becomes a tombstone), keeping versions unique per
    * key so latest-wins needs no tiebreak. */
  def upsertSnapshot(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val base = o.select(col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice"), lit(0L).as("version"), lit(false).as("deleted"))
    val updates = o.where(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        (col("o_totalprice") * 2.0).as("o_totalprice"),
        lit(1L).as("version"), lit(false).as("deleted"))
    val deletes = o.where(col("o_orderkey") % 97 === 3 &&
        col("o_orderkey") % 10 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        lit(0.0).as("o_totalprice"),
        lit(1L).as("version"), lit(true).as("deleted"))
    base.unionByName(updates).unionByName(deletes)
      .groupBy(col("o_orderkey"))
      .agg(max_by(struct(col("o_orderstatus"), col("o_totalprice"),
        col("deleted"), col("version")), col("version")).as("m"))
      .where(!col("m.deleted"))
      .groupBy(col("m.o_orderstatus").as("o_orderstatus"))
      .agg(count(lit(1)).as("n_live"),
        sum(when(col("m.version") === 1L, 1L).otherwise(0L)).as("n_updated"),
        Det.r4(Det.dsum4(col("m.o_totalprice"))).as("sum_price"))
      .orderBy("o_orderstatus")
  }

  /** TIME-TRAVEL over the merge-on-read change log ([[upsertSnapshot]]'s
    * MoR pattern with a third version added): snapshot AS OF versions
    * 0, 1 and 2 in ONE pass — the log crossJoins a broadcast 3-row
    * version axis, keeps `version <= asof`, and the max_by merge runs
    * per (asof, key). One fact scan serves all three snapshots (a
    * union-of-reads formulation would rescan per version); the shuffle
    * key (asof, orderkey) keeps each snapshot's merge co-located. The
    * v2 layer restores half the v1-deleted keys at 3× price and deletes
    * a fresh slice — so the three snapshots genuinely differ. */
  def timeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val base = o.select(col("o_orderkey"), col("o_totalprice"),
      lit(0L).as("version"), lit(false).as("deleted"))
    val updates = o.where(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), (col("o_totalprice") * 2.0).as("o_totalprice"),
        lit(1L).as("version"), lit(false).as("deleted"))
    val deletes = o.where(col("o_orderkey") % 97 === 3 &&
        col("o_orderkey") % 10 =!= 0)
      .select(col("o_orderkey"), lit(0.0).as("o_totalprice"),
        lit(1L).as("version"), lit(true).as("deleted"))
    val restores = o.where(col("o_orderkey") % 97 === 3 &&
        col("o_orderkey") % 10 =!= 0 && col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), (col("o_totalprice") * 3.0).as("o_totalprice"),
        lit(2L).as("version"), lit(false).as("deleted"))
    val lateDeletes = o.where(col("o_orderkey") % 89 === 7 &&
        col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), lit(0.0).as("o_totalprice"),
        lit(2L).as("version"), lit(true).as("deleted"))
    val log = base.unionByName(updates).unionByName(deletes)
      .unionByName(restores).unionByName(lateDeletes)
    val asof = spark.range(3).select(col("id").as("snap"))
    log.crossJoin(broadcast(asof))
      .where(col("version") <= col("snap"))
      .groupBy(col("snap"), col("o_orderkey"))
      .agg(max_by(struct(col("o_totalprice"), col("deleted")),
        col("version")).as("m"))
      .where(!col("m.deleted"))
      .groupBy(col("snap"))
      .agg(count(lit(1)).as("n_live"),
        Det.r4(Det.dsum4(col("m.o_totalprice"))).as("sum_price"))
      .orderBy("snap")
  }

  /** Disc-price revenue expression shared by the TPC-H-shape reads: the
    * per-row product is IEEE double (identical op order in both engines),
    * then DECIMAL(18,4) accumulation makes the SUM order-independent
    * (the q_star_revenue-proven pattern). */
  private def discPrice: Column =
    (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .cast("decimal(18,4)")

  /** TPC-H Q1 shape (pricing summary report): one full-fact scan, all
    * measures in a single partial-agg pass over 2 group keys — the
    * canonical map-side-combine aggregate. At 100 TB this is the query
    * AQE coalesces hardest: 6 output rows from a shuffle of 2-key
    * partials. Charge chains two IEEE multiplies in the same written
    * order both engines. */
  def tpchPricingSummary(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate") <= expr("TIMESTAMP '2001-09-01 00:00:00'"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Det.dsum4(col("l_quantity")).as("sum_qty"),
        Det.dsum4(col("l_extendedprice")).as("sum_base_price"),
        Det.dsum4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("sum_disc_price"),
        // the 3-factor product is a TRUE 6-decimal value (2+2+2 dp
        // inputs): DECIMAL(18,6) recovers it exactly from the double in
        // both engines, whereas rounding to 4 dp lands on half-boundaries
        // where the engines' cast dialects disagree; dsum6 keeps the
        // scaled sum an exact BIGINT so the final division is the same
        // IEEE op in both engines even past 2^53 (the sf1 catch)
        Det.dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          (lit(1.0) + col("l_tax"))).as("sum_charge"),
        Det.davg4(col("l_quantity")).as("avg_qty"),
        Det.davg4(col("l_extendedprice")).as("avg_price"),
        Det.davg4(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** TPC-H Q3 shape (shipping priority): segment-filtered customer ⋈
    * orders ⋈ lineitem, top-10 open orders by revenue. Filters sit on
    * each scan (pushed), the two fact joins shuffle on their natural
    * keys, and the top-k is TakeOrderedAndProject (per-partition heads,
    * no global sort). l_orderkey in the tiebreak makes the LIMIT
    * boundary total. */
  def tpchShipPriority(spark: SparkSession, sfDir: String): DataFrame = {
    val cut = expr("TIMESTAMP '1998-06-01 00:00:00'")
    val c = Tables.customer(spark, sfDir)
      .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val o = Tables.orders(spark, sfDir)
      .where(col("o_orderdate") < cut)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate") > cut)
      .select("l_orderkey", "l_extendedprice", "l_discount")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(discPrice).cast("double").as("revenue"))
      .select(col("l_orderkey"), col("revenue"), col("o_orderdate"),
        col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5 shape (local-supplier volume): the 6-table star — fact ⋈
    * fact on the order key, then three broadcast dims; the extra
    * c_nationkey = s_nationkey condition rides the broadcast supplier
    * join. Only nation name survives to the agg. */
  def tpchLocalVolume(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .where(col("o_orderdate") >= expr("TIMESTAMP '1996-01-01 00:00:00'") &&
        col("o_orderdate") < expr("TIMESTAMP '1997-01-01 00:00:00'"))
      .select("o_orderkey", "o_custkey")
    Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sfDir).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(spark, sfDir)
          .select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, sfDir)
          .where(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(discPrice).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q10 shape (returned-item reporting): which customers
    * returned the most revenue in a quarter — lineitem filtered to
    * returns ⋈ date-bounded orders ⋈ customer ⋈ broadcast nation,
    * top-20 by exact revenue (TakeOrdered; c_custkey makes the limit
    * boundary total). The customer join shuffles on its natural key —
    * at 100 TB both sides hash-partition on custkey, no broadcast. */
  def tpchReturnedItems(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .where(col("o_orderdate") >= expr("TIMESTAMP '1996-10-01 00:00:00'") &&
        col("o_orderdate") < expr("TIMESTAMP '1997-01-01 00:00:00'"))
      .select("o_orderkey", "o_custkey")
    Tables.lineitem(spark, sfDir)
      .where(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sfDir)
          .select("c_custkey", "c_name", "c_acctbal", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("n_name"))
      .agg(sum(discPrice).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q4 shape (order priority checking): quarter-bounded orders
    * that shipped at least one returned line — LEFT SEMI against the
    * returns-filtered fact, counted by priority. The semi-join shuffles
    * both sides on the order key and stops at the first match; no fact
    * column survives the join, so the exchange payload is one BIGINT. */
  def tpchOrderPriority(spark: SparkSession, sfDir: String): DataFrame = {
    val returned = Tables.lineitem(spark, sfDir)
      .where(col("l_returnflag") === "R").select("l_orderkey")
    Tables.orders(spark, sfDir)
      .where(col("o_orderdate") >= expr("TIMESTAMP '1997-01-01 00:00:00'") &&
        col("o_orderdate") < expr("TIMESTAMP '1997-04-01 00:00:00'"))
      .join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H Q14 shape (promotion effect): month-bounded fact ⋈ broadcast
    * part, two exact-decimal conditional sums, then ONE IEEE division +
    * the shared rounding formula — identical op text in both engines, no
    * engine-native round(). The CASE sum ignores non-promo rows as NULL
    * (same null-skipping semantics both sides). */
  def tpchPromoEffect(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate") >= expr("TIMESTAMP '1997-03-01 00:00:00'") &&
        col("l_shipdate") < expr("TIMESTAMP '1997-04-01 00:00:00'"))
      .select("l_partkey", "l_extendedprice", "l_discount")
      .join(broadcast(Tables.part(spark, sfDir).select("p_partkey", "p_type")),
        col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", discPrice))
          .cast("double").as("promo_revenue"),
        sum(discPrice).cast("double").as("total_revenue"))
      .select(col("promo_revenue"), col("total_revenue"),
        Det.r4(lit(100.0) * col("promo_revenue") / col("total_revenue"))
          .as("promo_pct"))

  /** TPC-H Q18 shape (large-volume orders): HAVING over a fact
    * pre-aggregate (exact quantity sums are integral doubles, so the
    * 300 threshold has no boundary risk), then join the survivors —
    * a few hundred keys — back to orders and customer. At 100 TB the
    * pre-agg shrinks the fact by ~4× before any join, and the
    * survivors broadcast to both dimension joins. o_orderkey is unique,
    * making the top-50 boundary total. */
  def tpchLargeOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val big = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(Det.dsum4(col("l_quantity")).as("sum_qty"))
      .where(col("sum_qty") > 300.0)
    Tables.orders(spark, sfDir)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(spark, sfDir).select("c_custkey", "c_name"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(50)
  }

  /** TPC-H Q19 shape (discounted revenue, disjunctive predicate): the
    * OR-of-conjunctions spans both tables, so Catalyst cannot push it
    * to either scan — but the per-table ENVELOPES it implies (brand IN
    * set + size band on part, quantity band on lineitem) are derivable
    * by hand and DO push, shrinking the broadcast side and the fact
    * scan before the residual OR runs post-join. That manual implied-
    * predicate derivation is the load-bearing optimization at scale. */
  def tpchDisjunctive(spark: SparkSession, sfDir: String): DataFrame = {
    val p = broadcast(Tables.part(spark, sfDir)
      .where(col("p_brand").isin("Brand#12", "Brand#23", "Brand#3") &&
        col("p_size").between(1, 15))
      .select("p_partkey", "p_brand", "p_size"))
    Tables.lineitem(spark, sfDir)
      .where(col("l_quantity").between(1.0, 30.0))
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      .join(p, col("l_partkey") === col("p_partkey"))
      .where(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1.0, 11.0)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10.0, 20.0)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20.0, 30.0)))
      .agg(sum(discPrice).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q15 shape (top supplier): argmax over an aggregate — the
    * quarter's per-supplier revenue, filtered to the rows equal to its
    * own maximum. The max is a 1-row broadcast joined back against the
    * pre-aggregated (already tiny) revenue relation, so the fact scans
    * once; double equality is safe because both engines derive the
    * doubles from identical exact-decimal sums. */
  def tpchTopSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate") >= expr("TIMESTAMP '1997-01-01 00:00:00'") &&
        col("l_shipdate") < expr("TIMESTAMP '1997-04-01 00:00:00'"))
      .groupBy(col("l_suppkey"))
      .agg(sum(discPrice).cast("double").as("total_rev"))
    rev.crossJoin(broadcast(rev.agg(max(col("total_rev")).as("mx"))))
      .where(col("total_rev") === col("mx"))
      .join(broadcast(Tables.supplier(spark, sfDir)
          .select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev"))
      .orderBy("s_suppkey")
  }

  /** TPC-H Q22 shape (dormant high-balance customers): a scalar
    * aggregate threshold (mean positive balance — exact-decimal sum,
    * one IEEE division, broadcast as a 1-row relation) gates the
    * customer scan, then a LEFT ANTI join against the recent-order keys
    * keeps customers with no order since 1999. The anti join shuffles
    * only custkeys; at 100 TB the date filter shrinks the right side
    * first, which is what makes the anti join cheap. */
  def tpchDormantCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val thr = c.where(col("c_acctbal") > 0.0)
      .agg((Det.dsum4(col("c_acctbal")) / count(lit(1))).as("thr"))
    val recent = Tables.orders(spark, sfDir)
      .where(col("o_orderdate") >= expr("TIMESTAMP '1999-01-01 00:00:00'"))
      .select("o_custkey")
    c.crossJoin(broadcast(thr))
      .where(col("c_acctbal") > col("thr"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_dormant"),
        Det.dsum4(col("c_acctbal")).as("bal_sum"))
      .orderBy("c_nationkey")
  }

  /** TPC-H Q6 shape (forecast revenue change): pure scan-side query —
    * every predicate pushes to parquet (date range + two numeric
    * bands), one global exact-decimal sum. The plan to demand at
    * scale: zero shuffles besides the final single-row agg. */
  def tpchRevenueChange(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate") >= expr("TIMESTAMP '1996-01-01 00:00:00'") &&
        col("l_shipdate") < expr("TIMESTAMP '1997-01-01 00:00:00'") &&
        col("l_discount").between(0.03, 0.07) &&
        col("l_quantity") < 24.0)
      .agg(sum((col("l_extendedprice") * col("l_discount"))
          .cast("decimal(18,4)")).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))

  /** TPC-H Q13 shape (customer order distribution): a LEFT join whose
    * extra ON-clause predicate lives on the RIGHT side (filter-below-join
    * — equivalent and pushdown-friendly), then a two-level aggregate:
    * count per customer, histogram over the counts. The second groupBy
    * keys on an aggregate OUTPUT — 1.5k rows at sf0.01, so at 100 TB the
    * first shuffle (custkey) dominates and the second is a few thousand
    * distinct counts coalesced by AQE. */
  def tpchCustDist(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .where(col("o_orderpriority") =!= "1-URGENT")
      .select("o_custkey", "o_orderkey")
    Tables.customer(spark, sfDir).select("c_custkey")
      .join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q7 shape (volume shipping between a nation pair): the
    * nation-pair filter is pushed ONTO the dimensions before the fact
    * joins — supplier and customer are each pre-restricted to the two
    * nations (2/25 selectivity), so the broadcast supplier join prunes
    * lineitem BEFORE the orderkey shuffle and only the cross-pair filter
    * (N1→N2 or N2→N1, not N1→N1) remains post-join. Grouped by shipping
    * year: epoch-irrelevant calendar extraction, identical both engines. */
  def tpchNationPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val pair = Seq("NATION_1", "NATION_2")
    val supp = Tables.supplier(spark, sfDir)
      .join(Tables.nation(spark, sfDir), col("s_nationkey") === col("n_nationkey"))
      .where(col("n_name").isin(pair: _*))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(spark, sfDir)
      .join(Tables.nation(spark, sfDir), col("c_nationkey") === col("n_nationkey"))
      .where(col("n_name").isin(pair: _*))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate") >= expr("TIMESTAMP '1996-01-01 00:00:00'") &&
        col("l_shipdate") < expr("TIMESTAMP '1998-01-01 00:00:00'"))
      .select("l_orderkey", "l_suppkey", "l_shipdate",
        "l_extendedprice", "l_discount")
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .where(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(sum(discPrice).cast("double").as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** TPC-H Q8 shape (national market share): one nation's share of a
    * region's ECONOMY-part import volume per order year — the ratio of a
    * conditional exact-decimal sum to the total, divided ONCE in IEEE
    * with the shared rounding formula. Dimension filters (region, part
    * type) ride broadcasts; the two fact joins shuffle on their natural
    * keys. The conditional sum is NULL when the nation shipped nothing
    * that year — COALESCE to 0 with identical text both engines. */
  def tpchMarketShare(spark: SparkSession, sfDir: String): DataFrame = {
    val asiaCust = Tables.customer(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)
          .join(broadcast(Tables.region(spark, sfDir)
              .where(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey")),
        col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey")
    val supp = Tables.supplier(spark, sfDir)
      .join(Tables.nation(spark, sfDir).select(
          col("n_nationkey").as("snk"), col("n_name").as("supp_nation")),
        col("s_nationkey") === col("snk"))
      .select("s_suppkey", "supp_nation")
    val eco = Tables.part(spark, sfDir)
      .where(col("p_type") === "ECONOMY").select("p_partkey")
    Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount")
      .join(broadcast(eco), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, sfDir)
          .where(col("o_orderdate") >= expr("TIMESTAMP '1996-01-01 00:00:00'") &&
            col("o_orderdate") < expr("TIMESTAMP '1998-01-01 00:00:00'"))
          .select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(asiaCust, col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(when(col("supp_nation") === "NATION_3", discPrice))
          .cast("double").as("nation_vol"),
        sum(discPrice).cast("double").as("total_vol"))
      .select(col("o_year"),
        coalesce(col("nation_vol"), lit(0.0)).as("nation_vol"),
        col("total_vol"),
        Det.r4(coalesce(col("nation_vol"), lit(0.0)) / col("total_vol"))
          .as("mkt_share"))
      .orderBy("o_year")
  }

  /** TPC-H Q17 shape (small-quantity outlier revenue): the canonical
    * aggregate-then-join-back — per-part average quantity joined back
    * against the same fact slice, keeping rows below 20% of their part's
    * mean. Both sides hash-partition on partkey (co-located join, one
    * shuffle each); the brand restriction rides a broadcast semi first so
    * the heavy aggregate only sees 1/25 of the fact. The threshold is
    * exact-sum/count in IEEE — identical op text both engines, and
    * integral quantities never sit on the 0.2·avg boundary. */
  def tpchQtyOutlier(spark: SparkSession, sfDir: String): DataFrame = {
    val brandParts = Tables.part(spark, sfDir)
      .where(col("p_brand") === "Brand#12").select("p_partkey")
    val li = Tables.lineitem(spark, sfDir)
      .select("l_partkey", "l_quantity", "l_extendedprice")
      .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
      .select("l_partkey", "l_quantity", "l_extendedprice")
    val pa = li.groupBy(col("l_partkey").as("pk"))
      .agg((Det.dsum4(col("l_quantity")) / count(lit(1))).as("avg_qty"))
    li.join(pa, col("l_partkey") === col("pk"))
      .where(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg((Det.dsum4(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q21 shape (suppliers who kept orders waiting): multi-supplier
    * orders where exactly ONE supplier shipped the final line — that
    * supplier "held up" the order. Q21's double EXISTS/NOT EXISTS
    * self-joins collapse into one per-(order,supplier) aggregate plus
    * windows over the order partition: omax / nsupp / nach share a single
    * orderkey Exchange (three window specs, one shuffle). The blame agg
    * then shuffles 100 supplier keys; the name join is a broadcast. */
  def tpchWaitingSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("l_orderkey"))
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("l_shipdate")).as("smax"))
      .withColumn("omax", max(col("smax")).over(w))
      .withColumn("nsupp", count(lit(1)).over(w))
      .withColumn("nach",
        sum(when(col("smax") === col("omax"), 1L).otherwise(0L)).over(w))
      .where(col("nsupp") >= 2L && col("nach") === 1L &&
        col("smax") === col("omax"))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(Tables.supplier(spark, sfDir)
          .select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      // keep the KEY in the output: s_name is not a key, so grouping or
      // tiebreaking on it would silently merge/reorder homonym suppliers
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
      .limit(10)
  }

  /** TPC-H Q20 shape (part-based supplier shortlist): a chained
    * semi-join — name-filtered parts (broadcast) prune the fact, a
    * per-(supplier, part) exact-quantity aggregate applies the volume
    * threshold, and the surviving DISTINCT supplier keys semi-join the
    * supplier dim. Quantities are integral, so the 50-unit threshold has
    * no float boundary. The supplier table never carries fact columns —
    * the semi stops at first match. */
  def tpchRedPartSuppliers(spark: SparkSession, sfDir: String): DataFrame = {
    val redParts = Tables.part(spark, sfDir)
      .where(col("p_name").startsWith("red")).select("p_partkey")
    val qualified = Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate") >= expr("TIMESTAMP '1997-01-01 00:00:00'") &&
        col("l_shipdate") < expr("TIMESTAMP '1998-01-01 00:00:00'"))
      .select("l_partkey", "l_suppkey", "l_quantity")
      .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(Det.dsum4(col("l_quantity")).as("qty"))
      .where(col("qty") > 50.0)
      .select("l_suppkey").distinct()
    Tables.supplier(spark, sfDir)
      .join(qualified, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
      .orderBy("s_suppkey")
  }

  /** TPC-H Q2 shape (minimum-cost supplier per part, one region). The
    * testdata has no partsupp table, so supply cost is the OBSERVED
    * per-(part, supplier) unit price from lineitem — exact decimal
    * Σprice/Σqty, one IEEE division. EUROPE restricts suppliers through
    * the broadcast region→nation chain BEFORE the per-part argmin;
    * min-struct (cost, suppkey) gives the total-order tiebreak Q2's
    * correlated MIN subquery needs. One shuffle on (part, supplier),
    * one on part — the dims never leave broadcast. */
  def tpchMinCostSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val euSupp = Tables.supplier(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)
          .join(broadcast(Tables.region(spark, sfDir)
            .where(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
    // the region restriction is the selective predicate: semi-join it
    // into the fact BEFORE the wide (part, supplier) aggregate so the
    // shuffle carries only EUROPE's rows (~1/|regions| of the fact) —
    // non-EU pairs would die at the later join anyway
    val cost = Tables.lineitem(spark, sfDir)
      .join(broadcast(euSupp.select(col("s_suppkey"))),
        col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg((Det.dsum4(col("l_extendedprice")) /
        Det.dsum4(col("l_quantity"))).as("cost"))
    cost.join(broadcast(euSupp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(min(struct(col("cost"), col("s_suppkey"))).as("m"))
      .select(col("l_partkey").as("p_partkey"),
        col("m.s_suppkey").as("s_suppkey"), Det.r4(col("m.cost")).as("unit_cost"))
      .join(broadcast(euSupp), "s_suppkey")
      .select(col("p_partkey"), col("s_suppkey"), col("s_name"),
        col("n_name"), col("unit_cost"))
      .orderBy("p_partkey")
  }

  /** TPC-H Q9 shape (product-type profit by nation and year). No
    * ps_supplycost in the testdata, so cost is the retail-price proxy
    * `p_retailprice * l_quantity` (1+1 decimal digits — exact at
    * DECIMAL(18,4) beside the 2+2-digit discounted price; the PER-ROW
    * difference is exact decimal, summed exactly, cast out once).
    * PROMO parts only; fact joins ride broadcast dims; one shuffle on
    * (nation, year). */
  def tpchProfit(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .join(broadcast(Tables.part(spark, sfDir)
          .where(col("p_type") === "PROMO")
          .select("p_partkey", "p_retailprice")),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(spark, sfDir)
          .select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("l_shipdate")).cast("bigint")
        .as("o_year"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)") -
        (col("p_retailprice") * col("l_quantity")).cast("decimal(18,4)"))
        .cast("double").as("profit"))
      .orderBy("n_name", "o_year")

  /** TPC-H Q11 shape (important parts by value share): per-part revenue
    * vs a global scalar threshold — the group-by + HAVING-against-
    * global-scalar signature. Q11's literal `sum * FRACTION/SF` is
    * scale-bound; the scale-free restatement keeps parts 30% above the
    * MEAN per-part value (total and part count travel in the same 1-row
    * broadcast). The threshold multiply/compare runs on identical
    * doubles in both engines. One shuffle on part. */
  def tpchImportantParts(spark: SparkSession, sfDir: String): DataFrame = {
    val perPart = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_partkey"))
      .agg(sum(discPrice).cast("double").as("value"))
    perPart
      .crossJoin(broadcast(perPart.agg(
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total"),
        count(lit(1)).as("np"))))
      .where(col("value") > col("total") / col("np") * lit(1.3))
      .select(col("l_partkey").as("p_partkey"), Det.r4(col("value")).as("value"))
      .orderBy(col("value").desc, col("p_partkey"))
  }

  /** TPC-H Q12 shape (priority class by line status): the conditional
    * two-way priority count — lineitem joined to orders in a ship-date
    * year, CASE-summed into urgent/other counts per line status (the
    * testdata has no l_shipmode; l_linestatus is the mode dimension).
    * Exact BIGINT sums; the orderkey join is the only shuffle. */
  def tpchPriorityClass(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate") >= expr("TIMESTAMP '1997-01-01 00:00:00'") &&
        col("l_shipdate") < expr("TIMESTAMP '1998-01-01 00:00:00'"))
      .select("l_orderkey", "l_linestatus")
      .join(Tables.orders(spark, sfDir)
        .select("o_orderkey", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_linestatus"))
      .agg(sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
      .orderBy("l_linestatus")

  /** TPC-H Q16 shape (supplier count by part attributes): DISTINCT
    * (part, supplier) pairs observed in the fact (the partsupp stand-in)
    * against a brand/type/size-filtered part dim, exact COUNT DISTINCT
    * suppliers per (brand, type, size). Distinct-pair dedup is one
    * shuffle on the pair key; the dim stays broadcast. */
  def tpchSupplierCount(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select("l_partkey", "l_suppkey").distinct()
      .join(broadcast(Tables.part(spark, sfDir)
          .where(col("p_brand") =!= "Brand#3" && col("p_type") =!= "PROMO" &&
            col("p_size").between(1, 10))
          .select("p_partkey", "p_brand", "p_type", "p_size")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"),
        col("p_size").cast("bigint").as("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))

  /** SCD TYPE-2 DIMENSION BUILD — compress a change-event stream into
    * versioned effective ranges (Kimball slowly-changing dimension):
    * per user, consecutive runs of the same state collapse to one
    * version row with [eff_from, eff_to) bounds; the open version has
    * eff_to NULL and is_current = 1. Every window partitions by
    * user_id with the (ts, event_id) total key, so the build is one
    * user-key shuffle that scales with users, not a global sort.
    * Output slices user_id % 10 = 0 (the pagerank oracle-slice rule:
    * bounded verify payload, full-grain plan shape). */
  def scd2Build(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, sfDir)
      .where(col("user_id") % 10 === 0)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("state"))
      .withColumn("prev_state", lag(col("state"), 1).over(w))
      .where(col("prev_state").isNull ||
        col("state") =!= col("prev_state"))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("eff_from", col("ts"))
      .withColumn("eff_to", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("version"), col("state"),
        col("eff_from"), col("eff_to"),
        when(col("eff_to").isNull, 1L).otherwise(0L).as("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  /** CRAMÉR'S V — effect size for the (o_orderpriority ×
    * o_orderstatus) contingency: the χ²-derived association strength
    * that makes the q_llm_chisq_drift family's per-cell audit a
    * single comparable number. Expectations follow the r10 rule
    * (doubles BEFORE the product — ri·cj overflows BIGINT at extreme
    * scale), each cell's contrib quantizes at 1e9 with floor (no
    * rounding-mode dialect) and SUMS as exact BIGINT — a raw double
    * Σχ² would be addend-order-dependent across engines. V then is
    * one IEEE √(χ²/(n·min(r−1,c−1))). Three count aggregations + a
    * broadcast grid — corpus-free cost. */
  def cramersV(spark: SparkSession, sfDir: String): DataFrame = {
    def dd(c: Column) = c.cast("double")
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderpriority").as("rk"),
        col("o_orderstatus").as("ck"))
      .localCheckpoint(eager = false) // four aggregation consumers
    val cells = o.groupBy(col("rk"), col("ck"))
      .agg(count(lit(1)).as("obs"))
    val rs = o.groupBy(col("rk")).agg(count(lit(1)).as("ri"))
      .localCheckpoint(eager = false)
    val cs = o.groupBy(col("ck")).agg(count(lit(1)).as("cj"))
      .localCheckpoint(eager = false)
    val tot = o.agg(count(lit(1)).as("n"))
    val dims = rs.agg(count(lit(1)).as("r"))
      .crossJoin(cs.agg(count(lit(1)).as("c")))
    val e = dd(col("ri")) * dd(col("cj")) / dd(col("n"))
    val contrib = (dd(col("obs")) - e) * (dd(col("obs")) - e) / e
    rs.crossJoin(broadcast(cs)).crossJoin(broadcast(tot))
      .join(cells, Seq("rk", "ck"), "left")
      .select(coalesce(col("obs"), lit(0L)).as("obs"),
        col("ri"), col("cj"), col("n"))
      .select(floor(contrib * lit(1.0e9)).cast("long").as("q9"),
        col("n"))
      .agg(sum(col("q9")).as("chi9"), max(col("n")).as("n"))
      .crossJoin(broadcast(dims))
      .select(col("r"), col("c"), col("n"), col("chi9"),
        Det.r4(col("chi9").cast("double") / lit(1.0e9)).as("chi2"),
        Det.r4(sqrt(col("chi9").cast("double") / lit(1.0e9) /
          (dd(col("n")) * dd(least(col("r") - 1, col("c") - 1)))))
          .as("v"))
  }

  /** TOP USER PATHS — the product-analytics "how do sessions start"
    * read: each user's first five events (exact (ts, event_id) order)
    * join into a '>'-separated path string; the top-10 paths by count
    * under a (n DESC, path) total order. One user-key window pass +
    * one path-key count — both plain hash shuffles at any scale. */
  def topPaths(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 5)
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("rn"), col("event_type"))))
        .as("pts"))
      .select(expr("array_join(transform(pts, p -> p.event_type), '>')")
        .as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(10)
  }

  /** KOLMOGOROV–SMIRNOV TWO-SAMPLE DRIFT TEST — the continuous
    * counterpart of q_llm_chisq_drift: each event type's value
    * distribution against the 'view' baseline. D = sup|F₁−F₂| never
    * touches a float ECDF: per distinct value the cumulative counts
    * (i, j) cross-multiply to |i·m − j·n| in DECIMAL(38,0) (exact at
    * any count; the BIGINT product would cap near 3·10⁹ rows per
    * side), and only the REPORTED d and λ = d·√(nm/(n+m)) are IEEE
    * doubles of double-cast factors. One value-histogram aggregation
    * + one per-type window over DISTINCT values — the scan never
    * re-sorts raw rows. */
  def ksDrift(spark: SparkSession, sfDir: String): DataFrame = {
    def dc(c: Column) = c.cast("decimal(19,0)")
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("value"))
      .localCheckpoint(eager = false) // test + baseline histograms
    val tests = ev.where(col("event_type") =!= "view")
      .groupBy(col("event_type").as("t"), col("value"))
      .agg(count(lit(1)).as("c1"))
      .localCheckpoint(eager = false) // feeds types AND the union branch
    val base = ev.where(col("event_type") === "view")
      .groupBy(col("value")).agg(count(lit(1)).as("c2"))
    val types = tests.select(col("t")).distinct()
    val merged = tests.select(col("t"), col("value"), col("c1"),
        lit(0L).as("c2"))
      .unionByName(broadcast(types).crossJoin(base)
        .select(col("t"), col("value"), lit(0L).as("c1"), col("c2")))
      .groupBy(col("t"), col("value"))
      .agg(sum(col("c1")).as("c1"), sum(col("c2")).as("c2"))
    val wCum = Window.partitionBy(col("t")).orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("t"))
    merged
      .withColumn("i", sum(col("c1")).over(wCum))
      .withColumn("j", sum(col("c2")).over(wCum))
      .withColumn("n", sum(col("c1")).over(wAll))
      .withColumn("m", sum(col("c2")).over(wAll))
      .groupBy(col("t"))
      .agg(max(col("n")).as("n"), max(col("m")).as("m"),
        max(abs(dc(col("i")) * dc(col("m")) -
          dc(col("j")) * dc(col("n")))).as("dnum_dec"))
      .select(col("t"), col("n"), col("m"),
        col("dnum_dec").cast("long").as("d_num"),
        Det.r4(col("dnum_dec").cast("double") /
          (col("n").cast("double") * col("m").cast("double"))).as("d"),
        Det.r4(col("dnum_dec").cast("double") /
          (col("n").cast("double") * col("m").cast("double")) *
          sqrt(col("n").cast("double") * col("m").cast("double") /
            (col("n").cast("double") + col("m").cast("double"))))
          .as("lam"))
      .orderBy("t")
  }

  /** TOTAL-VARIATION drift — [[ksDrift]]'s companion metric over the
    * same per-type value histograms vs the 'view' baseline: TV = ½
    * Σ|pᵢ − qᵢ|, the L1 distance a drift dashboard quotes when the KS
    * sup understates diffuse shift. EXACT: the numerator accumulates
    * Σ|c1·m − c2·n| in DECIMAL(38,0)/HUGEINT (per-cell products stay
    * in BIGINT to ~3×10⁹ rows per side), and TV is ONE IEEE division
    * of exact casts — no per-cell float ratio sum anywhere. Same
    * baseline-copy fan-out and histogram grain as ksDrift. */
  def tvDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("value"))
      .localCheckpoint(eager = false) // test + baseline histograms
    val tests = ev.where(col("event_type") =!= "view")
      .groupBy(col("event_type").as("t"), col("value"))
      .agg(count(lit(1)).as("c1"))
      .localCheckpoint(eager = false) // feeds types AND the union
    val base = ev.where(col("event_type") === "view")
      .groupBy(col("value")).agg(count(lit(1)).as("c2"))
    val types = tests.select(col("t")).distinct()
    val merged = tests.select(col("t"), col("value"), col("c1"),
        lit(0L).as("c2"))
      .unionByName(broadcast(types).crossJoin(base)
        .select(col("t"), col("value"), lit(0L).as("c1"), col("c2")))
      .groupBy(col("t"), col("value"))
      .agg(sum(col("c1")).as("c1"), sum(col("c2")).as("c2"))
      .localCheckpoint(eager = false) // totals + the |…| accumulation
    val tot = merged.groupBy(col("t"))
      .agg(sum(col("c1")).as("n"), sum(col("c2")).as("m"))
    def d(c: Column) = c.cast("double")
    merged.join(tot, "t")
      .groupBy(col("t"))
      .agg(max(col("n")).as("n"), max(col("m")).as("m"),
        sum(abs(col("c1") * col("m") - col("c2") * col("n"))
          .cast("decimal(38,0)")).as("tv_dec"))
      .select(col("t"), col("n"), col("m"),
        col("tv_dec").cast("long").as("tv_num"),
        Det.r4(col("tv_dec").cast("double") /
          (lit(2.0) * d(col("n")) * d(col("m")))).as("tv"))
      .orderBy("t")
  }

  /** PER-SOURCE TOTAL-VARIATION drift — [[tvDrift]]'s L1 kernel keyed
    * by corpus source with the [[ksBySource]] LEAVE-ONE-OUT reference
    * (each source's n_chars distribution vs all other sources), and
    * the reference counts DERIVED off one histogram (c2 = total −
    * own), never a second scan. Exact Σ|c1·m − c2·n| per source in
    * DECIMAL(38,0)/HUGEINT; one IEEE division. */
  def tvBySource(spark: SparkSession, sfDir: String): DataFrame = {
    val g = Tables.documents(spark, sfDir)
      .groupBy(col("source"), col("n_chars"))
      .agg(count(lit(1)).as("c1"))
      .localCheckpoint(eager = false) // totals + sources + grid join
    val tot = g.groupBy(col("n_chars")).agg(sum(col("c1")).as("ct"))
    val sources = g.select(col("source")).distinct()
    val grid = broadcast(sources).crossJoin(tot)
      .join(g, Seq("source", "n_chars"), "left")
      .na.fill(0L, Seq("c1"))
      .withColumn("c2", col("ct") - col("c1"))
      .localCheckpoint(eager = false) // totals + the |…| accumulation
    val nm = grid.groupBy(col("source"))
      .agg(sum(col("c1")).as("n"), sum(col("c2")).as("m"))
    def d(c: Column) = c.cast("double")
    grid.join(nm, "source")
      .groupBy(col("source"))
      .agg(max(col("n")).as("n"), max(col("m")).as("m"),
        sum(abs(col("c1") * col("m") - col("c2") * col("n"))
          .cast("decimal(38,0)")).as("tv_dec"))
      .select(col("source"), col("n"), col("m"),
        col("tv_dec").cast("long").as("tv_num"),
        Det.r4(col("tv_dec").cast("double") /
          (lit(2.0) * d(col("n")) * d(col("m")))).as("tv"))
      .orderBy("source")
  }

  /** PER-SOURCE KS DRIFT — the [[ksDrift]] kernel keyed by corpus
    * source with a LEAVE-ONE-OUT reference: each source's document-
    * length (n_chars) distribution against all OTHER sources — the
    * feed-health read a corpus operator runs to spot the one crawl
    * whose length profile went sideways. Reference counts are derived,
    * not re-scanned: c2(source, v) = total(v) − own(source, v) off one
    * (source, value) histogram aggregate; the grid fans the distinct
    * value list out per source exactly like ksDrift's baseline copies
    * (|sources| × |values| rows — the histogram grain, never raw
    * docs). Same exact BigInt sup |i·m − j·n| in DECIMAL(38,0), same
    * shared-text d/λ doubles. */
  def ksBySource(spark: SparkSession, sfDir: String): DataFrame = {
    def dcl(c: Column) = c.cast("decimal(19,0)")
    val g = Tables.documents(spark, sfDir)
      .groupBy(col("source"), col("n_chars"))
      .agg(count(lit(1)).as("c1"))
      .localCheckpoint(eager = false) // totals + sources + grid join
    val tot = g.groupBy(col("n_chars")).agg(sum(col("c1")).as("ct"))
    val sources = g.select(col("source")).distinct()
    val grid = broadcast(sources).crossJoin(tot)
      .join(g, Seq("source", "n_chars"), "left")
      .na.fill(0L, Seq("c1"))
      .withColumn("c2", col("ct") - col("c1"))
    val wCum = Window.partitionBy(col("source")).orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("source"))
    grid
      .withColumn("i", sum(col("c1")).over(wCum))
      .withColumn("j", sum(col("c2")).over(wCum))
      .withColumn("n", sum(col("c1")).over(wAll))
      .withColumn("m", sum(col("c2")).over(wAll))
      .groupBy(col("source"))
      .agg(max(col("n")).as("n"), max(col("m")).as("m"),
        max(abs(dcl(col("i")) * dcl(col("m")) -
          dcl(col("j")) * dcl(col("n")))).as("dnum_dec"))
      .select(col("source"), col("n"), col("m"),
        col("dnum_dec").cast("long").as("d_num"),
        Det.r4(col("dnum_dec").cast("double") /
          (col("n").cast("double") * col("m").cast("double"))).as("d"),
        Det.r4(col("dnum_dec").cast("double") /
          (col("n").cast("double") * col("m").cast("double")) *
          sqrt(col("n").cast("double") * col("m").cast("double") /
            (col("n").cast("double") + col("m").cast("double"))))
          .as("lam"))
      .orderBy("source")
  }

  /** KUIPER'S TEST per source vs the rest — [[ksBySource]]'s circular
    * / tail-sensitive sibling (Kuiper 1960): V = D⁺ + D⁻ sums the
    * largest ECDF excursions in BOTH directions, so a shift that
    * pushes one tail up and the other down (invisible to a one-sided
    * sup) scores fully, and the statistic is invariant to cyclic
    * shifts of the domain. Identical exact-integer scaffolding: the
    * per-value gap i·m − j·n is an exact DECIMAL(19,0) product; D⁺ =
    * max(gap) and D⁻ = max(−gap) are each ≥ 0 automatically (the
    * final grid row is always 0). One grid pass, all integer. */
  def kuiperBySource(spark: SparkSession, sfDir: String): DataFrame = {
    def dcl(c: Column) = c.cast("decimal(19,0)")
    val g = Tables.documents(spark, sfDir)
      .groupBy(col("source"), col("n_chars"))
      .agg(count(lit(1)).as("c1"))
      .localCheckpoint(eager = false) // totals + sources + grid join
    val tot = g.groupBy(col("n_chars")).agg(sum(col("c1")).as("ct"))
    val sources = g.select(col("source")).distinct()
    val grid = broadcast(sources).crossJoin(tot)
      .join(g, Seq("source", "n_chars"), "left")
      .na.fill(0L, Seq("c1"))
      .withColumn("c2", col("ct") - col("c1"))
    val wCum = Window.partitionBy(col("source")).orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("source"))
    val gap = dcl(col("i")) * dcl(col("m")) - dcl(col("j")) * dcl(col("n"))
    val vTxt = (col("dp") + col("dm")).cast("double") /
      (col("n").cast("double") * col("m").cast("double"))
    grid
      .withColumn("i", sum(col("c1")).over(wCum))
      .withColumn("j", sum(col("c2")).over(wCum))
      .withColumn("n", sum(col("c1")).over(wAll))
      .withColumn("m", sum(col("c2")).over(wAll))
      .groupBy(col("source"))
      .agg(max(col("n")).as("n"), max(col("m")).as("m"),
        max(gap).as("dp"),
        max(dcl(col("j")) * dcl(col("n")) -
          dcl(col("i")) * dcl(col("m"))).as("dm"))
      .select(col("source"), col("n"), col("m"),
        (col("dp") + col("dm")).cast("long").as("v_num"),
        Det.r4(vTxt).as("v"),
        Det.r4(vTxt *
          sqrt(col("n").cast("double") * col("m").cast("double") /
            (col("n").cast("double") + col("m").cast("double"))))
          .as("stat"))
      .orderBy("source")
  }

  /** HELLINGER DISTANCE per source vs the rest — the bounded
    * ([0, 1]) f-divergence on the length distribution that, unlike
    * KL, is symmetric, never infinite on disjoint support, and
    * metrizes the same topology as total variation while weighting
    * rare values more: H² = ½·Σ(√pₓ − √qₓ)². Fully ORACLE-CHECKABLE
    * without the libm exemption: √(c/n) of exact integers is ONE
    * correctly-rounded IEEE op, each per-value term is the shared
    * expression floor-quantized at 1e12 and BIGINT-summed, and
    * H = √(H²) is one more exact sqrt. Same distinct-value grid as
    * the ECDF family (Bhattacharyya comes free: BC = 1 − H²). */
  def hellingerBySource(spark: SparkSession, sfDir: String): DataFrame = {
    val g = Tables.documents(spark, sfDir)
      .groupBy(col("source"), col("n_chars"))
      .agg(count(lit(1)).as("c1"))
      .localCheckpoint(eager = false) // totals + sources + grid join
    val tot = g.groupBy(col("n_chars")).agg(sum(col("c1")).as("ct"))
    val sources = g.select(col("source")).distinct()
    val grid = broadcast(sources).crossJoin(tot)
      .join(g, Seq("source", "n_chars"), "left")
      .na.fill(0L, Seq("c1"))
      .withColumn("c2", col("ct") - col("c1"))
    val wAll = Window.partitionBy(col("source"))
    def d(c: Column) = c.cast("double")
    val dv = sqrt(d(col("c1")) / d(col("n"))) -
      sqrt(d(col("c2")) / d(col("m")))
    grid
      .withColumn("n", sum(col("c1")).over(wAll))
      .withColumn("m", sum(col("c2")).over(wAll))
      .groupBy(col("source"))
      .agg(max(col("n")).as("n"), max(col("m")).as("m"),
        sum(floor(dv * dv * lit(0.5) * lit(1.0e12)).cast("long"))
          .as("h2q"))
      .select(col("source"), col("n"), col("m"),
        Det.r4(d(col("h2q")) / lit(1.0e12)).as("h2"),
        Det.r4(sqrt(d(col("h2q")) / lit(1.0e12))).as("h"))
      .orderBy("source")
  }

  /** ANDERSON–DARLING two-sample test per source vs the rest — the
    * tail-weighted member that completes the KS/Kuiper/CvM/W₁ ECDF
    * family (AD divides each squared gap by B(N−B), so discrepancies
    * in the tails — exactly where length filters act — carry weight
    * the center-heavy tests give up). Scholz–Stephens (1987) A²ₐₖₙ
    * with the midrank ties correction, k = 2: per pooled distinct
    * value, T_i = (N−1)·l·u_i² / (N²·n_i·den) with
    * u_i = N·2Mᵢ − nᵢ·2B, den = 2B·(2N−2B) − N·l, where 2Mᵢ and 2B
    * are the EXACT integer doubled midrank cumulatives
    * (2·prior + current). Every input is an exact BIGINT from
    * exclusive prefix windows; each term is ONE shared IEEE
    * expression (factors cast to double first), floor-quantized at
    * 1e9 and BIGINT-summed (order-free); den ≤ 0 rows (degenerate
    * single-value pools) contribute 0 in both engines. */
  def adBySource(spark: SparkSession, sfDir: String): DataFrame = {
    val g = Tables.documents(spark, sfDir)
      .groupBy(col("source"), col("n_chars"))
      .agg(count(lit(1)).as("c1"))
      .localCheckpoint(eager = false) // totals + sources + grid join
    val tot = g.groupBy(col("n_chars")).agg(sum(col("c1")).as("ct"))
    val sources = g.select(col("source")).distinct()
    val grid = broadcast(sources).crossJoin(tot)
      .join(g, Seq("source", "n_chars"), "left")
      .na.fill(0L, Seq("c1"))
      .withColumn("c2", col("ct") - col("c1"))
    val wPrior = Window.partitionBy(col("source")).orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(col("source"))
    def d(c: Column) = c.cast("double")
    val withCum = grid
      .withColumn("pa", coalesce(sum(col("c1")).over(wPrior), lit(0L)))
      .withColumn("pb", coalesce(sum(col("c2")).over(wPrior), lit(0L)))
      .withColumn("n", sum(col("c1")).over(wAll))
      .withColumn("m", sum(col("c2")).over(wAll))
      .withColumn("nn", col("n") + col("m"))
      .withColumn("l", col("c1") + col("c2"))
      .withColumn("b2", lit(2L) * (col("pa") + col("pb")) + col("l"))
      .withColumn("den",
        col("b2") * (lit(2L) * col("nn") - col("b2")) -
          col("nn") * col("l"))
    def term(mi2: Column, ni: Column): Column = {
      val u = d(col("nn")) * d(mi2) - d(ni) * d(col("b2"))
      (d(col("nn")) - lit(1.0)) * d(col("l")) * u * u /
        (d(col("nn")) * d(col("nn")) * d(ni) * d(col("den")))
    }
    val ta = term(lit(2L) * col("pa") + col("c1"), col("n"))
    val tb = term(lit(2L) * col("pb") + col("c2"), col("m"))
    withCum
      .groupBy(col("source"))
      .agg(max(col("n")).as("n"), max(col("m")).as("m"),
        sum(when(col("den") > 0L,
          floor((ta + tb) * lit(1.0e9)).cast("long"))
          .otherwise(lit(0L))).as("a2q"))
      .select(col("source"), col("n"), col("m"),
        Det.r4(d(col("a2q")) / lit(1.0e9)).as("a2"))
      .orderBy("source")
  }

  /** WASSERSTEIN-1 (earth mover's) DISTANCE per source vs the rest —
    * the third member of the KS/Kuiper ECDF family: W₁ = ∫|F₁ − F₂|dx
    * reports HOW FAR mass must move (in characters), not just the
    * worst gap — the metric the mixing literature quotes for length
    * re-balancing. On the sorted distinct-value grid it is EXACTLY
    * Σ |i·m − j·n|·(x₊₁ − x) / (n·m): per-value gap products in
    * DECIMAL(19,0), weighted by the integer step to the NEXT grid
    * value (last row has no step and drops), summed in DECIMAL(38,0)
    * — integer-exact to the single final division. */
  def wassersteinBySource(spark: SparkSession, sfDir: String)
      : DataFrame = {
    def dcl(c: Column) = c.cast("decimal(19,0)")
    val g = Tables.documents(spark, sfDir)
      .groupBy(col("source"), col("n_chars"))
      .agg(count(lit(1)).as("c1"))
      .localCheckpoint(eager = false) // totals + sources + grid join
    val tot = g.groupBy(col("n_chars")).agg(sum(col("c1")).as("ct"))
    val sources = g.select(col("source")).distinct()
    val grid = broadcast(sources).crossJoin(tot)
      .join(g, Seq("source", "n_chars"), "left")
      .na.fill(0L, Seq("c1"))
      .withColumn("c2", col("ct") - col("c1"))
    val wCum = Window.partitionBy(col("source")).orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("source"))
    val wLead = Window.partitionBy(col("source")).orderBy(col("n_chars"))
    val gap = abs(dcl(col("i")) * dcl(col("m")) -
      dcl(col("j")) * dcl(col("n")))
    grid
      .withColumn("i", sum(col("c1")).over(wCum))
      .withColumn("j", sum(col("c2")).over(wCum))
      .withColumn("n", sum(col("c1")).over(wAll))
      .withColumn("m", sum(col("c2")).over(wAll))
      .withColumn("nx", lead(col("n_chars"), 1).over(wLead))
      .groupBy(col("source"))
      .agg(max(col("n")).as("n"), max(col("m")).as("m"),
        sum(when(col("nx").isNotNull,
          gap.cast("decimal(38,0)") * (col("nx") - col("n_chars")))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("wnum"))
      .select(col("source"), col("n"), col("m"),
        col("wnum").cast("long").as("w_num"),
        Det.r4(col("wnum").cast("double") /
          (col("n").cast("double") * col("m").cast("double")))
          .as("w1"))
      .orderBy("source")
  }

  /** CRAMÉR–VON MISES two-sample drift per event type vs the 'view'
    * baseline — [[ksDrift]]'s integral-squared sibling (KS sees only
    * the single worst ECDF gap; ω² = ∫(F₁−F₂)²dH_N weights EVERY gap,
    * catching spread-out drift a one-point sup misses). Identical
    * merged-grid scaffolding; per grid value the gap i·m − j·n is the
    * SAME exact BIGINT as KS's sup argument, squared and weighted by
    * the combined count under a DECIMAL(38,0) sum (~10³¹ at sf0.1;
    * widen past 10³⁸ per the standing note), then ω² =
    * U/(n²m²(n+m)) is one fixed IEEE text. The DECIMAL→DOUBLE and
    * HUGEINT→DOUBLE casts are both correctly rounded — the ksBySource
    * precedent. */
  def cvmDrift(spark: SparkSession, sfDir: String): DataFrame = {
    def dc(c: Column) = c.cast("decimal(19,0)")
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("value"))
      .localCheckpoint(eager = false) // test + baseline histograms
    val tests = ev.where(col("event_type") =!= "view")
      .groupBy(col("event_type").as("t"), col("value"))
      .agg(count(lit(1)).as("c1"))
      .localCheckpoint(eager = false) // feeds types AND the union branch
    val base = ev.where(col("event_type") === "view")
      .groupBy(col("value")).agg(count(lit(1)).as("c2"))
    val types = tests.select(col("t")).distinct()
    val merged = tests.select(col("t"), col("value"), col("c1"),
        lit(0L).as("c2"))
      .unionByName(broadcast(types).crossJoin(base)
        .select(col("t"), col("value"), lit(0L).as("c1"), col("c2")))
      .groupBy(col("t"), col("value"))
      .agg(sum(col("c1")).as("c1"), sum(col("c2")).as("c2"))
    val wCum = Window.partitionBy(col("t")).orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("t"))
    val gap = (dc(col("i")) * dc(col("m")) -
      dc(col("j")) * dc(col("n"))).cast("long")
    def d(c: Column) = c.cast("double")
    merged
      .withColumn("i", sum(col("c1")).over(wCum))
      .withColumn("j", sum(col("c2")).over(wCum))
      .withColumn("n", sum(col("c1")).over(wAll))
      .withColumn("m", sum(col("c2")).over(wAll))
      .withColumn("gap", gap)
      .groupBy(col("t"))
      .agg(max(col("n")).as("n"), max(col("m")).as("m"),
        sum(col("gap").cast("decimal(38,0)") * col("gap") *
          (col("c1") + col("c2"))).as("u_dec"))
      .select(col("t"), col("n"), col("m"),
        when(col("n") > 0L && col("m") > 0L,
          Det.r4(d(col("u_dec")) * lit(1000.0) /
            (d(col("n")) * d(col("n")) * d(col("m")) * d(col("m")) *
              (d(col("n")) + d(col("m"))))))
          .otherwise(lit(null)).as("omega2_x1000"))
      .orderBy("t")
  }

  /** McNEMAR'S TEST on paired conversion — did the SAME users' tendency
    * to purchase CHANGE between the observation window's two halves?
    * ([[aggOddsRatio]] compares two GROUPS; this pairs each user with
    * themself — the before/after read behind every rollout
    * retrospective.) The split day is the exact integer midpoint of
    * the observed epoch-day range ((d0+d1+1) div 2 — engine-exact);
    * per-user period flags are max-aggregates; only the DISCORDANT
    * cells enter the statistic: χ²_cc = (|b−c|−1)²/(b+c) with the
    * classical continuity correction, one fixed IEEE text over exact
    * BIGINTs, NULL when b+c = 0 in both engines. One per-user
    * aggregate + a 4-cell reduction. */
  def aggMcnemar(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"),
        expr("unix_timestamp(date_trunc('DAY', ts)) div 86400")
          .cast("long").as("day"),
        col("event_type"))
      .localCheckpoint(eager = false) // bounds probe + per-user flags
    val bounds = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val per = ev.crossJoin(broadcast(bounds))
      .withColumn("split", expr("(d0 + d1 + 1) div 2"))
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" &&
        col("day") < col("split"), 1L).otherwise(0L)).as("x1"),
        max(when(col("event_type") === "purchase" &&
          col("day") >= col("split"), 1L).otherwise(0L)).as("x2"))
    val cells = per.agg(
      sum(when(col("x1") === 1L && col("x2") === 1L, 1L).otherwise(0L))
        .as("a"),
      sum(when(col("x1") === 1L && col("x2") === 0L, 1L).otherwise(0L))
        .as("b"),
      sum(when(col("x1") === 0L && col("x2") === 1L, 1L).otherwise(0L))
        .as("c"),
      sum(when(col("x1") === 0L && col("x2") === 0L, 1L).otherwise(0L))
        .as("d"))
    def d(c: Column) = c.cast("double")
    val num = abs(d(col("b")) - d(col("c"))) - lit(1.0)
    cells.select(col("a"), col("b"), col("c"), col("d"),
      when(col("b") + col("c") > 0L,
        Det.r4(num * num / (d(col("b")) + d(col("c")))))
        .otherwise(lit(null)).as("chisq"))
  }

  /** BENJAMINI–HOCHBERG FDR STEP-UP over the per-source KS drift
    * panel — the multiple-testing control a 20-source drift scorecard
    * actually needs (screen every source at α and a twentieth of your
    * alarms are false; BH bounds the FALSE-DISCOVERY RATE at q
    * instead). p-values come from the Kolmogorov asymptotic survival
    * 2Σ(−1)^{k−1}e^{−2k²λ²} over [[ksBySource]]'s exact λ — exp is
    * libm, so NO ORACLE (spec-gated vs a driver fold sharing JVM
    * Math.exp bit-for-bit); the k ≤ 50 truncation with p ≡ 1 below
    * λ = 0.2 keeps the alternating tail under 2e⁻²⁰⁰ (documented
    * defined metric). The step-up itself is pure rank logic: reject
    * ranks 1..k* where k* = max{i : p_i ≤ i·q/m} — a prefix of the
    * p-ascending order by construction. The panel is |sources| rows;
    * every window here is over that tiny relation. */
  def bhFdr(spark: SparkSession, sfDir: String,
      q: Double = 0.05): DataFrame = {
    val lam = ksBySource(spark, sfDir).select(col("source"), col("lam"))
    val series = (1 to 50).map(k =>
      lit(if (k % 2 == 1) 2.0 else -2.0) *
        exp(lit(-2.0 * k * k) * col("lam") * col("lam")))
      .reduce(_ + _)
    val p = when(col("lam") < lit(0.2), lit(1.0))
      .otherwise(least(greatest(series, lit(0.0)), lit(1.0)))
    val wP = Window.partitionBy(lit(1))
      .orderBy(col("p"), col("source"))
    val wAll = Window.partitionBy(lit(1))
    def d(c: Column) = c.cast("double")
    lam.withColumn("p", p)
      .withColumn("rnk", row_number().over(wP).cast("long"))
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("crit", d(col("rnk")) * lit(q) / d(col("m")))
      .withColumn("kstar",
        max(when(col("p") <= col("crit"), col("rnk"))).over(wAll))
      .select(col("source"), col("lam"), col("p"), col("rnk"),
        Det.r4(col("crit")).as("crit"),
        (col("rnk") <= coalesce(col("kstar"), lit(0L))).as("rejected"))
      .orderBy("rnk")
  }

  /** SCD2 POINT-IN-TIME ENRICHMENT — the canonical consumer of
    * [[scd2Build]]: join each purchase fact to the dimension version
    * EFFECTIVE at its timestamp. Expressed as the as-of union-window
    * (the [[joinAsof]] technique): dimension-change rows and fact rows
    * interleave in ONE per-user window ordered by the exact
    * (ts, is_fact, event_id) key (dim-first at ties, so a fact at the
    * change instant sees the NEW version — eff_from is inclusive) and
    * the effective version/state LOCF onto each fact. One user-key
    * shuffle instead of a version-interval theta-join whose range
    * predicate cannot hash — the shape that survives a billion-row
    * dimension. The shared slice scan checkpoints once (union
    * children do not CSE). */
  def scd2PitJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .where(col("user_id") % 10 === 0)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
      .localCheckpoint(eager = false)
    val w0 = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val dim = ev
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("state"))
      .withColumn("prev_state", lag(col("state"), 1).over(w0))
      .where(col("prev_state").isNull ||
        col("state") =!= col("prev_state"))
      .withColumn("version", row_number().over(w0).cast("long"))
      .select(col("user_id"), col("ts"), col("event_id"),
        col("version"), col("state"), lit(false).as("is_fact"),
        lit(null).cast("double").as("value"))
    val facts = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"),
        lit(null).cast("long").as("version"),
        lit(null).cast("string").as("state"),
        lit(true).as("is_fact"), col("value"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_fact"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dim.unionByName(facts)
      .withColumn("v_eff", last(col("version"), ignoreNulls = true).over(w))
      .withColumn("s_eff", last(col("state"), ignoreNulls = true).over(w))
      .where(col("is_fact"))
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("v_eff").as("version"), col("s_eff").as("state"))
      .orderBy("event_id")
  }

  /** CATEGORICAL PURITY PROFILE — per-column data-quality audit over
    * the warehouse's enum-ish columns: cardinality, modal share and
    * Gini impurity 1 − Σ(c/n)². Counts stay exact BIGINTs; Σc² sums
    * in DECIMAL(38,0) (order-free exact, the Det discipline) and is
    * read back through BIGINT (exact below 2^63 — one-shot decimal→
    * double casts past 2^53 are the r11 dsum ulp class); every ratio
    * is then a single IEEE divide of double-cast factors (the r10
    * double-before-product rule: n² would overflow BIGINT at 100-TB
    * cardinalities). One column-pruned scan + one tiny shuffle per
    * audited column — the 100-TB shape for profiling. */
  def dqPurity(spark: SparkSession, sfDir: String): DataFrame = {
    def profile(df: DataFrame, colName: String): DataFrame =
      df.select(col(colName).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("c"))
        .agg(lit(colName).as("column_name"),
          sum(col("c")).as("n"),
          count(lit(1)).as("n_distinct"),
          max(col("c")).as("mode_n"),
          sum(col("c").cast("decimal(19,0)") *
            col("c").cast("decimal(19,0)")).cast("decimal(38,0)")
            .cast("long").as("sumsq"))
        .select(col("column_name"), col("n"), col("n_distinct"),
          Det.r4(col("mode_n").cast("double") / col("n").cast("double"))
            .as("top_share"),
          Det.r4(lit(1.0) - col("sumsq").cast("double") /
            (col("n").cast("double") * col("n").cast("double")))
            .as("gini_impurity"))
    profile(Tables.orders(spark, sfDir), "o_orderstatus")
      .unionByName(profile(Tables.orders(spark, sfDir), "o_orderpriority"))
      .unionByName(profile(Tables.customer(spark, sfDir), "c_mktsegment"))
      .unionByName(profile(Tables.events(spark, sfDir), "event_type"))
      .orderBy(col("column_name"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_rel_scd2" -> scd2Build _,
    "q_rel_scd2_join" -> scd2PitJoin _,
    "q_dq_purity" -> dqPurity _,
    "q_agg_ks_drift" -> ksDrift _,
    "q_agg_ks_by_source" -> ksBySource _,
    "q_agg_kuiper_by_source" -> kuiperBySource _,
    "q_agg_ad_by_source" -> adBySource _,
    "q_agg_hellinger_by_source" -> hellingerBySource _,
    "q_agg_wasserstein_by_source" -> wassersteinBySource _,
    "q_agg_bh_fdr" -> ((s: SparkSession, d: String) => bhFdr(s, d)),
    "q_agg_cvm_drift" -> cvmDrift _,
    "q_agg_mcnemar" -> aggMcnemar _,
    "q_agg_winsor_mean" -> aggWinsorMean _,
    "q_agg_cronbach" -> aggCronbachAlpha _,
    "q_agg_kruskal_wallis" -> kruskalWallis _,
    "q_agg_kw_by_source" -> kruskalWallisBySource _,
    "q_agg_anova" -> aggAnova _,
    "q_agg_effect_size" -> aggEffectSize _,
    "q_agg_brown_forsythe" -> aggBrownForsythe _,
    "q_agg_bf_by_source" -> bfBySource _,
    "q_agg_mood_median" -> aggMoodMedian _,
    "q_agg_ansari_bradley" -> aggAnsariBradley _,
    "q_agg_cliffs_delta" -> aggCliffsDelta _,
    "q_agg_cliffs_delta_dist" ->
      ((s: SparkSession, d: String) => cliffsDeltaDistributed(s, d)),
    "q_agg_jonckheere_dist" ->
      ((s: SparkSession, d: String) => jonckheereDistributed(s, d)),
    "q_agg_ansari_bradley_dist" ->
      ((s: SparkSession, d: String) => ansariBradleyDistributed(s, d)),
    "q_agg_mood_median_dist" ->
      ((s: SparkSession, d: String) => moodMedianDistributed(s, d)),
    "q_agg_page_trend_dist" ->
      ((s: SparkSession, d: String) => pageTrendDistributed(s, d)),
    "q_agg_cochran_armitage" -> aggCochranArmitage _,
    "q_agg_jonckheere" -> aggJonckheere _,
    "q_agg_friedman" -> aggFriedman _,
    "q_agg_quade" -> aggQuade _,
    "q_agg_page_trend" -> aggPageTrend _,
    "q_rel_top_paths" -> topPaths _,
    "q_agg_cramers_v" -> cramersV _,
    "q_upsert_snapshot" -> upsertSnapshot _,
    "q_time_travel" -> timeTravel _,
    "q_tpch_pricing" -> tpchPricingSummary _,
    "q_tpch_shippriority" -> tpchShipPriority _,
    "q_tpch_localvolume" -> tpchLocalVolume _,
    "q_tpch_revchange" -> tpchRevenueChange _,
    "q_tpch_returned" -> tpchReturnedItems _,
    "q_tpch_orderpriority" -> tpchOrderPriority _,
    "q_tpch_promo" -> tpchPromoEffect _,
    "q_tpch_bigorders" -> tpchLargeOrders _,
    "q_tpch_disjunctive" -> tpchDisjunctive _,
    "q_tpch_topsupplier" -> tpchTopSupplier _,
    "q_tpch_dormant" -> tpchDormantCustomers _,
    "q_tpch_custdist" -> tpchCustDist _,
    "q_tpch_nationpairs" -> tpchNationPairs _,
    "q_tpch_marketshare" -> tpchMarketShare _,
    "q_tpch_qtyoutlier" -> tpchQtyOutlier _,
    "q_tpch_waiting" -> tpchWaitingSupplier _,
    "q_tpch_redsupp" -> tpchRedPartSuppliers _,
    "q_tpch_mincost" -> tpchMinCostSupplier _,
    "q_tpch_profit" -> tpchProfit _,
    "q_tpch_importantparts" -> tpchImportantParts _,
    "q_tpch_priorityclass" -> tpchPriorityClass _,
    "q_tpch_suppcnt" -> tpchSupplierCount _,
    "q_latest_per_key" -> latestPerKey _,
    "q_star_revenue" -> starRevenue _,
    "q_scan_project" -> scanProject _,
    "q_filter_pred" -> filterPred _,
    "q_join_inner" -> joinInner _,
    "q_join_broadcast" -> joinBroadcast _,
    "q_join_left" -> joinLeft _,
    "q_join_semi" -> joinSemi _,
    "q_join_anti" -> joinAnti _,
    "q_join_full" -> joinFull _,
    "q_exists_select" -> existsSelect _,
    "q_map_funcs" -> mapFuncs _,
    "q_window_range" -> windowRange _,
    "q_join_asof" -> joinAsof _,
    "q_join_asof_fwd" -> joinAsofFwd _,
    "q_time_to_convert" -> timeToConvert _,
    "q_dq_report" -> dqReport _,
    "q_part_pagerank" -> partPagerank _,
    "q_part_hits" -> partHits _,
    "q_part_triangles" -> partTriangles _,
    "q_part_kcore" -> partKcore _,
    "q_part_ktruss" -> partKtruss _,
    "q_part_jaccard" -> partJaccard _,
    "q_part_jaccard_capped" ->
      ((s: SparkSession, d: String) => partJaccardCapped(s, d)),
    "q_part_resource_alloc" -> partResourceAlloc _,
    "q_part_pref_attach" -> partPrefAttach _,
    "q_part_pref_attach_capped" ->
      ((s: SparkSession, d: String) => partPrefAttachCapped(s, d)),
    "q_part_assortativity" -> partAssortativity _,
    "q_part_clustering_coef" -> partClusteringCoef _,
    "q_agg_tv_drift" -> tvDrift _,
    "q_agg_bowley_skew" -> aggBowleySkew _,
    "q_agg_tukey_outliers" -> aggTukeyOutliers _,
    "q_agg_odds_ratio" -> aggOddsRatio _,
    "q_part_resource_alloc_capped" ->
      ((s: SparkSession, d: String) => partResourceAllocCapped(s, d)),
    "q_part_components" -> partComponents _,
    "q_part_harmonic" -> partHarmonic _,
    "q_part_rich_club" -> partRichClub _,
    "q_part_components_pd" -> partComponentsPd _,
    "q_part_label_prop" -> partLabelProp _,
    "q_part_modularity" -> partModularity _,
    "q_repeat_purchase" -> repeatPurchase _,
    "q_rfm_segments" -> rfmSegments _,
    "q_pareto_abc" -> paretoAbc _,
    "q_revenue_gini" -> revenueGini _,
    "q_revenue_hoover" -> revenueHoover _,
    // production twins of the window forms above + the two-pass rank
    // runtimes: oracle-checked against the SAME SQL (row-identical by
    // construction) and benched so their wall-clock history is visible
    "q_rfm_segments_dist" -> ((s, d) => rfmSegmentsDistributed(s, d)),
    "q_pareto_abc_dist" -> ((s, d) => paretoAbcDistributed(s, d)),
    "q_revenue_gini_dist" -> ((s, d) => revenueGiniDistributed(s, d)),
    "q_agg_mannwhitney_dist" -> ((s, d) => mannWhitneyDistributed(s, d)),
    "q_agg_quantile_dist" -> ((s, d) => exactQuantilesDistributed(s, d)),
    "q_basket_lift" -> basketLift _,
    "q_join_interval" -> joinInterval _,
    "q_agg_rollup_sets" -> aggRollupSets _,
    "q_agg_cube" -> aggCube _,
    "q_unpivot_events" -> unpivotEvents _,
    "q_window_pctrank" -> windowPctRank _,
    "q_agg_distinct" -> aggDistinct _,
    "q_agg_mode" -> aggMode _,
    "q_agg_benford" -> benfordPrices _,
    "q_agg_stats" -> aggStats _,
    "q_agg_skewkurt" -> aggSkewKurt _,
    "q_surv_km" -> kaplanMeier _,
    "q_surv_na" -> nelsonAalen _,
    "q_surv_logrank" -> survLogRank _,
    "q_surv_gehan" -> survGehan _,
    "q_surv_tarone_ware" -> survTaroneWare _,
    "q_surv_cox" -> survCoxPh _,
    "q_agg_tv_by_source" -> tvBySource _,
    "q_agg_corr" -> aggCorr _,
    "q_agg_mannwhitney" -> aggMannWhitney _,
    "q_agg_brunner_munzel" -> aggBrunnerMunzel _,
    "q_rel_skew_report" -> skewReport _,
    "q_agg_percentile" -> aggPercentile _,
    "q_agg_hll" -> aggHll _,
    "q_agg_approx_pctl" -> aggApproxPercentile _,
    "q_window_rank" -> windowRank _,
    "q_window_ntile" -> windowNtile _,
    "q_agg_gini_impurity" -> aggGiniImpurity _,
    "q_agg_spearman" -> aggSpearman _,
    "q_window_running" -> windowRunning _,
    "q_window_moving" -> windowMoving _,
    "q_topk_group" -> topkGroup _,
    "q_sort_limit" -> sortLimit _,
    "q_set_union" -> setUnion _,
    "q_set_intersect" -> setIntersect _,
    "q_set_except" -> setExcept _,
    "q_set_except_all" -> setExceptAll _,
    "q_set_intersect_all" -> setIntersectAll _,
    "q_str_funcs" -> strFuncs _,
    "q_date_funcs" -> dateFuncs _,
    "q_math_funcs" -> mathFuncs _,
    "q_json_funcs" -> jsonFuncs _,
    "q_pivot_events" -> pivotEvents _,
    "q_scalar_subquery" -> scalarSubquery _,
    "q_array_funcs" -> arrayFuncs _,
    "q_explode_tokens" -> explodeTokens _
  )

  import Det.{dsum4Sql, dsum6Sql, davg4Sql, r4Sql}

  /** One purity-profile SELECT per audited column (generated so the
    * IEEE formula text is identical across the four rows). */
  private def puritySql(table: String, c: String): String =
    s"""SELECT '$c' AS column_name,
      |       CAST(sum(cnt) AS BIGINT) AS n,
      |       count(*) AS n_distinct,
      |       ${Det.r4Sql("CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE)")} AS top_share,
      |       ${Det.r4Sql("1.0 - CAST(CAST(sum(CAST(cnt AS DECIMAL(19,0)) * CAST(cnt AS DECIMAL(19,0))) AS BIGINT) AS DOUBLE) / (CAST(sum(cnt) AS DOUBLE) * CAST(sum(cnt) AS DOUBLE))")} AS gini_impurity
      |FROM (SELECT $c AS v, count(*) AS cnt FROM $table GROUP BY 1)""".stripMargin

  // 8 unrolled MATERIALIZED min-label rounds (the dup_components
  // technique on the part graph; standing chained-CTE rule) — shared
  // by q_part_components and its pointer-doubling twin
  private val componentsOracleText: String = {
    val rounds = (1 to 8).map { i =>
      s"""l$i AS MATERIALIZED (
        |  SELECT n.node, LEAST(n.comp, COALESCE(m.m, n.comp)) AS comp
        |  FROM l${i - 1} n LEFT JOIN (
        |    SELECT s.dst AS node, min(l.comp) AS m
        |    FROM sym s JOIN l${i - 1} l ON l.node = s.src
        |    GROUP BY 1) m ON m.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH bp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |            FROM lineitem WHERE l_partkey % 4 = 0),
      |pairs AS (SELECT DISTINCT a.pk AS pa, b.pk AS pb
      |          FROM bp a JOIN bp b ON a.ok = b.ok AND a.pk < b.pk),
      |sym AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pairs
      |        UNION ALL SELECT pb, pa FROM pairs),
      |l0 AS (SELECT DISTINCT src AS node, src AS comp FROM sym),
      |$rounds
      |SELECT comp, CAST(count(*) AS BIGINT) AS n_members
      |FROM l8 GROUP BY 1
      |ORDER BY n_members DESC NULLS LAST, comp NULLS FIRST
      |LIMIT 20""".stripMargin
  }

  private val harmonicOracleText: String = {
    val rounds = (1 to 6).map { i =>
      s"""d$i AS MATERIALIZED (
        |  SELECT seed, node, min(d) AS d FROM (
        |    SELECT seed, node, d FROM d${i - 1}
        |    UNION ALL
        |    SELECT p.seed, s.dst AS node, p.d + 1 AS d
        |    FROM d${i - 1} p JOIN sym s ON s.src = p.node)
        |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    s"""WITH bp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |            FROM lineitem WHERE l_partkey % 4 = 0),
      |pairs AS (SELECT DISTINCT a.pk AS pa, b.pk AS pb
      |          FROM bp a JOIN bp b ON a.ok = b.ok AND a.pk < b.pk),
      |sym AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pairs
      |        UNION ALL SELECT pb, pa FROM pairs),
      |seeds AS (SELECT node FROM
      |            (SELECT DISTINCT src AS node FROM sym)
      |          ORDER BY node NULLS FIRST LIMIT 8),
      |d0 AS (SELECT node AS seed, node, CAST(0 AS BIGINT) AS d
      |       FROM seeds),
      |$rounds
      |SELECT node, CAST(sum(60 // d) AS BIGINT) AS h,
      |       CAST(count(*) AS BIGINT) AS n_reached
      |FROM d6 WHERE d > 0 GROUP BY 1
      |ORDER BY h DESC NULLS LAST, node NULLS FIRST
      |LIMIT 20""".stripMargin
  }

  private val oracleSqlBase: Map[String, String] = Map(
    "q_rel_scd2" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id, event_type AS state,
        |         lag(event_type, 1) OVER (PARTITION BY user_id
        |           ORDER BY ts NULLS FIRST, event_id NULLS FIRST)
        |           AS prev_state
        |  FROM events WHERE user_id % 10 = 0),
        |c AS (
        |  SELECT user_id, ts, event_id, state,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY ts NULLS FIRST, event_id NULLS FIRST)
        |           AS version,
        |         lead(ts, 1) OVER (PARTITION BY user_id
        |           ORDER BY ts NULLS FIRST, event_id NULLS FIRST)
        |           AS eff_to
        |  FROM e WHERE prev_state IS NULL OR state <> prev_state)
        |SELECT user_id, CAST(version AS BIGINT) AS version, state,
        |       ts AS eff_from, eff_to,
        |       CAST(CASE WHEN eff_to IS NULL THEN 1 ELSE 0 END AS BIGINT)
        |         AS is_current
        |FROM c
        |ORDER BY user_id NULLS FIRST, version NULLS FIRST""".stripMargin,
    "q_agg_cramers_v" -> {
      val chiTxt = "CAST(chi9 AS DOUBLE) / 1000000000.0"
      val vTxt = "sqrt(CAST(chi9 AS DOUBLE) / 1000000000.0 / " +
        "(CAST(n AS DOUBLE) * CAST(least(r - 1, c - 1) AS DOUBLE)))"
      s"""WITH o AS (
        |  SELECT o_orderpriority AS rk, o_orderstatus AS ck FROM orders),
        |cells AS (SELECT rk, ck, CAST(count(*) AS BIGINT) AS obs
        |          FROM o GROUP BY 1, 2),
        |rs AS (SELECT rk, CAST(count(*) AS BIGINT) AS ri
        |       FROM o GROUP BY 1),
        |cs AS (SELECT ck, CAST(count(*) AS BIGINT) AS cj
        |       FROM o GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM o),
        |dims AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM rs) AS r,
        |                (SELECT CAST(count(*) AS BIGINT) FROM cs) AS c),
        |grid AS (
        |  SELECT COALESCE(cells.obs, CAST(0 AS BIGINT)) AS obs,
        |         ri, cj, n,
        |         CAST(ri AS DOUBLE) * CAST(cj AS DOUBLE)
        |           / CAST(n AS DOUBLE) AS e
        |  FROM rs CROSS JOIN cs CROSS JOIN tot
        |  LEFT JOIN cells ON cells.rk = rs.rk AND cells.ck = cs.ck),
        |qq AS (
        |  SELECT CAST(floor((CAST(obs AS DOUBLE) - e)
        |    * (CAST(obs AS DOUBLE) - e) / e * 1000000000.0) AS BIGINT)
        |    AS q9, n
        |  FROM grid),
        |agg AS (SELECT CAST(sum(q9) AS BIGINT) AS chi9, max(n) AS n
        |        FROM qq)
        |SELECT r, c, n, chi9,
        |       ${Det.r4Sql(chiTxt)} AS chi2,
        |       ${Det.r4Sql(vTxt)} AS v
        |FROM agg CROSS JOIN dims""".stripMargin
    },
    "q_rel_top_paths" ->
      """WITH r AS (
        |  SELECT user_id, event_type,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY ts NULLS FIRST, event_id NULLS FIRST)
        |           AS rn
        |  FROM events),
        |p AS (
        |  SELECT user_id,
        |         string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 5 GROUP BY 1)
        |SELECT path, CAST(count(*) AS BIGINT) AS n
        |FROM p GROUP BY 1
        |ORDER BY n DESC NULLS LAST, path NULLS FIRST
        |LIMIT 10""".stripMargin,
    "q_agg_winsor_mean" -> {
      val wm = "(CAST(smid AS DOUBLE) + CAST(nlo AS DOUBLE) * " +
        "CAST(lo AS DOUBLE) + CAST(nhi AS DOUBLE) * CAST(hi AS DOUBLE))" +
        " / (100.0 * CAST(n AS DOUBLE))"
      s"""WITH g AS MATERIALIZED (
        |  SELECT o_orderpriority AS p,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |           AS BIGINT) AS vq,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM orders GROUP BY 1, 2),
        |r AS MATERIALIZED (
        |  SELECT p, vq, c,
        |         CAST(sum(c) OVER (PARTITION BY p ORDER BY vq NULLS FIRST
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS cum
        |  FROM g),
        |n AS (SELECT p, CAST(sum(c) AS BIGINT) AS n FROM g GROUP BY 1),
        |lo AS (
        |  SELECT r.p, min(vq) AS lo FROM r JOIN n ON r.p = n.p
        |  WHERE cum >= (n + 9) // 10 GROUP BY 1),
        |hi AS (
        |  SELECT r.p, min(vq) AS hi FROM r JOIN n ON r.p = n.p
        |  WHERE cum >= (9 * n + 9) // 10 GROUP BY 1),
        |w AS (
        |  SELECT g.p, n.n, lo.lo, hi.hi,
        |    CAST(sum(CASE WHEN vq < lo THEN c ELSE 0 END) AS BIGINT)
        |      AS nlo,
        |    CAST(sum(CASE WHEN vq > hi THEN c ELSE 0 END) AS BIGINT)
        |      AS nhi,
        |    sum(CASE WHEN vq >= lo AND vq <= hi THEN
        |      CAST(c AS HUGEINT) * vq ELSE 0 END) AS smid
        |  FROM g JOIN lo ON g.p = lo.p JOIN hi ON g.p = hi.p
        |  JOIN n ON g.p = n.p
        |  GROUP BY 1, 2, 3, 4)
        |SELECT p AS o_orderpriority, n,
        |       ${r4Sql("CAST(lo AS DOUBLE) / 100.0")} AS p10,
        |       ${r4Sql("CAST(hi AS DOUBLE) / 100.0")} AS p90,
        |       ${r4Sql(wm)} AS wmean
        |FROM w
        |ORDER BY o_orderpriority NULLS FIRST""".stripMargin
    },
    "q_agg_cronbach" -> {
      val al = "(CAST(k AS DOUBLE) / (CAST(k AS DOUBLE) - 1.0)) * " +
        "(1.0 - CAST(svi AS DOUBLE) / CAST(tn2 AS DOUBLE))"
      s"""WITH m AS MATERIALIZED (
        |  SELECT date_trunc('day', ts) AS d, event_type AS g,
        |         CAST(CAST(${Det.avg4Sql("value")} AS DECIMAL(18,4))
        |           * 10000 AS BIGINT) AS q
        |  FROM events
        |  WHERE event_type IN ('click', 'purchase', 'signup', 'error')
        |  GROUP BY 1, 2),
        |cm AS MATERIALIZED (
        |  SELECT d, g, q FROM (
        |    SELECT d, g, q, count(*) OVER (PARTITION BY d) AS nb
        |    FROM m) t
        |  WHERE nb = 4),
        |items AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS n,
        |         CAST(count(*) AS HUGEINT)
        |           * sum(CAST(q AS HUGEINT) * q)
        |           - CAST(sum(q) AS HUGEINT) * CAST(sum(q) AS HUGEINT)
        |           AS vn2
        |  FROM cm GROUP BY 1),
        |tot AS (
        |  SELECT CAST(count(*) AS HUGEINT)
        |           * sum(CAST(qt AS HUGEINT) * qt)
        |           - CAST(sum(qt) AS HUGEINT) * CAST(sum(qt) AS HUGEINT)
        |           AS tn2
        |  FROM (SELECT d, CAST(sum(q) AS BIGINT) AS qt
        |        FROM cm GROUP BY 1) x),
        |ag AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |         CAST(max(n) AS BIGINT) AS n,
        |         sum(vn2) AS svi
        |  FROM items)
        |SELECT k, n AS n_days,
        |       CASE WHEN k > 1 AND tn2 > 0 THEN ${r4Sql(al)} END
        |         AS alpha
        |FROM ag CROSS JOIN tot""".stripMargin
    },
    "q_agg_cvm_drift" -> {
      val om = "CAST(u AS DOUBLE) * 1000.0 / (CAST(n AS DOUBLE) * " +
        "CAST(n AS DOUBLE) * CAST(m AS DOUBLE) * CAST(m AS DOUBLE) * " +
        "(CAST(n AS DOUBLE) + CAST(m AS DOUBLE)))"
      s"""WITH tests AS (
        |  SELECT event_type AS t, value, CAST(count(*) AS BIGINT) AS c1
        |  FROM events WHERE event_type <> 'view' GROUP BY 1, 2),
        |base AS (
        |  SELECT value, CAST(count(*) AS BIGINT) AS c2
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |types AS (SELECT DISTINCT t FROM tests),
        |merged AS (
        |  SELECT t, value, CAST(sum(c1) AS BIGINT) AS c1,
        |         CAST(sum(c2) AS BIGINT) AS c2
        |  FROM (SELECT t, value, c1, CAST(0 AS BIGINT) AS c2 FROM tests
        |        UNION ALL
        |        SELECT types.t, base.value, CAST(0 AS BIGINT), c2
        |        FROM types CROSS JOIN base)
        |  GROUP BY 1, 2),
        |cum AS (
        |  SELECT t, value, c1, c2,
        |         CAST(sum(c1) OVER w AS BIGINT) AS i,
        |         CAST(sum(c2) OVER w AS BIGINT) AS j,
        |         CAST(sum(c1) OVER (PARTITION BY t) AS BIGINT) AS n,
        |         CAST(sum(c2) OVER (PARTITION BY t) AS BIGINT) AS m
        |  FROM merged
        |  WINDOW w AS (PARTITION BY t ORDER BY value NULLS FIRST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |agg AS (
        |  SELECT t, max(n) AS n, max(m) AS m,
        |         sum(CAST(i * m - j * n AS HUGEINT)
        |           * (i * m - j * n) * (c1 + c2)) AS u
        |  FROM cum GROUP BY 1)
        |SELECT t, n, m,
        |       CASE WHEN n > 0 AND m > 0 THEN ${r4Sql(om)} END
        |         AS omega2_x1000
        |FROM agg
        |ORDER BY t NULLS FIRST""".stripMargin
    },
    "q_agg_mcnemar" -> {
      val num = "abs(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - 1.0"
      s"""WITH ev AS (
        |  SELECT user_id,
        |         CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400
        |           AS day,
        |         event_type
        |  FROM events),
        |bounds AS (SELECT CAST(min(day) AS BIGINT) AS d0,
        |                  CAST(max(day) AS BIGINT) AS d1 FROM ev),
        |per AS (
        |  SELECT user_id,
        |         CAST(max(CASE WHEN event_type = 'purchase' AND
        |           day < (d0 + d1 + 1) // 2 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS x1,
        |         CAST(max(CASE WHEN event_type = 'purchase' AND
        |           day >= (d0 + d1 + 1) // 2 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS x2
        |  FROM ev CROSS JOIN bounds GROUP BY 1),
        |cells AS (
        |  SELECT
        |    CAST(sum(CASE WHEN x1 = 1 AND x2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN x1 = 1 AND x2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN x1 = 0 AND x2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN x1 = 0 AND x2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d
        |  FROM per)
        |SELECT a, b, c, d,
        |       CASE WHEN b + c > 0 THEN
        |         ${r4Sql(s"($num) * ($num) / (CAST(b AS DOUBLE) + CAST(c AS DOUBLE))")}
        |       END AS chisq
        |FROM cells""".stripMargin
    },
    "q_agg_ks_drift" -> {
      val dTxt = "CAST(dnum AS DOUBLE) / " +
        "(CAST(n AS DOUBLE) * CAST(m AS DOUBLE))"
      val lamTxt = s"$dTxt * sqrt(CAST(n AS DOUBLE) * CAST(m AS DOUBLE)" +
        " / (CAST(n AS DOUBLE) + CAST(m AS DOUBLE)))"
      s"""WITH tests AS (
        |  SELECT event_type AS t, value, CAST(count(*) AS BIGINT) AS c1
        |  FROM events WHERE event_type <> 'view' GROUP BY 1, 2),
        |base AS (
        |  SELECT value, CAST(count(*) AS BIGINT) AS c2
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |types AS (SELECT DISTINCT t FROM tests),
        |merged AS (
        |  SELECT t, value, CAST(sum(c1) AS BIGINT) AS c1,
        |         CAST(sum(c2) AS BIGINT) AS c2
        |  FROM (SELECT t, value, c1, CAST(0 AS BIGINT) AS c2 FROM tests
        |        UNION ALL
        |        SELECT types.t, base.value, CAST(0 AS BIGINT), c2
        |        FROM types CROSS JOIN base)
        |  GROUP BY 1, 2),
        |cum AS (
        |  SELECT t, value,
        |         CAST(sum(c1) OVER w AS BIGINT) AS i,
        |         CAST(sum(c2) OVER w AS BIGINT) AS j,
        |         CAST(sum(c1) OVER (PARTITION BY t) AS BIGINT) AS n,
        |         CAST(sum(c2) OVER (PARTITION BY t) AS BIGINT) AS m
        |  FROM merged
        |  WINDOW w AS (PARTITION BY t ORDER BY value NULLS FIRST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |agg AS (
        |  SELECT t, max(n) AS n, max(m) AS m,
        |         max(abs(CAST(i AS DECIMAL(19,0)) * CAST(m AS DECIMAL(19,0))
        |           - CAST(j AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))))
        |           AS dnum
        |  FROM cum GROUP BY 1)
        |SELECT t, n, m, CAST(dnum AS BIGINT) AS d_num,
        |       ${Det.r4Sql(dTxt)} AS d,
        |       ${Det.r4Sql(lamTxt)} AS lam
        |FROM agg
        |ORDER BY t NULLS FIRST""".stripMargin
    },
    "q_agg_kruskal_wallis" -> {
      val di = "(CAST(s2 AS DOUBLE) / (2.0 * CAST(n_i AS DOUBLE)) - " +
        "(CAST(n AS DOUBLE) + 1.0) / 2.0)"
      val hi = s"12.0 * CAST(n_i AS DOUBLE) * $di * $di / " +
        "(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))"
      val h = "CAST(hqs AS DOUBLE) / 1000000.0"
      val corr = "(1.0 - CAST(tsum AS DOUBLE) / " +
        "(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - " +
        "CAST(n AS DOUBLE)))"
      s"""WITH gv AS MATERIALIZED (
        |  SELECT event_type AS g, value AS v,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM events
        |  WHERE event_type IN ('click', 'purchase', 'signup', 'error')
        |  GROUP BY 1, 2),
        |bv AS MATERIALIZED (
        |  SELECT v, CAST(sum(c) AS BIGINT) AS t FROM gv GROUP BY 1),
        |rk AS (
        |  SELECT v,
        |         2 * COALESCE(CAST(sum(t) OVER (ORDER BY v NULLS FIRST
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS BIGINT), 0) + t + 1 AS r2
        |  FROM bv),
        |pg AS (
        |  SELECT g, CAST(sum(c) AS BIGINT) AS n_i,
        |         CAST(sum(c * r2) AS BIGINT) AS s2
        |  FROM gv JOIN rk USING (v) GROUP BY 1),
        |tt AS (SELECT CAST(sum(t) AS BIGINT) AS n,
        |              CAST(sum(t * t * t - t) AS BIGINT) AS tsum
        |       FROM bv HAVING sum(t) >= 2),
        |qq AS (
        |  SELECT n, tsum, CAST(count(*) AS BIGINT) AS n_groups,
        |         CAST(sum(CAST(floor(($hi) * 1000000.0) AS BIGINT))
        |           AS BIGINT) AS hqs
        |  FROM pg CROSS JOIN tt GROUP BY 1, 2)
        |SELECT n_groups, n,
        |       ${Det.r4Sql(h)} AS h,
        |       CASE WHEN $corr > 0.0 THEN
        |         ${Det.r4Sql(s"($h) / $corr")}
        |       ELSE NULL END AS h_tie
        |FROM qq""".stripMargin
    },
    "q_agg_kw_by_source" -> {
      val di = "(CAST(s2 AS DOUBLE) / (2.0 * CAST(n_i AS DOUBLE)) - " +
        "(CAST(n AS DOUBLE) + 1.0) / 2.0)"
      val hi = s"12.0 * CAST(n_i AS DOUBLE) * $di * $di / " +
        "(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))"
      val h = "CAST(hqs AS DOUBLE) / 1000000.0"
      val corr = "(1.0 - CAST(tsum AS DOUBLE) / " +
        "(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - " +
        "CAST(n AS DOUBLE)))"
      s"""WITH gv AS MATERIALIZED (
        |  SELECT source, lang AS g, n_chars AS v,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2, 3),
        |bv AS MATERIALIZED (
        |  SELECT source, v, CAST(sum(c) AS BIGINT) AS t
        |  FROM gv GROUP BY 1, 2),
        |rk AS (
        |  SELECT source, v,
        |         2 * COALESCE(CAST(sum(t) OVER (PARTITION BY source
        |           ORDER BY v NULLS FIRST
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS BIGINT), 0) + t + 1 AS r2
        |  FROM bv),
        |pg AS (
        |  SELECT gv.source, g, CAST(sum(c) AS BIGINT) AS n_i,
        |         CAST(sum(c * r2) AS BIGINT) AS s2
        |  FROM gv JOIN rk ON rk.source = gv.source AND rk.v = gv.v
        |  GROUP BY 1, 2),
        |tt AS (SELECT source, CAST(sum(t) AS BIGINT) AS n,
        |              CAST(sum(t * t * t - t) AS BIGINT) AS tsum
        |       FROM bv GROUP BY 1 HAVING sum(t) >= 2),
        |qq AS (
        |  SELECT pg.source, n, tsum, CAST(count(*) AS BIGINT) AS n_groups,
        |         CAST(sum(CAST(floor(($hi) * 1000000.0) AS BIGINT))
        |           AS BIGINT) AS hqs
        |  FROM pg JOIN tt ON tt.source = pg.source
        |  GROUP BY 1, 2, 3)
        |SELECT source, n_groups, n,
        |       ${Det.r4Sql(h)} AS h,
        |       CASE WHEN $corr > 0.0 THEN
        |         ${Det.r4Sql(s"($h) / $corr")}
        |       ELSE NULL END AS h_tie
        |FROM qq
        |ORDER BY source NULLS FIRST""".stripMargin
    },
    "q_agg_anova" -> {
      val qi = "CAST(CAST(l_quantity AS DECIMAL(18,4)) * 10000 AS BIGINT)"
      val mG = "CAST(s_i AS DOUBLE) / 10000.0 / CAST(n_i AS DOUBLE)"
      val m = "CAST(t AS DOUBLE) / 10000.0 / CAST(n AS DOUBLE)"
      val term = s"CAST(n_i AS DOUBLE) * ($mG - $m) * ($mG - $m)"
      val ssb = "CAST(bqs AS DOUBLE) / 1000000.0"
      val sstot = "(ssq / 100000000.0 - " +
        "CAST(t AS DOUBLE) / 10000.0 * (CAST(t AS DOUBLE) / 10000.0) / " +
        "CAST(n AS DOUBLE))"
      val ssw = s"($sstot - $ssb)"
      val f = s"(($ssb) / (CAST(n_groups AS DOUBLE) - 1.0)) / " +
        s"(($ssw) / (CAST(n AS DOUBLE) - CAST(n_groups AS DOUBLE)))"
      s"""WITH pg AS MATERIALIZED (
        |  SELECT l_returnflag AS g, CAST(count(*) AS BIGINT) AS n_i,
        |         CAST(sum($qi) AS BIGINT) AS s_i,
        |         sum($qi * $qi) AS ssq_i
        |  FROM lineitem GROUP BY 1),
        |tt AS (SELECT CAST(sum(n_i) AS BIGINT) AS n,
        |              CAST(sum(s_i) AS BIGINT) AS t,
        |              CAST(sum(ssq_i) AS DOUBLE) AS ssq
        |       FROM pg),
        |qq AS (
        |  SELECT n, t, ssq, CAST(count(*) AS BIGINT) AS n_groups,
        |         CAST(sum(CAST(floor(($term) * 1000000.0) AS BIGINT))
        |           AS BIGINT) AS bqs
        |  FROM pg CROSS JOIN tt GROUP BY 1, 2, 3)
        |SELECT n_groups, n,
        |       ${Det.r4Sql(ssb)} AS ssb,
        |       ${Det.r4Sql(ssw)} AS ssw,
        |       CASE WHEN n > n_groups AND $ssw > 0.0 AND n_groups > 1
        |       THEN ${Det.r4Sql(f)} ELSE NULL END AS f
        |FROM qq""".stripMargin
    },
    "q_agg_effect_size" -> {
      val qi = "CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT)"
      def mOf(s: String, n: String) =
        s"CAST($s AS DOUBLE) / 10000.0 / CAST($n AS DOUBLE)"
      def vOf(q: String, s: String, n: String) =
        s"(($q / 100000000.0 - CAST($n AS DOUBLE) * ${mOf(s, n)} * " +
          s"(${mOf(s, n)})) / (CAST($n AS DOUBLE) - 1.0))"
      val m1 = mOf("s1", "n1"); val m2 = mOf("s2", "n2")
      val v1 = vOf("q1", "s1", "n1"); val v2 = vOf("q2", "s2", "n2")
      val vp = s"(((CAST(n1 AS DOUBLE) - 1.0) * $v1 + " +
        s"(CAST(n2 AS DOUBLE) - 1.0) * $v2) / " +
        "(CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0))"
      val dEff = s"(($m1 - $m2) / sqrt($vp))"
      val t = s"(($m1 - $m2) / " +
        s"sqrt($v1 / CAST(n1 AS DOUBLE) + $v2 / CAST(n2 AS DOUBLE)))"
      s"""WITH pg AS MATERIALIZED (
        |  SELECT o_orderpriority AS g, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum($qi) AS BIGINT) AS s,
        |         CAST(sum(CAST($qi AS HUGEINT) * $qi) AS DOUBLE) AS ssq
        |  FROM orders GROUP BY 1),
        |pp AS (
        |  SELECT a.g AS g1, b.g AS g2, a.n AS n1, b.n AS n2,
        |         a.s AS s1, b.s AS s2, a.ssq AS q1, b.ssq AS q2
        |  FROM pg a JOIN pg b ON a.g < b.g)
        |SELECT g1, g2, n1, n2,
        |       CASE WHEN n1 + n2 > 2 AND $vp > 0.0
        |       THEN ${Det.r4Sql(dEff)} ELSE NULL END AS cohens_d,
        |       CASE WHEN n1 > 1 AND n2 > 1 AND $v1 + $v2 > 0.0
        |       THEN ${Det.r4Sql(t)} ELSE NULL END AS welch_t
        |FROM pp
        |ORDER BY g1 NULLS FIRST, g2 NULLS FIRST""".stripMargin
    },
    "q_agg_brown_forsythe" -> {
      val mG = "CAST(s_i AS DOUBLE) / CAST(n_i AS DOUBLE)"
      val m = "CAST(t AS DOUBLE) / CAST(n AS DOUBLE)"
      val term = s"CAST(n_i AS DOUBLE) * ($mG - $m) * ($mG - $m)"
      val ssb = "CAST(bqs AS DOUBLE) / 1000000.0"
      val sstot = "(ssq - CAST(t AS DOUBLE) * " +
        "(CAST(t AS DOUBLE) / CAST(n AS DOUBLE)))"
      val ssw = s"($sstot - $ssb)"
      val w = s"(($ssb) / (CAST(n_groups AS DOUBLE) - 1.0)) / " +
        s"(($ssw) / (CAST(n AS DOUBLE) - CAST(n_groups AS DOUBLE)))"
      s"""WITH gv AS MATERIALIZED (
        |  SELECT lang AS g, n_chars AS v, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |md AS (
        |  SELECT g, min(v) AS med FROM (
        |    SELECT g, v,
        |           CAST(sum(c) OVER (PARTITION BY g ORDER BY v NULLS FIRST
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |             AS BIGINT) AS cum,
        |           CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS n_g
        |    FROM gv) x
        |  WHERE cum * 2 >= n_g GROUP BY 1),
        |z AS (SELECT gv.g, abs(v - med) AS z, c
        |      FROM gv JOIN md ON md.g = gv.g),
        |pg AS MATERIALIZED (
        |  SELECT g, CAST(sum(c) AS BIGINT) AS n_i,
        |         CAST(sum(c * z) AS BIGINT) AS s_i,
        |         sum(CAST(c AS HUGEINT) * z * z) AS ssq_i
        |  FROM z GROUP BY 1),
        |tt AS (SELECT CAST(sum(n_i) AS BIGINT) AS n,
        |              CAST(sum(s_i) AS BIGINT) AS t,
        |              CAST(sum(ssq_i) AS DOUBLE) AS ssq
        |       FROM pg),
        |qq AS (
        |  SELECT n, t, ssq, CAST(count(*) AS BIGINT) AS n_groups,
        |         CAST(sum(CAST(floor(($term) * 1000000.0) AS BIGINT))
        |           AS BIGINT) AS bqs
        |  FROM pg CROSS JOIN tt GROUP BY 1, 2, 3)
        |SELECT n_groups, n,
        |       ${Det.r4Sql(ssb)} AS ssb,
        |       ${Det.r4Sql(ssw)} AS ssw,
        |       CASE WHEN n > n_groups AND $ssw > 0.0 AND n_groups > 1
        |       THEN ${Det.r4Sql(w)} ELSE NULL END AS w
        |FROM qq""".stripMargin
    },
    "q_agg_ansari_bradley" -> {
      val n = "(CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))"
      val e2even = s"(CAST(n1 AS DOUBLE) * ($n + 2.0) / 2.0)"
      val v4even = s"(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * " +
        s"($n + 2.0) * ($n - 2.0) / (12.0 * ($n - 1.0)))"
      val e2odd = s"(CAST(n1 AS DOUBLE) * (($n + 1.0) * ($n + 1.0)) / " +
        s"(2.0 * $n))"
      val v4odd = s"(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * " +
        s"($n + 1.0) * (3.0 + $n * $n) / (12.0 * ($n * $n)))"
      val e2 = s"(CASE WHEN (n1 + n2) % 2 = 0 THEN $e2even " +
        s"ELSE $e2odd END)"
      val v4 = s"(CASE WHEN (n1 + n2) % 2 = 0 THEN $v4even " +
        s"ELSE $v4odd END)"
      s"""WITH bv AS MATERIALIZED (
        |  SELECT value AS v,
        |         CAST(sum(CASE WHEN event_type = 'click'
        |           THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |         CAST(sum(CASE WHEN event_type = 'purchase'
        |           THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1),
        |rk AS (
        |  SELECT c1, c2,
        |         2 * COALESCE(CAST(sum(c1 + c2) OVER (
        |           ORDER BY v NULLS FIRST
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS BIGINT), 0) + c1 + c2 + 1 AS r2,
        |         CAST(sum(c1 + c2) OVER () AS BIGINT) AS nn
        |  FROM bv),
        |g AS (
        |  SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |         CAST(sum(c2) AS BIGINT) AS n2,
        |         CAST(sum(c1 * least(r2, 2 * (nn + 1) - r2))
        |           AS BIGINT) AS a2sum
        |  FROM rk)
        |SELECT n1, n2, a2sum,
        |       CASE WHEN $v4 > 0.0
        |       THEN ${Det.r4Sql(s"(CAST(a2sum AS DOUBLE) - $e2) / sqrt($v4)")}
        |       ELSE NULL END AS z
        |FROM g""".stripMargin
    },
    "q_agg_mood_median" -> {
      val eA = "(CAST(n_i AS DOUBLE) * CAST(a AS DOUBLE) / " +
        "CAST(n AS DOUBLE))"
      val eB = "(CAST(n_i AS DOUBLE) * (CAST(n AS DOUBLE) - " +
        "CAST(a AS DOUBLE)) / CAST(n AS DOUBLE))"
      val term = s"(CAST(a_i AS DOUBLE) - $eA) * " +
        s"(CAST(a_i AS DOUBLE) - $eA) / $eA + " +
        s"(CAST(n_i - a_i AS DOUBLE) - $eB) * " +
        s"(CAST(n_i - a_i AS DOUBLE) - $eB) / $eB"
      s"""WITH gv AS MATERIALIZED (
        |  SELECT event_type AS g, value AS v,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM events
        |  WHERE event_type IN ('click', 'purchase', 'signup', 'error')
        |  GROUP BY 1, 2),
        |md AS (
        |  SELECT min(v) AS med FROM (
        |    SELECT v,
        |           CAST(sum(t) OVER (ORDER BY v NULLS FIRST
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |             AS BIGINT) AS cum,
        |           CAST(sum(t) OVER () AS BIGINT) AS n
        |    FROM (SELECT v, CAST(sum(c) AS BIGINT) AS t
        |          FROM gv GROUP BY 1) p) x
        |  WHERE cum * 2 >= n),
        |pg AS MATERIALIZED (
        |  SELECT g,
        |         CAST(sum(CASE WHEN v > med THEN c ELSE 0 END)
        |           AS BIGINT) AS a_i,
        |         CAST(sum(c) AS BIGINT) AS n_i
        |  FROM gv CROSS JOIN md GROUP BY 1),
        |tt AS (SELECT CAST(sum(a_i) AS BIGINT) AS a,
        |              CAST(sum(n_i) AS BIGINT) AS n
        |       FROM pg),
        |qq AS (
        |  SELECT a, n, CAST(count(*) AS BIGINT) AS n_groups,
        |         CAST(sum(CASE WHEN a > 0 AND a < n
        |           THEN CAST(floor(($term) * 1000000.0) AS BIGINT)
        |           ELSE 0 END) AS BIGINT) AS tqs
        |  FROM pg CROSS JOIN tt GROUP BY 1, 2)
        |SELECT n_groups, n, a AS n_above,
        |       CASE WHEN a > 0 AND a < n
        |       THEN ${Det.r4Sql("CAST(tqs AS DOUBLE) / 1000000.0")}
        |       ELSE NULL END AS chisq
        |FROM qq""".stripMargin
    },
    "q_agg_bf_by_source" -> {
      val mG = "CAST(s_i AS DOUBLE) / CAST(n_i AS DOUBLE)"
      val m = "CAST(t AS DOUBLE) / CAST(n AS DOUBLE)"
      val term = s"CAST(n_i AS DOUBLE) * ($mG - $m) * ($mG - $m)"
      val ssb = "CAST(bqs AS DOUBLE) / 1000000.0"
      val sstot = "(ssq - CAST(t AS DOUBLE) * " +
        "(CAST(t AS DOUBLE) / CAST(n AS DOUBLE)))"
      val ssw = s"($sstot - $ssb)"
      val w = s"(($ssb) / (CAST(n_groups AS DOUBLE) - 1.0)) / " +
        s"(($ssw) / (CAST(n AS DOUBLE) - CAST(n_groups AS DOUBLE)))"
      s"""WITH gv AS MATERIALIZED (
        |  SELECT source, lang AS g, n_chars AS v,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2, 3),
        |md AS (
        |  SELECT source, g, min(v) AS med FROM (
        |    SELECT source, g, v,
        |           CAST(sum(c) OVER (PARTITION BY source, g
        |             ORDER BY v NULLS FIRST
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |             AS BIGINT) AS cum,
        |           CAST(sum(c) OVER (PARTITION BY source, g)
        |             AS BIGINT) AS n_g
        |    FROM gv) x
        |  WHERE cum * 2 >= n_g GROUP BY 1, 2),
        |z AS (SELECT gv.source, gv.g, abs(v - med) AS z, c
        |      FROM gv JOIN md ON md.source = gv.source AND md.g = gv.g),
        |pg AS MATERIALIZED (
        |  SELECT source, g, CAST(sum(c) AS BIGINT) AS n_i,
        |         CAST(sum(c * z) AS BIGINT) AS s_i,
        |         sum(CAST(c AS HUGEINT) * z * z) AS ssq_i
        |  FROM z GROUP BY 1, 2),
        |tt AS (SELECT source, CAST(sum(n_i) AS BIGINT) AS n,
        |              CAST(sum(s_i) AS BIGINT) AS t,
        |              CAST(sum(ssq_i) AS DOUBLE) AS ssq
        |       FROM pg GROUP BY 1),
        |qq AS (
        |  SELECT pg.source, n, t, ssq,
        |         CAST(count(*) AS BIGINT) AS n_groups,
        |         CAST(sum(CAST(floor(($term) * 1000000.0) AS BIGINT))
        |           AS BIGINT) AS bqs
        |  FROM pg JOIN tt ON tt.source = pg.source
        |  GROUP BY 1, 2, 3, 4)
        |SELECT source, n_groups, n,
        |       ${Det.r4Sql(ssb)} AS ssb,
        |       ${Det.r4Sql(ssw)} AS ssw,
        |       CASE WHEN n > n_groups AND $ssw > 0.0 AND n_groups > 1
        |       THEN ${Det.r4Sql(w)} ELSE NULL END AS w
        |FROM qq
        |ORDER BY source NULLS FIRST""".stripMargin
    },
    "q_agg_cliffs_delta" -> {
      val delta = "(CAST(more AS DOUBLE) - CAST(less AS DOUBLE)) / " +
        "(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))"
      s"""WITH gv AS MATERIALIZED (
        |  SELECT event_type AS g, value AS v,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM events
        |  WHERE event_type IN ('click', 'purchase', 'signup', 'error')
        |  GROUP BY 1, 2),
        |grid AS (SELECT DISTINCT v FROM gv),
        |gs AS (SELECT DISTINCT g FROM gv),
        |full0 AS (
        |  SELECT gs.g, grid.v, COALESCE(c, 0) AS c
        |  FROM grid CROSS JOIN gs
        |  LEFT JOIN gv ON gv.g = gs.g AND gv.v = grid.v),
        |cums AS MATERIALIZED (
        |  SELECT g, v, c,
        |         CAST(sum(c) OVER (PARTITION BY g ORDER BY v NULLS FIRST
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS cum,
        |         CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS n_g
        |  FROM full0),
        |pr AS (
        |  SELECT a.g AS g1, b.g AS g2, a.n_g AS n1, b.n_g AS n2,
        |         sum(CAST(a.c AS HUGEINT) * (b.cum - b.c)) AS more,
        |         sum(CAST(a.c AS HUGEINT) * (b.n_g - b.cum)) AS less
        |  FROM cums a JOIN cums b ON a.v = b.v AND a.g < b.g
        |  GROUP BY 1, 2, 3, 4)
        |SELECT g1, g2, n1, n2,
        |       CAST(more AS BIGINT) AS n_greater,
        |       CAST(less AS BIGINT) AS n_less,
        |       CASE WHEN n1 > 0 AND n2 > 0
        |       THEN ${Det.r4Sql(delta)} ELSE NULL END AS delta
        |FROM pr
        |ORDER BY g1 NULLS FIRST, g2 NULLS FIRST""".stripMargin
    },
    "q_agg_page_trend" -> {
      val e2 = "CAST(n AS DOUBLE) * CAST(k AS DOUBLE) * " +
        "((CAST(k AS DOUBLE) + 1.0) * (CAST(k AS DOUBLE) + 1.0)) / 2.0"
      val var2 = "CAST(n AS DOUBLE) * CAST(k AS DOUBLE) * " +
        "CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0) * " +
        "(CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0) / 36.0"
      s"""WITH m AS MATERIALIZED (
        |  SELECT date_trunc('week', ts) AS wk,
        |         CAST(dayofweek(ts) + 1 AS BIGINT) AS s,
        |         ${Det.dsum4Sql("value")} AS v
        |  FROM events GROUP BY 1, 2),
        |cm AS (
        |  SELECT wk, s, v FROM (
        |    SELECT wk, s, v, count(*) OVER (PARTITION BY wk) AS nb
        |    FROM m) t
        |  WHERE nb = 7),
        |rk AS (
        |  SELECT s,
        |         2 * CAST(rank() OVER (PARTITION BY wk
        |             ORDER BY v NULLS FIRST) AS BIGINT)
        |           + CAST(count(*) OVER (PARTITION BY wk, v) AS BIGINT)
        |           - 1 AS r2
        |  FROM cm),
        |ps AS (
        |  SELECT s, CAST(sum(r2) AS BIGINT) AS r2sum,
        |         CAST(count(*) AS BIGINT) AS nb
        |  FROM rk GROUP BY 1),
        |ag AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |         CAST(max(nb) AS BIGINT) AS n,
        |         CAST(sum(s * r2sum) AS BIGINT) AS l2
        |  FROM ps)
        |SELECT k, n AS n_blocks, l2,
        |       CASE WHEN n > 0 AND $var2 > 0.0
        |       THEN ${Det.r4Sql(s"(CAST(l2 AS DOUBLE) - $e2) / sqrt($var2)")}
        |       ELSE NULL END AS z
        |FROM ag""".stripMargin
    },
    "q_agg_friedman" -> {
      val q = "3.0 * CAST(sr2 AS DOUBLE) / (CAST(n AS DOUBLE) * " +
        "CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0)) - " +
        "3.0 * CAST(n AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0)"
      val w = s"($q) / (CAST(n AS DOUBLE) * (CAST(k AS DOUBLE) - 1.0))"
      s"""WITH m AS MATERIALIZED (
        |  SELECT date_trunc('day', ts) AS d, event_type AS g,
        |         ${Det.avg4Sql("value")} AS v
        |  FROM events
        |  WHERE event_type IN ('click', 'purchase', 'signup', 'error')
        |  GROUP BY 1, 2),
        |cm AS (
        |  SELECT d, g, v FROM (
        |    SELECT d, g, v, count(*) OVER (PARTITION BY d) AS nb
        |    FROM m) t
        |  WHERE nb = 4),
        |rk AS (
        |  SELECT g,
        |         2 * CAST(rank() OVER (PARTITION BY d
        |             ORDER BY v NULLS FIRST) AS BIGINT)
        |           + CAST(count(*) OVER (PARTITION BY d, v) AS BIGINT)
        |           - 1 AS r2
        |  FROM cm),
        |pt AS (
        |  SELECT g, CAST(sum(r2) AS BIGINT) AS r2sum,
        |         CAST(count(*) AS BIGINT) AS nb
        |  FROM rk GROUP BY 1),
        |ag AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |         CAST(max(nb) AS BIGINT) AS n,
        |         CAST(sum(r2sum * r2sum) AS BIGINT) AS sr2
        |  FROM pt)
        |SELECT k, n AS n_blocks,
        |       CASE WHEN n > 0 AND k > 1
        |       THEN ${Det.r4Sql(q)} ELSE NULL END AS q,
        |       CASE WHEN n > 0 AND k > 1
        |       THEN ${Det.r4Sql(w)} ELSE NULL END AS w
        |FROM ag""".stripMargin
    },
    "q_agg_quade" -> {
      val f = "(CAST(n AS DOUBLE) - 1.0) * CAST(sb AS DOUBLE) / " +
        "CAST(CAST(n AS HUGEINT) * sa - sb AS DOUBLE)"
      s"""WITH m AS MATERIALIZED (
        |  SELECT date_trunc('day', ts) AS d, event_type AS g,
        |         ${Det.avg4Sql("value")} AS v
        |  FROM events
        |  WHERE event_type IN ('click', 'purchase', 'signup', 'error')
        |  GROUP BY 1, 2),
        |cm AS MATERIALIZED (
        |  SELECT d, g, v FROM (
        |    SELECT d, g, v, count(*) OVER (PARTITION BY d) AS nb
        |    FROM m) t
        |  WHERE nb = 4),
        |rk AS (
        |  SELECT d, g,
        |         2 * CAST(rank() OVER (PARTITION BY d
        |             ORDER BY v NULLS FIRST) AS BIGINT)
        |           + CAST(count(*) OVER (PARTITION BY d, v) AS BIGINT)
        |           - 1 AS r2
        |  FROM cm),
        |rg AS (SELECT d, max(v) - min(v) AS rg FROM cm GROUP BY 1),
        |qr AS (
        |  SELECT d,
        |         2 * CAST(rank() OVER (ORDER BY rg NULLS FIRST)
        |             AS BIGINT)
        |           + CAST(count(*) OVER (PARTITION BY rg) AS BIGINT)
        |           - 1 AS q2
        |  FROM rg),
        |rows_ AS MATERIALIZED (
        |  SELECT g, q2 * (r2 - 5) AS s4
        |  FROM rk JOIN qr ON qr.d = rk.d),
        |pt AS (
        |  SELECT g, CAST(sum(s4) AS BIGINT) AS s4j,
        |         CAST(count(*) AS BIGINT) AS nb
        |  FROM rows_ GROUP BY 1),
        |sa_ AS (SELECT sum(CAST(s4 AS HUGEINT) * s4) AS sa FROM rows_),
        |ag AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |         CAST(max(nb) AS BIGINT) AS n,
        |         sum(CAST(s4j AS HUGEINT) * s4j) AS sb
        |  FROM pt)
        |SELECT k, n AS n_blocks,
        |       CASE WHEN n > 1 AND k > 1
        |             AND CAST(n AS HUGEINT) * sa - sb > 0
        |       THEN ${Det.r4Sql(f)} END AS f
        |FROM ag CROSS JOIN sa_""".stripMargin
    },
    "q_agg_jonckheere" -> {
      val mu2 = "((CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - " +
        "CAST(sn2 AS DOUBLE)) / 2.0)"
      val var4 = "((CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * " +
        "(2.0 * CAST(n AS DOUBLE) + 3.0) - CAST(sn23 AS DOUBLE)) / 18.0)"
      s"""WITH gv AS MATERIALIZED (
        |  SELECT o_orderpriority AS g, o_totalprice AS v,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM orders GROUP BY 1, 2),
        |grid AS (SELECT DISTINCT v FROM gv),
        |gs AS (SELECT DISTINCT g FROM gv),
        |full0 AS (
        |  SELECT gs.g, grid.v, COALESCE(c, 0) AS c
        |  FROM grid CROSS JOIN gs
        |  LEFT JOIN gv ON gv.g = gs.g AND gv.v = grid.v),
        |cums AS MATERIALIZED (
        |  SELECT g, v, c,
        |         CAST(sum(c) OVER (PARTITION BY g ORDER BY v NULLS FIRST
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS cum,
        |         CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS n_g
        |  FROM full0),
        |pr AS (
        |  SELECT a.g AS g1, b.g AS g2, a.n_g AS n1, b.n_g AS n2,
        |         sum(CAST(a.c AS HUGEINT) * (b.cum - b.c)) AS more,
        |         sum(CAST(a.c AS HUGEINT) * (b.n_g - b.cum)) AS less
        |  FROM cums a JOIN cums b ON a.v = b.v AND a.g < b.g
        |  GROUP BY 1, 2, 3, 4),
        |jj AS (
        |  SELECT CAST(sum(CAST(CAST(n1 AS HUGEINT) * n2 - more + less
        |           AS BIGINT)) AS BIGINT) AS j2
        |  FROM pr),
        |pg AS (SELECT g, CAST(sum(c) AS BIGINT) AS n_i
        |       FROM gv GROUP BY 1),
        |mm AS (SELECT CAST(sum(n_i) AS BIGINT) AS n,
        |              CAST(sum(n_i * n_i) AS BIGINT) AS sn2,
        |              CAST(sum(n_i * n_i * (2 * n_i + 3)) AS BIGINT)
        |                AS sn23
        |       FROM pg)
        |SELECT n, j2,
        |       CASE WHEN $var4 > 0.0
        |       THEN ${Det.r4Sql(s"(CAST(j2 AS DOUBLE) - $mu2) / sqrt($var4)")}
        |       ELSE NULL END AS z
        |FROM jj CROSS JOIN mm""".stripMargin
    },
    "q_agg_cochran_armitage" -> {
      val t = "((CAST(n AS DOUBLE) * CAST(sr AS DOUBLE) - " +
        "CAST(r AS DOUBLE) * CAST(sn AS DOUBLE)) / CAST(n AS DOUBLE))"
      val p = "(CAST(r AS DOUBLE) / CAST(n AS DOUBLE))"
      val v = s"$p * (1.0 - $p) * (CAST(snn AS DOUBLE) - " +
        "CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE) / CAST(n AS DOUBLE))"
      s"""WITH bh AS (
        |  SELECT CAST(hour(ts) AS BIGINT) AS s,
        |         CAST(count(*) AS BIGINT) AS n_i,
        |         CAST(sum(CASE WHEN event_type = 'purchase'
        |           THEN 1 ELSE 0 END) AS BIGINT) AS r_i
        |  FROM events GROUP BY 1),
        |ag AS (
        |  SELECT CAST(sum(n_i) AS BIGINT) AS n,
        |         CAST(sum(r_i) AS BIGINT) AS r,
        |         CAST(sum(s * r_i) AS BIGINT) AS sr,
        |         CAST(sum(s * n_i) AS BIGINT) AS sn,
        |         CAST(sum(s * s * n_i) AS BIGINT) AS snn
        |  FROM bh)
        |SELECT n, r, ${Det.r4Sql(t)} AS t,
        |       CASE WHEN $v > 0.0
        |       THEN ${Det.r4Sql(s"$t / sqrt($v)")} ELSE NULL END AS z
        |FROM ag""".stripMargin
    },
    "q_agg_ks_by_source" -> {
      val dTxt = "CAST(dnum AS DOUBLE) / " +
        "(CAST(n AS DOUBLE) * CAST(m AS DOUBLE))"
      val lamTxt = s"$dTxt * sqrt(CAST(n AS DOUBLE) * CAST(m AS DOUBLE)" +
        " / (CAST(n AS DOUBLE) + CAST(m AS DOUBLE)))"
      s"""WITH g AS MATERIALIZED (
        |  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c1
        |  FROM documents GROUP BY 1, 2),
        |tot AS (SELECT n_chars, CAST(sum(c1) AS BIGINT) AS ct
        |        FROM g GROUP BY 1),
        |srcs AS (SELECT DISTINCT source FROM g),
        |grid AS (
        |  SELECT s.source, t.n_chars,
        |         COALESCE(g.c1, CAST(0 AS BIGINT)) AS c1,
        |         t.ct - COALESCE(g.c1, CAST(0 AS BIGINT)) AS c2
        |  FROM srcs s CROSS JOIN tot t
        |  LEFT JOIN g ON g.source = s.source AND g.n_chars = t.n_chars),
        |cum AS (
        |  SELECT source,
        |         CAST(sum(c1) OVER w AS BIGINT) AS i,
        |         CAST(sum(c2) OVER w AS BIGINT) AS j,
        |         CAST(sum(c1) OVER (PARTITION BY source) AS BIGINT) AS n,
        |         CAST(sum(c2) OVER (PARTITION BY source) AS BIGINT) AS m
        |  FROM grid
        |  WINDOW w AS (PARTITION BY source ORDER BY n_chars NULLS FIRST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |agg AS (
        |  SELECT source, max(n) AS n, max(m) AS m,
        |         max(abs(CAST(i AS DECIMAL(19,0)) * CAST(m AS DECIMAL(19,0))
        |           - CAST(j AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))))
        |           AS dnum
        |  FROM cum GROUP BY 1)
        |SELECT source, n, m, CAST(dnum AS BIGINT) AS d_num,
        |       ${Det.r4Sql(dTxt)} AS d,
        |       ${Det.r4Sql(lamTxt)} AS lam
        |FROM agg
        |ORDER BY source NULLS FIRST""".stripMargin
    },
    "q_agg_kuiper_by_source" -> {
      val vTxt = "CAST(dp + dm AS DOUBLE) / " +
        "(CAST(n AS DOUBLE) * CAST(m AS DOUBLE))"
      val statTxt = s"$vTxt * sqrt(CAST(n AS DOUBLE) * CAST(m AS DOUBLE)" +
        " / (CAST(n AS DOUBLE) + CAST(m AS DOUBLE)))"
      s"""WITH g AS MATERIALIZED (
        |  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c1
        |  FROM documents GROUP BY 1, 2),
        |tot AS (SELECT n_chars, CAST(sum(c1) AS BIGINT) AS ct
        |        FROM g GROUP BY 1),
        |srcs AS (SELECT DISTINCT source FROM g),
        |grid AS (
        |  SELECT s.source, t.n_chars,
        |         COALESCE(g.c1, CAST(0 AS BIGINT)) AS c1,
        |         t.ct - COALESCE(g.c1, CAST(0 AS BIGINT)) AS c2
        |  FROM srcs s CROSS JOIN tot t
        |  LEFT JOIN g ON g.source = s.source AND g.n_chars = t.n_chars),
        |cum AS (
        |  SELECT source,
        |         CAST(sum(c1) OVER w AS BIGINT) AS i,
        |         CAST(sum(c2) OVER w AS BIGINT) AS j,
        |         CAST(sum(c1) OVER (PARTITION BY source) AS BIGINT) AS n,
        |         CAST(sum(c2) OVER (PARTITION BY source) AS BIGINT) AS m
        |  FROM grid
        |  WINDOW w AS (PARTITION BY source ORDER BY n_chars NULLS FIRST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |agg AS (
        |  SELECT source, max(n) AS n, max(m) AS m,
        |         max(CAST(i AS DECIMAL(19,0)) * CAST(m AS DECIMAL(19,0))
        |           - CAST(j AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0)))
        |           AS dp,
        |         max(CAST(j AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))
        |           - CAST(i AS DECIMAL(19,0)) * CAST(m AS DECIMAL(19,0)))
        |           AS dm
        |  FROM cum GROUP BY 1)
        |SELECT source, n, m, CAST(dp + dm AS BIGINT) AS v_num,
        |       ${Det.r4Sql(vTxt)} AS v,
        |       ${Det.r4Sql(statTxt)} AS stat
        |FROM agg
        |ORDER BY source NULLS FIRST""".stripMargin
    },
    "q_agg_brunner_munzel" -> {
      val rb1 = "(CAST(s1 AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE)))"
      val rb2 = "(CAST(s2 AS DOUBLE) / (2.0 * CAST(n2 AS DOUBLE)))"
      val v1 = "(CAST(sq1 AS DOUBLE) / (4.0 * CAST(n1 AS DOUBLE) * " +
        "CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0)))"
      val v2 = "(CAST(sq2 AS DOUBLE) / (4.0 * CAST(n2 AS DOUBLE) * " +
        "CAST(n2 AS DOUBLE) * (CAST(n2 AS DOUBLE) - 1.0)))"
      val w = s"CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * " +
        s"($rb2 - $rb1) / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) * " +
        s"sqrt(CAST(n1 AS DOUBLE) * $v1 + CAST(n2 AS DOUBLE) * $v2))"
      val ph = s"($rb2 - (CAST(n2 AS DOUBLE) + 1.0) / 2.0) / " +
        "CAST(n1 AS DOUBLE)"
      s"""WITH e AS MATERIALIZED (
        |  SELECT value,
        |         CAST(sum(CASE WHEN event_type = 'click' THEN 1
        |           ELSE 0 END) AS BIGINT) AS c1,
        |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
        |           ELSE 0 END) AS BIGINT) AS c2
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1),
        |r AS MATERIALIZED (
        |  SELECT c1, c2,
        |         2 * (CAST(COALESCE(sum(c1 + c2) OVER wp, 0) AS BIGINT)
        |           + 1) + c1 + c2 - 1 AS r2p,
        |         2 * (CAST(COALESCE(sum(c1) OVER wp, 0) AS BIGINT)
        |           + 1) + c1 - 1 AS r2w1,
        |         2 * (CAST(COALESCE(sum(c2) OVER wp, 0) AS BIGINT)
        |           + 1) + c2 - 1 AS r2w2
        |  FROM e
        |  WINDOW wp AS (ORDER BY value NULLS FIRST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |t AS (
        |  SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |         CAST(sum(c2) AS BIGINT) AS n2,
        |         CAST(sum(c1 * r2p) AS BIGINT) AS s1,
        |         CAST(sum(c2 * r2p) AS BIGINT) AS s2
        |  FROM r),
        |q AS (
        |  SELECT max(n1) AS n1, max(n2) AS n2,
        |         max(s1) AS s1, max(s2) AS s2,
        |         sum(CAST(c1 AS HUGEINT) *
        |           (n1 * (r2p - r2w1 + n1 + 1) - s1) *
        |           (n1 * (r2p - r2w1 + n1 + 1) - s1)) AS sq1,
        |         sum(CAST(c2 AS HUGEINT) *
        |           (n2 * (r2p - r2w2 + n2 + 1) - s2) *
        |           (n2 * (r2p - r2w2 + n2 + 1) - s2)) AS sq2
        |  FROM r CROSS JOIN t)
        |SELECT n1, n2,
        |       ${Det.r4Sql(rb1)} AS rbar1, ${Det.r4Sql(rb2)} AS rbar2,
        |       ${Det.r4Sql(ph)} AS p_hat,
        |       CASE WHEN n1 > 1 AND n2 > 1 AND (sq1 > 0 OR sq2 > 0)
        |         THEN ${Det.r4Sql(w)} END AS w
        |FROM q""".stripMargin
    },
    "q_agg_hellinger_by_source" -> {
      val dv = "(sqrt(CAST(c1 AS DOUBLE) / CAST(n AS DOUBLE)) - " +
        "sqrt(CAST(c2 AS DOUBLE) / CAST(m AS DOUBLE)))"
      s"""WITH g AS MATERIALIZED (
        |  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c1
        |  FROM documents GROUP BY 1, 2),
        |tot AS (SELECT n_chars, CAST(sum(c1) AS BIGINT) AS ct
        |        FROM g GROUP BY 1),
        |srcs AS (SELECT DISTINCT source FROM g),
        |grid AS (
        |  SELECT s.source, t.n_chars,
        |         COALESCE(g.c1, CAST(0 AS BIGINT)) AS c1,
        |         t.ct - COALESCE(g.c1, CAST(0 AS BIGINT)) AS c2
        |  FROM srcs s CROSS JOIN tot t
        |  LEFT JOIN g ON g.source = s.source AND g.n_chars = t.n_chars),
        |cum AS (
        |  SELECT source, c1, c2,
        |         CAST(sum(c1) OVER (PARTITION BY source) AS BIGINT) AS n,
        |         CAST(sum(c2) OVER (PARTITION BY source) AS BIGINT) AS m
        |  FROM grid),
        |agg AS (
        |  SELECT source, max(n) AS n, max(m) AS m,
        |         CAST(sum(CAST(floor($dv * $dv * 0.5 * 1000000000000.0)
        |           AS BIGINT)) AS BIGINT) AS h2q
        |  FROM cum GROUP BY 1)
        |SELECT source, n, m,
        |       ${Det.r4Sql("CAST(h2q AS DOUBLE) / 1000000000000.0")}
        |         AS h2,
        |       ${Det.r4Sql("sqrt(CAST(h2q AS DOUBLE) / 1000000000000.0)")}
        |         AS h
        |FROM agg
        |ORDER BY source NULLS FIRST""".stripMargin
    },
    "q_agg_ad_by_source" -> {
      def term(m2: String, ni: String) = {
        val u = s"(CAST(nn AS DOUBLE) * CAST($m2 AS DOUBLE) - " +
          s"CAST($ni AS DOUBLE) * CAST(b2 AS DOUBLE))"
        s"(CAST(nn AS DOUBLE) - 1.0) * CAST(l AS DOUBLE) * $u * $u / " +
          s"(CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) * " +
          s"CAST($ni AS DOUBLE) * CAST(den AS DOUBLE))"
      }
      s"""WITH g AS MATERIALIZED (
        |  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c1
        |  FROM documents GROUP BY 1, 2),
        |tot AS (SELECT n_chars, CAST(sum(c1) AS BIGINT) AS ct
        |        FROM g GROUP BY 1),
        |srcs AS (SELECT DISTINCT source FROM g),
        |grid AS (
        |  SELECT s.source, t.n_chars,
        |         COALESCE(g.c1, CAST(0 AS BIGINT)) AS c1,
        |         t.ct - COALESCE(g.c1, CAST(0 AS BIGINT)) AS c2
        |  FROM srcs s CROSS JOIN tot t
        |  LEFT JOIN g ON g.source = s.source AND g.n_chars = t.n_chars),
        |cum AS (
        |  SELECT source, c1, c2,
        |         CAST(COALESCE(sum(c1) OVER wp, 0) AS BIGINT) AS pa,
        |         CAST(COALESCE(sum(c2) OVER wp, 0) AS BIGINT) AS pb,
        |         CAST(sum(c1) OVER (PARTITION BY source) AS BIGINT) AS n,
        |         CAST(sum(c2) OVER (PARTITION BY source) AS BIGINT) AS m
        |  FROM grid
        |  WINDOW wp AS (PARTITION BY source ORDER BY n_chars NULLS FIRST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |t2 AS (
        |  SELECT source, c1, c2, pa, pb, n, m, n + m AS nn,
        |         c1 + c2 AS l,
        |         2 * (pa + pb) + c1 + c2 AS b2
        |  FROM cum),
        |t3 AS (
        |  SELECT *, b2 * (2 * nn - b2) - nn * l AS den FROM t2),
        |agg AS (
        |  SELECT source, max(n) AS n, max(m) AS m,
        |         CAST(sum(CASE WHEN den > 0 THEN
        |             CAST(floor((${term("2 * pa + c1", "n")} +
        |               ${term("2 * pb + c2", "m")}) * 1000000000.0)
        |               AS BIGINT)
        |           ELSE 0 END) AS BIGINT) AS a2q
        |  FROM t3 GROUP BY 1)
        |SELECT source, n, m,
        |       ${Det.r4Sql("CAST(a2q AS DOUBLE) / 1000000000.0")} AS a2
        |FROM agg
        |ORDER BY source NULLS FIRST""".stripMargin
    },
    "q_agg_wasserstein_by_source" -> {
      val wTxt = "CAST(wnum AS DOUBLE) / " +
        "(CAST(n AS DOUBLE) * CAST(m AS DOUBLE))"
      s"""WITH g AS MATERIALIZED (
        |  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c1
        |  FROM documents GROUP BY 1, 2),
        |tot AS (SELECT n_chars, CAST(sum(c1) AS BIGINT) AS ct
        |        FROM g GROUP BY 1),
        |srcs AS (SELECT DISTINCT source FROM g),
        |grid AS (
        |  SELECT s.source, t.n_chars,
        |         COALESCE(g.c1, CAST(0 AS BIGINT)) AS c1,
        |         t.ct - COALESCE(g.c1, CAST(0 AS BIGINT)) AS c2
        |  FROM srcs s CROSS JOIN tot t
        |  LEFT JOIN g ON g.source = s.source AND g.n_chars = t.n_chars),
        |cum AS (
        |  SELECT source, n_chars,
        |         CAST(sum(c1) OVER w AS BIGINT) AS i,
        |         CAST(sum(c2) OVER w AS BIGINT) AS j,
        |         CAST(sum(c1) OVER (PARTITION BY source) AS BIGINT) AS n,
        |         CAST(sum(c2) OVER (PARTITION BY source) AS BIGINT) AS m,
        |         lead(n_chars, 1) OVER (PARTITION BY source
        |           ORDER BY n_chars NULLS FIRST) AS nx
        |  FROM grid
        |  WINDOW w AS (PARTITION BY source ORDER BY n_chars NULLS FIRST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |agg AS (
        |  SELECT source, max(n) AS n, max(m) AS m,
        |         sum(CASE WHEN nx IS NOT NULL THEN
        |               CAST(abs(CAST(i AS DECIMAL(19,0)) *
        |                   CAST(m AS DECIMAL(19,0))
        |                 - CAST(j AS DECIMAL(19,0)) *
        |                   CAST(n AS DECIMAL(19,0))) AS DECIMAL(38,0))
        |               * (nx - n_chars)
        |             ELSE CAST(0 AS DECIMAL(38,0)) END) AS wnum
        |  FROM cum GROUP BY 1)
        |SELECT source, n, m, CAST(wnum AS BIGINT) AS w_num,
        |       ${Det.r4Sql(wTxt)} AS w1
        |FROM agg
        |ORDER BY source NULLS FIRST""".stripMargin
    },
    "q_rel_scd2_join" ->
      """WITH ev AS (
        |  SELECT user_id, ts, event_id, event_type, value
        |  FROM events WHERE user_id % 10 = 0),
        |g AS (
        |  SELECT user_id, ts, event_id, event_type AS state,
        |         lag(event_type, 1) OVER (PARTITION BY user_id
        |           ORDER BY ts NULLS FIRST, event_id NULLS FIRST)
        |           AS prev_state
        |  FROM ev),
        |dim AS (
        |  SELECT user_id, ts, event_id,
        |         CAST(row_number() OVER (PARTITION BY user_id
        |           ORDER BY ts NULLS FIRST, event_id NULLS FIRST)
        |           AS BIGINT) AS version,
        |         state, FALSE AS is_fact, CAST(NULL AS DOUBLE) AS value
        |  FROM g WHERE prev_state IS NULL OR state <> prev_state),
        |facts AS (
        |  SELECT user_id, ts, event_id, CAST(NULL AS BIGINT) AS version,
        |         CAST(NULL AS VARCHAR) AS state, TRUE AS is_fact, value
        |  FROM ev WHERE event_type = 'purchase'),
        |u AS (SELECT * FROM dim UNION ALL SELECT * FROM facts),
        |l AS (
        |  SELECT *,
        |         last_value(version IGNORE NULLS) OVER w AS v_eff,
        |         last_value(state IGNORE NULLS) OVER w AS s_eff
        |  FROM u
        |  WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ts NULLS FIRST, is_fact NULLS FIRST,
        |      event_id NULLS FIRST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id, ts, value, v_eff AS version,
        |       s_eff AS state
        |FROM l WHERE is_fact
        |ORDER BY event_id NULLS FIRST""".stripMargin,
    "q_dq_purity" ->
      Seq(puritySql("orders", "o_orderstatus"),
        puritySql("orders", "o_orderpriority"),
        puritySql("customer", "c_mktsegment"),
        puritySql("events", "event_type"))
        .mkString("", "\nUNION ALL\n",
          "\nORDER BY column_name NULLS FIRST"),
    "q_tpch_pricing" ->
      s"""SELECT l_returnflag, l_linestatus,
        |       ${dsum4Sql("l_quantity")} AS sum_qty,
        |       ${dsum4Sql("l_extendedprice")} AS sum_base_price,
        |       ${dsum4Sql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
        |       ${dsum6Sql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
        |       ${davg4Sql("l_quantity")} AS avg_qty,
        |       ${davg4Sql("l_extendedprice")} AS avg_price,
        |       ${davg4Sql("l_discount")} AS avg_disc,
        |       CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2001-09-01'
        |GROUP BY 1, 2
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_tpch_shippriority" ->
      """SELECT l_orderkey,
        |       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       o_orderdate, o_orderpriority
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01'
        |  AND l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC NULLS LAST, o_orderdate NULLS FIRST,
        |         l_orderkey NULLS FIRST
        |LIMIT 10""".stripMargin,
    "q_tpch_localvolume" ->
      """SELECT n_name,
        |       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1
        |ORDER BY revenue DESC NULLS LAST, n_name NULLS FIRST""".stripMargin,
    "q_tpch_returned" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-10-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC NULLS LAST, c_custkey NULLS FIRST
        |LIMIT 20""".stripMargin,
    "q_tpch_orderpriority" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY 1
        |ORDER BY o_orderpriority NULLS FIRST""".stripMargin,
    "q_tpch_promo" ->
      """SELECT CAST(sum(CASE WHEN p_type = 'PROMO'
        |         THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)) END) AS DOUBLE) AS promo_revenue,
        |       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue,
        |       (floor((100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
        |         THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)) END) AS DOUBLE)
        |         / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0) AS promo_pct
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-03-01'
        |  AND l_shipdate < TIMESTAMP '1997-04-01'""".stripMargin,
    "q_tpch_bigorders" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |         CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |  FROM lineitem
        |  GROUP BY 1
        |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 300.0)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
        |FROM big
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC NULLS LAST, o_orderkey NULLS FIRST
        |LIMIT 50""".stripMargin,
    "q_tpch_disjunctive" ->
      """SELECT CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1.0 AND 11.0)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10.0 AND 20.0)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20.0 AND 30.0)""".stripMargin,
    "q_tpch_topsupplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_rev
        |FROM rev
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM rev)
        |ORDER BY s_suppkey NULLS FIRST""".stripMargin,
    "q_tpch_dormant" ->
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_dormant,
        |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal_sum
        |FROM customer
        |WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*)
        |                   FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '1999-01-01')
        |GROUP BY 1
        |ORDER BY c_nationkey NULLS FIRST""".stripMargin,
    "q_tpch_custdist" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        |      FROM customer LEFT JOIN orders
        |        ON o_custkey = c_custkey AND o_orderpriority <> '1-URGENT'
        |      GROUP BY 1) t
        |GROUP BY 1
        |ORDER BY custdist DESC NULLS LAST, c_count DESC NULLS LAST""".stripMargin,
    "q_tpch_nationpairs" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_name IN ('NATION_1', 'NATION_2')
        |  AND n2.n_name IN ('NATION_1', 'NATION_2')
        |  AND n1.n_name <> n2.n_name
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3
        |ORDER BY supp_nation NULLS FIRST, cust_nation NULLS FIRST,
        |         l_year NULLS FIRST""".stripMargin,
    "q_tpch_marketshare" ->
      s"""WITH v AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |         CAST(sum(CASE WHEN n1.n_name = 'NATION_3'
        |           THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)) END) AS DOUBLE) AS nation_vol,
        |         CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total_vol
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  JOIN region ON n2.n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1)
        |SELECT o_year, COALESCE(nation_vol, 0.0) AS nation_vol, total_vol,
        |       ${r4Sql("COALESCE(nation_vol, 0.0) / total_vol")} AS mkt_share
        |FROM v
        |ORDER BY o_year NULLS FIRST""".stripMargin,
    "q_tpch_qtyoutlier" ->
      """WITH li AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#12'),
        |pa AS (
        |  SELECT l_partkey AS pk,
        |         CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_qty
        |  FROM li GROUP BY 1)
        |SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0 AS avg_yearly,
        |       CAST(count(*) AS BIGINT) AS n_items
        |FROM li JOIN pa ON l_partkey = pk
        |WHERE l_quantity < 0.2 * avg_qty""".stripMargin,
    "q_tpch_waiting" ->
      """WITH sp AS (
        |  SELECT l_orderkey, l_suppkey, max(l_shipdate) AS smax
        |  FROM lineitem GROUP BY 1, 2),
        |g AS (
        |  SELECT l_orderkey, l_suppkey, smax,
        |         max(smax) OVER w AS omax,
        |         CAST(count(*) OVER w AS BIGINT) AS nsupp
        |  FROM sp
        |  WINDOW w AS (PARTITION BY l_orderkey)),
        |f AS (
        |  SELECT l_suppkey, smax, omax, nsupp,
        |         CAST(sum(CASE WHEN smax = omax THEN 1 ELSE 0 END)
        |              OVER (PARTITION BY l_orderkey) AS BIGINT) AS nach
        |  FROM g)
        |SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM f JOIN supplier ON l_suppkey = s_suppkey
        |WHERE nsupp >= 2 AND nach = 1 AND smax = omax
        |GROUP BY 1, 2
        |ORDER BY numwait DESC NULLS LAST, s_suppkey NULLS FIRST
        |LIMIT 10""".stripMargin,
    "q_tpch_redsupp" ->
      """WITH q AS (
        |  SELECT l_suppkey, l_partkey,
        |         CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE 'red%'
        |    AND l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1, 2)
        |SELECT s_suppkey, s_name, n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (SELECT DISTINCT l_suppkey FROM q WHERE qty > 50.0)
        |ORDER BY s_suppkey NULLS FIRST""".stripMargin,
    "q_tpch_mincost" ->
      s"""WITH c AS (
        |  SELECT l_partkey, l_suppkey,
        |         ${Det.dsum4Sql("l_extendedprice")} / ${Det.dsum4Sql("l_quantity")} AS cost
        |  FROM lineitem GROUP BY 1, 2),
        |eu AS (
        |  SELECT s_suppkey, s_name, n_name
        |  FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |m AS (
        |  SELECT l_partkey, cost, s_suppkey, s_name, n_name,
        |         row_number() OVER (PARTITION BY l_partkey
        |           ORDER BY cost NULLS FIRST, s_suppkey NULLS FIRST) AS rn
        |  FROM c JOIN eu ON l_suppkey = s_suppkey)
        |SELECT l_partkey AS p_partkey, s_suppkey, s_name, n_name,
        |       ${Det.r4Sql("cost")} AS unit_cost
        |FROM m WHERE rn = 1
        |ORDER BY p_partkey NULLS FIRST""".stripMargin,
    "q_tpch_profit" ->
      """SELECT n_name, CAST(year(l_shipdate) AS BIGINT) AS o_year,
        |       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))
        |                - CAST(p_retailprice * l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_type = 'PROMO'
        |GROUP BY 1, 2
        |ORDER BY n_name NULLS FIRST, o_year NULLS FIRST""".stripMargin,
    "q_tpch_importantparts" ->
      s"""WITH v AS (
        |  SELECT l_partkey,
        |         CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS value
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
        |             CAST(count(*) AS BIGINT) AS np FROM v)
        |SELECT l_partkey AS p_partkey, ${Det.r4Sql("value")} AS value
        |FROM v CROSS JOIN t
        |WHERE value > total / np * 1.3
        |ORDER BY value DESC NULLS LAST, p_partkey NULLS FIRST""".stripMargin,
    "q_tpch_priorityclass" ->
      """SELECT l_linestatus,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1
        |ORDER BY l_linestatus NULLS FIRST""".stripMargin,
    "q_tpch_suppcnt" ->
      """SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
        |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#3' AND p_type <> 'PROMO'
        |  AND p_size BETWEEN 1 AND 10
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC NULLS LAST, p_brand NULLS FIRST,
        |         p_type NULLS FIRST, p_size NULLS FIRST""".stripMargin,
    "q_tpch_revchange" ->
      """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07
        |  AND l_quantity < 24.0""".stripMargin,
    "q_upsert_snapshot" ->
      s"""WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |         0 AS version, FALSE AS deleted
        |  FROM orders),
        |upd AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice * 2.0 AS o_totalprice,
        |         1 AS version, FALSE AS deleted
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |del AS (
        |  SELECT o_orderkey, o_orderstatus, 0.0 AS o_totalprice,
        |         1 AS version, TRUE AS deleted
        |  FROM orders WHERE o_orderkey % 97 = 3 AND o_orderkey % 10 <> 0),
        |u AS (SELECT * FROM base UNION ALL SELECT * FROM upd
        |      UNION ALL SELECT * FROM del),
        |m AS (
        |  SELECT o_orderkey,
        |         arg_max(o_orderstatus, version) AS o_orderstatus,
        |         arg_max(o_totalprice, version) AS o_totalprice,
        |         arg_max(deleted, version) AS deleted,
        |         CAST(max(version) AS BIGINT) AS version
        |  FROM u GROUP BY 1)
        |SELECT o_orderstatus, count(*) AS n_live,
        |       CAST(sum(CASE WHEN version = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
        |       ${Det.r4Sql(Det.dsum4Sql("o_totalprice"))} AS sum_price
        |FROM m WHERE NOT deleted
        |GROUP BY 1
        |ORDER BY o_orderstatus NULLS FIRST""".stripMargin,
    "q_time_travel" ->
      s"""WITH log AS (
        |  SELECT o_orderkey, o_totalprice, 0 AS version, FALSE AS deleted
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice * 2.0, 1, FALSE
        |  FROM orders WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 0.0, 1, TRUE
        |  FROM orders WHERE o_orderkey % 97 = 3 AND o_orderkey % 10 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice * 3.0, 2, FALSE
        |  FROM orders WHERE o_orderkey % 97 = 3 AND o_orderkey % 10 <> 0
        |    AND o_orderkey % 2 = 1
        |  UNION ALL
        |  SELECT o_orderkey, 0.0, 2, TRUE
        |  FROM orders WHERE o_orderkey % 89 = 7 AND o_orderkey % 10 = 0),
        |ax AS (SELECT CAST(unnest(generate_series(0, 2)) AS BIGINT) AS snap),
        |m AS (
        |  SELECT snap, o_orderkey,
        |         arg_max(o_totalprice, version) AS o_totalprice,
        |         arg_max(deleted, version) AS deleted
        |  FROM log CROSS JOIN ax
        |  WHERE version <= snap
        |  GROUP BY 1, 2)
        |SELECT snap, CAST(count(*) AS BIGINT) AS n_live,
        |       ${Det.r4Sql(Det.dsum4Sql("o_totalprice"))} AS sum_price
        |FROM m WHERE NOT deleted
        |GROUP BY 1
        |ORDER BY snap NULLS FIRST""".stripMargin,
    "q_latest_per_key" ->
      """WITH r AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
        |FROM r WHERE rn = 1
        |ORDER BY o_custkey NULLS FIRST""".stripMargin,
    "q_star_revenue" ->
      """SELECT n_name, date_trunc('month', o_orderdate) AS month,
        |       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1, 2
        |ORDER BY n_name NULLS FIRST, month NULLS FIRST""".stripMargin,
    "q_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate
        |FROM lineitem
        |ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST,
        |         l_quantity NULLS FIRST, l_extendedprice NULLS FIRST,
        |         l_shipdate NULLS FIRST
        |LIMIT 100""".stripMargin,
    "q_filter_pred" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
        |FROM orders
        |WHERE o_orderstatus IN ('F','P')
        |  AND o_totalprice BETWEEN 10000.0 AND 200000.0
        |  AND (o_orderpriority LIKE '%URGENT' OR o_orderpriority LIKE '2%')
        |ORDER BY o_orderkey NULLS FIRST""".stripMargin,
    "q_join_inner" ->
      s"""SELECT n_name, count(*) AS n_orders, ${dsum4Sql("o_totalprice")} AS revenue
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |GROUP BY n_name
        |ORDER BY n_name NULLS FIRST""".stripMargin,
    "q_join_broadcast" ->
      s"""SELECT p_brand, count(*) AS n, ${dsum4Sql("l_quantity")} AS qty,
        |       ${dsum4Sql("l_extendedprice")} AS rev
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand
        |ORDER BY p_brand NULLS FIRST""".stripMargin,
    "q_join_left" ->
      s"""SELECT c_custkey, c_name, count(o_custkey) AS n_orders,
        |       coalesce(${dsum4Sql("o_totalprice")}, 0.0) AS spend
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY c_custkey NULLS FIRST""".stripMargin,
    "q_join_semi" ->
      """SELECT p_partkey, p_name FROM part
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
        |ORDER BY p_partkey NULLS FIRST""".stripMargin,
    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey NULLS FIRST""".stripMargin,
    "q_join_full" ->
      """WITH c AS (SELECT c_nationkey AS k, CAST(count(*) AS BIGINT) AS n_cust
        |           FROM customer GROUP BY 1),
        |     s AS (SELECT s_nationkey AS k, CAST(count(*) AS BIGINT) AS n_supp
        |           FROM supplier GROUP BY 1)
        |SELECT coalesce(c.k, s.k) AS nationkey,
        |       CAST(coalesce(n_cust, 0) AS BIGINT) AS n_cust,
        |       CAST(coalesce(n_supp, 0) AS BIGINT) AS n_supp
        |FROM c FULL OUTER JOIN s ON c.k = s.k
        |ORDER BY nationkey NULLS FIRST""".stripMargin,
    "q_map_funcs" ->
      """SELECT event_id,
        |       CAST(2 AS BIGINT) AS n_keys,
        |       'k,uid' AS keys_csv,
        |       CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
        |       CAST(user_id AS BIGINT) AS uid_val,
        |       CAST(json_extract(props, '$.k') AS BIGINT)
        |         + CAST(user_id AS BIGINT) AS val_sum
        |FROM events
        |ORDER BY event_id NULLS FIRST""".stripMargin,
    "q_exists_select" ->
      """SELECT c_custkey, c_name,
        |       EXISTS (SELECT 1 FROM orders
        |               WHERE o_custkey = c_custkey
        |                 AND o_orderpriority = '1-URGENT') AS has_urgent
        |FROM customer
        |ORDER BY c_custkey NULLS FIRST""".stripMargin,
    "q_window_range" ->
      s"""SELECT event_id, event_type, epoch_us(ts) // 1000000 AS ts_s, value,
        |       ${Det.r4Sql(
        "CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)" +
          " / count(*) OVER w")} AS mavg
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts) // 1000000
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id NULLS FIRST""".stripMargin,
    "q_join_asof" ->
      """SELECT e.event_id, e.user_id, e.ts AS p_ts,
        |       (SELECT max(s.ts) FROM events s
        |        WHERE s.user_id = e.user_id AND s.event_type = 'signup'
        |          AND s.ts <= e.ts) AS signup_ts
        |FROM events e WHERE e.event_type = 'purchase'
        |ORDER BY e.event_id NULLS FIRST""".stripMargin,
    "q_join_asof_fwd" ->
      """WITH s AS (
        |  SELECT e.event_id, e.user_id, e.ts,
        |         (SELECT min(p.ts) FROM events p
        |          WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
        |            AND p.ts >= e.ts) AS next_p_ts
        |  FROM events e WHERE e.event_type = 'signup')
        |SELECT event_id, user_id, ts AS s_ts, next_p_ts,
        |       CAST((epoch_us(next_p_ts) - epoch_us(ts)) // 1000000
        |         AS BIGINT) AS secs_to_convert
        |FROM s ORDER BY event_id NULLS FIRST""".stripMargin,
    "q_time_to_convert" -> {
      // Aggregate rk ALONE, then CROSS JOIN tot — mirrors the Spark
      // agg-then-crossJoin shape so n_signups survives an empty
      // conversion set (agg over empty rk yields one NULL row, and
      // the 1-row tot cross join still attaches the real count).
      val r4 = graft.util.Det.r4Sql("CAST(n_converted AS DOUBLE) / ns")
      """WITH s AS (
        |  SELECT e.event_id, e.ts,
        |         (SELECT min(p.ts) FROM events p
        |          WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
        |            AND p.ts >= e.ts) AS next_p_ts
        |  FROM events e WHERE e.event_type = 'signup'),
        |conv AS (
        |  SELECT event_id,
        |         CAST((epoch_us(next_p_ts) - epoch_us(ts)) // 1000000
        |           AS BIGINT) AS secs
        |  FROM s WHERE next_p_ts IS NOT NULL),
        |rk AS (
        |  SELECT secs,
        |         row_number() OVER (ORDER BY secs, event_id) AS rk,
        |         CAST(count(*) OVER () AS BIGINT) AS nc
        |  FROM conv),
        |agg AS (
        |  SELECT max(nc) AS n_converted,
        |         max(CASE WHEN rk = (nc + 1) // 2 THEN secs END) AS p50_secs,
        |         max(CASE WHEN rk = (9 * nc + 9) // 10 THEN secs END) AS p90_secs
        |  FROM rk),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM s)
        |SELECT ns AS n_signups, n_converted,
        |       """.stripMargin + r4 + """ AS cvr,
        |       p50_secs, p90_secs
        |FROM agg CROSS JOIN tot""".stripMargin
    },
    "q_part_pagerank" -> {
      val rounds = (1 to 3).map { i =>
        val prev = if (i == 1) "r0" else s"g${i - 1}"
        s"""g$i AS (
          |  SELECT d.src AS node,
          |         CAST(150000 + (85 * COALESCE(si.s, 0)) // 100 AS BIGINT) AS r
          |  FROM deg d LEFT JOIN (
          |    SELECT sym.dst, CAST(sum(p.r // dg.outdeg) AS BIGINT) AS s
          |    FROM sym JOIN $prev p ON sym.src = p.node
          |    JOIN deg dg ON sym.src = dg.src
          |    GROUP BY 1) si ON d.src = si.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH bp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem WHERE l_partkey % 4 = 0),
        |pairs AS (SELECT DISTINCT a.pk AS pa, b.pk AS pb
        |          FROM bp a JOIN bp b ON a.ok = b.ok AND a.pk < b.pk),
        |sym AS (SELECT pa AS src, pb AS dst FROM pairs
        |        UNION ALL SELECT pb, pa FROM pairs),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
        |        FROM sym GROUP BY 1),
        |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM deg),
        |$rounds
        |SELECT node, outdeg, r AS rank_scaled
        |FROM g3 JOIN deg ON node = src
        |ORDER BY rank_scaled DESC, node NULLS FIRST
        |LIMIT 20""".stripMargin
    },
    "q_part_hits" -> {
      // integer-exact chained rounds: every CTE MATERIALIZED (the
      // standing chained-CTE rule); scalar max subqueries are the L∞
      // normalizers — same exact (x*1e6) // max division as Spark
      val rounds = (1 to 3).map { i =>
        s"""a${i}r AS MATERIALIZED (
          |  SELECT s, CAST(sum(h) AS BIGINT) AS ar
          |  FROM edges JOIN h${i - 1} USING (c) GROUP BY 1),
          |a$i AS MATERIALIZED (
          |  SELECT s, (ar * 1000000) // (SELECT max(ar) FROM a${i}r)
          |    AS a FROM a${i}r),
          |h${i}r AS MATERIALIZED (
          |  SELECT c, CAST(sum(a) AS BIGINT) AS hr
          |  FROM edges JOIN a$i USING (s) GROUP BY 1),
          |h$i AS MATERIALIZED (
          |  SELECT c, (hr * 1000000) // (SELECT max(hr) FROM h${i}r)
          |    AS h FROM h${i}r)""".stripMargin
      }.mkString(",\n")
      s"""WITH edges AS MATERIALIZED (
        |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |h0 AS MATERIALIZED (
        |  SELECT DISTINCT c, CAST(1000000 AS BIGINT) AS h FROM edges),
        |$rounds,
        |u AS (SELECT 'authority' AS side, s AS node, a AS score_scaled
        |      FROM a3
        |      UNION ALL SELECT 'hub', c, h FROM h3),
        |r AS (SELECT side, node, score_scaled,
        |      CAST(row_number() OVER (PARTITION BY side
        |        ORDER BY score_scaled DESC NULLS LAST, node NULLS FIRST)
        |        AS BIGINT) AS rk FROM u)
        |SELECT side, node, score_scaled, rk FROM r WHERE rk <= 10
        |ORDER BY side NULLS FIRST, rk NULLS FIRST""".stripMargin
    },
    "q_part_label_prop" -> {
      // synchronous mode-label rounds: argmax by (count DESC, label)
      // via row_number — chained, so every CTE is MATERIALIZED
      val rounds = (1 to 4).map { i =>
        s"""l$i AS MATERIALIZED (
          |  SELECT n.node, COALESCE(p.lbl, n.node) AS lbl
          |  FROM nodes n LEFT JOIN (
          |    SELECT dst AS node, lbl FROM (
          |      SELECT dst, lbl,
          |             row_number() OVER (PARTITION BY dst
          |               ORDER BY c DESC NULLS LAST, lbl NULLS FIRST)
          |               AS rn
          |      FROM (SELECT s.dst, l.lbl,
          |                   CAST(count(*) AS BIGINT) AS c
          |            FROM sym s JOIN l${i - 1} l ON l.node = s.src
          |            GROUP BY 1, 2) t) u
          |    WHERE rn = 1) p ON p.node = n.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH bp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem WHERE l_partkey % 4 = 0),
        |pairs AS (SELECT DISTINCT a.pk AS pa, b.pk AS pb
        |          FROM bp a JOIN bp b ON a.ok = b.ok AND a.pk < b.pk),
        |sym AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pairs
        |        UNION ALL SELECT pb, pa FROM pairs),
        |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM sym),
        |l0 AS MATERIALIZED (SELECT node, node AS lbl FROM nodes),
        |$rounds
        |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members
        |FROM l4 GROUP BY 1
        |ORDER BY n_members DESC NULLS LAST, community NULLS FIRST
        |LIMIT 20""".stripMargin
    },
    "q_part_modularity" -> {
      val rounds = (1 to 4).map { i =>
        s"""l$i AS MATERIALIZED (
          |  SELECT n.node, COALESCE(p.lbl, n.node) AS lbl
          |  FROM nodes n LEFT JOIN (
          |    SELECT dst AS node, lbl FROM (
          |      SELECT dst, lbl,
          |             row_number() OVER (PARTITION BY dst
          |               ORDER BY c DESC NULLS LAST, lbl NULLS FIRST)
          |               AS rn
          |      FROM (SELECT s.dst, l.lbl,
          |                   CAST(count(*) AS BIGINT) AS c
          |            FROM sym s JOIN l${i - 1} l ON l.node = s.src
          |            GROUP BY 1, 2) t) u
          |    WHERE rn = 1) p ON p.node = n.node)""".stripMargin
      }.mkString(",\n")
      val term = "(CAST(e2_c AS DOUBLE) / CAST(m2 AS DOUBLE) - " +
        "(CAST(d_c AS DOUBLE) / CAST(m2 AS DOUBLE)) * " +
        "(CAST(d_c AS DOUBLE) / CAST(m2 AS DOUBLE)))"
      s"""WITH bp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem WHERE l_partkey % 4 = 0),
        |pairs AS (SELECT DISTINCT a.pk AS pa, b.pk AS pb
        |          FROM bp a JOIN bp b ON a.ok = b.ok AND a.pk < b.pk),
        |sym AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pairs
        |        UNION ALL SELECT pb, pa FROM pairs),
        |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM sym),
        |l0 AS MATERIALIZED (SELECT node, node AS lbl FROM nodes),
        |$rounds,
        |st AS MATERIALIZED (
        |  SELECT ls.lbl AS lbl,
        |         CAST(count(*) AS BIGINT) AS d_c,
        |         CAST(sum(CASE WHEN ls.lbl = ld.lbl THEN 1 ELSE 0 END)
        |           AS BIGINT) AS e2_c
        |  FROM sym s JOIN l4 ls ON ls.node = s.src
        |  JOIN l4 ld ON ld.node = s.dst
        |  GROUP BY 1),
        |tt AS (SELECT CAST(sum(d_c) AS BIGINT) AS m2 FROM st),
        |qq AS (
        |  SELECT m2, CAST(count(*) AS BIGINT) AS n_communities,
        |         CAST(sum(CAST(floor(($term) * 1000000000000.0)
        |           AS BIGINT)) AS BIGINT) AS tqs
        |  FROM st CROSS JOIN tt GROUP BY 1)
        |SELECT n_communities, m2 // 2 AS m,
        |       ${Det.r4Sql("CAST(tqs AS DOUBLE) / 1000000000000.0")} AS q
        |FROM qq""".stripMargin
    },
    "q_part_kcore" -> {
      // every round CTE is referenced twice; MATERIALIZED stops DuckDB
      // from inlining the chain (2^rounds re-evaluation + temp spill)
      val rounds = (1 to 6).map { i =>
        s"""a$i AS MATERIALIZED (SELECT src AS n FROM e${i - 1}
          |         GROUP BY 1 HAVING count(*) >= 3),
          |e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e
          |        JOIN a$i s ON e.src = s.n
          |        JOIN a$i d ON e.dst = d.n)""".stripMargin
      }.mkString(",\n")
      s"""WITH bp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem WHERE l_partkey % 4 = 0),
        |pairs AS (SELECT DISTINCT a.pk AS pa, b.pk AS pb
        |          FROM bp a JOIN bp b ON a.ok = b.ok AND a.pk < b.pk),
        |e0 AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pairs
        |       UNION ALL SELECT pb, pa FROM pairs),
        |$rounds
        |SELECT src AS node, CAST(count(*) AS BIGINT) AS core_deg
        |FROM e6 GROUP BY 1
        |ORDER BY core_deg DESC NULLS LAST, node NULLS FIRST
        |LIMIT 20""".stripMargin
    },
    "q_part_ktruss" -> {
      // tri_i is referenced three times and e_i feeds three wedge
      // sides next round: MATERIALIZED is mandatory (the q_part_kcore
      // 2^rounds-inlining lesson)
      val rounds = (1 to 3).map { i =>
        s"""tri$i AS MATERIALIZED (
          |  SELECT a.pa, a.pb, b.pb AS pc
          |  FROM e${i - 1} a
          |  JOIN e${i - 1} b ON a.pa = b.pa AND a.pb < b.pb
          |  JOIN e${i - 1} c ON c.pa = a.pb AND c.pb = b.pb),
          |sup$i AS MATERIALIZED (
          |  SELECT pa, pb, CAST(count(*) AS BIGINT) AS sup FROM (
          |    SELECT pa, pb FROM tri$i
          |    UNION ALL SELECT pa, pc FROM tri$i
          |    UNION ALL SELECT pb, pc FROM tri$i)
          |  GROUP BY 1, 2 HAVING count(*) >= 2),
          |e$i AS MATERIALIZED (
          |  SELECT e.pa, e.pb, s.sup FROM e${i - 1} e
          |  JOIN sup$i s ON s.pa = e.pa AND s.pb = e.pb)""".stripMargin
      }.mkString(",\n")
      s"""WITH bp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem WHERE l_partkey % 4 = 0),
        |e0 AS MATERIALIZED (
        |  SELECT DISTINCT a.pk AS pa, b.pk AS pb
        |  FROM bp a JOIN bp b ON a.ok = b.ok AND a.pk < b.pk),
        |$rounds
        |SELECT pa, pb, sup FROM e3
        |ORDER BY sup DESC NULLS LAST, pa NULLS FIRST, pb NULLS FIRST
        |LIMIT 20""".stripMargin
    },
    "q_part_jaccard" ->
      s"""WITH bp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem WHERE l_partkey % 4 = 0),
        |pairs AS (SELECT DISTINCT a.pk AS pa, b.pk AS pb
        |          FROM bp a JOIN bp b ON a.ok = b.ok AND a.pk < b.pk),
        |sym AS (SELECT pa AS src, pb AS dst FROM pairs
        |        UNION ALL SELECT pb, pa FROM pairs),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d
        |        FROM sym GROUP BY 1),
        |com AS (SELECT a.dst AS v1, b.dst AS v2,
        |               CAST(count(*) AS BIGINT) AS common_n
        |        FROM sym a JOIN sym b
        |          ON a.src = b.src AND a.dst < b.dst
        |        GROUP BY 1, 2)
        |SELECT v1, v2, common_n,
        |       d1.d + d2.d - common_n AS union_n,
        |       (common_n * 1000000000000) // (d1.d + d2.d - common_n)
        |         AS jq,
        |       ${Det.r4Sql("CAST(common_n AS DOUBLE) / CAST(d1.d + d2.d - common_n AS DOUBLE)")} AS jaccard
        |FROM com JOIN deg d1 ON com.v1 = d1.src
        |JOIN deg d2 ON com.v2 = d2.src
        |ORDER BY jq DESC NULLS LAST, v1 NULLS FIRST, v2 NULLS FIRST
        |LIMIT 15""".stripMargin,
    "q_part_components" -> componentsOracleText,
    "q_part_harmonic" -> harmonicOracleText,
    "q_part_rich_club" -> {
      val phi = "2.0 * CAST(e_k AS DOUBLE) / " +
        "(CAST(n_k AS DOUBLE) * (CAST(n_k AS DOUBLE) - 1.0))"
      s"""WITH bp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem WHERE l_partkey % 4 = 0),
        |pairs AS (SELECT DISTINCT a.pk AS pa, b.pk AS pb
        |          FROM bp a JOIN bp b ON a.ok = b.ok AND a.pk < b.pk),
        |sym AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pairs
        |        UNION ALL SELECT pb, pa FROM pairs),
        |deg AS MATERIALIZED (
        |  SELECT src AS node, CAST(count(*) AS BIGINT) AS d
        |  FROM sym GROUP BY 1),
        |ks AS (SELECT unnest([16, 24, 32, 40]) AS k),
        |nk AS (
        |  SELECT k, CAST(sum(CASE WHEN d > k THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_k
        |  FROM deg CROSS JOIN ks GROUP BY 1),
        |e AS MATERIALIZED (
        |  SELECT da.d AS da, db.d AS db
        |  FROM pairs p JOIN deg da ON da.node = p.pa
        |  JOIN deg db ON db.node = p.pb),
        |ek AS (
        |  SELECT k, CAST(sum(CASE WHEN da > k AND db > k THEN 1
        |    ELSE 0 END) AS BIGINT) AS e_k
        |  FROM e CROSS JOIN ks GROUP BY 1)
        |SELECT CAST(nk.k AS BIGINT) AS k, n_k, e_k,
        |       CASE WHEN n_k >= 2 THEN ${Det.r4Sql(phi)} END AS phi
        |FROM nk JOIN ek ON ek.k = nk.k
        |ORDER BY k NULLS FIRST""".stripMargin
    },
    // the pointer-doubling twin reaches the SAME fixpoint labels (spec:
    // diameter-299 path + fixture bit-equality), so it shares the
    // unrolled oracle verbatim — the bpe_encode_prod precedent
    "q_part_components_pd" -> componentsOracleText,
    "q_part_resource_alloc" ->
      s"""WITH bp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem WHERE l_partkey % 4 = 0),
        |pairs AS (SELECT DISTINCT a.pk AS pa, b.pk AS pb
        |          FROM bp a JOIN bp b ON a.ok = b.ok AND a.pk < b.pk),
        |sym AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pairs
        |        UNION ALL SELECT pb, pa FROM pairs),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS dw
        |        FROM sym GROUP BY 1),
        |com AS (SELECT a.dst AS v1, b.dst AS v2,
        |               CAST(count(*) AS BIGINT) AS common_n,
        |               CAST(sum(1000000000000 // d.dw) AS BIGINT) AS ra_q
        |        FROM sym a JOIN sym b
        |          ON a.src = b.src AND a.dst < b.dst
        |        JOIN deg d ON d.src = a.src
        |        GROUP BY 1, 2)
        |SELECT v1, v2, common_n, ra_q,
        |       ${Det.r4Sql("CAST(ra_q AS DOUBLE) / 1000000000000.0")} AS ra
        |FROM com
        |ORDER BY ra_q DESC NULLS LAST, v1 NULLS FIRST, v2 NULLS FIRST
        |LIMIT 15""".stripMargin,
    "q_surv_gehan" -> {
      val rr = "CAST(r1 AS DOUBLE) / CAST(r AS DOUBLE)"
      val p1 = s"CAST(d AS DOUBLE) * $rr"
      val vt = s"CAST(d AS DOUBLE) * ($rr) * (1.0 - $rr) * " +
        "(CAST(r AS DOUBLE) - CAST(d AS DOUBLE)) / " +
        "(CAST(r AS DOUBLE) - 1.0)"
      val z = Det.r4Sql(
        "(CAST(uq AS DOUBLE) / 1000000.0) / " +
          "sqrt(CAST(vq AS DOUBLE) / 1000000.0)")
      s"""WITH per AS MATERIALIZED (
        |  SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts
        |  FROM events GROUP BY 1),
        |hor AS (SELECT max(ts) AS end_ts FROM events),
        |obs AS MATERIALIZED (
        |  SELECT user_id % 2 AS grp,
        |         (epoch_us(last_ts) - epoch_us(first_ts)) // 86400000000
        |           AS dur,
        |         (last_ts >= end_ts - INTERVAL 12 HOUR) AS censored
        |  FROM per CROSS JOIN hor),
        |durs AS MATERIALIZED (
        |  SELECT dur, grp,
        |         CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT)
        |           AS d,
        |         CAST(sum(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT)
        |           AS c
        |  FROM obs GROUP BY 1, 2),
        |grid AS (
        |  SELECT dg.dur, gg.grp, COALESCE(d, 0) AS d, COALESCE(c, 0) AS c
        |  FROM (SELECT DISTINCT dur FROM durs) dg
        |  CROSS JOIN (SELECT DISTINCT grp FROM durs) gg
        |  LEFT JOIN durs ON durs.dur = dg.dur AND durs.grp = gg.grp),
        |risk AS (
        |  SELECT dur, grp, d,
        |         CAST(sum(d + c) OVER (PARTITION BY grp
        |           ORDER BY dur NULLS FIRST
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |           AS BIGINT) AS r_g
        |  FROM grid),
        |bt AS (
        |  SELECT dur, CAST(sum(d) AS BIGINT) AS d,
        |         CAST(sum(r_g) AS BIGINT) AS r,
        |         CAST(sum(CASE WHEN grp = 0 THEN d ELSE 0 END) AS BIGINT)
        |           AS d1,
        |         CAST(sum(CASE WHEN grp = 0 THEN r_g ELSE 0 END) AS BIGINT)
        |           AS r1
        |  FROM risk GROUP BY 1),
        |s AS (
        |  SELECT CAST(sum(r * (d1 * 1000000 -
        |             CAST(floor(($p1) * 1000000.0) AS BIGINT)))
        |           AS BIGINT) AS uq,
        |         sum(CAST(r AS HUGEINT) * r *
        |           (CASE WHEN r > 1 THEN
        |              CAST(floor(($vt) * 1000000.0) AS BIGINT)
        |            ELSE 0 END)) AS vq
        |  FROM bt),
        |na AS (SELECT CAST(count(*) AS BIGINT) AS n1 FROM obs
        |       WHERE grp = 0),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS n2 FROM obs
        |       WHERE grp <> 0)
        |SELECT n1, n2,
        |       ${Det.r4Sql("CAST(uq AS DOUBLE) / 1000000.0")} AS u,
        |       CASE WHEN vq > 0 THEN $z END AS z
        |FROM s CROSS JOIN na CROSS JOIN nb""".stripMargin
    },
    "q_surv_tarone_ware" -> {
      val rr = "CAST(r1 AS DOUBLE) / CAST(r AS DOUBLE)"
      val p1 = s"CAST(d AS DOUBLE) * $rr"
      val vt = s"CAST(d AS DOUBLE) * ($rr) * (1.0 - $rr) * " +
        "(CAST(r AS DOUBLE) - CAST(d AS DOUBLE)) / " +
        "(CAST(r AS DOUBLE) - 1.0)"
      val z = Det.r4Sql(
        "(CAST(uq AS DOUBLE) / 1000000.0) / " +
          "sqrt(CAST(vq AS DOUBLE) / 1000000.0)")
      s"""WITH per AS MATERIALIZED (
        |  SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts
        |  FROM events GROUP BY 1),
        |hor AS (SELECT max(ts) AS end_ts FROM events),
        |obs AS MATERIALIZED (
        |  SELECT user_id % 2 AS grp,
        |         (epoch_us(last_ts) - epoch_us(first_ts)) // 86400000000
        |           AS dur,
        |         (last_ts >= end_ts - INTERVAL 12 HOUR) AS censored
        |  FROM per CROSS JOIN hor),
        |durs AS MATERIALIZED (
        |  SELECT dur, grp,
        |         CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT)
        |           AS d,
        |         CAST(sum(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT)
        |           AS c
        |  FROM obs GROUP BY 1, 2),
        |grid AS (
        |  SELECT dg.dur, gg.grp, COALESCE(d, 0) AS d, COALESCE(c, 0) AS c
        |  FROM (SELECT DISTINCT dur FROM durs) dg
        |  CROSS JOIN (SELECT DISTINCT grp FROM durs) gg
        |  LEFT JOIN durs ON durs.dur = dg.dur AND durs.grp = gg.grp),
        |risk AS (
        |  SELECT dur, grp, d,
        |         CAST(sum(d + c) OVER (PARTITION BY grp
        |           ORDER BY dur NULLS FIRST
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |           AS BIGINT) AS r_g
        |  FROM grid),
        |bt AS (
        |  SELECT dur, CAST(sum(d) AS BIGINT) AS d,
        |         CAST(sum(r_g) AS BIGINT) AS r,
        |         CAST(sum(CASE WHEN grp = 0 THEN d ELSE 0 END) AS BIGINT)
        |           AS d1,
        |         CAST(sum(CASE WHEN grp = 0 THEN r_g ELSE 0 END) AS BIGINT)
        |           AS r1
        |  FROM risk GROUP BY 1),
        |s AS (
        |  SELECT CAST(sum(CAST(floor(sqrt(CAST(r AS DOUBLE)) *
        |             CAST(d1 * 1000000 -
        |               CAST(floor(($p1) * 1000000.0) AS BIGINT)
        |               AS DOUBLE)) AS BIGINT)) AS BIGINT) AS uq,
        |         sum(CAST(r AS HUGEINT) *
        |           (CASE WHEN r > 1 THEN
        |              CAST(floor(($vt) * 1000000.0) AS BIGINT)
        |            ELSE 0 END)) AS vq
        |  FROM bt),
        |na AS (SELECT CAST(count(*) AS BIGINT) AS n1 FROM obs
        |       WHERE grp = 0),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS n2 FROM obs
        |       WHERE grp <> 0)
        |SELECT n1, n2,
        |       ${Det.r4Sql("CAST(uq AS DOUBLE) / 1000000.0")} AS u,
        |       CASE WHEN vq > 0 THEN $z END AS z
        |FROM s CROSS JOIN na CROSS JOIN nb""".stripMargin
    },
    "q_surv_logrank" -> {
      val rr = "CAST(r1 AS DOUBLE) / CAST(r AS DOUBLE)"
      val p1 = s"CAST(d AS DOUBLE) * $rr"
      val vt = s"CAST(d AS DOUBLE) * ($rr) * (1.0 - $rr) * " +
        "(CAST(r AS DOUBLE) - CAST(d AS DOUBLE)) / " +
        "(CAST(r AS DOUBLE) - 1.0)"
      val z = Det.r4Sql(
        "(CAST(o1 AS DOUBLE) - CAST(e1q AS DOUBLE) / 1000000.0) / " +
          "sqrt(CAST(vq AS DOUBLE) / 1000000.0)")
      s"""WITH per AS MATERIALIZED (
        |  SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts
        |  FROM events GROUP BY 1),
        |hor AS (SELECT max(ts) AS end_ts FROM events),
        |obs AS MATERIALIZED (
        |  SELECT user_id % 2 AS grp,
        |         (epoch_us(last_ts) - epoch_us(first_ts)) // 86400000000
        |           AS dur,
        |         (last_ts >= end_ts - INTERVAL 12 HOUR) AS censored
        |  FROM per CROSS JOIN hor),
        |durs AS MATERIALIZED (
        |  SELECT dur, grp,
        |         CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT)
        |           AS d,
        |         CAST(sum(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT)
        |           AS c
        |  FROM obs GROUP BY 1, 2),
        |grid AS (
        |  SELECT dg.dur, gg.grp, COALESCE(d, 0) AS d, COALESCE(c, 0) AS c
        |  FROM (SELECT DISTINCT dur FROM durs) dg
        |  CROSS JOIN (SELECT DISTINCT grp FROM durs) gg
        |  LEFT JOIN durs ON durs.dur = dg.dur AND durs.grp = gg.grp),
        |risk AS (
        |  SELECT dur, grp, d,
        |         CAST(sum(d + c) OVER (PARTITION BY grp
        |           ORDER BY dur NULLS FIRST
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |           AS BIGINT) AS r_g
        |  FROM grid),
        |bt AS (
        |  SELECT dur, CAST(sum(d) AS BIGINT) AS d,
        |         CAST(sum(r_g) AS BIGINT) AS r,
        |         CAST(sum(CASE WHEN grp = 0 THEN d ELSE 0 END) AS BIGINT)
        |           AS d1,
        |         CAST(sum(CASE WHEN grp = 0 THEN r_g ELSE 0 END) AS BIGINT)
        |           AS r1
        |  FROM risk GROUP BY 1),
        |s AS (
        |  SELECT CAST(sum(d1) AS BIGINT) AS o1,
        |         CAST(sum(CAST(floor(($p1) * 1000000.0) AS BIGINT))
        |           AS BIGINT) AS e1q,
        |         CAST(sum(CASE WHEN r > 1 THEN
        |             CAST(floor(($vt) * 1000000.0) AS BIGINT)
        |           ELSE 0 END) AS BIGINT) AS vq
        |  FROM bt),
        |na AS (SELECT CAST(count(*) AS BIGINT) AS n1 FROM obs
        |       WHERE grp = 0),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS n2 FROM obs
        |       WHERE grp <> 0)
        |SELECT n1, n2, o1,
        |       ${Det.r4Sql("CAST(e1q AS DOUBLE) / 1000000.0")} AS e1,
        |       CASE WHEN vq > 0 THEN $z ELSE NULL END AS z
        |FROM s CROSS JOIN na CROSS JOIN nb""".stripMargin
    },
    "q_agg_tv_by_source" -> {
      val tv = Det.r4Sql("CAST(tvd AS DOUBLE) / " +
        "(2.0 * CAST(n AS DOUBLE) * CAST(m AS DOUBLE))")
      s"""WITH g AS MATERIALIZED (
        |  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c1
        |  FROM documents GROUP BY 1, 2),
        |tot AS (SELECT n_chars, CAST(sum(c1) AS BIGINT) AS ct
        |        FROM g GROUP BY 1),
        |src AS (SELECT DISTINCT source FROM g),
        |grid AS MATERIALIZED (
        |  SELECT src.source, tot.n_chars, COALESCE(g.c1, 0) AS c1,
        |         tot.ct - COALESCE(g.c1, 0) AS c2
        |  FROM src CROSS JOIN tot
        |  LEFT JOIN g ON g.source = src.source
        |    AND g.n_chars = tot.n_chars),
        |nm AS (SELECT source, CAST(sum(c1) AS BIGINT) AS n,
        |              CAST(sum(c2) AS BIGINT) AS m
        |       FROM grid GROUP BY 1),
        |s AS (SELECT grid.source, max(n) AS n, max(m) AS m,
        |             CAST(sum(abs(c1 * m - c2 * n)) AS BIGINT) AS tvd
        |      FROM grid JOIN nm ON nm.source = grid.source
        |      GROUP BY 1)
        |SELECT source, n, m, tvd AS tv_num, $tv AS tv
        |FROM s ORDER BY source NULLS FIRST""".stripMargin
    },
    "q_agg_tv_drift" -> {
      val tv = Det.r4Sql("CAST(tvd AS DOUBLE) / " +
        "(2.0 * CAST(n AS DOUBLE) * CAST(m AS DOUBLE))")
      s"""WITH tests AS MATERIALIZED (
        |  SELECT event_type AS t, value, CAST(count(*) AS BIGINT) AS c1
        |  FROM events WHERE event_type <> 'view' GROUP BY 1, 2),
        |base AS (SELECT value, CAST(count(*) AS BIGINT) AS c2
        |         FROM events WHERE event_type = 'view' GROUP BY 1),
        |ty AS (SELECT DISTINCT t FROM tests),
        |merged AS MATERIALIZED (
        |  SELECT t, value, CAST(sum(c1) AS BIGINT) AS c1,
        |         CAST(sum(c2) AS BIGINT) AS c2
        |  FROM (SELECT t, value, c1, CAST(0 AS BIGINT) AS c2 FROM tests
        |        UNION ALL
        |        SELECT ty.t, value, CAST(0 AS BIGINT), c2
        |        FROM ty CROSS JOIN base) u
        |  GROUP BY 1, 2),
        |tot AS (SELECT t, CAST(sum(c1) AS BIGINT) AS n,
        |               CAST(sum(c2) AS BIGINT) AS m
        |        FROM merged GROUP BY 1),
        |s AS (SELECT merged.t, max(n) AS n, max(m) AS m,
        |             CAST(sum(abs(c1 * m - c2 * n)) AS BIGINT) AS tvd
        |      FROM merged JOIN tot ON tot.t = merged.t
        |      GROUP BY 1)
        |SELECT t, n, m, tvd AS tv_num, $tv AS tv
        |FROM s ORDER BY t NULLS FIRST""".stripMargin
    },
    "q_agg_bowley_skew" -> {
      val bw = Det.r4Sql("(q1 + q3 - 2.0 * q2) / (q3 - q1)")
      s"""WITH g AS (
        |  SELECT o_orderpriority AS p, o_totalprice AS v,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM orders GROUP BY 1, 2),
        |r AS MATERIALIZED (
        |  SELECT p, v, CAST(sum(c) OVER (PARTITION BY p
        |    ORDER BY v NULLS FIRST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum
        |  FROM g),
        |n AS (SELECT p, CAST(sum(c) AS BIGINT) AS n FROM g GROUP BY 1),
        |qa AS (SELECT r.p, min(v) AS q1 FROM r JOIN n ON n.p = r.p
        |       WHERE cum >= (1 * n.n + 3) // 4 GROUP BY 1),
        |qb AS (SELECT r.p, min(v) AS q2 FROM r JOIN n ON n.p = r.p
        |       WHERE cum >= (2 * n.n + 3) // 4 GROUP BY 1),
        |qc AS (SELECT r.p, min(v) AS q3 FROM r JOIN n ON n.p = r.p
        |       WHERE cum >= (3 * n.n + 3) // 4 GROUP BY 1)
        |SELECT qa.p AS o_orderpriority, n.n, q1, q2, q3,
        |       CASE WHEN q3 > q1 THEN $bw ELSE NULL END AS bowley
        |FROM qa JOIN qb ON qb.p = qa.p JOIN qc ON qc.p = qa.p
        |JOIN n ON n.p = qa.p
        |ORDER BY o_orderpriority NULLS FIRST""".stripMargin
    },
    "q_agg_odds_ratio" -> {
      val orv = "CAST(a AS DOUBLE) * CAST(d AS DOUBLE) / " +
        "(CAST(b AS DOUBLE) * CAST(c AS DOUBLE))"
      val rr = "(CAST(a AS DOUBLE) / (CAST(a AS DOUBLE) + " +
        "CAST(b AS DOUBLE))) / (CAST(c AS DOUBLE) / " +
        "(CAST(c AS DOUBLE) + CAST(d AS DOUBLE)))"
      s"""WITH per AS (
        |  SELECT user_id % 2 = 0 AS exposed,
        |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |           AS conv
        |  FROM events GROUP BY user_id),
        |s AS (
        |  SELECT CAST(sum(CASE WHEN exposed AND conv = 1 THEN 1 ELSE 0
        |           END) AS BIGINT) AS a,
        |         CAST(sum(CASE WHEN exposed AND conv = 0 THEN 1 ELSE 0
        |           END) AS BIGINT) AS b,
        |         CAST(sum(CASE WHEN NOT exposed AND conv = 1 THEN 1
        |           ELSE 0 END) AS BIGINT) AS c,
        |         CAST(sum(CASE WHEN NOT exposed AND conv = 0 THEN 1
        |           ELSE 0 END) AS BIGINT) AS d
        |  FROM per)
        |SELECT a, b, c, d,
        |       CASE WHEN b > 0 AND c > 0 THEN ${Det.r4Sql(orv)}
        |       ELSE NULL END AS odds_ratio,
        |       CASE WHEN c > 0 AND a + b > 0 AND c + d >= 0
        |       THEN ${Det.r4Sql(rr)} ELSE NULL END AS rel_risk
        |FROM s""".stripMargin
    },
    "q_agg_tukey_outliers" -> {
      s"""WITH g AS MATERIALIZED (
        |  SELECT o_orderpriority AS p, o_totalprice AS v,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM orders GROUP BY 1, 2),
        |r AS MATERIALIZED (
        |  SELECT p, v, CAST(sum(c) OVER (PARTITION BY p
        |    ORDER BY v NULLS FIRST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum
        |  FROM g),
        |n AS (SELECT p, CAST(sum(c) AS BIGINT) AS n FROM g GROUP BY 1),
        |qa AS (SELECT r.p, min(v) AS q1 FROM r JOIN n ON n.p = r.p
        |       WHERE cum >= (1 * n.n + 3) // 4 GROUP BY 1),
        |qc AS (SELECT r.p, min(v) AS q3 FROM r JOIN n ON n.p = r.p
        |       WHERE cum >= (3 * n.n + 3) // 4 GROUP BY 1),
        |f AS (SELECT qa.p, q1 - 1.5 * (q3 - q1) AS lo,
        |             q3 + 1.5 * (q3 - q1) AS hi
        |      FROM qa JOIN qc ON qc.p = qa.p)
        |SELECT g.p AS o_orderpriority, n.n,
        |       ${Det.r4Sql("lo")} AS lo, ${Det.r4Sql("hi")} AS hi,
        |       CAST(sum(CASE WHEN v < lo THEN c ELSE 0 END) AS BIGINT)
        |         AS n_low,
        |       CAST(sum(CASE WHEN v > hi THEN c ELSE 0 END) AS BIGINT)
        |         AS n_high
        |FROM g JOIN f ON f.p = g.p JOIN n ON n.p = g.p
        |GROUP BY 1, 2, lo, hi
        |ORDER BY o_orderpriority NULLS FIRST""".stripMargin
    },
    "q_part_clustering_coef" ->
      s"""WITH bp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem WHERE l_partkey % 4 = 0),
        |pairs AS (SELECT DISTINCT a.pk AS pa, b.pk AS pb
        |          FROM bp a JOIN bp b ON a.ok = b.ok AND a.pk < b.pk),
        |deg AS MATERIALIZED (
        |  SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
        |    SELECT pa AS node FROM pairs
        |    UNION ALL SELECT pb FROM pairs) s GROUP BY 1),
        |tri AS (SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
        |        FROM pairs e1
        |        JOIN pairs e2 ON e1.pb = e2.pa
        |        JOIN pairs e3 ON e3.pa = e1.pa AND e3.pb = e2.pb),
        |tn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
        |        SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
        |        UNION ALL SELECT c FROM tri) x GROUP BY 1)
        |SELECT deg.node, d, COALESCE(n_tri, 0) AS n_tri,
        |       (2 * COALESCE(n_tri, 0) * 1000000000000) // (d * (d - 1))
        |         AS cq,
        |       ${Det.r4Sql("CAST((2 * COALESCE(n_tri, 0) * 1000000000000) // (d * (d - 1)) AS DOUBLE) / 1000000000000.0")} AS coef
        |FROM deg LEFT JOIN tn ON tn.node = deg.node
        |WHERE d >= 2
        |ORDER BY cq DESC NULLS LAST, deg.node NULLS FIRST
        |LIMIT 20""".stripMargin,
    "q_part_assortativity" -> {
      val vx = "(CAST(m AS DOUBLE) * sxx - sx * sx)"
      val vy = "(CAST(m AS DOUBLE) * syy - sy * sy)"
      val r = Det.r4Sql(
        s"(CAST(m AS DOUBLE) * sxy - sx * sy) / (sqrt($vx) * sqrt($vy))")
      s"""WITH bp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem WHERE l_partkey % 4 = 0),
        |pairs AS (SELECT DISTINCT a.pk AS pa, b.pk AS pb
        |          FROM bp a JOIN bp b ON a.ok = b.ok AND a.pk < b.pk),
        |sym AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pairs
        |        UNION ALL SELECT pb, pa FROM pairs),
        |deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS d
        |        FROM sym GROUP BY 1),
        |s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS m,
        |         CAST(sum(d1.d) AS DOUBLE) AS sx,
        |         CAST(sum(d2.d) AS DOUBLE) AS sy,
        |         CAST(sum(d1.d * d2.d) AS DOUBLE) AS sxy,
        |         CAST(sum(d1.d * d1.d) AS DOUBLE) AS sxx,
        |         CAST(sum(d2.d * d2.d) AS DOUBLE) AS syy
        |  FROM sym JOIN deg d1 ON d1.src = sym.src
        |  JOIN deg d2 ON d2.src = sym.dst)
        |SELECT m,
        |       CASE WHEN $vx > 0.0 AND $vy > 0.0 THEN $r
        |       ELSE NULL END AS r
        |FROM s""".stripMargin
    },
    "q_part_pref_attach" ->
      s"""WITH bp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem WHERE l_partkey % 4 = 0),
        |pairs AS (SELECT DISTINCT a.pk AS pa, b.pk AS pb
        |          FROM bp a JOIN bp b ON a.ok = b.ok AND a.pk < b.pk),
        |sym AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pairs
        |        UNION ALL SELECT pb, pa FROM pairs),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d
        |        FROM sym GROUP BY 1),
        |com AS (SELECT a.dst AS v1, b.dst AS v2,
        |               CAST(count(*) AS BIGINT) AS common_n
        |        FROM sym a JOIN sym b
        |          ON a.src = b.src AND a.dst < b.dst
        |        GROUP BY 1, 2)
        |SELECT v1, v2, common_n, d1.d * d2.d AS pa_q
        |FROM com JOIN deg d1 ON com.v1 = d1.src
        |JOIN deg d2 ON com.v2 = d2.src
        |ORDER BY pa_q DESC NULLS LAST, v1 NULLS FIRST, v2 NULLS FIRST
        |LIMIT 15""".stripMargin,
    "q_agg_spearman" -> {
      val rho = Det.r4Sql(
        "(CAST(n AS DOUBLE) * sxy - sx * sy) / " +
          "(sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) * " +
          "sqrt(CAST(n AS DOUBLE) * syy - sy * sy))")
      s"""WITH li AS MATERIALIZED (
        |  SELECT l_linestatus AS g, l_quantity AS x, l_extendedprice AS y
        |  FROM lineitem),
        |xr AS MATERIALIZED (
        |  SELECT g, v, 2 * COALESCE(CAST(sum(c) OVER (PARTITION BY g
        |      ORDER BY v NULLS FIRST
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) + c + 1 AS rx2
        |  FROM (SELECT g, x AS v, CAST(count(*) AS BIGINT) AS c
        |        FROM li GROUP BY 1, 2) t),
        |yr AS MATERIALIZED (
        |  SELECT g, v, 2 * COALESCE(CAST(sum(c) OVER (PARTITION BY g
        |      ORDER BY v NULLS FIRST
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) + c + 1 AS ry2
        |  FROM (SELECT g, y AS v, CAST(count(*) AS BIGINT) AS c
        |        FROM li GROUP BY 1, 2) t),
        |cells AS (SELECT g, x, y, CAST(count(*) AS BIGINT) AS c
        |          FROM li GROUP BY 1, 2, 3),
        |s AS (
        |  SELECT cells.g, CAST(sum(c) AS BIGINT) AS n,
        |         CAST(sum(c * rx2 * ry2) AS DOUBLE) AS sxy,
        |         CAST(sum(c * rx2) AS DOUBLE) AS sx,
        |         CAST(sum(c * ry2) AS DOUBLE) AS sy,
        |         CAST(sum(c * rx2 * rx2) AS DOUBLE) AS sxx,
        |         CAST(sum(c * ry2 * ry2) AS DOUBLE) AS syy
        |  FROM cells
        |  JOIN xr ON xr.g = cells.g AND xr.v = cells.x
        |  JOIN yr ON yr.g = cells.g AND yr.v = cells.y
        |  GROUP BY 1)
        |SELECT g AS l_linestatus, n, $rho AS rho
        |FROM s ORDER BY l_linestatus NULLS FIRST""".stripMargin
    },
    "q_agg_gini_impurity" -> {
      val imp = Det.r4Sql(
        "(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(ssq AS DOUBLE)) " +
          "/ (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))")
      s"""WITH c AS (
        |  SELECT date_trunc('day', ts) AS d, event_type,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |g AS (
        |  SELECT d, CAST(count(*) AS BIGINT) AS n_types,
        |         CAST(sum(c) AS BIGINT) AS n,
        |         CAST(sum(c * c) AS BIGINT) AS ssq
        |  FROM c GROUP BY 1)
        |SELECT d, n_types, n, $imp AS impurity
        |FROM g ORDER BY d NULLS FIRST""".stripMargin
    },
    "q_window_ntile" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
        |           AS DECIMAL(38,4)) AS rev_dec
        |  FROM orders GROUP BY 1),
        |q AS (
        |  SELECT rev_dec,
        |         CAST(ntile(4) OVER (ORDER BY rev_dec DESC NULLS LAST,
        |           o_custkey NULLS FIRST) AS BIGINT) AS quartile
        |  FROM rev)
        |SELECT quartile, CAST(count(*) AS BIGINT) AS n_customers,
        |       CAST(sum(rev_dec) AS DOUBLE) AS revenue
        |FROM q GROUP BY 1
        |ORDER BY quartile NULLS FIRST""".stripMargin,
    // same two-phase twin as q_part_jaccard_capped: capped lowest-id
    // lists generate candidates, FULL adjacency re-derives the exact
    // quantized RA sum for the candidates only
    "q_part_resource_alloc_capped" ->
      s"""WITH bp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem WHERE l_partkey % 4 = 0),
        |pairs AS (SELECT DISTINCT a.pk AS pa, b.pk AS pb
        |          FROM bp a JOIN bp b ON a.ok = b.ok AND a.pk < b.pk),
        |sym AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pairs
        |        UNION ALL SELECT pb, pa FROM pairs),
        |nc AS MATERIALIZED (SELECT src, dst FROM (
        |        SELECT src, dst, row_number() OVER (PARTITION BY src
        |          ORDER BY dst NULLS FIRST) AS rk FROM sym) t
        |        WHERE rk <= 64),
        |cands AS (SELECT DISTINCT a.dst AS v1, b.dst AS v2
        |          FROM nc a JOIN nc b ON a.src = b.src AND a.dst < b.dst),
        |deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS dw
        |        FROM sym GROUP BY 1),
        |com AS (SELECT c.v1, c.v2, CAST(count(*) AS BIGINT) AS common_n,
        |               CAST(sum(1000000000000 // d.dw) AS BIGINT) AS ra_q
        |        FROM cands c JOIN sym s1 ON s1.src = c.v1
        |        JOIN sym s2 ON s2.src = c.v2 AND s2.dst = s1.dst
        |        JOIN deg d ON d.src = s1.dst
        |        GROUP BY 1, 2)
        |SELECT v1, v2, common_n, ra_q,
        |       ${Det.r4Sql("CAST(ra_q AS DOUBLE) / 1000000000000.0")} AS ra
        |FROM com
        |ORDER BY ra_q DESC NULLS LAST, v1 NULLS FIRST, v2 NULLS FIRST
        |LIMIT 15""".stripMargin,
    // the capped twin's oracle mirrors both phases: capped lowest-id
    // neighbor lists (row_number <= cap) for candidate generation, then
    // exact common counts from FULL adjacency for the candidates only
    "q_part_jaccard_capped" ->
      s"""WITH bp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem WHERE l_partkey % 4 = 0),
        |pairs AS (SELECT DISTINCT a.pk AS pa, b.pk AS pb
        |          FROM bp a JOIN bp b ON a.ok = b.ok AND a.pk < b.pk),
        |sym AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pairs
        |        UNION ALL SELECT pb, pa FROM pairs),
        |nc AS MATERIALIZED (SELECT src, dst FROM (
        |        SELECT src, dst, row_number() OVER (PARTITION BY src
        |          ORDER BY dst NULLS FIRST) AS rk FROM sym) t
        |        WHERE rk <= 64),
        |cands AS (SELECT DISTINCT a.dst AS v1, b.dst AS v2
        |          FROM nc a JOIN nc b ON a.src = b.src AND a.dst < b.dst),
        |deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS d
        |        FROM sym GROUP BY 1),
        |com AS (SELECT c.v1, c.v2, CAST(count(*) AS BIGINT) AS common_n
        |        FROM cands c JOIN sym s1 ON s1.src = c.v1
        |        JOIN sym s2 ON s2.src = c.v2 AND s2.dst = s1.dst
        |        GROUP BY 1, 2)
        |SELECT v1, v2, common_n,
        |       d1.d + d2.d - common_n AS union_n,
        |       (common_n * 1000000000000) // (d1.d + d2.d - common_n)
        |         AS jq,
        |       ${Det.r4Sql("CAST(common_n AS DOUBLE) / CAST(d1.d + d2.d - common_n AS DOUBLE)")} AS jaccard
        |FROM com JOIN deg d1 ON com.v1 = d1.src
        |JOIN deg d2 ON com.v2 = d2.src
        |ORDER BY jq DESC NULLS LAST, v1 NULLS FIRST, v2 NULLS FIRST
        |LIMIT 15""".stripMargin,
    // the PA twin's oracle mirrors the same two phases as jaccard/RA:
    // capped lowest-id lists generate candidates, FULL adjacency
    // re-derives exact commons, the degree table supplies d1*d2
    "q_part_pref_attach_capped" ->
      s"""WITH bp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem WHERE l_partkey % 4 = 0),
        |pairs AS (SELECT DISTINCT a.pk AS pa, b.pk AS pb
        |          FROM bp a JOIN bp b ON a.ok = b.ok AND a.pk < b.pk),
        |sym AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pairs
        |        UNION ALL SELECT pb, pa FROM pairs),
        |nc AS MATERIALIZED (SELECT src, dst FROM (
        |        SELECT src, dst, row_number() OVER (PARTITION BY src
        |          ORDER BY dst NULLS FIRST) AS rk FROM sym) t
        |        WHERE rk <= 64),
        |cands AS (SELECT DISTINCT a.dst AS v1, b.dst AS v2
        |          FROM nc a JOIN nc b ON a.src = b.src AND a.dst < b.dst),
        |deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS d
        |        FROM sym GROUP BY 1),
        |com AS (SELECT c.v1, c.v2, CAST(count(*) AS BIGINT) AS common_n
        |        FROM cands c JOIN sym s1 ON s1.src = c.v1
        |        JOIN sym s2 ON s2.src = c.v2 AND s2.dst = s1.dst
        |        GROUP BY 1, 2)
        |SELECT v1, v2, common_n, d1.d * d2.d AS pa_q
        |FROM com JOIN deg d1 ON com.v1 = d1.src
        |JOIN deg d2 ON com.v2 = d2.src
        |ORDER BY pa_q DESC NULLS LAST, v1 NULLS FIRST, v2 NULLS FIRST
        |LIMIT 15""".stripMargin,
    // the twin enumerates via the plain ordered 3-way join; the Spark
    // side's degree-oriented wedge join finds the SAME triangle multiset
    "q_part_triangles" ->
      """WITH bp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem WHERE l_partkey % 4 = 0),
        |pairs AS (SELECT DISTINCT a.pk AS pa, b.pk AS pb
        |          FROM bp a JOIN bp b ON a.ok = b.ok AND a.pk < b.pk),
        |tri AS (SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
        |        FROM pairs e1
        |        JOIN pairs e2 ON e1.pb = e2.pa
        |        JOIN pairs e3 ON e3.pa = e1.pa AND e3.pb = e2.pb),
        |nodes AS (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
        |          UNION ALL SELECT c FROM tri)
        |SELECT node, CAST(count(*) AS BIGINT) AS n_tri
        |FROM nodes GROUP BY 1
        |ORDER BY n_tri DESC NULLS LAST, node NULLS FIRST
        |LIMIT 20""".stripMargin,
    "q_dq_report" -> {
      def r4rate = graft.util.Det.r4Sql(
        "CAST(n_violations AS DOUBLE) / n_checked")
      s"""WITH pk AS (
        |  SELECT 'orders_pk_unique' AS check_name,
        |    CAST(coalesce(sum(CASE WHEN n > 1 THEN n ELSE 0 END), 0)
        |      AS BIGINT) AS n_violations,
        |    CAST(sum(n) AS BIGINT) AS n_checked
        |  FROM (SELECT o_orderkey, count(*) AS n FROM orders GROUP BY 1)),
        |fli AS (
        |  SELECT 'lineitem_order_fk' AS check_name,
        |    CAST(sum(CASE WHEN ok.o_orderkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_violations,
        |    CAST(count(*) AS BIGINT) AS n_checked
        |  FROM lineitem l
        |  LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) ok
        |    ON l.l_orderkey = ok.o_orderkey),
        |fo AS (
        |  SELECT 'orders_customer_fk' AS check_name,
        |    CAST(sum(CASE WHEN ck.c_custkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_violations,
        |    CAST(count(*) AS BIGINT) AS n_checked
        |  FROM orders o
        |  LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) ck
        |    ON o.o_custkey = ck.c_custkey),
        |pr AS (
        |  SELECT 'lineitem_price_positive' AS check_name,
        |    CAST(sum(CASE WHEN l_extendedprice <= 0.0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_violations,
        |    CAST(count(*) AS BIGINT) AS n_checked
        |  FROM lineitem),
        |sg AS (
        |  SELECT 'customer_segment_present' AS check_name,
        |    CAST(sum(CASE WHEN c_mktsegment IS NULL OR c_mktsegment = ''
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
        |    CAST(count(*) AS BIGINT) AS n_checked
        |  FROM customer),
        |u AS (SELECT * FROM pk UNION ALL SELECT * FROM fli
        |      UNION ALL SELECT * FROM fo UNION ALL SELECT * FROM pr
        |      UNION ALL SELECT * FROM sg)
        |SELECT check_name, n_violations, n_checked,
        |       $r4rate AS viol_rate
        |FROM u ORDER BY check_name NULLS FIRST""".stripMargin
    },
    "q_repeat_purchase" ->
      s"""WITH p AS (
        |  SELECT user_id, event_id, ts,
        |         lag(ts) OVER (PARTITION BY user_id
        |                       ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS prev_ts
        |  FROM events WHERE event_type = 'purchase'),
        |g AS (
        |  SELECT user_id, event_id,
        |         (epoch_us(ts) - epoch_us(prev_ts)) // 86400000000 AS gap_days
        |  FROM p WHERE prev_ts IS NOT NULL),
        |rk AS (
        |  SELECT gap_days,
        |    row_number() OVER (ORDER BY gap_days NULLS FIRST,
        |                       user_id NULLS FIRST, event_id NULLS FIRST) AS rk,
        |    CAST(count(*) OVER () AS BIGINT) AS nc
        |  FROM g)
        |SELECT max(nc) AS n_gaps,
        |       ${graft.util.Det.r4Sql(
                  "CAST(CAST(sum(gap_days) AS BIGINT) AS DOUBLE) / count(*)")} AS avg_gap_days,
        |       max(CASE WHEN rk = (nc + 1) // 2 THEN gap_days END) AS p50_gap_days,
        |       max(CASE WHEN rk = (9 * nc + 9) // 10 THEN gap_days END) AS p90_gap_days
        |FROM rk""".stripMargin,
    "q_rfm_segments" ->
      s"""WITH per AS (
        |  SELECT o_custkey, count(*) AS freq,
        |         sum(CAST(o_totalprice AS DECIMAL(18,4))) AS mon_d,
        |         max(o_orderdate) AS last_d
        |  FROM orders GROUP BY 1),
        |a AS (SELECT max(o_orderdate) AS anchor FROM orders),
        |r AS (
        |  SELECT o_custkey, freq, mon_d,
        |         (epoch_us(anchor) - epoch_us(last_d)) // 86400000000 AS rec_days
        |  FROM per CROSS JOIN a),
        |rk AS (
        |  SELECT mon_d,
        |    row_number() OVER (ORDER BY rec_days NULLS FIRST, o_custkey NULLS FIRST) AS rr,
        |    row_number() OVER (ORDER BY freq DESC, o_custkey NULLS FIRST) AS rf,
        |    row_number() OVER (ORDER BY mon_d DESC, o_custkey NULLS FIRST) AS rm,
        |    CAST(count(*) OVER () AS BIGINT) AS n
        |  FROM r)
        |SELECT ((rr - 1) * 4) // n + 1 AS r_q,
        |       ((rf - 1) * 4) // n + 1 AS f_q,
        |       ((rm - 1) * 4) // n + 1 AS m_q,
        |       CAST(count(*) AS BIGINT) AS n_customers,
        |       ${graft.util.Det.davg4Sql("mon_d")} AS avg_monetary
        |FROM rk GROUP BY 1, 2, 3
        |ORDER BY r_q NULLS FIRST, f_q NULLS FIRST, m_q NULLS FIRST""".stripMargin,
    "q_pareto_abc" ->
      s"""WITH rev AS (
        |  SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS rev_d
        |  FROM lineitem GROUP BY 1),
        |c AS (
        |  SELECT rev_d,
        |         sum(rev_d) OVER (ORDER BY rev_d DESC, l_partkey NULLS FIRST) AS cum_d,
        |         sum(rev_d) OVER () AS tot_d
        |  FROM rev),
        |cl AS (
        |  SELECT rev_d, tot_d,
        |         CASE WHEN cum_d * 5 <= tot_d * 4 THEN 'A'
        |              WHEN cum_d * 20 <= tot_d * 19 THEN 'B'
        |              ELSE 'C' END AS cls
        |  FROM c)
        |SELECT cls, CAST(count(*) AS BIGINT) AS n_parts,
        |       CAST(sum(rev_d) AS DOUBLE) AS class_rev,
        |       ${graft.util.Det.r4Sql(
                  "CAST(sum(rev_d) AS DOUBLE) / CAST(max(tot_d) AS DOUBLE)")} AS rev_share
        |FROM cl GROUP BY 1 ORDER BY cls NULLS FIRST""".stripMargin,
    "q_revenue_gini" ->
      s"""WITH cust AS (
        |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev_d
        |  FROM orders GROUP BY 1),
        |rk AS (
        |  SELECT rev_d,
        |    row_number() OVER (ORDER BY rev_d NULLS FIRST, o_custkey NULLS FIRST) AS i
        |  FROM cust),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_customers,
        |             sum(rev_d) AS s0_d,
        |             sum(CAST(i AS DECIMAL(18,0)) * rev_d) AS s1_d
        |      FROM rk)
        |SELECT n_customers, CAST(s0_d AS DOUBLE) AS total_rev,
        |       ${graft.util.Det.r4Sql(
                  "(2.0 * CAST(s1_d AS DOUBLE) - (n_customers + 1) * CAST(s0_d AS DOUBLE))" +
                  " / (n_customers * CAST(s0_d AS DOUBLE))")} AS gini
        |FROM s""".stripMargin,
    "q_revenue_hoover" ->
      s"""WITH cust AS (
        |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev_d
        |  FROM orders GROUP BY 1),
        |q AS MATERIALIZED (
        |  SELECT CAST(floor(rev_d) AS BIGINT) AS q FROM cust),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(q) AS BIGINT) AS x FROM q),
        |h AS (SELECT n, x, CAST(sum(abs(n * q - x)) AS BIGINT) AS h_num
        |      FROM q CROSS JOIN t GROUP BY 1, 2)
        |SELECT n AS n_customers, x AS total_units, h_num,
        |       ${graft.util.Det.r4Sql(
                  "CAST(h_num AS DOUBLE) / (2.0 * CAST(n AS DOUBLE) * CAST(x AS DOUBLE))")} AS hoover
        |FROM h""".stripMargin,
    "q_basket_lift" ->
      s"""WITH bp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM bp),
        |supp AS (SELECT pk, CAST(count(*) AS BIGINT) AS c FROM bp GROUP BY 1),
        |pairs AS (
        |  SELECT a.pk AS pa, b.pk AS pb, CAST(count(*) AS BIGINT) AS c_ab
        |  FROM bp a JOIN bp b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2)
        |SELECT pa, pb, c_ab, sa.c AS c_a, sb.c AS c_b,
        |       ${graft.util.Det.r4Sql(
                  "CAST(c_ab AS DOUBLE) * CAST(n_orders AS DOUBLE) / (CAST(sa.c AS DOUBLE) * CAST(sb.c AS DOUBLE))")} AS lift
        |FROM pairs JOIN supp sa ON pa = sa.pk JOIN supp sb ON pb = sb.pk
        |CROSS JOIN n
        |ORDER BY c_ab DESC, pa NULLS FIRST, pb NULLS FIRST
        |LIMIT 15""".stripMargin,
    "q_join_interval" ->
      s"""WITH w AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
        |                   TIMESTAMP '2024-01-29', INTERVAL '7 days')) AS w_start)
        |SELECT w_start, count(event_id) AS n,
        |       coalesce(${dsum4Sql("value")}, 0.0) AS v
        |FROM w LEFT JOIN events e
        |  ON e.ts >= w.w_start AND e.ts < w.w_start + INTERVAL '7 days'
        |GROUP BY w_start
        |ORDER BY w_start NULLS FIRST""".stripMargin,
    "q_agg_rollup_sets" ->
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       ${dsum4Sql("l_quantity")} AS qty, ${dsum4Sql("l_extendedprice")} AS rev
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_agg_cube" ->
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       ${dsum4Sql("l_quantity")} AS qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_unpivot_events" -> {
      def s(t: String) =
        s"""SELECT user_id, '$t' AS event_type,
           |  coalesce(CAST(sum(CAST(value AS DECIMAL(18,4))) FILTER (WHERE event_type = '$t') AS DOUBLE), 0.0) AS v
           |FROM events GROUP BY user_id""".stripMargin
      Seq("click", "error", "purchase", "signup", "view").map(s)
        .mkString("", "\nUNION ALL\n",
          "\nORDER BY user_id NULLS FIRST, event_type NULLS FIRST")
    },
    "q_window_pctrank" -> {
      s"""SELECT o_orderkey, o_orderpriority, o_totalprice,
        |       ${r4Sql("percent_rank() OVER w")} AS pr,
        |       ${r4Sql("cume_dist() OVER w")} AS cd,
        |       ntile(4) OVER w AS nt
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderpriority NULLS FIRST, o_totalprice NULLS FIRST,
        |         o_orderkey NULLS FIRST""".stripMargin
    },
    "q_agg_mode" ->
      """WITH c AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        |r AS (
        |  SELECT l_returnflag, qty, cnt,
        |         row_number() OVER (PARTITION BY l_returnflag
        |           ORDER BY cnt DESC, qty NULLS FIRST) AS rn,
        |         CAST(count(*) OVER (PARTITION BY l_returnflag)
        |           AS BIGINT) AS n_values
        |  FROM c)
        |SELECT l_returnflag, qty AS mode_qty, cnt AS mode_count, n_values
        |FROM r WHERE rn = 1
        |ORDER BY l_returnflag NULLS FIRST""".stripMargin,
    "q_agg_benford" -> {
      val cases = benfordExpected.map { case (d, p) =>
        f"WHEN $d THEN CAST($p%.4f AS DOUBLE)" }.mkString(" ")
      val share = Det.r4Sql("CAST(n AS DOUBLE) / total")
      s"""WITH d AS (
        |  SELECT CAST(substring(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM lineitem),
        |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM d)
        |SELECT digit, n,
        |       $share AS share,
        |       CASE digit $cases END AS expected,
        |       ${Det.r4Sql(s"abs($share - (CASE digit $cases END))")} AS dev
        |FROM g CROSS JOIN t
        |ORDER BY digit NULLS FIRST""".stripMargin
    },
    "q_agg_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS nd_part,
        |       count(DISTINCT l_suppkey) AS nd_supp, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag NULLS FIRST""".stripMargin,
    "q_agg_stats" -> {
      val n = "CAST(count(*) AS DOUBLE)"
      val s1 = "CAST(sum(CAST(l_discount AS DECIMAL(18,8))) AS DOUBLE)"
      val s2 = "CAST(sum(CAST(l_discount * l_discount AS DECIMAL(18,8))) AS DOUBLE)"
      s"""SELECT l_linestatus, count(*) AS n,
        |       ${davg4Sql("l_extendedprice")} AS avg_price,
        |       ${r4Sql(s"sqrt(($s2 - ($s1 * $s1) / $n) / ($n - 1.0))")} AS sd_disc
        |FROM lineitem GROUP BY l_linestatus
        |ORDER BY l_linestatus NULLS FIRST""".stripMargin
    },
    "q_agg_corr" -> {
      val n = "CAST(count(*) AS DOUBLE)"
      def s(e: String) = s"CAST(sum(CAST($e AS DECIMAL(18,4))) AS DOUBLE)"
      val sx = s("l_quantity"); val sy = s("l_extendedprice")
      val sxy = s("l_quantity * l_extendedprice")
      val sxx = s("l_quantity * l_quantity")
      val syy = s("l_extendedprice * l_extendedprice")
      s"""SELECT l_linestatus, count(*) AS n,
        |       ${r4Sql(s"($n * $sxy - $sx * $sy) / (sqrt($n * $sxx - $sx * $sx) * sqrt($n * $syy - $sy * $sy))")} AS corr_qp
        |FROM lineitem GROUP BY l_linestatus
        |ORDER BY l_linestatus NULLS FIRST""".stripMargin
    },
    "q_surv_km" ->
      s"""WITH RECURSIVE per AS MATERIALIZED (
        |  SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts
        |  FROM events GROUP BY 1),
        |hor AS (SELECT max(ts) AS end_ts FROM events),
        |obs AS MATERIALIZED (
        |  SELECT (epoch_us(last_ts) - epoch_us(first_ts)) // 86400000000
        |           AS dur,
        |         (last_ts >= end_ts - INTERVAL 12 HOUR) AS censored
        |  FROM per CROSS JOIN hor),
        |durs AS MATERIALIZED (
        |  SELECT dur,
        |         CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT)
        |           AS d,
        |         CAST(sum(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT)
        |           AS c
        |  FROM obs GROUP BY 1),
        |risk AS MATERIALIZED (
        |  SELECT dur, d, c,
        |         CAST(sum(d + c) OVER (ORDER BY dur NULLS FIRST
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |           AS BIGINT) AS r,
        |         CAST(row_number() OVER (ORDER BY dur NULLS FIRST)
        |           AS BIGINT) AS rn
        |  FROM durs),
        |rec AS (
        |  SELECT CAST(0 AS BIGINT) AS rn, CAST(1.0 AS DOUBLE) AS s
        |  UNION ALL
        |  SELECT rec.rn + 1,
        |         rec.s * (1.0 - CAST(x.d AS DOUBLE) / CAST(x.r AS DOUBLE))
        |  FROM rec JOIN risk x ON x.rn = rec.rn + 1)
        |SELECT x.dur AS dur_days, x.r AS n_risk, x.d AS n_event,
        |       x.c AS n_censor, ${r4Sql("rec.s")} AS surv
        |FROM rec JOIN risk x ON x.rn = rec.rn
        |ORDER BY dur_days NULLS FIRST""".stripMargin,
    "q_surv_na" ->
      s"""WITH RECURSIVE per AS MATERIALIZED (
        |  SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts
        |  FROM events GROUP BY 1),
        |hor AS (SELECT max(ts) AS end_ts FROM events),
        |obs AS MATERIALIZED (
        |  SELECT (epoch_us(last_ts) - epoch_us(first_ts)) // 86400000000
        |           AS dur,
        |         (last_ts >= end_ts - INTERVAL 12 HOUR) AS censored
        |  FROM per CROSS JOIN hor),
        |durs AS MATERIALIZED (
        |  SELECT dur,
        |         CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT)
        |           AS d,
        |         CAST(sum(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT)
        |           AS c
        |  FROM obs GROUP BY 1),
        |risk AS MATERIALIZED (
        |  SELECT dur, d, c,
        |         CAST(sum(d + c) OVER (ORDER BY dur NULLS FIRST
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |           AS BIGINT) AS r,
        |         CAST(row_number() OVER (ORDER BY dur NULLS FIRST)
        |           AS BIGINT) AS rn
        |  FROM durs),
        |rec AS (
        |  SELECT CAST(0 AS BIGINT) AS rn, CAST(0.0 AS DOUBLE) AS s
        |  UNION ALL
        |  SELECT rec.rn + 1,
        |         rec.s + CAST(x.d AS DOUBLE) / CAST(x.r AS DOUBLE)
        |  FROM rec JOIN risk x ON x.rn = rec.rn + 1)
        |SELECT x.dur AS dur_days, x.r AS n_risk, x.d AS n_event,
        |       x.c AS n_censor, ${r4Sql("rec.s")} AS cumhaz
        |FROM rec JOIN risk x ON x.rn = rec.rn
        |ORDER BY dur_days NULLS FIRST""".stripMargin,
    "q_agg_skewkurt" -> {
      // raw moment sums exact (DECIMAL powers of the 100-scaled
      // quantity), then the identical IEEE central-moment text —
      // left-associative in both engines, no pow() (libm)
      val m1 = "(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
      val r2m = "(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))"
      val r3m = "(CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))"
      val r4m = "(CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE))"
      val m2 = s"($r2m - $m1 * $m1)"
      val m3 = s"($r3m - 3.0 * $m1 * $r2m + 2.0 * $m1 * $m1 * $m1)"
      val m4 = s"($r4m - 4.0 * $m1 * $r3m + 6.0 * $m1 * $m1 * $r2m" +
        s" - 3.0 * $m1 * $m1 * $m1 * $m1)"
      s"""WITH b AS (
        |  SELECT l_linestatus,
        |         CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS q
        |  FROM lineitem),
        |s AS (
        |  SELECT l_linestatus, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(q) AS BIGINT) AS s1,
        |         sum(CAST(q AS DECIMAL(7,0)) * CAST(q AS DECIMAL(7,0)))
        |           AS s2,
        |         sum(CAST(q AS DECIMAL(7,0)) * CAST(q AS DECIMAL(7,0))
        |           * CAST(q AS DECIMAL(7,0))) AS s3,
        |         sum(CAST(q AS DECIMAL(7,0)) * CAST(q AS DECIMAL(7,0))
        |           * CAST(q AS DECIMAL(7,0)) * CAST(q AS DECIMAL(7,0)))
        |           AS s4
        |  FROM b GROUP BY 1)
        |SELECT l_linestatus, n,
        |       ${r4Sql(s"$m1 / 100.0")} AS mean_qty,
        |       ${r4Sql(s"sqrt($m2) / 100.0")} AS sd_qty,
        |       ${r4Sql(s"$m3 / ($m2 * sqrt($m2))")} AS skew,
        |       ${r4Sql(s"$m4 / ($m2 * $m2) - 3.0")} AS kurt_excess
        |FROM s
        |ORDER BY l_linestatus NULLS FIRST""".stripMargin
    },
    "q_agg_percentile" ->
      s"""SELECT l_returnflag, count(*) AS n,
        |       ${r4Sql("quantile_cont(l_quantity, 0.5)")} AS p50_qty,
        |       ${r4Sql("quantile_cont(l_quantity, 0.9)")} AS p90_qty
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag NULLS FIRST""".stripMargin,
    "q_rel_skew_report" -> {
      def branch(k: String): String = {
        val top = Det.r4Sql("CAST(max_freq AS DOUBLE) / CAST(n_rows AS DOUBLE)")
        val ratio = Det.r4Sql(
          "CAST(max_freq AS DOUBLE) * CAST(n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE)")
        s"""SELECT '$k' AS join_key, n_rows, n_keys, max_freq,
          |       $top AS top_share,
          |       $ratio AS skew_ratio
          |FROM (SELECT CAST(sum(c) AS BIGINT) AS n_rows,
          |             CAST(count(*) AS BIGINT) AS n_keys,
          |             CAST(max(c) AS BIGINT) AS max_freq
          |      FROM (SELECT $k, CAST(count(*) AS BIGINT) AS c
          |            FROM lineitem GROUP BY 1))""".stripMargin
      }
      s"""${branch("l_orderkey")}
        |UNION ALL
        |${branch("l_partkey")}
        |UNION ALL
        |${branch("l_suppkey")}
        |ORDER BY join_key NULLS FIRST""".stripMargin
    },
    "q_agg_mannwhitney" -> {
      val z = "CAST(u1x2 - n1 * n2 AS DOUBLE) / " +
        "sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * " +
        "CAST(n1 + n2 + 1 AS DOUBLE) / 3.0)"
      s"""WITH bv AS (
        |  SELECT value,
        |         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |           AS BIGINT) AS c1,
        |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |           AS BIGINT) AS c2
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1),
        |rk AS (
        |  SELECT c1, c2,
        |         COALESCE(CAST(sum(c1 + c2) OVER (ORDER BY value NULLS FIRST
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS BIGINT), 0) AS cum
        |  FROM bv),
        |r2t AS (SELECT c1, c2, 2 * (cum + 1) + c1 + c2 - 1 AS r2 FROM rk),
        |agg AS (
        |  SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |         CAST(sum(c2) AS BIGINT) AS n2,
        |         CAST(sum(c1 * r2) AS BIGINT) AS r1x2
        |  FROM r2t),
        |u AS (SELECT n1, n2, r1x2 - n1 * (n1 + 1) AS u1x2 FROM agg)
        |SELECT n1, n2, u1x2,
        |       ${r4Sql(z)} AS z
        |FROM u""".stripMargin
    },
    "q_window_rank" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |       rank() OVER w AS rnk, dense_rank() OVER w AS drnk
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC)
        |ORDER BY o_orderpriority NULLS FIRST, o_totalprice DESC NULLS LAST,
        |         o_orderkey NULLS FIRST""".stripMargin,
    "q_window_running" ->
      """WITH d AS (
        |  SELECT date_trunc('day', o_orderdate) AS day,
        |         sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev_dec
        |  FROM orders GROUP BY 1)
        |SELECT day, CAST(rev_dec AS DOUBLE) AS rev,
        |       CAST(sum(rev_dec) OVER (ORDER BY day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run,
        |       CAST(lag(rev_dec, 1) OVER (ORDER BY day) AS DOUBLE) AS prev
        |FROM d ORDER BY day NULLS FIRST""".stripMargin,
    "q_window_moving" -> {
      val mov = r4Sql(
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE) / count(*) OVER w")
      s"""SELECT o_orderpriority, o_orderdate, o_orderkey, o_totalprice,
        |       $mov AS mov
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderpriority NULLS FIRST, o_orderdate NULLS FIRST,
        |         o_orderkey NULLS FIRST""".stripMargin
    },
    "q_topk_group" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |           ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3
        |ORDER BY o_orderpriority NULLS FIRST, rn NULLS FIRST""".stripMargin,
    "q_sort_limit" ->
      """SELECT o_orderkey, o_totalprice, o_orderdate, o_orderpriority
        |FROM orders
        |ORDER BY o_totalprice DESC NULLS LAST, o_orderdate NULLS FIRST,
        |         o_orderkey NULLS FIRST LIMIT 50""".stripMargin,
    "q_set_union" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION
        |SELECT s_nationkey FROM supplier
        |ORDER BY nationkey NULLS FIRST""".stripMargin,
    "q_set_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey FROM supplier
        |ORDER BY nationkey NULLS FIRST""".stripMargin,
    "q_set_except" ->
      """SELECT l_partkey AS partkey FROM lineitem
        |EXCEPT
        |SELECT p_partkey FROM part WHERE p_size > 10
        |ORDER BY partkey NULLS FIRST""".stripMargin,
    "q_set_except_all" ->
      """SELECT l_partkey AS partkey FROM lineitem
        |EXCEPT ALL
        |SELECT p_partkey FROM part WHERE p_size > 10
        |ORDER BY partkey NULLS FIRST""".stripMargin,
    "q_set_intersect_all" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT ALL
        |SELECT s_nationkey FROM supplier
        |ORDER BY nationkey NULLS FIRST""".stripMargin,
    "q_str_funcs" ->
      """SELECT p_partkey, lower(p_name) AS lname, upper(p_brand) AS ubrand,
        |       substring(p_type, 1, 5) AS type5,
        |       CAST(length(p_name) AS BIGINT) AS name_len,
        |       replace(p_name, ' ', '_') AS snake,
        |       concat(p_brand, ':', p_type) AS brand_type,
        |       (p_name LIKE '%a%') AS has_a
        |FROM part ORDER BY p_partkey NULLS FIRST""".stripMargin,
    "q_date_funcs" ->
      """SELECT o_orderkey, CAST(year(o_orderdate) AS BIGINT) AS y,
        |       CAST(month(o_orderdate) AS BIGINT) AS m,
        |       CAST(day(o_orderdate) AS BIGINT) AS d,
        |       date_trunc('month', o_orderdate) AS mon,
        |       date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since
        |FROM orders ORDER BY o_orderkey NULLS FIRST""".stripMargin,
    "q_math_funcs" ->
      s"""SELECT l_orderkey, l_linenumber, abs(l_quantity - 25.0) AS a,
        |       CAST(ceil(l_extendedprice) AS BIGINT) AS c,
        |       CAST(floor(l_extendedprice) AS BIGINT) AS f,
        |       ${r4Sql("l_extendedprice / 7.0")} AS r,
        |       ${r4Sql("sqrt(l_extendedprice)")} AS sq,
        |       ${r4Sql("ln(l_extendedprice)")} AS lg,
        |       ${r4Sql("exp(l_discount)")} AS ex,
        |       ((l_orderkey % 7) + 7) % 7 AS pm
        |FROM lineitem
        |ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST""".stripMargin,
    "q_json_funcs" ->
      s"""SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(json_extract(props, '$$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       max(CAST(json_extract(props, '$$.k') AS BIGINT)) AS max_k,
        |       ${r4Sql("CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS DOUBLE) / count(*)")} AS avg_k
        |FROM events GROUP BY event_type
        |ORDER BY event_type NULLS FIRST""".stripMargin,
    "q_pivot_events" -> {
      def s(t: String) =
        s"coalesce(CAST(sum(CAST(value AS DECIMAL(18,4))) FILTER (WHERE event_type = '$t') AS DOUBLE), 0.0) AS $t"
      s"""SELECT user_id, ${s("click")}, ${s("error")}, ${s("purchase")},
        |       ${s("signup")}, ${s("view")}
        |FROM events GROUP BY user_id
        |ORDER BY user_id NULLS FIRST""".stripMargin
    },
    "q_scalar_subquery" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice FROM (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice,
        |         sum(CAST(o_totalprice AS DECIMAL(18,4)))
        |           OVER (PARTITION BY o_orderpriority) AS s,
        |         count(*) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM orders) t
        |WHERE CAST(o_totalprice AS DECIMAL(18,4)) * n > s
        |ORDER BY o_orderkey NULLS FIRST""".stripMargin,
    "q_array_funcs" ->
      s"""SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
        |       ${r4Sql("CAST(embedding[1] AS DOUBLE)")} AS first,
        |       ${r4Sql("CAST(embedding[-1] AS DOUBLE)")} AS last,
        |       ${r4Sql("CAST(list_min(embedding) AS DOUBLE)")} AS mn,
        |       ${r4Sql("CAST(list_max(embedding) AS DOUBLE)")} AS mx,
        |       ${r4Sql("list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)))")} AS s
        |FROM embeddings
        |ORDER BY vec_id NULLS FIRST""".stripMargin,
    "q_explode_tokens" ->
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
        |GROUP BY token
        |ORDER BY n DESC NULLS LAST, token NULLS FIRST LIMIT 20""".stripMargin
  )

  /** Distributed production twins share their window-form oracle SQL
    * VERBATIM — row-identical results by construction, one source of
    * truth for the oracle text. q_agg_quantile_dist gets its own exact
    * integer-rank selection (ceil(q·n) as (q·n + den − 1) // den — the
    * same formula the walk computes; first grain value whose running
    * count reaches the rank). */
  val oracleSql: Map[String, String] = oracleSqlBase ++ Map(
    "q_rfm_segments_dist" -> oracleSqlBase("q_rfm_segments"),
    "q_agg_cliffs_delta_dist" -> oracleSqlBase("q_agg_cliffs_delta"),
    "q_pareto_abc_dist" -> oracleSqlBase("q_pareto_abc"),
    "q_revenue_gini_dist" -> oracleSqlBase("q_revenue_gini"),
    "q_agg_mannwhitney_dist" -> oracleSqlBase("q_agg_mannwhitney"),
    "q_agg_jonckheere_dist" -> oracleSqlBase("q_agg_jonckheere"),
    "q_agg_ansari_bradley_dist" -> oracleSqlBase("q_agg_ansari_bradley"),
    "q_agg_mood_median_dist" -> oracleSqlBase("q_agg_mood_median"),
    "q_agg_page_trend_dist" -> oracleSqlBase("q_agg_page_trend"),
    "q_agg_quantile_dist" ->
      """WITH g AS (
        |  SELECT l_quantity AS v, CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1),
        |r AS (
        |  SELECT v, CAST(sum(c) OVER (ORDER BY v NULLS FIRST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum
        |  FROM g),
        |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM g)
        |SELECT q.quantile, min(r.v) AS value
        |FROM r, n, (VALUES ('p50', 1, 2), ('p90', 9, 10))
        |  AS q(quantile, num, den)
        |WHERE r.cum >= (q.num * n.n + q.den - 1) // q.den
        |GROUP BY q.quantile
        |ORDER BY q.quantile NULLS FIRST""".stripMargin
  )
}
