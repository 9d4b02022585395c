package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Relational query surface (SURVEY §2.9 q01–q12): scans, star joins,
  * semi/anti joins, rollup/cube, windows, sessionization, JSON, set ops.
  *
  * Determinism conventions for the DuckDB-oracle hash match (SURVEY §7):
  *   - money/double aggregates are computed over exact DECIMAL casts
  *     (sums of decimals are order-independent; double sums are not),
  *     then cast to DOUBLE at the very end — identically in the oracle;
  *   - every query ends with ORDER BY over its full output column list;
  *   - column names are aliased identically on both sides.
  *
  * Scale posture: all aggregations are plain groupBy (partial+final hash
  * agg), all dimension joins are broadcast-able (Catalyst/AQE decide; the
  * dims here are KB-sized even at 100 TB fact scale), and all filters are
  * simple column predicates that push into the parquet scan.
  */
object RelationalQueries {

  /** Exact 2-decimal cast: the driver data carries at most 2 decimals in
    * every money column (verified against sf0.001), so DECIMAL(12,2) is a
    * lossless representation and decimal aggregation is exact. */
  private def dec(c: String): Column = col(c).cast(DecimalType(12, 2))

  /** Per-JVM scratch-path token: isolates q90's write→re-read roundtrip
    * from any concurrent JVM running against the same source dir. */
  private lazy val jvmToken = java.util.UUID.randomUUID().toString.take(8)

  /** q01 — TPC-H Q1-shaped pricing summary: scan → filter (pushed) →
    * partial+final hash agg → order. Ref analogue: per-group counting in
    * rules.cpp:12-15 scaled to fact-table aggregation [north-star A7]. */
  def q01PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec("l_quantity")).cast("double").as("sum_qty"),
        sum(dec("l_extendedprice")).cast("double").as("sum_base_price"),
        sum(dec("l_extendedprice") * (lit(1) - dec("l_discount")))
          .cast("double").as("sum_disc_price"),
        sum(dec("l_extendedprice") * (lit(1) - dec("l_discount")) *
            (lit(1) + dec("l_tax"))).cast("double").as("sum_charge"),
        round(sum(dec("l_quantity")).cast("double") / count(lit(1)), 6)
          .as("avg_qty"),
        round(sum(dec("l_extendedprice")).cast("double") / count(lit(1)), 6)
          .as("avg_price"),
        round(sum(dec("l_discount")).cast("double") / count(lit(1)), 6)
          .as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** q02 — top customers by order revenue: fact⋈dim equi-join + agg +
    * deterministic top-k (TakeOrderedAndProject). At 100 TB the groupBy on
    * o_custkey shuffles once; the top-k never materializes the full sort. */
  def q02TopCustomers(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(
        sum(dec("o_totalprice")).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(10)
  }

  /** q03 — 5-way star join lineitem⋈orders⋈customer⋈nation⋈region with
    * pushed filters; region/nation are broadcast (KB-sized at any scale). */
  def q03StarJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
    val c = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    li.filter(col("l_returnflag") =!= "A")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        sum(dec("l_extendedprice") * (lit(1) - dec("l_discount")))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_rows"))
      .orderBy("r_name", "n_name")
  }

  /** q04 — left-semi + left-anti joins (J9): customers with / without
    * orders per market segment, merged by full-outer join. */
  def q04SemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val cond = col("c_custkey") === col("o_custkey")
    val withOrders = c.join(o, cond, "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_with_orders"))
    val withoutOrders = c.join(o, cond, "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_without_orders"))
    withOrders.join(withoutOrders, Seq("c_mktsegment"), "full_outer")
      .select(
        col("c_mktsegment"),
        coalesce(col("n_with_orders"), lit(0L)).as("n_with_orders"),
        coalesce(col("n_without_orders"), lit(0L)).as("n_without_orders"))
      .orderBy("c_mktsegment")
  }

  /** q05 — ROLLUP over (status, priority) with NULL group markers folded
    * to 'ALL' so the oracle hash is null-free (A9). */
  def q05RollupCube(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(dec("o_totalprice")).cast("double").as("total_spend"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("total_spend"))
      .orderBy("status", "priority")
  }

  /** q06 — ranking window (W3): top-3 orders per status by price, ties
    * broken by key for determinism. row_number cast to BIGINT to match
    * DuckDB's window-function result type. */
  def q06WindowRank(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= 3)
      .select(col("o_orderstatus"), col("rn"), col("o_orderkey"),
        col("o_totalprice"))
      .orderBy("o_orderstatus", "rn")
  }

  /** q07 — frame-spec running total per customer (W5), exact via decimal
    * window sum (double window sums are association-order-sensitive). */
  def q07RunningWindow(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .withColumn("running_spend", sum(dec("o_totalprice")).over(w)
        .cast("double"))
      .select(col("o_custkey"), col("o_orderkey"), col("running_spend"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** q08 — lag + session gap numbering (W4): a session break is a gap
    * > 30 min between consecutive events of one user. Timestamps are
    * truncated to whole seconds in both engines (events.ts is ns-precision
    * parquet; Spark reads µs — second-truncation sidesteps the mismatch). */
  def q08LagSessions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("sec", unix_timestamp(date_trunc("second", col("ts"))))
      .withColumn("gap", col("sec") - lag(col("sec"), 1).over(w))
      .withColumn("is_break", when(col("gap") > 1800, 1L).otherwise(0L))
      .groupBy(col("user_id"))
      .agg(
        (sum(col("is_break")) + lit(1L)).as("n_sessions"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  /** q09 — event-time tumbling windows (V16) via Spark's window() function
    * + filtered aggregation (A10). One day in UTC == date_trunc('day') in
    * the oracle. */
  def q09EventWindows(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(
        count(lit(1)).as("n_events"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchases"),
        coalesce(sum(when(col("event_type") === "purchase", dec("value"))),
          lit(0).cast(DecimalType(12, 2))).cast("double")
          .as("purchase_value"))
      .select(col("w.start").cast("date").as("day"),
        col("n_events"), col("n_purchases"), col("purchase_value"))
      .orderBy("day")
  }

  /** q10 — JSON column ingestion (S7/F7): extract props.k per event_type. */
  def q10JsonProps(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(
        count(col("k")).as("n_with_k"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")
  }

  /** q11 — exact distinct users per event type (A8). The approx
    * (HLL++) twin lives in q11b without an oracle. */
  def q11DistinctUsers(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")
  }

  /** q11b — approx_count_distinct (HLL++) — engine-specific sketch, no
    * oracle (driver records rows-only check). At 100 TB this is the one
    * you actually run: one pass, no shuffle of distinct values. */
  def q11bApproxDistinct(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"))
      .orderBy("event_type")
  }

  /** q127 — MERGEABLE sketch rollup (A8's warehouse deployment form,
    * the piece q11b's one-shot approx_count_distinct doesn't show): a
    * DataSketches HLL sketch of distinct users is aggregated PER DAY —
    * the materialization a 100 TB warehouse stores next to each
    * partition — and weekly uniques are answered by UNIONING the seven
    * daily sketches (`hll_union_agg`), never re-scanning raw rows.
    * That's the entire point of a mergeable sketch: distinct counts
    * don't add (Σ daily uniques ≥ weekly uniques — users repeat), but
    * sketches union losslessly, so ANY date range is answerable from
    * the per-day aggregates at bucket-count cost. Output per ISO week:
    * estimated uniques from the union, the day count, and the naive
    * (wrong, upper-bound) sum of daily estimates — pinning that the
    * union path actually de-duplicates across days. Rows-only
    * (DataSketches binary estimates are engine-specific); ScalaTest
    * gates the estimate against exact countDistinct within the lgK=12
    * error envelope. */
  def q127SketchRollup(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .filter(col("ts").isNotNull)
      .withColumn("day", to_date(col("ts")))
      .groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      // estimate FROM the one stored sketch — a second hll_sketch_agg
      // in the same agg would build every daily sketch twice
      .withColumn("est_daily", hll_sketch_estimate(col("sk")))
    daily
      .withColumn("week", date_trunc("week", col("day")).cast("date"))
      .groupBy(col("week"))
      .agg(
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_users"),
        count(lit(1)).as("n_days"),
        sum(col("est_daily")).as("naive_sum"))
      .orderBy("week")
  }

  /** q131 — audience OVERLAP from stored sketches (the set-algebra
    * question q127's rollup can't answer alone): how many distinct
    * users do two event types share? Exactly requires re-scanning both
    * raw audiences per pair; with the per-type HLL sketches already
    * stored, inclusion–exclusion answers it at sketch cost —
    * |A∩B| ≈ est(A) + est(B) − est(A∪B), where the union sketch is the
    * SCALAR `hll_union` of the two stored binaries (no raw-row
    * access). All C(types,2) pairs from one tiny self-join of the
    * 5-row sketch dimension; output also carries the overlap
    * coefficient in basis points (share of the smaller audience).
    * Rows-only (sketch estimates); the spec gates every pair's
    * estimate against the exact intersection within the compounded
    * lgK=12 envelope. At 100 TB: audiences are billions of users per
    * segment — the sketch dimension is KBs, and any pairwise (or
    * k-way, by folding hll_union) overlap matrix costs nothing more
    * than reading it. */
  def q131AudienceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val sk = Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val a = sk.select(col("event_type").as("type_a"), col("sk").as("ska"))
    val b = sk.select(col("event_type").as("type_b"), col("sk").as("skb"))
    a.join(b, col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"),
        hll_sketch_estimate(col("ska")).as("est_a"),
        hll_sketch_estimate(col("skb")).as("est_b"),
        hll_sketch_estimate(hll_union(col("ska"), col("skb")))
          .as("est_union"))
      .withColumn("est_overlap",
        greatest(col("est_a") + col("est_b") - col("est_union"), lit(0L)))
      .withColumn("overlap_bp",
        floor(lit(10000) * col("est_overlap")
          / least(col("est_a"), col("est_b"))).cast("bigint"))
      .select(col("type_a"), col("type_b"), col("est_overlap"),
        col("overlap_bp"))
      .orderBy("type_a", "type_b")
  }

  /** q142 — mergeable QUANTILE rollup (the third member of the
    * warehouse sketch trio: HLL distincts q127, Misra–Gries heavy
    * hitters q128, quantiles here), via a q-digest
    * ([[graft.functions.QDigestAgg]] — Shrivastava SenSys'04, merged
    * per Agarwal PODS'12): event values in integer cents stream into a
    * k=2048 digest PER DAY — the materialization a warehouse stores
    * next to each partition — and weekly p50/p95/p99 are answered by
    * UNIONING the daily digests, never re-scanning raw rows. That is
    * the entire point: quantiles don't average (mean of daily medians
    * ≠ weekly median), but q-digests union losslessly, so ANY date
    * range's tail latencies cost sketch-size work — the exact twin
    * q43 needs a per-group sort of every raw value instead. The
    * estimates fall out of the union aggregation's own finish (no
    * scalar UDF anywhere). Rows-only (compression timing is
    * partitioning-dependent); the spec pins the rank-error contract
    * |rank(est) − q·n| ≤ levels·n/k on the corpus under two different
    * partitionings, and the O(k) size bound of the stored digests. */
  def q142QuantileRollup(spark: SparkSession, dir: String): DataFrame = {
    // the same Aggregator algebra through functions.udaf on an untyped
    // groupBy (r18): the groupByKey(_._1).mapValues(_._2) form ran the
    // key/value extraction as TWO AppendColumns lambda layers — a
    // per-row object round-trip that cost ~15x the digest inserts
    // themselves (the exact-sort twin q43 ran 17x faster than this
    // sketch); the udaf route keys on the day column natively and
    // feeds the identical reduce/merge/finish, so the digests — and
    // the spec's rank-error contract — are unchanged
    val build = udaf(new graft.functions.QDigestAgg(2048, 32))
    val union = udaf(new graft.functions.QDigestUnionQuantiles(2048, 32))
    val daily = Tables.events(spark, dir)
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .select(to_date(col("ts")).as("day"),
        round(col("value") * 100).cast("bigint").as("cents"))
      .groupBy(col("day"))
      .agg(build(col("cents")).as("sk"))
    daily
      .select(date_trunc("week", col("day")).cast("date").as("week"),
        col("sk"))
      .groupBy(col("week"))
      // a product-typed udaf input spreads one column per field
      .agg(union(col("sk.nodes"), col("sk.n")).as("u"))
      .select(col("week"), col("u._4").as("n"),
        col("u._1").as("p50_cents"), col("u._2").as("p95_cents"),
        col("u._3").as("p99_cents"))
      .orderBy("week")
  }

  /** q36 — as-of join (J11): for each purchase, the user's most recent
    * click at-or-before it. Implemented the scalable way: one window
    * over the per-user event timeline with a running "last click"
    * (ignore-nulls last_value) — a single shuffle on user_id, no
    * pair-expansion join. */
  def q36AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("click_id",
        last(when(col("event_type") === "click", col("event_id")), true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        coalesce(col("click_id"), lit(-1L)).as("prior_click_id"))
      .orderBy("user_id", "purchase_id")
  }

  /** q37 — range/interval join (J10): events within 10 minutes after an
    * error by the same user. The equi-key (user_id) carries the join —
    * the range predicate is a post-filter, so this stays a hash join at
    * 100 TB (never a broadcast-nested-loop over the cross product). */
  def q37RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("sec", unix_timestamp(date_trunc("second", col("ts"))))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("error_id"),
        col("sec").as("err_sec"))
    val others = ev.filter(col("event_type") =!= "error")
      .select(col("user_id").as("o_user_id"), col("event_id").as("after_id"),
        col("sec"))
    errors.join(others,
        col("user_id") === col("o_user_id") &&
          col("sec") >= col("err_sec") && col("sec") <= col("err_sec") + 600)
      .groupBy(col("user_id"), col("error_id"))
      .agg(count(lit(1)).as("n_after"), min(col("after_id")).as("first_after_id"))
      .orderBy("user_id", "error_id")
  }

  /** q38 — CUBE with grouping() markers (A9, complements q05's rollup). */
  def q38Cube(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        grouping(col("o_orderstatus")).cast("bigint").as("g_status"),
        grouping(col("o_orderpriority")).cast("bigint").as("g_priority"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("g_status"), col("g_priority"), col("n_orders"))
      .orderBy("status", "priority", "g_status", "g_priority")
  }

  /** q39 — supplier/part star (J7 over the remaining dimension tables):
    * revenue by part brand × supplier nation. */
  def q39SupplierPart(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
    val s = Tables.supplier(spark, dir)
    val n = Tables.nation(spark, dir)
    li.join(p, li("l_partkey") === p("p_partkey"))
      .join(broadcast(s), li("l_suppkey") === s("s_suppkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .groupBy(col("p_brand"), col("n_name"))
      .agg(
        sum(dec("l_extendedprice") * (lit(1) - dec("l_discount")))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("p_brand", "n_name")
  }

  /** q40 — outer joins (J8): every part with its shipment stats,
    * zero-filled for parts that never shipped (left outer + coalesce). */
  def q40OuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val li = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_shipments"),
        sum(dec("l_quantity")).cast("double").as("total_qty"))
    p.join(li, p("p_partkey") === li("l_partkey"), "left_outer")
      .select(col("p_partkey"), col("p_brand"),
        coalesce(col("n_shipments"), lit(0L)).as("n_shipments"),
        coalesce(col("total_qty"), lit(0.0)).as("total_qty"))
      .orderBy("p_partkey")
  }

  /** q41 — pivot (A9-adjacent): daily event counts pivoted to one
    * column per event type (explicit value list for a stable schema). */
  def q41Pivot(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(spark, dir)
      .withColumn("day", col("ts").cast("date"))
      .groupBy("day")
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .select(col("day") +: types.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
      .orderBy("day")
  }

  /** q43 — exact percentiles (A7 extension): quartiles of order totals
    * per status via Spark's exact `percentile` (linear interpolation —
    * the same definition as DuckDB's quantile_cont), floor-scaled. At
    * 100 TB the exact form needs a per-group sort; approx_percentile
    * (t-digest, one pass) is the production twin — engine-specific
    * sketch, so only the exact form carries the oracle. */
  def q43Percentiles(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        expr("percentile(o_totalprice, array(0.25, 0.5, 0.75))").as("pct"),
        count(lit(1)).as("n_orders"))
      .select(col("o_orderstatus"),
        floor(element_at(col("pct"), 1) * 100).cast("bigint").as("p25_x100"),
        floor(element_at(col("pct"), 2) * 100).cast("bigint").as("p50_x100"),
        floor(element_at(col("pct"), 3) * 100).cast("bigint").as("p75_x100"),
        col("n_orders"))
      .orderBy("o_orderstatus")
  }

  /** q43b — approx_percentile production twin of q43 (A8): the one-pass
    * sketch (KLL in Spark; accuracy parameter 10000) a 100 TB deployment
    * runs instead of the exact per-group sort. Declared rows-only — the
    * sketch is engine-specific, so there is no cross-engine hash; the
    * ScalaTest instead bounds its drift against exact q43. */
  def q43bApproxPercentiles(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        expr("approx_percentile(o_totalprice, array(0.25, 0.5, 0.75), 10000)")
          .as("pct"),
        count(lit(1)).as("n_orders"))
      .select(col("o_orderstatus"),
        floor(element_at(col("pct"), 1) * 100).cast("bigint").as("p25_x100"),
        floor(element_at(col("pct"), 2) * 100).cast("bigint").as("p50_x100"),
        floor(element_at(col("pct"), 3) * 100).cast("bigint").as("p75_x100"),
        col("n_orders"))
      .orderBy("o_orderstatus")
  }

  /** q46 — batch `session_window` sessionization (V16): the batch twin
    * of Streaming.sessionCounts, full oracle. Spark merges two events
    * into one session when the gap is strictly under 30 minutes (the
    * [ts, ts+gap) windows overlap), so the oracle reconstructs sessions
    * with a `gap >= 30 min ⇒ break` lag/cumsum — exactly complementary.
    * Timestamps are emitted as unix microseconds: events.ts is ns
    * parquet, and both engines truncate ns→µs identically
    * (Tables.events / DuckDB CAST(ts AS TIMESTAMP)).
    * Scale: session_window is one shuffle on user_id with state merged
    * per partition — the same plan a 100 TB sessionization wants. */
  def q46SessionWindows(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("session_start_us"),
        unix_micros(col("sw.end")).as("session_end_us"),
        col("n_events"))
      .orderBy("user_id", "session_start_us")
  }

  /** q12 — set ops (O4): INTERSECT and EXCEPT over per-type user sets.
    * Round-3 plan: instead of materializing four per-type user sets and
    * running intersect/except (each its own distinct + join shuffle —
    * ~6 exchanges), ONE groupBy(user_id) computes per-type presence
    * flags and a single explode projects each user's qualifying set-op
    * labels — one aggregation shuffle, one pass, no duplicated subtree
    * (a filter-per-branch union would re-aggregate or depend on
    * runtime exchange reuse). At 100 TB this is a partial/final hash
    * agg over the events scan — the optimal shape for any number of
    * set-op combinations over the same keyspace. */
  def q12SetOps(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def flag(t: String) = max(when(col("event_type") === t, 1).otherwise(0))
    ev.groupBy(col("user_id"))
      .agg(flag("click").as("c"), flag("purchase").as("p"),
        flag("view").as("v"), flag("error").as("e"))
      .select(col("user_id"), explode(array(
        when(col("c") === 1 && col("p") === 1, "click_and_purchase"),
        when(col("v") === 1 && col("e") === 0, "view_no_error"))).as("op"))
      .filter(col("op").isNotNull)
      .select(col("op"), col("user_id"))
      .orderBy("op", "user_id")
  }

  // ---------------------------------------------------------------- q60
  /** q60 — statistical profile per return flag (A7 extension): corr /
    * covar_samp / stddev_samp / avg as floor-scaled integers. All four
    * are single-pass distributive aggregates (co-moment partials merge
    * associatively), so the plan is the same partial+final hash agg as
    * q01 — no second pass, no sort, scales like any groupBy at 100 TB.
    * Exactness note: avg(l_quantity) is exact (integer-valued doubles
    * sum exactly below 2^53); the moment aggregates agree with DuckDB
    * to ~1e-12 relative, far inside the x100 floor's slack. */
  def q60StatsProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        floor(lit(100) * corr(col("l_quantity"), col("l_extendedprice")))
          .as("corr_x100"),
        floor(lit(100) * covar_samp(col("l_quantity"), col("l_extendedprice")))
          .as("covar_x100"),
        floor(lit(100) * stddev_samp(col("l_extendedprice")))
          .as("sd_price_x100"),
        floor(lit(100) * avg(col("l_quantity"))).as("avg_qty_x100"))
      .orderBy("l_returnflag")

  // ---------------------------------------------------------------- q61
  /** q61 — distribution ranks (W3 extension): ntile deciles,
    * percent_rank and cume_dist of account balance within each market
    * segment. Both rank ratios are integer-over-integer divisions of
    * identical operands in both engines, so the basis-point floors are
    * bit-exact. The window partitions by segment — bounded per-group
    * sort, embarrassingly parallel across segments; the custkey
    * tie-break makes the frame deterministic. */
  def q61NtileDeciles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.customer(spark, dir)
      .select(col("c_mktsegment"), col("c_custkey"),
        ntile(10).over(w).cast("bigint").as("decile"),
        floor(lit(10000) * percent_rank().over(w)).as("pr_bp"),
        floor(lit(10000) * cume_dist().over(w)).as("cd_bp"))
      .orderBy("c_mktsegment", "c_custkey")
  }

  // ---------------------------------------------------------------- q70
  /** q70 — explicit GROUPING SETS (A9, completing rollup/cube): the
    * two single-column marginals plus the full cross, with grouping()
    * markers and an exact DECIMAL revenue. Same one-shuffle expand+agg
    * plan as cube, but with a user-chosen set list — the shape ETL
    * reporting actually uses when the full cube is too wide. Nulls are
    * coalesced to 'ALL' before the sort (the q38 convention) so null
    * ordering can't diverge between engines. */
  def q70GroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")),
          Seq(col("o_orderstatus"), col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec("o_totalprice")).cast("double").as("revenue"),
        grouping(col("o_orderstatus")).cast("bigint").as("g_status"),
        grouping(col("o_orderpriority")).cast("bigint").as("g_priority"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("g_status"), col("g_priority"), col("n_orders"), col("revenue"))
      .orderBy("status", "priority", "g_status", "g_priority")

  // ---------------------------------------------------------------- q63
  /** q63 — parse-then-join (F4/J7): recover the customer id embedded in
    * the denormalized name string via regexp_extract, then join it back
    * to the orders fact and aggregate revenue per segment. The parsed
    * dimension is customer-sized → broadcast join, no fact shuffle; the
    * regexp runs inside whole-stage codegen. Revenue is an exact
    * DECIMAL sum (order-independent) cast to double at the end. */
  def q63NameParseJoin(spark: SparkSession, dir: String): DataFrame = {
    val parsed = Tables.customer(spark, dir).select(
      regexp_extract(col("c_name"), "#(\\d+)", 1).cast("long").as("cid"),
      col("c_mktsegment"))
    Tables.orders(spark, dir)
      .join(broadcast(parsed), col("o_custkey") === col("cid"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        sum(dec("o_totalprice")).cast("double").as("revenue"))
      .orderBy("c_mktsegment")
  }

  // ---------------------------------------------------------------- q64
  /** q64 — equi-width histogram of order totals (A7/P6): global min/max
    * (a one-row bounded aggregate, broadcast back) → bin assignment →
    * hash agg per bin. Two scans of the fact, zero fact-side shuffles
    * beyond the 20-row final agg — the canonical scalable histogram.
    * The bin expression keeps DuckDB's association
    * ((x − lo) · 20 / (hi − lo)) so identical IEEE operands round
    * identically; the top edge clamps into the last bin. */
  def q64Histogram(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val mm = o.agg(min(col("o_totalprice")).as("lo"),
      max(col("o_totalprice")).as("hi"))
    o.crossJoin(broadcast(mm))
      // hi == lo (all values identical) would make the width 0: Spark's
      // x/0 yields NULL bins while DuckDB's FLOOR/CAST chain errors —
      // both engines collapse the degenerate table into bin 0 instead
      .withColumn("bin",
        when(col("hi") === col("lo"), lit(0L)).otherwise(
          least(floor((col("o_totalprice") - col("lo")) * lit(20)
            / (col("hi") - col("lo"))), lit(19L))))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(dec("o_totalprice")).cast("double").as("tot"))
      .orderBy("bin")
  }

  // ---------------------------------------------------------------- q81
  /** q81 — time-series densification + forward fill (the gap-fill
    * operator every metrics/feature store needs): per user, the daily
    * last purchase value over the user's own active span, with missing
    * days generated (sequence + explode) and filled from the last
    * observed day (last(ignoreNulls) over an unbounded-preceding row
    * frame). The fill COPIES doubles — no float arithmetic — so the
    * oracle hash is safe.
    *
    * Single-pass shape: each observed day emits ITSELF plus the gap
    * days up to (not including) the user's next observed day
    * (lead(day) − 1), carrying its value — so densification and fill
    * are one explode, with no span table, no join-back and no second
    * scan (the first draft's dense ⋈ daily join re-scanned events and
    * re-ran the daily window; this plan is one scan and two hash
    * Exchanges — both keyed by the user — ahead of the output sort,
    * and per-user state is one row of lookahead). */
  def q81GapFill(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      // NULL-valued purchases would diverge from the oracle (Spark would
      // carry the NULL forward as "observed"; LAST_VALUE IGNORE NULLS
      // skips it) — both engines drop them so the contracts are identical
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .withColumn("day", to_date(col("ts")))
      .withColumn("rn", row_number().over(Window
        .partitionBy("user_id", "day")
        .orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("day"), col("value"))
    val gapEnd = coalesce(
      date_sub(lead(col("day"), 1).over(
        Window.partitionBy("user_id").orderBy("day")), 1),
      col("day"))
    daily
      .withColumn("gap_end", gapEnd)
      .select(col("user_id"), col("day"), col("value"),
        explode(sequence(col("day"), col("gap_end"))).as("gen_day"))
      .select(col("user_id"), col("gen_day").as("day"),
        col("value").as("filled"),
        when(col("gen_day") === col("day"), 1L).otherwise(0L).as("observed"))
      .orderBy("user_id", "day")
  }

  // ---------------------------------------------------------------- q85
  /** q85 — weekly cohort retention (the product-analytics staple):
    * users are cohorted by the week of their first event (weeks
    * counted from the corpus's first day — a one-row broadcast scalar,
    * q64's histogram pattern) and each (cohort, week-offset) cell
    * counts the distinct users still active, with floored basis-point
    * retention against the cohort size. All-integer arithmetic.
    *
    * At 100 TB: the corpus is scanned ONCE into the distinct
    * (user, day) activity table (bounded: users × days), which is
    * materialized so the d0 scalar, the cohort agg and the cell join
    * all branch from it instead of each re-scanning the events fact
    * (the naive plan read the parquet six times); everything after is
    * user-keyed aggregation over the tiny grid. */
  def q85RetentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .localCheckpoint()
    val d0 = days.agg(min(col("day")).as("d0"))
    val weeks = days.crossJoin(broadcast(d0))
      .select(col("user_id"),
        expr("CAST(datediff(day, d0) DIV 7 AS BIGINT)").as("week"))
      .distinct()
    val cohort = weeks.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
    val sizes = cohort.groupBy("cohort_week")
      .agg(count(lit(1)).as("cohort_size"))
    weeks.join(cohort, "user_id")
      .withColumn("offset", col("week") - col("cohort_week"))
      .groupBy("cohort_week", "offset")
      .agg(count(lit(1)).as("n_users")) // (user, week) is distinct already
      .join(sizes, "cohort_week")
      .withColumn("retention_bp",
        floor(lit(10000) * col("n_users") / col("cohort_size")).cast("bigint"))
      .select(col("cohort_week"), col("offset"), col("n_users"),
        col("cohort_size"), col("retention_bp"))
      .orderBy("cohort_week", "offset")
  }

  // ---------------------------------------------------------------- q86
  /** q86 — ordered funnel (signup → first click AFTER the signup →
    * first purchase AFTER that click): each stage is a semi-join
    * against the previous stage's first-event time, so the ORDER of
    * events matters, not just their presence — what separates a funnel
    * from three independent counts. Output: users reaching each stage
    * and the floored basis-point conversion from the previous stage.
    *
    * At 100 TB: three type-filtered scans (each reads only its event
    * type's bytes via the pushed predicate — together ≈ one full
    * pass), and each per-user stage table is MATERIALIZED since it
    * feeds both the next stage and the final count (unmaterialized,
    * the s1→s2→s3 chain re-ran earlier stages once per consumer —
    * six scans instead of three). Joins are user-keyed. */
  def q86Funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts")).as("t1"))
      .localCheckpoint()
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1, "user_id").filter(col("ts") > col("t1"))
      .groupBy("user_id").agg(min(col("ts")).as("t2"))
      .localCheckpoint()
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, "user_id").filter(col("ts") > col("t2"))
      .groupBy("user_id").agg(min(col("ts")).as("t3"))
    s1.join(s2.select(col("user_id"), lit(1).as("r2")), Seq("user_id"), "left")
      .join(s3.select(col("user_id"), lit(1).as("r3")), Seq("user_id"), "left")
      .agg(count(lit(1)).as("n1"),
        count(col("r2")).as("n2"),
        count(col("r3")).as("n3"))
      .select(explode(array(
        struct(lit(1L).as("stage"), lit("signup").as("event_type"),
          col("n1").as("n_users"),
          lit(10000L).as("conv_bp")),
        // empty previous stage → conv 0, guarded in BOTH engines (unguarded,
        // Spark's x/0 is NULL while DuckDB errors — a divergence on any
        // corpus slice with no signups/clicks)
        struct(lit(2L).as("stage"), lit("click_after_signup").as("event_type"),
          col("n2").as("n_users"),
          when(col("n1") > 0,
            floor(lit(10000) * col("n2") / col("n1")).cast("bigint"))
            .otherwise(lit(0L)).as("conv_bp")),
        struct(lit(3L).as("stage"), lit("purchase_after_click").as("event_type"),
          col("n3").as("n_users"),
          when(col("n2") > 0,
            floor(lit(10000) * col("n3") / col("n2")).cast("bigint"))
            .otherwise(lit(0L)).as("conv_bp"))
      )).as("r"))
      .select(col("r.stage"), col("r.event_type"), col("r.n_users"),
        col("r.conv_bp"))
      .orderBy("stage")
  }

  // ---------------------------------------------------------------- q90
  /** q90 — CDC upsert (MERGE INTO semantics, spelled relationally):
    * apply a change batch to the customer dimension — updates for
    * existing keys, inserts for new ones — via FULL OUTER JOIN +
    * coalesce, emitting the audit rows (op, old → new) a warehouse
    * merge would log. The change batch is derived deterministically
    * from the dimension itself (keys ≡ 0 mod 7 re-segmented, 50
    * synthetic keys past the max), so the oracle rebuilds it exactly.
    *
    * At 100 TB this is the nightly dimension-merge shape: one shuffle
    * (or broadcast, change batches being small) on the merge key; the
    * untouched majority of the dimension streams through.
    *
    * The merge is a REAL write path (the reference's movePiece,
    * engine.cpp:18-36, mutates in place): the full merged dimension —
    * every row, with CDC metadata columns (op, old_seg), the
    * Delta-style _change_type convention — is written to parquet and
    * the audit output is derived from the RE-READ files, so the oracle
    * hash proves what was persisted, not just what was computed. */
  /** q90's persisted-merge location — the single source of truth the
    * query writes to and the roundtrip test reads from. Keyed by
    * md5(dir) (collision-free across source dirs, unlike
    * String.hashCode), rooted under spark.graft.scratchDir (default:
    * the JVM tmpdir, never the working directory), and suffixed with a
    * per-JVM token + the session identity so two concurrent runs over
    * the same source dir (bench and tests in parallel) never race
    * writer-vs-reader on one directory. */
  private[graft] def q90ScratchPath(spark: SparkSession, dir: String): String =
    SharedArtifacts.scratchPath(spark, dir, s"graft_scratch_$jvmToken",
      "customer")

  def q90Upsert(spark: SparkSession, dir: String): DataFrame = {
    // materialized: feeds the change derivation, the max-key scalar
    // AND the merge join — one dimension scan, not three
    val base = Tables.customer(spark, dir)
      .select(col("c_custkey").as("k"), col("c_mktsegment").as("old_seg"))
      .localCheckpoint()
    val maxKey = base.agg(max(col("k")).as("mk"))
    val changes = base.filter(col("k") % 7 === 0)
      .select(col("k"), lit("UPGRADED").as("new_seg"))
      .unionByName(
        maxKey.select(explode(sequence(col("mk") + 1, col("mk") + 50)).as("k"),
          lit("NEWCOMER").as("new_seg")))
    val merged = base.join(changes, Seq("k"), "full_outer")
      .select(col("k").as("c_custkey"),
        coalesce(col("new_seg"), col("old_seg")).as("c_mktsegment"),
        when(col("old_seg").isNull, lit("insert"))
          .when(col("new_seg").isNull, lit("noop"))
          .otherwise(lit("update")).as("op"),
        coalesce(col("old_seg"), lit("")).as("old_seg"))
    val out = q90ScratchPath(spark, dir)
    merged.write.mode("overwrite").parquet(out)
    spark.read.parquet(out)
      .filter(col("op") =!= "noop") // audit only the touched rows
      .select(col("c_custkey"), col("op"), col("old_seg"),
        col("c_mktsegment").as("new_seg"))
      .orderBy("c_custkey")
  }

  // ---------------------------------------------------------------- q87
  /** q87 — RANGE-framed trailing window (the frame spec q07's
    * rowsBetween doesn't exercise): per event, how many of the user's
    * events fall in the trailing 24 HOURS — a frame defined on the
    * ORDER VALUE, so rows tied on the same second share one frame and
    * the result is independent of intra-tie order. Outputs are a count
    * and a max (comparison-based — no float accumulation whose
    * summation order could differ across engines' sliding-window
    * implementations; Spark recomputes frames, DuckDB uses segment
    * trees, so a double SUM here would be a last-ulp hash hazard).
    *
    * At 100 TB: one shuffle by user_id; per-user frame state is
    * bounded by the 24 h horizon. */
  def q87TrailingWindow(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"))
      .rangeBetween(-86400, 0)
    Tables.events(spark, dir)
      .withColumn("sec", unix_timestamp(col("ts")))
      .withColumn("n_24h", count(lit(1)).over(w))
      .withColumn("max_24h", max(col("value")).over(w))
      .select(col("user_id"), col("event_id"), col("sec"),
        col("n_24h"), col("max_24h"))
      .orderBy("user_id", "sec", "event_id")
  }

  // ---------------------------------------------------------------- q88
  /** q88 — ordered string aggregation (F4 × A11, string_agg/listagg):
    * per lang, the top-3 tokens joined into one report string. Spark
    * has no ordered collect_list guarantee, so determinism comes from
    * collecting (rank, token) STRUCTS and sort_array-ing them before
    * the join — the engine-portable spelling of
    * string_agg(... ORDER BY). */
  def q88TokenReport(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n").desc, col("token"))
    Tables.documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("lang", "token").agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .groupBy("lang")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("rn"), col("token")))),
        x => x.getField("token")), ",").as("top_tokens"))
      .orderBy("lang")
  }

  // ---------------------------------------------------------------- q82
  /** q82 — unpivot/melt (A9's inverse, the missing half of q41's
    * pivot): the per-priority status counts land as three columns via
    * pivot, then melt back into (priority, status, n) rows with
    * Dataset.unpivot — zero-count cells included, which is exactly what
    * distinguishes the operator from a plain GROUP BY over both keys
    * (the oracle rebuilds those zeros with a dimension cross join).
    * Scale: pivot is one hash agg; unpivot is a per-row map. */
  def q82Unpivot(spark: SparkSession, dir: String): DataFrame = {
    val wide = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("priority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(coalesce(count(lit(1)), lit(0L)))
    wide.unpivot(
        Array(col("priority")),
        Array(col("F"), col("O"), col("P")),
        "status", "n")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .orderBy("priority", "status")
  }
}
