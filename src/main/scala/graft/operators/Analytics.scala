package graft.operators

import graft.{OracleNum, Tables}
import graft.functions.expressions.SharedExpr.noInline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scan/filter/aggregate/join/window anchors on the TPC-H-ish tables.
  *
  * These exercise the relational core every reference query path rides
  * on (grape-vector-db filters + scroll + stats are all scans/aggs
  * underneath). Plans are audited to keep filters pushed to parquet and
  * dimension joins broadcast.
  */
object Analytics {
  import OracleNum.{fx, fxSql, moneyFx, moneyFxSql, moneySum, moneySumSql}

  /** Pricing-summary aggregation (TPC-H Q1 shape): map-side partial
    * aggregation, no join, single shuffle on the 2 low-cardinality keys.
    */
  def q1(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        fx(sum(col("l_quantity"))).as("sum_qty"),
        moneyFx(col("l_extendedprice")).as("sum_base_price"),
        moneyFx(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        fx(avg(col("l_quantity"))).as("avg_qty"),
        fx(avg(col("l_discount"))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q1Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${fxSql("SUM(l_quantity)")} AS sum_qty,
       |  ${moneyFxSql("l_extendedprice")} AS sum_base_price,
       |  ${moneyFxSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
       |  ${fxSql("AVG(l_quantity)")} AS avg_qty,
       |  ${fxSql("AVG(l_discount)")} AS avg_disc,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Shipping-priority top-k (TPC-H Q3 shape): two joins then a
    * revenue top-10. At scale: orders/customer shuffle-join on keys —
    * customer is corpus-proportional (a fifth of it survives the
    * segment filter), so it rides a shuffle_hash, never a broadcast;
    * top-k is TakeOrderedAndProject (per-partition heaps, no global
    * sort).
    *
    * Join order (r11): the segment filter reaches the LINE STREAM
    * through the join graph, not through any lineitem column, so
    * orders ⋈ customer runs FIRST — the old li ⋈ o ⋈ c order
    * re-exchanged the full joined line stream on o_custkey to meet a
    * filter that keeps 1/5 of it. Now only the orders stream crosses
    * the custkey exchange; the line stream crosses exactly ONE
    * exchange (l_orderkey), whose partitioning the group-by reuses
    * (l_orderkey ⊆ group keys — subset-clustering satisfaction), so
    * the aggregate needs no exchange of its own. Inner-join
    * reordering + moneyFx's pre-quantized integer sum keep the rows
    * bit-identical.
    */
  def q3(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord  = Tables.orders(spark, dir)
    val li   = Tables.lineitem(spark, dir)
    val bo = ord.join(cust.hint("shuffle_hash"), ord("o_custkey") === cust("c_custkey"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    li.join(bo.hint("shuffle_hash"), li("l_orderkey") === bo("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(moneyFx(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q3Sql: String =
    s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
       |  ${moneyFxSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE c_mktsegment = 'BUILDING'
       |GROUP BY l_orderkey, o_orderdate, o_orderpriority
       |ORDER BY revenue DESC, l_orderkey
       |LIMIT 10""".stripMargin

  /** Multi-way join (TPC-H Q5 shape). nation is a genuine
    * constant-bounded dimension (25 rows) and broadcasts; supplier
    * and customer are corpus-proportional, so they ride key-wise
    * shuffle_hash joins like the fact tables — the q8/q10
    * discipline. Only bounded relations ever broadcast.
    *
    * Join order (r11): customer attaches to ORDERS first (custkey is
    * an orders column), so the custkey exchange carries the orders
    * stream, never the joined line stream — the old li ⋈ o ⋈ s ⋈ c
    * order re-exchanged the full line stream on o_custkey as its
    * THIRD corpus-sized crossing. The line stream now crosses exactly
    * two exchanges (l_orderkey to meet orders+customer, l_suppkey to
    * meet supplier — the information-theoretic floor: lineitem must
    * be co-located with two independent keys), and on the bucketed
    * store the l_orderkey crossing is elided entirely. The
    * c_nationkey = s_nationkey predicate rides the supplier join as a
    * second equi-key. Inner-join reordering + moneyFx's pre-quantized
    * integer sum keep the rows bit-identical.
    */
  def q5(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o  = Tables.orders(spark, dir)
    val c  = Tables.customer(spark, dir)
    val s  = Tables.supplier(spark, dir)
    val n  = Tables.nation(spark, dir)
    val oc = o.join(c.hint("shuffle_hash"), o("o_custkey") === c("c_custkey"))
      .select(col("o_orderkey"), col("c_nationkey"))
    li.join(oc.hint("shuffle_hash"), li("l_orderkey") === oc("o_orderkey"))
      .join(s.hint("shuffle_hash"),
        li("l_suppkey") === s("s_suppkey") && oc("c_nationkey") === s("s_nationkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(moneyFx(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q5Sql: String =
    s"""SELECT n_name,
       |  ${moneyFxSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
       |JOIN nation ON s_nationkey = n_nationkey
       |GROUP BY n_name
       |ORDER BY revenue DESC, n_name""".stripMargin

  /** Tumbling-window aggregation over the events table (1-hour
    * windows). Same shape as the Structured Streaming pipeline in
    * graft.streaming — this is the batch/oracle-checkable twin.
    */
  def eventsWindow(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(
        window(col("ts"), "1 hour").getField("start").as("w_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           // (hour,type) groups are event-volume-shaped too — same
           // order-independent decimal-sum treatment as eventsHistogram
           moneyFx(col("value"), 4).as("sum_value"),
           countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("w_start"), col("event_type"))
  }

  val eventsWindowSql: String =
    s"""SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start, event_type,
       |  COUNT(*) AS n_events,
       |  ${moneyFxSql("value", 4)} AS sum_value,
       |  COUNT(DISTINCT user_id) AS n_users
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  /** Gap-based sessionization: a session break is >30 min of user
    * inactivity. lag + conditional cumsum over a per-user window —
    * one shuffle on user_id, linear within partition.
    */
  def eventsSession(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
             col("ts").cast("long") - col("prev_ts").cast("long") > 1800, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
           fx(sum(col("value"))).as("sum_value"))
      .orderBy(col("user_id"), col("session_seq"))
  }

  /** As-of join: each purchase event is matched to the same user's
    * most recent view at-or-before it — the temporal join Spark has no
    * built-in operator for. Rather than a range join (which explodes
    * to a near-cross-product per user before aggregation), both sides
    * are UNIONed into one stream and a single per-user ordered window
    * carries the last non-null view forward (`last(..., ignoreNulls)`)
    * — one keyed shuffle on user_id, linear within partition, no join
    * at all; at 100 TB this is the canonical scalable as-of shape.
    * Ties: a view AT the purchase timestamp counts (kind orders views
    * first), equal-ts views resolve to the largest event_id —
    * deterministic on both engines.
    */
  def eventsAsof(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tagged = Tables.events(spark, dir)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_type") === "view", 0L).otherwise(1L).as("kind"),
        when(col("event_type") === "view", col("event_id")).as("v_id"),
        when(col("event_type") === "view", col("ts")).as("v_ts"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("last_view_id", last(col("v_id"), ignoreNulls = true).over(w))
      .withColumn("last_view_ts", last(col("v_ts"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1L)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("purchase_us"),
        coalesce(col("last_view_id"), lit(-1L)).as("view_id"),
        coalesce(unix_micros(col("ts")) - unix_micros(col("last_view_ts")), lit(-1L)).as("gap_us"))
      .orderBy(col("event_id"))
  }

  val eventsAsofSql: String =
    s"""WITH t AS (
       |  SELECT user_id, ts, event_id,
       |    CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS kind,
       |    CASE WHEN event_type = 'view' THEN event_id END AS v_id,
       |    CASE WHEN event_type = 'view' THEN ts END AS v_ts
       |  FROM events WHERE event_type IN ('view', 'purchase')
       |), j AS (
       |  SELECT event_id, user_id, ts, kind,
       |    last_value(v_id IGNORE NULLS) OVER w AS last_view_id,
       |    last_value(v_ts IGNORE NULLS) OVER w AS last_view_ts
       |  FROM t
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, kind, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |)
       |SELECT event_id, user_id, epoch_us(ts) AS purchase_us,
       |  COALESCE(last_view_id, -1) AS view_id,
       |  COALESCE(epoch_us(ts) - epoch_us(last_view_ts), -1) AS gap_us
       |FROM j WHERE kind = 1
       |ORDER BY event_id""".stripMargin

  /** Ordered funnel by first occurrence: per user, the first timestamp
    * of each step (signup → view → click → purchase); a step converts
    * when its first occurrence is strictly after the previous step's.
    * One conditional-min groupBy on user_id (map-side partials) + a
    * scalar roll-up — two aggregations, no window, no join; the
    * per-user state is four timestamps regardless of event volume.
    */
  def eventsFunnel(spark: SparkSession, dir: String): DataFrame = {
    val firsts = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "signup", col("ts"))).as("t1"),
        min(when(col("event_type") === "view", col("ts"))).as("t2"),
        min(when(col("event_type") === "click", col("ts"))).as("t3"),
        min(when(col("event_type") === "purchase", col("ts"))).as("t4"))
    val s1 = col("t1").isNotNull
    val s2 = s1 && col("t2") > col("t1")
    val s3 = s2 && col("t3") > col("t2")
    val s4 = s3 && col("t4") > col("t3")
    firsts.agg(
      count(lit(1)).as("n_users"),
      sum(when(s1, 1L).otherwise(0L)).as("n_signup"),
      sum(when(s2, 1L).otherwise(0L)).as("n_signup_view"),
      sum(when(s3, 1L).otherwise(0L)).as("n_signup_view_click"),
      sum(when(s4, 1L).otherwise(0L)).as("n_full_funnel"))
  }

  val eventsFunnelSql: String =
    s"""WITH firsts AS (
       |  SELECT user_id,
       |    MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t1,
       |    MIN(CASE WHEN event_type = 'view' THEN ts END) AS t2,
       |    MIN(CASE WHEN event_type = 'click' THEN ts END) AS t3,
       |    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t4
       |  FROM events GROUP BY user_id
       |)
       |SELECT COUNT(*) AS n_users,
       |  SUM(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_signup,
       |  SUM(CASE WHEN t1 IS NOT NULL AND t2 > t1 THEN 1 ELSE 0 END)::BIGINT AS n_signup_view,
       |  SUM(CASE WHEN t1 IS NOT NULL AND t2 > t1 AND t3 > t2 THEN 1 ELSE 0 END)::BIGINT AS n_signup_view_click,
       |  SUM(CASE WHEN t1 IS NOT NULL AND t2 > t1 AND t3 > t2 AND t4 > t3 THEN 1 ELSE 0 END)::BIGINT AS n_full_funnel
       |FROM firsts""".stripMargin

  /** Pricing summary with ROLLUP subtotals (grouping-sets execution —
    * the OLAP cube/subtotal shape): per (flag, status), per flag, and
    * grand total in ONE aggregation pass (Spark plans Expand + a
    * single hash aggregate, not three scans). Rollup null keys are
    * coalesced to 'ALL' — group keys are never null in the data, so
    * the marker is unambiguous and both engines agree.
    */
  def q1Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("count_order"),
           fx(sum(col("l_quantity"))).as("sum_qty"),
           fx(avg(col("l_discount"))).as("avg_disc"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("count_order"), col("sum_qty"), col("avg_disc"))
      .orderBy(col("returnflag"), col("linestatus"))

  val q1RollupSql: String =
    s"""SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       |  COALESCE(l_linestatus, 'ALL') AS linestatus,
       |  COUNT(*) AS count_order,
       |  ${fxSql("SUM(l_quantity)")} AS sum_qty,
       |  ${fxSql("AVG(l_discount)")} AS avg_disc
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       |GROUP BY ROLLUP(l_returnflag, l_linestatus)
       |ORDER BY returnflag, linestatus""".stripMargin

  /** Customers with no URGENT-priority order, summarized by market
    * segment (TPC-H Q22 shape): the ANTI-JOIN anchor of the
    * relational core. The priority filter pushes into the orders scan
    * BEFORE the key-distinct, the surviving key relation broadcasts
    * (customer-count sized, not order-count sized); at fact-vs-fact
    * scale the anti-join shuffles on the key like any equi-join —
    * never a NOT IN subquery rewrite into a nested loop. (Plain
    * "no orders at all" is empty in this generator — every customer
    * orders — so the filtered form keeps the oracle discriminating.)
    */
  def custWithoutOrders(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey")).distinct()
    cust.join(urgent.hint("shuffle_hash"), cust("c_custkey") === urgent("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
           fx(avg(col("c_acctbal")), 2).as("avg_acctbal"))
      .orderBy(col("c_mktsegment"))
  }

  val custWithoutOrdersSql: String =
    s"""SELECT c_mktsegment, COUNT(*) AS n_customers,
       |  ${fxSql("AVG(c_acctbal)", 2)} AS avg_acctbal
       |FROM customer c
       |WHERE NOT EXISTS (SELECT 1 FROM orders o
       |                  WHERE o.o_custkey = c.c_custkey
       |                    AND o.o_orderpriority = '1-URGENT')
       |GROUP BY c_mktsegment
       |ORDER BY c_mktsegment""".stripMargin

  /** The semi-join twin of [[custWithoutOrders]]: customers WITH at
    * least one urgent order, per segment — EXISTS as a left_semi join
    * (one probe per customer, no fan-out, no dedup afterwards; the
    * shape a correlated EXISTS subquery compiles to).
    */
  def custWithUrgent(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    cust.join(urgent.hint("shuffle_hash"), cust("c_custkey") === urgent("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
           fx(avg(col("c_acctbal")), 2).as("avg_acctbal"))
      .orderBy(col("c_mktsegment"))
  }

  val custWithUrgentSql: String =
    s"""SELECT c_mktsegment, COUNT(*) AS n_customers,
       |  ${fxSql("AVG(c_acctbal)", 2)} AS avg_acctbal
       |FROM customer c
       |WHERE EXISTS (SELECT 1 FROM orders o
       |              WHERE o.o_custkey = c.c_custkey
       |                AND o.o_orderpriority = '1-URGENT')
       |GROUP BY c_mktsegment
       |ORDER BY c_mktsegment""".stripMargin

  /** Cohort-retention matrix: users are cohorted by the week of their
    * first event (integer weeks since the corpus epoch — engine-
    * agnostic integer arithmetic, no calendar-week convention to
    * disagree on) and counted per (cohort_week, week_offset). Two
    * keyed aggregations on user_id + one user_id-keyed hash join of
    * the (user → cohort) relation. The cohort side is one row per
    * USER — billions of rows at 100 TB, never broadcastable — so the
    * join is a shuffle_hash on user_id: the cohort aggregate already
    * hash-partitioned both sides on user_id, so the join rides that
    * same partitioning (and a sort adds nothing to an equi-probe,
    * keeping the no-SortMergeJoin invariant).
    */
  def eventsRetention(spark: SparkSession, dir: String): DataFrame = {
    val week = floor(
      datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")) / 7).cast("long")
    val ev = Tables.events(spark, dir).select(col("user_id"), week.as("week"))
    val cohorts = ev.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    ev.join(cohorts.hint("shuffle_hash"), Seq("user_id"))
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"),
           count(lit(1)).as("n_events"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  val eventsRetentionSql: String =
    s"""WITH ev AS (
       |  SELECT user_id,
       |    (date_diff('day', DATE '2024-01-01', ts::DATE) // 7)::BIGINT AS week
       |  FROM events
       |), cohorts AS (
       |  SELECT user_id, MIN(week) AS cohort_week FROM ev GROUP BY user_id
       |)
       |SELECT c.cohort_week, e.week - c.cohort_week AS week_offset,
       |  COUNT(DISTINCT e.user_id) AS n_active,
       |  COUNT(*) AS n_events
       |FROM ev e JOIN cohorts c USING (user_id)
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  /** Exact interpolated percentiles of event value per event type
    * (p50/p90/p99) — the latency/engagement distribution summary of an
    * OLAP engine. Exact `percentile` holds per-group sorted state and
    * is the ORACLE-COMPARABLE form (DuckDB quantile_cont has identical
    * interpolation semantics); the 100 TB path swaps in
    * approx_percentile (t-digest sketch, map-side mergeable,
    * bounded memory) behind the same column shape — exact-vs-sketch is
    * a per-call choice, not a plan change.
    */
  def eventsQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val qs = percentile(col("value"), array(lit(0.5), lit(0.9), lit(0.99)))
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           fx(avg(col("value"))).as("avg_value"),
           fx(element_at(qs, 1)).as("p50"),
           fx(element_at(qs, 2)).as("p90"),
           fx(element_at(qs, 3)).as("p99"))
      .orderBy(col("event_type"))
  }

  /** The 100 TB percentile path, runnable: [[eventsQuantiles]] with
    * `approx_percentile` (Greenwald-Khanna sketch — bounded memory per
    * group, map-side mergeable partials) swapped in behind the same
    * column shape. No cross-engine sketch agreement exists, so the
    * driver records a rows-only check; AnalyticsSpec pins p50/p90/p99
    * within tolerance of the exact form, which is the real contract.
    */
  def eventsQuantilesSketch(spark: SparkSession, dir: String): DataFrame = {
    val qs = approx_percentile(
      col("value"), array(lit(0.5), lit(0.9), lit(0.99)), lit(10000))
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           fx(avg(col("value"))).as("avg_value"),
           fx(element_at(qs, 1)).as("p50"),
           fx(element_at(qs, 2)).as("p90"),
           fx(element_at(qs, 3)).as("p99"))
      .orderBy(col("event_type"))
  }

  val eventsQuantilesSql: String =
    s"""SELECT event_type, COUNT(*) AS n_events,
       |  ${fxSql("AVG(value)")} AS avg_value,
       |  ${fxSql("quantile_cont(value, 0.5)")} AS p50,
       |  ${fxSql("quantile_cont(value, 0.9)")} AS p90,
       |  ${fxSql("quantile_cont(value, 0.99)")} AS p99
       |FROM events
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  /** Daily time-series rollup with a trailing 7-row moving average
    * and day-over-day delta per event type — the windowed-frame OLAP
    * shape (moving aggregates over an ordered series) the rest of the
    * surface doesn't exercise. One groupBy to daily grain, then one
    * window pass per type partition (both windows share the same
    * partitioning+ordering, so Spark plans ONE sort/exchange); at
    * scale the daily relation is days x types sized — trivially
    * partitioned by type. The frame is row-based over the daily
    * series (equal to calendar days on gapless data; a RANGE frame is
    * the gap-robust swap-in).
    */
  def eventsRolling(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val day = datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
      .cast("long")
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), day.as("day"))
      .agg(count(lit(1)).as("n_events"), fx(sum(col("value")), 2).as("sum_value"))
    val ordered = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val trailing7 = ordered.rowsBetween(-6, Window.currentRow)
    daily
      .withColumn("ma7", fx(avg(col("n_events")).over(trailing7)))
      .withColumn("delta",
        col("n_events") - coalesce(lag(col("n_events"), 1).over(ordered), col("n_events")))
      .orderBy(col("event_type"), col("day"))
  }

  /** Daily-count anomaly flags per event type — the z-score outlier
    * scan over the same daily grain [[eventsRolling]] rolls up: a day
    * is anomalous when its count sits more than 2 population standard
    * deviations from its type's mean. The test is evaluated in EXACT
    * integer arithmetic — (n·c − S)² > 4·(n·Q − S²) with S = Σc,
    * Q = Σc² is algebraically (c − μ)² > 4σ² scaled by n², so both
    * engines flag identical rows with zero float involvement (a
    * sqrt/stddev formulation can disagree in the last ulp exactly at
    * the threshold). The products (S², n·Q, dev²) square per-type
    * TOTALS, which blow through BIGINT at ~3e9 events per type — well
    * inside real scale — so every product runs in DECIMAL(38,0) on
    * the Spark side and HUGEINT in the oracle: exact to ~1e19 events
    * per type (embedOutliers' convention; Spark's non-ANSI long
    * multiply would WRAP SILENTLY, flagging garbage).
    *
    * Scale shape: one keyed aggregate to daily grain (map-side
    * partials), one days×types-sized aggregate for per-type moments
    * broadcast-sized at any corpus scale, one shuffle_hash join back
    * riding the daily relation's partitioning. No window, no sort
    * until the output ORDER BY.
    */
  def eventsAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val day = datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
      .cast("long")
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), day.as("day"))
      .agg(count(lit(1)).as("n_events"))
    val dec = "decimal(38,0)"
    val stats = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).cast(dec).as("n"), sum(col("n_events")).cast(dec).as("s"),
        sum(col("n_events").cast(dec) * col("n_events")).cast(dec).as("q"))
    val dev = col("n") * col("n_events").cast(dec) - col("s")
    daily.join(stats.hint("shuffle_hash"), Seq("event_type"))
      .select(col("event_type"), col("day"), col("n_events"),
        (dev * dev > lit(4L).cast(dec) * (col("n") * col("q") - col("s") * col("s")))
          .cast("long").as("is_anomaly"))
      .orderBy(col("event_type"), col("day"))
  }

  val eventsAnomalySql: String =
    s"""WITH daily AS (
       |  SELECT event_type,
       |    date_diff('day', DATE '2024-01-01', ts::DATE)::BIGINT AS day,
       |    COUNT(*)::BIGINT AS n_events
       |  FROM events GROUP BY 1, 2
       |), st AS (
       |  SELECT event_type, COUNT(*)::HUGEINT AS n, SUM(n_events)::HUGEINT AS s,
       |    SUM(n_events::HUGEINT * n_events)::HUGEINT AS q
       |  FROM daily GROUP BY 1
       |)
       |SELECT event_type, day, n_events,
       |  ((n * n_events - s) * (n * n_events - s) > 4 * (n * q - s * s))::BIGINT AS is_anomaly
       |FROM daily JOIN st USING (event_type)
       |ORDER BY event_type, day""".stripMargin

  /** Time-series regularization: the daily event-count series per
    * type with every missing calendar day FILLED (zero count, gap
    * flag, and the preceding observed day carried forward) — the
    * resample step every downstream window/rolling/anomaly consumer
    * assumes, since a gap day silently vanishing from a trailing mean
    * shifts the whole frame. One corpus-sized aggregate to daily
    * grain; everything after operates on the (types × days)-bounded
    * series: per-type bounds ride the same aggregate output,
    * `sequence`+explode synthesizes the full calendar, the left join
    * back is (type, day)-keyed on bounded relations, and the
    * carry-forward is a last-non-null `lag` window over per-type
    * partitions of days — nothing corpus-sized past the first
    * exchange.
    */
  def eventsResample(spark: SparkSession, dir: String): DataFrame = {
    val day = datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
      .cast("long")
    resampleDaily(Tables.events(spark, dir)
      .groupBy(col("event_type"), day.as("day"))
      .agg(count(lit(1)).as("n")))
  }

  /** Gap-fill over a prepared (event_type, day, n) daily relation —
    * split out so specs can force gapped series (the driver corpus
    * has none).
    */
  private[graft] def resampleDaily(daily: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val calendar = daily
      .groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("event_type"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    calendar
      .join(daily.hint("shuffle_hash"), Seq("event_type", "day"), "left")
      .withColumn("n_events", coalesce(col("n"), lit(0L)))
      .withColumn("is_gap", col("n").isNull.cast("long"))
      .withColumn("last_active_day",
        last(when(col("n").isNotNull, col("day")), ignoreNulls = true).over(w))
      .select(col("event_type"), col("day"), col("n_events"), col("is_gap"),
        col("last_active_day"))
      .orderBy(col("event_type"), col("day"))
  }

  val eventsResampleSql: String =
    s"""WITH daily AS (
       |  SELECT event_type,
       |    date_diff('day', DATE '2024-01-01', ts::DATE)::BIGINT AS day,
       |    COUNT(*)::BIGINT AS n
       |  FROM events GROUP BY 1, 2
       |), cal AS (
       |  SELECT event_type, unnest(range(d0, d1 + 1)) AS day
       |  FROM (SELECT event_type, MIN(day) AS d0, MAX(day) AS d1
       |        FROM daily GROUP BY 1)
       |)
       |SELECT c.event_type, c.day,
       |  COALESCE(d.n, 0)::BIGINT AS n_events,
       |  (d.n IS NULL)::BIGINT AS is_gap,
       |  MAX(CASE WHEN d.n IS NOT NULL THEN c.day END) OVER (
       |    PARTITION BY c.event_type ORDER BY c.day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_active_day
       |FROM cal c LEFT JOIN daily d USING (event_type, day)
       |ORDER BY 1, 2""".stripMargin

  /** Daily and trailing-7-day distinct active users (DAU/WAU) — the
    * engagement pair every analytics engine ships. A windowed
    * COUNT(DISTINCT) doesn't exist in SQL and a per-day 7-day
    * self-join re-reads each activity row seven times at fact grain;
    * instead each (user, day) activity — already deduplicated to the
    * users×days grain by the first aggregate — is EXPLODED into the
    * seven report days it makes that user active for, and WAU is then
    * a plain distinct aggregate per report day. Factor-7 blowup of
    * the reduced grain, never of the fact table; both aggregates take
    * map-side partials. Report days with no activity of their own are
    * excluded via the inner DAU join (the gap-filled twin composes
    * with [[eventsResample]]).
    */
  def eventsWau(spark: SparkSession, dir: String): DataFrame = {
    val day = datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
      .cast("long")
    val userDay = Tables.events(spark, dir)
      .select(col("user_id"), day.as("day")).distinct()
    val dau = userDay.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = userDay
      .select(col("user_id"), explode(sequence(col("day"), col("day") + 6L)).as("day"))
      .groupBy(col("day")).agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau.hint("shuffle_hash"), Seq("day"))
      .orderBy(col("day"))
  }

  /** The runnable 100 TB DAU/WAU path: [[eventsWau]] with
    * approx_count_distinct (HLL++, rsd 2%) behind the same column
    * shape. The explode trick already bounds the exact form to 7× the
    * users×days grain; the sketch drops the second distinct aggregate
    * to fixed-size mergeable registers per day — the shuffle carries
    * O(days) registers instead of every (user, report-day) pair. No
    * cross-engine sketch agreement exists, so the driver records a
    * rows-only check; AnalyticsSpec pins both cardinalities within 5%
    * of the exact form.
    */
  def eventsWauSketch(spark: SparkSession, dir: String): DataFrame = {
    val day = datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
      .cast("long")
    val userDay = Tables.events(spark, dir)
      .select(col("user_id"), day.as("day")).distinct()
    val dau = userDay.groupBy(col("day"))
      .agg(approx_count_distinct(col("user_id"), 0.02).as("dau"))
    val wau = userDay
      .select(col("user_id"), explode(sequence(col("day"), col("day") + 6L)).as("day"))
      .groupBy(col("day"))
      .agg(approx_count_distinct(col("user_id"), 0.02).as("wau"))
    dau.join(wau.hint("shuffle_hash"), Seq("day"))
      .orderBy(col("day"))
  }

  val eventsWauSql: String =
    s"""WITH ud AS (
       |  SELECT DISTINCT user_id,
       |    date_diff('day', DATE '2024-01-01', ts::DATE)::BIGINT AS day
       |  FROM events
       |), dau AS (
       |  SELECT day, COUNT(*)::BIGINT AS dau FROM ud GROUP BY day
       |), contrib AS (
       |  SELECT user_id, unnest(range(day, day + 7)) AS day FROM ud
       |), wau AS (
       |  SELECT day, COUNT(DISTINCT user_id)::BIGINT AS wau FROM contrib GROUP BY day
       |)
       |SELECT day, dau, wau FROM dau JOIN wau USING (day)
       |ORDER BY day""".stripMargin

  /** Top-N per group — the leaderboard shape (top 3 users by event
    * count per event type) the rest of the analytics core doesn't
    * exercise. The textbook formulation is
    * `row_number() OVER (PARTITION BY event_type ORDER BY n DESC)`,
    * but with a handful of event types over billions of users that
    * window sorts a users-sized partition on ONE reducer per type — a
    * guaranteed straggler at 100 TB. Here ranking rides the bounded
    * [[graft.functions.expressions.TopKAgg]] instead: after the
    * (type, user) count aggregate, each map task keeps a 3-slot heap
    * per type, so only numPartitions*3 candidates per type ever reach
    * the final exchange and nothing users-sized is ever sorted. The
    * oracle replays the row_number formulation — same rows, opposite
    * plan — and the long-scored TopKLongAgg's DESC-score/ASC-id order
    * matches the SQL's `ORDER BY n_events DESC, user_id` tie-break
    * BIT-exactly at any count magnitude (the double-scored TopKAgg
    * would lose integer exactness above 2^53 per-(type,user) events).
    */
  def eventsTopn(spark: SparkSession, dir: String, n: Int = 3): DataFrame = {
    import graft.functions.expressions.TopKAgg.topKLong
    Tables.events(spark, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("event_type"))
      .agg(topKLong(col("n"), col("user_id"), n).as("tk"))
      .select(col("event_type"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("event_type"), (col("pos") + 1).cast("long").as("rank"),
        col("e.id").as("user_id"), col("e.score").as("n_events"))
      .orderBy(col("event_type"), col("rank"))
  }

  def eventsTopnSql(n: Int = 3): String =
    s"""WITH c AS (
       |  SELECT event_type, user_id, COUNT(*)::BIGINT AS n_events
       |  FROM events GROUP BY 1, 2
       |), r AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY event_type ORDER BY n_events DESC, user_id) AS rank
       |  FROM c
       |)
       |SELECT event_type, rank::BIGINT AS rank, user_id, n_events
       |FROM r WHERE rank <= $n
       |ORDER BY event_type, rank""".stripMargin

  val eventsRollingSql: String =
    s"""WITH daily AS (
       |  SELECT event_type,
       |    date_diff('day', DATE '2024-01-01', ts::DATE)::BIGINT AS day,
       |    COUNT(*) AS n_events, ${fxSql("SUM(value)", 2)} AS sum_value
       |  FROM events GROUP BY 1, 2
       |)
       |SELECT event_type, day, n_events, sum_value,
       |  ${fxSql("AVG(n_events) OVER (PARTITION BY event_type ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)")} AS ma7,
       |  (n_events - COALESCE(lag(n_events) OVER (PARTITION BY event_type ORDER BY day), n_events))::BIGINT AS delta
       |FROM daily
       |ORDER BY event_type, day""".stripMargin

  val eventsSessionSql: String =
    s"""WITH marked AS (
       |  SELECT user_id, event_id, ts, value,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR FLOOR(epoch(ts)) - FLOOR(epoch(lag(ts) OVER w)) > 1800
       |         THEN 1 ELSE 0 END AS new_session
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), sessions AS (
       |  SELECT user_id, value,
       |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
       |  FROM marked
       |)
       |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq, COUNT(*) AS n_events,
       |  ${fxSql("SUM(value)")} AS sum_value
       |FROM sessions
       |GROUP BY user_id, session_seq
       |ORDER BY user_id, session_seq""".stripMargin

  /** Distinct-cardinality rollup per event type: unique users, unique
    * active days, total events (lib.rs:446 get_stats exposes exactly
    * these corpus cardinalities). Exact COUNT(DISTINCT) is the
    * ORACLE-COMPARABLE form — Spark plans it as a two-phase expand +
    * partial-distinct aggregate, so each distinct key is shuffled once;
    * correct, but the shuffle carries every (event_type, user_id) pair.
    */
  def eventsDistinct(spark: SparkSession, dir: String): DataFrame = {
    val day = datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
      .cast("long")
    Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"), day.as("day"))
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
           countDistinct(col("day")).as("n_days"),
           count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))
  }

  val eventsDistinctSql: String =
    """SELECT event_type,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  COUNT(DISTINCT date_diff('day', DATE '2024-01-01', ts::DATE)::BIGINT) AS n_days,
      |  COUNT(*) AS n_events
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** The 100 TB distinct-count path, runnable: [[eventsDistinct]] with
    * HyperLogLog++ (`approx_count_distinct`, rsd 2%) swapped in behind
    * the same column shape. The sketch is map-side mergeable — each
    * partition emits one fixed-size HLL register array per group, so
    * the shuffle carries O(groups) bytes instead of O(distinct keys);
    * at a billion users that is the difference between a metadata-sized
    * exchange and a multi-TB one. No cross-engine sketch agreement
    * exists, so the driver records a rows-only check; AnalyticsSpec
    * pins each approximate cardinality within 5% of the exact form,
    * which is the real contract.
    */
  def eventsDistinctSketch(spark: SparkSession, dir: String): DataFrame = {
    val day = datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
      .cast("long")
    Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"), day.as("day"))
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.02).as("n_users"),
           approx_count_distinct(col("day"), 0.02).as("n_days"),
           count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))
  }

  /** Predicate-only revenue scan (TPC-H Q6 shape): a single parquet
    * scan with every predicate pushed to the reader and ONE global
    * aggregate — the cheapest possible plan shape, and the purest
    * test that pushdown actually happens (`.explain` must show all
    * three ranges in PushedFilters and a 4-column ReadSchema — the
    * three predicate columns plus l_extendedprice for the sum). At
    * 100 TB this is the query where pushdown is the whole game:
    * row-group min/max statistics skip most of the corpus before a
    * single byte of l_extendedprice is decoded.
    */
  def q6(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1997-01-01").cast("timestamp") &&
              col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
              col("l_quantity") < 24)
      .agg(moneyFx(col("l_extendedprice") * col("l_discount")).as("revenue"))

  val q6Sql: String =
    s"""SELECT ${moneyFxSql("l_extendedprice * l_discount")} AS revenue
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
       |  AND l_shipdate <  TIMESTAMP '1997-01-01'
       |  AND l_discount BETWEEN 0.05 AND 0.07
       |  AND l_quantity < 24""".stripMargin

  /** Returned-item report (TPC-H Q10 shape): revenue lost to returns
    * per customer, top 20. The fact-fact lineitem⋈orders join shuffles
    * on orderkey; the join to customer is keyed on custkey and hinted
    * shuffle_hash — customer is corpus-proportional (millions of rows
    * per TB), NOT broadcast-sized, so hinting broadcast here would be
    * the same driver-OOM class the r4 verdict flagged in
    * events_retention. nation (25 rows, constant-bounded) is the only
    * broadcast. Top-20 is TakeOrderedAndProject — per-partition heaps,
    * never a global sort.
    */
  def q10(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).filter(col("l_returnflag") === "R")
    val o  = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1996-07-01").cast("timestamp"))
    val c  = Tables.customer(spark, dir)
    val n  = Tables.nation(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c.hint("shuffle_hash"), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(moneyFx(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  val q10Sql: String =
    s"""SELECT c_custkey, c_name, n_name,
       |  ${moneyFxSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
       |  COUNT(*) AS n_items
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE l_returnflag = 'R'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01'
       |  AND o_orderdate <  TIMESTAMP '1996-07-01'
       |GROUP BY c_custkey, c_name, n_name
       |ORDER BY revenue DESC, c_custkey
       |LIMIT 20""".stripMargin

  /** Market-share series (TPC-H Q8 shape): each supplier-nation's
    * share of total revenue per order year. Two corpus-sized relations
    * join on their natural keys (lineitem⋈orders on orderkey shuffles;
    * supplier is corpus-proportional → shuffle_hash on suppkey; nation
    * broadcast). The share is a window over the POST-AGGREGATE
    * relation — years × nations rows, constant-bounded at any corpus
    * scale, so the `sum over (partition by year)` sort is free. Share
    * divides the UNROUNDED revenue by the unrounded year total and is
    * fixed-pointed at 1e-6 only on output (re-deriving it from the
    * emitted 1e-2 revenue columns reproduces it approximately, not
    * exactly).
    *
    * Shuffle shape (r11, guide §2.3): the line stream crosses ONE
    * exchange (the orderkey attach). Revenue is pre-aggregated to
    * (l_suppkey, o_year) — suppliers × years groups, map-side
    * combinable — BEFORE the supplier join, so the suppkey exchange
    * carries the collapsed per-supplier relation instead of the full
    * joined line stream. [[OracleNum.moneySum]] is an exact
    * decimal(30,6) sum, so summing the per-supplier partials per
    * (year, nation) is bit-identical to the single-level aggregate
    * (each supplier maps to exactly one nation; the inner supplier
    * join drops the same rows in either order).
    */
  def q8(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(spark, dir)
    val o  = Tables.orders(spark, dir)
    val s  = Tables.supplier(spark, dir)
    val n  = Tables.nation(spark, dir)
    // orders is corpus-proportional: the hint bars the planner from
    // auto-broadcasting its pruned (orderkey, orderdate) projection —
    // a local-SF-only plan that is a driver OOM at 100 TB (same
    // discipline as q5's oc relation)
    val perSupp = li.join(o.hint("shuffle_hash"), li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("l_suppkey"), year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev0"))
    val rev = perSupp
      .join(s.hint("shuffle_hash"), col("l_suppkey") === s("s_suppkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .groupBy(col("o_year"), col("n_name"))
      .agg(sum(col("rev0")).as("rev"))
    rev
      .select(col("o_year"), col("n_name"), fx(col("rev").cast("double"), 2).as("revenue"),
        // exact decimal window sum, then ONE scalar double division —
        // deterministic cross-engine (no decimal-division scale rules)
        fx(col("rev").cast("double") /
            sum(col("rev")).over(Window.partitionBy(col("o_year"))).cast("double"), 6)
          .as("share"))
      .orderBy(col("o_year"), col("n_name"))
  }

  val q8Sql: String =
    s"""WITH rev AS (
       |  SELECT EXTRACT(YEAR FROM o_orderdate)::BIGINT AS o_year, n_name,
       |    ${moneySumSql("l_extendedprice * (1.0 - l_discount)")} AS rev
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |  GROUP BY 1, 2
       |)
       |SELECT o_year, n_name, ${fxSql("rev::DOUBLE", 2)} AS revenue,
       |  ${fxSql("rev::DOUBLE / (SUM(rev) OVER (PARTITION BY o_year))::DOUBLE", 6)} AS share
       |FROM rev
       |ORDER BY o_year, n_name""".stripMargin

  /** Daily-volume trend per event type: ordinary-least-squares slope
    * and intercept of the daily count series — the "is this event
    * growing" readout next to [[eventsAnomaly]]'s outlier flags. The
    * five OLS moments (n, Σd, Σc, Σdc, Σd²) are EXACT: the day×count
    * products are summed as DECIMAL(38,0) because at 100 TB rates
    * Σdc overflows BIGINT (3650 days × 1e12 events/day × day index),
    * while DuckDB's HUGEINT sums are cast to the same type; the
    * closed-form slope/intercept then divide those exact integers in
    * scalar double arithmetic with a fixed operation order — no
    * aggregation-order jitter, both engines produce identical
    * doubles. Two bounded aggregates: corpus → daily grain, daily →
    * types; nothing corpus-sized past the first exchange.
    */
  def eventsTrend(spark: SparkSession, dir: String): DataFrame = {
    val day = datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
      .cast("long")
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), day.as("day"))
      .agg(count(lit(1)).as("c"))
    trendFromDaily(daily)
  }

  /** OLS moments + closed form over a (event_type, day, c) daily
    * series — split out so the spec can feed a known synthetic line
    * and assert exact recovery.
    */
  def trendFromDaily(daily: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val m = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("day")).as("sd"),
        sum(col("c")).as("sc"),
        sum((col("day") * col("c")).cast(dec)).as("sdc"),
        sum((col("day") * col("day")).cast(dec)).as("sd2"))
    val num = col("n").cast(dec) * col("sdc") - col("sd").cast(dec) * col("sc").cast(dec)
    val den = col("n").cast(dec) * col("sd2") - col("sd").cast(dec) * col("sd").cast(dec)
    val slope = when(den =!= 0, num.cast("double") / den.cast("double")).otherwise(0.0)
    m.select(col("event_type"), col("n").as("n_days"), col("sc").as("n_events"),
        fx(slope).as("slope"),
        fx(col("sc").cast("double") / col("n") -
           slope * (col("sd").cast("double") / col("n"))).as("intercept"))
      .orderBy(col("event_type"))
  }

  val eventsTrendSql: String =
    s"""WITH daily AS (
       |  SELECT event_type,
       |    date_diff('day', DATE '2024-01-01', ts::DATE)::BIGINT AS day,
       |    COUNT(*)::BIGINT AS c
       |  FROM events GROUP BY 1, 2
       |), m AS (
       |  SELECT event_type, COUNT(*)::BIGINT AS n,
       |    CAST(SUM(day) AS BIGINT) AS sd, CAST(SUM(c) AS BIGINT) AS sc,
       |    CAST(SUM(day * c) AS DECIMAL(38,0)) AS sdc,
       |    CAST(SUM(day * day) AS DECIMAL(38,0)) AS sd2
       |  FROM daily GROUP BY 1
       |), s AS (
       |  SELECT *, CASE WHEN (CAST(n AS DECIMAL(38,0)) * sd2
       |                       - CAST(sd AS DECIMAL(38,0)) * CAST(sd AS DECIMAL(38,0))) <> 0
       |    THEN CAST(CAST(n AS DECIMAL(38,0)) * sdc
       |              - CAST(sd AS DECIMAL(38,0)) * CAST(sc AS DECIMAL(38,0)) AS DOUBLE)
       |         / CAST(CAST(n AS DECIMAL(38,0)) * sd2
       |                - CAST(sd AS DECIMAL(38,0)) * CAST(sd AS DECIMAL(38,0)) AS DOUBLE)
       |    ELSE 0.0 END AS slope
       |  FROM m
       |)
       |SELECT event_type, n AS n_days, sc AS n_events,
       |  ${fxSql("slope")} AS slope,
       |  ${fxSql("sc::DOUBLE / n - slope * (sd::DOUBLE / n)")} AS intercept
       |FROM s
       |ORDER BY event_type""".stripMargin

  /** First-order behavioral transition matrix: counts of consecutive
    * (previous → next) event-type pairs per user timeline, with each
    * row's share of its source state — the Markov-chain readout that
    * generalizes [[eventsFunnel]]'s fixed path to every path. One
    * user-keyed window (the same partitioning sessionization rides)
    * produces the lag pairs; the aggregate output is types²-bounded,
    * so the share window is free. Ties inside a timestamp are broken
    * by event_id — total order, so both engines see identical pairs.
    */
  def eventsMarkov(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
    pairs.groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n_transitions"))
      .withColumn("share_bp",
        expr("(10000L * n_transitions) div sum(n_transitions) over (partition by prev_type)"))
      .orderBy(col("prev_type"), col("next_type"))
  }

  val eventsMarkovSql: String =
    s"""WITH ordered AS (
       |  SELECT user_id, event_type,
       |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
       |  FROM events
       |), t AS (
       |  SELECT prev_type, event_type AS next_type, COUNT(*)::BIGINT AS n_transitions
       |  FROM ordered WHERE prev_type IS NOT NULL
       |  GROUP BY 1, 2
       |)
       |SELECT prev_type, next_type, n_transitions,
       |  CAST((10000 * n_transitions) // (SUM(n_transitions) OVER (PARTITION BY prev_type)) AS BIGINT) AS share_bp
       |FROM t
       |ORDER BY prev_type, next_type""".stripMargin

  /** A/B cohort comparison: split users into two cohorts by id parity
    * (the deterministic stand-in for an assignment column) and run a
    * two-proportion z-test per event type on "fraction of cohort users
    * who fired the event" — the experiment-readout every product
    * analytics stack bolts onto an event stream. All inputs are exact
    * integer cardinalities (two distinct aggregates: corpus→users,
    * corpus→(type,user)); z² is then SCALAR double arithmetic over
    * those integers with a fixed operation order, so both engines
    * produce bit-identical doubles (the cross-engine float hazard is
    * aggregation-order jitter, absent here) and the fx'd value plus
    * the ≥3.8415 (p<0.05) flag agree exactly. The z² numerator
    * cross-product (x_a·n_b − x_b·n_a) is computed in DECIMAL(38,0)
    * (HUGEINT in the oracle) BEFORE the double conversion — in plain
    * BIGINT it would silently wrap once cohorts approach ~3e9 users
    * (x·n ≈ 9.2e18) while DuckDB raised an overflow error, the same
    * hazard class events_trend/q14 already guard against. Everything
    * after the two distinct aggregates operates on types×2-bounded
    * relations; the one-row cohort-totals relation rides a broadcast.
    */
  def eventsAb(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val grp = (col("user_id") % 2).as("grp")
    val totals = ev.select(col("user_id")).distinct()
      .select((col("user_id") % 2).as("grp"))
      .agg(sum(when(col("grp") === 0, 1L).otherwise(0L)).as("n_a"),
           sum(when(col("grp") === 1, 1L).otherwise(0L)).as("n_b"))
    val hits = ev.select(col("event_type"), col("user_id")).distinct()
      .select(col("event_type"), grp)
      .groupBy(col("event_type"))
      .agg(sum(when(col("grp") === 0, 1L).otherwise(0L)).as("x_a"),
           sum(when(col("grp") === 1, 1L).otherwise(0L)).as("x_b"))
    val bigN = col("n_a") + col("n_b")
    val dec = "decimal(38,0)"
    val crossDiff = (col("x_a").cast(dec) * col("n_b").cast(dec) -
      col("x_b").cast(dec) * col("n_a").cast(dec)).cast("double")
    val dNum = (crossDiff * crossDiff) * bigN.cast("double")
    val dDen = col("n_a").cast("double") * col("n_b").cast("double") *
      (col("x_a") + col("x_b")).cast("double") *
      (bigN - col("x_a") - col("x_b")).cast("double")
    val z2 = when(dDen > 0.0, dNum / dDen).otherwise(0.0)
    hits.crossJoin(broadcast(totals))
      .select(col("event_type"), col("n_a"), col("x_a"), col("n_b"), col("x_b"),
        fx(col("x_a").cast("double") / col("n_a")).as("rate_a"),
        fx(col("x_b").cast("double") / col("n_b")).as("rate_b"),
        fx(z2).as("z2"),
        (fx(z2) >= 38415L).cast("long").as("significant"))
      .orderBy(col("event_type"))
  }

  val eventsAbSql: String =
    s"""WITH t AS (
       |  SELECT
       |    SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
       |    SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b
       |  FROM (SELECT DISTINCT user_id FROM events)
       |), h AS (
       |  SELECT event_type,
       |    SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS x_a,
       |    SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS x_b
       |  FROM (SELECT DISTINCT event_type, user_id FROM events)
       |  GROUP BY event_type
       |), j AS (
       |  SELECT h.*, t.n_a, t.n_b,
       |    CASE WHEN (n_a::DOUBLE * n_b::DOUBLE
       |               * (x_a + x_b)::DOUBLE
       |               * ((n_a + n_b) - x_a - x_b)::DOUBLE) > 0
       |      THEN ((x_a::HUGEINT * n_b - x_b::HUGEINT * n_a)::DOUBLE
       |             * (x_a::HUGEINT * n_b - x_b::HUGEINT * n_a)::DOUBLE)
       |             * (n_a + n_b)::DOUBLE
       |           / (n_a::DOUBLE * n_b::DOUBLE * (x_a + x_b)::DOUBLE
       |              * ((n_a + n_b) - x_a - x_b)::DOUBLE)
       |      ELSE 0.0 END AS z2
       |  FROM h, t
       |)
       |SELECT event_type, n_a, x_a, n_b, x_b,
       |  ${fxSql("x_a::DOUBLE / n_a")} AS rate_a,
       |  ${fxSql("x_b::DOUBLE / n_b")} AS rate_b,
       |  ${fxSql("z2")} AS z2,
       |  (${fxSql("z2")} >= 38415)::BIGINT AS significant
       |FROM j
       |ORDER BY event_type""".stripMargin

  /** Large-volume customer report (TPC-H Q18 shape): orders whose
    * total line quantity clears a threshold, with their customer, top
    * 20 by order value. The HAVING gate runs FIRST as a map-side
    * partial aggregate on the fact table — at 100 TB the >200 filter
    * keeps a sub-percent fraction, so the two join probes downstream
    * carry a tiny relation instead of the corpus. Joins stay keyed
    * (orderkey rides the aggregate's own partitioning; customer is
    * corpus-proportional → shuffle_hash, never broadcast). Quantity
    * sums are exact: quantities are integral-valued, so the double
    * sum is exact well past any real order size.
    */
  def q18(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o  = Tables.orders(spark, dir)
    val c  = Tables.customer(spark, dir)
    val big = li.groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("qty"))
      .filter(col("qty") > 200.0)
    big.join(o, big("l_orderkey") === o("o_orderkey"))
      .join(c.hint("shuffle_hash"), o("o_custkey") === c("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("l_orderkey").as("o_orderkey"),
        col("o_orderdate"), fx(col("o_totalprice"), 2).as("total_price"),
        fx(col("qty")).as("sum_qty"))
      .orderBy(col("total_price").desc, col("o_orderkey"))
      .limit(20)
  }

  val q18Sql: String =
    s"""SELECT c_custkey, c_name, o_orderkey, o_orderdate,
       |  ${fxSql("o_totalprice", 2)} AS total_price,
       |  ${fxSql("qty")} AS sum_qty
       |FROM (
       |  SELECT l_orderkey, SUM(l_quantity) AS qty
       |  FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 200
       |) big
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |ORDER BY total_price DESC, o_orderkey
       |LIMIT 20""".stripMargin

  /** Order-priority checking (TPC-H Q4 shape): orders of one quarter
    * with at least one LATE line (l_shipdate past the order date —
    * the generator's proxy for Q4's commit<receipt predicate),
    * counted per priority. The shape anchor: a correlated EXISTS with
    * a COMPOUND condition (equi key + inequality) compiled to a
    * left_semi join — one probe per order, no fan-out, no distinct.
    * The quarter predicate is pushed to the orders SCAN (row-group
    * pruning on o_orderdate); lineitem is corpus-proportional →
    * shuffle_hash on the equi key, inequality evaluated at the probe.
    */
  def q4(spark: SparkSession, dir: String): DataFrame = {
    val o  = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1996-04-01").cast("timestamp"))
    // the EXISTS condition + the quarter bound IMPLY
    // l_shipdate > 1996-01-01; Catalyst cannot derive range
    // constraints across a join, so state the semantics-preserving
    // predicate explicitly — it reaches the lineitem SCAN and
    // row-group-prunes the corpus-proportional side
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit("1996-01-01").cast("timestamp"))
    o.join(li.hint("shuffle_hash"),
        o("o_orderkey") === li("l_orderkey") && li("l_shipdate") > o("o_orderdate"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  val q4Sql: String =
    s"""SELECT o_orderpriority, COUNT(*) AS order_count
       |FROM orders o
       |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
       |  AND o_orderdate <  TIMESTAMP '1996-04-01'
       |  AND EXISTS (SELECT 1 FROM lineitem l
       |              WHERE l.l_orderkey = o.o_orderkey
       |                AND l.l_shipdate > o.o_orderdate
       |                AND l.l_shipdate > TIMESTAMP '1996-01-01')
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  /** Promotion-revenue share (TPC-H Q14 shape): of one year's line
    * revenue, the basis-point share carried by PROMO-type parts. The
    * ratio is computed from the two [[OracleNum.moneySum]]-exact fx'd
    * sums with integer `div` — order-independent and cross-engine
    * exact (a double division would sit at the mercy of the last
    * ulp). The shipdate year is pushed to the lineitem scan; part is
    * corpus-proportional → shuffle_hash on partkey; ONE conditional
    * aggregation carries promo and total together (no second join or
    * scan for the denominator).
    */
  def q14(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1997-01-01").cast("timestamp"))
    val p = Tables.part(spark, dir)
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    li.join(p.hint("shuffle_hash"), li("l_partkey") === p("p_partkey"))
      .agg(
        moneyFx(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0))).as("promo_fx"),
        moneyFx(rev).as("total_fx"))
      // the 10000× product blows through BIGINT once yearly revenue
      // cents pass ~9e14 (well inside 100 TB) — run it in
      // DECIMAL(38,0) / HUGEINT (IntegralDivide truncates exactly on
      // decimals; `//` on HUGEINT likewise), the events_trend idiom
      .select(col("promo_fx"), col("total_fx"),
        expr("(10000 * cast(promo_fx as decimal(38,0))) div total_fx")
          .as("promo_share_bp"))
  }

  val q14Sql: String =
    s"""SELECT promo_fx, total_fx,
       |  CAST((10000 * promo_fx::HUGEINT) // total_fx AS BIGINT) AS promo_share_bp
       |FROM (
       |  SELECT
       |    ${moneyFxSql("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")} AS promo_fx,
       |    ${moneyFxSql("l_extendedprice * (1.0 - l_discount)")} AS total_fx
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
       |    AND l_shipdate <  TIMESTAMP '1997-01-01'
       |)""".stripMargin

  /** Small-quantity-order revenue (TPC-H Q17 shape) — the
    * scalar-correlated-subquery anchor: brand-filtered lines whose
    * quantity sits under 20% of their PART's average quantity, total
    * revenue scaled to a yearly figure. The correlated
    * `(SELECT 0.2*avg(..) WHERE partkey = outer)` decorrelates into a
    * per-part aggregate joined back on partkey — corpus-proportional
    * on both sides, so the join is shuffle_hash, and the brand gate
    * is applied BEFORE the quantity join so only the brand's parts
    * ride it. l_quantity is integer-valued, so per-part sums and the
    * avg are exact doubles and the 0.2·avg threshold is the identical
    * IEEE double in both engines — the comparison cannot split them.
    */
  def q17(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val p  = Tables.part(spark, dir).filter(col("p_brand") === "Brand#9")
      .select(col("p_partkey"))
    // branded feeds BOTH the per-part average and the probe side;
    // Catalyst does not dedupe repeated subtrees, so without the
    // persist the lineitem scan + brand semi-join would run twice
    // (the ccnetBuckets precedent; three narrow columns, spillable)
    val branded = li.select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .join(p.hint("shuffle_hash"), li("l_partkey") === p("p_partkey"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val avgQ = branded.groupBy(col("l_partkey"))
      .agg((avg(col("l_quantity")) * 0.2).as("q_thresh"))
    branded.join(avgQ.hint("shuffle_hash"), Seq("l_partkey"))
      .filter(col("l_quantity") < col("q_thresh"))
      .agg(moneyFx(col("l_extendedprice") / 7.0).as("avg_yearly"),
           count(lit(1)).as("n_lines"))
  }

  val q17Sql: String =
    s"""SELECT ${moneyFxSql("l_extendedprice / 7.0")} AS avg_yearly,
       |  COUNT(*) AS n_lines
       |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
       |WHERE p.p_brand = 'Brand#9'
       |  AND l.l_quantity < (
       |    SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
       |    JOIN part p2 ON l2.l_partkey = p2.p_partkey
       |    WHERE l2.l_partkey = l.l_partkey AND p2.p_brand = 'Brand#9')""".stripMargin

  /** Volume shipping between two nations (TPC-H Q7 shape) — the
    * TWO-ROLE dimension anchor: nation joins the pipeline twice under
    * different roles (the supplier's nation and the customer's
    * nation), and the pair filter is the symmetric (A,B)|(B,A)
    * disjunction. Both nation aliases are the same 25-row constant →
    * both broadcast; supplier and customer are corpus-proportional →
    * shuffle_hash on their keys; lineitem⋈orders is the one fact-fact
    * shuffle. Revenue per (supp_nation, cust_nation, year) via
    * order-independent [[OracleNum.moneyFx]].
    */
  def q7(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o  = Tables.orders(spark, dir)
    val s  = Tables.supplier(spark, dir)
    val c  = Tables.customer(spark, dir)
    val n1 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
    val pair =
      (col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
      (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1")
    // The OR gate only ever passes rows whose supplier AND customer
    // nations are drawn from the two named nations, but Catalyst
    // cannot derive a single-side predicate from a cross-side OR, so
    // unrestricted it joins the FULL supplier/customer tables and the
    // full line stream crosses three keyed exchanges before the
    // filter. Restricting each nation side to the two rows up front
    // (implied by `pair`, which still runs unchanged below — the
    // result multiset is identical) makes the supplier/customer
    // inputs 2/|nations| of the corpus, and joining lineitem⋈supplier
    // FIRST means only the surviving ~8% of lines pay the orderkey
    // and custkey exchanges: the full line stream crosses the network
    // once (suppkey) instead of three times.
    val two = Seq("NATION_1", "NATION_2")
    val sN = s.join(broadcast(n1.filter(col("supp_nation").isin(two: _*))),
      s("s_nationkey") === col("n1_key"))
    val cN = c.join(broadcast(n2.filter(col("cust_nation").isin(two: _*))),
      c("c_nationkey") === col("n2_key"))
    li.join(sN.hint("shuffle_hash"), li("l_suppkey") === s("s_suppkey"))
      .join(o, li("l_orderkey") === o("o_orderkey"))
      .join(cN.hint("shuffle_hash"), o("o_custkey") === c("c_custkey"))
      .filter(pair)
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(moneyFx(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
             .as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  val q7Sql: String =
    s"""SELECT supp_nation, cust_nation, l_year,
       |  ${moneyFxSql("volume")} AS revenue
       |FROM (
       |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |    year(l_shipdate)::BIGINT AS l_year,
       |    l_extendedprice * (1.0 - l_discount) AS volume
       |  FROM lineitem
       |  JOIN orders   ON l_orderkey = o_orderkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       |     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
       |)
       |GROUP BY supp_nation, cust_nation, l_year
       |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** Top supplier by quarterly revenue (TPC-H Q15 shape) — the
    * scalar-MAX-over-an-aggregate anchor: per-supplier revenue for
    * one quarter, then the supplier(s) hitting the global maximum.
    * The aggregate relation feeds BOTH the max scalar and the
    * equality filter, so it is persisted (supplier-count rows, three
    * columns — the q17 precedent); the max is ONE row and rides a
    * broadcast cross join; equality on the [[OracleNum.moneyFx]]'d
    * integer makes the tie semantics exact cross-engine (a double
    * revenue equality would be ulp-lottery). supplier is
    * corpus-proportional → shuffle_hash on suppkey.
    */
  def q15(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(moneyFx(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
             .as("total_rev"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val maxRev = rev.agg(max(col("total_rev")).as("max_rev"))
    val s = Tables.supplier(spark, dir)
    rev.crossJoin(broadcast(maxRev))
      .filter(col("total_rev") === col("max_rev"))
      .join(s.hint("shuffle_hash"), col("l_suppkey") === s("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev"))
      .orderBy(col("s_suppkey"))
  }

  val q15Sql: String =
    s"""WITH rev AS (
       |  SELECT l_suppkey,
       |    ${moneyFxSql("l_extendedprice * (1.0 - l_discount)")} AS total_rev
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
       |    AND l_shipdate <  TIMESTAMP '1996-04-01'
       |  GROUP BY l_suppkey
       |)
       |SELECT s_suppkey, s_name, total_rev
       |FROM rev JOIN supplier ON l_suppkey = s_suppkey
       |WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
       |ORDER BY s_suppkey""".stripMargin

  /** Discounted-revenue over disjunctive brand/size/quantity windows
    * (TPC-H Q19 shape) — the pushdown stress anchor: the join
    * condition is an OR of three conjunct bundles, each constraining
    * BOTH sides. Catalyst extracts the per-side residuals — the
    * (brand, size) disjunction filters the part scan, the quantity
    * disjunction filters the lineitem scan — before the partkey
    * equi-join, so neither side carries rows that no bundle can
    * accept. part is corpus-proportional → shuffle_hash.
    */
  def q19(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val p  = Tables.part(spark, dir)
    val bundles =
      (p("p_brand") === "Brand#1" && p("p_size").between(1, 10) &&
        li("l_quantity").between(1.0, 11.0)) ||
      (p("p_brand") === "Brand#2" && p("p_size").between(1, 20) &&
        li("l_quantity").between(10.0, 20.0)) ||
      (p("p_brand") === "Brand#9" && p("p_size").between(1, 35) &&
        li("l_quantity").between(20.0, 30.0))
    li.join(p.hint("shuffle_hash"),
        li("l_partkey") === p("p_partkey") && bundles)
      .agg(moneyFx(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
             .as("revenue"),
           count(lit(1)).as("n_lines"))
  }

  val q19Sql: String =
    s"""SELECT ${moneyFxSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
       |  COUNT(*) AS n_lines
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 11)
       |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 20)
       |   OR (p_brand = 'Brand#9' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  /** Daily event-type matrix (pivot): one row per day, one count
    * column per event type. The type domain is passed EXPLICITLY —
    * event vocabularies are application-defined constants, and the
    * explicit list both fixes the output schema (a requirement for any
    * downstream table) and saves the extra corpus-wide distinct job
    * Spark's two-argument pivot would run. One shuffle to daily grain
    * with map-side partials; the pivot itself is a zero-shuffle
    * projection of the grouped aggregate.
    */
  def eventsPivot(spark: SparkSession, dir: String): DataFrame = {
    val day = datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
      .cast("long")
    Tables.events(spark, dir)
      .groupBy(day.as("day"))
      .pivot("event_type", EventTypes)
      .count()
      .na.fill(0L, EventTypes)
      .orderBy(col("day"))
  }

  /** The fixed application-level event vocabulary (see TESTDATA). */
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  val eventsPivotSql: String = {
    val cols = EventTypes.map(t =>
      s"""COUNT(*) FILTER (WHERE event_type = '$t') AS "$t"""").mkString(",\n  ")
    s"""SELECT date_diff('day', DATE '2024-01-01', ts::DATE)::BIGINT AS day,
       |  $cols
       |FROM events
       |GROUP BY 1
       |ORDER BY day""".stripMargin
  }

  /** CUBE over (event_type, day-of-week): every subtotal combination
    * in ONE pass — the OLAP cube the reference's get_stats rollups
    * generalize to. Spark plans cube as a single Expand (4 grouping
    * sets) feeding one hash aggregate, so the corpus is scanned once
    * and shuffled once regardless of how many subtotal planes the
    * cube adds. Rolled-up keys are disambiguated by `grouping_id()`
    * (bit per column, first column = MSB — verified identical to
    * DuckDB's GROUPING()) and coalesced to sentinel values so the
    * output is null-free. Day-of-week is `floorMod(day, 7)` in integer
    * arithmetic — engine-neutral, no locale-dependent DOW function,
    * and always 0..6 even for pre-epoch days (a sign-of-dividend `%`
    * would emit -1 for a 2023 event and collide with the rolled-up
    * dow sentinel).
    */
  def eventsCube(spark: SparkSession, dir: String): DataFrame = {
    val day = datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
      .cast("long")
    Tables.events(spark, dir)
      .select(col("event_type"), pmod(day, lit(7L)).as("dow"), col("value"))
      .cube(col("event_type"), col("dow"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n_events"),
        fx(sum(col("value")), 2).as("sum_value"))
      .select(col("gid"),
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("dow"), lit(-1L)).as("dow"),
        col("n_events"), col("sum_value"))
      .orderBy(col("gid"), col("event_type"), col("dow"))
  }

  val eventsCubeSql: String =
    s"""WITH base AS (
       |  SELECT event_type,
       |    ((date_diff('day', DATE '2024-01-01', ts::DATE)::BIGINT % 7) + 7) % 7 AS dow,
       |    value
       |  FROM events
       |)
       |SELECT GROUPING(event_type, dow)::BIGINT AS gid,
       |  COALESCE(event_type, 'ALL') AS event_type,
       |  COALESCE(dow, -1) AS dow,
       |  COUNT(*) AS n_events, ${fxSql("SUM(value)", 2)} AS sum_value
       |FROM base
       |GROUP BY CUBE (event_type, dow)
       |ORDER BY gid, event_type, dow""".stripMargin

  /** Product-type profit (TPC-H Q9 shape, partsupp-free): profit per
    * (nation, order-year) over a name-LIKE-filtered part class, with
    * supply cost proxied by `0.1 × p_retailprice × quantity` (the
    * schema has no partsupp). The anchor: the full five-way snowflake
    * with a substring-filtered dimension. part and supplier are
    * corpus-proportional → shuffle_hash on their keys; lineitem⋈orders
    * is the one fact-fact shuffle; nation (25 rows, constant)
    * broadcasts. Profit sums ride [[OracleNum.moneyFx]] so partition
    * order cannot move the rounded total.
    */
  def q9(spark: SparkSession, dir: String): DataFrame =
    q9WithBloomBar(spark, dir, Q9BloomMinInputBytes)

  /** The measured gate for q9's Bloom pre-filter (guide §3.2): the
    * 'red' part filter keeps ~9% of parts, so ~91% of the line stream
    * crosses its FIRST (and fattest) exchange only to be dropped by
    * the part join on the other side. Above this lineitem input size
    * a Bloom filter over the surviving part keys (built in one
    * bounded part-table pass, ~1.2 MB per million keys at 1% fpp)
    * drops those rows BEFORE the exchange; below it the two extra
    * driver actions cost more than the exchange they shrink. False
    * positives only re-admit rows the equi-join drops anyway —
    * row-identical by construction (AnalyticsSpec pins it). Keys are
    * capped: past [[Q9BloomMaxKeys]] the filter itself stops being a
    * cheap broadcast (~36 MB at the cap) and the pre-filter is
    * skipped — the §2.5 hot-range slicing would be the next step, not
    * a default.
    */
  val Q9BloomMinInputBytes: Long = 64L << 20
  val Q9BloomMaxKeys: Long = 30000000L

  /** Size-gated Bloom pre-filter over a fact column (guide §3.2; the
    * q9 precedent, shared by q2/q20): when `gate`, build a Bloom
    * filter (1% fpp) over `keys`' single LONG column in one bounded
    * dimension pass and drop fact rows whose `factCol` cannot match
    * BEFORE the fact stream's first exchange. False positives only
    * re-admit rows the downstream equi-join drops anyway —
    * row-identical by construction. Past [[Q9BloomMaxKeys]] keys the
    * filter stops being a cheap broadcast and the fact passes
    * unfiltered (the §2.5 hot-range slicing would be the next step,
    * not a default).
    */
  private[graft] def bloomPrefilter(spark: SparkSession, fact: DataFrame,
                                    factCol: String, keys: DataFrame,
                                    gate: Boolean): DataFrame = {
    if (!gate) return fact
    val kcol = keys.columns.head
    val nKeys = keys.count()
    if (nKeys > 0 && nKeys <= Q9BloomMaxKeys) {
      val bf = keys.stat.bloomFilter(kcol, nKeys, 0.01)
      val bfB = spark.sparkContext.broadcast(bf)
      val mightMatch = udf((id: Long) => bfB.value.mightContainLong(id))
      fact.filter(mightMatch(col(factCol)))
    } else fact
  }

  private[graft] def q9WithBloomBar(spark: SparkSession, dir: String,
                                    bar: Long): DataFrame = {
    val liRaw = Tables.lineitem(spark, dir)
    val p  = Tables.part(spark, dir).filter(col("p_name").contains("red"))
    val s  = Tables.supplier(spark, dir)
    val o  = Tables.orders(spark, dir)
    val n  = Tables.nation(spark, dir)
    val li = bloomPrefilter(spark, liRaw, "l_partkey", p.select(col("p_partkey")),
      Tables.inputBytes(spark, dir, "lineitem") >= bar)
    val amount = col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
      col("p_retailprice") * lit(0.1) * col("l_quantity")
    li.join(p.hint("shuffle_hash"), li("l_partkey") === p("p_partkey"))
      .join(s.hint("shuffle_hash"), li("l_suppkey") === s("s_suppkey"))
      .join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(moneyFx(amount).as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  val q9Sql: String =
    s"""SELECT n_name AS nation, year(o_orderdate)::BIGINT AS o_year,
       |  ${moneyFxSql("l_extendedprice * (1.0 - l_discount) - p_retailprice * 0.1 * l_quantity")} AS sum_profit
       |FROM lineitem
       |JOIN part     ON l_partkey = p_partkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN orders   ON l_orderkey = o_orderkey
       |JOIN nation   ON s_nationkey = n_nationkey
       |WHERE p_name LIKE '%red%'
       |GROUP BY 1, 2
       |ORDER BY nation, o_year DESC""".stripMargin

  /** Important parts by national line value (TPC-H Q11 shape,
    * partsupp-free): per-part revenue carried by one nation's
    * suppliers, keeping parts above 2× the MEAN part value — the
    * HAVING-over-a-GLOBAL-fraction anchor. A fixed fraction of the
    * total (TPC-H's literal form) empties as the part count grows —
    * the benchmark itself scales its fraction by 1/SF — so the
    * threshold is mean-relative: scale-free and non-degenerate at
    * every SF. The per-part aggregate feeds BOTH the scalar
    * (total, count) row and the filter, so it is persisted
    * (part-count rows; the q15/q17 precedent); the scalar is ONE row →
    * broadcast cross join. The threshold compares [[OracleNum.fx]]'d
    * integers (`value_fx × n_parts > 2 × total_fx`) — exact on both
    * engines, no double-division ulp lottery; the product runs in
    * DECIMAL(38,0)/HUGEINT (part-count × a 1e-2-unit national total
    * passes BIGINT well inside 100 TB). Top-100 by value is
    * TakeOrderedAndProject — bounded output, never a global sort.
    * supplier is corpus-proportional → shuffle_hash; nation
    * broadcasts.
    */
  def q11(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val s  = Tables.supplier(spark, dir)
    val n  = Tables.nation(spark, dir).filter(col("n_name") === "NATION_3")
    val v = li.join(s.hint("shuffle_hash"), li("l_suppkey") === s("s_suppkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .groupBy(col("l_partkey").as("p_partkey"))
      .agg(moneyFx(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
             .as("value_fx"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = v.agg(sum(col("value_fx").cast("decimal(38,0)")).as("total_fx"),
                      count(lit(1)).as("n_parts"))
    v.crossJoin(broadcast(total))
      .filter(col("value_fx").cast("decimal(38,0)") * col("n_parts") >
              col("total_fx") * lit(2L))
      .select(col("p_partkey"), col("value_fx"))
      .orderBy(col("value_fx").desc, col("p_partkey"))
      .limit(100)
  }

  val q11Sql: String =
    s"""WITH v AS (
       |  SELECT l_partkey AS p_partkey,
       |    ${moneyFxSql("l_extendedprice * (1.0 - l_discount)")} AS value_fx
       |  FROM lineitem
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation   ON s_nationkey = n_nationkey
       |  WHERE n_name = 'NATION_3'
       |  GROUP BY l_partkey
       |)
       |SELECT p_partkey, value_fx FROM v
       |WHERE value_fx::HUGEINT * (SELECT COUNT(*) FROM v)
       |    > (SELECT SUM(value_fx::HUGEINT) FROM v) * 2
       |ORDER BY value_fx DESC, p_partkey
       |LIMIT 100""".stripMargin

  /** Customer order-count distribution (TPC-H Q13 shape): how many
    * customers placed exactly k non-urgent orders, INCLUDING the
    * zero-order customers — the outer-join-preserving-zeros anchor.
    * The scale form pre-aggregates orders to one (custkey, count) row
    * BEFORE the outer join (map-side partials; the literal
    * left-join-then-count would fan every customer row by its order
    * count and shuffle the fan-out). Both sides then meet key-wise on
    * custkey — corpus-proportional, so shuffle_hash, never broadcast.
    * The second aggregate's key space is order-count-bounded (a few
    * hundred values at any corpus size).
    */
  def q13(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val perCust = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
    c.join(perCust.hint("shuffle_hash"), c("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("n"), lit(0L)).as("c_count"))
      .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val q13Sql: String =
    s"""SELECT c_count, COUNT(*) AS custdist
       |FROM (
       |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
       |  FROM customer LEFT JOIN orders
       |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
       |  GROUP BY c_custkey
       |)
       |GROUP BY c_count
       |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** Supplier diversity per part class (TPC-H Q16 shape, lineitem as
    * the part↔supplier bridge): distinct shippers per (brand, size)
    * over an IN-list part class, excluding deficit-balance suppliers —
    * the NOT-IN-exclusion + COUNT-DISTINCT anchor. The bridge is
    * deduplicated to distinct (partkey, suppkey) FIRST (one shuffle
    * with partial distinct — the raw line stream never reaches the
    * joins); the exclusion list is corpus-proportional → left_anti
    * shuffle_hash on suppkey (NOT IN compiles to anti only because
    * s_suppkey is non-null by construction); the part class rides a
    * shuffle_hash equi-join with the type/size predicates pushed to
    * the part scan.
    */
  def q16(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .filter(col("p_type") =!= "PROMO" &&
              col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
    val bad = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") < 0.0).select(col("s_suppkey"))
    // Exchange plan (r11): the old shape crossed the pair stream FOUR
    // times — distinct on (partkey, suppkey), anti-join re-key on
    // suppkey, part-join re-key on partkey, count-distinct re-key on
    // (brand, size, suppkey). Keying the dedup's one exchange on
    // l_suppkey ALONE (a valid clustering for the compound distinct —
    // subset-key satisfaction, the dsirInst precedent) lets the
    // anti-join reuse the partitioning with no exchange of its own.
    // The anti-join is written last but Catalyst's
    // PushDownLeftSemiAntiJoin sinks it below the part join to just
    // above the dedup (its key touches no part column), which is
    // exactly where the partitioning reuse wants it — so only the
    // part-join re-key on partkey and the small post-filter
    // (brand, size, suppkey) aggregate exchange remain: the full pair
    // stream crosses once instead of three times. dedup-before-join
    // keeps the per-(brand,size) distinct-supplier sets — and the
    // rows — identical.
    val bridge = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"))
      .repartition(col("l_suppkey"))
      .distinct()
    bridge
      .join(p.hint("shuffle_hash"), col("l_partkey") === p("p_partkey"))
      .join(bad.hint("shuffle_hash"), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
      .limit(40)
  }

  val q16Sql: String =
    s"""SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
       |FROM part JOIN lineitem ON p_partkey = l_partkey
       |WHERE p_type <> 'PROMO' AND p_size IN (1, 4, 9, 16, 25, 36, 49)
       |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
       |GROUP BY p_brand, p_size
       |ORDER BY supplier_cnt DESC, p_brand, p_size
       |LIMIT 40""".stripMargin

  /** Suppliers who kept finished orders waiting (TPC-H Q21 shape,
    * shipdate-based): count, per supplier, the lines of multi-supplier
    * 'F' orders that no OTHER supplier out-shipped — the
    * same-relation EXISTS + NOT-EXISTS anchor. The oracle is the
    * literal correlated-subquery form; the Spark plan replaces both
    * self-joins with per-order AGGREGATES (the two-level-max trick):
    * per (order, supplier) latest ship m_s, per order the max m1, the
    * count attaining it and the runner-up m2 — then a line qualifies
    * iff the order has ≥2 suppliers and its shipdate reaches the
    * other-supplier maximum (m2 when its own supplier is the UNIQUE
    * argmax, else m1 — where `shipdate ≥ m1` collapses to equality
    * since no line exceeds m1). Every join and aggregate is keyed on
    * l_orderkey over relations at most one row per (order, supplier) —
    * map-side partials everywhere, no fan-out on hot orders, no
    * sort. The 'F' gate is a left_semi pushed BEFORE all aggregation;
    * supplier (corpus-proportional) joins shuffle_hash on suppkey;
    * top-20 is TakeOrderedAndProject, never a global sort.
    */
  def q21(spark: SparkSession, dir: String): DataFrame = {
    val fOrders = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "F").select(col("o_orderkey"))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(fOrders.hint("shuffle_hash"),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
    // three consumers (perOrder, stats, the candidate re-key) — persist
    // the bounded one-row-per-(order,supplier) sketch, q15/q17 precedent
    val perSupp = li.groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("l_shipdate")).as("m_s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perOrder = perSupp.groupBy(col("l_orderkey"))
      .agg(max(col("m_s")).as("m1"), count(lit(1)).as("n_supp"))
    val stats = perSupp
      .join(perOrder.hint("shuffle_hash"), Seq("l_orderkey"))
      .groupBy(col("l_orderkey"), col("m1"), col("n_supp"))
      .agg(count(when(col("m_s") === col("m1"), 1)).as("cnt_m1"),
           max(when(col("m_s") < col("m1"), col("m_s"))).as("m2"))
    // One order-keyed attach instead of two (r10): perSupp ⋈ stats are
    // BOTH one-row-per-(order[, supplier]) relations already keyed on
    // l_orderkey, so their join is exchange-free; attaching the result
    // to the candidate lines on l_orderkey ALONE (own-supplier equality
    // as a residual filter) keeps the line stream on the partitioning
    // its semi-join established — the old (l_orderkey, l_suppkey)
    // equi-join re-exchanged every candidate line on the compound key
    // (a full corpus-sized shuffle at scale) to join relations that
    // were already co-partitioned on the order key. The transient
    // fanout is ≤ n_supp rows per line inside one codegen stage, and
    // the residual filter keeps exactly the own-supplier row the
    // compound join produced — row-identical.
    val perLine = perSupp
      .join(stats.hint("shuffle_hash"), Seq("l_orderkey"))
      .filter(col("n_supp") >= 2)
      .withColumnRenamed("l_suppkey", "ps_suppkey")
    // the own-supplier equality runs behind the NoInline barrier:
    // Catalyst never lifts a non-deterministic conjunct into join
    // keys (a plain `l_suppkey === ps_suppkey` is pulled in and
    // re-creates the compound-key exchange this restructure removes),
    // so the join stays keyed on l_orderkey alone — both sides
    // already live on that partitioning — and the equality runs as a
    // residual filter over the ≤ n_supp-per-order transient fanout.
    // SKEW BOUND (r11, advisor ask): the fanout is n_lines(order) ×
    // n_supp(order) rows inside one codegen stage — quadratic only if
    // one ORDER carries unbounded suppliers AND lines. Orders are
    // bounded business documents (AnalyticsSpec's census pins fanout
    // mass ≤ 8× lines — measured ~4-5× flat across SFs — and max
    // n_supp ≤ 32, measured 8/13/16 at sf0.001/0.01/0.1; the m2
    // aggregate above would hit the same hot order first anyway). A
    // corpus where one order held thousands of
    // both would need the pre-r10 compound-key (l_orderkey, l_suppkey)
    // equi-join back for that key range — a hot-key split (§2.5), not
    // a default: paying a full corpus re-exchange to dodge a per-key
    // product that no order-shaped dataset exhibits is the wrong
    // default at every scale we can measure.
    li.join(perLine.hint("shuffle_hash"), Seq("l_orderkey"))
      .filter(
        when(col("m_s") === col("m1") && col("cnt_m1") === 1,
          col("l_shipdate") >= col("m2"))
        .otherwise(col("l_shipdate") === col("m1")))
      .filter(noInline(col("l_suppkey") === col("ps_suppkey")))
      .join(Tables.supplier(spark, dir).hint("shuffle_hash"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name")).agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  val q21Sql: String =
    s"""SELECT s_name, COUNT(*) AS numwait
       |FROM lineitem l1
       |JOIN orders   ON o_orderkey = l1.l_orderkey
       |JOIN supplier ON s_suppkey = l1.l_suppkey
       |WHERE o_orderstatus = 'F'
       |  AND EXISTS (SELECT 1 FROM lineitem l2
       |              WHERE l2.l_orderkey = l1.l_orderkey
       |                AND l2.l_suppkey <> l1.l_suppkey)
       |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
       |                  WHERE l3.l_orderkey = l1.l_orderkey
       |                    AND l3.l_suppkey <> l1.l_suppkey
       |                    AND l3.l_shipdate > l1.l_shipdate)
       |GROUP BY s_name
       |ORDER BY numwait DESC, s_name
       |LIMIT 20""".stripMargin

  /** Idle high-balance customers (TPC-H Q22 shape): customers whose
    * balance beats the positive-balance average yet placed no order in
    * the recent window, bucketed by a nation-derived code — the
    * scalar-average gate + anti-join anchor. The average gate compares
    * INTEGERS: `a_fx × n > s_fx` over [[OracleNum.fx]]'d 1e-2 units
    * (`bal > S/N ⇔ bal·N > S`), in DECIMAL(38,0)/HUGEINT — a double
    * AVG's partition-order jitter could flip a boundary customer
    * between engines. The gate is ONE row → broadcast cross join; the
    * recent-order key set is corpus-proportional → left_anti
    * shuffle_hash on custkey with the window pushed to the orders
    * scan.
    */
  def q22(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val aFx = fx(col("c_acctbal"), 2)
    val recent = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    val gate = c.filter(col("c_acctbal") > 0.0)
      .agg(sum(aFx.cast("decimal(38,0)")).as("s_fx"), count(lit(1)).as("n"))
    c.crossJoin(broadcast(gate))
      .filter(aFx.cast("decimal(38,0)") * col("n") > col("s_fx"))
      .join(recent.hint("shuffle_hash"), c("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(pmod(col("c_nationkey"), lit(10)).cast("long").as("cntrycode"))
      .agg(count(lit(1)).as("numcust"), moneyFx(col("c_acctbal")).as("totacctbal"))
      .orderBy(col("cntrycode"))
  }

  val q22Sql: String =
    s"""WITH gate AS (
       |  SELECT SUM((${fxSql("c_acctbal", 2)})::HUGEINT) AS s_fx, COUNT(*) AS n
       |  FROM customer WHERE c_acctbal > 0.0
       |)
       |SELECT (c_nationkey % 10)::BIGINT AS cntrycode,
       |  COUNT(*) AS numcust,
       |  ${moneyFxSql("c_acctbal")} AS totacctbal
       |FROM customer, gate
       |WHERE (${fxSql("c_acctbal", 2)})::HUGEINT * n > s_fx
       |  AND NOT EXISTS (SELECT 1 FROM orders
       |                  WHERE o_custkey = c_custkey
       |                    AND o_orderdate >= TIMESTAMP '2000-01-01')
       |GROUP BY 1
       |ORDER BY cntrycode""".stripMargin

  /** Late-shipment priority census (TPC-H Q12 shape, adapted: the
    * generator carries no l_shipmode/commitdate/receiptdate, so the
    * mode axis is l_returnflag and "late" is shipped >30 days after
    * the order date — the same proxy q4/q21 use). The anchor: the ONE
    * fact-fact join (lineitem⋈orders on orderkey — both
    * corpus-proportional → shuffle_hash; rides the bucketed store
    * when present, like q5/q9/q21), a non-equi predicate evaluated at
    * the probe, and a two-arm conditional aggregation in one pass
    * (no second scan for the low-priority arm). The ship-year window
    * is pushed to the lineitem SCAN. Counts are exact integers —
    * no rounding to reconcile cross-engine.
    * Reference: filtering.rs comparison ops over order metadata;
    * advanced_query.rs batched facet counts.
    */
  def q12(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1997-01-01").cast("timestamp"))
    val o = Tables.orders(spark, dir)
    val high = col("o_orderpriority") === "1-URGENT" ||
               col("o_orderpriority") === "2-HIGH"
    li.join(o.hint("shuffle_hash"),
        li("l_orderkey") === o("o_orderkey") &&
        li("l_shipdate") > o("o_orderdate") + expr("INTERVAL 30 DAYS"))
      .groupBy(col("l_returnflag").as("ship_mode"))
      .agg(
        sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy(col("ship_mode"))
  }

  val q12Sql: String =
    s"""SELECT l_returnflag AS ship_mode,
       |  SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
       |      THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
       |  SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
       |      THEN 0 ELSE 1 END)::BIGINT AS low_line_count
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
       |  AND l_shipdate <  TIMESTAMP '1997-01-01'
       |  AND l_shipdate > o_orderdate + INTERVAL 30 DAY
       |GROUP BY l_returnflag
       |ORDER BY ship_mode""".stripMargin

  /** Minimum-cost supplier per part (TPC-H Q2 shape, adapted: no
    * partsupp table, so supply cost is DERIVED — the minimum observed
    * fixed-point unit price `fx(l_extendedprice / l_quantity)` per
    * (part, supplier) pair over the fact stream; same-expression IEEE
    * doubles round identically on both engines before the fx). The
    * anchor: TPC-H's correlated MIN subquery, decorrelated the way a
    * 100 TB plan must — the region-gated (part, supplier, cost)
    * relation is built ONCE and persisted (two consumers: the
    * per-part MIN aggregate and the winner probe; recomputing it
    * would re-run the corpus pass), the MIN is a map-side-partial
    * groupBy (never a per-row subquery), and winners rejoin on the
    * (partkey, cost) equi pair — no window, no sort. supplier is
    * corpus-proportional → shuffle_hash; nation/region are fixed
    * 25/5-row dims → broadcast; the part slice predicates are pushed
    * to the part scan. Top-100 by account balance is
    * TakeOrderedAndProject over a totally-ordered key
    * (balance desc, name, partkey) — bounded output, no global sort.
    * Reference: query_engine.rs scored top-k over filtered joins.
    */
  def q2(spark: SparkSession, dir: String): DataFrame =
    q2WithBloomBar(spark, dir, Q9BloomMinInputBytes)

  /** q2 with the [[bloomPrefilter]] gate parameterised (guide §3.2):
    * the slice predicates keep ~4% of parts and the EUROPE gate ~20%
    * of suppliers, yet the unfiltered plan shipped EVERY line across
    * the (partkey, suppkey) min-aggregate's exchange only to drop
    * ≥96% of the groups at the slice/region joins. Both restrictions
    * commute with the per-(part, supplier) MIN — a group's min
    * depends only on that group's own rows, and dropping a whole
    * group before the aggregate equals dropping it at the join after
    * — so above the bar two Bloom filters (slice part keys, EU
    * supplier keys; each one bounded dimension pass) drop
    * non-matching lines before the first exchange. False positives
    * are re-dropped by the same equi-joins that defined the filters.
    */
  private[graft] def q2WithBloomBar(spark: SparkSession, dir: String,
                                    bar: Long): DataFrame = {
    val ucost = fx(col("l_extendedprice") / col("l_quantity"), 4)
    val nEu = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
    val eu = Tables.supplier(spark, dir)
      .join(broadcast(nEu), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val slice = Tables.part(spark, dir)
      .filter(col("p_size") >= 40 && col("p_type") === "LARGE")
      .select(col("p_partkey"))
    val gate = Tables.inputBytes(spark, dir, "lineitem") >= bar
    val li0 = bloomPrefilter(spark, Tables.lineitem(spark, dir), "l_partkey",
      slice, gate)
    val li = bloomPrefilter(spark, li0, "l_suppkey",
      eu.select(col("s_suppkey")), gate)
    val costs = li
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(ucost).as("cost_fx"))
    val ec = costs.join(eu.hint("shuffle_hash"), col("l_suppkey") === col("s_suppkey"))
      .select(col("l_partkey"), col("cost_fx"), col("s_name"),
              col("s_acctbal"), col("n_name"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val minc = ec.groupBy(col("l_partkey").as("m_partkey"))
      .agg(min(col("cost_fx")).as("min_cost_fx"))
    ec.join(minc.hint("shuffle_hash"),
        col("l_partkey") === col("m_partkey") &&
        col("cost_fx") === col("min_cost_fx"))
      .join(slice.hint("shuffle_hash"), col("l_partkey") === col("p_partkey"))
      .select(fx(col("s_acctbal"), 2).as("s_acctbal_fx"), col("s_name"),
              col("n_name"), col("p_partkey"), col("cost_fx"))
      .orderBy(col("s_acctbal_fx").desc, col("s_name"), col("p_partkey"))
      .limit(100)
  }

  val q2Sql: String =
    s"""WITH costs AS (
       |  SELECT l_partkey, l_suppkey,
       |    MIN(${fxSql("l_extendedprice / l_quantity", 4)}) AS cost_fx
       |  FROM lineitem GROUP BY 1, 2
       |), ec AS (
       |  SELECT l_partkey, cost_fx, s_name, s_acctbal, n_name
       |  FROM costs
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation   ON s_nationkey = n_nationkey
       |  JOIN region   ON n_regionkey = r_regionkey
       |  WHERE r_name = 'EUROPE'
       |)
       |SELECT ${fxSql("s_acctbal", 2)} AS s_acctbal_fx, s_name, n_name,
       |  l_partkey AS p_partkey, cost_fx
       |FROM ec JOIN part ON l_partkey = p_partkey
       |WHERE p_size >= 40 AND p_type = 'LARGE'
       |  AND cost_fx = (SELECT MIN(cost_fx) FROM ec e2
       |                 WHERE e2.l_partkey = ec.l_partkey)
       |ORDER BY s_acctbal_fx DESC, s_name, p_partkey
       |LIMIT 100""".stripMargin

  /** Excess-share suppliers (TPC-H Q20 shape, adapted: availability
    * is DERIVED — a supplier "holds excess" of a part when their 1996
    * shipped quantity exceeds 30% of everyone's 1996 shipped quantity
    * of that part; the region gate replaces Q20's single-nation gate
    * so the answer set stays non-degenerate at small SF). The anchor:
    * Q20's double-nested IN subqueries compiled the scale-safe way —
    * the inner slice restriction joins BEFORE the per-pair aggregate
    * (the name-sliced part keys prune the corpus pass), per-pair and
    * per-part quantities are exact fx'd integers summed
    * order-independently, the share gate is a DECIMAL(38,0)
    * cross-multiplication (never a double division), and the
    * qualifying supplier keys reach supplier as a left_semi
    * shuffle_hash probe — no DISTINCT-then-join, no broadcast of a
    * corpus-proportional key set. Reference: filtering.rs nested
    * boolean gates; query_engine.rs two-stage candidate filtering.
    */
  def q20(spark: SparkSession, dir: String): DataFrame =
    q20WithBloomBar(spark, dir, Q9BloomMinInputBytes)

  /** q20 with the [[bloomPrefilter]] gate parameterised (guide §3.2):
    * the name slice keeps ~13% of parts, so above the bar a Bloom
    * over the slice keys drops ~87% of the date-filtered line stream
    * before its partkey exchange; the slice equi-join it feeds
    * re-drops the false positives — row-identical by construction.
    */
  private[graft] def q20WithBloomBar(spark: SparkSession, dir: String,
                                     bar: Long): DataFrame = {
    val slice = Tables.part(spark, dir)
      .filter(col("p_name").startsWith("small"))
      .select(col("p_partkey"))
    val liDated = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1997-01-01").cast("timestamp"))
    val perPair = bloomPrefilter(spark, liDated, "l_partkey", slice,
        Tables.inputBytes(spark, dir, "lineitem") >= bar)
      .join(slice.hint("shuffle_hash"), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(fx(sum(col("l_quantity"))).as("qty_fx"))
    val perPart = perPair.groupBy(col("l_partkey").as("t_partkey"))
      .agg(sum(col("qty_fx")).as("total_fx"))
    val excess = perPair
      .join(perPart.hint("shuffle_hash"), col("l_partkey") === col("t_partkey"))
      .filter(col("qty_fx").cast("decimal(38,0)") * lit(10L) >
              col("total_fx").cast("decimal(38,0)") * lit(3L))
      .select(col("l_suppkey"))
    val nEu = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
    Tables.supplier(spark, dir)
      .join(excess.hint("shuffle_hash"), col("s_suppkey") === col("l_suppkey"),
            "left_semi")
      .join(broadcast(nEu), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_name"))
      .orderBy(col("s_name"))
  }

  val q20Sql: String =
    s"""WITH perpair AS (
       |  SELECT l_partkey, l_suppkey, ${fxSql("SUM(l_quantity)")} AS qty_fx
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE p_name LIKE 'small%'
       |    AND l_shipdate >= TIMESTAMP '1996-01-01'
       |    AND l_shipdate <  TIMESTAMP '1997-01-01'
       |  GROUP BY 1, 2
       |), perpart AS (
       |  SELECT l_partkey, SUM(qty_fx) AS total_fx FROM perpair GROUP BY 1
       |)
       |SELECT s_name FROM supplier
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = 'EUROPE'
       |  AND s_suppkey IN (
       |    SELECT l_suppkey FROM perpair JOIN perpart USING (l_partkey)
       |    WHERE qty_fx::HUGEINT * 10 > total_fx::HUGEINT * 3)
       |ORDER BY s_name""".stripMargin

  /** First-/last-touch conversion attribution: for every user whose
    * journey contains a purchase, which channel (event_type) was the
    * FIRST touch of their history before the first purchase, and which
    * was the LAST touch immediately preceding it — the two classic
    * marketing-attribution models, reported side by side per channel.
    *
    * Scale shape: NO windows — a per-user window would sort every
    * user's full history; instead the first purchase is a
    * min(struct(ts, event_id)) groupBy (map-side combinable), prior
    * touches filter against it through one shuffle_hash join on
    * user_id, and first/last touch are again struct-MIN/MAX aggregates
    * (the lexicographic struct order carries event_type along for
    * free). Three keyed shuffles total, per-user state is two structs
    * regardless of history length. Ties: equal-ts events resolve by
    * event_id on both engines.
    */
  def eventsAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val firstPurchase = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(min(struct(col("ts"), col("event_id"))).as("fp"))
    val touches = ev.filter(col("event_type") =!= "purchase")
      .join(firstPurchase.hint("shuffle_hash"), Seq("user_id"))
      .filter(struct(col("ts"), col("event_id")) < col("fp"))
    val perUser = touches.groupBy(col("user_id"))
      .agg(min(struct(col("ts"), col("event_id"), col("event_type"))).as("f"),
           max(struct(col("ts"), col("event_id"), col("event_type"))).as("l"))
    // one consumer of perUser: both attribution rows explode from the
    // same aggregate row (a union would recompute the subtree twice)
    perUser
      .select(explode(array(
        struct(col("f.event_type").as("t"), lit(1L).as("w_first"), lit(0L).as("w_last")),
        struct(col("l.event_type").as("t"), lit(0L).as("w_first"), lit(1L).as("w_last"))))
        .as("x"))
      .groupBy(col("x.t").as("touch_type"))
      .agg(sum(col("x.w_first")).as("n_first"), sum(col("x.w_last")).as("n_last"))
      .orderBy(col("touch_type"))
  }

  val eventsAttributionSql: String =
    s"""WITH p AS (
       |  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
       |), fp0 AS (
       |  SELECT user_id, MIN(ts) AS fts FROM p GROUP BY 1
       |), fp AS (
       |  SELECT p.user_id, fts, MIN(p.event_id) AS fid
       |  FROM p JOIN fp0 ON p.user_id = fp0.user_id AND p.ts = fp0.fts
       |  GROUP BY 1, 2
       |), tch AS (
       |  SELECT e.user_id, e.event_type, e.ts, e.event_id
       |  FROM events e JOIN fp USING (user_id)
       |  WHERE e.event_type <> 'purchase'
       |    AND (e.ts < fts OR (e.ts = fts AND e.event_id < fid))
       |), ranked AS (
       |  SELECT user_id, event_type,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rf,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rl
       |  FROM tch
       |)
       |SELECT event_type AS touch_type,
       |  SUM(CASE WHEN rf = 1 THEN 1 ELSE 0 END)::BIGINT AS n_first,
       |  SUM(CASE WHEN rl = 1 THEN 1 ELSE 0 END)::BIGINT AS n_last
       |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin

  /** Top user-journey paths: sessionize (same 30-minute inactivity gap
    * as [[eventsSession]]), take each session's first
    * [[PathLen]] event types in time order, and report the most common
    * paths. The discovery view of the funnel operator — instead of
    * checking ONE hypothesized sequence, it surfaces which sequences
    * actually happen.
    *
    * Scale shape: one keyed shuffle on user_id for the session window
    * (per-user partitions — bounded by a user's history, never
    * corpus-shaped), a session-key aggregate that carries AT MOST
    * [[PathLen]] (rank, type) pairs per session via sort_array of a
    * size-capped collect_list, then a path-count aggregate with
    * map-side partials and a TakeOrdered top-[[PathTopN]] (per-partition
    * heaps, no global sort). Ties: equal-ts events order by event_id;
    * equal-count paths rank lexicographically.
    */
  def eventsPath(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sessioned = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
             col("ts").cast("long") - col("prev_ts").cast("long") > 1800, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"), col("session_seq"))
          .orderBy(col("ts"), col("event_id"))))
      .filter(col("rn") <= PathLen)
    sessioned
      .groupBy(col("user_id"), col("session_seq"))
      .agg(sort_array(collect_list(struct(col("rn"), col("event_type")))).as("steps"))
      .select(array_join(transform(col("steps"), s => s("event_type")), ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(PathTopN)
  }

  val PathLen = 4
  val PathTopN = 20

  val eventsPathSql: String =
    s"""WITH marked AS (
       |  SELECT user_id, ts, event_id, event_type,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR FLOOR(epoch(ts)) - FLOOR(epoch(lag(ts) OVER w)) > 1800
       |         THEN 1 ELSE 0 END AS new_session
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), sessioned AS (
       |  SELECT *, SUM(new_session) OVER (
       |    PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
       |  FROM marked
       |), stepped AS (
       |  SELECT user_id, session_seq, event_type, ts, event_id,
       |    row_number() OVER (PARTITION BY user_id, session_seq
       |      ORDER BY ts, event_id) AS rn
       |  FROM sessioned
       |), paths AS (
       |  SELECT string_agg(event_type, '>' ORDER BY rn) AS path
       |  FROM stepped WHERE rn <= $PathLen
       |  GROUP BY user_id, session_seq
       |)
       |SELECT path, COUNT(*)::BIGINT AS n_sessions
       |FROM paths GROUP BY path
       |ORDER BY n_sessions DESC, path
       |LIMIT $PathTopN""".stripMargin

  /** RFM (recency / frequency / monetary) segmentation — the classic
    * customer-value scoring. Per user: days since last activity
    * (vs the corpus's last day), total event count, and purchase value
    * sum; each dimension scored 1-5 against the corpus's own quintile
    * thresholds.
    *
    * Scale shape: one groupBy(user_id) with map-side partials builds
    * the per-user triple; quintile thresholds are ONE exact
    * `percentile` aggregate over that (already users-sized, not
    * events-sized) relation, emitted as a single row and broadcast
    * back — the global-ntile formulation would instead sort every user
    * on one reducer. All threshold comparisons happen in fx-quantized
    * integer space, so the scores are bit-deterministic across
    * engines.
    */
  def eventsRfm(spark: SparkSession, dir: String): DataFrame = {
    val day = datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).cast("long")
    val perUser = Tables.events(spark, dir)
      .select(col("user_id"), day.as("day"), col("event_type"), col("value"))
      .groupBy(col("user_id"))
      .agg(max(col("day")).as("last_day"),
           count(lit(1)).as("frequency"),
           // decimal-sum then quantize: monetary drift would cascade into
           // the quintile thresholds and every user's m_score
           moneyFx(when(col("event_type") === "purchase", col("value")).otherwise(0.0), 4)
             .as("monetary_fx"))
    val qs = array(lit(0.2), lit(0.4), lit(0.6), lit(0.8))
    val thr = perUser.agg(
      max(col("last_day")).as("ref_day"),
      percentile(col("last_day"), qs).as("tl"),
      percentile(col("frequency"), qs).as("tf"),
      percentile(col("monetary_fx"), qs).as("tm"))
    def score(v: org.apache.spark.sql.Column, t: org.apache.spark.sql.Column,
              asc: Boolean): org.apache.spark.sql.Column = {
      // fx-quantize the interpolated threshold, compare as BIGINT
      val cmp = (i: Int) =>
        if (asc) when(v >= fx(element_at(t, i)), 1L).otherwise(0L)
        else when(v <= fx(element_at(t, i)), 1L).otherwise(0L)
      lit(1L) + cmp(1) + cmp(2) + cmp(3) + cmp(4)
    }
    perUser.crossJoin(broadcast(thr))
      .select(col("user_id"),
        (col("ref_day") - col("last_day")).as("recency_days"),
        col("frequency"), col("monetary_fx"),
        // recency scored on last_day ASCENDING thresholds: later last
        // activity (bigger day) = better = higher score
        score(fx(col("last_day")), col("tl"), asc = true).as("r_score"),
        score(fx(col("frequency")), col("tf"), asc = true).as("f_score"),
        score(fx(col("monetary_fx")), col("tm"), asc = true).as("m_score"))
      .orderBy(col("user_id"))
  }

  val eventsRfmSql: String = {
    def fxq(t: String, i: Int) = fxSql(s"$t[$i]")
    def sc(v: String, t: String) =
      s"(1 + ${(1 to 4).map(i => s"CASE WHEN $v >= ${fxq(t, i)} THEN 1 ELSE 0 END").mkString(" + ")})::BIGINT"
    s"""WITH per_user AS (
       |  SELECT user_id,
       |    MAX(date_diff('day', DATE '2024-01-01', ts::DATE))::BIGINT AS last_day,
       |    COUNT(*)::BIGINT AS frequency,
       |    ${moneyFxSql("CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END", 4)} AS monetary_fx
       |  FROM events GROUP BY user_id
       |), thr AS (
       |  SELECT MAX(last_day) AS ref_day,
       |    quantile_cont(last_day, [0.2, 0.4, 0.6, 0.8]) AS tl,
       |    quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]) AS tf,
       |    quantile_cont(monetary_fx, [0.2, 0.4, 0.6, 0.8]) AS tm
       |  FROM per_user
       |)
       |SELECT user_id, ref_day - last_day AS recency_days, frequency, monetary_fx,
       |  ${sc(fxSql("last_day"), "tl")} AS r_score,
       |  ${sc(fxSql("frequency"), "tf")} AS f_score,
       |  ${sc(fxSql("monetary_fx"), "tm")} AS m_score
       |FROM per_user, thr
       |ORDER BY user_id""".stripMargin
  }

  /** Range-join window for [[eventsRangeJoin]] (seconds). */
  val RangeJoinWindowS = 300L

  /** Bounded time-range join: every purchase within
    * [[RangeJoinWindowS]] seconds AFTER the same user's error event —
    * the "did the error precede a conversion" correlation question,
    * and the canonical RANGE JOIN Spark has no native operator for. A
    * literal inequality join explodes to a per-user cross product
    * before filtering; here both sides key on (user,
    * floor(epoch/window)) and each probe checks exactly TWO buckets
    * (its own and the previous — any in-window antecedent lands in
    * one of them, and an error's single home bucket means no pair can
    * match twice, so no dedup pass). Equi-join + bounded 2× fan-out =
    * the scalable range-join decomposition at any volume.
    */
  def eventsRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val us = unix_micros(col("ts"))
    val winUs = RangeJoinWindowS * 1000000L
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), us.as("us"))
    val bucket = expr(s"us DIV ${winUs}L") // exact integer division
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), bucket.as("bucket"),
        col("event_id").as("error_id"), col("us").as("e_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("us").as("p_us"),
        explode(array(bucket - 1L, bucket)).as("bucket"))
    errors.join(purchases.hint("shuffle_hash"), Seq("user_id", "bucket"))
      .filter(col("p_us") > col("e_us") && col("p_us") <= col("e_us") + winUs)
      .select(col("error_id"), col("purchase_id"),
        (col("p_us") - col("e_us")).as("gap_us"))
      .orderBy(col("error_id"), col("purchase_id"))
  }

  val eventsRangeJoinSql: String =
    s"""SELECT e.event_id AS error_id, p.event_id AS purchase_id,
       |  epoch_us(p.ts) - epoch_us(e.ts) AS gap_us
       |FROM events e JOIN events p
       |  ON e.user_id = p.user_id
       | AND e.event_type = 'error' AND p.event_type = 'purchase'
       | AND epoch_us(p.ts) > epoch_us(e.ts)
       | AND epoch_us(p.ts) <= epoch_us(e.ts) + ${RangeJoinWindowS}000000
       |ORDER BY error_id, purchase_id""".stripMargin

  /** Debounce gap for [[eventsDebounce]] (seconds). */
  val DebounceGapS = 60L

  /** Telemetry debounce: keep an event only if the same user's
    * PREVIOUS event of the same type is more than [[DebounceGapS]]
    * seconds older (or absent) — the repeat-click / retry-storm
    * suppression pass an event pipeline runs before counting anything.
    * One lag window keyed (user, type) — partitions bounded by a
    * user's own history, the same partitioning sessionization already
    * shuffles on; survivors stream out with their gap evidence.
    */
  def eventsDebounce(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("gap_us",
        coalesce(unix_micros(col("ts")) - col("prev_us"), lit(-1L)))
      .filter(col("gap_us") === -1L || col("gap_us") > DebounceGapS * 1000000L)
      .select(col("event_id"), col("user_id"), col("event_type"), col("gap_us"))
      .orderBy(col("event_id"))
  }

  val eventsDebounceSql: String =
    s"""WITH g AS (
       |  SELECT event_id, user_id, event_type,
       |    COALESCE(epoch_us(ts) - lag(epoch_us(ts)) OVER (
       |      PARTITION BY user_id, event_type ORDER BY ts, event_id), -1) AS gap_us
       |  FROM events
       |)
       |SELECT event_id, user_id, event_type, gap_us
       |FROM g WHERE gap_us = -1 OR gap_us > ${DebounceGapS}000000
       |ORDER BY event_id""".stripMargin

  /** DAU/MAU stickiness — the engagement ratio every growth dashboard
    * leads with. MAU rides the [[eventsWau]] explode trick at window
    * 28: each (user, day) activity row at the already-reduced
    * users×days grain contributes to the 28 report days it covers,
    * then one distinct aggregate per day — never a 28× fact self-join
    * nor a windowed COUNT(DISTINCT). Ratio in integer basis points
    * (`div`), order-free cross-engine.
    */
  def eventsStickiness(spark: SparkSession, dir: String): DataFrame = {
    val day = datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
      .cast("long")
    val userDay = Tables.events(spark, dir)
      .select(col("user_id"), day.as("day")).distinct()
    val dau = userDay.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val mau = userDay
      .select(col("user_id"), explode(sequence(col("day"), col("day") + 27L)).as("day"))
      .groupBy(col("day")).agg(countDistinct(col("user_id")).as("mau"))
    dau.join(mau.hint("shuffle_hash"), Seq("day"))
      .withColumn("stickiness_bp", expr("(10000L * dau) div mau"))
      .orderBy(col("day"))
  }

  val eventsStickinessSql: String =
    s"""WITH ud AS (
       |  SELECT DISTINCT user_id,
       |    date_diff('day', DATE '2024-01-01', ts::DATE)::BIGINT AS day
       |  FROM events
       |), dau AS (
       |  SELECT day, COUNT(*)::BIGINT AS dau FROM ud GROUP BY day
       |), contrib AS (
       |  SELECT user_id, unnest(range(day, day + 28)) AS day FROM ud
       |), mau AS (
       |  SELECT day, COUNT(DISTINCT user_id)::BIGINT AS mau FROM contrib GROUP BY day
       |)
       |SELECT day, dau, mau, ((10000 * dau) // mau)::BIGINT AS stickiness_bp
       |FROM dau JOIN mau USING (day)
       |ORDER BY day""".stripMargin

  /** Audience-overlap matrix: exact Jaccard between every pair of
    * event types' user bases (which features share an audience — the
    * cross-sell / cannibalization readout). The naive form self-joins
    * the (type, user) relation on user_id — quadratic on hot users at
    * a fact-table fan-out; here each user's DISTINCT type set (hard-
    * bounded by the type domain, NOT by event volume) is collected
    * once and its ordered 2-combinations emitted by array HOFs, so the
    * pair stream is |users|·C(types,2) at worst and the final count is
    * one types²-bounded aggregate with map-side partials.
    */
  def eventsUserOverlap(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(sort_array(collect_set(col("event_type"))).as("ts"))
    val pairs = perUser.select(explode(flatten(
      transform(col("ts"), (x, i) =>
        transform(slice(col("ts"), i + 2, size(col("ts"))), y =>
          struct(x.as("t1"), y.as("t2")))))).as("p"))
      .groupBy(col("p.t1").as("t1"), col("p.t2").as("t2"))
      .agg(count(lit(1)).as("n_common"))
    val sizes = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id")).distinct()
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    pairs
      .join(broadcast(sizes.select(col("event_type").as("t1"), col("n").as("n1"))), Seq("t1"))
      .join(broadcast(sizes.select(col("event_type").as("t2"), col("n").as("n2"))), Seq("t2"))
      .select(col("t1"), col("t2"), col("n1"), col("n2"), col("n_common"),
        expr("(10000L * n_common) div (n1 + n2 - n_common)").as("jaccard_bp"))
      .orderBy(col("t1"), col("t2"))
  }

  val eventsUserOverlapSql: String =
    s"""WITH tu AS (
       |  SELECT DISTINCT event_type, user_id FROM events
       |), sz AS (
       |  SELECT event_type, COUNT(*)::BIGINT AS n FROM tu GROUP BY event_type
       |), pairs AS (
       |  SELECT a.event_type AS t1, b.event_type AS t2,
       |    COUNT(*)::BIGINT AS n_common
       |  FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.event_type < b.event_type
       |  GROUP BY 1, 2
       |)
       |SELECT t1, t2, s1.n AS n1, s2.n AS n2, n_common,
       |  ((10000 * n_common) // (s1.n + s2.n - n_common))::BIGINT AS jaccard_bp
       |FROM pairs JOIN sz s1 ON t1 = s1.event_type JOIN sz s2 ON t2 = s2.event_type
       |ORDER BY t1, t2""".stripMargin

  /** Fixed-width value histogram per event type (bucket = value DIV
    * [[HistWidth]]) — the width_bucket profiling primitive. One
    * groupBy with map-side partials, no join, output bounded by
    * types × buckets regardless of event volume.
    */
  def eventsHistogram(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .select(col("event_type"), col("value"),
        floor(col("value") / HistWidth).cast("long").as("bucket"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"),
           // order-independent decimal sum: per-(type,bucket) groups are
           // event-volume-shaped, so a raw double SUM can land on an fx
           // rounding boundary at scale (see OracleNum.moneySum)
           moneyFx(col("value"), 4).as("sum_value"),
           fx(min(col("value"))).as("min_value"),
           fx(max(col("value"))).as("max_value"))
      .withColumn("lo", (col("bucket") * HistWidth).cast("double"))
      .select(col("event_type"), col("bucket"), col("lo"),
        col("n"), col("sum_value"), col("min_value"), col("max_value"))
      .orderBy(col("event_type"), col("bucket"))
  }

  val HistWidth = 25.0

  val eventsHistogramSql: String =
    s"""SELECT event_type, FLOOR(value / $HistWidth)::BIGINT AS bucket,
       |  (FLOOR(value / $HistWidth)::BIGINT * $HistWidth)::DOUBLE AS lo,
       |  COUNT(*)::BIGINT AS n,
       |  ${moneyFxSql("value", 4)} AS sum_value,
       |  ${fxSql("MIN(value)")} AS min_value,
       |  ${fxSql("MAX(value)")} AS max_value
       |FROM events
       |GROUP BY 1, 2, 3
       |ORDER BY 1, 2""".stripMargin
}
