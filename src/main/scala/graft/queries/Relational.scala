package graft.queries

import graft.Catalog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Det._

/** Relational operator coverage (SURVEY §2.1-2.7) expressed over the
  * driver's TPC-H-ish tables, each with a DuckDB oracle. Every float
  * aggregate goes through Det's exact-decimal path so Spark and DuckDB
  * produce bit-identical doubles; every query ends in a deterministic
  * ORDER BY.
  *
  * Scale notes (100 TB): all aggregates are partial+final hash aggregates;
  * joins either broadcast a dimension (region/nation/supplier — bounded
  * size at any SF) or shuffle on the join key with AQE handling skew;
  * filters/projections sit directly on the parquet scan so pushdown and
  * column pruning apply.
  */
object Relational {

  private def t(s: SparkSession, dir: String, n: String) = Catalog.table(s, dir, n)

  /** TPC-H Q1-style pricing summary: P7 filter, A1 multi-aggregate, O1 sort.
    * SURVEY §2.5 A1/A5, §2.2 P7.
    */
  val q01 = Q("q01_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
      |  SUM(CAST(FLOOR((l_quantity) * 10000.0) AS BIGINT)) / 10000.0 AS sum_qty,
      |  SUM(CAST(FLOOR((l_extendedprice) * 10000.0) AS BIGINT)) / 10000.0 AS sum_base_price,
      |  SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 10000.0) AS BIGINT)) / 10000.0 AS sum_disc_price,
      |  SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 10000.0) AS BIGINT)) / 10000.0 AS sum_charge,
      |  SUM(CAST(FLOOR((l_quantity) * 10000.0) AS BIGINT)) / 10000.0 / COUNT(l_quantity) AS avg_qty,
      |  SUM(CAST(FLOOR((l_extendedprice) * 10000.0) AS BIGINT)) / 10000.0 / COUNT(l_extendedprice) AS avg_price,
      |  SUM(CAST(FLOOR((l_discount) * 10000.0) AS BIGINT)) / 10000.0 / COUNT(l_discount) AS avg_disc,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("2000-09-02 00:00:00")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Row-level left-join enrichment (SURVEY J1/J2 analog, P1 rename
    * projection). Raw doubles/timestamps pass through untouched, so no
    * decimal routing is needed.
    */
  val q02 = Q("q02_orders_enriched",
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
      |  c_name AS customer_name, c_mktsegment AS market_segment, c_acctbal AS account_balance
      |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    o.join(c, o("o_custkey") === c("c_custkey"), "left")
      .select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"),
        col("c_name").as("customer_name"),
        col("c_mktsegment").as("market_segment"),
        col("c_acctbal").as("account_balance"))
      .orderBy("o_orderkey")
  }

  /** Join + aggregate + top-k (SURVEY J7 inner join, A2, O1/O3 limit). */
  val q03 = Q("q03_top_revenue_orders",
    """SELECT o_orderkey, o_orderdate, o_orderpriority,
      |  SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 10000.0) AS BIGINT)) / 10000.0 AS revenue,
      |  COUNT(*) AS n_lines
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, o_orderkey
      |LIMIT 10""".stripMargin) { (s, dir) =>
    // aggregate the fact FIRST (map-side partials on a single long key),
    // then join one row per order — at any scale this shuffles |orders|
    // aggregated rows instead of |lineitem| raw rows through the join
    val lagg = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_lines"))
    lagg.join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"),
        col("revenue"), col("n_lines"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** Semi join (EXISTS) + grouped count (SURVEY §2.3; left_semi). */
  val q04 = Q("q04_priority_with_heavy_lines",
    """SELECT o_orderpriority, COUNT(*) AS n_orders
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    val heavy = t(s, dir, "lineitem").filter(col("l_quantity") > 45)
    t(s, dir, "orders")
      .join(heavy, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  /** Anti join — customers with no orders (SURVEY J5/J6 orphan pattern). */
  val q05 = Q("q05_customers_no_orders",
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  /** Set ops: UNION ALL + EXCEPT + sort (SURVEY O4/O5). */
  val q06 = Q("q06_nationkey_setops",
    """SELECT nationkey FROM (
      |  SELECT c_nationkey AS nationkey FROM customer
      |  UNION ALL
      |  SELECT s_nationkey AS nationkey FROM supplier
      |) EXCEPT (SELECT n_nationkey FROM nation WHERE n_regionkey = 0)
      |ORDER BY nationkey""".stripMargin) { (s, dir) =>
    val cust = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
    val supp = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
    val excl = t(s, dir, "nation").filter(col("n_regionkey") === 0)
      .select(col("n_nationkey").as("nationkey"))
    cust.unionByName(supp).except(excl).orderBy("nationkey")
  }

  /** DISTINCT (SURVEY O6). */
  val q07 = Q("q07_distinct_segments",
    "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment") { (s, dir) =>
    t(s, dir, "customer").select("c_mktsegment").distinct().orderBy("c_mktsegment")
  }

  /** Window dedup — keep the latest event per (user_id, event_type)
    * (SURVEY W1 row_number + P5 rank filter). Tie-break on event_id keeps
    * it fully deterministic.
    */
  val q08 = Q("q08_latest_event_per_user_type",
    """SELECT user_id, event_type, event_id, ts, value FROM (
      |  SELECT user_id, event_type, event_id, ts, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS _rn
      |  FROM events
      |) WHERE _rn = 1
      |ORDER BY user_id, event_type""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts").desc, col("event_id").desc)
    t(s, dir, "events")
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select("user_id", "event_type", "event_id", "ts", "value")
      .orderBy("user_id", "event_type")
  }

  /** Scalar-function battery (SURVEY §2.4 F1-F16): normalize, casts, date
    * parts, epoch, datediff, round-on-decimal, CASE, coalesce/nullif/
    * greatest, md5 surrogate key. Derived ints are cast to BIGINT on both
    * sides so schemas align.
    */
  val q09 = Q("q09_scalar_battery",
    """SELECT event_id,
      |  lower(trim(event_type)) AS etype_norm,
      |  value,
      |  CAST(ROUND(CAST(value AS DECIMAL(18,2)), 1) AS DOUBLE) AS value_r1,
      |  date_trunc('hour', ts) AS ts_hour,
      |  CAST(ts AS DATE) AS ts_day,
      |  CAST(hour(ts) AS BIGINT) AS hr,
      |  CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
      |  CAST(FLOOR(epoch(ts)) AS BIGINT) AS epoch_s,
      |  CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS days_since,
      |  CAST(CASE event_type WHEN 'error' THEN 3 WHEN 'purchase' THEN 2 WHEN 'signup' THEN 1 ELSE 0 END AS BIGINT) AS sev_score,
      |  COALESCE(NULLIF(value, 0.0), -1.0) AS amt,
      |  GREATEST(value, 10.0) AS floored,
      |  md5(concat_ws('-', CAST(event_id AS VARCHAR), event_type)) AS event_key
      |FROM events
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    t(s, dir, "events").select(
      col("event_id"),
      lower(trim(col("event_type"))).as("etype_norm"),
      col("value"),
      round(col("value").cast("decimal(18,2)"), 1).cast("double").as("value_r1"),
      date_trunc("hour", col("ts")).as("ts_hour"),
      to_date(col("ts")).as("ts_day"),
      hour(col("ts")).cast("long").as("hr"),
      dayofweek(col("ts")).cast("long").as("dow"),
      unix_timestamp(col("ts")).as("epoch_s"),
      datediff(to_date(col("ts")), lit(java.sql.Date.valueOf("2024-01-01"))).cast("long").as("days_since"),
      when(col("event_type") === "error", 3L)
        .when(col("event_type") === "purchase", 2L)
        .when(col("event_type") === "signup", 1L)
        .otherwise(0L).as("sev_score"),
      coalesce(nullif(col("value"), lit(0.0)), lit(-1.0)).as("amt"),
      greatest(col("value"), lit(10.0)).as("floored"),
      md5(concat_ws("-", col("event_id").cast("string"), col("event_type"))).as("event_key"))
      .orderBy("event_id")
  }

  /** Grouped aggregate + HAVING (SURVEY A7). */
  val q10 = Q("q10_active_users",
    """SELECT user_id, COUNT(*) AS n_events,
      |  SUM(CAST(FLOOR((value) * 10000.0) AS BIGINT)) / 10000.0 AS total_value,
      |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
      |FROM events
      |GROUP BY user_id
      |HAVING COUNT(*) > 50
      |ORDER BY user_id""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("total_value"),
        countIf(col("event_type") === "error").as("n_errors"))
      .filter(col("n_events") > 50)
      .orderBy("user_id")
  }

  /** Compound range + IN-list predicates (SURVEY P7/P8). */
  val q11 = Q("q11_filtered_events",
    """SELECT event_id, event_type, value
      |FROM events
      |WHERE event_type IN ('purchase', 'signup') AND (value > 50.0 OR value < 5.0)
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .filter(col("event_type").isin("purchase", "signup") &&
        (col("value") > 50.0 || col("value") < 5.0))
      .select("event_id", "event_type", "value")
      .orderBy("event_id")
  }

  /** COUNT(DISTINCT) + avg per group (SURVEY A8/A9). */
  val q12 = Q("q12_type_cardinality",
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events,
      |  SUM(CAST(FLOOR((value) * 10000.0) AS BIGINT)) / 10000.0 / COUNT(value) AS avg_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .groupBy("event_type")
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"),
        davg(col("value")).as("avg_value"))
      .orderBy("event_type")
  }

  /** Incremental-watermark pattern (SURVEY P4/A6/S4): scalar max subquery
    * drives a tail filter. Spark side collects the scalar first (exactly
    * how the incremental materializer consumes its target watermark).
    */
  val q13 = Q("q13_watermark_tail",
    """SELECT event_type, COUNT(*) AS n_recent,
      |  SUM(CAST(FLOOR((value) * 10000.0) AS BIGINT)) / 10000.0 AS sum_value
      |FROM events
      |WHERE ts > (SELECT max(ts) - INTERVAL 7 DAY FROM events)
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events")
    val wm = ev.agg(max(col("ts")).as("m")).select(col("m") - expr("INTERVAL 7 DAYS")).head().getTimestamp(0)
    ev.filter(col("ts") > lit(wm))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_recent"), dsum(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  /** Multi-way join + aggregate (TPC-H Q5 shape): fact shuffles on join
    * keys; nation/region are broadcast (bounded dimensions at any scale).
    */
  val q14 = Q("q14_regional_revenue",
    """SELECT n_name,
      |  SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 10000.0) AS BIGINT)) / 10000.0 AS revenue,
      |  COUNT(*) AS n_lines
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin) { (s, dir) =>
    // pre-aggregate the fact to one raw-long row per order before the join
    // chain (integer partial sums re-associate exactly — bit-identical to
    // the single-level oracle SUM), and push the selective region predicate
    // to the OTHER side first: customers filter to ASIA through broadcast
    // dims, orders shrink 5× on the custkey join, so the expensive orderkey
    // shuffle joins the fact against only the surviving order keys.
    val lagg = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(
        dsumRaw(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev_raw"),
        count(lit(1)).as("n"))
    val asiaCustomers = t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("n_name"))
    val asiaOrders = t(s, dir, "orders")
      .join(asiaCustomers, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("n_name"))
    lagg
      .join(asiaOrders, col("l_orderkey") === col("o_orderkey"))
      .groupBy("n_name")
      .agg(
        (sum(col("rev_raw")) / lit(10000.0)).as("revenue"),
        sum(col("n")).as("n_lines"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Custom TypedImperativeAggregate: exact distinct via bitmap OR-merge —
    * one aggregation pass (partial bitmaps combine map-side) instead of
    * COUNT(DISTINCT)'s expand + double shuffle. Oracled against DuckDB's
    * COUNT(DISTINCT), so the sketch must be exactly right.
    */
  val q15 = Q("q15_bitmap_distinct",
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_users
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .groupBy("event_type")
      .agg(graft.functions.BitmapDistinct(col("user_id"), 1 << 20).as("n_users"))
      .orderBy("event_type")
  }

  /** ROLLUP hierarchy totals (beyond-reference §2.5 extension): daily,
    * per-type, and grand totals in one pass — Spark expands grouping sets
    * inside a single hash aggregate rather than three scans.
    */
  val q16 = Q("q16_rollup_daily",
    """SELECT event_type, CAST(ts AS DATE) AS day,
      |  COUNT(*) AS n_events,
      |  SUM(CAST(FLOOR((value) * 10000.0) AS BIGINT)) / 10000.0 AS sum_value,
      |  CAST(GROUPING(event_type) * 2 + GROUPING(CAST(ts AS DATE)) AS BIGINT) AS gid
      |FROM events
      |GROUP BY ROLLUP(event_type, CAST(ts AS DATE))
      |ORDER BY gid, event_type NULLS FIRST, day NULLS FIRST""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .rollup(col("event_type"), to_date(col("ts")).as("day"))
      .agg(
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("sum_value"),
        grouping_id().cast("long").as("gid"))
      .orderBy(col("gid"), col("event_type").asc_nulls_first, col("day").asc_nulls_first)
  }

  /** Window-function battery — the full ranking/offset/frame surface in
    * one oracle (the reference uses only row_number, SURVEY §2.6): rank,
    * dense_rank, percent_rank, cume_dist, ntile, lag/lead with defaults,
    * first/nth value and a running fixed-point sum over an explicit ROWS
    * frame. The (value, event_id) tie-break makes every function
    * deterministic; percent_rank/cume_dist arithmetic is exact integer
    * ratios so the doubles agree.
    */
  val q19 = Q("q19_window_battery",
    """SELECT event_id, user_id, value,
      |  RANK() OVER w AS rnk,
      |  DENSE_RANK() OVER w AS drnk,
      |  PERCENT_RANK() OVER w AS prnk,
      |  CUME_DIST() OVER w AS cdist,
      |  NTILE(4) OVER w AS quartile,
      |  LAG(event_id, 1, -1) OVER w AS prev_event,
      |  LEAD(event_id, 2) OVER w AS next2_event,
      |  FIRST_VALUE(event_id) OVER w AS first_event,
      |  NTH_VALUE(event_id, 2) OVER (PARTITION BY user_id ORDER BY value, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_event,
      |  SUM(CAST(FLOOR(value * 10000.0) AS BIGINT)) OVER (PARTITION BY user_id
      |    ORDER BY value, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    / 10000.0 AS running_value
      |FROM events WHERE value IS NOT NULL AND user_id <= 100
      |WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)
      |ORDER BY user_id, value, event_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy("value", "event_id")
    val rows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .filter(col("value").isNotNull && col("user_id") <= 100)
      .select(col("event_id"), col("user_id"), col("value"))
      .withColumn("rnk", rank().over(w))
      .withColumn("drnk", dense_rank().over(w))
      .withColumn("prnk", percent_rank().over(w))
      .withColumn("cdist", cume_dist().over(w))
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("prev_event", lag(col("event_id"), 1, -1).over(w))
      .withColumn("next2_event", lead(col("event_id"), 2).over(w))
      .withColumn("first_event", first(col("event_id")).over(rows))
      .withColumn("second_event", nth_value(col("event_id"), 2).over(rows))
      .withColumn("running_value",
        (sum(floor(col("value") * 10000.0)).over(rows) / 10000.0))
      .orderBy("user_id", "value", "event_id")
  }

  /** PIVOT — wide daily matrix of per-type event counts. Spark's pivot
    * with an explicit value list compiles to conditional aggregates in ONE
    * hash aggregate (never a per-value scan); the oracle spells out the
    * same CASE columns.
    */
  val q26 = Q("q26_pivot_daily_types",
    """SELECT CAST(ts AS DATE) AS day,
      |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
      |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
      |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
      |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
      |FROM events
      |GROUP BY CAST(ts AS DATE)
      |ORDER BY day""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(coalesce(count(lit(1)), lit(0L)))
      .na.fill(0L, Seq("click", "view", "purchase", "signup", "error"))
      .orderBy("day")
  }

  /** Exact median by rank selection (no interpolation arithmetic — the
    * lower-median ELEMENT is picked, so both engines return an input value
    * verbatim and the oracle matches bit-for-bit; percentile-interpolation
    * semantics differ subtly across engines and are deliberately avoided).
    * The Spark side is `ops.RankSelect.groupMedian` — histogram rank
    * selection that sorts only the median's value bucket, instead of the
    * naive `row_number OVER (PARTITION BY event_type)` whose parallelism
    * is capped at #groups (5) and whose tasks each sort a full group.
    */
  val q27 = Q("q27_exact_median",
    """WITH ranked AS (
      |  SELECT event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM events WHERE value IS NOT NULL
      |)
      |SELECT event_type, value AS median_value, n
      |FROM ranked WHERE rn = CAST(FLOOR((n + 1) / 2.0) AS BIGINT)
      |ORDER BY event_type""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("value"), col("event_id"))
    graft.ops.RankSelect.groupMedian(ev, "event_type", "value", "event_id")
      .orderBy("event_type")
  }

  /** q61 — exact quantile battery (p25/p50/p75/p90 per event type), the
    * generalized form of q27: one histogram pass locates ALL four target
    * ranks, and only the needed value buckets are sorted
    * (`ops.RankSelect.groupQuantiles`). Element selection, no
    * interpolation — rank ⌊(n−1)·p⌋+1 — so both engines return input
    * values verbatim and the oracle is bit-exact.
    */
  val q61 = Q("q61_quantile_battery",
    """WITH ranked AS (
      |  SELECT event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM events WHERE value IS NOT NULL
      |)
      |SELECT event_type, n,
      |  MAX(CASE WHEN rn = CAST(FLOOR((n - 1) * 0.25) + 1 AS BIGINT) THEN value END) AS p25,
      |  MAX(CASE WHEN rn = CAST(FLOOR((n - 1) * 0.5) + 1 AS BIGINT) THEN value END) AS p50,
      |  MAX(CASE WHEN rn = CAST(FLOOR((n - 1) * 0.75) + 1 AS BIGINT) THEN value END) AS p75,
      |  MAX(CASE WHEN rn = CAST(FLOOR((n - 1) * 0.9) + 1 AS BIGINT) THEN value END) AS p90
      |FROM ranked
      |GROUP BY event_type, n
      |ORDER BY event_type""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("value"), col("event_id"))
    graft.ops.RankSelect.groupQuantiles(ev, "event_type", "value", "event_id",
      Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "p90" -> 0.9))
      .orderBy("event_type")
  }

  /** String-function battery (LIKE predicates + the portable string ops;
    * transcendental numeric functions are deliberately absent from every
    * oracle — libm vs JVM can differ in the last ulp).
    */
  val q28 = Q("q28_string_battery",
    """SELECT c_custkey, c_name,
      |  (c_name LIKE '%0042%') AS has_42,
      |  (c_name LIKE 'Customer%') AS is_customer_prefix,
      |  upper(c_mktsegment) AS seg_upper,
      |  substr(c_name, 10, 5) AS name_mid,
      |  lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS key_padded,
      |  reverse(c_mktsegment) AS seg_rev,
      |  repeat(c_mktsegment, 2) AS seg_twice,
      |  replace(c_name, 'Customer', 'Cust') AS name_short,
      |  split_part(c_name, '#', 2) AS name_num,
      |  CAST(length(trim(c_name)) AS BIGINT) AS name_len,
      |  concat_ws('|', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS seg_nation
      |FROM customer
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    t(s, dir, "customer").select(
      col("c_custkey"), col("c_name"),
      col("c_name").like("%0042%").as("has_42"),
      col("c_name").like("Customer%").as("is_customer_prefix"),
      upper(col("c_mktsegment")).as("seg_upper"),
      substring(col("c_name"), 10, 5).as("name_mid"),
      lpad(col("c_custkey").cast("string"), 12, "0").as("key_padded"),
      reverse(col("c_mktsegment")).as("seg_rev"),
      repeat(col("c_mktsegment"), 2).as("seg_twice"),
      expr("replace(c_name, 'Customer', 'Cust')").as("name_short"),
      expr("split_part(c_name, '#', 2)").as("name_num"),
      length(trim(col("c_name"))).cast("long").as("name_len"),
      concat_ws("|", col("c_mktsegment"), col("c_nationkey").cast("string")).as("seg_nation"))
      .orderBy("c_custkey")
  }

  /** Correlated scalar subquery, executed from ONE dialect-neutral SQL
    * string through both engines — Spark gets it via spark.sql over
    * Catalog.registerAll (the S2/spark.sql lifecycle entry), DuckDB runs
    * the same text as the oracle. Catalyst rewrites the correlated
    * subquery into an aggregate + join; the fixed-point integer sums keep
    * the customer-share division bit-exact.
    */
  private val q29Sql =
    """SELECT o_orderkey, o_custkey,
      |  CAST(FLOOR(o_totalprice * 10000.0) AS BIGINT) AS price_raw,
      |  CAST(FLOOR(o_totalprice * 10000.0) AS BIGINT) /
      |    CAST((SELECT SUM(CAST(FLOOR(o2.o_totalprice * 10000.0) AS BIGINT))
      |          FROM orders o2 WHERE o2.o_custkey = o.o_custkey) AS DOUBLE)
      |    AS share_of_customer
      |FROM orders o
      |ORDER BY o_orderkey""".stripMargin

  val q29 = Q("q29_correlated_share", q29Sql) { (s, dir) =>
    graft.Catalog.registerAll(s, dir)
    s.sql(q29Sql)
  }

  /** Array-function battery over the embeddings vectors: cardinality,
    * element access, containment-by-threshold, and a fixed-point element
    * sum via posexplode (floats pass through exactly; the sum uses the
    * two-level raw-integer pattern so re-association is exact).
    */
  val q41 = Q("q41_array_battery",
    """SELECT vec_id,
      |  CAST(len(embedding) AS INTEGER) AS dim,
      |  CAST(embedding[1] AS DOUBLE) AS first_elem,
      |  CAST(embedding[len(embedding)] AS DOUBLE) AS last_elem,
      |  len(list_filter(embedding, x -> x > 0)) AS n_positive
      |FROM embeddings ORDER BY vec_id""".stripMargin) { (s, dir) =>
    t(s, dir, "embeddings").select(
      col("vec_id"),
      size(col("embedding")).as("dim"),
      element_at(col("embedding"), 1).cast("double").as("first_elem"),
      element_at(col("embedding"), size(col("embedding"))).cast("double").as("last_elem"),
      size(filter(col("embedding"), x => x > 0)).as("n_positive"))
      .orderBy("vec_id")
  }

  /** Ordered string aggregation (reporting staple): per-nation roster of
    * the five richest customers — collect_list + array_sort + transform +
    * array_join mirrors DuckDB's string_agg(... ORDER BY) deterministically.
    */
  val q42 = Q("q42_string_agg",
    """WITH top5 AS (
      |  SELECT c_nationkey, c_name, c_acctbal,
      |    ROW_NUMBER() OVER (PARTITION BY c_nationkey
      |      ORDER BY c_acctbal DESC, c_custkey) AS rn
      |  FROM customer
      |)
      |SELECT c_nationkey,
      |  string_agg(c_name, ',' ORDER BY c_acctbal DESC, c_name) AS roster,
      |  COUNT(*) AS n
      |FROM top5 WHERE rn <= 5
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("c_nationkey")
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    t(s, dir, "customer")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .groupBy("c_nationkey")
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct((-col("c_acctbal")).as("negbal"), col("c_name")))),
            x => x.getField("c_name")),
          ",").as("roster"),
        count(lit(1)).as("n"))
      .orderBy("c_nationkey")
  }

  /** Date/time battery over order dates — the portable subset (field
    * extraction, truncation, day/month arithmetic with end-of-month
    * clamping, last_day, formatting): semantics verified identical across
    * engines; ISO-week and fractional months_between are deliberately
    * excluded (dialects disagree).
    */
  val q43 = Q("q43_datetime_battery",
    """SELECT o_orderkey,
      |  CAST(o_orderdate AS DATE) AS od,
      |  CAST(year(o_orderdate) AS BIGINT) AS y,
      |  CAST(quarter(o_orderdate) AS BIGINT) AS q,
      |  CAST(month(o_orderdate) AS BIGINT) AS m,
      |  CAST(day(o_orderdate) AS BIGINT) AS d,
      |  CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month_start,
      |  CAST(date_trunc('year', CAST(o_orderdate AS DATE)) AS DATE) AS year_start,
      |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
      |  CAST(o_orderdate AS DATE) + 30 AS plus_30d,
      |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus_2mo,
      |  strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS od_str
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    val od = col("o_orderdate")
    val d = to_date(od)
    t(s, dir, "orders").select(
      col("o_orderkey"),
      d.as("od"),
      year(od).cast("long").as("y"),
      quarter(od).cast("long").as("q"),
      month(od).cast("long").as("m"),
      dayofmonth(od).cast("long").as("d"),
      trunc(d, "month").as("month_start"),
      trunc(d, "year").as("year_start"),
      last_day(d).as("month_end"),
      date_add(d, 30).as("plus_30d"),
      add_months(d, 2).as("plus_2mo"),
      date_format(d, "yyyy-MM-dd").as("od_str"))
      .orderBy("o_orderkey")
  }

  /** Set-operation completion: INTERSECT (distinct) and EXCEPT ALL
    * (multiset difference — bag semantics preserve duplicate counts),
    * complementing q06's UNION ALL / EXCEPT.
    */
  val q44 = Q("q44_setops_intersect",
    """SELECT nationkey FROM (
      |  (SELECT c_nationkey AS nationkey FROM customer
      |   INTERSECT
      |   SELECT s_nationkey AS nationkey FROM supplier)
      |  UNION ALL
      |  (SELECT c_nationkey AS nationkey FROM customer WHERE c_nationkey < 5
      |   EXCEPT ALL
      |   SELECT s_nationkey AS nationkey FROM supplier)
      |)
      |ORDER BY nationkey""".stripMargin) { (s, dir) =>
    val cust = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
    val supp = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
    cust.intersect(supp)
      .unionByName(cust.filter(col("nationkey") < 5).exceptAll(supp))
      .orderBy("nationkey")
  }

  /** FULL OUTER join — daily purchase and error rollups per user merged so
    * days with only one side survive with null-coalesced keys (the
    * reconciliation-report shape; completes the join-type coverage).
    */
  val q45 = Q("q45_full_outer_daily",
    """WITH p AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n_purchases
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
      |), e AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n_errors
      |  FROM events WHERE event_type = 'error' GROUP BY 1, 2
      |)
      |SELECT COALESCE(p.user_id, e.user_id) AS user_id,
      |  COALESCE(p.day, e.day) AS day,
      |  CAST(COALESCE(p.n_purchases, 0) AS BIGINT) AS n_purchases,
      |  CAST(COALESCE(e.n_errors, 0) AS BIGINT) AS n_errors
      |FROM p FULL OUTER JOIN e ON p.user_id = e.user_id AND p.day = e.day
      |ORDER BY user_id, day""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("p_user"), to_date(col("ts")).as("p_day"))
      .agg(count(lit(1)).as("n_purchases"))
    val e = ev.filter(col("event_type") === "error")
      .groupBy(col("user_id").as("e_user"), to_date(col("ts")).as("e_day"))
      .agg(count(lit(1)).as("n_errors"))
    p.join(e, col("p_user") === col("e_user") && col("p_day") === col("e_day"), "full_outer")
      .select(
        coalesce(col("p_user"), col("e_user")).as("user_id"),
        coalesce(col("p_day"), col("e_day")).as("day"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
        coalesce(col("n_errors"), lit(0L)).as("n_errors"))
      .orderBy("user_id", "day")
  }

  /** Explicit GROUPING SETS (the general form behind q16's ROLLUP): two
    * chosen grouping combinations — (segment, nation) and (segment) —
    * in one pass, with grouping-id disambiguation.
    */
  val q46 = Q("q46_grouping_sets",
    """SELECT c_mktsegment, c_nationkey,
      |  COUNT(*) AS n_customers,
      |  SUM(CAST(FLOOR((c_acctbal) * 10000.0) AS BIGINT)) / 10000.0 AS total_balance,
      |  CAST(GROUPING(c_mktsegment) * 2 + GROUPING(c_nationkey) AS BIGINT) AS gid
      |FROM customer
      |GROUP BY GROUPING SETS ((c_mktsegment, c_nationkey), (c_mktsegment))
      |ORDER BY gid, c_mktsegment, c_nationkey NULLS FIRST""".stripMargin) { (s, dir) =>
    graft.Catalog.registerAll(s, dir)
    // Spark SQL parses bare `10000.0` as DECIMAL (DuckDB: DOUBLE), so the
    // division must be cast to DOUBLE or the output column type diverges.
    s.sql(
      """SELECT c_mktsegment, c_nationkey,
        |  COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(FLOOR(c_acctbal * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0 AS total_balance,
        |  CAST(GROUPING(c_mktsegment) * 2 + GROUPING(c_nationkey) AS BIGINT) AS gid
        |FROM customer
        |GROUP BY GROUPING SETS ((c_mktsegment, c_nationkey), (c_mktsegment))
        |ORDER BY gid, c_mktsegment, c_nationkey NULLS FIRST""".stripMargin)
  }

  /** Safe-cast battery — TRY_CAST (same name and NULL-on-failure
    * semantics in both engines) over clean and dirty inputs: the
    * ANSI-mode-compatible way to ingest dirty data without aborting a
    * 1000-executor job on one malformed row.
    */
  val q47 = Q("q47_try_cast",
    """SELECT event_id,
      |  TRY_CAST(CAST(event_id AS VARCHAR) AS BIGINT) AS roundtrip_id,
      |  TRY_CAST(event_type AS BIGINT) AS bad_int,
      |  TRY_CAST(event_type AS DATE) AS bad_date,
      |  TRY_CAST('2024-01-15' AS DATE) AS good_date,
      |  TRY_CAST(CAST(value AS VARCHAR) AS DOUBLE) AS roundtrip_value
      |FROM events
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    graft.Catalog.registerAll(s, dir)
    s.sql(
      """SELECT event_id,
        |  TRY_CAST(CAST(event_id AS STRING) AS BIGINT) AS roundtrip_id,
        |  TRY_CAST(event_type AS BIGINT) AS bad_int,
        |  TRY_CAST(event_type AS DATE) AS bad_date,
        |  TRY_CAST('2024-01-15' AS DATE) AS good_date,
        |  TRY_CAST(CAST(value AS STRING) AS DOUBLE) AS roundtrip_value
        |FROM events
        |ORDER BY event_id""".stripMargin)
  }

  /** q73 — JSON battery over the `props` column: path extraction with a
    * typed cast, string extraction, missing-key probe, and re-serialization
    * of a (string, long) struct. All per-row projection (codegen'd
    * `GetJsonObject`/`StructsToJson`) — no shuffle except the output sort.
    * Serialization parity holds because both engines emit compact JSON
    * (no spaces) with field order = struct order and only string/int64
    * leaves — exactly the shapes that round-trip identically.
    */
  val q73 = Q("q73_json_battery",
    """WITH ex AS (
      |  SELECT event_id, event_type,
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
      |    json_extract_string(props, '$.missing') IS NOT NULL AS has_missing,
      |    json_extract_string(props, '$.k') AS k_str
      |  FROM events
      |)
      |SELECT event_id, event_type, k, has_missing, k_str,
      |  to_json({'event_type': event_type, 'k': k}) AS packed
      |FROM ex
      |WHERE event_id < 100
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .filter(col("event_id") < 100)
      .select(
        col("event_id"), col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        get_json_object(col("props"), "$.missing").isNotNull.as("has_missing"),
        get_json_object(col("props"), "$.k").as("k_str"))
      .withColumn("packed", to_json(struct(col("event_type"), col("k"))))
      .orderBy("event_id")
  }

  /** q74 — calendar gap-fill + forward-fill: densify (event_type, day) to
    * the full observed date range, count 0 on missing days, and carry the
    * last observed day-average forward (the standard time-series
    * "resample + ffill"). The fill key is a STRUCT of (fixed-point sum,
    * count) carried atomically by `last(..., ignoreNulls)` so a day with
    * events but no values cannot mix one day's sum with another's count.
    * Scale shape: the window runs over the dense CALENDAR GRID
    * (days × types — metadata-sized at any corpus scale), never the event
    * table; the only data-sized stages are the daily pre-aggregate and
    * its join to the grid.
    */
  val q74 = Q("q74_gap_fill",
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS n_events,
      |    SUM(CAST(FLOOR(value * 10000.0) AS BIGINT)) AS sum_fp,
      |    COUNT(value) AS n_vals
      |  FROM events GROUP BY 1, 2
      |), bounds AS (
      |  SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1 FROM events
      |), days AS (
      |  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day FROM bounds
      |), grid AS (
      |  SELECT t.event_type, d.day FROM (SELECT DISTINCT event_type FROM events) t
      |  CROSS JOIN days d
      |), joined AS (
      |  SELECT g.event_type, g.day,
      |    COALESCE(dl.n_events, 0) AS n_events,
      |    last_value(CASE WHEN dl.n_vals > 0 THEN {'sf': dl.sum_fp, 'nv': dl.n_vals} END IGNORE NULLS)
      |      OVER (PARTITION BY g.event_type ORDER BY g.day
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sv
      |  FROM grid g LEFT JOIN daily dl ON g.event_type = dl.event_type AND g.day = dl.day
      |)
      |SELECT event_type, day, n_events,
      |  CAST(sv.sf AS DOUBLE) / (sv.nv * 10000.0) AS filled_avg
      |FROM joined
      |ORDER BY event_type, day""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events")
    val daily = ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(floor(col("value") * lit(10000.0))).as("sum_fp"),
        count(col("value")).as("n_vals"))
    val bounds = ev.agg(to_date(min(col("ts"))).as("d0"), to_date(max(col("ts"))).as("d1"))
    val days = bounds.select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val grid = ev.select(col("event_type")).distinct().crossJoin(broadcast(days))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        last(when(col("n_vals") > 0, struct(col("sum_fp").as("sf"), col("n_vals").as("nv"))),
          ignoreNulls = true).over(w).as("sv"))
      .select(col("event_type"), col("day"), col("n_events"),
        (col("sv.sf").cast("double") / (col("sv.nv") * lit(10000.0))).as("filled_avg"))
      .orderBy("event_type", "day")
  }

  /** q75 — UNPIVOT (melt): the wide daily matrix of q26 back to long
    * (day, event_type, cnt) form via the native `Dataset.unpivot`
    * operator — the inverse operator a reference user reaches for when a
    * downstream consumer wants tidy rows. Per-row expansion (Expand
    * node), no shuffle beyond the output sort.
    */
  val q75 = Q("q75_unpivot_daily",
    """WITH wide AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
      |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
      |    CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
      |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
      |  FROM events GROUP BY 1
      |)
      |SELECT day, event_type, cnt FROM (
      |  SELECT day, 'click' AS event_type, click AS cnt FROM wide
      |  UNION ALL SELECT day, 'view', view FROM wide
      |  UNION ALL SELECT day, 'purchase', purchase FROM wide
      |  UNION ALL SELECT day, 'signup', signup FROM wide
      |  UNION ALL SELECT day, 'error', error FROM wide
      |)
      |ORDER BY day, event_type""".stripMargin) { (s, dir) =>
    q26.fn(s, dir)
      .unpivot(
        Array(col("day")),
        Array(col("click"), col("view"), col("purchase"), col("signup"), col("error")),
        "event_type", "cnt")
      .orderBy("day", "event_type")
  }

  /** q76 — RANGE-frame window (value-based frame bounds, distinct from
    * q19's ROWS frames): trailing 3-day windowed sum/avg over per-day
    * counts, where the frame is `RANGE BETWEEN 2 PRECEDING AND CURRENT
    * ROW` on the day number — days missing from the data are correctly
    * excluded by VALUE, which a ROWS frame cannot express. Window input
    * is the daily aggregate (calendar-sized), partitioned by type.
    */
  val q76 = Q("q76_range_frame_trailing",
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_num,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2, 3
      |)
      |SELECT event_type, day, n,
      |  CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY day_num
      |    RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS trailing3_n
      |FROM daily
      |ORDER BY event_type, day""".stripMargin) { (s, dir) =>
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("day_num", datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
    val w = Window.partitionBy("event_type").orderBy("day_num").rangeBetween(-2, 0)
    daily.select(col("event_type"), col("day"), col("n"),
        sum(col("n")).over(w).as("trailing3_n"))
      .orderBy("event_type", "day")
  }

  /** q78 — table checksum for cross-system reconciliation: per-partition
    * row count + XOR of per-row content hashes. XOR is commutative and
    * associative, so the checksum is independent of partitioning and row
    * order — the property that lets a 1000-executor MERGE target be
    * compared against its source without any sort, in one map-side-
    * combined aggregate pass. (A SUM-based checksum would need overflow
    * care; XOR cannot overflow.)
    */
  val q78 = Q("q78_table_checksum",
    s"""SELECT l_returnflag,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  bit_xor(${graft.ops.OracleSql.h60("CAST(l_orderkey AS VARCHAR) || '|' || " +
        "CAST(l_linenumber AS VARCHAR) || '|' || CAST(l_suppkey AS VARCHAR)")}) AS checksum
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    val rowHash = graft.ops.Dedup.h60Col(concat_ws("|",
      col("l_orderkey").cast("string"),
      col("l_linenumber").cast("string"),
      col("l_suppkey").cast("string")))
    t(s, dir, "lineitem")
      .withColumn("rh", rowHash)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(rh)").as("checksum"))
      .orderBy("l_returnflag")
  }

  /** q84 — equi-width histogram: value distribution per event type in
    * fixed width-10 bins, clamped to [0, 100). The binning expression is
    * pure integer floor division on the clamped value — one hash
    * aggregate over (type, bin), output bounded by types × bins
    * regardless of corpus size. The building block behind RankSelect's
    * radix histogram, exposed as a user-facing operator.
    */
  val q84 = Q("q84_value_histogram",
    """SELECT event_type,
      |  CAST(LEAST(9, GREATEST(0, CAST(FLOOR(value / 10.0) AS BIGINT))) AS BIGINT) AS bin,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(MIN(CAST(FLOOR(value * 10000.0) AS BIGINT)) AS BIGINT) AS min_fp,
      |  CAST(MAX(CAST(FLOOR(value * 10000.0) AS BIGINT)) AS BIGINT) AS max_fp
      |FROM events
      |WHERE value IS NOT NULL
      |GROUP BY 1, 2
      |ORDER BY event_type, bin""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"),
        least(lit(9L), greatest(lit(0L), floor(col("value") / lit(10.0)))).as("bin"))
      .agg(
        count(lit(1)).as("n"),
        min(floor(col("value") * lit(10000.0))).as("min_fp"),
        max(floor(col("value") * lit(10000.0))).as("max_fp"))
      .orderBy("event_type", "bin")
  }

  /** q85 — CUBE: all 2² grouping combinations of (type, day) in one
    * Expand + hash aggregate — completes the grouping-operator family
    * next to ROLLUP (q16) and explicit GROUPING SETS (q46). grouping()
    * flags disambiguate real NULLs from subtotal rows.
    */
  val q85 = Q("q85_cube_daily_types",
    """SELECT event_type, CAST(ts AS DATE) AS day,
      |  CAST(grouping(event_type) AS BIGINT) AS g_type,
      |  CAST(grouping(CAST(ts AS DATE)) AS BIGINT) AS g_day,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM events
      |GROUP BY CUBE (event_type, CAST(ts AS DATE))
      |ORDER BY g_type, g_day, event_type, day""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .cube(col("event_type"), col("day"))
      .agg(
        grouping(col("event_type")).cast("long").as("g_type"),
        grouping(col("day")).cast("long").as("g_day"),
        count(lit(1)).as("n"))
      .select(col("event_type"), col("day"), col("g_type"), col("g_day"), col("n"))
      .orderBy("g_type", "g_day", "event_type", "day")
  }

  /** q113 — MAD robust outlier report: per-type median, median absolute
    * deviation, and the count of |x − med| > 3·1.4826·MAD outliers — the
    * robust z-score that stddev-based rules (q21's anomaly flags) lack:
    * one wild value inflates a stddev threshold and hides its peers, the
    * MAD threshold does not move. Exactness: both medians are ELEMENT
    * selections (RankSelect histogram passes, q27's convention), so med
    * and MAD are input doubles verbatim; |x − med| and the 4.4478·MAD
    * threshold are single IEEE ops — the oracle matches every verdict
    * bit-for-bit. Scale shape: two RankSelect medians (histogram passes,
    * parallelism bounded by buckets) + one broadcast join of the
    * |types|-row constants back to the fact scan.
    */
  val q113 = Q("q113_mad_outliers",
    """WITH ev AS (
      |  SELECT event_type, event_id, value FROM events WHERE value IS NOT NULL
      |), r1 AS (
      |  SELECT event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM ev
      |), med AS (
      |  SELECT event_type, value AS median_value, n
      |  FROM r1 WHERE rn = CAST(FLOOR((n + 1) / 2.0) AS BIGINT)
      |), d AS (
      |  SELECT e.event_type, e.event_id, ABS(e.value - m.median_value) AS adev,
      |    m.median_value, m.n
      |  FROM ev e JOIN med m USING (event_type)
      |), r2 AS (
      |  SELECT event_type, adev,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY adev, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n2
      |  FROM d
      |), mad AS (
      |  SELECT event_type, adev AS mad
      |  FROM r2 WHERE rn = CAST(FLOOR((n2 + 1) / 2.0) AS BIGINT)
      |)
      |SELECT d.event_type, d.median_value, mad.mad,
      |  CAST(SUM(CASE WHEN d.adev > CAST(4.4478 AS DOUBLE) * mad.mad
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  d.n
      |FROM d JOIN mad USING (event_type)
      |GROUP BY d.event_type, d.median_value, mad.mad, d.n
      |ORDER BY d.event_type""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events").filter(col("value").isNotNull)
      .select(col("event_type"), col("value"), col("event_id"))
    val med = graft.ops.RankSelect.groupMedian(ev, "event_type", "value", "event_id")
    // RankSelect makes several passes over its input and the final agg
    // reads it once more — checkpoint the deviation frame so each pass
    // reads the materialized rows instead of re-running the scan + join
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("value") - col("median_value")))
      .localCheckpoint()
    val mad = graft.ops.RankSelect.groupMedian(
      dev.select(col("event_type"), col("adev"), col("event_id")),
      "event_type", "adev", "event_id")
      .select(col("event_type"), col("median_value").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"), col("median_value"), col("mad"), col("n"))
      .agg(Det.countIf(col("adev") > lit(4.4478) * col("mad")).cast("long").as("n_outliers"))
      .select(col("event_type"), col("median_value"), col("mad"),
        col("n_outliers"), col("n"))
      .orderBy("event_type")
  }

  /** q115 — histogram-sketch quantiles: approximate p25/p50/p75/p90 read
    * off a FIXED 1000-bin width-1 histogram (the additive, mergeable
    * digest a pipeline keeps per partition/day — counts merge by plain +,
    * the same artifact algebra as the HLL registers), beside the exact
    * RankSelect quantiles, with the per-quantile error and the ≤ bin-width
    * guarantee evaluated IN-QUERY. The histogram approx is the lower bin
    * edge at rank ⌊(n−1)p⌋+1 (q61's convention), so exact ∈
    * [approx, approx+1) whenever the rank lands outside the clamp bin.
    * Scale shape: one hash aggregate to ≤ types×1000 rows; the cumulative
    * window runs over that metadata-sized frame, never the events.
    */
  val q115 = Q("q115_histogram_quantiles",
    """WITH ev AS (
      |  SELECT event_type, event_id, value FROM events WHERE value IS NOT NULL
      |), ranked AS (
      |  SELECT event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM ev
      |), exact AS (
      |  SELECT event_type, CAST(n AS BIGINT) AS n,
      |    MAX(CASE WHEN rn = CAST(FLOOR((n - 1) * 0.5) + 1 AS BIGINT) THEN value END) AS exact_p50,
      |    MAX(CASE WHEN rn = CAST(FLOOR((n - 1) * 0.9) + 1 AS BIGINT) THEN value END) AS exact_p90
      |  FROM ranked GROUP BY event_type, n
      |), hist AS (
      |  SELECT event_type,
      |    LEAST(999, GREATEST(0, CAST(FLOOR(value) AS BIGINT))) AS bin,
      |    COUNT(*) AS n_bin
      |  FROM ev GROUP BY 1, 2
      |), cum AS (
      |  SELECT event_type, bin,
      |    SUM(n_bin) OVER (PARTITION BY event_type ORDER BY bin
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
      |    SUM(n_bin) OVER (PARTITION BY event_type) AS n
      |  FROM hist
      |), approx AS (
      |  SELECT event_type,
      |    CAST(MIN(CASE WHEN c >= CAST(FLOOR((n - 1) * 0.5) + 1 AS BIGINT) THEN bin END) AS DOUBLE) AS approx_p50,
      |    CAST(MIN(CASE WHEN c >= CAST(FLOOR((n - 1) * 0.9) + 1 AS BIGINT) THEN bin END) AS DOUBLE) AS approx_p90
      |  FROM cum GROUP BY event_type
      |)
      |SELECT e.event_type, e.n,
      |  a.approx_p50, e.exact_p50, e.exact_p50 - a.approx_p50 AS err_p50,
      |  a.approx_p90, e.exact_p90, e.exact_p90 - a.approx_p90 AS err_p90,
      |  (e.exact_p50 - a.approx_p50 >= CAST(0 AS DOUBLE)
      |    AND e.exact_p50 - a.approx_p50 < CAST(1 AS DOUBLE)
      |    AND e.exact_p90 - a.approx_p90 >= CAST(0 AS DOUBLE)
      |    AND e.exact_p90 - a.approx_p90 < CAST(1 AS DOUBLE)) AS within_binwidth
      |FROM exact e JOIN approx a USING (event_type)
      |ORDER BY e.event_type""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events").filter(col("value").isNotNull)
      .select(col("event_type"), col("value"), col("event_id"))
    val exact = graft.ops.RankSelect.groupQuantiles(ev, "event_type", "value", "event_id",
      Seq("exact_p50" -> 0.5, "exact_p90" -> 0.9))
    val hist = ev.groupBy(col("event_type"),
        least(lit(999L), greatest(lit(0L), floor(col("value")))).as("bin"))
      .agg(count(lit(1)).as("n_bin"))
    val wCum = Window.partitionBy("event_type").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("event_type")
    val cum = hist
      .withColumn("c", sum("n_bin").over(wCum))
      .withColumn("nh", sum("n_bin").over(wAll))
    def rankOf(p: Double) = (floor((col("nh") - 1) * lit(p)) + 1).cast("long")
    val approx = cum.groupBy("event_type").agg(
      min(when(col("c") >= rankOf(0.5), col("bin"))).cast("double").as("approx_p50"),
      min(when(col("c") >= rankOf(0.9), col("bin"))).cast("double").as("approx_p90"))
    val errP50 = col("exact_p50") - col("approx_p50")
    val errP90 = col("exact_p90") - col("approx_p90")
    exact.join(approx, "event_type")
      .select(col("event_type"), col("n"),
        col("approx_p50"), col("exact_p50"), errP50.as("err_p50"),
        col("approx_p90"), col("exact_p90"), errP90.as("err_p90"),
        (errP50 >= lit(0.0) && errP50 < lit(1.0) &&
          errP90 >= lit(0.0) && errP90 < lit(1.0)).as("within_binwidth"))
      .orderBy("event_type")
  }

  /** q116 — group-wise z-score normalization: the standard feature-prep
    * projection (x − μ_g)/σ_g with per-type moments, plus a ±3 clamp
    * (winsorized z) — both the raw and clamped forms a training pipeline
    * feeds downstream. Exactness: μ from Det's fixed-point integer sums,
    * σ from Det.dstddev (integer sums + one exact sqrt), then two IEEE
    * ops per row — every value oracles bit-for-bit. Scale shape: one
    * aggregate to |types| rows broadcast back over the fact scan; the
    * projection itself is map-side only.
    */
  val q116 = Q("q116_zscore_normalize",
    """WITH m AS (
      |  SELECT event_type,
      |    SUM(CAST(FLOOR(value * 10000.0) AS BIGINT)) / 10000.0 / COUNT(value) AS mu,
      |    CASE WHEN COUNT(value) > 1 THEN SQRT(
      |      (SUM(CAST(FLOOR(value * value * 1000000.0) AS BIGINT)) / 1000000.0
      |        - (SUM(CAST(FLOOR(value * 1000000.0) AS BIGINT)) / 1000000.0)
      |          * (SUM(CAST(FLOOR(value * 1000000.0) AS BIGINT)) / 1000000.0) / COUNT(value))
      |      / (COUNT(value) - 1.0)) END AS sigma
      |  FROM events WHERE value IS NOT NULL GROUP BY event_type
      |)
      |SELECT e.event_id, e.event_type, e.value,
      |  (e.value - m.mu) / m.sigma AS z,
      |  LEAST(CAST(3 AS DOUBLE), GREATEST(CAST(-3 AS DOUBLE), (e.value - m.mu) / m.sigma)) AS z_winsor
      |FROM events e JOIN m USING (event_type)
      |WHERE e.value IS NOT NULL AND e.event_id < 2000
      |ORDER BY e.event_id""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events").filter(col("value").isNotNull)
    val m = ev.groupBy("event_type").agg(
      Det.davg(col("value")).as("mu"),
      Det.dstddev(col("value")).as("sigma"))
    val z = (col("value") - col("mu")) / col("sigma")
    ev.filter(col("event_id") < 2000)
      .join(broadcast(m), "event_type")
      .select(col("event_id"), col("event_type"), col("value"),
        z.as("z"),
        least(lit(3.0), greatest(lit(-3.0), z)).as("z_winsor"))
      .orderBy("event_id")
  }

  val all: Seq[Q] = Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09, q10,
    q11, q12, q13, q14, q15, q16, q19, q26, q27, q28, q29, q41, q42, q43, q44, q45, q46, q47,
    q61, q73, q74, q75, q76, q78, q84, q85, q113, q115, q116)
}
