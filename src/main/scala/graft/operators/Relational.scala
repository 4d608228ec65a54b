package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Relational core: scan/filter/project, aggregation, joins (broadcast,
  * semi, anti, range, as-of), windows, rollup, set ops, percentiles,
  * sessionization, skew-safe aggregation. SURVEY.md §2.2.
  *
  * Scale notes (100 TB / 1000 executors):
  *  - dims (region/nation/customer/part/supplier) are broadcast —
  *    never shuffled;
  *  - every aggregate accumulates in decimal (associative ⇒ partial
  *    map-side combine is safe and the result is merge-order-free);
  *  - each query shuffles at most once on its semantic key;
  *  - AQE (on in Verify/Bench sessions) handles skewed join keys.
  */
object Relational {
  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))
  private def dsum2(c: Column): Column = graft.Portable.decSum2(c)
  private def dsum6(c: Column): Column = graft.Portable.decSum6(c)
  private def sql2(e: String) = graft.Portable.decSum2Sql(e)
  private def sql6(e: String) = graft.Portable.decSum6Sql(e)

  private def tsNtz(s: String): Column = lit(s).cast(TimestampNTZType)

  // ---------------------------------------------------------------- q1
  /** TPC-H Q1-style pricing summary: single shuffle on the two group
    * keys, map-side partial aggregation, decimal-exact money math.
    * Ref behavior target: BASELINE.md headline aggregation. */
  val q1 = QueryDef(
    "q1_pricing_summary",
    Some("""SELECT l_returnflag, l_linestatus,
      CAST(sum(CAST((l_quantity) AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(sum(CAST((l_extendedprice) AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      CAST(sum(CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
      CAST(sum(CAST((l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
      count(*) AS count_order
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""),
    (s, d) => Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= tsNtz("1998-09-01 00:00:00"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum2(col("l_quantity")).as("sum_qty"),
        dsum2(col("l_extendedprice")).as("sum_base_price"),
        dsum6(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        dsum6(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus")))

  // ---------------------------------------------------------------- q2
  /** Projection + predicate pushdown: the parquet scan must show
    * PushedFilters on l_shipdate/l_quantity and a 4-column ReadSchema. */
  val q2 = QueryDef(
    "q2_filter_pushdown",
    Some("""SELECT l_orderkey, l_linenumber, l_quantity
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1999-01-01 00:00:00' AND l_quantity < 5
      ORDER BY l_orderkey, l_linenumber"""),
    (s, d) => Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= tsNtz("1999-01-01 00:00:00") && col("l_quantity") < 5)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber")), bench = false)

  // ---------------------------------------------------------------- q3
  /** Join + agg + top-k. orders→lineitem shuffles on the join key once;
    * the final top-k is a TakeOrderedAndProject (no full sort). */
  val q3 = QueryDef(
    "q3_top_orders",
    Some(s"""SELECT o_orderkey, o_orderdate,
      ${sql6("l_extendedprice * (1 - l_discount)")} AS revenue
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'O'
      GROUP BY o_orderkey, o_orderdate
      ORDER BY revenue DESC, o_orderkey LIMIT 20"""),
    (s, d) => Tables.orders(s, d).filter(col("o_orderstatus") === "O")
      .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(dsum6(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(20))

  // ---------------------------------------------------------------- q4
  /** Left-semi join (EXISTS). Builds the filter side small → broadcast. */
  val q4 = QueryDef(
    "q4_semi_join",
    Some("""SELECT c_custkey, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 200000)
      ORDER BY c_custkey"""),
    (s, d) => Tables.customer(s, d)
      .join(
        broadcast(Tables.orders(s, d).filter(col("o_totalprice") > 200000).select(col("o_custkey"))),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey")), bench = false)

  // ---------------------------------------------------------------- q5
  /** Left-anti join (NOT EXISTS): customers without any very large order. */
  val q5 = QueryDef(
    "q5_anti_join",
    Some("""SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
      ORDER BY c_custkey"""),
    (s, d) => Tables.customer(s, d)
      .join(broadcast(Tables.orders(s, d).filter(col("o_totalprice") > 300000).select(col("o_custkey"))),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey")), bench = false)

  // ---------------------------------------------------------------- q6
  /** Conditional aggregation (CASE inside agg, count over predicate). */
  val q6 = QueryDef(
    "q6_conditional_agg",
    Some("""SELECT o_orderpriority, count(*) AS n_orders,
      count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_finished,
      CAST(sum(CASE WHEN o_totalprice > 150000 THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS big_order_total
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    (s, d) => Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        count(when(col("o_orderstatus") === "F", 1)).as("n_finished"),
        sum(when(col("o_totalprice") > 150000, dec2(col("o_totalprice")))
          .otherwise(dec2(lit(0)))).cast(DoubleType).as("big_order_total"))
      .orderBy(col("o_orderpriority")), bench = false)

  // ---------------------------------------------------------------- q7
  /** Window ranking: top-3 items per supplier. One shuffle on the
    * window partition key; deterministic full tie-break in ORDER BY. */
  val q7 = QueryDef(
    "q7_window_rank",
    Some("""SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice, rn FROM (
      SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
        row_number() OVER (PARTITION BY l_suppkey ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
      FROM lineitem) t WHERE rn <= 3 ORDER BY l_suppkey, rn"""),
    (s, d) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      Tables.lineitem(s, d)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .orderBy(col("l_suppkey"), col("rn"))
    })

  // ---------------------------------------------------------------- q8
  /** Running total per customer (rows frame, decimal-exact). */
  val q8 = QueryDef(
    "q8_window_running",
    Some("""SELECT o_custkey, o_orderkey, o_orderdate,
      CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
      FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey"""),
    (s, d) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          sum(dec2(col("o_totalprice"))).over(w).cast(DoubleType).as("running_spend"))
        .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
    }, bench = false)

  // ---------------------------------------------------------------- q9
  /** ROLLUP multi-level aggregate over broadcast dim joins. */
  val q9 = QueryDef(
    "q9_rollup",
    Some("""SELECT coalesce(r_name, 'ALL') AS region_name, coalesce(n_name, 'ALL') AS nation_name,
      count(*) AS n_customers
      FROM customer JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP(r_name, n_name) ORDER BY region_name, nation_name"""),
    (s, d) => Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region_name"),
        coalesce(col("n_name"), lit("ALL")).as("nation_name"), col("n_customers"))
      .orderBy(col("region_name"), col("nation_name")), bench = false)

  // --------------------------------------------------------------- q10
  /** DISTINCT + multi-column count-distinct per group. */
  val q10 = QueryDef(
    "q10_distinct",
    Some("""SELECT l_returnflag, l_linestatus,
      count(DISTINCT l_partkey) AS n_parts, count(DISTINCT l_suppkey) AS n_supps
      FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""),
    (s, d) => Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"))
      .orderBy(col("l_returnflag"), col("l_linestatus")), bench = false)

  // --------------------------------------------------------------- q11
  /** Set operations: ((A ∪ B) ∩ C) \ D with SQL distinct semantics. */
  val q11 = QueryDef(
    "q11_setops",
    Some("""SELECT k FROM (
      ((SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING')
       UNION (SELECT o_custkey AS k FROM orders WHERE o_totalprice > 250000))
      INTERSECT (SELECT o_custkey AS k FROM orders)
      EXCEPT (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F')) t
      ORDER BY k"""),
    (s, d) => {
      val a = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey").as("k"))
      val b = Tables.orders(s, d).filter(col("o_totalprice") > 250000).select(col("o_custkey").as("k"))
      val c = Tables.orders(s, d).select(col("o_custkey").as("k"))
      val e = Tables.orders(s, d).filter(col("o_orderstatus") === "F").select(col("o_custkey").as("k"))
      a.union(b).distinct().intersect(c).except(e).orderBy(col("k"))
    }, bench = false)

  // --------------------------------------------------------------- q12
  /** 5-table star join; all dims broadcast so the only shuffle is the
    * final group-by (orders→lineitem join key is co-aggregated). */
  val q12 = QueryDef(
    "q12_join_multi",
    Some(s"""SELECT r_name, n_name, count(*) AS n_items,
      ${sql2("l_extendedprice")} AS total_price
      FROM region JOIN nation ON n_regionkey = r_regionkey
      JOIN customer ON c_nationkey = n_nationkey
      JOIN orders ON o_custkey = c_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      GROUP BY r_name, n_name ORDER BY r_name, n_name"""),
    (s, d) => Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_items"), dsum2(col("l_extendedprice")).as("total_price"))
      .orderBy(col("r_name"), col("n_name")))

  // --------------------------------------------------------------- q13
  /** Exact interpolated percentiles per group (percentile_cont). */
  val q13 = QueryDef(
    "q13_percentiles",
    Some("""SELECT l_returnflag,
      round(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity), 4) AS median_qty,
      round(percentile_cont(0.9) WITHIN GROUP (ORDER BY l_quantity), 4) AS p90_qty,
      round(percentile_cont(0.99) WITHIN GROUP (ORDER BY l_extendedprice), 4) AS p99_price
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    (s, d) => Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      // one Percentile buffer+sort for the two quantity targets (r15,
      // guide §1.2) — element extraction of the array form is the
      // identical interpolation bit-for-bit
      .agg(
        expr("percentile(l_quantity, array(0.5, 0.9))").as("q_arr"),
        round(expr("percentile(l_extendedprice, 0.99)"), 4).as("p99_price"))
      .select(col("l_returnflag"),
        round(element_at(col("q_arr"), 1), 4).as("median_qty"),
        round(element_at(col("q_arr"), 2), 4).as("p90_qty"),
        col("p99_price"))
      .orderBy(col("l_returnflag")))

  // --------------------------------------------------------------- q14
  /** Statistical aggregates; rounded identically on both sides (double
    * stddev/corr are merge-order sensitive in the last bits). */
  val q14 = QueryDef(
    "q14_stats",
    Some("""SELECT l_returnflag,
      round(stddev_samp(l_quantity), 6) AS sd_qty,
      round(var_samp(l_quantity), 6) AS var_qty,
      round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
      round(avg(l_discount), 6) AS avg_disc
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    (s, d) => Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
        round(var_samp(col("l_quantity")), 6).as("var_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
        round(avg(col("l_discount")), 6).as("avg_disc"))
      .orderBy(col("l_returnflag")), bench = false)

  // --------------------------------------------------------------- q15
  /** Non-equi range join: events bucketed into value bands. The band
    * table is tiny ⇒ broadcast nested loop, no shuffle of the fact. */
  private val bands = Seq((0, 0.0, 50.0), (1, 50.0, 100.0), (2, 100.0, 150.0), (3, 150.0, 200.0), (4, 200.0, 1e18))
  val q15 = QueryDef(
    "q15_range_join",
    Some(s"""SELECT band_id, count(*) AS n_events, ${sql2("value")} AS total_value
      FROM events JOIN (VALUES ${bands.map(b => s"(${b._1}, ${b._2}, ${b._3})").mkString(", ")}) AS b(band_id, lo, hi)
      ON value >= lo AND value < hi
      GROUP BY band_id ORDER BY band_id"""),
    (s, d) => {
      val b = s.createDataFrame(bands).toDF("band_id", "lo", "hi")
      Tables.events(s, d)
        .join(broadcast(b), col("value") >= col("lo") && col("value") < col("hi"))
        .groupBy(col("band_id"))
        .agg(count(lit(1)).as("n_events"), dsum2(col("value")).as("total_value"))
        .orderBy(col("band_id"))
    }, bench = false)

  // --------------------------------------------------------------- q16
  /** Tumbling time-window aggregate on events — the batch twin of the
    * Structured Streaming windowed aggregation in graft.streaming. */
  val q16 = QueryDef(
    "q16_events_window",
    Some(s"""SELECT date_trunc('hour', ts) AS hour_start, event_type, count(*) AS n,
      ${sql2("value")} AS total_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),
    (s, d) => Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum2(col("value")).as("total_value"))
      .orderBy(col("hour_start"), col("event_type")))

  // --------------------------------------------------------------- q17
  /** Gap-based sessionization (30 min), batch twin of the stateful
    * streaming sessionizer. Single shuffle on user_id; session ids are
    * assigned with window functions, never a driver loop. */
  val q17 = QueryDef(
    "q17_sessionize",
    Some("""WITH m AS (
        SELECT event_id, user_id, ts, value,
          CASE WHEN lag(ts) OVER w IS NULL THEN 1
               WHEN ts - lag(ts) OVER w > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS is_new
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sess AS (
        SELECT user_id, ts, value,
          CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
        FROM m)
      SELECT user_id, session_no, count(*) AS n_events,
        CAST(sum(CAST((value) AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        date_trunc('second', min(ts)) AS session_start
      FROM sess GROUP BY user_id, session_no ORDER BY user_id, session_no"""),
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("is_new",
          when(col("prev_ts").isNull, 1)
            .when(col("ts") - col("prev_ts") > expr("INTERVAL '30' MINUTE"), 1)
            .otherwise(0))
        .withColumn("session_no", sum(col("is_new")).over(wr))
        .groupBy(col("user_id"), col("session_no"))
        .agg(count(lit(1)).as("n_events"), dsum2(col("value")).as("total_value"),
          date_trunc("second", min(col("ts"))).as("session_start"))
        .orderBy(col("user_id"), col("session_no"))
    })

  // --------------------------------------------------------------- q18
  /** JSON field extraction from the event payload. */
  val q18 = QueryDef(
    "q18_json_extract",
    Some("""SELECT event_type, CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      count(*) AS n FROM events GROUP BY event_type ORDER BY event_type"""),
    (s, d) => Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(sum(get_json_object(col("props"), "$.k").cast(LongType)).as("sum_k"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type")), bench = false)

  // --------------------------------------------------------------- q19
  /** As-of join: for every purchase, the most recent click of the same
    * user at-or-before the purchase. Implemented with the union-merge
    * technique (tag streams, single sort per user, last-ignore-nulls),
    * which scales as one shuffle + one window pass — no point lookups.
    * Oracle uses DuckDB's native ASOF JOIN as an independent impl. */
  val q19 = QueryDef(
    "q19_asof_join",
    Some("""WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click')
      SELECT p.event_id, p.user_id, date_trunc('second', p.ts) AS purchase_sec,
        date_trunc('second', c.ts) AS last_click_sec, c.value AS last_click_value
      FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
      ORDER BY p.event_id"""),
    (s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), col("ts").as("click_ts"),
          col("value").as("click_value"))
      AsOfJoin.join(purchases, clicks,
          key = "user_id", leftTime = "ts", rightTime = "ts",
          rightCols = Seq("click_ts", "click_value"), prefix = "last_",
          tieBreak = Some(("event_id", "event_id")))
        .select(col("event_id"), col("user_id"),
          date_trunc("second", col("ts")).as("purchase_sec"),
          date_trunc("second", col("last_click_ts")).as("last_click_sec"),
          col("last_click_value").as("last_click_value"))
        .orderBy(col("event_id"))
    })

  // --------------------------------------------------------------- q20
  /** Skew-safe two-phase (salted) aggregation: phase 1 aggregates on
    * (key, salt) spreading a hot key over 8 reducers, phase 2 merges.
    * Decimal partials make the result identical to the direct plan —
    * the oracle is the plain GROUP BY. */
  val q20 = QueryDef(
    "q20_skew_agg",
    Some("""SELECT l_returnflag, count(*) AS n,
      CAST(sum(CAST((l_quantity) AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    (s, d) => Tables.lineitem(s, d)
      .withColumn("salt", pmod(hash(col("l_orderkey")), lit(8)))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(count(lit(1)).as("pn"), sum(dec2(col("l_quantity"))).as("psum"))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("pn")).as("n"), sum(col("psum")).cast(DoubleType).as("sum_qty"))
      .orderBy(col("l_returnflag")), bench = false)

  val defs: Seq[QueryDef] = Seq(q1, q2, q3, q4, q5, q6, q7, q8, q9, q10,
    q11, q12, q13, q14, q15, q16, q17, q18, q19, q20)
}
