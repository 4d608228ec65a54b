package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Second wave of relational coverage (SURVEY.md §2.2 extension):
  * cube, pivot, navigation windows, grouping sets, calendar breakdown,
  * schema-aware union-by-name.
  */
object Extra {
  private def dsum2(c: org.apache.spark.sql.Column) = graft.Portable.decSum2(c)

  // --------------------------------------------------------------- q21
  /** CUBE over two dims (all four grouping combinations). */
  val q21 = QueryDef(
    "q21_cube",
    Some("""SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
      count(*) AS n, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus) ORDER BY rf, ls"""),
    (s, d) => Tables.lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum2(col("l_quantity")).as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"), col("n"), col("sum_qty"))
      .orderBy(col("rf"), col("ls")))

  // --------------------------------------------------------------- q22
  /** PIVOT: one column per line status. Spark's pivot with explicit
    * values keeps the plan a single pass (no per-value scans). */
  val q22 = QueryDef(
    "q22_pivot",
    Some("""SELECT l_returnflag,
      CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS F,
      CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS O
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    (s, d) => Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(graft.Portable.decSum2(col("l_quantity")))
      .orderBy(col("l_returnflag")))

  // --------------------------------------------------------------- q23
  /** Navigation window functions: lag/lead/first_value/ntile. */
  val q23 = QueryDef(
    "q23_window_nav",
    Some("""SELECT o_custkey, o_orderkey, o_totalprice,
      lag(o_totalprice) OVER w AS prev_price,
      lead(o_totalprice) OVER w AS next_price,
      first_value(o_orderkey) OVER w AS first_order,
      ntile(4) OVER w AS quartile
      FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      ORDER BY o_custkey, o_orderdate, o_orderkey"""),
    (s, d) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          first(col("o_orderkey")).over(w).as("first_order"),
          ntile(4).over(w).as("quartile"))
        .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
    })

  // --------------------------------------------------------------- q24
  /** Explicit GROUPING SETS with grouping() indicator. */
  val q24 = QueryDef(
    "q24_grouping_sets",
    Some("""SELECT coalesce(o_orderpriority, 'ALL') AS pri, coalesce(o_orderstatus, 'ALL') AS st,
      CAST(grouping(o_orderpriority) AS INT) AS g_pri, count(*) AS n
      FROM orders GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
      ORDER BY pri, st, g_pri"""),
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("graft_orders_gs")
      s.sql("""SELECT coalesce(o_orderpriority, 'ALL') AS pri, coalesce(o_orderstatus, 'ALL') AS st,
        CAST(grouping(o_orderpriority) AS INT) AS g_pri, count(*) AS n
        FROM graft_orders_gs GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        ORDER BY pri, st, g_pri""")
    })

  // --------------------------------------------------------------- q25
  /** Calendar breakdown (year/quarter/month extraction). */
  val q25 = QueryDef(
    "q25_date_parts",
    Some("""SELECT year(o_orderdate) AS y, quarter(o_orderdate) AS q, month(o_orderdate) AS m,
      count(*) AS n, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),
    (s, d) => Tables.orders(s, d)
      .groupBy(year(col("o_orderdate")).as("y"), quarter(col("o_orderdate")).as("q"),
        month(col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("total"))
      .orderBy(col("y"), col("q"), col("m")))

  // --------------------------------------------------------------- q26
  /** Schema-aware unionByName: two differently-shaped projections
    * merged by column name, missing columns null-filled — the data
    * twin of SchemaDiff.unionByName. */
  val q26 = QueryDef(
    "q26_union_by_name",
    Some("""SELECT * FROM (
      SELECT l_orderkey, l_linenumber, l_quantity, CAST(NULL AS DOUBLE) AS l_extendedprice, 'a' AS src
      FROM lineitem WHERE l_linenumber = 1
      UNION ALL
      SELECT l_orderkey, l_linenumber, CAST(NULL AS DOUBLE) AS l_quantity, l_extendedprice, 'b' AS src
      FROM lineitem WHERE l_linenumber = 2) t
      ORDER BY l_orderkey, l_linenumber"""),
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val a = li.filter(col("l_linenumber") === 1)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), lit("a").as("src"))
      val b = li.filter(col("l_linenumber") === 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"), lit("b").as("src"))
      a.unionByName(b, allowMissingColumns = true)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("src"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    })

  // --------------------------------------------------------------- q27
  /** Collect aggregation surfaced deterministically: the distinct set
    * per group, sorted and joined (collect_set order is engine-defined,
    * so the comparable form is the sorted string). */
  val q27 = QueryDef(
    "q27_collect_strings",
    Some("""SELECT o_custkey,
      array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS priorities,
      count(*) AS n_orders
      FROM orders GROUP BY o_custkey ORDER BY o_custkey"""),
    (s, d) => Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(concat_ws(",", sort_array(collect_set(col("o_orderpriority")))).as("priorities"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("o_custkey")))

  // --------------------------------------------------------------- q28
  /** Sliding time-window frame: per-user running event value over the
    * trailing hour. Spark's DSL has no interval RANGE frames, so both
    * engines order by epoch microseconds with a numeric range — the
    * portable formulation (and the one that survives engine swaps). */
  val q28 = QueryDef(
    "q28_time_range_frame",
    Some("""SELECT user_id, event_id,
      CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
        PARTITION BY user_id ORDER BY epoch_us(ts)
        RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS hour_value
      FROM events ORDER BY user_id, event_id"""),
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(expr("unix_micros(CAST(ts AS TIMESTAMP))"))
        .rangeBetween(-3600000000L, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          sum(col("value").cast(DecimalType(18, 2))).over(w).cast(DoubleType).as("hour_value"))
        .orderBy(col("user_id"), col("event_id"))
    })

  // --------------------------------------------------------------- q29
  /** Correlated scalar subquery — Catalyst de-correlates it into a
    * left outer aggregate join (visible in the plan), so it scales
    * like a join, not like per-row lookups. */
  val q29 = QueryDef(
    "q29_scalar_subquery",
    Some("""SELECT c_custkey, c_name,
      (SELECT max(o_totalprice) FROM orders WHERE o_custkey = c_custkey) AS max_order
      FROM customer ORDER BY c_custkey"""),
    (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("graft_customer_sq")
      Tables.orders(s, d).createOrReplaceTempView("graft_orders_sq")
      s.sql("""SELECT c_custkey, c_name,
        (SELECT max(o_totalprice) FROM graft_orders_sq WHERE o_custkey = c_custkey) AS max_order
        FROM graft_customer_sq ORDER BY c_custkey""")
    })

  // --------------------------------------------------------------- q30
  /** Ranking distribution functions: rank/dense_rank/percent_rank/
    * cume_dist (exact small rationals — identical formulas in both
    * engines, no rounding needed).
    *
    * Scale note: `l_returnflag` has only 3 values, so this window
    * lands ALL rows on 3 tasks — fine here because the DISTINCT
    * projection bounds each partition to |distinct quantities| rows,
    * but do NOT copy this window shape for high-volume data; use a
    * high-cardinality partition key (see q7/q16/q17) or pre-aggregate
    * as done here. */
  val q30 = QueryDef(
    "q30_rank_distributions",
    Some("""SELECT l_returnflag, l_quantity,
      rank() OVER w AS rnk, dense_rank() OVER w AS drnk,
      percent_rank() OVER w AS prnk, cume_dist() OVER w AS cdist
      FROM (SELECT DISTINCT l_returnflag, l_quantity FROM lineitem) t
      WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity)
      ORDER BY l_returnflag, l_quantity"""),
    (s, d) => {
      val w = Window.partitionBy(col("l_returnflag")).orderBy(col("l_quantity"))
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_quantity")).distinct()
        .select(col("l_returnflag"), col("l_quantity"),
          rank().over(w).as("rnk"), dense_rank().over(w).as("drnk"),
          percent_rank().over(w).as("prnk"), cume_dist().over(w).as("cdist"))
        .orderBy(col("l_returnflag"), col("l_quantity"))
    })

  // --------------------------------------------------------------- q31
  /** Scalar string-function battery (upper/substr/replace/lpad/
    * levenshtein/reverse) — pure codegen'd per-row work, no shuffle. */
  val q31 = QueryDef(
    "q31_string_funcs",
    Some("""SELECT p_partkey, upper(p_brand) AS brand_u, substr(p_name, 1, 8) AS name8,
      replace(p_type, ' ', '_') AS type_u, lpad(CAST(p_size AS VARCHAR), 4, '0') AS size4,
      levenshtein(p_brand, p_type) AS lev, reverse(p_name) AS rname
      FROM part ORDER BY p_partkey"""),
    (s, d) => Tables.part(s, d)
      .select(col("p_partkey"), upper(col("p_brand")).as("brand_u"),
        substring(col("p_name"), 1, 8).as("name8"),
        regexp_replace(col("p_type"), " ", "_").as("type_u"),
        lpad(col("p_size").cast("string"), 4, "0").as("size4"),
        levenshtein(col("p_brand"), col("p_type")).as("lev"),
        reverse(col("p_name")).as("rname"))
      .orderBy(col("p_partkey")))

  // --------------------------------------------------------------- q32
  /** Conditional scalar expressions: CASE chains, greatest/least,
    * nullif/coalesce — the branching layer of any feature pipeline. */
  val q32 = QueryDef(
    "q32_conditional_exprs",
    Some("""SELECT o_orderkey,
      CASE WHEN o_totalprice > 250000 THEN 'high' WHEN o_totalprice > 100000 THEN 'mid' ELSE 'low' END AS band,
      greatest(o_totalprice, 50000.0) AS floored,
      least(CAST(o_custkey AS BIGINT), 100) AS capped_cust,
      coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_label
      FROM orders ORDER BY o_orderkey"""),
    (s, d) => Tables.orders(s, d)
      .select(col("o_orderkey"),
        when(col("o_totalprice") > 250000, "high")
          .when(col("o_totalprice") > 100000, "mid").otherwise("low").as("band"),
        greatest(col("o_totalprice"), lit(50000.0)).as("floored"),
        least(col("o_custkey").cast("long"), lit(100L)).as("capped_cust"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN")).as("status_label"))
      .orderBy(col("o_orderkey")))

  // --------------------------------------------------------------- q33
  /** UNPIVOT (melt): wide metrics → long (key, metric, value) — the
    * reshape every feature store needs. Oracle uses the portable
    * UNION ALL formulation. */
  val q33 = QueryDef(
    "q33_unpivot",
    Some("""SELECT o_orderkey, metric, CAST(v AS DOUBLE) AS v FROM (
      SELECT o_orderkey, 'totalprice' AS metric, o_totalprice AS v FROM orders
      UNION ALL SELECT o_orderkey, 'custkey', CAST(o_custkey AS DOUBLE) FROM orders) t
      ORDER BY o_orderkey, metric"""),
    (s, d) => Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_custkey").cast(DoubleType).as("o_custkey_d"))
      .unpivot(Array(col("o_orderkey")),
        Array(col("o_totalprice").as("totalprice"), col("o_custkey_d").as("custkey")),
        "metric", "v")
      .orderBy(col("o_orderkey"), col("metric")))

  // --------------------------------------------------------------- q34
  /** LATERAL correlated subquery: each customer's single latest order
    * (a per-row dependent top-1 — the lateral shape planners turn into
    * a window or dependent join). */
  val q34 = QueryDef(
    "q34_lateral",
    Some("""SELECT c_custkey, l.o_orderkey, l.o_totalprice
      FROM customer, LATERAL (
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_custkey = c_custkey
        ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1) l
      ORDER BY c_custkey"""),
    (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("graft_cust_lat")
      Tables.orders(s, d).createOrReplaceTempView("graft_ord_lat")
      s.sql("""SELECT c_custkey, l.o_orderkey, l.o_totalprice
        FROM graft_cust_lat, LATERAL (
          SELECT o_orderkey, o_totalprice FROM graft_ord_lat
          WHERE o_custkey = c_custkey
          ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1) l
        ORDER BY c_custkey""")
    })

  // --------------------------------------------------------------- q35
  /** GROUP BY … HAVING on an aggregate predicate (post-aggregation
    * filter — pushed neither to the scan nor the partial agg). */
  val q35 = QueryDef(
    "q35_having",
    Some("""SELECT o_custkey, count(*) AS n_orders,
      CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
      FROM orders GROUP BY o_custkey
      HAVING count(*) >= 12 AND sum(CAST(o_totalprice AS DECIMAL(18,2))) > 1000000
      ORDER BY o_custkey"""),
    (s, d) => Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).as("spend_dec"))
      .filter(col("n_orders") >= 12 && col("spend_dec") > 1000000)
      .select(col("o_custkey"), col("n_orders"), col("spend_dec").cast(DoubleType).as("spend"))
      .orderBy(col("o_custkey")))

  // --------------------------------------------------------------- q36
  /** Bag-semantics set ops: INTERSECT ALL / EXCEPT ALL preserve
    * duplicate multiplicity (q11 covers the DISTINCT variants). */
  val q36 = QueryDef(
    "q36_setops_all",
    Some("""SELECT k, count(*) AS n FROM (
      (SELECT o_custkey AS k FROM orders WHERE o_orderstatus <> 'F')
      INTERSECT ALL
      (SELECT o_custkey AS k FROM orders WHERE o_totalprice > 100000)) t
      GROUP BY k
      UNION ALL
      SELECT -1 AS k, count(*) AS n FROM (
      (SELECT o_custkey FROM orders)
      EXCEPT ALL
      (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')) t2
      ORDER BY k"""),
    (s, d) => {
      val o = Tables.orders(s, d)
      val ia = o.filter(col("o_orderstatus") =!= "F").select(col("o_custkey").as("k"))
        .intersectAll(o.filter(col("o_totalprice") > 100000).select(col("o_custkey").as("k")))
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
      val ea = o.select(col("o_custkey").as("k"))
        .exceptAll(o.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("k")))
        .agg(count(lit(1)).as("n")).select(lit(-1L).as("k"), col("n"))
      ia.unionByName(ea).orderBy(col("k"))
    })

  // --------------------------------------------------------------- q37
  /** FULL OUTER join: every customer and every high-value order
    * bucket, null-preserving on both sides. */
  val q37 = QueryDef(
    "q37_full_outer",
    Some("""SELECT coalesce(c.c_custkey, o.k) AS custkey,
      c.c_mktsegment AS segment, o.n_big
      FROM (SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey <= 400) c
      FULL OUTER JOIN (SELECT o_custkey AS k, count(*) AS n_big FROM orders
        WHERE o_totalprice > 250000 GROUP BY o_custkey) o
      ON c.c_custkey = o.k
      ORDER BY custkey, segment NULLS FIRST"""),
    (s, d) => {
      val c = Tables.customer(s, d).filter(col("c_custkey") <= 400)
        .select(col("c_custkey"), col("c_mktsegment"))
      val o = Tables.orders(s, d).filter(col("o_totalprice") > 250000)
        .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("n_big"))
      c.join(o, col("c_custkey") === col("k"), "full_outer")
        .select(coalesce(col("c_custkey"), col("k")).as("custkey"),
          col("c_mktsegment").as("segment"), col("n_big"))
        .orderBy(col("custkey"), col("segment").asc_nulls_first)
    })

  // --------------------------------------------------------------- q38
  /** Centered moving average (3-row window, decimal-exact; q8 covers
    * the unbounded-preceding frame). */
  val q38 = QueryDef(
    "q38_moving_avg",
    Some("""SELECT o_custkey, o_orderkey,
      round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
        / count(*) OVER w, 6) AS mov_avg
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
      ORDER BY o_custkey, o_orderdate, o_orderkey"""),
    (s, d) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(-1, 1)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          round(sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w).cast(DoubleType)
            / count(lit(1)).over(w), 6).as("mov_avg"))
        .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
        .select(col("o_custkey"), col("o_orderkey"), col("mov_avg"))
    })

  // --------------------------------------------------------------- q39
  /** q13's exact percentiles via DISTRIBUTED SELECTION
    * ([[ExactPercentiles]] — iterative 2^16-bucket range narrowing,
    * no executor ever buffers a group's values) instead of the
    * `percentile()` aggregate, whose per-group sorted buffer is the
    * one documented scale ceiling of the q13 plan (3 groups at 100 TB
    * = 3 reducers holding everything). Same oracle as q13: the
    * selection is EXACT, so the two plans must agree to the last
    * bit before rounding. */
  val q39 = QueryDef(
    "q39_percentiles_scalable",
    Some("""SELECT l_returnflag,
      round(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity), 4) AS median_qty,
      round(percentile_cont(0.9) WITHIN GROUP (ORDER BY l_quantity), 4) AS p90_qty,
      round(percentile_cont(0.99) WITHIN GROUP (ORDER BY l_extendedprice), 4) AS p99_price
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val qty = ExactPercentiles.percentiles(
        li.select(col("l_returnflag").as("g"), col("l_quantity").as("x")),
        "g", "x", Seq(0.5, 0.9),
        valueGrain = true) // 50-level quantity grid (r14)
      val price = ExactPercentiles.percentiles(
        li.select(col("l_returnflag").as("g"), col("l_extendedprice").as("x")),
        "g", "x", Seq(0.99))
      // pivot the tiny (g, p, value) results into the q13 row shape
      qty.groupBy(col("g"))
        .agg(round(max(when(col("p") === 0.5, col("value"))), 4).as("median_qty"),
          round(max(when(col("p") === 0.9, col("value"))), 4).as("p90_qty"))
        .join(price.select(col("g"), round(col("value"), 4).as("p99_price")), Seq("g"))
        .select(col("g").as("l_returnflag"), col("median_qty"), col("p90_qty"), col("p99_price"))
        .orderBy(col("l_returnflag"))
    })

  // --------------------------------------------------------------- q40
  /** Ordered multi-step funnel (view → click → purchase): per step,
    * how many users completed steps 1..k IN ORDER — the greedy
    * earliest-completion semantics (step k matches the FIRST step-k
    * event strictly after the matched step-(k−1) event; greedy is
    * optimal for funnels, so this equals "any valid ordered triple
    * exists"). The oracle states it as chained min CTEs; the Spark
    * plan is ONE shuffle: per-user sorted fold over the collected
    * relevant events (`aggregate` over `sort_array(collect_list)`),
    * the sessionize/q27 per-user-bounded-buffer precedent — three
    * chained join-aggregates would shuffle the same key three times.
    * Only funnel-relevant event types are collected (map-side filter),
    * so per-user state is bounded by the user's funnel events, not
    * their full event history. */
  val FunnelSteps = Seq("view", "click", "purchase")

  val q40 = QueryDef(
    "q40_funnel",
    Some {
      val Seq(s1, s2, s3) = FunnelSteps
      s"""WITH f1 AS (SELECT user_id, min(ts) AS t1 FROM events
          WHERE event_type = '$s1' GROUP BY user_id),
        f2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
          JOIN f1 ON e.user_id = f1.user_id
          WHERE e.event_type = '$s2' AND e.ts > f1.t1 GROUP BY e.user_id),
        f3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
          JOIN f2 ON e.user_id = f2.user_id
          WHERE e.event_type = '$s3' AND e.ts > f2.t2 GROUP BY e.user_id)
        SELECT CAST(1 AS BIGINT) AS step, '$s1' AS event_type, count(*) AS n_users FROM f1
        UNION ALL SELECT 2, '$s2', count(*) FROM f2
        UNION ALL SELECT 3, '$s3', count(*) FROM f3
        ORDER BY step"""
    },
    (s, d) => funnelCounts(Tables.events(s, d), FunnelSteps))

  /** The [[q40]] builder as a library API: per-step completion counts
    * for an arbitrary ordered step list over (user_id, ts, event_id,
    * event_type) rows. See q40's scaladoc for the semantics and the
    * one-shuffle plan shape. */
  def funnelCounts(events: org.apache.spark.sql.DataFrame, steps: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(steps.nonEmpty, "funnelCounts: at least one step")
    val fields = steps.indices.map(i => s"t$i")
    val init = fields.map(f => s"'$f', CAST(NULL AS TIMESTAMP)").mkString(", ")
    def rebuilt(set: Int): String =
      fields.zipWithIndex.map { case (f, i) =>
        if (i == set) s"'$f', e.ts" else s"'$f', a.$f"
      }.mkString(", ")
    val cases = steps.zipWithIndex.map { case (step, i) =>
      val prev = if (i == 0) "TRUE" else s"a.t${i - 1} IS NOT NULL"
      val after = if (i == 0) "TRUE" else s"e.ts > a.t${i - 1}"
      s"WHEN $prev AND a.t$i IS NULL AND e.et = '$step' AND $after THEN named_struct(${rebuilt(i)})"
    }.mkString("\n          ")
    val fold = s"""aggregate(evs, named_struct($init),
        (a, e) -> CASE $cases ELSE a END)"""
    val aggCols = fields.zipWithIndex.map { case (f, i) => count(col(s"f.$f")).as(s"n$i") }
    val counts = events
      .filter(col("event_type").isin(steps: _*))
      .select(col("user_id"),
        struct(col("ts"), col("event_id").as("eid"), col("event_type").as("et")).as("ev"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(col("ev"))).as("evs"))
      .select(expr(fold).as("f"))
      .agg(aggCols.head, aggCols.tail: _*)
    counts
      .select(explode(array(steps.zipWithIndex.map { case (step, i) =>
        struct(lit((i + 1).toLong).as("step"), lit(step).as("event_type"),
          col(s"n$i").as("n_users"))
      }: _*)).as("r"))
      .select(col("r.step"), col("r.event_type"), col("r.n_users"))
      .orderBy(col("step"))
  }

  // --------------------------------------------------------------- q41
  /** Salted large-×-large join on a skewed key — the companion of
    * q20's salted aggregation: when ONE join key carries a dominant
    * share of the fact rows (hot user/tenant/null-bucket), a plain
    * hash join parks that key's entire volume in one task. Salting
    * splits every hot key across [[JoinSalt]] partitions by
    * construction: the fact side computes `salt = hash(row) % R` and
    * the other side replicates each key R times, so the join keys
    * become (key, salt) and no task sees more than ~1/R of a hot key.
    * AQE's skew-join handles this reactively when runtime stats catch
    * it; explicit salting is the plan-level guarantee when the skew is
    * known a priori, works for any join type, and never depends on
    * stat thresholds. The replicated side costs R× its size — for a
    * genuinely small side prefer `broadcast()` (q3/q12); this shape is
    * for two shuffle-scale inputs (the test dim is small only to keep
    * the oracle cheap — the plan guard pins the non-broadcast salted
    * join). Oracle = the plain unsalted join. */
  val JoinSalt = 8

  val q41 = QueryDef(
    "q41_salted_join",
    Some("""SELECT c.c_mktsegment AS seg, count(*) AS n,
      CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      GROUP BY seg ORDER BY seg"""),
    (s, d) => {
      val fact = Tables.events(s, d)
        .select(col("user_id"), col("value"),
          pmod(hash(col("event_id")), lit(JoinSalt)).as("salt"))
      val dim = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"),
          explode(array((0 until JoinSalt).map(lit(_)): _*)).as("dsalt"))
      fact.join(dim.hint("shuffle_hash"),
          col("user_id") === col("c_custkey") && col("salt") === col("dsalt"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_value"))
        .select(col("c_mktsegment").as("seg"), col("n"), col("sum_value"))
        .orderBy(col("seg"))
    })

  // --------------------------------------------------------------- q42
  /** SCD2 / CDC merge apply (the warehouse MERGE INTO staple): apply a
    * change batch (updates + inserts, here derived deterministically
    * from the customer table) to a base snapshot, producing
    * slowly-changing-dimension history rows — changed keys close
    * their old version `[0, 1)` and open a current `[1, ∞)` one,
    * unchanged keys stay current, new keys insert current.
    *
    * Scale shape — the base is NEVER shuffled row-wise: updates and
    * unchanged rows come from base LEFT JOIN broadcast(batch) (a CDC
    * batch is MBs against a 100 TB base — decontaminate's argument),
    * expanded to history rows by a map-only explode; inserts anti-join
    * the batch against a column-pruned key-only projection of the base
    * (the only shuffle, 8 bytes/row, batch-scale output). Version
    * stamps are integers (the engine-portable core of the operator —
    * real timestamps ride along identically). */
  val q42 = QueryDef(
    "q42_scd2_merge",
    Some("""WITH chg AS (
        SELECT c_custkey, c_acctbal + 100.0 AS new_bal FROM customer WHERE c_custkey % 10 = 0
        UNION ALL
        SELECT c_custkey + 1000000 AS c_custkey, 999.0 AS new_bal FROM customer WHERE c_custkey % 97 = 0),
      b AS (SELECT c_custkey, c_acctbal FROM customer),
      lj AS (SELECT b.c_custkey, b.c_acctbal, c.new_bal FROM b LEFT JOIN chg c ON c.c_custkey = b.c_custkey),
      hist AS (
        SELECT c_custkey, c_acctbal AS acctbal, CAST(0 AS BIGINT) AS valid_from,
          CASE WHEN new_bal IS NOT NULL THEN CAST(1 AS BIGINT) ELSE CAST(NULL AS BIGINT) END AS valid_to,
          new_bal IS NULL AS is_current
        FROM lj
        UNION ALL
        SELECT c_custkey, new_bal, CAST(1 AS BIGINT), CAST(NULL AS BIGINT), true
        FROM lj WHERE new_bal IS NOT NULL
        UNION ALL
        SELECT c.c_custkey, c.new_bal, CAST(1 AS BIGINT), CAST(NULL AS BIGINT), true
        FROM chg c WHERE NOT EXISTS (SELECT 1 FROM b WHERE b.c_custkey = c.c_custkey))
      SELECT c_custkey, acctbal, valid_from, valid_to, is_current
      FROM hist ORDER BY c_custkey, valid_from"""),
    (s, d) => {
      val cust = Tables.customer(s, d)
      val base = cust.select(col("c_custkey"), col("c_acctbal"))
      val changes = cust.filter(pmod(col("c_custkey"), lit(10)) === 0)
          .select(col("c_custkey"), (col("c_acctbal") + lit(100.0)).as("new_bal"))
        .unionAll(cust.filter(pmod(col("c_custkey"), lit(97)) === 0)
          .select((col("c_custkey") + lit(1000000)).as("c_custkey"), lit(999.0).as("new_bal")))
      scd2Apply(base, changes, "c_custkey", "c_acctbal", "new_bal")
        .orderBy(col("c_custkey"), col("valid_from"))
    })

  /** SCD2 merge apply — see [[q42]] for semantics and the scale
    * argument. `base` holds (key, attr), `changes` holds (key,
    * newAttr); output is (key, acctbal, valid_from, valid_to,
    * is_current) history rows. The batch side is broadcast (CDC
    * batches are small by contract); base rows expand map-only; the
    * only exchange of base data is the key-only anti probe. */
  def scd2Apply(base: DataFrame, changes: DataFrame, key: String,
      attr: String, newAttr: String): DataFrame = {
    val updatedOrUnchanged = base.join(broadcast(changes), Seq(key), "left_outer")
      .select(col(key), explode(expr(
        s"""filter(array(
             named_struct('acctbal', $attr, 'valid_from', CAST(0 AS BIGINT),
               'valid_to', CASE WHEN $newAttr IS NOT NULL THEN CAST(1 AS BIGINT) ELSE CAST(NULL AS BIGINT) END,
               'is_current', $newAttr IS NULL),
             CASE WHEN $newAttr IS NOT NULL THEN
               named_struct('acctbal', $newAttr, 'valid_from', CAST(1 AS BIGINT),
                 'valid_to', CAST(NULL AS BIGINT), 'is_current', true)
             ELSE CAST(NULL AS STRUCT<acctbal: DOUBLE, valid_from: BIGINT, valid_to: BIGINT, is_current: BOOLEAN>) END
           ), x -> x IS NOT NULL)""")).as("r"))
      .select(col(key), col("r.acctbal"), col("r.valid_from"),
        col("r.valid_to"), col("r.is_current"))
    // key-only anti probe: the base side is a pruned 8-byte column
    val inserts = changes.join(base.select(col(key)), Seq(key), "left_anti")
      .select(col(key), col(newAttr).as("acctbal"),
        lit(1L).as("valid_from"), lit(null).cast("bigint").as("valid_to"),
        lit(true).as("is_current"))
    updatedOrUnchanged.unionByName(inserts)
  }

  // --------------------------------------------------------------- q43
  /** Grouped second-moment statistics — mean, sample stddev, sample
    * covariance and correlation — derived from DECIMAL primitive sums
    * (n, Σx, Σx², Σy, Σy², Σxy), never from the built-in stddev/corr
    * aggregates: those accumulate doubles in shuffle-merge order
    * (nondeterministic across runs AND engines — Welford in Spark,
    * a different recurrence in DuckDB), while decimal sums are
    * associative, so the folded moments are bit-identical under any
    * partitioning and the closed-form combination is a fixed-order
    * IEEE expression both engines share. The 100 TB shape is one
    * map-side-combinable aggregate; the quadratic-looking Σx² terms
    * are per-row squares, not pairs. */
  val q43 = QueryDef(
    "q43_stats_suite",
    Some("""WITH m AS (SELECT l_returnflag,
        count(*) AS n,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sx,
        CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(28,8))) AS DOUBLE) AS sxx,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sy,
        CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,8))) AS DOUBLE) AS syy,
        CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(28,8))) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, n,
        round(sx / n, 6) AS mean_qty,
        round(sqrt((sxx - sx * sx / n) / (n - 1)), 6) AS stddev_qty,
        round((sxy - sx * sy / n) / (n - 1), 6) AS covar_qty_price,
        round((sxy - sx * sy / n) /
          sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)), 6) AS corr_qty_price
      FROM m ORDER BY l_returnflag"""),
    (s, d) => {
      val m = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 6))).cast("double").as("sx"),
          sum((col("l_quantity") * col("l_quantity")).cast(DecimalType(28, 8))).cast("double").as("sxx"),
          sum(col("l_extendedprice").cast(DecimalType(18, 6))).cast("double").as("sy"),
          sum((col("l_extendedprice") * col("l_extendedprice")).cast(DecimalType(28, 8))).cast("double").as("syy"),
          sum((col("l_quantity") * col("l_extendedprice")).cast(DecimalType(28, 8))).cast("double").as("sxy"))
      m.select(col("l_returnflag"), col("n"),
          round(col("sx") / col("n"), 6).as("mean_qty"),
          round(sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)), 6).as("stddev_qty"),
          round((col("sxy") - col("sx") * col("sy") / col("n")) / (col("n") - 1), 6).as("covar_qty_price"),
          round((col("sxy") - col("sx") * col("sy") / col("n")) /
            sqrt((col("sxx") - col("sx") * col("sx") / col("n")) *
              (col("syy") - col("sy") * col("sy") / col("n"))), 6).as("corr_qty_price"))
        .orderBy(col("l_returnflag"))
    })

  // --------------------------------------------------------------- q44
  /** Distribution-window coverage: ntile, percent_rank, cume_dist
    * over one per-partition sort — the ranking-frame family q7/q30
    * don't exercise. All three derive from the same (rank, count)
    * pair, so one window sort serves every column; the doubles are
    * small-integer ratios, identical IEEE divisions in both engines
    * (rounded 6 dp as belt-and-braces). */
  val q44 = QueryDef(
    "q44_window_frames",
    Some("""SELECT o_orderkey, o_orderpriority,
        ntile(8) OVER w AS tile,
        round(percent_rank() OVER w, 6) AS pct_rank,
        round(cume_dist() OVER w, 6) AS cdist
      FROM orders
      WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
      ORDER BY o_orderpriority, tile, pct_rank, o_orderkey"""),
    (s, d) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          ntile(8).over(w).as("tile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cdist"))
        .orderBy(col("o_orderpriority"), col("tile"), col("pct_rank"), col("o_orderkey"))
    })

  // --------------------------------------------------------------- q45
  /** Cohort retention matrix — the product-analytics staple: users
    * cohorted by first-activity week; each cell (cohort, +k weeks)
    * counts distinct users still active and their fraction of the
    * cohort. Three exchanges, all key-bounded: first-touch min(ts) is
    * a map-combinable user-keyed aggregate; the events→cohort join
    * shuffles both sides once on user_id (the natural co-partitioning
    * — AQE picks broadcast when the user dimension fits); cohort
    * sizes are cohorts-scale rows broadcast back. Distinct activity
    * runs at (user, cohort, week) grain BEFORE the cell aggregate, so
    * per-cell state never exceeds the distinct-user count. */
  val q45 = QueryDef(
    "q45_retention",
    Some("""WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cw
        FROM events GROUP BY user_id),
      a AS (SELECT DISTINCT e.user_id, f.cw,
          (CAST(date_trunc('week', e.ts) AS DATE) - CAST(f.cw AS DATE)) // 7 AS wk
        FROM events e JOIN f ON e.user_id = f.user_id),
      c AS (SELECT cw, count(*) AS cohort_n FROM f GROUP BY cw)
      SELECT CAST(a.cw AS DATE) AS cohort_week, CAST(wk AS BIGINT) AS week_offset,
        count(*) AS n_users,
        round(CAST(count(*) AS DOUBLE) / c.cohort_n, 6) AS retention
      FROM a JOIN c ON a.cw = c.cw
      GROUP BY a.cw, wk, c.cohort_n
      ORDER BY cohort_week, week_offset"""),
    (s, d) => {
      val e = Tables.events(s, d).select(col("user_id"), col("ts"))
      val f = e.groupBy(col("user_id")).agg(date_trunc("week", min(col("ts"))).as("cw"))
      val a = e.join(f, Seq("user_id"))
        .select(col("user_id"), col("cw"),
          expr("datediff(CAST(date_trunc('week', ts) AS DATE), CAST(cw AS DATE)) div 7")
            .cast("long").as("wk"))
        .distinct()
      val c = f.groupBy(col("cw")).agg(count(lit(1)).as("cohort_n"))
      a.join(broadcast(c), Seq("cw"))
        .groupBy(col("cw"), col("wk"), col("cohort_n"))
        .agg(count(lit(1)).as("n_users"))
        .select(col("cw").cast("date").as("cohort_week"), col("wk").as("week_offset"),
          col("n_users"), round(col("n_users").cast("double") / col("cohort_n"), 6).as("retention"))
        .orderBy(col("cohort_week"), col("week_offset"))
    })

  // --------------------------------------------------------------- q46
  /** Fixed interval width for the q46 sweep: every event occupies
    * [ts, ts + 300 s). */
  val ConcurrencySeconds = 300

  /** q46: peak concurrency per day via a DISTRIBUTED sweep line — the
    * classic interval-analytics staple (max simultaneous sessions /
    * connections / jobs). Each event contributes a +1 point at `ts`
    * and a −1 at `ts + 300 s`; concurrency at any instant is the
    * running sum over the (pt, delta, event_id) total order (−1 sorts
    * before +1 at the same instant — half-open [start, end)
    * semantics), and the answer is the per-day max of that sum.
    *
    * The running sum is GLOBAL — naively one unpartitioned window
    * task holding every point (the q13-style ceiling). Shipped as the
    * budget_select two-level scan: range-partition on the sweep
    * order, cumsum WITHIN each partition (task-sized state), per-
    * partition delta TOTALS' exclusive scan (#partitions rows,
    * metadata scale) broadcast back as bases — `conc = base +
    * local_cum` is exact integer arithmetic, so the sweep is
    * partition-count invariant. The ranked frame is persisted for the
    * same two-consumer pin budget_select documents. Midnight-crossing
    * intervals need no special casing: the sum carries across day
    * boundaries and each day's max is taken over its own points. */
  val q46 = QueryDef(
    "q46_peak_concurrency",
    Some(s"""WITH pts AS (
        SELECT event_id, ts AS pt, 1 AS delta FROM events
        UNION ALL
        SELECT event_id, ts + INTERVAL $ConcurrencySeconds SECOND AS pt, -1 AS delta FROM events),
      c AS (SELECT pt, delta,
          sum(delta) OVER (ORDER BY pt, delta, event_id ROWS UNBOUNDED PRECEDING) AS conc
        FROM pts)
      SELECT CAST(date_trunc('day', pt) AS DATE) AS day, CAST(max(conc) AS BIGINT) AS peak
      FROM c GROUP BY 1 ORDER BY day"""),
    (s, d) => peakConcurrency(Tables.events(s, d).select(col("event_id"), col("ts"))))

  /** Distributed sweep line over (event_id, ts) rows — see [[q46]]
    * for semantics and the two-level-scan scale argument. Returns one
    * (day, peak) row per day touched by any interval endpoint. */
  def peakConcurrency(ev: DataFrame, widthSeconds: Int = ConcurrencySeconds)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val pts = ev.select(col("event_id"), col("ts").as("pt"), lit(1).as("delta"))
      .unionAll(ev.select(col("event_id"),
        (col("ts") + expr(s"INTERVAL $widthSeconds SECOND")).as("pt"),
        lit(-1).as("delta")))
    val ranked = scope.persist(pts
      .repartitionByRange(col("pt"), col("delta"), col("event_id"))
      .withColumn("pid", spark_partition_id())
      .withColumn("cum", sum(col("delta")).over(
        Window.partitionBy(col("pid")).orderBy(col("pt"), col("delta"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))))
    val wo = Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranked.groupBy(col("pid")).agg(sum(col("delta")).as("psum"))
      .select(col("pid"), coalesce(sum(col("psum")).over(wo), lit(0L)).as("base"))
    ranked.join(broadcast(offsets), Seq("pid"))
      .groupBy(date_trunc("day", col("pt")).cast("date").as("day"))
      .agg(max(col("base") + col("cum")).as("peak"))
      .orderBy(col("day"))
  }

  // --------------------------------------------------------------- q47
  /** q47: z-score anomaly flags — the monitoring/data-quality staple
    * (flag events whose value sits > 2σ from its type's mean). The
    * moments come from the q43 determinism discipline: DECIMAL
    * primitive sums (merge-order-free under any partitioning), the
    * closed-form sample stddev as a fixed-order IEEE expression, and
    * the 2σ decision itself computed identically in both engines —
    * so even borderline events flag identically. 100 TB shape: ONE
    * map-side-combinable moment aggregate over the corpus (types-
    * scale result), broadcast back into a map-only flag pass — the
    * corpus is scanned twice, never shuffled. */
  val q47 = QueryDef(
    "q47_anomaly_zscore",
    Some("""WITH m AS (SELECT event_type,
        count(*) AS n,
        CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
        CAST(sum(CAST(value * value AS DECIMAL(28,8))) AS DOUBLE) AS sxx
      FROM events GROUP BY event_type),
      s AS (SELECT event_type, n, sx / n AS mean,
        sqrt((sxx - sx * sx / n) / (n - 1)) AS sd FROM m)
      SELECT e.event_id, e.event_type, e.value,
        round((e.value - s.mean) / s.sd, 6) AS z
      FROM events e JOIN s ON e.event_type = s.event_type
      WHERE abs(e.value - s.mean) > 2 * s.sd
      ORDER BY e.event_id"""),
    (s, d) => anomalyZscore(
        Tables.events(s, d).select(col("event_id"), col("event_type"), col("value")))
      .orderBy(col("event_id")))

  /** Z-score anomaly flags over (event_id, group, value) rows — see
    * [[q47]] for the determinism and scale argument. Returns the rows
    * whose |value − group mean| exceeds `sigmas`·(sample stddev),
    * with the rounded z-score attached. */
  def anomalyZscore(ev: DataFrame, group: String = "event_type",
      sigmas: Double = 2.0): DataFrame = {
    val m = ev.groupBy(col(group))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sx"),
        sum((col("value") * col("value")).cast(DecimalType(28, 8))).cast("double").as("sxx"))
      .select(col(group),
        (col("sx") / col("n")).as("mean"),
        sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)).as("sd"))
    ev.join(broadcast(m), Seq(group))
      .filter(abs(col("value") - col("mean")) > lit(sigmas) * col("sd"))
      .select(col("event_id"), col(group), col("value"),
        round((col("value") - col("mean")) / col("sd"), 6).as("z"))
  }

  // --------------------------------------------------------------- q48
  /** q48: as-of join with a TOLERANCE window (the pandas
    * `merge_asof(tolerance=...)` contract q19 doesn't exercise): each
    * purchase attaches its most recent click ≤ purchase time AND
    * within the last hour — stale attributions null out. Same
    * union-merge plan as q19 (ONE user-keyed shuffle + one window
    * pass; the tolerance is a per-row mask on the carried struct, not
    * a second join); the oracle takes the windowed-row_number route
    * since DuckDB's ASOF has no tolerance clause — agreement also
    * cross-checks q19's ASOF semantics against an independent SQL
    * formulation. */
  val q48 = QueryDef(
    "q48_asof_tolerance",
    Some("""WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      c AS (SELECT event_id AS cid, user_id, ts AS cts, value AS cval
        FROM events WHERE event_type = 'click'),
      j AS (SELECT p.event_id AS pid, c.cts, c.cval,
          row_number() OVER (PARTITION BY p.event_id ORDER BY c.cts DESC, c.cid DESC) AS rk
        FROM p JOIN c ON c.user_id = p.user_id
          AND c.cts <= p.ts AND c.cts + INTERVAL 1 HOUR >= p.ts)
      SELECT p.event_id, p.user_id, date_trunc('second', p.ts) AS purchase_sec,
        date_trunc('second', j.cts) AS click_sec, j.cval AS click_value
      FROM p LEFT JOIN (SELECT * FROM j WHERE rk = 1) j ON j.pid = p.event_id
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
          tieBreak = Some(("event_id", "event_id")),
          toleranceSeconds = Some(3600L))
        .select(col("event_id"), col("user_id"),
          date_trunc("second", col("ts")).as("purchase_sec"),
          date_trunc("second", col("last_click_ts")).as("click_sec"),
          col("last_click_value").as("click_value"))
        .orderBy(col("event_id"))
    })

  // --------------------------------------------------------------- q49
  /** q49: time-weighted average (TWAP — the finance/ops staple where a
    * plain mean over-weights bursts): per (user, day), each event's
    * value is weighted by how long it was "current" (microseconds to
    * the next event; the day's last event carries no weight). The
    * weight is an exact integer (event timestamps carry no sub-µs
    * component, so both engines diff identical µs instants); the
    * weighted numerator folds through DECIMAL per-term casts (the q43
    * discipline — a double Σ(w·v) would be shuffle-merge-order
    * dependent), and the one division is a fixed-order IEEE op.
    * Plan: ONE (user, day)-keyed shuffle serving both the lead()
    * window and the aggregate. */
  val q49 = QueryDef(
    "q49_time_weighted_avg",
    Some("""WITH o AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
        ts, event_id, value,
        lead(ts) OVER (PARTITION BY user_id, date_trunc('day', ts)
          ORDER BY ts, event_id) AS nts
      FROM events),
      w AS (SELECT user_id, day, value,
        CASE WHEN nts IS NULL THEN 0 ELSE date_diff('microsecond', ts, nts) END AS w
      FROM o)
      SELECT user_id, day, count(*) AS n_events,
        round(CAST(sum(CAST(w * value AS DECIMAL(38,6))) AS DOUBLE)
          / CAST(sum(w) AS DOUBLE), 6) AS twap
      FROM w GROUP BY user_id, day HAVING sum(w) > 0
      ORDER BY user_id, day"""),
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), date_trunc("day", col("ts")).cast("date").as("day"),
          col("ts"), col("event_id"), col("value"))
      val w = ev
        .withColumn("nts", lead(col("ts"), 1).over(
          Window.partitionBy(col("user_id"), col("day")).orderBy(col("ts"), col("event_id"))))
        .withColumn("w", when(col("nts").isNull, lit(0L))
          .otherwise(expr("timestampdiff(MICROSECOND, ts, nts)")))
      w.groupBy(col("user_id"), col("day"))
        .agg(count(lit(1)).as("n_events"),
          sum(expr("CAST(w * value AS DECIMAL(38,6))")).as("num"),
          sum(col("w")).as("den"))
        .filter(col("den") > 0)
        .select(col("user_id"), col("day"), col("n_events"),
          round(col("num").cast("double") / col("den").cast("double"), 6).as("twap"))
        .orderBy(col("user_id"), col("day"))
    })

  // --------------------------------------------------------------- q50
  /** Per-bin concurrency cap for the interval self-join: a bin whose
    * session count exceeds this is dropped BEFORE the pair expansion
    * (the node_similarity/`maxBucketSize` discipline — one
    * pathological hour with 10⁵ live sessions would emit 5×10⁹ pairs
    * in one task). Never fires on the gate data; mirrored in the
    * oracle. */
  val MaxBinSessions = 1000

  /** Interval-overlap SELF-join at scale: which user sessions were
    * live at the same time? Sessions (q17's 30-min-gap definition,
    * spans only — ≥ 2 events) become [start, end] intervals; a naive
    * overlap join `s1.st <= s2.en AND s2.st <= s1.en` is a cross
    * product Catalyst can only express as BroadcastNestedLoopJoin —
    * the classic Spark range-join trap. The published fix (bin-wise
    * range join — Databricks' range-join optimization, interval
    * binning): explode each interval onto its covered hour bins, join
    * on BIN EQUALITY (a hash join!) with the overlap predicate as a
    * post-filter, and count each pair exactly once at the bin
    * containing its overlap START (`bin = date_trunc(hour,
    * greatest(st₁, st₂))`) — no distinct needed, the standard
    * first-overlapping-bin dedup. Pair fan-out per bin is the true
    * concurrency (what the query measures), quadratic only in
    * per-bin density, guarded by [[MaxBinSessions]].
    *
    * 100 TB shape: one user-keyed shuffle builds sessions (window +
    * groupBy share it), one bin-keyed hash-join shuffle builds pairs;
    * bins are time-bounded so the join never degenerates to a cross
    * product; the only quadratic term is per-bin and capped. */
  val q50 = QueryDef(
    "q50_session_overlap",
    Some(s"""WITH m AS (
        SELECT event_id, user_id, ts,
          CASE WHEN lag(ts) OVER w IS NULL THEN 1
               WHEN ts - lag(ts) OVER w > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS is_new
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      s AS (SELECT user_id, ts,
          CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sn
        FROM m),
      sess AS (SELECT user_id, sn, min(ts) AS st, max(ts) AS en
        FROM s GROUP BY user_id, sn HAVING count(*) >= 2),
      b AS (SELECT user_id, sn, st, en,
          unnest(generate_series(date_trunc('hour', st), date_trunc('hour', en), INTERVAL 1 HOUR)) AS bin
        FROM sess),
      ok AS (SELECT bin FROM b GROUP BY bin HAVING count(*) <= $MaxBinSessions),
      bk AS (SELECT b.* FROM b JOIN ok ON b.bin = ok.bin)
      SELECT a.user_id AS u1, a.sn AS sn1, c.user_id AS u2, c.sn AS sn2,
        date_diff('microsecond', greatest(a.st, c.st), least(a.en, c.en)) AS overlap_us
      FROM bk a JOIN bk c ON a.bin = c.bin AND a.user_id < c.user_id
        AND a.st <= c.en AND c.st <= a.en
        AND a.bin = date_trunc('hour', greatest(a.st, c.st))
      ORDER BY u1, sn1, u2, sn2"""),
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sess = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"))
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("is_new",
          when(col("prev_ts").isNull, 1)
            .when(col("ts") - col("prev_ts") > expr("INTERVAL '30' MINUTE"), 1)
            .otherwise(0))
        .withColumn("sn", sum(col("is_new")).over(wr))
        .groupBy(col("user_id"), col("sn"))
        .agg(min(col("ts")).as("st"), max(col("ts")).as("en"), count(lit(1)).as("ne"))
        .filter(col("ne") >= 2)
        .select(col("user_id"), col("sn"), col("st"), col("en"))
      sessionOverlapPairs(sess)
    })

  /** Bin-wise interval self-join over `(user_id, sn, st, en)` session
    * rows — see [[q50]] for the algorithm. Exposed for direct use on
    * any interval table with those columns. */
  def sessionOverlapPairs(sess: DataFrame,
      maxBinSessions: Int = MaxBinSessions): DataFrame = {
    val b = sess.withColumn("bin",
      explode(sequence(date_trunc("hour", col("st")), date_trunc("hour", col("en")),
        expr("INTERVAL '1' HOUR"))))
    val bk = b.join(
      b.groupBy(col("bin")).agg(count(lit(1)).as("nb"))
        .filter(col("nb") <= maxBinSessions).select(col("bin")),
      Seq("bin"))
    bk.as("a").join(bk.as("c"),
        col("a.bin") === col("c.bin") && col("a.user_id") < col("c.user_id") &&
        col("a.st") <= col("c.en") && col("c.st") <= col("a.en") &&
        col("a.bin") === date_trunc("hour", greatest(col("a.st"), col("c.st"))))
      .select(col("a.user_id").as("u1"), col("a.sn").as("sn1"),
        col("c.user_id").as("u2"), col("c.sn").as("sn2"),
        expr("timestampdiff(MICROSECOND, greatest(a.st, c.st), least(a.en, c.en))").as("overlap_us"))
      .orderBy(col("u1"), col("sn1"), col("u2"), col("sn2"))
  }

  // --------------------------------------------------------------- q51
  /** Gaps-and-islands: longest consecutive-active-day streak per user
    * (the retention/engagement staple, and the canonical
    * row_number-difference idiom — `day_number − row_number()` is
    * constant exactly within a run of consecutive days, so one window
    * pass turns runs into group keys; no self-join, no recursion).
    * Integer day arithmetic end-to-end. Scale: distinct shuffles on
    * (user, day), the window + both rollups share the user key —
    * key-bounded exchanges only, no global sort. */
  val q51 = QueryDef(
    "q51_streaks",
    Some("""WITH dd AS (SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day FROM events),
      i AS (SELECT user_id, day,
        date_diff('day', DATE '1970-01-01', day)
          - row_number() OVER (PARTITION BY user_id ORDER BY day) AS k FROM dd),
      st AS (SELECT user_id, k, count(*) AS n FROM i GROUP BY user_id, k)
      SELECT user_id, CAST(max(n) AS BIGINT) AS longest_streak,
        CAST(sum(n) AS BIGINT) AS active_days, count(*) AS n_streaks
      FROM st GROUP BY user_id ORDER BY user_id"""),
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        .withColumn("k",
          expr("datediff(day, DATE '1970-01-01')").cast(LongType)
            - row_number().over(w))
        .groupBy(col("user_id"), col("k"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("user_id"))
        .agg(max(col("n")).as("longest_streak"),
          sum(col("n")).as("active_days"), count(lit(1)).as("n_streaks"))
        .orderBy(col("user_id"))
    })

  // --------------------------------------------------------------- q52
  /** Winsorization — clip each event type's values to its own
    * [p05, p95] band (the outlier-robust preprocessing staple: metric
    * pipelines winsorize before averaging so one stuck sensor or bot
    * burst can't drag the mean). Group thresholds come from the q39
    * distributed-selection machinery (bounded histogram passes, no
    * task buffers a group), broadcast back for a MAP-ONLY clip — the
    * corpus is scanned twice, never sort-shuffled. Interpolation is
    * the q13/q39 `percentile_cont` contract, the clip comparisons and
    * the winsorized mean's decimal fold are identical IEEE/decimal
    * expressions in both engines. */
  val q52 = QueryDef(
    "q52_winsorize",
    Some("""WITH th AS (SELECT event_type,
        percentile_cont(0.05) WITHIN GROUP (ORDER BY value) AS lo,
        percentile_cont(0.95) WITHIN GROUP (ORDER BY value) AS hi
      FROM events GROUP BY event_type),
      w AS (SELECT e.event_type,
        CASE WHEN value < lo THEN lo WHEN value > hi THEN hi ELSE value END AS wv,
        CASE WHEN value < lo THEN 1 ELSE 0 END AS cl,
        CASE WHEN value > hi THEN 1 ELSE 0 END AS ch
      FROM events e JOIN th USING (event_type))
      SELECT event_type, count(*) AS n,
        CAST(sum(cl) AS BIGINT) AS n_clip_lo, CAST(sum(ch) AS BIGINT) AS n_clip_hi,
        round(CAST(sum(CAST(wv AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS mean_winsorized
      FROM w GROUP BY event_type ORDER BY event_type"""),
    (s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"), col("value"))
        .transform(graft.CacheScope.untracked.persist)
      val th = graft.operators.ExactPercentiles.percentiles(
          ev, "event_type", "value", Seq(0.05, 0.95))
        .groupBy(col("g").as("event_type"))
        .agg(min(when(col("p") === 0.05, col("value"))).as("lo"),
          min(when(col("p") === 0.95, col("value"))).as("hi"))
      ev.join(broadcast(th), Seq("event_type"))
        .select(col("event_type"),
          when(col("value") < col("lo"), col("lo"))
            .when(col("value") > col("hi"), col("hi"))
            .otherwise(col("value")).as("wv"),
          when(col("value") < col("lo"), 1L).otherwise(0L).as("cl"),
          when(col("value") > col("hi"), 1L).otherwise(0L).as("ch"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("cl")).as("n_clip_lo"), sum(col("ch")).as("n_clip_hi"),
          round(sum(col("wv").cast(DecimalType(18, 6))).cast(DoubleType)
            / count(lit(1)), 6).as("mean_winsorized"))
        .orderBy(col("event_type"))
    })

  // --------------------------------------------------------------- q53
  /** Trailing EWMA feature snapshot — per user, the exponentially
    * weighted mean (α = 1/2) of the last 16 event values at the
    * user's latest event (the feature-store "decayed activity"
    * signal). One row_number window on the user key, then a user-keyed
    * fold: two key-bounded shuffles, no self-join, no recursion — the
    * recursive ewma_t = αx + (1−α)·ewma_{t−1} is equivalent, within
    * the 16-step horizon, to the closed weighted mean computed here.
    *
    * Float discipline: weights are the INTEGERS 2^(15−lag) (the α=1/2
    * geometric series scaled by 2^15, which cancels in the ratio) —
    * value·weight is an exact power-of-two scaling of the input
    * double, folded decimal-exactly; a fractional 0.5^lag weight cast
    * to decimal would land exactly on a rounding half-digit at
    * lag = 13 where the engines' tie rules could differ. */
  val q53 = QueryDef(
    "q53_ewma",
    Some("""WITH r AS (SELECT user_id, value, event_id,
        row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) - 1 AS lag,
        count(*) OVER (PARTITION BY user_id) AS n_events
      FROM events),
      t AS (SELECT user_id, n_events, value,
          CAST(pow(2.0, 15 - lag) AS BIGINT) AS w
        FROM r WHERE lag < 16)
      SELECT user_id, CAST(max(n_events) AS BIGINT) AS n_events,
        round(CAST(sum(CAST(value * w AS DECIMAL(28,6))) AS DOUBLE)
          / CAST(sum(w) AS DOUBLE), 6) AS ewma
      FROM t GROUP BY user_id ORDER BY user_id"""),
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, d)
        .select(col("user_id"), col("value"), col("event_id"), col("ts"))
        .withColumn("lag", row_number().over(w) - 1)
        .withColumn("n_events",
          count(lit(1)).over(Window.partitionBy(col("user_id"))))
        .filter(col("lag") < 16)
        .withColumn("w", pow(lit(2.0), lit(15) - col("lag")).cast(LongType))
        .groupBy(col("user_id"))
        .agg(max(col("n_events")).as("n_events"),
          round(sum((col("value") * col("w")).cast(DecimalType(28, 6))).cast(DoubleType)
            / sum(col("w")).cast(DoubleType), 6).as("ewma"))
        .orderBy(col("user_id"))
    })

  // --------------------------------------------------------------- q54
  /** Robust MAD anomaly flags — the median/MAD twin of q47's
    * mean/σ z-score (the robust-statistics staple: one genuine
    * outlier inflates σ and hides its neighbors; the median absolute
    * deviation doesn't break down until half the data is bad). Flags
    * events with |value − median| > 3·(1.4826·MAD), the normal-
    * consistent robust z. Both medians come from the q39 exact
    * distributed-selection machinery (bounded histogram passes, no
    * sort, no task buffers a group); each threshold table is
    * types-scale and broadcast back into a map-only flag pass — the
    * corpus is scanned three times, never sort-shuffled. All decision
    * arithmetic is fixed-order IEEE over engine-identical medians, so
    * borderline events flag identically. */
  val q54 = QueryDef(
    "q54_anomaly_mad",
    Some("""WITH med AS (SELECT event_type, percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS med
        FROM events GROUP BY event_type),
      dev AS (SELECT e.event_id, e.event_type, e.value, med.med
        FROM events e JOIN med USING (event_type)),
      mad AS (SELECT event_type, percentile_cont(0.5) WITHIN GROUP (ORDER BY abs(value - med)) AS mad
        FROM dev GROUP BY event_type)
      SELECT d.event_id, d.event_type, d.value,
        round((d.value - d.med) / (1.4826 * m.mad), 6) AS rz
      FROM dev d JOIN mad m USING (event_type)
      WHERE abs(d.value - d.med) > 3 * (1.4826 * m.mad)
      ORDER BY d.event_id"""),
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
        .transform(graft.CacheScope.untracked.persist)
      val med = graft.operators.ExactPercentiles.percentiles(
          ev, "event_type", "value", Seq(0.5))
        .select(col("g").as("event_type"), col("value").as("med"))
      val dev = ev.join(broadcast(med), Seq("event_type"))
        .withColumn("ad", abs(col("value") - col("med")))
        .transform(graft.CacheScope.untracked.persist)
      val mad = graft.operators.ExactPercentiles.percentiles(
          dev, "event_type", "ad", Seq(0.5))
        .select(col("g").as("event_type"), col("value").as("mad"))
      dev.join(broadcast(mad), Seq("event_type"))
        .filter(abs(col("value") - col("med")) > lit(3) * (lit(1.4826) * col("mad")))
        .select(col("event_id"), col("event_type"), col("value"),
          round((col("value") - col("med")) / (lit(1.4826) * col("mad")), 6).as("rz"))
        .orderBy(col("event_id"))
    })

  val defs: Seq[QueryDef] = Seq(q21, q22, q23, q24, q25, q26, q27, q28, q29,
    q30, q31, q32, q33, q34, q35, q36, q37, q38, q39, q40, q41, q42, q43, q44,
    q45, q46, q47, q48, q49, q50, q51, q52, q53, q54)
}
