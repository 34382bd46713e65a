package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Relational operator surface (SURVEY.md §2.1-2.7, §2.14).
  *
  * The reference delegates full relational SQL to DuckDB through
  * pg_deeplake (`cpp/deeplake_pg/duckdb_executor.cpp:377`); our engine
  * delegates to Catalyst. Queries below exercise the same shapes its
  * TPC-H corpus does (`postgres/tests/sql/tpch/1.sql`..`22.sql`,
  * `postgres/tests/sql/join.sql`), adapted to the driver's testdata
  * schema. Every query is declarative DataFrame code: filters and
  * projections reach the parquet scan (pushdown), joins pick
  * broadcast/sort-merge via Catalyst + AQE, aggregates do partial
  * (map-side) aggregation before the shuffle.
  */
object Relational extends QueryModule {

  private def ts(s: String) = lit(s).cast("timestamp")

  override def qs: Seq[(String, Q)] = Seq(

    // ---- aggregation / group by (TPC-H Q1 shape; tql.md relational agg path)
    "q1_pricing_summary" -> Q(
      (s, dir) => {
        table(s, dir, "lineitem")
          .filter(col("l_shipdate") <= ts("1998-09-02 00:00:00"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            round(sum(col("l_quantity")), 2).as("sum_qty"),
            round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
            round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
            round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))), 2).as("sum_charge"),
            round(avg(col("l_quantity")), 4).as("avg_qty"),
            round(avg(col("l_extendedprice")), 4).as("avg_price"),
            round(avg(col("l_discount")), 6).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |round(sum(l_quantity),2) AS sum_qty,
             |round(sum(l_extendedprice),2) AS sum_base_price,
             |round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
             |round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),2) AS sum_charge,
             |round(avg(l_quantity),4) AS avg_qty,
             |round(avg(l_extendedprice),4) AS avg_price,
             |round(avg(l_discount),6) AS avg_disc,
             |count(*) AS count_order
             |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin.replace('\n', ' ')),
      doc = "hash-agg with 8 aggregates; map-side partial agg before shuffle"),

    // ---- scalar aggregate with selective filter (TPC-H Q6 shape)
    "q6_revenue_forecast" -> Q(
      (s, dir) => {
        table(s, dir, "lineitem")
          .filter(
            col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
            col("l_shipdate") <  ts("1997-01-01 00:00:00") &&
            col("l_discount").between(0.02, 0.04) &&
            col("l_quantity") < 25)
          .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"))
      },
      Some("SELECT round(sum(l_extendedprice*l_discount),2) AS revenue FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01' " +
        "AND l_discount BETWEEN 0.02 AND 0.04 AND l_quantity < 25"),
      doc = "all four predicates push to the parquet scan"),

    // ---- 3-way join + group + top-k (TPC-H Q3 shape)
    "q3_top_revenue_orders" -> Q(
      (s, dir) => {
        val c = table(s, dir, "customer").filter(col("c_mktsegment") === "MACHINERY")
        val o = table(s, dir, "orders").filter(col("o_orderdate") < ts("1997-06-01 00:00:00"))
        val l = table(s, dir, "lineitem").filter(col("l_shipdate") > ts("1997-06-01 00:00:00"))
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
          .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
          .select(col("l_orderkey"), col("revenue"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"), col("o_orderpriority"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      Some("""SELECT l_orderkey,
             |round(sum(l_extendedprice*(1-l_discount)),2) AS revenue,
             |strftime(o_orderdate,'%Y-%m-%d') AS orderdate, o_orderpriority
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |WHERE c_mktsegment = 'MACHINERY'
             |AND o_orderdate < TIMESTAMP '1997-06-01' AND l_shipdate > TIMESTAMP '1997-06-01'
             |GROUP BY l_orderkey, o_orderdate, o_orderpriority
             |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin.replace('\n', ' ')),
      doc = "customer dim broadcasts; TakeOrderedAndProject for the top-k"),

    // ---- 6-way star join (TPC-H Q5 shape: local-supplier revenue by nation)
    "q5_local_supplier_revenue" -> Q(
      (s, dir) => {
        table(s, dir, "lineitem")
          .join(table(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(table(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .join(table(s, dir, "supplier"),
            col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
          .join(table(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
          .join(table(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
          .filter(col("r_name") === "ASIA" &&
            col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
            col("o_orderdate") <  ts("1998-01-01 00:00:00"))
          .groupBy(col("n_name"))
          .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some("""SELECT n_name, round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
             |AND o_orderdate < TIMESTAMP '1998-01-01'
             |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin.replace('\n', ' ')),
      doc = "dims broadcast; only the lineitem-orders join shuffles at scale"),

    // ---- existence-correlated count (TPC-H Q4 shape)
    "q4_late_shipment_priority" -> Q(
      (s, dir) => {
        val o = table(s, dir, "orders")
        val late = table(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_shipdate"))
        o.join(late,
            col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
            "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, count(*) AS order_count FROM orders
             |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
             |AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin.replace('\n', ' ')),
      doc = "EXISTS decorrelates to left-semi join"),

    // ---- joins: left outer with null-generating side
    "q_join_left_outer" -> Q(
      (s, dir) => {
        val c = table(s, dir, "customer")
        val o = table(s, dir, "orders")
        c.join(o, col("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_custkey"), col("c_name"))
          .agg(count(col("o_orderkey")).as("n_orders"),
            round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("total_spent"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
             |round(coalesce(sum(o_totalprice),0),2) AS total_spent
             |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin.replace('\n', ' '))),

    // ---- joins: semi (EXISTS)
    "q_join_semi" -> Q(
      (s, dir) => {
        val c = table(s, dir, "customer")
        val o = table(s, dir, "orders").filter(col("o_orderstatus") === "F")
        c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
          .select(col("c_custkey"), col("c_name"))
          .orderBy(col("c_custkey"))
      },
      Some("SELECT c_custkey, c_name FROM customer WHERE EXISTS " +
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F') " +
        "ORDER BY c_custkey")),

    // ---- joins: anti (NOT EXISTS): customers with no large order
    "q_join_anti" -> Q(
      (s, dir) => {
        val c = table(s, dir, "customer")
        val o = table(s, dir, "orders").filter(col("o_totalprice") > 400000)
        c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
          .orderBy(col("c_custkey"))
      },
      Some("SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE NOT EXISTS " +
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000) " +
        "ORDER BY c_custkey")),

    // ---- joins: full outer (mixed null sides)
    "q_join_full_outer" -> Q(
      (s, dir) => {
        val cn = table(s, dir, "customer").groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n_customers"))
        val sn = table(s, dir, "supplier").groupBy(col("s_nationkey"))
          .agg(count(lit(1)).as("n_suppliers"))
        cn.join(sn, col("c_nationkey") === col("s_nationkey"), "full")
          .select(
            coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
            coalesce(col("n_customers"), lit(0L)).as("n_customers"),
            coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
          .orderBy(col("nationkey"))
      },
      Some("""SELECT coalesce(c_nationkey, s_nationkey) AS nationkey,
             |coalesce(n_customers, 0) AS n_customers, coalesce(n_suppliers, 0) AS n_suppliers
             |FROM (SELECT c_nationkey, count(*) AS n_customers FROM customer GROUP BY c_nationkey) cn
             |FULL JOIN (SELECT s_nationkey, count(*) AS n_suppliers FROM supplier GROUP BY s_nationkey) sn
             |ON c_nationkey = s_nationkey ORDER BY nationkey""".stripMargin.replace('\n', ' '))),

    // ---- joins: cross
    "q_join_cross" -> Q(
      (s, dir) => {
        val r = table(s, dir, "region").select(col("r_name"))
        val st = table(s, dir, "orders").select(col("o_orderstatus")).distinct()
        r.crossJoin(st).orderBy(col("r_name"), col("o_orderstatus"))
      },
      Some("SELECT r_name, o_orderstatus FROM region CROSS JOIN " +
        "(SELECT DISTINCT o_orderstatus FROM orders) s ORDER BY r_name, o_orderstatus")),

    // ---- joins: right outer
    "q_join_right_outer" -> Q(
      (s, dir) => {
        val o = table(s, dir, "orders").filter(col("o_totalprice") > 450000)
        val c = table(s, dir, "customer")
        o.join(c, col("o_custkey") === col("c_custkey"), "right")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("n_big_orders"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, count(o_orderkey) AS n_big_orders
             |FROM (SELECT * FROM orders WHERE o_totalprice > 450000) o
             |RIGHT JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin.replace('\n', ' '))),

    // ---- set ops: UNION (bag semantics like TQL merged_dataset -> count-verified)
    "q_setop_union" -> Q(
      (s, dir) => {
        val a = table(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        val b = table(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
        a.unionByName(b).groupBy(col("nationkey")).agg(count(lit(1)).as("n"))
          .orderBy(col("nationkey"))
      },
      Some("SELECT nationkey, count(*) AS n FROM (SELECT c_nationkey AS nationkey FROM customer " +
        "UNION ALL SELECT s_nationkey FROM supplier) u GROUP BY nationkey ORDER BY nationkey")),

    // ---- set ops: INTERSECT
    "q_setop_intersect" -> Q(
      (s, dir) => {
        val a = table(s, dir, "customer").filter(col("c_acctbal") > 8000)
          .select(col("c_nationkey").as("nationkey"))
        val b = table(s, dir, "supplier").filter(col("s_acctbal") > 8000)
          .select(col("s_nationkey").as("nationkey"))
        a.intersect(b).orderBy(col("nationkey"))
      },
      Some("SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 8000 " +
        "INTERSECT SELECT s_nationkey FROM supplier WHERE s_acctbal > 8000 ORDER BY nationkey")),

    // ---- set ops: EXCEPT — custkeys that ordered but hold a low balance
    "q_setop_except" -> Q(
      (s, dir) => {
        val a = table(s, dir, "orders").select(col("o_custkey").as("custkey"))
        val b = table(s, dir, "customer").filter(col("c_acctbal") < 5000)
          .select(col("c_custkey").as("custkey"))
        a.except(b).orderBy(col("custkey"))
      },
      Some("SELECT o_custkey AS custkey FROM orders EXCEPT " +
        "SELECT c_custkey FROM customer WHERE c_acctbal < 5000 ORDER BY custkey")),

    // ---- per-branch ORDER/LIMIT then merge (TQL set_operation carries its own
    // order+limit per branch: cpp/query_core/statement.hpp:64-84)
    "q_union_branch_limits" -> Q(
      (s, dir) => {
        val o = table(s, dir, "orders")
        val top = o.orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(5)
          .select(col("o_orderkey"), col("o_totalprice"), lit("top").as("branch"))
        val bottom = o.orderBy(col("o_totalprice").asc, col("o_orderkey")).limit(5)
          .select(col("o_orderkey"), col("o_totalprice"), lit("bottom").as("branch"))
        top.unionByName(bottom).orderBy(col("branch"), col("o_orderkey"))
      },
      Some("""SELECT * FROM (
             |(SELECT o_orderkey, o_totalprice, 'top' AS branch FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 5)
             |UNION ALL
             |(SELECT o_orderkey, o_totalprice, 'bottom' AS branch FROM orders ORDER BY o_totalprice ASC, o_orderkey LIMIT 5)
             |) u ORDER BY branch, o_orderkey""".stripMargin.replace('\n', ' '))),

    // ---- DISTINCT
    "q_distinct" -> Q(
      (s, dir) => table(s, dir, "customer").select(col("c_mktsegment")).distinct()
        .orderBy(col("c_mktsegment")),
      Some("SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment")),

    // ---- count distinct + grouped distinct
    "q_count_distinct" -> Q(
      (s, dir) => {
        table(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            countDistinct(col("l_partkey")).as("n_parts"),
            countDistinct(col("l_suppkey")).as("n_supps"),
            count(lit(1)).as("n_rows"))
          .orderBy(col("l_returnflag"))
      },
      Some("SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts, " +
        "count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")),

    // ---- HAVING
    "q_having" -> Q(
      (s, dir) => {
        table(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("spent"))
          .filter(col("n") >= 15)
          .orderBy(col("o_custkey"))
      },
      Some("SELECT o_custkey, count(*) AS n, round(sum(o_totalprice),2) AS spent " +
        "FROM orders GROUP BY o_custkey HAVING count(*) >= 15 ORDER BY o_custkey")),

    // ---- window: rank per partition (PG-path window fns via DuckDB -> Catalyst Window)
    "q_window_rank" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        table(s, dir, "orders")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 2)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
          .orderBy(col("o_custkey"), col("rn"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
             |SELECT o_custkey, o_orderkey, o_totalprice,
             |row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |FROM orders) t WHERE rn <= 2 ORDER BY o_custkey, rn""".stripMargin.replace('\n', ' '))),

    // ---- window: running aggregate
    "q_window_running_sum" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        table(s, dir, "orders")
          .filter(col("o_custkey") < 100)
          .select(col("o_custkey"), col("o_orderkey"),
            round(sum(col("o_totalprice")).over(w), 2).as("running_total"))
          .orderBy(col("o_custkey"), col("o_orderkey"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS running_total
             |FROM orders WHERE o_custkey < 100 ORDER BY o_custkey, o_orderkey""".stripMargin.replace('\n', ' '))),

    // ---- window: lag/lead deltas
    "q_window_lag" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"), col("event_id"))
        table(s, dir, "events")
          .filter(col("user_id") < 20)
          .select(col("user_id"), col("event_id"),
            round(col("value") - lag(col("value"), 1, 0.0).over(w), 2).as("delta"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""SELECT user_id, event_id,
             |round(value - lag(value, 1, 0.0) OVER (PARTITION BY user_id ORDER BY ts, event_id),2) AS delta
             |FROM events WHERE user_id < 20 ORDER BY user_id, event_id""".stripMargin.replace('\n', ' '))),

    // ---- top-k (ORDER BY ... LIMIT -> TakeOrderedAndProject; SURVEY §2.6)
    "q_topk_orders" -> Q(
      (s, dir) => table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(10),
      Some("SELECT o_orderkey, o_totalprice FROM orders " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10")),

    // ---- LIMIT with OFFSET
    "q_limit_offset" -> Q(
      (s, dir) => table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .orderBy(col("o_orderkey")).offset(10).limit(20),
      Some("SELECT o_orderkey, o_custkey FROM orders ORDER BY o_orderkey LIMIT 20 OFFSET 10")),

    // ---- LIMIT x PERCENT (TQL tql.md:631-634): computed limit
    "q_limit_percent" -> Q(
      (s, dir) => {
        val o = table(s, dir, "orders")
        val n = o.count()
        val k = math.max(1L, n / 100L) // 1 PERCENT
        o.select(col("o_orderkey"), col("o_totalprice"))
          .orderBy(col("o_orderkey")).limit(k.toInt)
      },
      Some("SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey " +
        "LIMIT (SELECT greatest(1, count(*)//100) FROM orders)")),

    // ---- CASE / conditional buckets
    "q_case_buckets" -> Q(
      (s, dir) => {
        table(s, dir, "orders")
          .select(
            when(col("o_totalprice") < 100000, "small")
              .when(col("o_totalprice") < 300000, "medium")
              .otherwise("large").as("bucket"))
          .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
          .orderBy(col("bucket"))
      },
      Some("""SELECT CASE WHEN o_totalprice < 100000 THEN 'small'
             |WHEN o_totalprice < 300000 THEN 'medium' ELSE 'large' END AS bucket,
             |count(*) AS n FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin.replace('\n', ' '))),

    // ---- LIKE / ILIKE (TQL glob `*`/`?` -> `%`/`_`; tql.md:207-228)
    "q_like_patterns" -> Q(
      (s, dir) => {
        table(s, dir, "part")
          .filter(col("p_name").like("%red%") || col("p_name").ilike("SMALL%"))
          .select(col("p_partkey"), col("p_name"))
          .orderBy(col("p_partkey"))
      },
      Some("SELECT p_partkey, p_name FROM part WHERE p_name LIKE '%red%' " +
        "OR p_name ILIKE 'SMALL%' ORDER BY p_partkey")),

    // ---- IN / BETWEEN / NOT
    "q_in_between" -> Q(
      (s, dir) => {
        table(s, dir, "part")
          .filter(col("p_size").isin(1, 5, 9, 13) &&
            col("p_retailprice").between(500.0, 1500.0) &&
            !(col("p_brand") === "Brand#13"))
          .select(col("p_partkey"), col("p_brand"), col("p_size"), col("p_retailprice"))
          .orderBy(col("p_partkey"))
      },
      Some("SELECT p_partkey, p_brand, p_size, p_retailprice FROM part " +
        "WHERE p_size IN (1,5,9,13) AND p_retailprice BETWEEN 500.0 AND 1500.0 " +
        "AND NOT (p_brand = 'Brand#13') ORDER BY p_partkey")),

    // ---- IS NULL handling over outer-join nulls
    "q_null_handling" -> Q(
      (s, dir) => {
        val c = table(s, dir, "customer")
        val o = table(s, dir, "orders")
        c.join(o, col("c_custkey") === col("o_custkey"), "left")
          .select(col("c_custkey"),
            col("o_orderkey").isNull.as("no_order"),
            coalesce(col("o_totalprice"), lit(-1.0)).as("price_or_default"))
          .groupBy(col("no_order"))
          .agg(count(lit(1)).as("n"), round(avg(col("price_or_default")), 2).as("avg_p"))
          .orderBy(col("no_order"))
      },
      Some("""SELECT no_order, count(*) AS n, round(avg(price_or_default),2) AS avg_p FROM (
             |SELECT c_custkey, o_orderkey IS NULL AS no_order,
             |coalesce(o_totalprice, -1.0) AS price_or_default
             |FROM customer LEFT JOIN orders ON c_custkey = o_custkey) t
             |GROUP BY no_order ORDER BY no_order""".stripMargin.replace('\n', ' '))),

    // ---- COUNT(*) metadata fast path (reference:
    // cpp/deeplake_pg/is_pure_count_star_query.hpp:24; Spark answers from
    // parquet row-group metadata)
    "q_count_star" -> Q(
      (s, dir) => table(s, dir, "lineitem").agg(count(lit(1)).as("n")),
      Some("SELECT count(*) AS n FROM lineitem")),

    // ---- JSON access (TQL meta['k']; tql.md:143-166) on events.props
    "q_json_extract" -> Q(
      (s, dir) => {
        table(s, dir, "events")
          .select(col("event_type"),
            get_json_object(col("props"), "$.k").cast("int").as("k"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), round(avg(col("k")), 4).as("avg_k"),
            max(col("k")).as("max_k"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n,
             |round(avg(CAST(json_extract_string(props,'$.k') AS INTEGER)),4) AS avg_k,
             |max(CAST(json_extract_string(props,'$.k') AS INTEGER)) AS max_k
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin.replace('\n', ' '))),

    // ---- date/time functions (PG path date_time.sql analog)
    "q_date_functions" -> Q(
      (s, dir) => {
        table(s, dir, "orders")
          .select(date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month"),
            col("o_totalprice"))
          .groupBy(col("month"))
          .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("monthly_total"))
          .orderBy(col("month"))
      },
      Some("""SELECT strftime(date_trunc('month', o_orderdate),'%Y-%m-%d') AS month,
             |count(*) AS n_orders, round(sum(o_totalprice),2) AS monthly_total
             |FROM orders GROUP BY 1 ORDER BY month""".stripMargin.replace('\n', ' '))),

    // ---- extract parts + conditional agg
    "q_date_extract" -> Q(
      (s, dir) => {
        table(s, dir, "orders")
          .select(year(col("o_orderdate")).as("yr"), quarter(col("o_orderdate")).as("qtr"),
            col("o_totalprice"))
          .groupBy(col("yr"), col("qtr"))
          .agg(count(lit(1)).as("n"),
            round(sum(when(col("o_totalprice") > 250000, col("o_totalprice")).otherwise(0.0)), 2)
              .as("big_order_total"))
          .orderBy(col("yr"), col("qtr"))
      },
      Some("""SELECT CAST(year(o_orderdate) AS INTEGER) AS yr, CAST(quarter(o_orderdate) AS INTEGER) AS qtr, count(*) AS n,
             |round(sum(CASE WHEN o_totalprice > 250000 THEN o_totalprice ELSE 0.0 END),2) AS big_order_total
             |FROM orders GROUP BY 1, 2 ORDER BY yr, qtr""".stripMargin.replace('\n', ' '))),

    // ---- column statistics (reference ColumnStatistics __init__.pyi:1283;
    // column_statistics.cpp) -> ANALYZE-style profile
    // ---- data-quality expectations (DLT/Great-Expectations pattern):
    // named per-row rules, NULL results count as violations; one
    // map-side projection + one aggregation
    "q_expectations" -> Q(
      (s, dir) => graft.operators.Expectations.summary(
          table(s, dir, "lineitem"),
          Seq(
            "positive_qty" -> (col("l_quantity") > 0),
            "low_discount" -> col("l_discount").between(0.0, 0.05),
            "tax_range" -> col("l_tax").between(0.0, 0.08),
            "flag_known" -> col("l_returnflag").isin("A", "N", "R")))
        .orderBy(col("rule")),
      Some("""WITH c AS (SELECT count(*) AS n,
             |sum(CAST(NOT coalesce(l_quantity > 0, false) AS BIGINT)) AS v1,
             |sum(CAST(NOT coalesce(l_discount BETWEEN 0.0 AND 0.05, false) AS BIGINT)) AS v2,
             |sum(CAST(NOT coalesce(l_tax BETWEEN 0.0 AND 0.08, false) AS BIGINT)) AS v3,
             |sum(CAST(NOT coalesce(l_returnflag IN ('A','N','R'), false) AS BIGINT)) AS v4
             |FROM lineitem)
             |SELECT 'positive_qty' AS rule, v1::BIGINT AS n_violations,
             |  round(v1 * 1.0 / greatest(n, 1), 6) AS violation_frac, n AS n_rows FROM c
             |UNION ALL SELECT 'low_discount', v2::BIGINT, round(v2 * 1.0 / greatest(n, 1), 6), n FROM c
             |UNION ALL SELECT 'tax_range', v3::BIGINT, round(v3 * 1.0 / greatest(n, 1), 6), n FROM c
             |UNION ALL SELECT 'flag_known', v4::BIGINT, round(v4 * 1.0 / greatest(n, 1), 6), n FROM c
             |ORDER BY rule""".stripMargin.replace('\n', ' ')),
      doc = "per-rule data-quality violation summary over lineitem"),

    // ---- k-anonymity / l-diversity release gate: equivalence classes
    // over the quasi-identifier tuple, ONE map-side-combined hash agg
    "q_k_anonymity" -> Q(
      (s, dir) => graft.operators.Pii.kAnonymity(
          table(s, dir, "customer"), Seq("c_nationkey", "c_mktsegment"),
          "c_acctbal", k = 8, l = 3)
        .orderBy(col("c_nationkey"), col("c_mktsegment")),
      Some("""SELECT c_nationkey, c_mktsegment, count(*) AS class_size,
             |count(DISTINCT c_acctbal) AS n_sensitive,
             |count(*) < 8 AS k_violation,
             |count(DISTINCT c_acctbal) < 3 AS l_violation
             |FROM customer GROUP BY 1, 2
             |ORDER BY c_nationkey, c_mktsegment""".stripMargin.replace('\n', ' ')),
      doc = "k-anonymity + l-diversity audit over (nation, segment) quasi-identifiers"),

    // ---- t-closeness (Li et al. 2007): ordered-domain EMD between each
    // class's sensitive distribution and the global one — the leak that
    // k and l both miss. Sensitive attr bucketed to thousands (m=11).
    "q_t_closeness" -> Q(
      (s, dir) => graft.operators.Pii.tCloseness(
          table(s, dir, "customer")
            .withColumn("bal_bucket",
              floor(col("c_acctbal") / 1000.0).cast("int")),
          Seq("c_nationkey", "c_mktsegment"), "bal_bucket", t = 0.15)
        .orderBy(col("c_nationkey"), col("c_mktsegment")),
      Some("""WITH base AS (SELECT c_nationkey, c_mktsegment, CAST(floor(c_acctbal/1000.0) AS INT) AS s FROM customer),
             |obs AS (SELECT c_nationkey, c_mktsegment, s, count(*) AS o FROM base GROUP BY 1, 2, 3),
             |dom AS (SELECT s, sum(o) AS nq FROM obs GROUP BY 1),
             |g AS (SELECT sum(nq)::DOUBLE AS n, count(*) AS m FROM dom),
             |cls AS (SELECT c_nationkey, c_mktsegment, sum(o)::BIGINT AS class_size FROM obs GROUP BY 1, 2),
             |x AS (SELECT cls.c_nationkey, cls.c_mktsegment, cls.class_size, dom.s, dom.nq, g.n, g.m, coalesce(obs.o, 0) AS o
             |  FROM cls CROSS JOIN dom CROSS JOIN g
             |  LEFT JOIN obs ON obs.c_nationkey = cls.c_nationkey AND obs.c_mktsegment = cls.c_mktsegment AND obs.s = dom.s),
             |c AS (SELECT *,
             |  sum(o::DOUBLE/class_size) OVER (PARTITION BY c_nationkey, c_mktsegment ORDER BY s ROWS UNBOUNDED PRECEDING) AS cp,
             |  sum(nq::DOUBLE/n) OVER (PARTITION BY c_nationkey, c_mktsegment ORDER BY s ROWS UNBOUNDED PRECEDING) AS cq
             |  FROM x)
             |SELECT c_nationkey, c_mktsegment, class_size,
             |round(sum(abs(cp - cq))/greatest(max(m) - 1.0, 1.0), 6) AS emd,
             |round(sum(abs(cp - cq))/greatest(max(m) - 1.0, 1.0), 6) > 0.15 AS t_violation
             |FROM c GROUP BY 1, 2, 3
             |ORDER BY c_nationkey, c_mktsegment""".stripMargin.replace('\n', ' ')),
      doc = "t-closeness audit: per-class ordered EMD of acctbal-bucket distribution vs global"),

    // ---- entropy l-diversity (Machanavajjhala 2007 §3): the rung
    // between distinct-count l and t-closeness — a class with l distinct
    // sensitive values still leaks when one value owns ~all rows;
    // effective_l = e^H is "how many equally-likely values the class
    // behaves like". Algebraic entropy fold, one hash agg.
    "q_l_diversity" -> Q(
      (s, dir) => graft.operators.Pii.entropyLDiversity(
          table(s, dir, "customer")
            .withColumn("bal_bucket",
              floor(col("c_acctbal") / 1000.0).cast("int")),
          Seq("c_nationkey", "c_mktsegment"), "bal_bucket", l = 8.0)
        .orderBy(col("c_nationkey"), col("c_mktsegment")),
      Some("""WITH base AS (SELECT c_nationkey, c_mktsegment,
             |  coalesce(CAST(CAST(floor(c_acctbal/1000.0) AS INT) AS VARCHAR), chr(0)||'null') AS s FROM customer),
             |obs AS (SELECT c_nationkey, c_mktsegment, s, count(*) AS o FROM base GROUP BY 1, 2, 3),
             |cls AS (SELECT c_nationkey, c_mktsegment, sum(o)::BIGINT AS class_size,
             |  sum(o::DOUBLE * ln(o::DOUBLE)) AS nlogn FROM obs GROUP BY 1, 2)
             |SELECT c_nationkey, c_mktsegment, class_size,
             |round(ln(class_size::DOUBLE) - nlogn/class_size, 6) AS entropy,
             |round(exp(ln(class_size::DOUBLE) - nlogn/class_size), 6) AS effective_l,
             |exp(ln(class_size::DOUBLE) - nlogn/class_size) < 8.0 AS l_violation
             |FROM cls ORDER BY c_nationkey, c_mktsegment""".stripMargin.replace('\n', ' ')),
      doc = "entropy l-diversity audit: effective_l = e^H per quasi-identifier class vs l = 8"),

    // ---- Bradley-Terry pairwise-preference ranking (the LLM-eval
    // win-rate leaderboard aggregation): supplier strengths from
    // within-order quantity comparisons, Hunter 2004 MM iterations.
    // Deterministic fixed rounds -> the iterations UNROLL into a FULL
    // DuckDB oracle exactly like q_graph_pagerank's.
    "q_rank_bradley_terry" -> Q(
      (s, dir) => {
        val li = table(s, dir, "lineitem")
          .filter(col("l_orderkey") % 16 === 0)
          .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity"))
        val comp = li.as("x").join(li.as("y"),
            col("x.l_orderkey") === col("y.l_orderkey") &&
              col("x.l_suppkey") =!= col("y.l_suppkey") &&
              col("x.l_quantity") > col("y.l_quantity"))
          .select(col("x.l_suppkey").as("winner"), col("y.l_suppkey").as("loser"))
        graft.operators.Ranking.bradleyTerry(comp, "winner", "loser",
            iterations = 8)
          .orderBy(col("strength").desc, col("id")).limit(50)
      },
      Some(bradleyTerryOracle(iterations = 8)),
      doc = "Bradley-Terry strengths from within-order supplier quantity comparisons (unrolled MM oracle)"),

    // ---- chi-square independence + Cramér's V between two categorical
    // facets: full margin cross product (zero cells contribute E), one
    // data-sized hash agg, margins broadcast.
    "q_chi2_assoc" -> Q(
      (s, dir) => graft.operators.Profiling.chiSquareAssoc(
          table(s, dir, "orders"), "o_orderpriority", "o_orderstatus"),
      Some("""WITH obs AS (SELECT coalesce(CAST(o_orderpriority AS VARCHAR), chr(0)||'null') AS a,
             |  coalesce(CAST(o_orderstatus AS VARCHAR), chr(0)||'null') AS b, count(*) AS o FROM orders GROUP BY 1, 2),
             |ra AS (SELECT a, sum(o) AS na FROM obs GROUP BY 1),
             |cb AS (SELECT b, sum(o) AS nb FROM obs GROUP BY 1),
             |tt AS (SELECT sum(o)::DOUBLE AS n FROM obs),
             |x AS (SELECT ra.a, cb.b, ra.na, cb.nb, tt.n, coalesce(obs.o, 0) AS o
             |  FROM ra CROSS JOIN cb CROSS JOIN tt
             |  LEFT JOIN obs ON obs.a = ra.a AND obs.b = cb.b),
             |t2 AS (SELECT max(n)::BIGINT AS n, count(DISTINCT a) AS r_levels, count(DISTINCT b) AS c_levels,
             |  sum(pow(o - na*nb/n, 2)/(na*nb/n)) AS chi2_raw FROM x)
             |SELECT n, r_levels, c_levels, round(chi2_raw, 6) AS chi2,
             |(r_levels - 1)*(c_levels - 1) AS dof,
             |CASE WHEN least(r_levels, c_levels) > 1
             |  THEN round(sqrt(chi2_raw/(n*(least(r_levels, c_levels) - 1))), 6)
             |  ELSE 0.0 END AS cramers_v
             |FROM t2""".stripMargin.replace('\n', ' ')),
      doc = "chi-square independence + Cramér's V between order priority and status"),

    // ---- Spearman rank correlation: Pearson on distributed mid-ranks
    // (repartitionByRange + zipWithIndex offsets, never a global window)
    "q_spearman" -> Q(
      (s, dir) => graft.operators.Profiling.spearmanCorr(
          table(s, dir, "lineitem"), "l_quantity", "l_extendedprice"),
      Some("""WITH b AS (SELECT l_quantity::DOUBLE AS x, l_extendedprice::DOUBLE AS y FROM lineitem
             |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
             |r AS (SELECT rank() OVER (ORDER BY x) + (count(*) OVER (PARTITION BY x) - 1)/2.0 AS rx,
             |  rank() OVER (ORDER BY y) + (count(*) OVER (PARTITION BY y) - 1)/2.0 AS ry FROM b)
             |SELECT count(*)::BIGINT AS n, round(corr(rx, ry), 6) AS spearman FROM r""".stripMargin.replace('\n', ' ')),
      doc = "Spearman rank correlation of quantity vs extendedprice (distributed mid-ranks)"),

    "q_column_stats" -> Q(
      (s, dir) => {
        table(s, dir, "lineitem")
          .agg(
            count(lit(1)).as("total_rows"),
            countDistinct(col("l_partkey")).as("n_distinct_partkey"),
            round(min(col("l_extendedprice")), 2).as("min_price"),
            round(max(col("l_extendedprice")), 2).as("max_price"),
            round(avg(col("l_extendedprice")), 4).as("avg_price"),
            round(stddev_samp(col("l_extendedprice")), 4).as("std_price"),
            sum(col("l_quantity").isNull.cast("long")).as("null_qty"))
      },
      Some("""SELECT count(*) AS total_rows, count(DISTINCT l_partkey) AS n_distinct_partkey,
             |round(min(l_extendedprice),2) AS min_price, round(max(l_extendedprice),2) AS max_price,
             |round(avg(l_extendedprice),4) AS avg_price, round(stddev_samp(l_extendedprice),4) AS std_price,
             |sum(CAST(l_quantity IS NULL AS BIGINT))::BIGINT AS null_qty
             |FROM lineitem""".stripMargin.replace('\n', ' '))),

    // ---- sketch-based stats (operators/Sketches): HLL distinct +
    // mergeable approx percentiles — fixed-size map-side state vs the
    // full value shuffle exact stats need. Split (r14 verdict #6): the
    // SKETCH columns are approximate by design → rows-only check, error
    // bounds gated in SketchesSpec; the EXACT columns the same profile
    // pass computes (count/min/max) hash-match DuckDB below.
    "q_sketch_stats" -> Q(
      (s, dir) => {
        graft.operators.Sketches.profile(
            table(s, dir, "lineitem"), Seq("l_returnflag"), "l_extendedprice")
          .select(col("l_returnflag"), col("approx_distinct"),
            round(element_at(col("p50_p95_p99"), 1), 2).as("p50"),
            round(element_at(col("p50_p95_p99"), 3), 2).as("p99"))
          .orderBy(col("l_returnflag"))
      },
      None,
      doc = "HLL++ distinct (~2.3% rsd) and GK percentile sketches; error-gated in SketchesSpec"),

    "q_sketch_stats_exact" -> Q(
      (s, dir) => {
        graft.operators.Sketches.profile(
            table(s, dir, "lineitem"), Seq("l_returnflag"), "l_extendedprice")
          .select(col("l_returnflag"), col("n"),
            round(col("mn"), 2).as("mn"), round(col("mx"), 2).as("mx"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, count(*) AS n,
             |round(min(l_extendedprice), 2) AS mn, round(max(l_extendedprice), 2) AS mx
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace('\n', ' ')),
      doc = "the exact half of the sketch profile pass (count/min/max), oracle-checked"),

    // ---- TQL ROW_NUMBER(): zero-based row offset (tql.md:427-431).
    // Parity note: global row numbering is inherently sequential; at scale
    // use zipWithIndex-style partition offsets instead of a global window.
    "q_row_number" -> Q(
      (s, dir) => {
        // distributed zipWithIndex-style numbering over the sorted frame —
        // no unpartitioned window funneling the data through one task
        val sorted = table(s, dir, "orders")
          .filter(col("o_custkey") === 7)
          .orderBy(col("o_orderkey"))
        graft.operators.RowNumber.withRowNumber(sorted, "row_number")
          .select(col("o_orderkey"), col("row_number").cast("int").as("row_number"))
          .orderBy(col("o_orderkey"))
      },
      Some("SELECT o_orderkey, CAST(row_number() OVER (ORDER BY o_orderkey) - 1 AS INTEGER) " +
        "AS row_number FROM orders WHERE o_custkey = 7 ORDER BY o_orderkey")),

    // ---- correlated scalar subquery (TPC-H Q17 shape)
    "q17_small_quantity_revenue" -> Q(
      (s, dir) => {
        val l = table(s, dir, "lineitem")
        val p = table(s, dir, "part").filter(col("p_brand") === "Brand#3")
        val avgQty = l.groupBy(col("l_partkey").as("ap_partkey"))
          .agg((avg(col("l_quantity")) * 0.5).as("half_avg_qty"))
        l.join(p, col("l_partkey") === col("p_partkey"))
          .join(avgQty, col("l_partkey") === col("ap_partkey"))
          .filter(col("l_quantity") < col("half_avg_qty"))
          .agg(round(sum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"))
      },
      Some("""SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
             |FROM lineitem JOIN part ON p_partkey = l_partkey
             |WHERE p_brand = 'Brand#3' AND l_quantity <
             |(SELECT 0.5 * avg(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey)""".stripMargin.replace('\n', ' ')),
      doc = "correlated scalar subquery decorrelated to aggregate+join"),

    // ---- grouping sets / rollup
    "q_rollup" -> Q(
      (s, dir) => {
        table(s, dir, "lineitem")
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"))
          .select(
            coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
            coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
            col("n"), col("qty"))
          .orderBy(col("returnflag"), col("linestatus"))
      },
      Some("""SELECT coalesce(l_returnflag,'ALL') AS returnflag,
             |coalesce(l_linestatus,'ALL') AS linestatus, count(*) AS n,
             |round(sum(l_quantity),2) AS qty
             |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
             |ORDER BY returnflag, linestatus""".stripMargin.replace('\n', ' '))),

    // ---- incrementally maintained aggregate: state(history) ⊕ state(delta)
    // must equal a full recompute (IncrementalAgg; the oracle aggregates
    // the WHOLE table in one pass — associativity is the contract)
    "q_incremental_agg" -> Q(
      (s, dir) => {
        import graft.operators.IncrementalAgg
        val li = table(s, dir, "lineitem")
        val keys = Seq("l_returnflag", "l_linestatus")
        val history = IncrementalAgg.state(
          li.filter(col("l_orderkey") % 5 =!= 0), keys, "l_extendedprice")
        val delta = IncrementalAgg.state(
          li.filter(col("l_orderkey") % 5 === 0), keys, "l_extendedprice")
        IncrementalAgg.readout(IncrementalAgg.merge(history, delta, keys), keys)
          .select(col("l_returnflag"), col("l_linestatus"), col("n"),
            round(col("s"), 2).as("total"), round(col("mean"), 4).as("mean"),
            round(col("mn"), 2).as("mn"), round(col("mx"), 2).as("mx"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             |round(sum(l_extendedprice),2) AS total,
             |round(sum(l_extendedprice)/count(*),4) AS mean,
             |round(min(l_extendedprice),2) AS mn, round(max(l_extendedprice),2) AS mx
             |FROM lineitem GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin.replace('\n', ' '))),

    // ---- explicit GROUPING SETS (the general form behind rollup/cube):
    // three chosen granularities in ONE pass — Catalyst expands to a
    // single Expand + hash-agg, never three scans. gid computed as
    // grouping(a)*2+grouping(b) explicitly so the bit order is pinned
    // identically in both engines.
    "q_grouping_sets" -> Q(
      (s, dir) => {
        table(s, dir, "lineitem")
          .groupingSets(
            Seq(Seq(col("l_returnflag"), col("l_linestatus")),
              Seq(col("l_returnflag")), Seq.empty[org.apache.spark.sql.Column]),
            col("l_returnflag"), col("l_linestatus"))
          .agg((grouping(col("l_returnflag")) * 2 +
              grouping(col("l_linestatus"))).as("gid"),
            count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"))
          .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
            coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
            col("gid"), col("n"), col("qty"))
          .orderBy(col("gid"), col("returnflag"), col("linestatus"))
      },
      Some("""SELECT coalesce(l_returnflag,'ALL') AS returnflag,
             |coalesce(l_linestatus,'ALL') AS linestatus,
             |(grouping(l_returnflag)*2 + grouping(l_linestatus))::INT AS gid,
             |count(*) AS n, round(sum(l_quantity),2) AS qty
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
             |ORDER BY gid, returnflag, linestatus""".stripMargin.replace('\n', ' ')),
      doc = "one Expand + one hash-agg for all three granularities"),

    // ---- CUBE: every granularity combination over (source, lang)
    "q_cube" -> Q(
      (s, dir) => {
        table(s, dir, "documents")
          .cube(col("source"), col("lang"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
          .select(coalesce(col("source"), lit("ALL")).as("src"),
            coalesce(col("lang"), lit("ALL")).as("lng"),
            col("n"), col("chars"))
          .orderBy(col("src"), col("lng"))
      },
      Some("""SELECT coalesce(source,'ALL') AS src, coalesce(lang,'ALL') AS lng,
             |count(*) AS n, sum(n_chars)::BIGINT AS chars
             |FROM documents GROUP BY CUBE(source, lang)
             |ORDER BY src, lng""".stripMargin.replace('\n', ' '))),

    // ---- distribution window functions: ntile / percent_rank / cume_dist.
    // The ORDER BY is the tie-free (value, event_id) total order — ntile
    // assigns buckets by ROW POSITION, so a tied sort key would make the
    // assignment engine-dependent.
    "q_window_ntile" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("value"), col("event_id"))
        table(s, dir, "events")
          .filter(col("user_id") < 20)
          .select(col("event_type"), col("event_id"),
            ntile(4).over(w).as("quartile"),
            round(percent_rank().over(w), 6).as("pct_rank"),
            round(cume_dist().over(w), 6).as("cume"))
          .orderBy(col("event_type"), col("event_id"))
      },
      Some("""SELECT event_type, event_id,
             |ntile(4) OVER w AS quartile,
             |round(percent_rank() OVER w, 6) AS pct_rank,
             |round(cume_dist() OVER w, 6) AS cume
             |FROM events WHERE user_id < 20
             |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
             |ORDER BY event_type, event_id""".stripMargin.replace('\n', ' '))),

    // ---- ordered string aggregation (listagg): deterministic via
    // sort_array of the collected set, not collection order
    "q_string_agg" -> Q(
      (s, dir) => {
        table(s, dir, "documents")
          .groupBy(col("source"))
          .agg(array_join(array_sort(collect_set(col("lang"))), ",").as("langs"),
            count(lit(1)).as("n"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs,
             |count(*) AS n FROM documents GROUP BY source
             |ORDER BY source""".stripMargin.replace('\n', ' '))),

    // ---- PIVOT: event-type counts as columns per user bucket — Spark's
    // pivot with an EXPLICIT value list stays one pass (no distinct-scan
    // to discover columns); the oracle is the equivalent conditional agg
    "q_pivot" -> Q(
      (s, dir) => {
        table(s, dir, "events")
          .withColumn("bucket", (col("user_id") % 10).cast("long"))
          .groupBy(col("bucket"))
          .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
          .count()
          .select(col("bucket"),
            coalesce(col("click"), lit(0L)).as("click"),
            coalesce(col("error"), lit(0L)).as("error"),
            coalesce(col("purchase"), lit(0L)).as("purchase"),
            coalesce(col("signup"), lit(0L)).as("signup"),
            coalesce(col("view"), lit(0L)).as("view"))
          .orderBy(col("bucket"))
      },
      Some("""SELECT (user_id % 10) AS bucket,
             |count(*) FILTER (WHERE event_type='click') AS click,
             |count(*) FILTER (WHERE event_type='error') AS error,
             |count(*) FILTER (WHERE event_type='purchase') AS purchase,
             |count(*) FILTER (WHERE event_type='signup') AS signup,
             |count(*) FILTER (WHERE event_type='view') AS view
             |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin.replace('\n', ' '))),

    // ---- referential-integrity audit: quantify join loss BEFORE an
    // inner-join pipeline silently drops orphaned rows
    "q_fk_audit" -> Q(
      (s, dir) => graft.operators.Integrity.fkAudit(
        table(s, dir, "lineitem"), "l_orderkey",
        table(s, dir, "orders"), "o_orderkey"),
      Some("""WITH fk AS (SELECT l_orderkey AS k FROM lineitem),
             |tot AS (SELECT count(*)::BIGINT AS child_rows,
             |  count(k)::BIGINT AS nonnull_rows FROM fk),
             |per AS (SELECT k, count(*) AS n FROM fk WHERE k IS NOT NULL GROUP BY 1),
             |dk AS (SELECT count(*)::BIGINT AS distinct_fk FROM per),
             |orph AS (SELECT coalesce(sum(n), 0)::BIGINT AS orphan_rows,
             |  count(*)::BIGINT AS orphan_keys FROM per
             |  WHERE k NOT IN (SELECT o_orderkey FROM orders))
             |SELECT child_rows, nonnull_rows, distinct_fk, orphan_rows, orphan_keys,
             |round(CASE WHEN nonnull_rows = 0 THEN 1.0
             |  ELSE 1.0 - orphan_rows::DOUBLE / nonnull_rows END, 6) AS fk_coverage
             |FROM tot, dk, orph""".stripMargin.replace('\n', ' ')),
      doc = "lineitem.l_orderkey -> orders.o_orderkey coverage audit (anti-join on key-sized frames)"),

    // ---- PageRank over the customer -> supplier purchase graph (link
    // analysis for crawl-domain authority, exercised on the relational
    // corpus: suppliers are all DANGLING, so the redistribution path is
    // live). FULL oracle: the damping iteration count is fixed, so the
    // power method UNROLLS into chained DuckDB CTEs (one dangling-mass
    // scalar + one contribution agg per step — exactly the operator's
    // per-iteration plan); scores round to 6dp on BOTH engines before
    // ranking (float last-bit summation order differs otherwise).
    // GraphsSpec additionally gates the operator against an
    // independent dense reference to 1e-9.
    "q_graph_pagerank" -> Q(
      (s, dir) => {
        // edges served from the persisted GraphStore artifact (collapsed
        // multiplicity weights) — the corpus join is paid at build, once
        val edges = graft.operators.IndexStore.purchaseGraph(s, dir)
        graft.operators.Graphs.pageRank(edges, "src", "dst", iterations = 6,
            weightCol = Some("w"))
          .select(col("id"), round(col("rank"), 6).as("rank"))
          .orderBy(col("rank").desc, col("id")).limit(50)
      },
      Some(pageRankOracle(iterations = 6, damping = 0.85)),
      doc = "damped PageRank over the customer->supplier purchase graph, top 50 nodes (unrolled-CTE oracle)"),

    // ---- HITS on the same purchase graph: the bipartite ranking
    // PageRank conflates (buyers are hubs, suppliers authorities).
    // FULL oracle: the fixed 5 iterations unroll into chained CTEs —
    // two propagation aggs + two L2-norm scalars per step, the same
    // half-step math as the operator; 6dp rounding before ranking on
    // both engines. GraphsSpec gates vs a dense reference to 1e-9.
    "q_graph_hits" -> Q(
      (s, dir) => {
        val edges = graft.operators.IndexStore.purchaseGraph(s, dir)
        graft.operators.Graphs.hits(edges, "src", "dst", iterations = 5,
            weightCol = Some("w"))
          .select(col("id"), round(col("hub"), 6).as("hub"),
            round(col("authority"), 6).as("authority"))
          .orderBy(col("authority").desc, col("hub").desc, col("id")).limit(50)
      },
      Some(hitsOracle(iterations = 5)),
      doc = "HITS hubs/authorities over the purchase graph, top 50 by authority (unrolled-CTE oracle)"),

    // ---- exact triangle counts over the supplier co-purchase graph
    // (suppliers sharing an order interlink; orders are small cliques,
    // so triangles abound) — the clustering/spam-ring audit of a link
    // graph, FULL oracle: the canonical a<b<c enumeration replays in SQL
    "q_graph_triangles" -> Q(
      (s, dir) => {
        // the 1/4-order-slice supplier co-purchase graph, served from the
        // persisted artifact (the slice keeps the densifying co-purchase
        // clique graph-shaped — see the artifact's builder)
        val edges = graft.operators.IndexStore.supplierCopurchaseGraph(s, dir)
        graft.operators.Graphs.triangles(edges, "src", "dst")
          .orderBy(col("id"))
      },
      Some("""WITH raw AS (SELECT x.l_suppkey AS a, y.l_suppkey AS b
             |  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
             |  AND x.l_suppkey < y.l_suppkey
             |  WHERE x.l_orderkey % 4 = 0 AND y.l_orderkey % 4 = 0),
             |e AS (SELECT DISTINCT a, b FROM raw),
             |t AS (SELECT e1.a, e1.b, e2.b AS c FROM e e1
             |  JOIN e e2 ON e1.b = e2.a
             |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
             |n AS (SELECT a AS id FROM t UNION ALL SELECT b FROM t UNION ALL SELECT c FROM t)
             |SELECT id, count(*)::BIGINT AS n_triangles FROM n GROUP BY id ORDER BY id"""
        .stripMargin.replace('\n', ' ')),
      doc = "exact per-node triangle counts over the supplier co-purchase graph (canonical a<b<c join)"),

    // ---- label-propagation communities over the co-purchase graph —
    // synchronous LPA with smallest-label tie-break is fully
    // deterministic and ALL-INTEGER, so the fixed 4 iterations unroll
    // into exact (no rounding) DuckDB CTEs
    "q_graph_lpa" -> Q(
      (s, dir) => {
        val edges = graft.operators.IndexStore.supplierCopurchaseGraph(s, dir)
        graft.operators.Graphs.labelPropagation(edges, "src", "dst",
            iterations = 4)
          .orderBy(col("id"))
      },
      Some(lpaOracle(iterations = 4)),
      doc = "synchronous LPA communities over the supplier co-purchase graph (exact unrolled-CTE oracle)"),

    // ---- Adamic-Adar link prediction on the PART co-purchase graph:
    // recommend the part pairs most likely to co-occur next, scored by
    // Σ 1/ln(deg) over common neighbors — full SQL oracle. Parts, not
    // suppliers: the part population grows WITH the corpus, so degree
    // stays bounded (~30 here) at every SF — the supplier graph has a
    // fixed 1000 nodes and densifies toward complete as orders grow,
    // which quadratically blows the Σd² wedge census exactly as the
    // data scales (measured 56s at sf0.1; this shape is ~4s).
    "q_graph_adamic_adar" -> Q(
      (s, dir) => {
        val edges = graft.operators.IndexStore.partCopurchaseGraph(s, dir)
        graft.operators.Graphs.adamicAdar(edges, "src", "dst")
          .select(col("u"), col("v"), col("common_neighbors"),
            round(col("adamic_adar"), 6).as("adamic_adar"))
          .orderBy(col("adamic_adar").desc, col("u"), col("v"))
          .limit(50)
      },
      Some("""WITH raw AS (SELECT x.l_partkey AS a, y.l_partkey AS b
             |  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
             |  AND x.l_partkey < y.l_partkey
             |  WHERE x.l_orderkey % 8 = 0 AND y.l_orderkey % 8 = 0),
             |e AS MATERIALIZED (SELECT DISTINCT a, b FROM raw),
             |adj AS MATERIALIZED (SELECT a AS id, b AS nb FROM e
             |  UNION ALL SELECT b, a FROM e),
             |deg AS MATERIALIZED (SELECT id, count(*) AS d FROM adj GROUP BY id),
             |mid AS MATERIALIZED (SELECT a.id, a.nb, g.d FROM adj a
             |  JOIN deg g USING (id) WHERE g.d <= 10000),
             |w AS (SELECT m1.nb AS u, m2.nb AS v, m1.d AS dw
             |  FROM mid m1 JOIN mid m2 ON m1.id = m2.id AND m1.nb < m2.nb),
             |ne AS (SELECT u, v, dw FROM w WHERE NOT EXISTS (
             |  SELECT 1 FROM e WHERE e.a = w.u AND e.b = w.v))
             |SELECT u, v, count(*)::BIGINT AS common_neighbors,
             |  round(sum(1.0 / ln(dw)), 6) AS adamic_adar
             |FROM ne GROUP BY u, v
             |ORDER BY adamic_adar DESC, u, v LIMIT 50""".stripMargin.replace('\n', ' ')),
      doc = "Adamic-Adar common-neighbor link prediction on the part co-purchase graph, hub-capped wedge enumeration"),

    // ---- deterministic random walks over the symmetrized purchase
    // graph — the DeepWalk/node2vec corpus generator. Neighbor choice
    // is argmin of the md5-fold uniform keyed by (seed, walk, step,
    // candidate): exactly uniform, layout/retry-independent, and
    // replayable in SQL, so the fixed 4 steps unroll into a FULL
    // DuckDB oracle (one join + one per-walk argmin per step — the
    // operator's own plan).
    "q_graph_walks" -> Q(
      (s, dir) => {
        val edges = graft.operators.IndexStore.purchaseGraph(s, dir)
        val starts = edges.select(col("src"))
          .filter(col("src") % 100 === 0).distinct()
        graft.operators.Graphs.randomWalks(edges, "src", "dst",
            starts, "src", steps = 4, seed = "rw42")
          .orderBy(col("walk_id"), col("step"))
      },
      Some(walksOracle(steps = 4, seed = "rw42")),
      doc = "seeded deterministic random walks (DeepWalk corpus) over the purchase graph"),

    // ---- node2vec-biased walks over the part CO-PURCHASE graph (the
    // adamic-adar graph — it has triangles, so the α=1 "neighbor of
    // prev" branch is actually exercised; the bipartite purchase graph
    // would never fire it). The (p,q)-weighted choice is an exponential
    // race on the md5-fold uniform, so the fixed 4 steps + the per-step
    // LEFT edge-join unroll into a FULL DuckDB oracle.
    "q_graph_node2vec" -> Q(
      (s, dir) => {
        val edges = graft.operators.IndexStore.partCopurchaseGraph(s, dir)
        val starts = edges.select(col("src"))
          .filter(col("src") % 100 === 0).distinct()
        graft.operators.Graphs.node2vecWalks(edges, "src", "dst",
            starts, "src", steps = 4, p = 4.0, q = 0.25, seed = "n2v42")
          .orderBy(col("walk_id"), col("step"))
      },
      Some(node2vecOracle(steps = 4, p = 4.0, q = 0.25, seed = "n2v42")),
      doc = "node2vec (p,q)-biased walks over the part co-purchase graph"),

    // ---- personalized PageRank over the purchase graph: the walker
    // teleports to a SEED set (customers ≡ 0 mod 200) instead of
    // uniformly — "expand this curated set" relevance propagation.
    // Deterministic power iteration → 6 steps unroll into a FULL
    // DuckDB oracle (dangling mass returns to the seeds).
    "q_graph_ppr" -> Q(
      (s, dir) => {
        val edges = graft.operators.IndexStore.purchaseGraph(s, dir)
        val seeds = edges.select(col("src"))
          .filter(col("src") % 200 === 0).distinct()
        graft.operators.Graphs.personalizedPageRank(edges, "src", "dst",
            seeds, "src", iterations = 6, weightCol = Some("w"))
          .select(col("id"), round(col("rank"), 6).as("rank"))
          .orderBy(col("rank").desc, col("id")).limit(50)
      },
      Some(pprOracle(iterations = 6, damping = 0.85)),
      doc = "personalized PageRank: seed-set teleport relevance over the purchase graph"),

    // ---- k-core membership of the part co-purchase graph: iterative
    // peel of degree < k nodes until stable — the density filter run
    // before community/embedding work. Peeling is monotone, so the
    // oracle's FIXED unrolled rounds past the fixpoint are no-ops and
    // both engines agree on the converged core.
    "q_graph_kcore" -> Q(
      (s, dir) => {
        val edges = graft.operators.IndexStore.partCopurchaseGraph(s, dir)
        graft.operators.Graphs.kCore(edges, "src", "dst", k = 8)
          .orderBy(col("id"))
      },
      Some(kCoreOracle(k = 8, rounds = 12)),
      doc = "k-core decomposition membership (iterative peeling) of the part co-purchase graph"),

    // ---- degree-distribution audit: the first question asked of any
    // graph before running the heavy family on it (hub skew decides
    // salting/orientation strategy). Log2 degree buckets, node counts,
    // min/max per bucket — one agg over the adjacency, one over the
    // bucketing; full oracle.
    "q_graph_degrees" -> Q(
      (s, dir) => {
        // the artifact's merged read is already unique per (src, dst), so
        // the raw join's .distinct() is structural here
        val edges = graft.operators.IndexStore.purchaseGraph(s, dir)
          .select(col("src"), col("dst"))
        val deg = edges.select(col("src").as("id"))
          .unionByName(edges.select(col("dst").as("id")))
          .groupBy(col("id")).agg(count(lit(1)).as("d"))
        // floor(log2(d)) via binary-digit count — INTEGER-exact in both
        // engines (float log2 rounds differently at exact powers of 2)
        deg.withColumn("bucket", (length(bin(col("d"))) - 1).cast("long"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_nodes"),
            min(col("d")).cast("long").as("min_deg"),
            max(col("d")).cast("long").as("max_deg"))
          .orderBy(col("bucket"))
      },
      Some("""WITH de AS (SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
             |n AS (SELECT src AS id FROM de UNION ALL SELECT dst FROM de),
             |deg AS (SELECT id, count(*) AS d FROM n GROUP BY id),
             |b AS (SELECT d, CAST(length(bin(d)) - 1 AS BIGINT) AS bucket FROM deg)
             |SELECT bucket, count(*) AS n_nodes,
             |  min(d)::BIGINT AS min_deg, max(d)::BIGINT AS max_deg
             |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin.replace('\n', ' ')),
      doc = "log2-bucketed degree distribution of the purchase graph (hub-skew audit)"),

    // ---- schema-drift audit: the data contract between two snapshots
    // (planted: one added, one removed, one type-changed column)
    "q_schema_drift" -> Q(
      (s, dir) => {
        val ev = table(s, dir, "events")
        graft.operators.Integrity.schemaDrift(
            ev.filter(col("user_id") % 2 === 0)
              .select(col("user_id"), col("event_type"), col("value"), col("props")),
            ev.filter(col("user_id") % 2 === 1)
              .select(col("user_id"), col("value").cast("float").as("value"),
                col("props"), to_date(col("ts")).as("day")))
          .orderBy(col("column"))
      },
      Some("""WITH r AS (SELECT user_id, event_type, value, props FROM events
             |  WHERE user_id % 2 = 0),
             |c AS (SELECT user_id, value::FLOAT AS value, props,
             |  date_trunc('day', ts)::DATE AS day FROM events WHERE user_id % 2 = 1)
             |SELECT * FROM (
             |SELECT 'day' AS "column", NULL::VARCHAR AS type_ref,
             |  'date' AS type_cur, 'added' AS status,
             |  NULL::DOUBLE AS null_rate_ref,
             |  (SELECT round(sum(CASE WHEN day IS NULL THEN 1 ELSE 0 END)::DOUBLE
             |    / count(*), 6) FROM c) AS null_rate_cur,
             |  NULL::DOUBLE AS mean_ref, NULL::DOUBLE AS mean_cur
             |UNION ALL SELECT 'event_type', 'string', NULL, 'removed',
             |  (SELECT round(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)::DOUBLE
             |    / count(*), 6) FROM r), NULL, NULL, NULL
             |UNION ALL SELECT 'props', 'string', 'string', 'ok',
             |  (SELECT round(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END)::DOUBLE
             |    / count(*), 6) FROM r),
             |  (SELECT round(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END)::DOUBLE
             |    / count(*), 6) FROM c), NULL, NULL
             |UNION ALL SELECT 'user_id', 'bigint', 'bigint', 'ok',
             |  (SELECT round(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)::DOUBLE
             |    / count(*), 6) FROM r),
             |  (SELECT round(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)::DOUBLE
             |    / count(*), 6) FROM c),
             |  (SELECT round(avg(user_id), 6) FROM r),
             |  (SELECT round(avg(user_id), 6) FROM c)
             |UNION ALL SELECT 'value', 'double', 'float', 'type_changed',
             |  (SELECT round(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)::DOUBLE
             |    / count(*), 6) FROM r),
             |  (SELECT round(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)::DOUBLE
             |    / count(*), 6) FROM c),
             |  (SELECT round(avg(value), 6) FROM r),
             |  (SELECT round(avg(value::DOUBLE), 6) FROM c)
             |) ORDER BY "column"""".stripMargin.replace('\n', ' ')),
      doc = "per-column contract audit: types, null rates, mean shifts between snapshots")
  )

  /** DuckDB oracle for `q_graph_walks`: the symmetrized purchase-graph
    * edges, then one chained CTE per step — a frontier join plus a
    * per-walk argmin on the shared md5-fold uniform — exactly the
    * operator's per-step plan ([[graft.operators.Graphs.randomWalks]]). */
  private def walksOracle(steps: Int, seed: String): String = {
    val stepCtes = (1 to steps).map { t =>
      s"""c$t AS (SELECT p.walk_id, e.dst,
         |  md5('$seed:' || p.walk_id::VARCHAR || ':$t:' || e.dst::VARCHAR) AS h
         |  FROM s${t - 1} p JOIN e ON p.node = e.src),
         |s$t AS MATERIALIZED (SELECT walk_id, dst AS node, $t AS step FROM (
         |  SELECT walk_id, dst, row_number() OVER (PARTITION BY walk_id
         |    ORDER BY ${uuSql("h")}, dst) AS rk FROM c$t) WHERE rk = 1)""".stripMargin
    }.mkString(", ")
    val unions = (0 to steps).map(t => s"SELECT * FROM s$t").mkString(" UNION ALL ")
    s"""WITH de AS (SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS MATERIALIZED (SELECT src, dst FROM de UNION SELECT dst, src FROM de),
       |s0 AS MATERIALIZED (SELECT DISTINCT src AS walk_id, src AS node, 0 AS step
       |  FROM de WHERE src % 100 = 0),
       |$stepCtes
       |SELECT walk_id, step, node FROM ($unions) ORDER BY walk_id, step"""
      .stripMargin.replace('\n', ' ')
  }

  /** DuckDB oracle for `q_graph_node2vec`: the symmetrized part
    * co-purchase edges, then one chained CTE trio per step — frontier
    * join, LEFT edge-join to classify each candidate (return /
    * distance-1 / distance-2 from `prev`), and a per-walk argmin on
    * the 6dp exponential-race key round(-ln(u)/α, 6) — replaying
    * [[graft.operators.Graphs.node2vecWalks]]'s exact per-step plan.
    * At step 1 `prev` IS NULL: both CASE arms miss (NULL comparison
    * and an unmatched left join) and every candidate gets α = 1/q —
    * the same fall-through the Spark `when` chain takes. */
  private def node2vecOracle(steps: Int, p: Double, q: Double,
      seed: String): String = {
    val aRet = 1.0 / p
    val aOut = 1.0 / q
    val stepCtes = (1 to steps).map { t =>
      s"""c$t AS (SELECT pf.walk_id, pf.node AS u, pf.prev, e.dst,
         |  md5('$seed:' || pf.walk_id::VARCHAR || ':$t:' || e.dst::VARCHAR) AS h
         |  FROM s${t - 1} pf JOIN e ON pf.node = e.src),
         |a$t AS (SELECT c.walk_id, c.u, c.dst, c.h,
         |  CASE WHEN c.dst = c.prev THEN $aRet
         |       WHEN pe.src IS NOT NULL THEN 1.0
         |       ELSE $aOut END AS alpha
         |  FROM c$t c LEFT JOIN e pe ON pe.src = c.prev AND pe.dst = c.dst),
         |s$t AS MATERIALIZED (SELECT walk_id, dst AS node, u AS prev, $t AS step FROM (
         |  SELECT walk_id, u, dst, row_number() OVER (PARTITION BY walk_id
         |    ORDER BY round(-ln(${uuOpenSql("h")}) / alpha, 6), dst) AS rk
         |  FROM a$t) WHERE rk = 1)""".stripMargin
    }.mkString(", ")
    val unions = (0 to steps).map(t =>
      s"SELECT walk_id, step, node FROM s$t").mkString(" UNION ALL ")
    s"""WITH raw AS (SELECT x.l_partkey AS a, y.l_partkey AS b
       |  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
       |  AND x.l_partkey < y.l_partkey
       |  WHERE x.l_orderkey % 8 = 0 AND y.l_orderkey % 8 = 0),
       |de AS MATERIALIZED (SELECT DISTINCT a, b FROM raw),
       |e AS MATERIALIZED (SELECT a AS src, b AS dst FROM de
       |  UNION SELECT b, a FROM de),
       |s0 AS MATERIALIZED (SELECT DISTINCT a AS walk_id, a AS node,
       |  CAST(NULL AS BIGINT) AS prev, 0 AS step FROM de WHERE a % 100 = 0),
       |$stepCtes
       |SELECT walk_id, step, node FROM ($unions) ORDER BY walk_id, step"""
      .stripMargin.replace('\n', ' ')
  }

  /** DuckDB oracle for `q_rank_bradley_terry`: the within-order quantity
    * comparisons collapse to win counts + a symmetric pair table, then
    * the fixed MM rounds unroll — per round one (i, j) strength join +
    * per-item denominator agg, sum-normalized ONCE at the end (the
    * update is homogeneous degree 1; r14 moved the gauge fix outside
    * the loop in lockstep with the engine), replaying
    * [[graft.operators.Ranking.bradleyTerry]] exactly (6dp rounding
    * before ranking absorbs summation-order float noise, the
    * pageRankOracle posture). */
  private def bradleyTerryOracle(iterations: Int): String = {
    val head = Seq(
      "comp AS (SELECT x.l_suppkey AS w, y.l_suppkey AS l " +
        "FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey " +
        "AND x.l_suppkey <> y.l_suppkey AND x.l_quantity > y.l_quantity " +
        "WHERE x.l_orderkey % 16 = 0 AND y.l_orderkey % 16 = 0)",
      "wins AS MATERIALIZED (SELECT w AS id, count(*)::BIGINT AS wi FROM comp GROUP BY 1)",
      "pc AS (SELECT least(w, l) AS a, greatest(w, l) AS b, count(*)::DOUBLE AS nij " +
        "FROM comp GROUP BY 1, 2)",
      "sym AS MATERIALIZED (SELECT a AS i, b AS j, nij FROM pc " +
        "UNION ALL SELECT b, a, nij FROM pc)",
      "items AS MATERIALIZED (SELECT DISTINCT i AS id FROM sym)",
      "c0 AS MATERIALIZED (SELECT id, 1.0 AS p FROM items)")
    val rounds = (0 until iterations).flatMap { t => Seq(
      s"d$t AS MATERIALIZED (SELECT s.i AS id, sum(s.nij / (ci.p + cj.p)) AS d " +
        s"FROM sym s JOIN c$t ci ON ci.id = s.i JOIN c$t cj ON cj.id = s.j GROUP BY 1)",
      s"c${t + 1} AS MATERIALIZED (SELECT it.id, coalesce(w.wi, 0)::DOUBLE / d.d AS p " +
        s"FROM items it LEFT JOIN wins w ON w.id = it.id JOIN d$t d ON d.id = it.id)")
    }
    s"WITH ${(head ++ rounds).mkString(", ")} " +
      s"SELECT c$iterations.id, coalesce(w.wi, 0)::BIGINT AS wins, " +
      s"round(c$iterations.p / (SELECT sum(p) FROM c$iterations), 6) AS strength " +
      s"FROM c$iterations LEFT JOIN wins w ON w.id = c$iterations.id " +
      "ORDER BY strength DESC, 1 LIMIT 50"
  }

  /** DuckDB oracle for `q_graph_pagerank`: the purchase-graph edges,
    * then the damped power iteration UNROLLED into one CTE per step —
    * dangling mass as a scalar subquery, contributions as a grouped
    * join — replaying [[graft.operators.Graphs.pageRank]]'s exact math
    * (deterministic, so hash-comparable after 6dp rounding). */
  private def pageRankOracle(iterations: Int, damping: Double): String = {
    val steps = (1 to iterations).map { k =>
      s"""r$k AS MATERIALIZED (SELECT n.id,
         |  ((1.0 - $damping) / nn.n) + $damping *
         |    (coalesce(c.contrib, 0.0) + d.dang / nn.n) AS rank
         |  FROM nodes n CROSS JOIN cnt nn
         |  CROSS JOIN (SELECT coalesce(sum(rank), 0.0) AS dang FROM r${k - 1} p
         |    WHERE p.id NOT IN (SELECT src FROM ow)) d
         |  LEFT JOIN (SELECT ej.dst AS id, sum(ej.share * p.rank) AS contrib
         |    FROM ej JOIN r${k - 1} p ON ej.src = p.id GROUP BY 1) c
         |    ON n.id = c.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH raw AS (SELECT o_custkey AS src, l_suppkey + 1000000 AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS MATERIALIZED (SELECT src, dst, count(*)::DOUBLE AS w FROM raw GROUP BY 1, 2),
       |ow AS MATERIALIZED (SELECT src, sum(w) AS ow FROM e GROUP BY 1),
       |nodes AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
       |cnt AS (SELECT count(*)::DOUBLE AS n FROM nodes),
       |ej AS MATERIALIZED (SELECT e.src, e.dst, e.w / ow.ow AS share FROM e JOIN ow ON e.src = ow.src),
       |r0 AS MATERIALIZED (SELECT id, 1.0 / (SELECT n FROM cnt) AS rank FROM nodes),
       |$steps
       |SELECT id, round(rank, 6) AS rank FROM r$iterations
       |ORDER BY round(rank, 6) DESC, id LIMIT 50""".stripMargin.replace('\n', ' ')
  }

  /** DuckDB oracle for `q_graph_ppr`: [[pageRankOracle]] with the
    * uniform teleport replaced by the seed-set personalization vector —
    * teleport AND dangling mass both return to the seeds, replaying
    * [[graft.operators.Graphs.personalizedPageRank]] exactly. */
  private def pprOracle(iterations: Int, damping: Double): String = {
    val steps = (1 to iterations).map { k =>
      s"""r$k AS MATERIALIZED (SELECT n.id,
         |  (1.0 - $damping) * n.p + $damping *
         |    (coalesce(c.contrib, 0.0) + d.dang * n.p) AS rank
         |  FROM pv n
         |  CROSS JOIN (SELECT coalesce(sum(rank), 0.0) AS dang FROM r${k - 1} p
         |    WHERE p.id NOT IN (SELECT src FROM ow)) d
         |  LEFT JOIN (SELECT ej.dst AS id, sum(ej.share * p.rank) AS contrib
         |    FROM ej JOIN r${k - 1} p ON ej.src = p.id GROUP BY 1) c
         |    ON n.id = c.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH raw AS (SELECT o_custkey AS src, l_suppkey + 1000000 AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS MATERIALIZED (SELECT src, dst, count(*)::DOUBLE AS w FROM raw GROUP BY 1, 2),
       |ow AS MATERIALIZED (SELECT src, sum(w) AS ow FROM e GROUP BY 1),
       |nodes AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
       |seeds AS MATERIALIZED (SELECT DISTINCT src AS id FROM e WHERE src % 200 = 0),
       |scnt AS (SELECT count(*)::DOUBLE AS ns FROM seeds),
       |pv AS MATERIALIZED (SELECT n.id,
       |  CASE WHEN s.id IS NOT NULL THEN 1.0 / (SELECT ns FROM scnt) ELSE 0.0 END AS p
       |  FROM nodes n LEFT JOIN seeds s ON n.id = s.id),
       |ej AS MATERIALIZED (SELECT e.src, e.dst, e.w / ow.ow AS share FROM e JOIN ow ON e.src = ow.src),
       |r0 AS MATERIALIZED (SELECT id, p AS rank FROM pv),
       |$steps
       |SELECT id, round(rank, 6) AS rank FROM r$iterations
       |ORDER BY round(rank, 6) DESC, id LIMIT 50""".stripMargin.replace('\n', ' ')
  }

  /** DuckDB oracle for `q_graph_kcore`: the symmetrized part
    * co-purchase edges, then `rounds` unrolled peel steps (degree agg +
    * two membership joins per step) — `rounds` exceeds this graph's
    * peel depth, and peeling is monotone so post-fixpoint rounds are
    * no-ops, replaying [[graft.operators.Graphs.kCore]]'s converged
    * answer exactly. */
  private def kCoreOracle(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { t =>
      s"""n$t AS MATERIALIZED (SELECT a AS id FROM e${t - 1}
         |  GROUP BY a HAVING count(*) >= $k),
         |e$t AS MATERIALIZED (SELECT e.a, e.b FROM e${t - 1} e
         |  JOIN n$t x ON e.a = x.id JOIN n$t y ON e.b = y.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH raw AS (SELECT x.l_partkey AS a, y.l_partkey AS b
       |  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
       |  AND x.l_partkey < y.l_partkey
       |  WHERE x.l_orderkey % 8 = 0 AND y.l_orderkey % 8 = 0),
       |de AS MATERIALIZED (SELECT DISTINCT a, b FROM raw),
       |e0 AS MATERIALIZED (SELECT a, b FROM de UNION SELECT b, a FROM de),
       |$steps
       |SELECT a AS id, count(*)::BIGINT AS core_deg FROM e$rounds
       |GROUP BY a HAVING count(*) >= $k ORDER BY id"""
      .stripMargin.replace('\n', ' ')
  }

  /** DuckDB oracle for `q_graph_lpa`: synchronous label propagation
    * unrolled — per step, each node takes the most frequent neighbor
    * label (ties to the smallest), replaying
    * [[graft.operators.Graphs.labelPropagation]] exactly (all-integer:
    * no float tolerance anywhere). */
  private def lpaOracle(iterations: Int): String = {
    val steps = (1 to iterations).map { k =>
      s"""l$k AS MATERIALIZED (SELECT id, label FROM (
         |  SELECT a.id, l.label,
         |    row_number() OVER (PARTITION BY a.id
         |      ORDER BY count(*) DESC, l.label) AS rk
         |  FROM adj a JOIN l${k - 1} l ON a.nb = l.id
         |  GROUP BY a.id, l.label) t WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH raw AS (SELECT x.l_suppkey AS a, y.l_suppkey AS b
       |  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
       |  AND x.l_suppkey < y.l_suppkey
       |  WHERE x.l_orderkey % 4 = 0 AND y.l_orderkey % 4 = 0),
       |e AS MATERIALIZED (SELECT DISTINCT a, b FROM raw),
       |adj AS MATERIALIZED (SELECT a AS id, b AS nb FROM e
       |  UNION ALL SELECT b, a FROM e),
       |l0 AS MATERIALIZED (SELECT DISTINCT id, id AS label FROM adj),
       |$steps
       |SELECT id, label FROM l$iterations ORDER BY id"""
      .stripMargin.replace('\n', ' ')
  }

  /** DuckDB oracle for `q_graph_hits`: Kleinberg's two half-steps per
    * iteration unrolled — an in-edge hub-sum then L2 normalization for
    * authorities, the dual for hubs — replaying
    * [[graft.operators.Graphs.hits]] exactly. */
  /** DuckDB oracle for `q_graph_hits`: the RAW (unnormalized) half-step
    * recurrences with ONE final L2 normalization — power iteration is
    * scale-invariant, so this equals per-half-step normalization
    * exactly (and replays [[graft.operators.Graphs.hits]]'s r13 plan,
    * which cut the per-step norm aggregates for the same reason). */
  private def hitsOracle(iterations: Int): String = {
    val steps = (1 to iterations).map { k =>
      s"""a$k AS MATERIALIZED (SELECT n.id, coalesce(s.v, 0.0) AS authority FROM nodes n
         |  LEFT JOIN (SELECT e.dst AS id, sum(e.w * h.hub) AS v
         |    FROM e JOIN h${k - 1} h ON e.src = h.id GROUP BY 1) s ON n.id = s.id),
         |h$k AS MATERIALIZED (SELECT n.id, coalesce(s.v, 0.0) AS hub FROM nodes n
         |  LEFT JOIN (SELECT e.src AS id, sum(e.w * a.authority) AS v
         |    FROM e JOIN a$k a ON e.dst = a.id GROUP BY 1) s ON n.id = s.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH raw AS (SELECT o_custkey AS src, l_suppkey + 1000000 AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS MATERIALIZED (SELECT src, dst, count(*)::DOUBLE AS w FROM raw GROUP BY 1, 2),
       |nodes AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
       |h0 AS MATERIALIZED (SELECT id, 1.0 AS hub FROM nodes),
       |$steps,
       |hn AS (SELECT sqrt(sum(hub * hub)) AS nrm FROM h$iterations),
       |an AS (SELECT sqrt(sum(authority * authority)) AS nrm FROM a$iterations)
       |SELECT h.id,
       |round(CASE WHEN hn.nrm > 0 THEN h.hub / hn.nrm ELSE h.hub END, 6) AS hub,
       |round(CASE WHEN an.nrm > 0 THEN a.authority / an.nrm ELSE a.authority END, 6) AS authority
       |FROM h$iterations h JOIN a$iterations a ON h.id = a.id
       |CROSS JOIN hn CROSS JOIN an
       |ORDER BY round(CASE WHEN an.nrm > 0 THEN a.authority / an.nrm ELSE a.authority END, 6) DESC,
       |round(CASE WHEN hn.nrm > 0 THEN h.hub / hn.nrm ELSE h.hub END, 6) DESC, h.id
       |LIMIT 50""".stripMargin.replace('\n', ' ')
  }
}
