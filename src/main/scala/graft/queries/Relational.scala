package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.catalog.Tables

/** Relational operator surface (SURVEY §2.2), one declared query per
  * category, each with a DuckDB-oracle SQL twin.
  *
  * Conventions for oracle hash-parity:
  *  - double aggregates go through [[Det]] (exact decimal sums);
  *  - computed integer columns are cast to BIGINT on both sides
  *    (DuckDB's count/length/rank/year/... return BIGINT);
  *  - every query ends in a total deterministic ORDER BY;
  *  - timestamps never appear raw in output (DATE or formatted string
  *    instead — parquet TIMESTAMP annotations differ between engines).
  */
object Relational {

  final case class Q(impl: (SparkSession, String) => DataFrame, oracle: Option[String])

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Minute-co-occurrence user pairs (a < b): users sharing a DISTINCT
    * (event_type, minute) cell — the shared blocking key of the graph
    * query family (q130 triangles, q132 communities, q157 k-core, q168
    * BFS; q274 weights the same join by pair frequency). ONE definition
    * so a blocking-key change cannot silently desynchronize the five
    * graphs. */
  private def coPresence(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        date_trunc("minute", col("ts")).as("hr"))
      .distinct()
    ev.join(ev.withColumnRenamed("user_id", "user_b"), Seq("event_type", "hr"))
      .filter(col("user_id") < col("user_b"))
  }

  private def coEdges(s: SparkSession, dir: String): DataFrame =
    coPresence(s, dir)
      .select(col("user_id").as("a"), col("user_b").as("b"))
      .distinct()

  /** DuckDB twin of [[coEdges]]; output aliases parameterized (the LPA
    * oracle names them src/dst). */
  private def sqlCoEdges(a: String = "a", b: String = "b"): String =
    s"""SELECT DISTINCT x.user_id AS $a, y.user_id AS $b
           FROM (SELECT DISTINCT user_id, event_type,
                   date_trunc('minute', ts) AS hr FROM events) x
           JOIN (SELECT DISTINCT user_id, event_type,
                   date_trunc('minute', ts) AS hr FROM events) y
             ON x.event_type = y.event_type AND x.hr = y.hr
            AND x.user_id < y.user_id"""


  val defs: Seq[(String, Q)] = Seq(

    // ---- aggregation: TPC-H Q1-style pricing summary ------------------
    "q01_pricing_summary" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        li.filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            Det.moneySum(col("l_quantity")).as("sum_qty"),
            Det.moneySum(col("l_extendedprice")).as("sum_base_price"),
            Det.sumD(Det.money(col("l_extendedprice")) * Det.oneMinus(col("l_discount"))).as("sum_disc_price"),
            Det.sumD(Det.money(col("l_extendedprice")) * Det.oneMinus(col("l_discount")) * Det.onePlus(col("l_tax"))).as("sum_charge"),
            Det.moneyAvg(col("l_quantity")).as("avg_qty"),
            Det.moneyAvg(col("l_extendedprice")).as("avg_price"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
        ${Det.sqlMoneySum("l_quantity")} AS sum_qty,
        ${Det.sqlMoneySum("l_extendedprice")} AS sum_base_price,
        ${Det.sqlSumD(Det.sqlMoney("l_extendedprice") + " * " + Det.sqlOneMinus("l_discount"))} AS sum_disc_price,
        ${Det.sqlSumD(Det.sqlMoney("l_extendedprice") + " * " + Det.sqlOneMinus("l_discount") + " * " + Det.sqlOnePlus("l_tax"))} AS sum_charge,
        ${Det.sqlMoneyAvg("l_quantity")} AS avg_qty,
        ${Det.sqlMoneyAvg("l_extendedprice")} AS avg_price,
        COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    // ---- filter + projection (predicate pushdown surface) -------------
    "q02_filter_project" -> Q(
      (s, dir) => {
        t(s, dir, "lineitem")
          .filter(col("l_quantity") >= 49 && col("l_discount") > 0.05)
          .select(
            col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("net_price"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity,
        l_extendedprice * (1.0 - l_discount) AS net_price
        FROM lineitem WHERE l_quantity >= 49 AND l_discount > 0.05
        ORDER BY l_orderkey, l_linenumber""")),

    // ---- 3-way inner join + agg + deterministic top-k ------------------
    "q03_topk_revenue" -> Q(
      (s, dir) => {
        val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        val o = t(s, dir, "orders").filter(col("o_orderdate") < to_timestamp(lit("1998-03-15 00:00:00")))
        val li = t(s, dir, "lineitem").filter(col("l_shipdate") > to_timestamp(lit("1996-03-15 00:00:00")))
        // customer is tiny relative to lineitem: broadcast it through orders.
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .groupBy(col("o_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
          .agg(Det.sumD(Det.money(col("l_extendedprice")) * Det.oneMinus(col("l_discount"))).as("revenue"))
          .orderBy(desc("revenue"), col("o_orderkey"))
          .limit(10)
      },
      Some(s"""SELECT o_orderkey, STRFTIME(o_orderdate, '%Y-%m-%d') AS order_date,
        ${Det.sqlSumD(Det.sqlMoney("l_extendedprice") + " * " + Det.sqlOneMinus("l_discount"))} AS revenue
        FROM customer, orders, lineitem
        WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
          AND l_shipdate  > TIMESTAMP '1996-03-15 00:00:00'
        GROUP BY o_orderkey, STRFTIME(o_orderdate, '%Y-%m-%d')
        ORDER BY revenue DESC, o_orderkey LIMIT 10""")),

    // ---- left-semi join (EXISTS) ---------------------------------------
    "q04_semi_join" -> Q(
      (s, dir) => {
        val o = t(s, dir, "orders")
        val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders WHERE EXISTS (
          SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ---- left-anti join (NOT EXISTS) -----------------------------------
    "q05_anti_join" -> Q(
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        ORDER BY c_custkey""")),

    // ---- highly selective scan-agg (TPC-H Q6-style) --------------------
    "q06_forecast_revenue" -> Q(
      (s, dir) => {
        t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
                  col("l_shipdate") <  to_timestamp(lit("1997-01-01 00:00:00")) &&
                  col("l_discount").between(0.02, 0.04) &&
                  col("l_quantity") < 25)
          .agg(
            Det.sumD(Det.money(col("l_extendedprice")) * Det.rate(col("l_discount"))).as("revenue"),
            count(lit(1)).as("n_items"))
      },
      Some(s"""SELECT ${Det.sqlSumD(Det.sqlMoney("l_extendedprice") + " * " + Det.sqlRate("l_discount"))} AS revenue,
        COUNT(*) AS n_items FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.02 AND 0.04 AND l_quantity < 25""")),

    // ---- full outer join ------------------------------------------------
    "q07_full_outer_nation" -> Q(
      (s, dir) => {
        val sup = t(s, dir, "supplier").groupBy(col("s_nationkey"))
          .agg(count(lit(1)).as("n_suppliers"), Det.moneySum(col("s_acctbal")).as("s_bal"))
        val cus = t(s, dir, "customer").groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n_customers"), Det.moneySum(col("c_acctbal")).as("c_bal"))
        sup.join(cus, sup("s_nationkey") === cus("c_nationkey"), "full_outer")
          .select(
            coalesce(col("s_nationkey"), col("c_nationkey")).as("nationkey"),
            col("n_suppliers"), col("s_bal"), col("n_customers"), col("c_bal"))
          .orderBy("nationkey")
      },
      Some(s"""SELECT COALESCE(s.s_nationkey, c.c_nationkey) AS nationkey,
        n_suppliers, s_bal, n_customers, c_bal
        FROM (SELECT s_nationkey, COUNT(*) AS n_suppliers, ${Det.sqlMoneySum("s_acctbal")} AS s_bal
              FROM supplier GROUP BY s_nationkey) s
        FULL OUTER JOIN
             (SELECT c_nationkey, COUNT(*) AS n_customers, ${Det.sqlMoneySum("c_acctbal")} AS c_bal
              FROM customer GROUP BY c_nationkey) c
        ON s.s_nationkey = c.c_nationkey
        ORDER BY nationkey""")),

    // ---- distinct aggregates -------------------------------------------
    "q08_distinct_agg" -> Q(
      (s, dir) => {
        t(s, dir, "customer").groupBy(col("c_mktsegment"))
          .agg(
            count(lit(1)).as("n_customers"),
            countDistinct(col("c_nationkey")).as("n_nations"),
            Det.moneySum(col("c_acctbal")).as("total_bal"),
            Det.moneyAvg(col("c_acctbal")).as("avg_bal"))
          .orderBy("c_mktsegment")
      },
      Some(s"""SELECT c_mktsegment, COUNT(*) AS n_customers,
        COUNT(DISTINCT c_nationkey) AS n_nations,
        ${Det.sqlMoneySum("c_acctbal")} AS total_bal,
        ${Det.sqlMoneyAvg("c_acctbal")} AS avg_bal
        FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // ---- rollup + grouping id ------------------------------------------
    "q09_rollup_revenue" -> Q(
      (s, dir) => {
        val r = t(s, dir, "region"); val n = t(s, dir, "nation")
        val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
        // two-level: aggregate to (region, nation) grain first — no Expand
        // over the fact rows — then rollup the |nations|-row result (q10's
        // rewrite; values identical, decimal re-fold exact)
        val finest = o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(Det.moneySumExact(col("o_totalprice")).as("fr"), count(lit(1)).as("fn"))
        finest
          .rollup(col("r_name"), col("n_name"))
          .agg(Det.refoldMoney(col("fr")).as("revenue"), sum(col("fn")).as("n_orders"),
               grouping_id().cast("long").as("gid"))
          .orderBy(col("gid"), col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
      },
      Some(s"""SELECT r_name, n_name, ${Det.sqlMoneySum("o_totalprice")} AS revenue,
        COUNT(*) AS n_orders, CAST(GROUPING(r_name, n_name) AS BIGINT) AS gid
        FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP(r_name, n_name)
        ORDER BY gid, r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""")),

    // ---- cube -----------------------------------------------------------
    // Two-level aggregate: the naive `cube` over raw lineitem plants an
    // Expand that multiplies EVERY fact row by the grouping-set count (4)
    // before the partial aggregate — at 100 TB that's 4× the scan volume
    // into the shuffle. Aggregating to the finest grain FIRST (plain
    // partial+final, no Expand), then cubing the |flags × statuses| ≈ 6
    // result rows, computes identical values (counts and decimal sums
    // re-fold exactly) with the Expand demoted to a 6-row input.
    // PlanShapeSpec gates Expand-above-Aggregate.
    "q10_cube_counts" -> Q(
      (s, dir) => {
        val finest = t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("fn"), Det.moneySumExact(col("l_quantity")).as("fq"))
        finest
          .cube(col("l_returnflag"), col("l_linestatus"))
          .agg(sum(col("fn")).as("n"), Det.refoldMoney(col("fq")).as("sum_qty"),
               grouping_id().cast("long").as("gid"))
          .orderBy(col("gid"), col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
      },
      Some(s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        ${Det.sqlMoneySum("l_quantity")} AS sum_qty,
        CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")),

    // ---- ranking window functions --------------------------------------
    "q11_window_rank" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("c_nationkey"))
          .orderBy(col("c_acctbal").desc, col("c_custkey"))
        t(s, dir, "customer")
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("rnk", rank().over(w).cast("long"))
          .withColumn("drnk", dense_rank().over(w).cast("long"))
          .filter(col("rn") <= 3)
          .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
                  col("rn"), col("rnk"), col("drnk"))
          .orderBy("c_nationkey", "rn")
      },
      Some("""SELECT c_nationkey, c_custkey, c_acctbal, rn, rnk, drnk FROM (
          SELECT c_nationkey, c_custkey, c_acctbal,
            ROW_NUMBER() OVER w AS rn, RANK() OVER w AS rnk, DENSE_RANK() OVER w AS drnk
          FROM customer WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey))
        WHERE rn <= 3 ORDER BY c_nationkey, rn""")),

    // ---- running aggregates + lag --------------------------------------
    "q12_window_running" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
        t(s, dir, "orders")
          .withColumn("run_cnt", count(lit(1)).over(w).cast("long"))
          .withColumn("run_spend",
            sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
              .over(w).cast("double"))
          .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
                  col("run_cnt"), col("run_spend"), col("prev_price"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice,
          COUNT(*) OVER w AS run_cnt,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS run_spend,
          LAG(o_totalprice, 1) OVER w AS prev_price
        FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        ORDER BY o_custkey, o_orderkey""")),

    // ---- RANGE window frame: rolling 30-day activity per customer -------
    "q47_window_range" -> Q(
      (s, dir) => {
        val days = datediff(to_date(col("o_orderdate")), to_date(lit("1995-01-01"))).cast("long")
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
          .rangeBetween(-30, Window.currentRow)
        t(s, dir, "orders")
          .withColumn("day", days)
          .withColumn("n_30d", count(lit(1)).over(w).cast("long"))
          .withColumn("spend_30d",
            sum(Det.money(col("o_totalprice"))).over(w).cast("double"))
          .select(col("o_custkey"), col("o_orderkey"), col("day"),
            col("n_30d"), col("spend_30d"))
          .orderBy("o_custkey", "day", "o_orderkey")
      },
      Some(s"""SELECT o_custkey, o_orderkey, day, n_30d, spend_30d FROM (
          SELECT o_custkey, o_orderkey,
            CAST(DATE_DIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
            COUNT(*) OVER w AS n_30d,
            CAST(SUM(${Det.sqlMoney("o_totalprice")}) OVER w AS DOUBLE) AS spend_30d
          FROM orders
          WINDOW w AS (PARTITION BY o_custkey
            ORDER BY CAST(DATE_DIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
            RANGE BETWEEN 30 PRECEDING AND CURRENT ROW))
        ORDER BY o_custkey, day, o_orderkey""")),

    // ---- window navigation: ntile / first / last / nth -------------------
    "q48_window_navigation" -> Q(
      (s, dir) => {
        val order = Window.partitionBy(col("c_nationkey"))
          .orderBy(col("c_acctbal").desc, col("c_custkey"))
        val full = order.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        t(s, dir, "customer")
          .withColumn("quartile", ntile(4).over(order).cast("long"))
          .withColumn("richest", first(col("c_custkey")).over(full))
          .withColumn("poorest", last(col("c_custkey")).over(full))
          .withColumn("second", nth_value(col("c_custkey"), 2).over(full))
          .select(col("c_nationkey"), col("c_custkey"), col("quartile"),
            col("richest"), col("poorest"), col("second"))
          .orderBy("c_nationkey", "c_custkey")
      },
      Some("""SELECT c_nationkey, c_custkey, CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
          FIRST_VALUE(c_custkey) OVER wf AS richest,
          LAST_VALUE(c_custkey) OVER wf AS poorest,
          NTH_VALUE(c_custkey, 2) OVER wf AS second
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey),
          wf AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        ORDER BY c_nationkey, c_custkey""")),

    // ---- set operations -------------------------------------------------
    "q13_set_ops" -> Q(
      (s, dir) => {
        import s.implicits._
        val cn = t(s, dir, "customer").select(col("c_nationkey").as("k")).distinct()
        val sn = t(s, dir, "supplier").select(col("s_nationkey").as("k")).distinct()
        val both = cn.intersect(sn).withColumn("tag", lit("both"))
        val cOnly = cn.except(sn).withColumn("tag", lit("c_only"))
        val sOnly = sn.except(cn).withColumn("tag", lit("s_only"))
        both.unionByName(cOnly).unionByName(sOnly)
          .select($"tag", $"k").orderBy("tag", "k")
      },
      Some("""SELECT 'both' AS tag, k FROM (
            SELECT DISTINCT c_nationkey AS k FROM customer
            INTERSECT SELECT DISTINCT s_nationkey AS k FROM supplier)
          UNION ALL SELECT 'c_only' AS tag, k FROM (
            SELECT DISTINCT c_nationkey AS k FROM customer
            EXCEPT SELECT DISTINCT s_nationkey AS k FROM supplier)
          UNION ALL SELECT 's_only' AS tag, k FROM (
            SELECT DISTINCT s_nationkey AS k FROM supplier
            EXCEPT SELECT DISTINCT c_nationkey AS k FROM customer)
          ORDER BY tag, k""")),

    // ---- multiset set operations (ALL variants) --------------------------
    "q44_set_ops_all" -> Q(
      (s, dir) => {
        import s.implicits._
        // nation-key multisets: customers vs suppliers per nation, WITH
        // multiplicity — intersectAll/exceptAll keep duplicate cardinality.
        val cn = t(s, dir, "customer").select(col("c_nationkey").cast("int").as("k"))
        val sn = t(s, dir, "supplier").select(col("s_nationkey").cast("int").as("k"))
        val inter = cn.intersectAll(sn).groupBy("k").agg(count(lit(1)).as("n"))
          .withColumn("op", lit("intersect_all"))
        val exc = cn.exceptAll(sn).groupBy("k").agg(count(lit(1)).as("n"))
          .withColumn("op", lit("except_all"))
        inter.unionByName(exc).select($"op", $"k", $"n").orderBy("op", "k")
      },
      Some("""SELECT 'intersect_all' AS op, k, COUNT(*) AS n FROM (
            SELECT c_nationkey AS k FROM customer
            INTERSECT ALL SELECT s_nationkey AS k FROM supplier) GROUP BY k
          UNION ALL
          SELECT 'except_all' AS op, k, COUNT(*) AS n FROM (
            SELECT c_nationkey AS k FROM customer
            EXCEPT ALL SELECT s_nationkey AS k FROM supplier) GROUP BY k
          ORDER BY op, k""")),

    // ---- explicit GROUPING SETS via the SQL surface -----------------------
    "q45_grouping_sets" -> Q(
      (s, dir) => {
        t(s, dir, "lineitem").createOrReplaceTempView("lineitem_gs")
        // two-level (q10's rewrite), kept on the SQL surface: the inner
        // aggregate reaches the finest grain without an Expand; the
        // grouping-set Expand runs over its ~6 rows
        s.sql(s"""SELECT l_returnflag, l_linestatus,
            SUM(fn) AS n,
            CAST(SUM(fq) AS DOUBLE) AS sum_qty,
            CAST(GROUPING_ID(l_returnflag, l_linestatus) AS BIGINT) AS gid
          FROM (SELECT l_returnflag, l_linestatus, COUNT(*) AS fn,
                  SUM(CAST(l_quantity AS DECIMAL(12,2))) AS fq
                FROM lineitem_gs GROUP BY l_returnflag, l_linestatus)
          GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
          ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")
      },
      Some(s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
          ${Det.sqlMoneySum("l_quantity")} AS sum_qty,
          CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")),

    // ---- string functions ----------------------------------------------
    "q14_string_funcs" -> Q(
      (s, dir) => {
        t(s, dir, "part").select(
            col("p_partkey"),
            length(col("p_name")).cast("long").as("name_len"),
            upper(substring(col("p_name"), 1, 8)).as("name_prefix"),
            regexp_extract(col("p_brand"), "Brand#(\\d+)", 1).cast("long").as("brand_num"),
            element_at(split(col("p_type"), " "), 1).as("type_first"),
            concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"))
          .orderBy("p_partkey")
      },
      Some("""SELECT p_partkey,
          CAST(LENGTH(p_name) AS BIGINT) AS name_len,
          UPPER(SUBSTRING(p_name, 1, 8)) AS name_prefix,
          CAST(REGEXP_EXTRACT(p_brand, 'Brand#(\d+)', 1) AS BIGINT) AS brand_num,
          SPLIT_PART(p_type, ' ', 1) AS type_first,
          CONCAT_WS('-', p_brand, p_type) AS brand_type
        FROM part ORDER BY p_partkey""")),

    // ---- date/time functions -------------------------------------------
    "q15_date_funcs" -> Q(
      (s, dir) => {
        t(s, dir, "orders")
          .groupBy(year(col("o_orderdate")).cast("long").as("order_year"))
          .agg(
            count(lit(1)).as("n_orders"),
            Det.moneySum(col("o_totalprice")).as("total"),
            max(datediff(to_date(col("o_orderdate")), to_date(lit("1995-01-01"))))
              .cast("long").as("max_days_since_epoch"),
            min(date_format(col("o_orderdate"), "yyyy-MM-dd")).as("first_day"))
          .orderBy("order_year")
      },
      Some(s"""SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS order_year,
          COUNT(*) AS n_orders, ${Det.sqlMoneySum("o_totalprice")} AS total,
          CAST(MAX(DATE_DIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))) AS BIGINT) AS max_days_since_epoch,
          MIN(STRFTIME(o_orderdate, '%Y-%m-%d')) AS first_day
        FROM orders GROUP BY 1 ORDER BY order_year""")),

    // ---- JSON + CASE/COALESCE ------------------------------------------
    "q16_json_case" -> Q(
      (s, dir) => {
        t(s, dir, "events")
          .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
          .withColumn("kind",
            when(col("event_type").isin("purchase", "signup"), lit("conversion"))
              .when(col("event_type") === "error", lit("failure"))
              .otherwise(lit("engagement")))
          .groupBy(col("kind"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("k")).as("sum_k"),
            Det.moneySum(col("value")).as("total_value"))
          .orderBy("kind")
      },
      Some(s"""SELECT kind, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS sum_k,
          ${Det.sqlMoneySum("value")} AS total_value
        FROM (SELECT CAST(props->>'k' AS BIGINT) AS k,
            CASE WHEN event_type IN ('purchase','signup') THEN 'conversion'
                 WHEN event_type = 'error' THEN 'failure'
                 ELSE 'engagement' END AS kind, value
          FROM events)
        GROUP BY kind ORDER BY kind""")),

    // ---- event-time tumbling window (batch twin of the streaming op) ---
    "q17_events_hourly" -> Q(
      (s, dir) => {
        t(s, dir, "events")
          .groupBy(
            date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH").as("hour"),
            col("event_type"))
          .agg(count(lit(1)).as("n"), Det.moneySum(col("value")).as("total_value"))
          .orderBy("hour", "event_type")
      },
      Some(s"""SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H') AS hour, event_type,
          COUNT(*) AS n, ${Det.sqlMoneySum("value")} AS total_value
        FROM events GROUP BY 1, 2 ORDER BY hour, event_type""")),

    // ---- sessionization (gap > 30 min ends a session) ------------------
    "q18_sessionize" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "events")
          .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
          .withColumn("new_sess",
            when(col("prev_us").isNull ||
                 unix_micros(col("ts")) - col("prev_us") > 1800000000L, 1L).otherwise(0L))
          .withColumn("sess_id", sum(col("new_sess")).over(run))
          .groupBy(col("user_id"))
          .agg(max(col("sess_id")).as("n_sessions"), count(lit(1)).as("n_events"))
          .orderBy("user_id")
      },
      Some("""WITH g AS (SELECT user_id, ts, event_id,
            CASE WHEN LAG(epoch_us(ts), 1) OVER w IS NULL
                   OR epoch_us(ts) - LAG(epoch_us(ts), 1) OVER w > 1800000000
                 THEN 1 ELSE 0 END AS new_sess
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        t AS (SELECT user_id,
            SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
          FROM g)
        SELECT user_id, CAST(MAX(sess_id) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
        FROM t GROUP BY user_id ORDER BY user_id""")),

    // ---- scalar subquery via broadcast join ----------------------------
    "q19_above_avg_orders" -> Q(
      (s, dir) => {
        val o = t(s, dir, "orders")
        val thr = o.agg(Det.moneyAvg(col("o_totalprice")).as("thr"))
        o.join(broadcast(thr))
          .filter(col("o_totalprice") > col("thr"))
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), Det.moneySum(col("o_totalprice")).as("total"))
          .orderBy("o_orderstatus")
      },
      Some(s"""SELECT o_orderstatus, COUNT(*) AS n, ${Det.sqlMoneySum("o_totalprice")} AS total
        FROM orders
        WHERE o_totalprice > (SELECT ${Det.sqlMoneyAvg("o_totalprice")} FROM orders)
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // ---- 6-way join: regional supplier volume (TPC-H Q5 shape) ----------
    "q35_regional_volume" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val o = t(s, dir, "orders")
          .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
                  col("o_orderdate") < to_timestamp(lit("1997-01-01 00:00:00")))
        val c = t(s, dir, "customer")
        val sup = t(s, dir, "supplier")
        val n = t(s, dir, "nation")
        val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
        // lineitem is the fact side; everything else broadcasts inward.
        // Q5's signature constraint: supplier and customer in the SAME nation.
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(Det.sumD(Det.money(col("l_extendedprice")) * Det.oneMinus(col("l_discount"))).as("revenue"),
               count(lit(1)).as("n_items"))
          .orderBy(desc("revenue"), col("n_name"))
      },
      Some(s"""SELECT n_name,
          ${Det.sqlSumD(Det.sqlMoney("l_extendedprice") + " * " + Det.sqlOneMinus("l_discount"))} AS revenue,
          COUNT(*) AS n_items
        FROM lineitem, orders, customer, supplier, nation, region
        WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
          AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY n_name ORDER BY revenue DESC, n_name""")),

    // ---- returned-item report (TPC-H Q10 shape) --------------------------
    "q36_returned_items" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        val n = t(s, dir, "nation")
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
          .agg(Det.sumD(Det.money(col("l_extendedprice")) * Det.oneMinus(col("l_discount"))).as("revenue"))
          .orderBy(desc("revenue"), col("c_custkey"))
          .limit(20)
      },
      Some(s"""SELECT c_custkey, c_name, n_name,
          ${Det.sqlSumD(Det.sqlMoney("l_extendedprice") + " * " + Det.sqlOneMinus("l_discount"))} AS revenue
        FROM lineitem, orders, customer, nation
        WHERE l_returnflag = 'R' AND l_orderkey = o_orderkey
          AND o_custkey = c_custkey AND c_nationkey = n_nationkey
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey LIMIT 20""")),

    // ---- conditional aggregation: promo revenue share (Q14 shape) --------
    "q37_promo_share" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= to_timestamp(lit("1996-06-01 00:00:00")) &&
                  col("l_shipdate") < to_timestamp(lit("1996-09-01 00:00:00")))
        val p = t(s, dir, "part")
        val net = Det.money(col("l_extendedprice")) * Det.oneMinus(col("l_discount"))
        li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .agg(
            Det.sumD(when(col("p_type").startsWith("PROMO"), net)
              .otherwise(lit(0).cast(Det.Money))).as("promo_revenue"),
            Det.sumD(net).as("total_revenue"),
            count(lit(1)).as("n_items"))
          .withColumn("promo_share", col("promo_revenue") / col("total_revenue"))
      },
      Some(s"""SELECT
          ${Det.sqlSumD(s"CASE WHEN p_type LIKE 'PROMO%' THEN ${Det.sqlMoney("l_extendedprice")} * ${Det.sqlOneMinus("l_discount")} ELSE CAST(0 AS DECIMAL(12,2)) END")} AS promo_revenue,
          ${Det.sqlSumD(Det.sqlMoney("l_extendedprice") + " * " + Det.sqlOneMinus("l_discount"))} AS total_revenue,
          COUNT(*) AS n_items,
          ${Det.sqlSumD(s"CASE WHEN p_type LIKE 'PROMO%' THEN ${Det.sqlMoney("l_extendedprice")} * ${Det.sqlOneMinus("l_discount")} ELSE CAST(0 AS DECIMAL(12,2)) END")}
            / ${Det.sqlSumD(Det.sqlMoney("l_extendedprice") + " * " + Det.sqlOneMinus("l_discount"))} AS promo_share
        FROM lineitem, part
        WHERE l_partkey = p_partkey
          AND l_shipdate >= TIMESTAMP '1996-06-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-09-01 00:00:00'""")),

    // ---- correlated subquery: customers above their nation's average ----
    "q38_above_nation_avg" -> Q(
      (s, dir) => {
        // decorrelated as a window: one pass, no per-row subquery.
        val w = org.apache.spark.sql.expressions.Window.partitionBy("c_nationkey")
        t(s, dir, "customer")
          .withColumn("nation_avg",
            sum(Det.money(col("c_acctbal"))).over(w).cast("double") /
              count(col("c_acctbal")).over(w))
          .filter(col("c_acctbal") > col("nation_avg"))
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n_above"),
               Det.moneySum(col("c_acctbal")).as("total_above"))
          .orderBy("c_nationkey")
      },
      Some(s"""SELECT c_nationkey, COUNT(*) AS n_above,
          ${Det.sqlMoneySum("c_acctbal")} AS total_above
        FROM customer c1
        WHERE c_acctbal > (
          SELECT ${Det.sqlSumD(Det.sqlMoney("c_acctbal"))} / COUNT(c_acctbal)
          FROM customer c2 WHERE c2.c_nationkey = c1.c_nationkey)
        GROUP BY c_nationkey ORDER BY c_nationkey""")),

    // ---- static pivot: order counts by status x priority ----------------
    "q39_pivot_status" -> Q(
      (s, dir) => {
        t(s, dir, "orders")
          .groupBy(col("o_orderpriority"))
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(count(lit(1)))
          .na.fill(0L)
          .select(col("o_orderpriority"), col("F").as("n_f"),
            col("O").as("n_o"), col("P").as("n_p"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority,
          CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_f,
          CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_o,
          CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_p
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ---- as-of (point-in-time) join --------------------------------------
    // For each event, the user's most recent order at or before the event.
    // Spark has no native as-of operator; ours is composed from built-ins
    // (operators.AsOfJoin) and checked against DuckDB's native ASOF JOIN.
    "q49_asof_join" -> Q(
      (s, dir) => {
        val e = t(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
        val od = t(s, dir, "orders")
          .groupBy(col("o_custkey"), col("o_orderdate"))
          .agg(max(col("o_orderkey")).as("o_orderkey"))
        graft.operators.AsOfJoin.asOf(
            e, "user_id", "ts", od, "o_custkey", "o_orderdate", Seq("o_orderkey"))
          .select(col("event_id"), col("o_orderkey"))
          .orderBy("event_id")
      },
      Some("""WITH od AS (SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
                FROM orders GROUP BY o_custkey, o_orderdate)
        SELECT e.event_id, od.o_orderkey
        FROM events e ASOF LEFT JOIN od
          ON e.user_id = od.o_custkey AND e.ts >= od.o_orderdate
        ORDER BY event_id""")),

    // ---- banded range join: follow-up events within 30 min, per event ----
    "q50_range_join" -> Q(
      (s, dir) => {
        val e = t(s, dir, "events").select(col("user_id"), col("ts"), col("event_id"))
        val follow = e.select(col("user_id").as("u2"), col("ts").as("ts2"),
          col("event_id").as("follow_id"))
        graft.operators.RangeJoin.within(e, "user_id", "ts", follow, "u2", "ts2", 1800L)
          .groupBy(col("event_id"))
          .agg(count(lit(1)).as("n_follow"), max(col("follow_id")).as("last_follow"))
          .orderBy("event_id")
      },
      Some("""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events)
        SELECT a.event_id, COUNT(*) AS n_follow, MAX(b.event_id) AS last_follow
        FROM e a JOIN e b
          ON a.user_id = b.user_id
         AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
        GROUP BY a.event_id ORDER BY a.event_id""")),

    // ---- approximate aggregates (HLL / quantile sketches) ---------------
    // No oracle: sketch algorithms differ engine-to-engine by design, so
    // the driver records the rows-only check. Exact twins of these
    // aggregates are oracle-checked in q08 (countDistinct).
    "q33_approx_stats" -> Q(
      (s, dir) => {
        // exact_parts/min/max are deterministic anchors next to the
        // sketch outputs: the rows-only driver check can't gate values,
        // but the cells artifact makes sketch drift and data drift
        // distinguishable round-over-round.
        //
        // The sketches and the exact distinct count are SEPARATE
        // aggregations joined on the 3-row group key: mixing them in one
        // agg makes Spark's single-distinct rewrite key the partial
        // aggregate by (l_returnflag, l_partkey), which builds an HLL++
        // register array + percentile buffer PER DISTINCT PARTKEY
        // (~200k sketch objects at sf0.1, ~20M at 100 TB) and merges
        // them — measured 92 s of CPU in the partial stage for a 600k-row
        // scan. Split, the sketch agg streams into 3 group buffers and
        // the distinct count is a narrow two-column hash aggregate; the
        // join is 3 rows. HLL registers are max-merged, so approx_parts
        // is unchanged; median_price stays a valid eps-approximation
        // (QuantileSummaries merge topology shifts — rows-only query).
        val li = t(s, dir, "lineitem")
          .select("l_returnflag", "l_partkey", "l_extendedprice")
        val sketches = li.groupBy(col("l_returnflag"))
          .agg(
            approx_count_distinct(col("l_partkey")).as("approx_parts"),
            percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("median_price"),
            count(lit(1)).as("n"),
            min(col("l_extendedprice")).as("min_price"),
            max(col("l_extendedprice")).as("max_price"))
        val exact = li.groupBy(col("l_returnflag"))
          .agg(countDistinct(col("l_partkey")).as("exact_parts"))
        sketches.join(exact, Seq("l_returnflag"))
          .select(col("l_returnflag"), col("approx_parts"), col("median_price"),
            col("n"), col("exact_parts"), col("min_price"), col("max_price"))
          .orderBy("l_returnflag")
      },
      None),

    // ---- exact quantiles: the hash-gated companion to q33 ---------------
    // q33's sketches (HLL, KLL-style percentile_approx) are the 100 TB
    // path but not cross-engine reproducible; this twin computes the SAME
    // stats exactly so the sketch query has an oracle-checked companion.
    // Quantiles are positional (value at ceil(q·n), no interpolation
    // arithmetic), so both engines pick identical stored doubles.
    //
    // Scale shape (count-based, NOT row_number-based): the base table is
    // reduced FIRST to per-(group, value) counts — a hash aggregate with
    // map-side partial agg across all shuffle partitions — and only the
    // distinct-value table flows into the per-group ordered window. The
    // quantile at rank r is the smallest value whose running count
    // reaches r. A row_number formulation would instead sort the ENTIRE
    // table in as many reducers as there are groups (3 here) — the exact
    // sort that dies at 100 TB. Now the per-group sort is bounded by the
    // value domain, not the row count (plan-gated in PlanShapeSpec: no
    // window runs over un-aggregated base rows).
    //
    // Honest local-fixture cost: sf0.1 prices are nearly all DISTINCT, so
    // the pre-aggregate barely reduces and this runs ~2x the row_number
    // form (1.2s -> 3.3s at sf0.1). That is the right trade: the count
    // table grows with the VALUE DOMAIN (prices — bounded) while the
    // row_number sort grows with the data; at production scale d << n and
    // the 3-reducer full sort is the one that cannot finish.
    "q52_exact_quantiles" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_partkey"), col("l_extendedprice"))
        // data-sized work ends here: two parallel hash aggregates
        val vc = li.groupBy(col("l_returnflag"), col("l_extendedprice"))
          .agg(count(lit(1)).as("cnt"))
        val parts = li.groupBy("l_returnflag")
          .agg(countDistinct(col("l_partkey")).as("n_parts"),
            count(lit(1)).as("nn"))
        // distinct-value table: ONE ordered window for the running count;
        // the group total rides in on a broadcast join from the `parts`
        // aggregate instead of a second whole-partition Window pass
        val wRun = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = vc
          .withColumn("cum", sum(col("cnt")).over(wRun))
          .join(broadcast(parts.select(col("l_returnflag"), col("nn"))),
            Seq("l_returnflag"))
        cum.groupBy("l_returnflag")
          .agg(
            min(when(col("cum") >= ceil(col("nn") * lit(0.25)), col("l_extendedprice"))).as("p25_price"),
            min(when(col("cum") >= ceil(col("nn") * lit(0.5)), col("l_extendedprice"))).as("median_price"),
            min(when(col("cum") >= ceil(col("nn") * lit(0.75)), col("l_extendedprice"))).as("p75_price"),
            sum(col("cnt")).as("n"))
          .join(parts, Seq("l_returnflag"))
          .select(col("l_returnflag"), col("n_parts"), col("p25_price"),
            col("median_price"), col("p75_price"), col("n"))
          .orderBy("l_returnflag")
      },
      Some("""WITH r AS (SELECT l_returnflag, l_partkey, l_extendedprice,
            ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
            COUNT(*) OVER (PARTITION BY l_returnflag) AS nn
          FROM lineitem)
        SELECT l_returnflag,
          COUNT(DISTINCT l_partkey) AS n_parts,
          MAX(CASE WHEN rn = CAST(CEIL(nn * 0.25) AS BIGINT) THEN l_extendedprice END) AS p25_price,
          MAX(CASE WHEN rn = CAST(CEIL(nn * 0.5) AS BIGINT) THEN l_extendedprice END) AS median_price,
          MAX(CASE WHEN rn = CAST(CEIL(nn * 0.75) AS BIGINT) THEN l_extendedprice END) AS p75_price,
          COUNT(*) AS n
        FROM r GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- time-series gap fill (resample to a dense hourly grid) ---------
    // Monitoring/forecasting inputs need DENSE series; a groupBy only
    // emits observed buckets. Per event type, generate the full hourly
    // span between its first and last event and left-join the counts,
    // zero-filling gaps. Scale shape: the generated grid is
    // types × span-hours (tiny next to the event table), the only
    // data-sized shuffle is the original count aggregate, and the span
    // bounds come from the same pre-aggregated counts — no second scan.
    "q55_gapfill_hourly" -> Q(
      (s, dir) => {
        val counts = t(s, dir, "events")
          .select(col("event_type"), date_trunc("hour", col("ts")).as("h"))
          .groupBy("event_type", "h").agg(count(lit(1)).as("n"))
        val hours = counts.groupBy("event_type")
          .agg(min("h").as("h0"), max("h").as("h1"))
          .select(col("event_type"),
            explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("h"))
        hours.join(counts, Seq("event_type", "h"), "left")
          .select(col("event_type"),
            date_format(col("h"), "yyyy-MM-dd HH").as("hour"),
            coalesce(col("n"), lit(0L)).as("n"))
          .orderBy("event_type", "hour")
      },
      Some("""WITH c AS (SELECT event_type, DATE_TRUNC('hour', ts) AS h, COUNT(*) AS n
              FROM events GROUP BY 1, 2),
        sp AS (SELECT event_type, MIN(h) AS h0, MAX(h) AS h1 FROM c GROUP BY 1),
        hrs AS (SELECT event_type, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM sp)
        SELECT hrs.event_type AS event_type, STRFTIME(hrs.h, '%Y-%m-%d %H') AS hour,
          COALESCE(c.n, 0) AS n
        FROM hrs LEFT JOIN c ON c.event_type = hrs.event_type AND c.h = hrs.h
        ORDER BY hrs.event_type, hour""")),

    // ---- gap fill + forward fill (LOCF) ----------------------------------
    // The companion to q55: hours with no events carry the LAST observed
    // hourly revenue forward (last-observation-carried-forward — the
    // standard imputation for monitoring series). Revenue is a decimal
    // money sum, so the carried values are exact and the fill is
    // hash-checkable; the window is one pass over the dense grid, ordered
    // within each (bounded-cardinality) event type.
    "q59_gapfill_locf" -> Q(
      (s, dir) => {
        val rev = t(s, dir, "events")
          .select(col("event_type"), date_trunc("hour", col("ts")).as("h"),
            col("value"))
          .groupBy("event_type", "h").agg(Det.moneySum(col("value")).as("rev"))
        val grid = rev.groupBy("event_type")
          .agg(min("h").as("h0"), max("h").as("h1"))
          .select(col("event_type"),
            explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("h"))
        val w = Window.partitionBy("event_type").orderBy("h")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid.join(rev, Seq("event_type", "h"), "left")
          .withColumn("rev_filled", last(col("rev"), ignoreNulls = true).over(w))
          .select(col("event_type"),
            date_format(col("h"), "yyyy-MM-dd HH").as("hour"),
            col("rev").isNotNull.as("observed"),
            col("rev_filled"))
          .orderBy("event_type", "hour")
      },
      Some(s"""WITH rv AS (SELECT event_type, DATE_TRUNC('hour', ts) AS h,
              ${Det.sqlMoneySum("value")} AS rev
            FROM events GROUP BY 1, 2),
        sp AS (SELECT event_type, MIN(h) AS h0, MAX(h) AS h1 FROM rv GROUP BY 1),
        hrs AS (SELECT event_type, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM sp)
        SELECT hrs.event_type AS event_type, STRFTIME(hrs.h, '%Y-%m-%d %H') AS hour,
          rv.rev IS NOT NULL AS observed,
          LAST_VALUE(rv.rev IGNORE NULLS) OVER (
            PARTITION BY hrs.event_type ORDER BY hrs.h
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rev_filled
        FROM hrs LEFT JOIN rv ON rv.event_type = hrs.event_type AND rv.h = hrs.h
        ORDER BY hrs.event_type, hour""")),

    // ---- correlated LATERAL join: top-N per key without a window --------
    // The lateral form evaluates the subquery per outer row — Catalyst
    // decorrelates it into a ranked join, so the declared shape is
    // per-row but the physical plan is set-oriented (no N+1 scans).
    //
    // Constraint propagation is MANUAL here: DecorrelateInnerQuery joins
    // the ranked inner relation to the outer side but does not push the
    // outer predicate (c_custkey <= 100) through the equality into the
    // inner scan — without help the WindowGroupLimit ranks EVERY
    // customer's orders and the join then throws 99.99% of that work away
    // at 100 TB. Stating the transitive predicate (o_custkey <= 100)
    // inside the lateral puts the filter below the ranking AND into the
    // parquet scan (PushedFilters — plan-gated in PlanShapeSpec). For a
    // non-literal outer filter, the same effect needs a semi-join
    // pre-filter of orders against the filtered customers.
    "q58_lateral_topn" -> Q(
      (s, dir) => {
        Tables.load(s, dir, "customer").createOrReplaceTempView("customer")
        Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
        s.sql("""
          SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
          FROM customer c, LATERAL (
            SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_custkey = c.c_custkey AND o_custkey <= 100
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
          WHERE c.c_custkey <= 100
          ORDER BY c_custkey, o_totalprice DESC, o_orderkey""")
      },
      Some("""SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
        FROM customer c, LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE o_custkey = c.c_custkey AND o_custkey <= 100
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
        WHERE c.c_custkey <= 100
        ORDER BY c_custkey, o_totalprice DESC, o_orderkey""")),

    // ---- array functions over embeddings --------------------------------
    "q20_array_funcs" -> Q(
      (s, dir) => {
        t(s, dir, "embeddings").select(
            col("vec_id"),
            size(col("embedding")).cast("long").as("n_dims"),
            element_at(col("embedding"), 1).as("first_val"),
            size(filter(col("embedding"), x => x > lit(0.0f))).cast("long").as("n_pos"),
            col("label"))
          .orderBy("vec_id")
      },
      Some("""SELECT vec_id, CAST(LEN(embedding) AS BIGINT) AS n_dims,
          embedding[1] AS first_val,
          CAST(LEN(LIST_FILTER(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
          label
        FROM embeddings ORDER BY vec_id""")),

    // ---- click→purchase attribution (interval join) ---------------------
    // Batch twin of the stream-stream within-watermark join
    // [[graft.streaming.EventStreams.attributedPurchases]] — identical
    // plan shape on batch input, so the oracle gate covers the join
    // semantics the streaming spec can only sample. Timestamps leave as
    // formatted strings per the module convention.
    "q70_attribution" -> Q(
      (s, dir) => {
        val f = "yyyy-MM-dd HH:mm:ss"
        graft.streaming.EventStreams.attributedPurchases(t(s, dir, "events"))
          .select(col("user_id"), col("purchase_id"), col("click_id"),
            date_format(col("purchase_ts"), f).as("purchase_at"),
            date_format(col("click_ts"), f).as("click_at"),
            col("value"))
          .orderBy("user_id", "purchase_id", "click_id")
      },
      Some("""SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
          STRFTIME(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_at,
          STRFTIME(c.ts, '%Y-%m-%d %H:%M:%S') AS click_at,
          p.value
        FROM events p JOIN events c
          ON c.user_id = p.user_id
          AND p.event_type = 'purchase' AND c.event_type = 'click'
          AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
        ORDER BY p.user_id, purchase_id, click_id""")),

    // ---- retention cohorts ----------------------------------------------
    // Users bucketed by first-event week; for each (cohort, week offset),
    // how many are still active — the standard retention triangle. Pure
    // date/integer arithmetic (week starts are Monday in both engines,
    // datediff of DATEs is exact), so the matrix hash-matches. Two
    // aggregates shuffling on user_id, then a distinct count per
    // (cohort, offset) — partial aggregation carries (cohort, offset,
    // user) triples, bounded by active users per week.
    "q80_retention_cohorts" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("week"))
        val cohort = ev.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
        ev.distinct().join(cohort, "user_id")
          .select(date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort"),
            (datediff(col("week"), col("cohort_week")) / lit(7)).cast("long")
              .as("week_offset"),
            col("user_id"))
          .groupBy("cohort", "week_offset")
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy("cohort", "week_offset")
      },
      Some("""WITH w AS (SELECT DISTINCT user_id,
            CAST(DATE_TRUNC('week', ts) AS DATE) AS week FROM events),
        c AS (SELECT user_id, MIN(week) AS cohort_week FROM w GROUP BY user_id)
        SELECT STRFTIME(c.cohort_week, '%Y-%m-%d') AS cohort,
          CAST(DATE_DIFF('day', c.cohort_week, w.week) // 7 AS BIGINT) AS week_offset,
          COUNT(DISTINCT w.user_id) AS n_users
        FROM w JOIN c USING (user_id)
        GROUP BY 1, 2 ORDER BY cohort, week_offset""")),

    // ---- ordered event funnel -------------------------------------------
    // signup → click → purchase completed IN ORDER per user: stage k's
    // timestamp is the earliest qualifying event at or after stage k-1's.
    // (A user who purchased before ever clicking does not count as a
    // purchase-stage completion — that ordering is what plain per-type
    // counts get wrong.) Cascaded conditional mins: each stage is one
    // user-keyed aggregate joined forward; counts are exact integers.
    "q81_event_funnel" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("user_id"), col("event_type"), col("ts"))
        val s1 = ev.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min(col("ts")).as("t1"))
        val s2 = ev.filter(col("event_type") === "click").join(s1, "user_id")
          .filter(col("ts") >= col("t1"))
          .groupBy("user_id").agg(min(col("ts")).as("t2"))
        val s3 = ev.filter(col("event_type") === "purchase").join(s2, "user_id")
          .filter(col("ts") >= col("t2"))
          .groupBy("user_id").agg(min(col("ts")).as("t3"))
        s1.agg(lit(1L).as("stage_ord"), lit("signup").as("stage"),
            count(lit(1)).as("n_users"))
          .unionByName(s2.agg(lit(2L).as("stage_ord"), lit("click").as("stage"),
            count(lit(1)).as("n_users")))
          .unionByName(s3.agg(lit(3L).as("stage_ord"), lit("purchase").as("stage"),
            count(lit(1)).as("n_users")))
          .orderBy("stage_ord")
      },
      Some("""WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
               WHERE event_type = 'signup' GROUP BY user_id),
        s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
               WHERE e.event_type = 'click' AND e.ts >= s1.t1 GROUP BY e.user_id),
        s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
               WHERE e.event_type = 'purchase' AND e.ts >= s2.t2 GROUP BY e.user_id)
        SELECT CAST(1 AS BIGINT) AS stage_ord, 'signup' AS stage, COUNT(*) AS n_users FROM s1
        UNION ALL
        SELECT CAST(2 AS BIGINT), 'click', COUNT(*) FROM s2
        UNION ALL
        SELECT CAST(3 AS BIGINT), 'purchase', COUNT(*) FROM s3
        ORDER BY stage_ord""")),

    // ---- SCD2 validity intervals ----------------------------------------
    // Slowly-changing-dimension snapshot: each user's event stream becomes
    // [effective_from, effective_to) rows via lead() over a TOTAL order
    // (ts then event_id — ties would otherwise make the intervals
    // nondeterministic); the current row gets a null effective_to. The
    // window partitions on user_id, so the sort is per-user, never global.
    "q82_scd2_intervals" -> Q(
      (s, dir) => {
        val f = "yyyy-MM-dd HH:mm:ss"
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        t(s, dir, "events")
          .filter(col("user_id") <= 20)
          .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
          .withColumn("eff_from", date_format(col("ts"), f))
          .withColumn("eff_to", date_format(lead(col("ts"), 1).over(w), f))
          .withColumn("is_current", lead(col("ts"), 1).over(w).isNull)
          .select("user_id", "event_id", "event_type", "eff_from", "eff_to", "is_current")
          .orderBy("user_id", "eff_from", "event_id")
      },
      Some("""SELECT user_id, event_id, event_type,
          STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS eff_from,
          STRFTIME(LEAD(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id),
            '%Y-%m-%d %H:%M:%S') AS eff_to,
          LEAD(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
        FROM events WHERE user_id <= 20
        ORDER BY user_id, eff_from, event_id""")),

    // ---- event-transition matrix ----------------------------------------
    // Markov transition counts over each user's event path: lag() pairs
    // consecutive event types (total order ts, event_id), then one count
    // per (prev, next). The per-user window shuffles on user_id; the
    // transition aggregate carries |types|² groups.
    "q83_event_transitions" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        t(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
          .withColumn("prev_type", lag(col("event_type"), 1).over(w))
          .filter(col("prev_type").isNotNull)
          .groupBy(col("prev_type"), col("event_type").as("next_type"))
          .agg(count(lit(1)).as("n"))
          .orderBy("prev_type", "next_type")
      },
      Some("""WITH p AS (SELECT user_id, event_type,
            LAG(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              AS prev_type
          FROM events)
        SELECT prev_type, event_type AS next_type, COUNT(*) AS n
        FROM p WHERE prev_type IS NOT NULL
        GROUP BY 1, 2 ORDER BY prev_type, next_type""")),

    // ---- orders-per-customer distribution (TPC-H Q13 shape) --------------
    // The histogram query: LEFT join so zero-order customers land in the
    // c_count = 0 bucket (an inner join silently drops them — the classic
    // Q13 trap), then a second aggregate over the distribution. Both
    // aggregates are partial+final; the join shuffles on custkey unless
    // the bucketed layout is attached.
    "q86_order_distribution" -> Q(
      (s, dir) => {
        val c = t(s, dir, "customer").select(col("c_custkey"))
        val o = t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"))
        c.join(o, col("c_custkey") === col("o_custkey"), "left")
          .groupBy("c_custkey")
          .agg(count(col("o_orderkey")).as("c_count")) // count skips nulls
          .groupBy("c_count").agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      Some("""WITH cc AS (SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
          FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
          GROUP BY c.c_custkey)
        SELECT c_count, COUNT(*) AS custdist FROM cc
        GROUP BY c_count ORDER BY custdist DESC, c_count DESC""")),

    // ---- salted hot-key aggregation (skew surface) ----------------------
    // operators.Skew on the ORACLE-GATED surface: the two-phase salted
    // aggregate must produce byte-identical results to the plain GROUP BY
    // the oracle runs — salting is a physical-plan move, invisible to
    // semantics. That only holds for algebraic aggregates over EXACT
    // types, so the measure is integer cents (floor(value·100): floor is
    // integral, so DuckDB's round-on-cast and Spark's truncate-on-cast
    // agree); a double SUM would be order-sensitive and unprovable. Five
    // event types over 32 cores is precisely the shape where the unsalted
    // plan leaves most reducers idle.
    "q87_salted_hot_agg" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .withColumn("cents", floor(col("value") * 100).cast("long"))
        graft.operators.Skew.saltedSumCount(ev, Seq("event_type"), "cents",
            saltFrom = col("event_id"), salts = 16)
          .select(col("event_type"), col("sum_cents"), col("n"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type,
          CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
          COUNT(*) AS n
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // ---- week-over-week growth ------------------------------------------
    // Period-over-period reporting: weekly event counts with the previous
    // week's count and the growth ratio. lag() runs over the WEEKLY
    // aggregate (|weeks| rows — the window input is post-aggregation,
    // never raw events, so the unpartitioned sort is bounded by the
    // calendar, same acceptance as q52/q73). Ratio = one division of
    // exact integers; first week yields nulls.
    "q88_wow_growth" -> Q(
      (s, dir) => {
        val w = Window.orderBy("week")
        t(s, dir, "events")
          .groupBy(date_trunc("week", col("ts")).cast("date").as("week"))
          .agg(count(lit(1)).as("n"))
          .withColumn("prev_n", lag(col("n"), 1).over(w))
          .select(date_format(col("week"), "yyyy-MM-dd").as("week"),
            col("n"), col("prev_n"),
            (col("n").cast("double") / col("prev_n").cast("double")).as("growth"))
          .orderBy("week")
      },
      Some("""WITH wk AS (SELECT CAST(DATE_TRUNC('week', ts) AS DATE) AS week,
            COUNT(*) AS n FROM events GROUP BY 1),
        l AS (SELECT week, n, LAG(n, 1) OVER (ORDER BY week) AS prev_n FROM wk)
        SELECT STRFTIME(week, '%Y-%m-%d') AS week, n, prev_n,
          CAST(n AS DOUBLE) / CAST(prev_n AS DOUBLE) AS growth
        FROM l ORDER BY week""")),

    // ---- correlated scalar subquery (TPC-H Q17 shape) -------------------
    // "Revenue lost to small orders": lineitems of one brand whose
    // quantity is below 20% of that part's average quantity. The oracle
    // writes the textbook correlated scalar subquery; the Spark side IS
    // the decorrelated plan — with one scale refinement the automatic
    // rewrite misses (the q58 lesson): the per-part average input is
    // pre-joined to the brand's parts FIRST, so neither lineitem scan
    // aggregates the ~99% of rows the brand filter discards. The avg is
    // exact cross-engine: quantities are integer-valued doubles, so every
    // partial sum is an exact integer in IEEE double regardless of order,
    // and sum/count is one deterministic division.
    "q89_small_qty_revenue" -> Q(
      (s, dir) => {
        val brandParts = t(s, dir, "part")
          .filter(col("p_brand") === "Brand#4").select("p_partkey")
        val li = t(s, dir, "lineitem")
          .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
          .select("l_partkey", "l_quantity", "l_extendedprice")
        val avgQ = li.groupBy("l_partkey")
          .agg(avg(col("l_quantity")).as("avg_qty"))
        li.join(avgQ, "l_partkey")
          .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
          .agg(Det.moneySum(col("l_extendedprice")).as("sum_price"),
            count(lit(1)).as("n_items"))
          .select(col("sum_price"), col("n_items"),
            (col("sum_price") / 7.0).as("avg_yearly"))
      },
      Some(s"""SELECT ${Det.sqlMoneySum("l_extendedprice")} AS sum_price,
          COUNT(*) AS n_items,
          ${Det.sqlMoneySum("l_extendedprice")} / 7.0 AS avg_yearly
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#4'
          AND l.l_quantity < 0.2 * (SELECT AVG(l2.l_quantity)
            FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)""")),

    // ---- scalar subquery + anti join (TPC-H Q22 shape) ------------------
    // Dormant wealthy customers by market segment: above-average balance
    // (global scalar aggregate — a broadcast single row, never a shuffle)
    // and no order since mid-2000. The anti join's build side is
    // PRE-FILTERED to recent orders before the join — at scale the date
    // predicate discards most of the fact table before any shuffle. The
    // threshold is the Det decimal-exact average, so the double
    // comparison is bit-identical cross-engine. (Every fixture customer
    // has SOME order, so a plain "no orders" NOT EXISTS would gate on an
    // empty result — the recency predicate keeps the gate non-trivial.)
    "q90_inactive_rich_customers" -> Q(
      (s, dir) => {
        val c = t(s, dir, "customer")
        val avgBal = c.filter(col("c_acctbal") > 0.0)
          .agg(Det.moneyAvg(col("c_acctbal")).as("avg_bal"))
        val recent = t(s, dir, "orders")
          .filter(col("o_orderdate") >= to_timestamp(lit("2000-06-01 00:00:00")))
          .select("o_custkey")
        c.crossJoin(broadcast(avgBal))
          .filter(col("c_acctbal") > col("avg_bal"))
          .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_cust"),
            Det.moneySum(col("c_acctbal")).as("total_bal"))
          .orderBy("c_mktsegment")
      },
      Some(s"""SELECT c_mktsegment, COUNT(*) AS n_cust,
          ${Det.sqlMoneySum("c_acctbal")} AS total_bal
        FROM customer c
        WHERE c_acctbal > (SELECT ${Det.sqlMoneyAvg("c_acctbal")}
            FROM customer WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
            AND o.o_orderdate >= TIMESTAMP '2000-06-01 00:00:00')
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // ---- ordered string aggregation (LISTAGG surface) -------------------
    // Per-region roster of nation names. collect_list is
    // partition-order-nondeterministic by contract, so the result is
    // array_sort-ed before joining — the ONLY way a list aggregate can sit
    // on a hash-gated surface. Group sizes are dimension-bounded (nations
    // per region), so the collected list never approaches row-count scale.
    "q91_nation_roster" -> Q(
      (s, dir) => {
        val n = t(s, dir, "nation")
        val r = t(s, dir, "region")
        n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name")
          .agg(count(lit(1)).as("n_nations"),
            array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"))
          .orderBy("r_name")
      },
      Some("""SELECT r_name, COUNT(*) AS n_nations,
          STRING_AGG(n_name, ',' ORDER BY n_name) AS nations
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name""")),

    // ---- exact per-group mode (count-first shape) -----------------------
    // Most frequent quantity per return flag with a deterministic
    // tie-break (smallest value). The window ranks the (flag, value)
    // COUNTS — post-aggregation rows bounded by the value domain — never
    // raw lineitem (the q52 discipline). Quantities are integer-valued,
    // so the long cast agrees between Spark (truncate) and DuckDB (round).
    "q92_mode_quantity" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("l_returnflag")
          .orderBy(col("cnt").desc, col("qty").asc)
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"), col("l_quantity").cast("long").as("qty"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("l_returnflag"), col("qty").as("mode_qty"), col("cnt"))
          .orderBy("l_returnflag")
      },
      Some("""WITH c AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
            COUNT(*) AS cnt FROM lineitem GROUP BY 1, 2),
        r AS (SELECT l_returnflag, qty, cnt,
            ROW_NUMBER() OVER (PARTITION BY l_returnflag
              ORDER BY cnt DESC, qty ASC) AS rn FROM c)
        SELECT l_returnflag, qty AS mode_qty, cnt FROM r
        WHERE rn = 1 ORDER BY l_returnflag""")),

    // ---- unpivot / melt (q39's inverse) ---------------------------------
    // Wide→long reshaping: the four lineitem measures aggregate to ONE row
    // per return flag (Det decimal-exact), then melt to (flag, measure,
    // total) via Spark's native unpivot. The expensive step is the
    // aggregation; the melt itself is a map-only expression over the
    // 3-row aggregate — reshaping never touches un-aggregated data. The
    // oracle mirrors with a UNION ALL over the same aggregated CTE.
    "q95_unpivot_measures" -> Q(
      (s, dir) => {
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            Det.moneySum(col("l_quantity")).as("qty"),
            Det.moneySum(col("l_extendedprice")).as("price"),
            Det.moneySum(col("l_discount")).as("discount"),
            Det.moneySum(col("l_tax")).as("tax"))
          .unpivot(Array(col("l_returnflag")),
            Array(col("qty"), col("price"), col("discount"), col("tax")),
            "measure", "total")
          .orderBy("l_returnflag", "measure")
      },
      Some(s"""WITH a AS (SELECT l_returnflag,
            ${Det.sqlMoneySum("l_quantity")} AS qty,
            ${Det.sqlMoneySum("l_extendedprice")} AS price,
            ${Det.sqlMoneySum("l_discount")} AS discount,
            ${Det.sqlMoneySum("l_tax")} AS tax
          FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, measure, total FROM (
          SELECT l_returnflag, 'qty' AS measure, qty AS total FROM a
          UNION ALL SELECT l_returnflag, 'price', price FROM a
          UNION ALL SELECT l_returnflag, 'discount', discount FROM a
          UNION ALL SELECT l_returnflag, 'tax', tax FROM a)
        ORDER BY l_returnflag, measure""")),

    // ---- latest state per key (CDC current-state read) ------------------
    // "Dedupe to latest": each user's most recent event — the standard
    // upsert-read over an append-only change stream (q82 builds the full
    // SCD2 history; this materializes just the head). The window
    // partitions on user_id (high-cardinality — shuffle by key, no global
    // sort) and Spark plans the rank-1 filter as WindowGroupLimit: each
    // map task keeps one row per user BEFORE the exchange, so the shuffle
    // carries |users| rows, not |events|. Ties on ts break by event_id —
    // without it equal-timestamp rows make the result engine-dependent.
    "q97_latest_per_user" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)
        t(s, dir, "events")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_id"), col("event_type"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_s"))
          .orderBy("user_id")
      },
      Some("""WITH r AS (SELECT user_id, event_id, event_type, ts,
            ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
        SELECT user_id, event_id, event_type,
          STRFTIME(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s
        FROM r WHERE rn = 1 ORDER BY user_id""")),

    // ---- hopping (sliding) windows --------------------------------------
    // 1-hour windows every 15 minutes — the smoothed-rate view tumbling
    // windows (q17) can't give. Spark's window(slide) plans an Expand
    // (each event replicated into its hour/slide = 4 windows) BELOW the
    // partial aggregate, so the shuffle carries (window, count) partials —
    // at 100 TB the fan-out costs 4× map-side rows, never 4× exchange.
    // Both engines are epoch-aligned: the oracle derives the same 4
    // window starts from integer µs arithmetic (floor-div slides), so
    // alignment cannot drift. Counts exact; starts formatted.
    "q98_hopping_counts" -> Q(
      (s, dir) => {
        t(s, dir, "events")
          .groupBy(window(col("ts"), "1 hour", "15 minutes"))
          .agg(count(lit(1)).as("n"))
          .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
            col("n"))
          .orderBy("w_start")
      },
      Some("""WITH e AS (SELECT epoch_us(ts) AS us FROM events),
        w AS (SELECT (us // 900000000 - k) * 900000000 AS start_us
              FROM e CROSS JOIN UNNEST([0, 1, 2, 3]) AS t(k))
        SELECT STRFTIME(make_timestamp(start_us), '%Y-%m-%d %H:%M:%S') AS w_start,
          COUNT(*) AS n
        FROM w GROUP BY 1 ORDER BY 1""")),

    // ---- relative-rank windows (percent_rank / cume_dist) ---------------
    // Where a quantity value sits within its return flag's distribution.
    // Same count-first discipline as q92/q52: the windows rank the
    // (flag, value) AGGREGATE — |flags|·|values| rows — never raw
    // lineitem. percent_rank = (rank-1)/(n-1) and cume_dist = k/n are
    // single divisions of small exact integers → bit-identical doubles.
    "q99_value_distribution" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("l_returnflag").orderBy("qty")
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"), col("l_quantity").cast("long").as("qty"))
          .agg(count(lit(1)).as("cnt"))
          .select(col("l_returnflag"), col("qty"), col("cnt"),
            percent_rank().over(w).as("pct_rank"),
            cume_dist().over(w).as("cume"))
          .orderBy("l_returnflag", "qty")
      },
      Some("""WITH c AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
            COUNT(*) AS cnt FROM lineitem GROUP BY 1, 2)
        SELECT l_returnflag, qty, cnt,
          PERCENT_RANK() OVER (PARTITION BY l_returnflag ORDER BY qty) AS pct_rank,
          CUME_DIST() OVER (PARTITION BY l_returnflag ORDER BY qty) AS cume
        FROM c ORDER BY l_returnflag, qty""")),

    // ---- GROUPING() disambiguation on rollup subtotals ------------------
    // q09's rollup can't tell "NULL because subtotal" from "NULL because
    // the data was NULL" — GROUPING() can, and is the only correct way to
    // label subtotal levels in a report. lvl 0 = detail, 1 = per-flag
    // subtotal, 3 = grand total (bit per rolled-up column). Same Expand +
    // partial-aggregate shape as any rollup: one exchange of partials.
    "q100_rollup_grouping" -> Q(
      (s, dir) => {
        // two-level (q10's rewrite): no Expand over fact rows
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("fn"), Det.moneySumExact(col("l_extendedprice")).as("fp"))
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(grouping_id().as("lvl"), sum(col("fn")).as("n"),
            Det.refoldMoney(col("fp")).as("total"))
          .select(
            coalesce(col("l_returnflag"), lit("<all>")).as("flag"),
            coalesce(col("l_linestatus"), lit("<all>")).as("status"),
            col("lvl"), col("n"), col("total"))
          .orderBy("lvl", "flag", "status")
      },
      Some(s"""SELECT COALESCE(l_returnflag, '<all>') AS flag,
          COALESCE(l_linestatus, '<all>') AS status,
          CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS lvl,
          COUNT(*) AS n,
          ${Det.sqlMoneySum("l_extendedprice")} AS total
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY lvl, flag, status""")),

    // ---- nested IN + correlated aggregate (TPC-H Q20 shape) -------------
    // Dominant suppliers of a part family: suppliers who shipped > 20% of
    // a 'bolt' part's total volume. The oracle keeps the classic nested
    // form (IN over a grouped HAVING whose threshold is a correlated
    // scalar subquery); the Spark plan decorrelates BY CONSTRUCTION:
    //  - the part-family filter is broadcast-joined FIRST, so lineitem is
    //    scanned once and pruned to the family before any aggregation
    //    (the naive plan scans lineitem twice, once per subquery level);
    //  - the correlated per-part total is a SUM WINDOW over the
    //    per-(supp,part) aggregate, partitioned by part — deriving the
    //    coarser aggregate from the finer one in the same pass (a
    //    groupBy+self-join would plant the scan subtree twice: Catalyst
    //    does not CSE identical aggregate branches, PlanShapeSpec gates
    //    the single scan);
    //  - qualification ends in a semi join (distinct suppliers), never a
    //    row-multiplying inner join.
    // Quantities are integer-valued doubles: every SUM (group or window)
    // is exact in IEEE, and 0.2*total is one deterministic multiply
    // cross-engine (q89 rule).
    "q101_dominant_suppliers" -> Q(
      (s, dir) => {
        val boltParts = t(s, dir, "part")
          .filter(col("p_name").like("%bolt")).select("p_partkey")
        val li = t(s, dir, "lineitem")
          .join(broadcast(boltParts), col("l_partkey") === col("p_partkey"))
          .select("l_suppkey", "l_partkey", "l_quantity")
        val qualified = li.groupBy("l_suppkey", "l_partkey")
          .agg(sum(col("l_quantity")).as("ship_qty"))
          .withColumn("part_qty",
            sum(col("ship_qty")).over(Window.partitionBy("l_partkey")))
          .filter(col("ship_qty") > lit(0.2) * col("part_qty"))
          .select(col("l_suppkey")).distinct()
        t(s, dir, "supplier")
          .join(qualified, col("s_suppkey") === col("l_suppkey"), "left_semi")
          .select("s_suppkey", "s_name", "s_acctbal")
          .orderBy("s_suppkey")
      },
      Some("""SELECT s_suppkey, s_name, s_acctbal FROM supplier
        WHERE s_suppkey IN (
          SELECT l.l_suppkey FROM lineitem l
          WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%bolt')
          GROUP BY l.l_suppkey, l.l_partkey
          HAVING SUM(l.l_quantity) > 0.2 * (
            SELECT SUM(l2.l_quantity) FROM lineitem l2
            WHERE l2.l_partkey = l.l_partkey))
        ORDER BY s_suppkey""")),

    // ---- max over an aggregated view (TPC-H Q15 shape) ------------------
    // Top supplier by quarterly revenue. The view aggregates ONCE and is
    // reused for both the max and the equality filter — Spark expresses
    // that as a window max over the aggregate (one shuffle on l_suppkey,
    // then a |suppliers|-row exchange for the unpartitioned max over
    // already-aggregated rows), never a second lineitem scan. The ship-
    // date filter is pushed to the parquet scan on both paths. Revenue is
    // the Det decimal product summed exactly, cast to double once per
    // group — so the MAX equality compares bit-identical doubles
    // cross-engine (ties would all surface, same as the SQL).
    "q102_top_supplier" -> Q(
      (s, dir) => {
        val revenue = t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= to_timestamp(lit("1995-04-01 00:00:00")) &&
            col("l_shipdate") < to_timestamp(lit("1995-07-01 00:00:00")))
          .groupBy(col("l_suppkey").as("supplier_no"))
          .agg(Det.sumD(Det.money(col("l_extendedprice")) * Det.oneMinus(col("l_discount")))
            .as("total_revenue"))
        val withMax = revenue.withColumn("max_rev",
          max(col("total_revenue")).over(Window.partitionBy()))
        t(s, dir, "supplier")
          .join(withMax.filter(col("total_revenue") === col("max_rev")).drop("max_rev"),
            col("s_suppkey") === col("supplier_no"))
          .select("s_suppkey", "s_name", "total_revenue")
          .orderBy("s_suppkey")
      },
      Some(s"""WITH revenue AS (
          SELECT l_suppkey AS supplier_no,
            ${Det.sqlSumD(Det.sqlMoney("l_extendedprice") + " * " + Det.sqlOneMinus("l_discount"))} AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1995-04-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1995-07-01 00:00:00'
          GROUP BY l_suppkey)
        SELECT s.s_suppkey, s.s_name, r.total_revenue
        FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
        WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        ORDER BY s.s_suppkey""")),

    // ---- EXISTS + NOT EXISTS self-joins (TPC-H Q21 shape) ---------------
    // Suppliers solely responsible for a returned line in a multi-supplier
    // finalized order (returnflag stands in for Q21's receipt>commit —
    // the fixture lineitem carries no commit/receipt dates). The classic
    // form is THREE scans of lineitem (l1 + EXISTS l2 + NOT EXISTS l3);
    // the Spark plan folds both correlated subqueries into per-order
    // DISTINCT-SUPPLIER WINDOW COUNTS — distinct suppliers and distinct
    // returning suppliers over the orderkey partition — so lineitem is
    // scanned ONCE and shuffled once on l_orderkey (the self-join form
    // would plant the scan subtree twice; Catalyst does not CSE it,
    // PlanShapeSpec gates the single scan): given l1 is returning, "some
    // other supplier in the order" ⇔ n_supp > 1 and "no OTHER supplier
    // returning" ⇔ n_ret_supp == 1. Window partitions are order-sized
    // (≤ lines-per-order rows), so the collect_set state is bounded. At
    // 100 TB this replaces two fact-fact self-joins with one window pass
    // — the canonical Q21 rewrite.
    "q103_waiting_suppliers" -> Q(
      (s, dir) => {
        val fOrders = t(s, dir, "orders")
          .filter(col("o_orderstatus") === "F").select("o_orderkey")
        val li = t(s, dir, "lineitem")
          .join(fOrders, col("l_orderkey") === col("o_orderkey"), "left_semi")
          .select("l_orderkey", "l_suppkey", "l_returnflag")
        val w = Window.partitionBy("l_orderkey")
        val waits = li
          .withColumn("n_supp", size(collect_set(col("l_suppkey")).over(w)))
          .withColumn("n_ret_supp",
            size(collect_set(when(col("l_returnflag") === "R", col("l_suppkey"))).over(w)))
          .filter(col("l_returnflag") === "R" &&
            col("n_supp") > 1 && col("n_ret_supp") === 1)
        val counted = waits.groupBy("l_suppkey")
          .agg(count(lit(1)).as("numwait"))
        t(s, dir, "supplier")
          .join(counted, col("s_suppkey") === col("l_suppkey"))
          .select(col("s_name"), col("numwait").cast("long").as("numwait"))
          .orderBy(desc("numwait"), col("s_name"))
      },
      Some("""SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        FROM supplier s
        JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
        JOIN orders o ON o.o_orderkey = l1.l_orderkey
        WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
          AND EXISTS (SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_returnflag = 'R')
        GROUP BY s.s_name
        ORDER BY numwait DESC, s.s_name""")),

    // ---- semi join against a grouped HAVING (TPC-H Q18 shape) -----------
    // Large-volume orders with their customers. The classic nested form
    // aggregates lineitem TWICE (once inside the IN subquery, once in the
    // outer GROUP BY); the Spark plan computes the per-order quantity
    // ONCE and reuses it as both the qualification filter and the output
    // column — one lineitem scan, one shuffle on l_orderkey, then
    // dim-joins whose small sides AQE broadcasts. Ends in the top-k by
    // total price (TakeOrderedAndProject — no global sort of the
    // qualifying set), tie-broken by the unique order key. Quantities go
    // through the Det decimal sum so the HAVING threshold compares
    // bit-identically cross-engine.
    "q104_large_orders" -> Q(
      (s, dir) => {
        val bigOrders = t(s, dir, "lineitem")
          .groupBy("l_orderkey")
          .agg(Det.moneySum(col("l_quantity")).as("total_qty"))
          .filter(col("total_qty") > 250.0)
        t(s, dir, "orders")
          .join(bigOrders, col("o_orderkey") === col("l_orderkey"))
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
            col("o_totalprice"), col("total_qty"))
          .orderBy(desc("o_totalprice"), col("o_orderkey"))
          .limit(100)
      },
      Some(s"""SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice,
          ${Det.sqlMoneySum("l.l_quantity")} AS total_qty
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderkey IN (
          SELECT l_orderkey FROM lineitem
          GROUP BY l_orderkey
          HAVING ${Det.sqlMoneySum("l_quantity")} > 250.0)
        GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
        ORDER BY o.o_totalprice DESC, o.o_orderkey
        LIMIT 100""")),

    // ---- correlated MIN over a join (TPC-H Q2 shape) ---------------------
    // Cheapest EUROPE supplier per STANDARD mid-size part. The classic
    // form re-evaluates the scoped join inside a correlated MIN subquery;
    // here the scoped relation is built ONCE (lineitem with all three
    // dimension joins broadcast — part/supplier/nation/region are the
    // small sides) and the per-part minimum is a WINDOW over p_partkey,
    // so the fact table is scanned once and shuffled once on the part
    // key. unit cost is one IEEE division of two stored doubles —
    // bit-identical across engines, so the min-equality filter selects
    // identical rows.
    "q116_min_cost_supplier" -> Q(
      (s, dir) => {
        val scoped = t(s, dir, "lineitem")
          .join(broadcast(t(s, dir, "part")
            .filter(col("p_size").between(10, 20) && col("p_type") === "STANDARD")),
            col("p_partkey") === col("l_partkey"))
          .join(broadcast(t(s, dir, "supplier")), col("s_suppkey") === col("l_suppkey"))
          .join(broadcast(t(s, dir, "nation")), col("n_nationkey") === col("s_nationkey"))
          .join(broadcast(t(s, dir, "region").filter(col("r_name") === "EUROPE")),
            col("r_regionkey") === col("n_regionkey"))
          .select(col("p_partkey"), col("p_name"), col("s_suppkey"), col("s_name"),
            col("s_acctbal"), col("n_name"),
            (col("l_extendedprice") / col("l_quantity")).as("ucost"))
        scoped
          .withColumn("min_cost", min(col("ucost")).over(Window.partitionBy("p_partkey")))
          .filter(col("ucost") === col("min_cost"))
          .select("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal",
            "n_name", "min_cost")
          .distinct()
          .orderBy("p_partkey", "s_suppkey")
      },
      Some("""WITH scoped AS (
          SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name, s.s_acctbal,
                 n.n_name, l.l_extendedprice / l.l_quantity AS ucost
          FROM lineitem l
          JOIN part p ON p.p_partkey = l.l_partkey
               AND p.p_size BETWEEN 10 AND 20 AND p.p_type = 'STANDARD'
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          JOIN nation n ON n.n_nationkey = s.s_nationkey
          JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'EUROPE')
        SELECT DISTINCT p_partkey, p_name, s_suppkey, s_name, s_acctbal,
               n_name, ucost AS min_cost
        FROM scoped a
        WHERE ucost = (SELECT MIN(ucost) FROM scoped b
                       WHERE b.p_partkey = a.p_partkey)
        ORDER BY p_partkey, s_suppkey""")),

    // ---- global scalar + anti-join prospect report (TPC-H Q22 shape) -----
    // Well-funded but LAPSED customers in target segments — above the
    // segment-wide average positive balance (scalar subquery; decimal-
    // exact sum so the threshold is the same bits on both engines) with
    // no orders since 2000 (NOT EXISTS on a date-filtered build side,
    // planned as an anti join whose right side is pre-pruned by the
    // pushed date predicate) — rolled up per nation. Every customer in
    // the fixture has SOME order, so the lapsed-window form is also what
    // keeps the gate non-degenerate (32 qualifying rows at sf0.01).
    "q117_sales_prospects" -> Q(
      (s, dir) => {
        val cust = t(s, dir, "customer")
          .filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE", "MACHINERY"))
        val avgBal = cust.filter(col("c_acctbal") > 0.0)
          .agg(Det.moneyAvg(col("c_acctbal")).as("avg_bal"))
        val recent = t(s, dir, "orders")
          .filter(col("o_orderdate") >= to_timestamp(lit("2000-01-01 00:00:00")))
        cust.crossJoin(broadcast(avgBal))
          .filter(col("c_acctbal") > col("avg_bal"))
          .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
          .join(broadcast(t(s, dir, "nation")), col("n_nationkey") === col("c_nationkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("numcust"),
            Det.moneySum(col("c_acctbal")).as("totacctbal"))
          .orderBy("n_name")
      },
      Some(s"""WITH cust AS (
          SELECT * FROM customer
          WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY'))
        SELECT n.n_name, COUNT(*) AS numcust,
               ${Det.sqlMoneySum("c.c_acctbal")} AS totacctbal
        FROM cust c JOIN nation n ON n.n_nationkey = c.c_nationkey
        WHERE c.c_acctbal > (SELECT ${Det.sqlMoneyAvg("c_acctbal")}
                             FROM cust WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        GROUP BY n.n_name ORDER BY n.n_name""")),

    // ---- PageRank over the event-transition graph -----------------------
    // Edges = consecutive events per user (LAG over the user_id
    // partition, (ts, event_id) tie-break); parallel edges act as
    // weights. operators.PageRank runs in exact BIGINT micro-units —
    // every division a positive floor div, every sum integer — so five
    // iterations later both engines hold identical bits and the gate
    // hash-checks an ITERATIVE graph computation end-to-end (the oracle
    // SQL chain is generated from the same constants).
    "q118_event_pagerank" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val edges = t(s, dir, "events")
          .withColumn("src", lag(col("event_type"), 1).over(w))
          .filter(col("src").isNotNull)
          .select(col("src"), col("event_type").as("dst"))
        graft.operators.PageRank.ranks(edges, "src", "dst", iters = 5)
      },
      Some(graft.operators.PageRank.oracleSql(
        """SELECT prev AS src, event_type AS dst FROM (
             SELECT event_type, LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev
             FROM events)
           WHERE prev IS NOT NULL""", iters = 5))),

    // ---- dataset profiling (D1 stats, per-column) -----------------------
    // One-pass audit report: null/distinct counts and extrema per column
    // (operators.Profile). The wide aggregate computes every stat in a
    // single scan (multi-count-distinct plans as one Expand); the
    // stack() transpose is one-row-in, |cols|-rows-out. The oracle is the
    // classic per-column UNION ALL — which scans the table once PER
    // COLUMN: the single-scan profile is the point of the operator.
    "q107_profile" -> Q(
      (s, dir) => graft.operators.Profile.profile(
        t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")),
      Some {
        def one(c: String) =
          s"""SELECT '$c' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_nulls,
             CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
             CAST(MIN($c) AS VARCHAR) AS min_s,
             CAST(MAX($c) AS VARCHAR) AS max_s FROM orders"""
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
          .map(one).mkString("", " UNION ALL ", " ORDER BY column_name")
      }),

    // ---- VARIANT shredding (semi-structured, Spark 4) --------------------
    // Construct → parse_json → typed-path extraction → aggregate: each
    // event is serialized to a JSON document (string, long, double-array
    // fields), parsed into Spark's VARIANT binary encoding, and shredded
    // back with typed `variant_get` paths (including an array index). The
    // oracle computes the same aggregate DIRECTLY from the base columns —
    // so the hash gate proves the whole encode→VARIANT→extract round
    // trip is lossless, including the JSON number round-trip of 2-decimal
    // doubles (shortest-repr printing re-parses bit-exactly). At scale
    // VARIANT's binary form replaces per-query JSON string re-parsing;
    // the extraction is codegen'd, not a per-row UDF.
    "q108_variant_shred" -> Q(
      (s, dir) => {
        t(s, dir, "events")
          .withColumn("doc", to_json(struct(
            col("event_type").as("t"),
            col("user_id").as("u"),
            array(col("value"), col("value") * 2).as("vals"))))
          .select(parse_json(col("doc")).as("v"))
          .select(
            expr("variant_get(v, '$.t', 'string')").as("t"),
            expr("variant_get(v, '$.u', 'long')").as("u"),
            expr("variant_get(v, '$.vals[1]', 'double')").as("v2"))
          .groupBy("t")
          .agg(count(lit(1)).as("n"), sum(col("u")).as("sum_u"),
            Det.moneySum(col("v2")).as("total_v2"))
          .orderBy("t")
      },
      Some(s"""SELECT event_type AS t, COUNT(*) AS n,
          CAST(SUM(user_id) AS BIGINT) AS sum_u,
          ${Det.sqlMoneySum("value * 2")} AS total_v2
        FROM events GROUP BY event_type ORDER BY t""")),

    // ---- Z-order (Morton) layout key (file-skipping data layout) --------
    // operators.Layout: min-max bucket both dimensions to 16 bits (exact
    // integer affine), interleave bits into one Morton key (compile-time-
    // unrolled codegen'd longs, no UDF, map-only). The hash gate proves an
    // external system reproduces the layout key bit-for-bit — the property
    // that makes z-ordered files portable across writers. The oracle
    // recomputes the interleave with a list-comprehension over bit
    // positions; integer math end-to-end, so zmin/zmax/zxor match exactly.
    "q110_zorder_curve" -> Q(
      (s, dir) => {
        val z = graft.operators.Layout.withZValue(
          t(s, dir, "lineitem").select("l_returnflag", "l_partkey", "l_suppkey"),
          "l_partkey", "l_suppkey")
        z.groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            min(col("zval")).as("zmin"), max(col("zval")).as("zmax"),
            expr("bit_xor(zval)").as("zxor"))
          .orderBy("l_returnflag")
      },
      Some("""WITH mm AS (SELECT min(l_partkey) pmin, max(l_partkey) pmax,
                   min(l_suppkey) smin, max(l_suppkey) smax FROM lineitem),
        b AS (SELECT l_returnflag,
                ((l_partkey - pmin) * 65536) // (pmax - pmin + 1) AS bx,
                ((l_suppkey - smin) * 65536) // (smax - smin + 1) AS by
              FROM lineitem, mm),
        z AS (SELECT l_returnflag,
                list_sum(list_transform(range(0,16),
                  i -> (((bx >> i) & 1) << (2*i)) + (((by >> i) & 1) << (2*i+1)))) AS zval
              FROM b)
        SELECT l_returnflag, count(*) AS n, CAST(min(zval) AS BIGINT) AS zmin,
               CAST(max(zval) AS BIGINT) AS zmax, CAST(bit_xor(zval) AS BIGINT) AS zxor
        FROM z GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- copy-on-write mutation: CDC upsert + GDPR delete ---------------
    // catalog.Snapshots keyed mutation end-to-end: orders is committed as
    // an o_orderstatus-partitioned snapshot table, then ONE applyKeyed
    // commit applies an erasure batch (keyed deletes from P) and a CDC
    // batch (updates into F/O, inserts into a NEW partition 'N'). The
    // commit reads ONLY the partitions the batches name (manifest pruning
    // + broadcast anti-join) and re-references every other partition's
    // files by path. The oracle computes the expected post-mutation state
    // LOGICALLY (anti-join + unions over the same deterministic batches),
    // so the physical merge machinery is hash-gated against declarative
    // semantics. All-integer output; the key sets of the two batches are
    // disjoint, so delete-then-upsert equals any other order.
    "q121_merge_upsert" -> Q(
      (s, dir) => {
        val orders = t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
        val work = Tables.derivedDir("graft_snap", s"$dir|orders_merge")
        Tables.derivedClear(work) // mutation is the thing under test: rebuild
        val table = s"$work/orders"
        graft.catalog.Snapshots.init(s, table, orders, Some("o_orderstatus"))
        val updates = orders
          .filter(col("o_orderkey") % 97 === 0 &&
            col("o_orderstatus").isin("F", "O"))
          .withColumn("o_custkey", col("o_custkey") + lit(1000000L))
          .withColumn("o_orderpriority", lit("0-UPDATED"))
        val inserts = orders
          .filter(col("o_orderkey") % 499 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(900000000L))
          .withColumn("o_orderstatus", lit("N"))
          .withColumn("o_orderpriority", lit("0-INSERTED"))
        val deletes = orders
          .filter(col("o_orderkey") % 193 === 0 && col("o_orderstatus") === "P")
          .select("o_orderkey", "o_orderstatus")
        graft.catalog.Snapshots.applyKeyed(s, table, deletes,
          updates.unionByName(inserts), Seq("o_orderkey"))
        graft.catalog.Snapshots.read(s, table)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(when(col("o_orderpriority").startsWith("0-"), 1L)
              .otherwise(0L)).as("n_mutated"),
            sum(col("o_custkey")).as("sum_cust"),
            expr("bit_xor(o_orderkey)").as("xor_key"))
          .orderBy("o_orderstatus")
      },
      Some("""WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
                FROM orders),
        upd AS (SELECT o_orderkey, o_custkey + 1000000 AS o_custkey, o_orderstatus,
                  '0-UPDATED' AS o_orderpriority
                FROM base WHERE o_orderkey % 97 = 0 AND o_orderstatus IN ('F', 'O')),
        ins AS (SELECT o_orderkey + 900000000 AS o_orderkey, o_custkey,
                  'N' AS o_orderstatus, '0-INSERTED' AS o_orderpriority
                FROM base WHERE o_orderkey % 499 = 0),
        del AS (SELECT o_orderkey FROM base
                WHERE o_orderkey % 193 = 0 AND o_orderstatus = 'P'),
        merged AS (
          SELECT * FROM base
           WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
             AND o_orderkey NOT IN (SELECT o_orderkey FROM del)
          UNION ALL SELECT * FROM upd
          UNION ALL SELECT * FROM ins)
        SELECT o_orderstatus, COUNT(*) AS n,
          CAST(SUM(CASE WHEN o_orderpriority LIKE '0-%' THEN 1 ELSE 0 END) AS BIGINT) AS n_mutated,
          CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
          CAST(bit_xor(o_orderkey) AS BIGINT) AS xor_key
        FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // ---- snapshot time travel: manifest-versioned reads ------------------
    // catalog.Snapshots end-to-end: orders becomes a manifest-versioned
    // table (v1), a copy-on-write commit replaces ONLY partition 'F'
    // (every other partition's files are re-referenced by path — no
    // rewrite, no rename of live data, SnapshotsSpec proves identical
    // paths across manifests), and the query reads BOTH versions: time
    // travel answers "what did the corpus look like before the commit"
    // from the same table. The oracle replays both logical states, so the
    // manifest/pool machinery is hash-gated against declarative
    // semantics. All-integer output.
    "q122_time_travel" -> Q(
      (s, dir) => {
        val base = t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderstatus")
        val work = Tables.derivedDir("graft_snap", s"$dir|orders_tt")
        Tables.derivedClear(work) // versioning is the thing under test: rebuild
        val table = s"$work/orders"
        graft.catalog.Snapshots.init(s, table, base, Some("o_orderstatus"))
        val replacement = base
          .filter(col("o_orderstatus") === "F" && col("o_orderkey") % 3 =!= 0)
          .withColumn("o_custkey", col("o_custkey") + lit(1000000L))
        graft.catalog.Snapshots.replacePartitions(s, table, replacement)
        val v1 = graft.catalog.Snapshots.read(s, table, Some(1))
          .withColumn("version", lit(1L))
        val v2 = graft.catalog.Snapshots.read(s, table, Some(2))
          .withColumn("version", lit(2L))
        v1.unionByName(v2)
          .groupBy("version", "o_orderstatus")
          .agg(count(lit(1)).as("n"), sum(col("o_custkey")).as("sum_cust"),
            expr("bit_xor(o_orderkey)").as("xor_key"))
          .orderBy("version", "o_orderstatus")
      },
      Some("""WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus FROM orders),
        v2f AS (SELECT o_orderkey, o_custkey + 1000000 AS o_custkey, o_orderstatus
                FROM base WHERE o_orderstatus = 'F' AND o_orderkey % 3 <> 0),
        v2 AS (SELECT * FROM base WHERE o_orderstatus <> 'F'
               UNION ALL SELECT * FROM v2f),
        u AS (SELECT CAST(1 AS BIGINT) AS version, * FROM base
              UNION ALL SELECT CAST(2 AS BIGINT), * FROM v2)
        SELECT version, o_orderstatus, COUNT(*) AS n,
          CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
          CAST(bit_xor(o_orderkey) AS BIGINT) AS xor_key
        FROM u GROUP BY version, o_orderstatus
        ORDER BY version, o_orderstatus""")),

    // ---- robust anomaly detection: exact MAD fences ----------------------
    // operators.Robust: per-type median and median-absolute-deviation by
    // positional SELECTION (count-first over distinct values — the q52
    // trick), never interpolation — so the robust statistics are existing
    // data values, bit-identical cross-engine, and the only float ops are
    // the IEEE-identical |x−med| and k·MAD compare. Complements q77's
    // z-scores: one wild value drags a mean/stddev fence but not this one.
    "q126_mad_outliers" -> Q(
      (s, dir) => graft.operators.Robust.madOutliers(
          t(s, dir, "events").select(col("event_type"), col("value")),
          "event_type", "value")
        .orderBy("event_type"),
      Some("""WITH e AS (SELECT event_type, value FROM events),
        r AS (SELECT event_type, value,
                ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
                COUNT(*) OVER (PARTITION BY event_type) AS n
              FROM e),
        med AS (SELECT event_type, MAX(n) AS n,
                  MAX(CASE WHEN rn = (n + 1) // 2 THEN value END) AS med
                FROM r GROUP BY event_type),
        d AS (SELECT e.event_type, ABS(e.value - med.med) AS dev, med.med, med.n
              FROM e JOIN med USING (event_type)),
        rd AS (SELECT event_type, dev, med, n,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev) AS rn
               FROM d),
        mad AS (SELECT event_type, MAX(CASE WHEN rn = (n + 1) // 2 THEN dev END) AS mad
                FROM rd GROUP BY event_type)
        SELECT d.event_type, CAST(MAX(d.n) AS BIGINT) AS n, MAX(d.med) AS med,
               MAX(mad.mad) AS mad,
               CAST(SUM(CASE WHEN d.dev > 3.0 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_out
        FROM d JOIN mad USING (event_type)
        GROUP BY d.event_type ORDER BY d.event_type""")),

    // ---- change-data-feed between snapshot versions ----------------------
    // Snapshots.diff: copy-on-write commits mean files common to both
    // manifests cannot contribute changes and are never read — the feed
    // costs (changed files) + one exceptAll over those rows, ∝ the touched
    // fraction (SnapshotsSpec proves untouched files stay closed). The
    // oracle states the change set DECLARATIVELY (what a logical diff of
    // the two states must contain), hash-gating the physical file-diff
    // machinery. Updates surface as delete + insert by design.
    "q127_snapshot_diff" -> Q(
      (s, dir) => {
        val base = t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderstatus")
        val work = Tables.derivedDir("graft_snap", s"$dir|orders_cdf")
        Tables.derivedClear(work)
        val table = s"$work/orders"
        graft.catalog.Snapshots.init(s, table, base, Some("o_orderstatus"))
        val replacement = base
          .filter(col("o_orderstatus") === "F" && col("o_orderkey") % 3 =!= 0)
          .withColumn("o_custkey", col("o_custkey") + lit(1000000L))
        graft.catalog.Snapshots.replacePartitions(s, table, replacement)
        graft.catalog.Snapshots.diff(s, table, 1, 2)
          .groupBy("_change")
          .agg(count(lit(1)).as("n"), sum(col("o_custkey")).as("sum_cust"),
            expr("bit_xor(o_orderkey)").as("xor_key"))
          .orderBy("_change")
      },
      Some("""WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus FROM orders),
        v2f AS (SELECT o_orderkey, o_custkey + 1000000 AS o_custkey, o_orderstatus
                FROM base WHERE o_orderstatus = 'F' AND o_orderkey % 3 <> 0),
        ch AS (SELECT 'delete' AS _change, * FROM base WHERE o_orderstatus = 'F'
               UNION ALL SELECT 'insert', * FROM v2f)
        SELECT _change, COUNT(*) AS n, CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
          CAST(bit_xor(o_orderkey) AS BIGINT) AS xor_key
        FROM ch GROUP BY _change ORDER BY _change""")),

    // ---- triangle counting on the user co-occurrence graph ---------------
    // Graph analytics beyond components/PageRank: users are connected when
    // they acted in the same (minute, event_type) bucket; triangles are the
    // cohesion signal (community detection's base motif). Construction is
    // a per-bucket self-join (blocking key bounds each join's cardinality
    // — never an all-pairs), and enumeration uses the a<b<c orientation so
    // every triangle counts exactly once, as two hash joins over the edge
    // list. Exact integer output; the xor over oriented triangle codes
    // pins the exact triangle SET, not just its size. At 100 TB the same
    // shape holds: bucketed co-occurrence bounds edge generation, and the
    // two edge-list joins shuffle on edge endpoints (AQE-skew-splittable);
    // a production variant would orient by degree instead of id to keep
    // hub fan-outs flat.
    "q130_triangle_count" -> Q(
      (s, dir) => {
        val edges = coEdges(s, dir)
        val ab = edges
        val bc = edges.select(col("a").as("b2"), col("b").as("c"))
        val ac = edges.select(col("a").as("a3"), col("b").as("c3"))
        val tri = ab
          .join(bc, col("b") === col("b2"))
          .join(ac, col("a") === col("a3") && col("c") === col("c3"))
          .select(col("a"), col("b"), col("c"))
        val nodes = edges.select(col("a").as("u"))
          .union(edges.select(col("b").as("u"))).distinct()
        nodes.agg(count(lit(1)).as("n_nodes"))
          .crossJoin(edges.agg(count(lit(1)).as("n_edges")))
          // triple-pack on residues mod 2^20-ish: raw a*1e12 clears INT64
          // already at ids ~9.2e6, where DuckDB raises and Spark wraps
          // (the Sssp.FpMod discipline, sized for three components:
          // max ≈ M·(M·M) ≈ 1.15e18 < 2^63)
          .crossJoin(tri.agg(count(lit(1)).as("n_triangles"),
            coalesce(expr("bit_xor(((a % 1048573) * 1048573 + (b % 1048573))" +
              " * 1048573 + (c % 1048573))"),
              lit(0L)).as("xor_tri")))
      },
      Some(s"""WITH e AS (${sqlCoEdges()}),
        tri AS (SELECT ab.a, ab.b, bc.b AS c
                FROM e ab JOIN e bc ON ab.b = bc.a
                          JOIN e ac ON ac.a = ab.a AND ac.b = bc.b),
        nn AS (SELECT COUNT(DISTINCT u) AS n_nodes FROM
                 (SELECT a AS u FROM e UNION ALL SELECT b FROM e)),
        ne AS (SELECT COUNT(*) AS n_edges FROM e),
        nt AS (SELECT COUNT(*) AS n_triangles,
                 COALESCE(bit_xor(((a % 1048573) * 1048573 + (b % 1048573))
                   * 1048573 + (c % 1048573)), 0) AS xor_tri
               FROM tri)
        SELECT CAST(n_nodes AS BIGINT) AS n_nodes, CAST(n_edges AS BIGINT) AS n_edges,
          CAST(n_triangles AS BIGINT) AS n_triangles, CAST(xor_tri AS BIGINT) AS xor_tri
        FROM nn, ne, nt""")),

    // ---- disjunctive-predicate revenue (TPC-H Q19 analogue) --------------
    // The OR-of-conjunctions shape that stresses predicate distribution:
    // the filter mixes part and lineitem columns under a 3-way OR, and
    // Catalyst must DISTRIBUTE each table's share of the disjunction below
    // the join (plan-gated: the part scan carries an Or(...) pushed
    // filter, so at 100 TB the scan discards non-qualifying parts before
    // any shuffle instead of joining the world and filtering after).
    "q131_disjunctive_revenue" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val p = t(s, dir, "part")
        val cond =
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 10) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(5, 20) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(10, 30) &&
            col("l_quantity").between(20, 30))
        li.join(p, col("l_partkey") === col("p_partkey"))
          .filter(cond)
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n"),
            Det.sumD(Det.money(col("l_extendedprice")) * Det.oneMinus(col("l_discount")))
              .as("revenue"))
          .orderBy("p_brand")
      },
      Some(s"""SELECT p_brand, COUNT(*) AS n,
          ${Det.sqlSumD(Det.sqlMoney("l_extendedprice") + " * " + Det.sqlOneMinus("l_discount"))} AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 5 AND 20
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 10 AND 30
               AND l_quantity BETWEEN 20 AND 30)
        GROUP BY p_brand ORDER BY p_brand""")),

    // ---- label-propagation communities on the co-occurrence graph --------
    // The fourth graph-analytics member (components q43, PageRank q118,
    // triangles q130): synchronous LPA over the same user co-occurrence
    // edges as q130, 4 rounds, most-frequent-neighbor-label with
    // smallest-label tie-break — pure integer votes, so an ITERATIVE
    // community detection hash-matches bit-for-bit against a DuckDB
    // round chain generated from the same rules (operators.Communities).
    // Output pins the exact node partition: per-community size + member
    // xor, never the (possibly huge) member list.
    "q132_lpa_communities" -> Q(
      (s, dir) => {
        val edges = coEdges(s, dir)
        graft.operators.Communities.labels(edges, "a", "b", iters = 4)
          .groupBy("label")
          .agg(count(lit(1)).as("n_members"),
            expr("bit_xor(node)").as("xor_members"))
          .orderBy("label")
      },
      Some {
        val lbl = graft.operators.Communities.oracleSql(
          sqlCoEdges("src", "dst"), iters = 4)
        s"""SELECT label, CAST(COUNT(*) AS BIGINT) AS n_members,
             CAST(bit_xor(node) AS BIGINT) AS xor_members
           FROM ($lbl) GROUP BY label ORDER BY label"""
      }),

    // ---- bloom-pruned selective join -------------------------------------
    // Build-side key-set pruning (operators.Prune + the BloomLongAgg /
    // graft_bloom_contains expressions): the urgent-recent order subset is
    // ~2% of orders, so its keys fold into a broadcast bloom bitmap and
    // lineitem drops non-joining rows inside its scan's codegen loop,
    // BEFORE the merge join's shuffle (the merge hint models the 100 TB
    // case where the dim outgrows a broadcast hash relation). False
    // positives survive the filter but die in the join — which is why the
    // oracle is the PLAIN join: the gate proves pruning changed nothing.
    // Plan-gated: the bloom probe sits below the shuffle (PlanShapeSpec).
    "q133_bloom_join" -> Q(
      (s, dir) => {
        val dim = t(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT" &&
            col("o_orderdate") >= to_timestamp(lit("2001-01-01 00:00:00")))
          .select("o_orderkey", "o_orderpriority")
        val fact = graft.operators.Prune.bloomSemiFilter(
          t(s, dir, "lineitem"), col("l_orderkey"), dim, col("o_orderkey"),
          numBits = 1 << 20)
        fact.join(dim.hint("merge"), col("l_orderkey") === col("o_orderkey"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            Det.sumD(Det.money(col("l_extendedprice")) * Det.oneMinus(col("l_discount")))
              .as("revenue"))
          .orderBy("l_returnflag")
      },
      Some(s"""SELECT l_returnflag, COUNT(*) AS n,
          ${Det.sqlSumD(Det.sqlMoney("l_extendedprice") + " * " + Det.sqlOneMinus("l_discount"))} AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT'
          AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- incrementally-maintained GROUP BY table (IVM) -------------------
    // catalog.Materialized.reconcileAgg: a per-(status, priority) summary
    // table FOLLOWS corpus mutations through the change feed — the feed
    // names the touched partitions, whose aggregate state is restated from
    // the corpus with one copy-on-write commit ('P' rides along untouched,
    // re-referenced by path). Crash-replay converges because each commit
    // restates touched partitions rather than adding deltas, which also
    // admits non-additive aggregates (the bit_xor here). The oracle states
    // the post-mutation aggregate declaratively, so the gate proves the
    // maintenance machinery equals a from-scratch GROUP BY.
    "q134_maintained_agg" -> Q(
      (s, dir) => {
        val base = t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
        def aggOf(df: DataFrame): DataFrame = df
          .groupBy("o_orderstatus", "o_orderpriority")
          .agg(count(lit(1)).as("n"), sum(col("o_custkey")).as("sum_cust"),
            expr("bit_xor(o_orderkey)").as("xor_key"))
        val work = Tables.derivedDir("graft_snap", s"$dir|orders_ivm")
        Tables.derivedClear(work)
        val corpus = s"$work/orders"
        val derived = s"$work/agg"
        graft.catalog.Snapshots.init(s, corpus, base, Some("o_orderstatus"))
        graft.catalog.Materialized.init(s, corpus, derived, "o_orderstatus")(aggOf)
        // one applyKeyed commit == delete-then-upsert (SnapshotsSpec-gated
        // equivalence): the touched partitions are read once and one pool
        // write + one manifest replace the two read-modify-write cycles
        // the sequential delete + upsert paid
        graft.catalog.Snapshots.applyKeyed(s, corpus,
          base.filter(col("o_orderstatus") === "F" && col("o_orderkey") % 7 === 0)
            .select("o_orderkey", "o_orderstatus"),
          base.filter(col("o_orderstatus") === "O" && col("o_orderkey") % 5 === 0)
            .withColumn("o_custkey", col("o_custkey") + lit(1000000L)),
          Seq("o_orderkey"))
        graft.catalog.Materialized.reconcileAgg(s, corpus, derived, "o_orderstatus")(aggOf)
        graft.catalog.Snapshots.read(s, derived)
          .select("o_orderstatus", "o_orderpriority", "n", "sum_cust", "xor_key")
          .orderBy("o_orderstatus", "o_orderpriority")
      },
      Some("""WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                 o_orderpriority FROM orders),
        mutated AS (SELECT o_orderkey,
            CASE WHEN o_orderstatus = 'O' AND o_orderkey % 5 = 0
                 THEN o_custkey + 1000000 ELSE o_custkey END AS o_custkey,
            o_orderstatus, o_orderpriority
          FROM base
          WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 7 = 0))
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
          CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
          CAST(bit_xor(o_orderkey) AS BIGINT) AS xor_key
        FROM mutated GROUP BY 1, 2 ORDER BY o_orderstatus, o_orderpriority""")),

    // ---- fuzzy join: ED-1 record linkage by deletion neighborhoods -------
    // operators.Fuzzy: every Levenshtein-1 pair of customer names found by
    // blocking on 1-deletion neighborhoods (SymSpell/FastSS) — candidates
    // from a keyed variant join, NEVER the n² cross product the oracle is
    // allowed to run (2000-key cap keeps the DuckDB side bounded at every
    // scale). Exact `levenshtein` post-filter on candidates; both engines'
    // implementations agree on classic edit distance, so the pair SET
    // hash-matches, summarized per key gap (digit-position structure of
    // the synthetic names) with an xor pinning exact membership.
    "q135_fuzzy_join" -> Q(
      (s, dir) => {
        val v = t(s, dir, "customer")
          .filter(col("c_custkey") <= 2000)
          .select(col("c_custkey").as("id"), col("c_name").as("nm"))
        graft.operators.Fuzzy.selfJoinEd1(v, "id", "nm")
          .groupBy((col("id_b") - col("id_a")).as("key_gap"))
          .agg(count(lit(1)).as("n"),
            expr("bit_xor(id_a * 1000000 + id_b)").as("xor_pair"))
          .orderBy("key_gap")
      },
      Some("""WITH v AS (SELECT c_custkey AS id, c_name AS nm FROM customer
                 WHERE c_custkey <= 2000)
        SELECT b.id - a.id AS key_gap, COUNT(*) AS n,
          CAST(bit_xor(a.id * 1000000 + b.id) AS BIGINT) AS xor_pair
        FROM v a JOIN v b ON a.id < b.id AND levenshtein(a.nm, b.nm) = 1
        GROUP BY 1 ORDER BY key_gap""")),

    // ---- data-quality validation report ----------------------------------
    // operators.Validate (the Deequ/Great-Expectations operator class):
    // completeness, range, domain and date-window predicates plus key
    // uniqueness — ALL counted in ONE orders scan (predicates as
    // conditional sums, uniqueness via the multi-count-distinct Expand) —
    // and two referential-integrity orphan checks as left-anti joins. The
    // freshness check intentionally FAILS (9020 stale rows at sf0.01), so
    // the gate covers both verdicts with exact violation counts. At
    // 100 TB the report costs one scan per table + one keyed anti join
    // per FK edge, and persisting it per batch gives drift monitoring.
    "q136_quality_checks" -> Q(
      (s, dir) => {
        val o = t(s, dir, "orders")
        val pred = graft.operators.Validate.checks(o, Seq(
            "orders.custkey_complete" -> col("o_custkey").isNotNull,
            "orders.date_in_window" -> col("o_orderdate").between(
              to_timestamp(lit("1995-01-01 00:00:00")),
              to_timestamp(lit("2001-12-31 23:59:59"))),
            "orders.fresh_since_1999" ->
              (col("o_orderdate") >= to_timestamp(lit("1999-01-01 00:00:00"))),
            "orders.status_domain" -> col("o_orderstatus").isin("O", "F", "P"),
            "orders.totalprice_positive" -> (col("o_totalprice") > 0.0)),
          uniqueKeys = Seq("orders.orderkey_unique" -> Seq("o_orderkey")))
        val fk1 = graft.operators.Validate.refIntegrity(
          "lineitem.orderkey_refs_orders",
          t(s, dir, "lineitem").select("l_orderkey"), Seq("l_orderkey"),
          o.select("o_orderkey"), Seq("o_orderkey"))
        val fk2 = graft.operators.Validate.refIntegrity(
          "orders.custkey_refs_customer",
          o.select("o_custkey"), Seq("o_custkey"),
          t(s, dir, "customer").select("c_custkey"), Seq("c_custkey"))
        pred.union(fk1).union(fk2).orderBy("check_name")
      },
      Some("""WITH rep AS (
          SELECT 'orders.custkey_complete' AS check_name, COUNT(*) AS n_rows,
            COALESCE(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0) AS n_bad
          FROM orders
          UNION ALL
          SELECT 'orders.date_in_window', COUNT(*),
            COALESCE(SUM(CASE WHEN o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
              AND TIMESTAMP '2001-12-31 23:59:59' THEN 0 ELSE 1 END), 0)
          FROM orders
          UNION ALL
          SELECT 'orders.fresh_since_1999', COUNT(*),
            COALESCE(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
              THEN 0 ELSE 1 END), 0)
          FROM orders
          UNION ALL
          SELECT 'orders.status_domain', COUNT(*),
            COALESCE(SUM(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END), 0)
          FROM orders
          UNION ALL
          SELECT 'orders.totalprice_positive', COUNT(*),
            COALESCE(SUM(CASE WHEN o_totalprice > 0.0 THEN 0 ELSE 1 END), 0)
          FROM orders
          UNION ALL
          SELECT 'orders.orderkey_unique', COUNT(*),
            COUNT(*) - COUNT(DISTINCT o_orderkey)
          FROM orders
          UNION ALL
          SELECT 'lineitem.orderkey_refs_orders',
            (SELECT COUNT(*) FROM lineitem),
            (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
              (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
          UNION ALL
          SELECT 'orders.custkey_refs_customer',
            (SELECT COUNT(*) FROM orders),
            (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
              (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)))
        SELECT check_name, CAST(n_rows AS BIGINT) AS n_rows,
          CAST(n_bad AS BIGINT) AS n_bad, n_bad = 0 AS pass
        FROM rep ORDER BY check_name""")),

    // ---- bilateral nation volume (TPC-H Q7 analogue) ---------------------
    // The two-role-dimension shape: nation joins TWICE under different
    // roles (supplier's nation via lineitem, customer's via orders), with
    // the disjunctive pair filter (A→B or B→A) evaluated above both.
    // Fact-fact joins shuffle on their keys (bucket-layout elidable);
    // supplier/customer-role dims broadcast. Exact decimal revenue.
    "q137_nation_volume" -> Q(
      (s, dir) => {
        val n1 = t(s, dir, "nation")
          .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
        val n2 = t(s, dir, "nation")
          .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
        t(s, dir, "lineitem")
          .filter(year(col("l_shipdate")).between(1997, 2000))
          .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
          .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
          .filter((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_8") ||
            (col("supp_nation") === "NATION_8" && col("cust_nation") === "NATION_3"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).cast("long").as("l_year"))
          .agg(count(lit(1)).as("n"),
            Det.sumD(Det.money(col("l_extendedprice")) * Det.oneMinus(col("l_discount")))
              .as("volume"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      },
      Some(s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
          CAST(year(l_shipdate) AS BIGINT) AS l_year, COUNT(*) AS n,
          ${Det.sqlSumD(Det.sqlMoney("l_extendedprice") + " * " + Det.sqlOneMinus("l_discount"))} AS volume
        FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE year(l_shipdate) BETWEEN 1997 AND 2000
          AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
            OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
        GROUP BY 1, 2, 3 ORDER BY supp_nation, cust_nation, l_year""")),

    // ---- market share (TPC-H Q8 analogue) --------------------------------
    // Conditional-share aggregation: one nation's fraction of a region's
    // STANDARD-part revenue per year. Numerator and denominator are the
    // SAME exact decimal sum (the numerator just gated on the supplier's
    // nation), and the published ratio divides their IEEE double casts —
    // deterministic on both engines, no decimal-division scale hazards.
    "q138_market_share" -> Q(
      (s, dir) => {
        val nCust = t(s, dir, "nation")
          .select(col("n_nationkey").as("cn_key"), col("n_regionkey").as("cr_key"))
        val nSupp = t(s, dir, "nation")
          .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
        val vol = Det.money(col("l_extendedprice")) * Det.oneMinus(col("l_discount"))
        t(s, dir, "lineitem")
          .join(broadcast(t(s, dir, "part").filter(col("p_type") === "STANDARD")),
            col("l_partkey") === col("p_partkey"))
          .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(nCust), col("c_nationkey") === col("cn_key"))
          .join(broadcast(t(s, dir, "region").filter(col("r_name") === "EUROPE")),
            col("cr_key") === col("r_regionkey"))
          .join(broadcast(nSupp), col("s_nationkey") === col("sn_key"))
          .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
          // no ELSE: the non-matching branch is NULL, which sum skips on
          // both engines and which keeps the branch type DECIMAL (an
          // `otherwise(0.0)` would coerce the whole sum to double)
          .agg(
            Det.sumD(when(col("supp_nation") === "NATION_3", vol)).as("nation_vol"),
            Det.sumD(vol).as("total_vol"))
          .withColumn("mkt_share",
            col("nation_vol").cast("double") / col("total_vol").cast("double"))
          .orderBy("o_year")
      },
      Some(s"""WITH flat AS (
          SELECT year(o_orderdate) AS o_year, n2.n_name AS supp_nation,
            l_extendedprice, l_discount
          FROM lineitem
            JOIN part ON l_partkey = p_partkey AND p_type = 'STANDARD'
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'EUROPE'
            JOIN nation n2 ON s_nationkey = n2.n_nationkey)
        SELECT CAST(o_year AS BIGINT) AS o_year,
          ${Det.sqlSumD("CASE WHEN supp_nation = 'NATION_3' THEN " +
            Det.sqlMoney("l_extendedprice") + " * " + Det.sqlOneMinus("l_discount") +
            " END")} AS nation_vol,
          ${Det.sqlSumD(Det.sqlMoney("l_extendedprice") + " * " + Det.sqlOneMinus("l_discount"))} AS total_vol,
          CAST(nation_vol AS DOUBLE) / CAST(total_vol AS DOUBLE) AS mkt_share
        FROM flat GROUP BY 1 ORDER BY o_year""")),

    // ---- HLL distinct-count rollup ---------------------------------------
    // catalog.Rollup with a DataSketches HLL counter: hourly distinct
    // users maintained incrementally from weekly batches — per-batch
    // sketches (hll_sketch_agg) union across batches at read, and
    // compaction folds the early batches into a MERGEABLE base sketch
    // (hll_union, never the estimate). Per-group cardinality (≤ 51 users
    // per hour-type at sf0.1) sits far inside the sketch's exact
    // (coupon-list) regime at lgK=14, so the estimate must EQUAL DuckDB's
    // exact COUNT(DISTINCT) — the gate proves the whole
    // append → compact → union → estimate chain loses nothing. At 100 TB
    // the rollup answers distinct-user questions from |groups|·|batches|
    // sketch rows, never rescanning history (and in the dense regime the
    // same chain degrades to ~1% error instead of failing).
    "q139_hll_rollup" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .withColumn("hr",
            date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss"))
        val work = Tables.derivedDir("graft_rollup", s"$dir|hll_hourly")
        Tables.derivedClear(work)
        val path = s"$work/hourly"
        val groupCols = Seq("hr", "event_type")
        val counters = Seq(
          "n" -> count(lit(1)),
          "users" -> hll_sketch_agg(col("user_id"), 14))
        val wk = ev.withColumn("wk",
          date_trunc("week", col("ts")).cast("date").cast("string"))
        // ONE events scan: the weekly batches are pre-split by a single
        // partitionBy-week staging write, and each appendBatch reads only
        // its own partition directory. The per-week `wk.filter(...)` loop
        // this replaces rescanned the full events table once per batch —
        // O(weeks) full scans, growing with the data span.
        val staging = s"$work/staging"
        // clustered by week before the partitioned write: one file per
        // week, not tasks x weeks small files (each appendBatch then
        // opens one footer; at cluster scale add more distribution keys
        // alongside wk to keep write parallelism)
        wk.repartition(col("wk")).write.partitionBy("wk").parquet(staging)
        // list the written partitions through the SAME Hadoop FS layer
        // that wrote them (a java.io.File listing silently assumes a
        // CWD-relative local warehouse — NPE on any other defaultFS)
        val stagingPath = new org.apache.hadoop.fs.Path(staging)
        val weeks = stagingPath.getFileSystem(s.sessionState.newHadoopConf())
          .listStatus(stagingPath)
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("wk="))
          .map(_.getPath.getName.stripPrefix("wk=")).sorted
        // protocol order preserved: w0, w1, mid-stream compact of exactly
        // those two — then the REMAINING weeks append CONCURRENTLY through
        // FanOut: each batch owns its own batch_id partition and dynamic
        // partition overwrite stages per job, so disjoint appends commute;
        // concurrent submission lets the small per-batch aggregate jobs
        // overlap instead of paying one serial job latency per week.
        weeks.take(2).zipWithIndex.foreach { case (w, i) =>
          graft.catalog.Rollup.appendBatch(s,
            s.read.parquet(s"$staging/wk=$w"), path, s"w$i", groupCols, counters)
          if (i == 1) // fold the first two batches into the base mid-stream
            graft.catalog.Rollup.compactAgg(s, path, groupCols,
              Seq("n" -> "sum", "users" -> "hll_union"))
        }
        graft.FanOut.map(s, weeks.drop(2).zipWithIndex.toSeq) { case (w, i) =>
          graft.catalog.Rollup.appendBatch(s,
            s.read.parquet(s"$staging/wk=$w"), path, s"w${i + 2}",
            groupCols, counters)
        }
        graft.catalog.Rollup.readAgg(s, path, groupCols,
            Seq("n" -> "sum", "users" -> "hll_estimate"))
          .orderBy("hr", "event_type")
      },
      Some("""SELECT STRFTIME(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hr,
          event_type, COUNT(*) AS n,
          COUNT(DISTINCT user_id) AS users
        FROM events GROUP BY 1, 2 ORDER BY hr, event_type""")),

    // ---- deterministic correlation / OLS regression ----------------------
    // operators.Stats: Pearson corr + regression line of quantity vs
    // extended price per return flag. Spark's corr/regr_* stream double
    // co-moments (merge-order-dependent low bits); here the five moment
    // sums accumulate EXACTLY in decimal, cast to double once, and both
    // engines evaluate the IDENTICAL IEEE expression tree — so even the
    // 53rd bit of a floating-point statistic hash-matches. Moments are
    // plain partial-aggregated sums: one |groups|-row shuffle at any
    // scale, and rollup-mergeable when the statistic must stay maintained.
    "q140_correlation" -> Q(
      (s, dir) => {
        graft.operators.Stats.moments(t(s, dir, "lineitem"),
            Seq("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
          .select(Seq(col("l_returnflag"), col("n")) ++
            graft.operators.Stats.corrCols(): _*)
          .orderBy("l_returnflag")
      },
      Some(s"""WITH m AS (SELECT l_returnflag,
            ${graft.operators.Stats.sqlMomentExprs("l_quantity", "l_extendedprice")}
          FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, n, ${graft.operators.Stats.sqlCorrCols}
        FROM m ORDER BY l_returnflag""")),

    // ---- forward as-of join ----------------------------------------------
    // The q49 mirror: each event enriched with the user's NEXT order (the
    // earliest o_orderdate >= ts) — next-quote semantics, DuckDB's
    // `ASOF JOIN ... ON l.ts <= r.t`. Same single key shuffle and
    // no-cross-product property as backward as-of; left rows sort before
    // right at equal timestamps so `>=` is inclusive on both engines.
    "q141_asof_forward" -> Q(
      (s, dir) => {
        val e = t(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
        val od = t(s, dir, "orders")
          .groupBy(col("o_custkey"), col("o_orderdate"))
          .agg(max(col("o_orderkey")).as("o_orderkey"))
        graft.operators.AsOfJoin.asOfForward(
            e, "user_id", "ts", od, "o_custkey", "o_orderdate", Seq("o_orderkey"))
          .select(col("event_id"), col("o_orderkey"))
          .orderBy("event_id")
      },
      Some("""WITH od AS (SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
                FROM orders GROUP BY o_custkey, o_orderdate)
        SELECT e.event_id, od.o_orderkey
        FROM events e ASOF LEFT JOIN od
          ON e.user_id = od.o_custkey AND e.ts <= od.o_orderdate
        ORDER BY event_id""")),

    // ---- native session windows (batch) ----------------------------------
    // Spark's built-in session_window operator cross-validated against the
    // classic gaps-and-islands SQL (the q18 formulation): merge semantics
    // — an event at exactly prev + gap starts a NEW session, end = last
    // event + gap — must agree event-for-event. q18 gates OUR islands
    // composition; q142 gates the ENGINE's native operator, so a Spark
    // upgrade changing session semantics trips the hash. Scale shape:
    // session_window is a single user_id-keyed aggregation, no window
    // sort of raw rows.
    "q142_session_window" -> Q(
      (s, dir) => {
        val f = "yyyy-MM-dd HH:mm:ss"
        t(s, dir, "events")
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"),
            date_format(col("w.start"), f).as("session_start"),
            date_format(col("w.end"), f).as("session_end"),
            col("n_events"))
          .orderBy("user_id", "session_start")
      },
      Some("""WITH x AS (SELECT user_id, ts,
            CASE WHEN LAG(ts) OVER u IS NULL THEN 1
                 WHEN ts - LAG(ts) OVER u >= INTERVAL 30 MINUTE THEN 1
                 ELSE 0 END AS new_s
          FROM events
          WINDOW u AS (PARTITION BY user_id ORDER BY ts, event_id)),
        y AS (SELECT user_id, ts,
            SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM x)
        SELECT user_id,
          STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
          STRFTIME(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
          COUNT(*) AS n_events
        FROM y GROUP BY user_id, sid
        ORDER BY user_id, session_start""")),

    // ---- 3-dimension Z-order layout key ----------------------------------
    // Layout.zValueN: the q110 gate generalized to three interleaved
    // dimensions (part, supplier, order keys at 8 bits each — a 24-bit
    // Morton key). The oracle's term list is GENERATED from the same
    // (bits, dims) constants as the unrolled Spark expression, so the two
    // interleaves cannot drift. Same integer-exact bucketing; file
    // skipping now prunes on any of THREE predicates.
    "q143_zorder3" -> Q(
      (s, dir) => {
        val z = graft.operators.Layout.withZValueN(
          t(s, dir, "lineitem")
            .select("l_returnflag", "l_partkey", "l_suppkey", "l_orderkey"),
          Seq("l_partkey", "l_suppkey", "l_orderkey"), bits = 8)
        z.groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            min(col("zval")).as("zmin"), max(col("zval")).as("zmax"),
            expr("bit_xor(zval)").as("zxor"))
          .orderBy("l_returnflag")
      },
      Some {
        val dims = Seq("l_partkey", "l_suppkey", "l_orderkey")
        val bits = 8
        val buckets = dims.zipWithIndex.map { case (c, d) =>
          s"((($c - mn$d) * ${1L << bits}) // (mx$d - mn$d + 1)) AS b$d"
        }.mkString(", ")
        val mm = dims.zipWithIndex.map { case (c, d) =>
          s"min($c) AS mn$d, max($c) AS mx$d"
        }.mkString(", ")
        val terms = (0 until bits).flatMap { i =>
          dims.indices.map(d => s"(((b$d >> $i) & 1) * ${1L << (3 * i + d)})")
        }.mkString(" + ")
        s"""WITH mm AS (SELECT $mm FROM lineitem),
          b AS (SELECT l_returnflag, $buckets FROM lineitem, mm),
          z AS (SELECT l_returnflag, $terms AS zval FROM b)
        SELECT l_returnflag, COUNT(*) AS n,
          CAST(MIN(zval) AS BIGINT) AS zmin, CAST(MAX(zval) AS BIGINT) AS zmax,
          CAST(bit_xor(zval) AS BIGINT) AS zxor
        FROM z GROUP BY l_returnflag ORDER BY l_returnflag"""
      }),

    // ---- NOT IN three-valued logic (null-aware anti join) ----------------
    // The classic SQL trap as a cross-engine gate: `x NOT IN (subquery)`
    // is NOT an anti join when the subquery can yield NULL — one NULL
    // makes the predicate UNKNOWN for every non-matching row, so the
    // poisoned variant returns 0 where the anti join would return
    // thousands. Spark plans this as a null-aware anti join (plan-gated);
    // both variants run the IDENTICAL SQL text on both engines. At scale
    // the null-aware variant requires the build side broadcast — the
    // price of 3VL — which is why pipelines that MEAN anti-join semantics
    // should write left_anti (q05), never NOT IN.
    "q144_not_in_nulls" -> Q(
      (s, dir) => {
        t(s, dir, "customer").createOrReplaceTempView("customer")
        t(s, dir, "orders").createOrReplaceTempView("orders")
        s.sql("""SELECT variant, n FROM (
            SELECT 'clean' AS variant, COUNT(*) AS n FROM customer
            WHERE c_custkey NOT IN
              (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
            UNION ALL
            SELECT 'poisoned', COUNT(*) FROM customer
            WHERE c_custkey NOT IN
              (SELECT CASE WHEN o_orderkey % 100 = 0 THEN NULL ELSE o_custkey END
               FROM orders WHERE o_orderpriority = '1-URGENT'))
          ORDER BY variant""")
      },
      Some("""SELECT variant, n FROM (
          SELECT 'clean' AS variant, COUNT(*) AS n FROM customer
          WHERE c_custkey NOT IN
            (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
          UNION ALL
          SELECT 'poisoned', COUNT(*) FROM customer
          WHERE c_custkey NOT IN
            (SELECT CASE WHEN o_orderkey % 100 = 0 THEN NULL ELSE o_custkey END
             FROM orders WHERE o_orderpriority = '1-URGENT'))
        ORDER BY variant""")),

    // ---- interpolated (continuous) quantiles -----------------------------
    // Type-7 linear interpolation (numpy/R default) on top of q52's
    // count-first machinery: position h = (n−1)·p is kept as EXACT integer
    // quotient+remainder (never a float rank), the two bracketing values
    // come off the distinct-value running-count table, and the one
    // interpolation step is a fixed IEEE tree — so a *continuous* quantile
    // hash-matches bit-for-bit. Work beyond the two hash aggregates is
    // |distinct values|, not |rows| (the q52 scale story), vs the oracle's
    // full ROW_NUMBER sort.
    "q145_quantile_cont" -> Q(
      (s, dir) => {
        val ps = Seq(25, 50, 75)
        val li = t(s, dir, "lineitem").select(col("l_returnflag"), col("l_extendedprice"))
        val vc = li.groupBy(col("l_returnflag"), col("l_extendedprice"))
          .agg(count(lit(1)).as("cnt"))
        val tot = li.groupBy("l_returnflag").agg(count(lit(1)).as("nn"))
        val wRun = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = vc.withColumn("cum", sum(col("cnt")).over(wRun))
          .join(broadcast(tot), Seq("l_returnflag"))
        val aggs = max(col("nn")).as("nn") +: ps.flatMap { p =>
          Seq(
            min(when(col("cum") >= expr(s"((nn - 1) * $p) div 100") + 1,
              col("l_extendedprice"))).as(s"lo$p"),
            min(when(col("cum") >= expr(s"((nn - 1) * $p) div 100") + 2,
              col("l_extendedprice"))).as(s"hi$p"))
        }
        val interps = ps.map { p =>
          val rem = expr(s"((nn - 1) * $p) % 100")
          val lo = col(s"lo$p").cast("double"); val hi = col(s"hi$p").cast("double")
          when(rem === 0, lo)
            .otherwise(lo + (rem.cast("double") / lit(100.0)) * (hi - lo))
            .as(s"p${p}c")
        }
        cum.groupBy("l_returnflag").agg(aggs.head, aggs.tail: _*)
          .select(Seq(col("l_returnflag"), col("nn").as("n")) ++ interps: _*)
          .orderBy("l_returnflag")
      },
      Some {
        val ps = Seq(25, 50, 75)
        val sel = ps.map { p =>
          s"""MAX(CASE WHEN rn = ((nn - 1) * $p) // 100 + 1 THEN l_extendedprice END) AS lo$p,
             MAX(CASE WHEN rn = ((nn - 1) * $p) // 100 + 2 THEN l_extendedprice END) AS hi$p"""
        }.mkString(",\n")
        val out = ps.map { p =>
          s"""CASE WHEN ((nn - 1) * $p) % 100 = 0 THEN CAST(lo$p AS DOUBLE)
               ELSE CAST(lo$p AS DOUBLE) + (CAST(((nn - 1) * $p) % 100 AS DOUBLE) / 100.0)
                    * (CAST(hi$p AS DOUBLE) - CAST(lo$p AS DOUBLE)) END AS p${p}c"""
        }.mkString(",\n")
        s"""WITH r AS (SELECT l_returnflag, l_extendedprice,
              ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
              COUNT(*) OVER (PARTITION BY l_returnflag) AS nn
            FROM lineitem),
          a AS (SELECT l_returnflag, MAX(nn) AS nn, $sel FROM r GROUP BY l_returnflag)
        SELECT l_returnflag, nn AS n, $out
        FROM a ORDER BY l_returnflag"""
      }),

    // ---- ordered string aggregation (listagg) ----------------------------
    // Order-SENSITIVE aggregation made deterministic: collect_list has no
    // cross-partition order, so the roster is collected as structs and
    // array_sort'ed by the explicit ORDER BY key before joining — the
    // composition that makes Spark's listagg equal DuckDB's
    // `string_agg(... ORDER BY ...)` bit-for-bit. Two rosters per region:
    // nations by key (a different column than the payload) and top
    // customers by balance rank. Collect sizes are bounded by the roster
    // cap, never the fact table.
    "q146_listagg" -> Q(
      (s, dir) => {
        val nations = broadcast(t(s, dir, "nation"))
          .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"))
          .agg(array_join(
            transform(array_sort(collect_list(struct(col("n_nationkey"), col("n_name")))),
              x => x("n_name")), ",").as("nations"))
        val topCust = t(s, dir, "customer")
          .filter(col("c_custkey") <= 500)
          .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
          .withColumn("rk", row_number().over(
            Window.partitionBy("r_name").orderBy(col("c_acctbal").desc, col("c_custkey"))))
          .filter(col("rk") <= 5)
          .groupBy("r_name")
          .agg(array_join(
            transform(array_sort(collect_list(struct(col("rk"), col("c_name")))),
              x => x("c_name")), ",").as("top_customers"))
        nations.join(topCust, Seq("r_name")).orderBy("r_name")
      },
      Some("""WITH tc AS (SELECT r_name, c_name,
            ROW_NUMBER() OVER (PARTITION BY r_name
              ORDER BY c_acctbal DESC, c_custkey) AS rk
          FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
          WHERE c_custkey <= 500),
        n AS (SELECT r_name, STRING_AGG(n_name, ',' ORDER BY n_nationkey) AS nations
          FROM nation JOIN region ON n_regionkey = r_regionkey GROUP BY r_name),
        t AS (SELECT r_name, STRING_AGG(c_name, ',' ORDER BY rk) AS top_customers
          FROM tc WHERE rk <= 5 GROUP BY r_name)
        SELECT n.r_name, nations, top_customers
        FROM n JOIN t ON n.r_name = t.r_name ORDER BY n.r_name""")),

    // ---- skewness / kurtosis (third and fourth moments) ------------------
    // operators.Stats.momentsHigher: the q140 discipline extended to
    // power sums s1..s4 (exact integer-unit chains — DECIMAL(38) on the
    // Spark side, HUGEINT in the oracle) and one fixed IEEE tree for
    // population skewness and excess kurtosis. m2^1.5 is spelled m2·√m2
    // because pow() is not correctly rounded and can differ across
    // engines; sqrt/×/÷ cannot.
    "q147_skew_kurtosis" -> Q(
      (s, dir) => {
        graft.operators.Stats.momentsHigher(t(s, dir, "lineitem"),
            Seq("l_returnflag"), col("l_extendedprice"))
          .select(Seq(col("l_returnflag"), col("n")) ++
            graft.operators.Stats.skewKurtCols(): _*)
          .orderBy("l_returnflag")
      },
      Some(s"""WITH m AS (SELECT l_returnflag,
            ${graft.operators.Stats.sqlMomentsHigher("l_extendedprice")}
          FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, n, ${graft.operators.Stats.sqlSkewKurtCols}
        FROM m ORDER BY l_returnflag""")),

    // ---- map-typed column pipeline ---------------------------------------
    // The map category end-to-end: per-user event-type counts built into a
    // MAP (map_from_entries over a sorted struct array), thresholded with
    // map_filter, re-expanded with map_entries + transform into a
    // canonical "type:n" roster. The oracle computes the same roster
    // directly from base columns — like q108's VARIANT gate, the hash
    // proves the whole build → filter → expand map pipeline is lossless,
    // not just that map functions run. All codegen-friendly builtins; the
    // only shuffle is the (user, type) count.
    "q148_map_funcs" -> Q(
      (s, dir) => {
        t(s, dir, "events")
          .filter(col("user_id") <= 50)
          .groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy("user_id")
          .agg(map_from_entries(array_sort(
            collect_list(struct(col("event_type"), col("cnt"))))).as("m"))
          .select(col("user_id"),
            size(col("m")).cast("long").as("n_types"),
            array_join(transform(map_entries(map_filter(col("m"), (_, v) => v >= 3)),
              e => concat(e("key"), lit(":"), e("value"))), ",").as("frequent"))
          .orderBy("user_id")
      },
      Some("""WITH c AS (SELECT user_id, event_type, COUNT(*) AS cnt
            FROM events WHERE user_id <= 50 GROUP BY 1, 2)
        SELECT user_id,
          COUNT(*) AS n_types,
          COALESCE(STRING_AGG(CASE WHEN cnt >= 3
              THEN event_type || ':' || CAST(cnt AS VARCHAR) END,
            ',' ORDER BY event_type), '') AS frequent
        FROM c GROUP BY user_id ORDER BY user_id""")),

    // ---- width_bucket histogram ------------------------------------------
    // Spark's width_bucket builtin gated against its own definition: the
    // oracle spells the IDENTICAL IEEE tree ((x−lo) / ((hi−lo)/nb),
    // floored, +1; out-of-range to 0 / nb+1), so a boundary-rounding
    // difference on ANY of the rows would flip a bucket count and trip
    // the hash. Equi-width histograms are the profiling workhorse — one
    // map-side bucket expression plus a |buckets| aggregate.
    "q149_width_bucket" -> Q(
      (s, dir) => {
        t(s, dir, "lineitem")
          .withColumn("bucket",
            width_bucket(col("l_extendedprice"), lit(900.0), lit(105000.0), lit(20L)))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"),
            Det.moneySum(col("l_extendedprice")).as("total"))
          .orderBy("bucket")
      },
      Some(s"""WITH b AS (SELECT l_extendedprice,
            CASE WHEN l_extendedprice < 900.0 THEN 0
                 WHEN l_extendedprice >= 105000.0 THEN 21
                 ELSE CAST(FLOOR((l_extendedprice - 900.0) / ((105000.0 - 900.0) / 20)) AS BIGINT) + 1
            END AS bucket
          FROM lineitem)
        SELECT bucket, COUNT(*) AS n, ${Det.sqlMoneySum("l_extendedprice")} AS total
        FROM b GROUP BY bucket ORDER BY bucket""")),

    // ---- winsorized aggregation ------------------------------------------
    // Outlier-robust means: clip each group's prices at the exact
    // nearest-lower-rank p05/p95 SELECTED values (Robust.quantileSelect —
    // count-first, no interpolation, so the fences are values present in
    // the data and exact cross-engine), then take the exact decimal mean
    // of the clipped column. Clipping is pure comparison — no new floats
    // are manufactured — so the whole result hash-matches.
    "q156_winsorized_stats" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val fences = graft.operators.Robust
          .quantileSelect(li, "l_returnflag", "l_extendedprice", Seq(5, 95))
          .select(col("l_returnflag"), col("n"), col("q5"), col("q95"))
        val clipped = li.join(broadcast(fences), "l_returnflag")
          .withColumn("w", when(col("l_extendedprice") < col("q5"), col("q5"))
            .when(col("l_extendedprice") > col("q95"), col("q95"))
            .otherwise(col("l_extendedprice")))
        clipped.groupBy("l_returnflag")
          .agg(max(col("n")).as("n"),
            max(col("q5")).as("lo_fence"), max(col("q95")).as("hi_fence"),
            sum(when(col("l_extendedprice") < col("q5"), 1L).otherwise(0L))
              .as("n_clip_lo"),
            sum(when(col("l_extendedprice") > col("q95"), 1L).otherwise(0L))
              .as("n_clip_hi"),
            Det.moneyAvg(col("w")).as("wmean"))
          .orderBy("l_returnflag")
      },
      Some(s"""WITH r AS (SELECT l_returnflag, l_extendedprice,
              ROW_NUMBER() OVER (PARTITION BY l_returnflag
                ORDER BY l_extendedprice) AS rn,
              COUNT(*) OVER (PARTITION BY l_returnflag) AS nn
            FROM lineitem),
          f AS (SELECT l_returnflag, MAX(nn) AS n,
              MAX(CASE WHEN rn = ((nn - 1) * 5) // 100 + 1
                THEN l_extendedprice END) AS q5,
              MAX(CASE WHEN rn = ((nn - 1) * 95) // 100 + 1
                THEN l_extendedprice END) AS q95
            FROM r GROUP BY l_returnflag),
          c AS (SELECT li.l_returnflag, n, q5, q95,
              CASE WHEN l_extendedprice < q5 THEN q5
                   WHEN l_extendedprice > q95 THEN q95
                   ELSE l_extendedprice END AS w,
              l_extendedprice
            FROM lineitem li JOIN f ON li.l_returnflag = f.l_returnflag)
        SELECT l_returnflag, MAX(n) AS n,
          MAX(q5) AS lo_fence, MAX(q95) AS hi_fence,
          CAST(SUM(CASE WHEN l_extendedprice < q5 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
          CAST(SUM(CASE WHEN l_extendedprice > q95 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
          ${Det.sqlMoneyAvg("w")} AS wmean
        FROM c GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- k-core decomposition on the co-occurrence graph -----------------
    // The fifth graph-analytics member (components q43, PageRank q118,
    // triangles q130, LPA q132): iterative degree-< k peeling over the
    // q130 user co-occurrence edges, k=3, 4 rounds. The gate pins the
    // WHOLE peeling trajectory (per-round survivor counts + node xor) —
    // an engine that peels differently in any round trips the hash. Each
    // round is one degree count + two edge-list semi joins; O(rounds)
    // edge shuffles, nothing quadratic (operators.KCore).
    "q157_kcore" -> Q(
      (s, dir) => {
        val edges = coEdges(s, dir)
        graft.operators.KCore.trajectory(edges, k = 3, rounds = 4)
      },
      Some(graft.operators.KCore.oracleSql(
        sqlCoEdges(),
        k = 3, rounds = 4))),

    // ---- 2-d skyline (Pareto frontier) -----------------------------------
    // Parts not strictly dominated under (cheapest retail price, largest
    // size). Count-first: the dominance check collapses to a running max
    // over DISTINCT price groups (operators.Skyline), never the classic
    // quadratic dominance self-join — which is exactly what the oracle
    // runs (EXCEPT-style NOT EXISTS), so the hash proves the window
    // rewrite IS the dominance semantics.
    "q159_skyline" -> Q(
      (s, dir) => graft.operators.Skyline
        .skyline2d(t(s, dir, "part")
          .select(col("p_partkey"), col("p_retailprice"), col("p_size")),
          "p_retailprice", "p_size")
        .select(col("p_partkey"), col("p_retailprice"),
          col("p_size").cast("long").as("p_size"))
        .orderBy("p_retailprice", "p_partkey"),
      Some("""SELECT p_partkey, p_retailprice, CAST(p_size AS BIGINT) AS p_size
        FROM part p
        WHERE NOT EXISTS (SELECT 1 FROM part q
          WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
            AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
        ORDER BY p_retailprice, p_partkey""")),

    // ---- mergeable quantile counters (KLL sketch aggregate) --------------
    // The native KLL TypedImperativeAggregate (expressions.Kll) run in its
    // EXACT regime: per-(nation, segment) groups max out at ~150 values,
    // far below the k=800 first-compaction capacity, where
    // getQuantile(p, INCLUSIVE) provably returns the order statistic at
    // position ceil(p*n) under ANY partial/merge order — which is
    // exactly what the count-first oracle selects. The same sketch
    // column is a Rollup counter (folds kll_union / kll_p50...), giving
    // incremental per-batch quantiles at 100 TB; the over-capacity
    // approximate regime is property-tested in KllSpec (rank-error
    // bound), the HeavyHitters/HLL split.
    "q160_kll_quantiles" -> Q(
      (s, dir) => {
        import graft.expressions.Kll
        val sk = t(s, dir, "customer")
          .groupBy("c_nationkey", "c_mktsegment")
          .agg(Kll.sketchAgg(col("c_acctbal"), k = 800).as("sk"))
        sk.select(col("c_nationkey"), col("c_mktsegment"),
            Kll.n(col("sk")).as("n"),
            Kll.quantile(col("sk"), 0.25).as("p25"),
            Kll.quantile(col("sk"), 0.50).as("p50"),
            Kll.quantile(col("sk"), 0.75).as("p75"))
          .orderBy("c_nationkey", "c_mktsegment")
      },
      Some("""WITH r AS (SELECT c_nationkey, c_mktsegment, c_acctbal,
              ROW_NUMBER() OVER (PARTITION BY c_nationkey, c_mktsegment
                ORDER BY c_acctbal) AS rn,
              COUNT(*) OVER (PARTITION BY c_nationkey, c_mktsegment) AS nn
            FROM customer)
        SELECT c_nationkey, c_mktsegment, MAX(nn) AS n,
          MAX(CASE WHEN rn = (25 * nn + 99) // 100 THEN c_acctbal END) AS p25,
          MAX(CASE WHEN rn = (50 * nn + 99) // 100 THEN c_acctbal END) AS p50,
          MAX(CASE WHEN rn = (75 * nn + 99) // 100 THEN c_acctbal END) AS p75
        FROM r GROUP BY c_nationkey, c_mktsegment
        ORDER BY c_nationkey, c_mktsegment""")),

    // ---- TPC-H Q9 analogue: product profit by nation and year -----------
    // Five-way join with the classic shape: the big fact (lineitem) joins
    // orders on its key, while the three dims (filtered part, supplier,
    // nation) broadcast — no dim ever shuffles the fact. Profit is exact
    // decimal arithmetic end-to-end (revenue minus a retail-cost proxy;
    // the fixtures carry no partsupp, so p_retailprice stands in for
    // ps_supplycost), one final IEEE cast per group.
    "q161_profit_by_nation" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val o = t(s, dir, "orders")
        val p = t(s, dir, "part").filter(col("p_type") === "PROMO")
        val sup = t(s, dir, "supplier")
        val n = t(s, dir, "nation")
        val amount = (Det.money(col("l_extendedprice")) * Det.oneMinus(col("l_discount")) -
          Det.money(col("p_retailprice")) * Det.money(col("l_quantity"))).as("amount")
        li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .select(col("n_name"), year(col("o_orderdate")).cast("long").as("o_year"), amount)
          .groupBy("n_name", "o_year")
          .agg(Det.sumD(col("amount")).as("profit"))
          .orderBy("n_name", "o_year")
      },
      Some(s"""SELECT n_name, CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
          ${Det.sqlSumD(Det.sqlMoney("l_extendedprice") + " * " + Det.sqlOneMinus("l_discount") +
            " - " + Det.sqlMoney("p_retailprice") + " * " + Det.sqlMoney("l_quantity"))} AS profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_type = 'PROMO'
        GROUP BY n_name, o_year ORDER BY n_name, o_year""")),

    // ---- TPC-H Q12 analogue: ship-delay bucket vs order priority --------
    // Conditional aggregation over a derived bucket (days from order to
    // ship, 30-day bins). The fixtures carry no l_shipmode, so the
    // bucket plays Q12's grouping role; the CASE split on priority is
    // Q12's verbatim. Integer day arithmetic, floor(x/30.0) — an exact
    // IEEE division of a small integer, identical in any engine.
    "q162_ship_delay_mix" -> Q(
      (s, dir) => {
        val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        t(s, dir, "lineitem")
          .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .withColumn("delay_bucket",
            floor(datediff(col("l_shipdate"), col("o_orderdate")) / lit(30.0)).cast("long"))
          .groupBy("delay_bucket")
          .agg(
            sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
            sum(when(!hi, 1L).otherwise(0L)).as("low_line_count"))
          .orderBy("delay_bucket")
      },
      Some("""SELECT CAST(FLOOR(date_diff('day', CAST(o_orderdate AS DATE),
            CAST(l_shipdate AS DATE)) / 30.0) AS BIGINT) AS delay_bucket,
          CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
          CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY delay_bucket ORDER BY delay_bucket""")),

    // ---- TPC-H Q13 analogue: customer order-count distribution ----------
    // The left-outer-with-ON-filter shape: customers keep their row (count
    // 0) when the filtered orders side has no match — a WHERE would
    // silently turn the join inner and drop them. Two-level aggregate:
    // per-customer counts, then the histogram of counts.
    "q163_cust_order_dist" -> Q(
      (s, dir) => {
        val o = t(s, dir, "orders").filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
        t(s, dir, "customer")
          .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
          .groupBy("c_custkey")
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy("c_count")
          .agg(count(lit(1)).as("custdist"))
          .orderBy(desc("custdist"), desc("c_count"))
      },
      Some("""SELECT c_count, COUNT(*) AS custdist FROM (
          SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM customer LEFT OUTER JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
          GROUP BY c_custkey)
        GROUP BY c_count ORDER BY custdist DESC, c_count DESC""")),

    // ---- TPC-H Q14 analogue: promo revenue share -------------------------
    // Numerator and denominator are the SAME exact decimal revenue sum
    // (the no-ELSE CASE keeps the branch DECIMAL and null-skipping, the
    // q138 market-share pattern); the share is two IEEE ops (mul, div)
    // in a fixed order. Date-pruned fact scan, broadcast part dim.
    "q164_promo_share" -> Q(
      (s, dir) => {
        val rev = Det.money(col("l_extendedprice")) * Det.oneMinus(col("l_discount"))
        t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01 00:00:00")) &&
            col("l_shipdate") < to_timestamp(lit("1998-01-01 00:00:00")))
          .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
          .agg(
            (lit(100.0) * Det.sumD(when(col("p_type") === "PROMO", rev)) /
              Det.sumD(rev)).as("promo_share"),
            count(lit(1)).as("n_lines"))
      },
      Some(s"""SELECT 100.0 * ${Det.sqlSumD(
          "CASE WHEN p_type = 'PROMO' THEN " + Det.sqlMoney("l_extendedprice") +
            " * " + Det.sqlOneMinus("l_discount") + " END")} /
          ${Det.sqlSumD(Det.sqlMoney("l_extendedprice") + " * " + Det.sqlOneMinus("l_discount"))}
            AS promo_share,
          COUNT(*) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'""")),

    // ---- TPC-H Q16 analogue: supplier count by part attributes ----------
    // COUNT(DISTINCT) under a NOT-IN exclusion: suppliers below an
    // account-balance floor are struck from consideration (the fixtures'
    // stand-in for Q16's complaint suppliers). s_suppkey is non-null, so
    // the null-aware NOT IN is exactly an anti join (the poisoned-null
    // variant is gated separately in q144).
    "q165_supplier_dist" -> Q(
      (s, dir) => {
        val bad = t(s, dir, "supplier").filter(col("s_acctbal") < 3000)
          .select(col("s_suppkey"))
        val p = t(s, dir, "part").filter(col("p_brand") =!= "Brand#1" &&
          col("p_type") =!= "ECONOMY" && col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
        t(s, dir, "lineitem")
          .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"), col("p_type"), col("p_size").cast("long").as("p_size"))
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"), col("p_size"))
      },
      Some("""SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
          COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#1' AND p_type <> 'ECONOMY'
          AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 3000)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")),

    // ---- TPC-H Q17 analogue: small-quantity revenue ----------------------
    // The correlated per-part average decorrelated to a window over the
    // ALREADY-FILTERED join (the part filter is on part attributes, so
    // filtering cannot change any part's average — the window sees every
    // lineitem of each surviving part). Exact decimal sum / count is one
    // IEEE division per part; the 0.2 threshold is one IEEE multiply.
    "q166_small_qty_revenue" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("l_partkey")
        t(s, dir, "lineitem")
          .join(broadcast(t(s, dir, "part").filter(col("p_type") === "SMALL")),
            col("l_partkey") === col("p_partkey"))
          .withColumn("avg_qty",
            sum(Det.money(col("l_quantity"))).over(w).cast("double") /
              count(col("l_quantity")).over(w))
          .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
          .agg(
            (Det.moneySum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"),
            count(lit(1)).as("n_small"))
      },
      Some(s"""WITH j AS (SELECT l_quantity, l_extendedprice,
            CAST(SUM(${Det.sqlMoney("l_quantity")})
                OVER (PARTITION BY l_partkey) AS DOUBLE) /
              COUNT(l_quantity) OVER (PARTITION BY l_partkey) AS avg_qty
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_type = 'SMALL')
        SELECT ${Det.sqlMoneySum("l_extendedprice")} / 7.0 AS avg_yearly,
          COUNT(*) AS n_small
        FROM j WHERE l_quantity < 0.2 * avg_qty""")),

    // ---- TPC-H Q11 analogue: important parts by inventory value ----------
    // Grouped HAVING against a global scalar: per-part revenue kept
    // DECIMAL, compared against the one-row global aggregate (broadcast
    // cross join). Q11's fixed fraction is replaced by a SCALE-INVARIANT
    // threshold — parts above 1.5× the mean per-part value — spelled as
    // the cross-multiplied integer/decimal inequality 2·pv·n > 3·total,
    // so the comparison never touches IEEE and the result is non-empty
    // at every sf (a fixed fraction of total empties as the part count
    // grows 100×).
    "q167_important_parts" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val pv = li.groupBy("l_partkey")
          .agg(sum(Det.money(col("l_extendedprice"))).as("pv"))
        val total = li.agg(
          sum(Det.money(col("l_extendedprice"))).as("tot"),
          countDistinct(col("l_partkey")).as("npart"))
        pv.crossJoin(broadcast(total))
          .filter(col("pv") * lit(2) * col("npart") > col("tot") * lit(3))
          .select(col("l_partkey"), col("pv").cast("double").as("value"))
          .orderBy(desc("value"), col("l_partkey"))
      },
      Some(s"""SELECT l_partkey, CAST(SUM(${Det.sqlMoney("l_extendedprice")}) AS DOUBLE) AS value
        FROM lineitem
        GROUP BY l_partkey
        HAVING SUM(${Det.sqlMoney("l_extendedprice")}) * 2 *
            (SELECT COUNT(DISTINCT l_partkey) FROM lineitem) >
          (SELECT SUM(${Det.sqlMoney("l_extendedprice")}) FROM lineitem) * 3
        ORDER BY value DESC, l_partkey""")),

    // ---- multi-source BFS hop distances ----------------------------------
    // The sixth graph-analytics member (operators.Bfs): exact hop layers
    // from a deterministic seed set over the q157 minute-co-occurrence
    // graph. The gate pins EVERY layer (count + node xor per distance) —
    // an engine whose frontier differs at any hop trips the hash. The
    // generated oracle chain replays the same set algebra, MATERIALIZED
    // per round.
    "q168_bfs_distances" -> Q(
      (s, dir) => {
        val edges = coEdges(s, dir)
        val seeds = t(s, dir, "events")
          .filter(col("user_id") % 7 === 0)
          .select(col("user_id").as("u")).distinct()
        graft.operators.Bfs.distances(edges, seeds, rounds = 3)
      },
      Some(graft.operators.Bfs.oracleSql(
        sqlCoEdges(),
        "SELECT DISTINCT user_id AS u FROM events WHERE user_id % 7 = 0",
        rounds = 3))),

    // ---- calendar densification + last-observation-carried-forward ------
    // The gap-filling primitive every time-series feature pipeline needs:
    // a (event_type × day) spine materialized from one min/max aggregate
    // (sequence + explode — generated, never scanned), left join of the
    // real daily counts, then LOCF via last(ignoreNulls) over an
    // event_type-partitioned running frame. Integer counts only — LOCF
    // copies values, so cross-engine bit equality is structural.
    "q169_gap_fill_locf" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_type"), to_date(col("ts")).as("day"))
        val daily = ev.groupBy("event_type", "day").agg(count(lit(1)).as("n"))
        val spine = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
          .select(explode(sequence(col("d0"), col("d1"))).as("day"))
          .crossJoin(ev.select("event_type").distinct())
        val w = Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        spine.join(daily, Seq("event_type", "day"), "left_outer")
          .select(col("event_type"),
            date_format(col("day"), "yyyy-MM-dd").as("day"), col("n"),
            last(col("n"), ignoreNulls = true).over(w).as("n_locf"),
            col("n").isNull.cast("int").cast("long").as("is_gap"))
          .orderBy("event_type", "day")
      },
      Some("""WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS day FROM events),
          daily AS (SELECT event_type, day, COUNT(*) AS n FROM ev GROUP BY 1, 2),
          spine AS (SELECT CAST(gs AS DATE) AS day FROM (
            SELECT UNNEST(generate_series(CAST(d0 AS TIMESTAMP),
              CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS gs
            FROM (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ev))),
          grid AS (SELECT et.event_type, spine.day
            FROM (SELECT DISTINCT event_type FROM ev) et, spine)
        SELECT g.event_type, STRFTIME(g.day, '%Y-%m-%d') AS day, d.n,
          LAST_VALUE(d.n IGNORE NULLS) OVER (PARTITION BY g.event_type
            ORDER BY g.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_locf,
          CAST(CASE WHEN d.n IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap
        FROM grid g LEFT JOIN daily d
          ON g.event_type = d.event_type AND g.day = d.day
        ORDER BY g.event_type, g.day""")),

    // ---- per-group mode + discrete median --------------------------------
    // The two order-statistic aggregates the relational surface had not
    // yet named: MODE with a deterministic tie-break (highest count,
    // then smallest value — a row_number over the count table, never a
    // value-domain collect) and PERCENTILE_DISC(0.5) via the count-first
    // selection of operators.Robust (the value is SELECTED, never
    // interpolated, so bit equality is structural).
    "q170_mode_median" -> Q(
      (s, dir) => {
        val cust = t(s, dir, "customer")
        val wm = Window.partitionBy("c_nationkey")
          .orderBy(desc("cnt"), col("c_mktsegment"))
        val mode = cust.groupBy("c_nationkey", "c_mktsegment")
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(wm))
          .filter(col("rn") === 1)
          .select(col("c_nationkey"), col("c_mktsegment").as("mode_segment"),
            col("cnt").as("mode_n"))
        val med = graft.operators.Robust
          .quantileSelect(cust, "c_nationkey", "c_acctbal", Seq(50))
          .select(col("c_nationkey"), col("q50").as("p50_acctbal"))
        mode.join(med, "c_nationkey").orderBy("c_nationkey")
      },
      Some("""WITH cnt AS (SELECT c_nationkey, c_mktsegment, COUNT(*) AS cnt
            FROM customer GROUP BY 1, 2),
          mode AS (SELECT c_nationkey, c_mktsegment AS mode_segment, cnt AS mode_n
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY c_nationkey
                ORDER BY cnt DESC, c_mktsegment) AS rn FROM cnt)
            WHERE rn = 1),
          r AS (SELECT c_nationkey, c_acctbal,
              ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal) AS rn,
              COUNT(*) OVER (PARTITION BY c_nationkey) AS nn
            FROM customer),
          med AS (SELECT c_nationkey,
              MAX(CASE WHEN rn = ((nn - 1) * 50) // 100 + 1
                THEN c_acctbal END) AS p50_acctbal
            FROM r GROUP BY c_nationkey)
        SELECT mode.c_nationkey, mode_segment, mode_n, p50_acctbal
        FROM mode JOIN med ON mode.c_nationkey = med.c_nationkey
        ORDER BY mode.c_nationkey""")),

    // ---- association rules over per-user event baskets -------------------
    // Market-basket support / confidence / lift: baskets are the distinct
    // (user, event_type) pairs, pair supports come from a user-keyed
    // self-join (bounded: a user's basket is capped by the event-type
    // domain, so the join fan-out is |basket|², never |events|²), item
    // counts broadcast back. All counts are integers; confidence and
    // lift are each ONE IEEE division of integer operands.
    "q171_assoc_rules" -> Q(
      (s, dir) => {
        val b = t(s, dir, "events").select("user_id", "event_type").distinct()
        val nUsers = b.agg(countDistinct(col("user_id")).as("n_users"))
        val itemCnt = b.groupBy("event_type").agg(count(lit(1)).as("cnt"))
        val pairs = b.as("x")
          .join(b.withColumnRenamed("event_type", "event_b").as("y"), "user_id")
          .filter(col("event_type") < col("event_b"))
          .groupBy(col("event_type").as("ante"), col("event_b").as("cons"))
          .agg(count(lit(1)).as("support"))
        pairs
          .join(broadcast(itemCnt.select(col("event_type").as("ante"), col("cnt").as("cnt_a"))), "ante")
          .join(broadcast(itemCnt.select(col("event_type").as("cons"), col("cnt").as("cnt_b"))), "cons")
          .crossJoin(broadcast(nUsers))
          .select(col("ante"), col("cons"), col("support"),
            (col("support") / col("cnt_a")).as("confidence"),
            ((col("support") * col("n_users")) / (col("cnt_a") * col("cnt_b"))).as("lift"))
          .orderBy("ante", "cons")
      },
      Some("""WITH b AS (SELECT DISTINCT user_id, event_type FROM events),
          n AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM b),
          ic AS (SELECT event_type, COUNT(*) AS cnt FROM b GROUP BY 1),
          p AS (SELECT x.event_type AS ante, y.event_type AS cons,
              COUNT(*) AS support
            FROM b x JOIN b y ON x.user_id = y.user_id
              AND x.event_type < y.event_type
            GROUP BY 1, 2)
        SELECT ante, cons, support,
          support / ia.cnt AS confidence,
          (support * n_users) / (ia.cnt * ib.cnt) AS lift
        FROM p JOIN ic ia ON p.ante = ia.event_type
          JOIN ic ib ON p.cons = ib.event_type, n
        ORDER BY ante, cons""")),

    // ---- RFM customer segmentation ---------------------------------------
    // The classic recency/frequency/monetary scoring: one orders pass
    // builds the per-customer triple (integer days, integer count, exact
    // decimal sum), quintile FENCES come from the count-first selection
    // of operators.Robust (values SELECTED from the data — never an
    // ntile, whose tie handling is row-order-dependent), and each score
    // is a fence comparison. Monetary fences compare in DECIMAL, so no
    // IEEE enters until the output cast.
    "q174_rfm_segments" -> Q(
      (s, dir) => {
        val anchor = to_timestamp(lit("2001-09-01 00:00:00"))
        // pinned (graft.Pin): the per-customer RFM table feeds three
        // quantile-fence subplans and the scored join (measured unpinned:
        // 4 × ~1 s 32-task stages, one pinned). |custkeys| rows.
        val rfm = graft.Pin(t(s, dir, "orders").groupBy("o_custkey")
          .agg(
            datediff(anchor, max(col("o_orderdate"))).cast("long").as("recency"),
            count(lit(1)).as("freq"),
            sum(Det.money(col("o_totalprice"))).as("monetary"))
          .withColumn("g", lit(1))).df
        def fences(v: String, tag: String) = graft.operators.Robust
          .quantileSelect(rfm, "g", v, Seq(20, 40, 60, 80))
          .select(col("g"), col("q20").as(s"${tag}20"), col("q40").as(s"${tag}40"),
            col("q60").as(s"${tag}60"), col("q80").as(s"${tag}80"))
        def scoreUp(v: Column, tag: String) =
          when(v <= col(s"${tag}20"), 1L).when(v <= col(s"${tag}40"), 2L)
            .when(v <= col(s"${tag}60"), 3L).when(v <= col(s"${tag}80"), 4L)
            .otherwise(5L)
        val scored = rfm
          .join(broadcast(fences("recency", "r")), "g")
          .join(broadcast(fences("freq", "f")), "g")
          .join(broadcast(fences("monetary", "m")), "g")
          .withColumn("r_score", lit(6L) - scoreUp(col("recency"), "r"))
          .withColumn("f_score", scoreUp(col("freq"), "f"))
          .withColumn("m_score", scoreUp(col("monetary"), "m"))
        scored.select(col("o_custkey"), col("recency"), col("freq"),
            col("monetary").cast("double").as("monetary"),
            col("r_score"), col("f_score"), col("m_score"),
            when(col("r_score") >= 4 && col("f_score") >= 4 && col("m_score") >= 4, "champion")
              .when(col("r_score") <= 2 && col("f_score") <= 2, "at_risk")
              .when(col("m_score") >= 4, "big_spender")
              .otherwise("regular").as("segment"))
          .orderBy("o_custkey")
      },
      Some(s"""WITH rfm AS (SELECT o_custkey,
            CAST(date_diff('day', CAST(MAX(o_orderdate) AS DATE),
              DATE '2001-09-01') AS BIGINT) AS recency,
            COUNT(*) AS freq,
            SUM(${Det.sqlMoney("o_totalprice")}) AS monetary
          FROM orders GROUP BY o_custkey),
          fr AS (SELECT MAX(CASE WHEN rn = ((nn - 1) * 20) // 100 + 1 THEN v END) AS r20,
              MAX(CASE WHEN rn = ((nn - 1) * 40) // 100 + 1 THEN v END) AS r40,
              MAX(CASE WHEN rn = ((nn - 1) * 60) // 100 + 1 THEN v END) AS r60,
              MAX(CASE WHEN rn = ((nn - 1) * 80) // 100 + 1 THEN v END) AS r80
            FROM (SELECT recency AS v, ROW_NUMBER() OVER (ORDER BY recency) AS rn,
              COUNT(*) OVER () AS nn FROM rfm)),
          ff AS (SELECT MAX(CASE WHEN rn = ((nn - 1) * 20) // 100 + 1 THEN v END) AS f20,
              MAX(CASE WHEN rn = ((nn - 1) * 40) // 100 + 1 THEN v END) AS f40,
              MAX(CASE WHEN rn = ((nn - 1) * 60) // 100 + 1 THEN v END) AS f60,
              MAX(CASE WHEN rn = ((nn - 1) * 80) // 100 + 1 THEN v END) AS f80
            FROM (SELECT freq AS v, ROW_NUMBER() OVER (ORDER BY freq) AS rn,
              COUNT(*) OVER () AS nn FROM rfm)),
          fm AS (SELECT MAX(CASE WHEN rn = ((nn - 1) * 20) // 100 + 1 THEN v END) AS m20,
              MAX(CASE WHEN rn = ((nn - 1) * 40) // 100 + 1 THEN v END) AS m40,
              MAX(CASE WHEN rn = ((nn - 1) * 60) // 100 + 1 THEN v END) AS m60,
              MAX(CASE WHEN rn = ((nn - 1) * 80) // 100 + 1 THEN v END) AS m80
            FROM (SELECT monetary AS v, ROW_NUMBER() OVER (ORDER BY monetary) AS rn,
              COUNT(*) OVER () AS nn FROM rfm)),
          sc AS (SELECT o_custkey, recency, freq, monetary,
            6 - (CASE WHEN recency <= r20 THEN 1 WHEN recency <= r40 THEN 2
              WHEN recency <= r60 THEN 3 WHEN recency <= r80 THEN 4 ELSE 5 END) AS r_score,
            CASE WHEN freq <= f20 THEN 1 WHEN freq <= f40 THEN 2
              WHEN freq <= f60 THEN 3 WHEN freq <= f80 THEN 4 ELSE 5 END AS f_score,
            CASE WHEN monetary <= m20 THEN 1 WHEN monetary <= m40 THEN 2
              WHEN monetary <= m60 THEN 3 WHEN monetary <= m80 THEN 4 ELSE 5 END AS m_score
          FROM rfm, fr, ff, fm)
        SELECT o_custkey, recency, freq, CAST(monetary AS DOUBLE) AS monetary,
          CAST(r_score AS BIGINT) AS r_score, CAST(f_score AS BIGINT) AS f_score,
          CAST(m_score AS BIGINT) AS m_score,
          CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
            WHEN r_score <= 2 AND f_score <= 2 THEN 'at_risk'
            WHEN m_score >= 4 THEN 'big_spender'
            ELSE 'regular' END AS segment
        FROM sc ORDER BY o_custkey""")),

    // ---- peak concurrency by sweep line ----------------------------------
    // "Max concurrent sessions per day": per-(user, day) activity
    // intervals become +1/-1 boundary events; a day-partitioned running
    // sum is the live concurrency, its max the peak, the earliest
    // attaining instant the peak time. The interval-overlap SELF-JOIN
    // this replaces is quadratic in the busiest hour; the sweep is one
    // sort per day partition. Identical total order on both engines
    // ((t, +1-first, user_id)) makes every intermediate running value —
    // not just the block maxima — bit-identical.
    "q175_peak_concurrency" -> Q(
      (s, dir) => {
        val iv = t(s, dir, "events")
          .groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(min(col("ts")).as("st"), max(col("ts")).as("en"))
        val pts = iv.select(col("day"), col("user_id"), col("st").as("t"), lit(1L).as("delta"))
          .union(iv.select(col("day"), col("user_id"), col("en").as("t"), lit(-1L).as("delta")))
        val sweep = Window.partitionBy("day")
          .orderBy(col("t"), col("delta").desc, col("user_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val run = pts.withColumn("running", sum(col("delta")).over(sweep))
          .withColumn("peak", max(col("running")).over(Window.partitionBy("day")))
        run.groupBy("day").agg(
            max(col("peak")).as("peak"),
            sum(when(col("delta") === 1, 1L).otherwise(0L)).as("n_intervals"),
            date_format(min(when(col("running") === col("peak"), col("t"))),
              "yyyy-MM-dd HH:mm:ss").as("peak_ts"))
          .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("peak"), col("n_intervals"), col("peak_ts"))
          .orderBy("day")
      },
      Some("""WITH iv AS (SELECT user_id, CAST(ts AS DATE) AS day,
            MIN(ts) AS st, MAX(ts) AS en FROM events GROUP BY 1, 2),
          pts AS (SELECT day, user_id, st AS t, 1 AS delta FROM iv
            UNION ALL SELECT day, user_id, en, -1 FROM iv),
          run AS (SELECT day, t, delta,
              SUM(delta) OVER (PARTITION BY day
                ORDER BY t, delta DESC, user_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
            FROM pts),
          pk AS (SELECT *, MAX(running) OVER (PARTITION BY day) AS peak FROM run)
        SELECT STRFTIME(day, '%Y-%m-%d') AS day,
          CAST(MAX(peak) AS BIGINT) AS peak,
          CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_intervals,
          STRFTIME(MIN(CASE WHEN running = peak THEN t END),
            '%Y-%m-%d %H:%M:%S') AS peak_ts
        FROM pk GROUP BY day ORDER BY day""")),

    // ---- key-skew diagnostics: Gini coefficient of the key histogram -----
    // The engine's own medicine: quantify how skewed a key distribution
    // is (the q87-salting / AQE-skew-join decision input) as the exact
    // Gini of per-user activity counts. Count-first: ranks never touch
    // raw rows — a window over DISTINCT count values assigns each value
    // run its closed-form rank-sum contribution c·(m·r0 + m(m+1)/2), so
    // the only window is value-domain bounded. Numerator/denominator
    // stay BIGINT; gini is ONE IEEE division.
    "q176_key_skew_gini" -> Q(
      (s, dir) => {
        val cu = t(s, dir, "events")
          .groupBy("event_type", "user_id").agg(count(lit(1)).as("c"))
        val byVal = cu.groupBy("event_type", "c").agg(count(lit(1)).as("m"))
        val wPrev = Window.partitionBy("event_type").orderBy("c")
          .rowsBetween(Window.unboundedPreceding, -1)
        val ranked = byVal
          .withColumn("r0", coalesce(sum(col("m")).over(wPrev), lit(0L)))
          .withColumn("contrib", col("c") * (col("m") * col("r0") +
            expr("(m * (m + 1)) div 2")))
        ranked.groupBy("event_type")
          .agg(sum(col("m")).as("n_users"), sum(col("c") * col("m")).as("total"),
            sum(col("contrib")).as("s1"))
          .select(col("event_type"), col("n_users"), col("total"),
            (lit(2) * col("s1") - (col("n_users") + 1) * col("total")).as("gini_num"),
            (col("n_users") * col("total")).as("gini_den"),
            ((lit(2) * col("s1") - (col("n_users") + 1) * col("total")) /
              (col("n_users") * col("total"))).as("gini"))
          .orderBy("event_type")
      },
      Some("""WITH cu AS (SELECT event_type, user_id, COUNT(*) AS c
            FROM events GROUP BY 1, 2),
          bv AS (SELECT event_type, c, COUNT(*) AS m FROM cu GROUP BY 1, 2),
          rk AS (SELECT event_type, c, m,
              COALESCE(SUM(m) OVER (PARTITION BY event_type ORDER BY c
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS r0
            FROM bv),
          ag AS (SELECT event_type, SUM(m) AS n_users, SUM(c * m) AS total,
              SUM(c * (m * r0 + (m * (m + 1)) // 2)) AS s1
            FROM rk GROUP BY event_type)
        SELECT event_type, CAST(n_users AS BIGINT) AS n_users,
          CAST(total AS BIGINT) AS total,
          CAST(2 * s1 - (n_users + 1) * total AS BIGINT) AS gini_num,
          CAST(n_users * total AS BIGINT) AS gini_den,
          (2 * s1 - (n_users + 1) * total) / (n_users * total) AS gini
        FROM ag ORDER BY event_type""")),

    // ---- cross-source reconciliation report ------------------------------
    // The migration/consistency audit every pipeline handoff needs: does
    // the order header total equal the lineitem-derived total? One full
    // outer join classifies every key (no_lines / orphan_lines / match /
    // mismatch within a cent) and quantifies the drift — the delta sum
    // stays DECIMAL until the output cast, the tolerance compare is
    // decimal-vs-decimal. (On these fixtures header totals are
    // independent of lines, so the report is all no_lines+mismatch —
    // which is the point: reconciliation MEASURES it.)
    "q177_reconcile_totals" -> Q(
      (s, dir) => {
        val lt = t(s, dir, "lineitem").groupBy("l_orderkey")
          .agg(sum(Det.money(col("l_extendedprice")) * Det.oneMinus(col("l_discount")) *
            Det.onePlus(col("l_tax"))).as("line_total"))
        val rec = t(s, dir, "orders")
          .join(lt, col("o_orderkey") === col("l_orderkey"), "full_outer")
          .withColumn("delta",
            abs(Det.money(col("o_totalprice")) - col("line_total")))
          .withColumn("status",
            when(col("l_orderkey").isNull, "no_lines")
              .when(col("o_orderkey").isNull, "orphan_lines")
              .when(col("delta") < lit(new java.math.BigDecimal("0.01")), "match")
              .otherwise("mismatch"))
        rec.groupBy("status")
          .agg(count(lit(1)).as("n"),
            coalesce(sum(col("delta")).cast("double"), lit(0.0)).as("abs_drift"),
            min(coalesce(col("o_orderkey"), col("l_orderkey"))).as("min_key"),
            max(coalesce(col("o_orderkey"), col("l_orderkey"))).as("max_key"))
          .orderBy("status")
      },
      Some(s"""WITH lt AS (SELECT l_orderkey,
            SUM(${Det.sqlMoney("l_extendedprice")} * ${Det.sqlOneMinus("l_discount")} *
              ${Det.sqlOnePlus("l_tax")}) AS line_total
          FROM lineitem GROUP BY l_orderkey),
          rec AS (SELECT o_orderkey, l_orderkey,
            ABS(${Det.sqlMoney("o_totalprice")} - line_total) AS delta,
            CASE WHEN l_orderkey IS NULL THEN 'no_lines'
              WHEN o_orderkey IS NULL THEN 'orphan_lines'
              WHEN ABS(${Det.sqlMoney("o_totalprice")} - line_total)
                < CAST(0.01 AS DECIMAL(3,2)) THEN 'match'
              ELSE 'mismatch' END AS status
          FROM orders FULL OUTER JOIN lt ON o_orderkey = l_orderkey)
        SELECT status, COUNT(*) AS n,
          COALESCE(CAST(SUM(delta) AS DOUBLE), 0.0) AS abs_drift,
          MIN(COALESCE(o_orderkey, l_orderkey)) AS min_key,
          MAX(COALESCE(o_orderkey, l_orderkey)) AS max_key
        FROM rec GROUP BY status ORDER BY status""")),

    // ---- seasonal-baseline anomaly surface -------------------------------
    // Day-of-week seasonality: each (event_type, isodow) cell gets an
    // average daily-count baseline from its own history, and the cell's
    // MOST anomalous day (highest count, earliest-day tie-break) is
    // surfaced with its lift over baseline. A fixed "> k x baseline"
    // cutoff empties as data grows (daily counts concentrate), so the
    // report is the top-1 per cell — non-vacuous at every scale, and the
    // lift column ranks severity. Lift = c·den/num is two IEEE ops of
    // integer operands in a fixed order; everything upstream is counts.
    "q178_seasonal_anomaly" -> Q(
      (s, dir) => {
        val daily = t(s, dir, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("c"))
          .withColumn("dw", (weekday(col("day")) + 1).cast("long"))
        val base = daily.groupBy("event_type", "dw")
          .agg(sum(col("c")).as("num"), count(lit(1)).as("den"))
        val w = Window.partitionBy("event_type", "dw")
          .orderBy(desc("c"), col("day"))
        daily.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .join(broadcast(base), Seq("event_type", "dw"))
          .select(col("event_type"), col("dw"),
            date_format(col("day"), "yyyy-MM-dd").as("peak_day"),
            col("c"), col("num"), col("den"),
            (col("c").cast("double") * col("den") / col("num")).as("lift"))
          .orderBy("event_type", "dw")
      },
      Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
            COUNT(*) AS c FROM events GROUP BY 1, 2),
          d2 AS (SELECT *, CAST(isodow(day) AS BIGINT) AS dw FROM daily),
          base AS (SELECT event_type, dw, SUM(c) AS num, COUNT(*) AS den
            FROM d2 GROUP BY 1, 2),
          pk AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY event_type, dw ORDER BY c DESC, day) AS rn
            FROM d2) WHERE rn = 1)
        SELECT pk.event_type, pk.dw, STRFTIME(pk.day, '%Y-%m-%d') AS peak_day,
          c, CAST(num AS BIGINT) AS num, den,
          CAST(c AS DOUBLE) * den / num AS lift
        FROM pk JOIN base ON pk.event_type = base.event_type AND pk.dw = base.dw
        ORDER BY pk.event_type, pk.dw""")),

    // ---- error-rate monitoring with Wilson confidence intervals ----------
    // The SLO report a small daily sample deserves: per-day error share
    // with the Wilson 95% interval (the right interval near 0/1 where
    // the normal approximation lies). IEEE sqrt is CORRECTLY ROUNDED by
    // the standard (unlike pow/log, which q147 already avoids), so the
    // fixed expression tree — integer operands, z² = 3.8416 as one
    // literal — is bit-identical cross-engine.
    "q185_error_rate_ci" -> Q(
      (s, dir) => {
        val z2 = lit(3.8416) // 1.96²
        val daily = t(s, dir, "events")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("e"))
        val nn = col("n").cast("double")
        val p = col("e") / col("n")
        val center = (p + z2 / (lit(2.0) * nn)) / (lit(1.0) + z2 / nn)
        val half = (sqrt(p * (lit(1.0) - p) / nn + z2 / (lit(4.0) * nn * nn)) *
          lit(1.96)) / (lit(1.0) + z2 / nn)
        daily.select(date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("n"), col("e"), p.as("p_hat"),
            (center - half).as("wilson_lo"), (center + half).as("wilson_hi"))
          .orderBy("day")
      },
      Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n,
            SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS e
          FROM events GROUP BY 1)
        SELECT STRFTIME(day, '%Y-%m-%d') AS day, n, CAST(e AS BIGINT) AS e,
          e / n AS p_hat,
          ((e / n + 3.8416 / (2.0 * CAST(n AS DOUBLE)))
             / (1.0 + 3.8416 / CAST(n AS DOUBLE)))
            - (SQRT((e / n) * (1.0 - e / n) / CAST(n AS DOUBLE)
                 + 3.8416 / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) * 1.96)
              / (1.0 + 3.8416 / CAST(n AS DOUBLE)) AS wilson_lo,
          ((e / n + 3.8416 / (2.0 * CAST(n AS DOUBLE)))
             / (1.0 + 3.8416 / CAST(n AS DOUBLE)))
            + (SQRT((e / n) * (1.0 - e / n) / CAST(n AS DOUBLE)
                 + 3.8416 / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) * 1.96)
              / (1.0 + 3.8416 / CAST(n AS DOUBLE)) AS wilson_hi
        FROM daily ORDER BY day""")),

    // ---- Hilbert-curve layout keys ---------------------------------------
    // The locality-optimal sibling of q110/q143's Morton keys: consecutive
    // Hilbert indices are ALWAYS unit-adjacent cells, so range-partitioned
    // files cover tighter rectangles and footer stats prune better on both
    // dimensions. The per-bit fold is `bits` chained projections of
    // non-negative integer div/mod arithmetic (operators.Layout
    // .withHilbert2); the oracle replays the SAME generated round chain,
    // and LayoutSpec proves the unit-adjacency property independently.
    "q186_hilbert_layout" -> Q(
      (s, dir) => {
        val p = t(s, dir, "part")
          .withColumn("x", (col("p_size") * 5).cast("long"))
          .withColumn("y", greatest(lit(0L), expr(
            "(CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT) - 90000) div 64")))
        graft.operators.Layout.withHilbert2(p, "x", "y", bits = 8, out = "h")
          .select(col("p_partkey").as("key"), col("x"), col("y"), col("h"))
          .orderBy("h", "key")
      },
      Some(graft.operators.Layout.hilbert2OracleSql(
        """SELECT p_partkey AS key, CAST(p_size * 5 AS BIGINT) AS x,
           GREATEST(0, (CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT)
             - 90000) // 64) AS y
           FROM part""", bits = 8) +
        " SELECT key, x, y, h FROM h ORDER BY h, key")),

    // ---- conversion attribution (first-touch / last-touch) ---------------
    // The marketing-analytics staple: credit each purchase to the user's
    // first and last click inside a 7-day lookback. Both touches come
    // from ONE user-partitioned pass — a running last() for last-touch
    // and a RANGE frame over microseconds for the windowed first-touch —
    // never a purchases×clicks self-join. Timestamps are only SELECTED
    // (min/max), so cross-engine equality is structural; credited
    // touches roll up per (model, click day).
    "q187_attribution" -> Q(
      (s, dir) => {
        val horizonUs = 7L * 24 * 3600 * 1000000
        val ev = t(s, dir, "events")
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
            unix_micros(col("ts")).as("us"),
            when(col("event_type") === "click", col("ts")).as("click_ts"))
        // event_id tie-break: the ROWS frame's notion of "preceding" for
        // same-microsecond events would otherwise be engine/partition-
        // order dependent (the q82 total-order discipline)
        val wLast = Window.partitionBy("user_id").orderBy("us", "event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        val wRange = Window.partitionBy("user_id").orderBy("us")
          .rangeBetween(-horizonUs, -1)
        val touched = ev
          .withColumn("last_click", last(col("click_ts"), ignoreNulls = true).over(wLast))
          .withColumn("first_click", min(col("click_ts")).over(wRange))
          .filter(col("event_type") === "purchase")
          .withColumn("last_click",
            when(unix_micros(col("last_click")) >= col("us") - horizonUs,
              col("last_click")))
        val lastT = touched.filter(col("last_click").isNotNull)
          .groupBy(lit("last_touch").as("model"),
            date_format(col("last_click"), "yyyy-MM-dd").as("click_day"))
          .agg(count(lit(1)).as("n_purchases"))
        val firstT = touched.filter(col("first_click").isNotNull)
          .groupBy(lit("first_touch").as("model"),
            date_format(col("first_click"), "yyyy-MM-dd").as("click_day"))
          .agg(count(lit(1)).as("n_purchases"))
        lastT.union(firstT).orderBy("model", "click_day")
      },
      Some("""WITH ev AS (SELECT user_id, event_type, ts, event_id,
            epoch_us(ts) AS us,
            CASE WHEN event_type = 'click' THEN ts END AS click_ts
          FROM events),
          t AS (SELECT *,
            LAST_VALUE(click_ts IGNORE NULLS) OVER (PARTITION BY user_id
              ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS last_click_raw,
            MIN(click_ts) OVER (PARTITION BY user_id ORDER BY us
              RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING)
              AS first_click
          FROM ev),
          p AS (SELECT *, CASE WHEN epoch_us(last_click_raw) >= us - 604800000000
              THEN last_click_raw END AS last_click
            FROM t WHERE event_type = 'purchase')
        SELECT 'last_touch' AS model,
          STRFTIME(last_click, '%Y-%m-%d') AS click_day,
          COUNT(*) AS n_purchases
        FROM p WHERE last_click IS NOT NULL GROUP BY 2
        UNION ALL
        SELECT 'first_touch', STRFTIME(first_click, '%Y-%m-%d'), COUNT(*)
        FROM p WHERE first_click IS NOT NULL GROUP BY 2
        ORDER BY model, click_day""")),

    // ---- weekly percentile-band trend ------------------------------------
    // Monitoring percentiles over time: per ISO week, p50/p95 of the
    // event value SELECTED count-first (operators.Robust — values present
    // in the data, no interpolation, so arbitrary-precision doubles
    // cross-match), with the week spelled as integer days-since-epoch
    // div 7 (cross-engine week truncation differs; q152's lesson).
    "q188_percentile_trend" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .withColumn("wk", expr("datediff(CAST(ts AS DATE), DATE '1970-01-05') div 7"))
        graft.operators.Robust.quantileSelect(ev, "wk", "value", Seq(50, 95))
          .select(col("wk").cast("long").as("wk"), col("n"),
            col("q50").as("p50"), col("q95").as("p95"))
          .orderBy("wk")
      },
      Some("""WITH ev AS (SELECT value,
            date_diff('day', DATE '1970-01-05', CAST(ts AS DATE)) // 7 AS wk
          FROM events),
          r AS (SELECT wk, value,
            ROW_NUMBER() OVER (PARTITION BY wk ORDER BY value) AS rn,
            COUNT(*) OVER (PARTITION BY wk) AS nn
          FROM ev)
        SELECT CAST(wk AS BIGINT) AS wk, MAX(nn) AS n,
          MAX(CASE WHEN rn = ((nn - 1) * 50) // 100 + 1 THEN value END) AS p50,
          MAX(CASE WHEN rn = ((nn - 1) * 95) // 100 + 1 THEN value END) AS p95
        FROM r GROUP BY wk ORDER BY wk""")),

    // ---- group limit WITH ties (dense_rank) ------------------------------
    // The ties-respecting sibling of q03/q97's row_number top-k: every
    // customer tied on one of the top-3 distinct balances per nation
    // keeps its row — the SQL-standard FETCH ... WITH TIES semantics a
    // row-bounded limit silently violates. Spark plans dense_rank with a
    // rank-limit pushdown just like row_number (WindowGroupLimit).
    "q189_topk_with_ties" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("c_nationkey").orderBy(desc("c_acctbal"))
        t(s, dir, "customer")
          .withColumn("rk", dense_rank().over(w).cast("long"))
          .filter(col("rk") <= 3)
          .select(col("c_nationkey"), col("rk"), col("c_custkey"),
            col("c_acctbal"))
          .orderBy("c_nationkey", "rk", "c_custkey")
      },
      Some("""SELECT c_nationkey, CAST(rk AS BIGINT) AS rk, c_custkey, c_acctbal
        FROM (SELECT *, DENSE_RANK() OVER (PARTITION BY c_nationkey
            ORDER BY c_acctbal DESC) AS rk FROM customer)
        WHERE rk <= 3 ORDER BY c_nationkey, rk, c_custkey""")),

    // ---- hierarchical share-of-total -------------------------------------
    // Ratio-to-report at two levels of one hierarchy in a single pass:
    // each nation's revenue as a share of its region and of the world,
    // from ONE fine-grain aggregate re-folded exactly (decimal all the
    // way; each share is one IEEE division of exact operands). The
    // region/world totals are windows over the 25-row nation aggregate —
    // value-domain bounded, never the fact table.
    "q190_share_of_total" -> Q(
      (s, dir) => {
        val rev = t(s, dir, "lineitem")
          .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(Det.moneySumExact(col("l_extendedprice")).as("rev"))
        val wR = Window.partitionBy("r_name")
        val wAll = Window.partitionBy()
        rev
          .withColumn("region_rev", sum(col("rev")).over(wR))
          .withColumn("world_rev", sum(col("rev")).over(wAll))
          .select(col("r_name"), col("n_name"), col("rev").cast("double").as("rev"),
            (col("rev").cast("double") / col("region_rev").cast("double"))
              .as("share_of_region"),
            (col("rev").cast("double") / col("world_rev").cast("double"))
              .as("share_of_world"))
          .orderBy("r_name", "n_name")
      },
      Some(s"""WITH rev AS (SELECT r_name, n_name,
            SUM(${Det.sqlMoney("l_extendedprice")}) AS rev
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY r_name, n_name)
        SELECT r_name, n_name, CAST(rev AS DOUBLE) AS rev,
          CAST(rev AS DOUBLE) / CAST(SUM(rev) OVER (PARTITION BY r_name) AS DOUBLE)
            AS share_of_region,
          CAST(rev AS DOUBLE) / CAST(SUM(rev) OVER () AS DOUBLE) AS share_of_world
        FROM rev ORDER BY r_name, n_name""")),

    // ---- interval union (merge overlapping ranges) -----------------------
    // The interval-algebra primitive session_window's fixed gap cannot
    // express: merge each user's overlapping [first event, +30 min]
    // activity ranges and report covered microseconds. Islands by the
    // running-max trick — a new island starts where start > max(end) of
    // everything prior — one user-partitioned sort, exact integer
    // microsecond arithmetic end-to-end.
    "q191_interval_union" -> Q(
      (s, dir) => {
        val winUs = 30L * 60 * 1000000
        val iv = t(s, dir, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("st"),
            (unix_micros(col("ts")) + winUs).as("en"))
        val wPrev = Window.partitionBy("user_id").orderBy("st", "en")
          .rowsBetween(Window.unboundedPreceding, -1)
        val wRun = Window.partitionBy("user_id").orderBy("st", "en")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val islands = iv
          .withColumn("new_island",
            when(col("st") > max(col("en")).over(wPrev), 1L)
              .when(max(col("en")).over(wPrev).isNull, 1L).otherwise(0L))
          .withColumn("island", sum(col("new_island")).over(wRun))
        islands.groupBy("user_id", "island")
          .agg(min(col("st")).as("ist"), max(col("en")).as("ien"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_intervals"),
            sum(col("ien") - col("ist")).as("covered_us"))
          .orderBy("user_id")
      },
      Some("""WITH iv AS (SELECT user_id, epoch_us(ts) AS st,
            epoch_us(ts) + 1800000000 AS en FROM events),
          m AS (SELECT *,
            MAX(en) OVER (PARTITION BY user_id ORDER BY st, en
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_en
          FROM iv),
          isl AS (SELECT *,
            SUM(CASE WHEN prev_en IS NULL OR st > prev_en THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY st, en
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
          FROM m),
          merged AS (SELECT user_id, island, MIN(st) AS ist, MAX(en) AS ien
            FROM isl GROUP BY 1, 2)
        SELECT user_id, COUNT(*) AS n_intervals,
          CAST(SUM(ien - ist) AS BIGINT) AS covered_us
        FROM merged GROUP BY user_id ORDER BY user_id""")),

    // ---- returned-revenue top customers (TPC-H Q10 analogue) -------------
    // The classic "who returned the most" report: per customer, exact
    // decimal revenue of RETURNED items in one quarter, with the nation
    // dim broadcast; top-20 as TakeOrderedAndProject (revenue values are
    // exact-decimal→double, identical in both engines; custkey breaks
    // ties). Fact joins prune to the quarter before shuffling.
    "q270_returned_revenue_topk" -> Q(
      (s, dir) => {
        val o = t(s, dir, "orders")
          .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
            col("o_orderdate") < to_timestamp(lit("1996-04-01")))
          .select("o_orderkey", "o_custkey")
        val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
          .select(col("l_orderkey"),
            (Det.money(col("l_extendedprice")) * Det.oneMinus(col("l_discount")))
              .as("rev"))
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_custkey")
          .agg(Det.sumD(col("rev")).as("revenue"), count(lit(1)).as("n_items"))
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("c_name"), col("n_name"),
            col("revenue"), col("n_items"))
          .orderBy(col("revenue").desc, col("c_custkey")).limit(20)
      },
      Some(s"""SELECT c_custkey, c_name, n_name,
          ${Det.sqlSumD(s"${Det.sqlMoney("l_extendedprice")} * ${Det.sqlOneMinus("l_discount")}")}
            AS revenue,
          COUNT(*) AS n_items
        FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey LIMIT 20""")),

    // ---- part-supplier census with exclusion (TPC-H Q16 analogue) --------
    // Distinct suppliers per (brand, type, size) through the lineitem
    // bridge, EXCLUDING a complaint list (md5-seeded ~10% of suppliers —
    // both engines exclude identically); the classic NOT-IN-subquery +
    // grouped COUNT(DISTINCT) shape. Supplier exclusion is a broadcast
    // anti join below the distinct aggregation; the bridge shuffle
    // carries (partkey, suppkey) pairs, never full fact rows.
    "q271_part_supplier_census" -> Q(
      (s, dir) => {
        val bad = t(s, dir, "supplier")
          .filter(pmod(graft.functions.Hashing.h28(
            concat(lit("bad"), col("s_suppkey").cast("string"))), lit(10L)) === 0L)
          .select(col("s_suppkey").as("bad_key"))
        val bridge = t(s, dir, "lineitem")
          .select("l_partkey", "l_suppkey").distinct()
          .join(broadcast(bad), col("l_suppkey") === col("bad_key"), "left_anti")
        bridge.join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
          .filter(col("p_brand") =!= "Brand#13")
          .groupBy("p_brand", "p_type", "p_size")
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
            col("p_size")).limit(30)
      },
      Some(s"""SELECT p_brand, p_type, p_size,
          CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) b
          JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#13'
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
            WHERE ${graft.functions.Hashing.sqlH28("'bad' || CAST(s_suppkey AS VARCHAR)")} % 10 = 0)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size LIMIT 30""")),

    // ---- late-shipment priority check (TPC-H Q4 analogue) ----------------
    // Per order priority, how many orders in one quarter had AT LEAST ONE
    // line shipped more than 30 days after ordering — the EXISTS
    // correlated-subquery shape, planned as a LEFT SEMI join (each order
    // counted once no matter how many late lines). The date-window filter
    // prunes the orders scan before the semi join.
    "q272_priority_order_check" -> Q(
      (s, dir) => {
        val o = t(s, dir, "orders")
          .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
            col("o_orderdate") < to_timestamp(lit("1996-04-01")))
        val li = t(s, dir, "lineitem").select("l_orderkey", "l_shipdate")
        o.join(li, col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
            "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("order_count"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
          AND EXISTS (SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey
              AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ---- weighted shortest paths (Bellman-Ford rounds) -------------------
    // The weighted completion of the graph suite (operators.Sssp): the
    // q132 user co-occurrence graph gains a rarity weight (frequent
    // co-occurrence = cheap edge, w = max(1, 1000 div co_count)), and 4
    // relaxation rounds from the smallest user id produce the exact
    // integer distance table — pinned by one summary row (reach, mass,
    // max, (node, dist) xor). The DuckDB chain is GENERATED from the
    // same round count; each round is one edge-list join + min fold.
    "q274_sssp" -> Q(
      (s, dir) => {
        val edges = coPresence(s, dir)
          .groupBy(col("user_id").as("a"), col("user_b").as("b"))
          .agg(count(lit(1)).as("cnt"))
          .select(col("a"), col("b"),
            greatest(expr("1000 div cnt"), lit(1L)).as("w"))
        val seeds = t(s, dir, "events").agg(min(col("user_id")).as("u"))
        graft.operators.Sssp.summary(edges, seeds, rounds = 4)
      },
      Some(graft.operators.Sssp.oracleSql(
        """SELECT a, b, GREATEST(1000 // cnt, 1) AS w FROM (
             SELECT x.user_id AS a, y.user_id AS b, COUNT(*) AS cnt
             FROM (SELECT DISTINCT user_id, event_type,
                     date_trunc('minute', ts) AS hr FROM events) x
             JOIN (SELECT DISTINCT user_id, event_type,
                     date_trunc('minute', ts) AS hr FROM events) y
               ON x.event_type = y.event_type AND x.hr = y.hr
              AND x.user_id < y.user_id
             GROUP BY 1, 2)""",
        "SELECT MIN(user_id) AS u FROM events", rounds = 4))),

    // ---- blocking-quality harness (record linkage) -----------------------
    // The entity-resolution eval metrics (Christen 2012) over Fuzzy's
    // deletion-neighborhood blocking, on the brute-checkable subset:
    // reduction ratio (how much of the n²/2 comparison space the blocks
    // skip) and pair completeness (what fraction of true ED-1 pairs the
    // blocks retain — 1.0 by the deletion lemma, and the gate PROVES it
    // numerically against the brute cross join both engines run on the
    // subset). Counts exact, two guarded divisions.
    "q278_blocking_quality" -> Q(
      (s, dir) => {
        val v = t(s, dir, "customer").filter(col("c_custkey") <= 300)
          .select(col("c_custkey").as("id"), col("c_name").as("nm"))
        val cand = graft.operators.Fuzzy.candidatesEd1(v, "id", "nm")
        val truePairs = v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
          .filter(levenshtein(col("a.nm"), col("b.nm")) === 1)
        val hit = cand.filter(levenshtein(col("s_a"), col("s_b")) === 1)
        val n = v.agg(count(lit(1)).as("n_recs"))
        n.crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
          .crossJoin(broadcast(truePairs.agg(count(lit(1)).as("n_true"))))
          .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_hit"))))
          .select(col("n_recs"),
            (col("n_recs") * (col("n_recs") - 1L) / 2).cast("long").as("n_all_pairs"),
            col("n_cand"), col("n_true"), col("n_hit"))
          .withColumn("reduction_ratio",
            when(col("n_all_pairs") > 0L,
              lit(1d) - col("n_cand").cast("double") / col("n_all_pairs").cast("double")))
          .withColumn("pair_completeness",
            when(col("n_true") > 0L,
              col("n_hit").cast("double") / col("n_true").cast("double")))
      },
      Some("""WITH v AS (SELECT c_custkey AS id, c_name AS nm FROM customer
            WHERE c_custkey <= 300),
        ex AS (SELECT id, nm,
            UNNEST(list_distinct(list_prepend(nm,
              [nm[1:i-1] || nm[i+1:] for i in range(1, len(nm) + 1)]))) AS var
          FROM v),
        cand AS (SELECT DISTINCT a.id AS id_a, a.nm AS s_a,
            b.id AS id_b, b.nm AS s_b
          FROM ex a JOIN ex b ON a.var = b.var AND a.id < b.id),
        tp AS (SELECT a.id FROM v a JOIN v b
          ON a.id < b.id AND levenshtein(a.nm, b.nm) = 1),
        ht AS (SELECT id_a FROM cand WHERE levenshtein(s_a, s_b) = 1),
        c AS (SELECT (SELECT COUNT(*) FROM v) AS n_recs,
                (SELECT COUNT(*) FROM cand) AS n_cand,
                (SELECT COUNT(*) FROM tp) AS n_true,
                (SELECT COUNT(*) FROM ht) AS n_hit)
        SELECT CAST(n_recs AS BIGINT) AS n_recs,
          CAST(n_recs * (n_recs - 1) // 2 AS BIGINT) AS n_all_pairs,
          CAST(n_cand AS BIGINT) AS n_cand,
          CAST(n_true AS BIGINT) AS n_true,
          CAST(n_hit AS BIGINT) AS n_hit,
          CASE WHEN n_recs * (n_recs - 1) // 2 > 0 THEN
            1 - CAST(n_cand AS DOUBLE)
              / CAST(n_recs * (n_recs - 1) // 2 AS DOUBLE) END AS reduction_ratio,
          CASE WHEN n_true > 0 THEN
            CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE) END AS pair_completeness
        FROM c"""))
  )
}
