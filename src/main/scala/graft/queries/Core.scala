package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.{Exact, Tables}

/** Core relational operator queries over the driver testdata.
  *
  * Each query exercises one or more operators from SURVEY.md §2 (IDs in
  * the scaladoc). Every query ends in a fully-deterministic ORDER BY and
  * uses exact arithmetic (see [[graft.Exact]]) so the DuckDB oracle
  * hash-matches. All plans are declarative DataFrame chains: Catalyst
  * pushes the filters and projections into the parquet scan and picks
  * broadcast joins for the dimension tables.
  */
object Core {

  /** S1/P1/P4: projected + date-range-filtered parquet scan.
    * Filters and the 3-column projection reach the scan (PushedFilters /
    * ReadSchema) — at 100 TB this is the difference between reading 3
    * columns of a row-group subset and reading everything.
    * Ref: parquet scan `storage/parquet.py:42-50`, range filter `:68-76`.
    */
  def s1ScanProject(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate").between(lit("1996-01-01"), lit("1996-03-31 23:59:59")))
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
      // the synthetic lineitem has duplicate (orderkey, linenumber) pairs,
      // so the ORDER BY covers all output columns — ties would otherwise
      // make the positional oracle compare nondeterministic
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")

  /** S6: trading-calendar generator — business-day (Mon-Fri) date range,
    * no holiday calendar, matching the reference's `pd.bdate_range`
    * (`wrds_ingestion.py:155-157`). Generated distributed via
    * sequence+explode, not a driver loop.
    */
  def s6Calendar(spark: SparkSession, dir: String): DataFrame =
    spark.range(1)
      .select(explode(sequence(
        lit("1995-01-01").cast("timestamp"),
        lit("1996-12-31").cast("timestamp"),
        expr("interval 1 day"))).as("date"))
      .filter(weekday(col("date")) < 5)
      .withColumn("is_trading_day", lit(true))
      .orderBy("date")

  /** P3: IN-list predicate (ref `parquet.py:98` isin; `_sql_list`
    * `wrds_ingestion.py:24-28`). Pushed into the parquet scan.
    */
  def p3InList(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "customer")
      .filter(col("c_custkey").isin(1L, 7L, 42L, 99L, 123L, 1001L))
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
      .orderBy("c_custkey")

  /** A6: DISTINCT on a column pair (ref `wrds_ingestion.py:121,138,653`). */
  def a6Distinct(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .select("o_orderstatus", "o_orderpriority")
      .distinct()
      .orderBy("o_orderstatus", "o_orderpriority")

  /** A7: count-distinct per group (ref test `test_local_parquet_data_handler.py:155`). */
  def a7CountDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(countDistinct(col("o_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderstatus")

  /** TPC-H Q1-shaped pricing summary: P4 filter + hash aggregate with
    * map-side partial aggregation (A5-style sum/avg) + O1 sort. All money
    * aggregates are exact integer-unit sums (see [[graft.Exact]]).
    */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val discPrice = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    val charge = discPrice * (lit(1.0) + col("l_tax"))
    li.filter(col("l_shipdate") <= lit("2001-06-01"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        Exact.sumFixed(col("l_extendedprice"), 2).as("sum_base_price"),
        Exact.sumFixed(discPrice, 4).as("sum_disc_price"),
        Exact.sumFixed(charge, 6).as("sum_charge"),
        (sum(col("l_quantity").cast("long")) / count(lit(1))).as("avg_qty"),
        Exact.avgFixed(col("l_extendedprice"), 2).as("avg_price"),
        Exact.avgFixed(col("l_discount"), 2).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Materialize `src` as an 8-bucket table on `key` once per sfDir
    * (Verify/tests reuse the table across queries; Bench's fresh-session
    * runs rebuild once and then measure the query alone — min-of-N drops
    * the build run). A dir switch rebuilds.
    */
  private def ensureBucketed(spark: SparkSession, dir: String, src: String,
      key: String, table: String): Unit =
    graft.Standing.tables(spark, Seq(table), dir)(
      graft.Layout.saveBucketed(Tables(spark, dir, src), table, 8, Seq(key)))

  /** [[q3TopOrders]]'s fact-fact join re-run over CO-BUCKETED tables —
    * the layout lever that removes THE dominant cost of a 100 TB
    * fact-fact join: both sides are 8-bucket tables on the order key
    * ([[graft.Layout.saveBucketed]]), so the join consumes the buckets'
    * hash partitioning directly and the aggregate (grouping keys ⊇ the
    * bucket key) reuses it again — ZERO shuffle exchanges in the whole
    * plan, where the flat twin shuffles both join inputs and the partial
    * aggregate. PlanSpec pins the no-Exchange shape; Bench records the
    * flat-vs-bucketed delta at sf0.1 (customer is deliberately absent:
    * it joins on c_custkey, which would break bucket alignment — a real
    * deployment buckets each join chain on its own key).
    *
    * Same arithmetic and determinism rules as every query ([[Exact]],
    * unique-tiebreak ORDER BY); the oracle runs the identical query over
    * the flat parquet — bucketing must change the layout, never the
    * answer.
    */
  def q3Bucketed(spark: SparkSession, dir: String): DataFrame = {
    ensureBucketed(spark, dir, "orders", "o_orderkey", "graft_orders_bq")
    ensureBucketed(spark, dir, "lineitem", "l_orderkey", "graft_lineitem_bq")
    val ord = spark.table("graft_orders_bq")
      .filter(col("o_orderdate") < lit("1999-03-15"))
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    val li = spark.table("graft_lineitem_bq")
      .filter(col("l_shipdate") > lit("1995-03-15"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(Exact.sumFixed(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** TPC-H Q3-shaped top-k: selective dimension filter joined into the
    * fact tables, aggregate, global top-10. No explicit broadcasts:
    * customer and both fact sides grow with scale, so the plan declares
    * plain key joins and AQE converts whichever side is actually small at
    * runtime into a broadcast. The top-10 is a TakeOrderedAndProject, not
    * a global sort.
    */
  def q3TopOrders(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") < lit("1999-03-15"))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1995-03-15"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord.join(cust, ord("o_custkey") === cust("c_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(Exact.sumFixed(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** TPC-H Q5-shaped star join: region -> nation -> customer + supplier
    * co-membership, revenue per nation. Only the guaranteed-small
    * dimensions (nation: 25 rows, region: 5) get explicit broadcast
    * hints; orders/customer/supplier are fact-or-large-dim tables that
    * would never fit in a broadcast at 100 TB, so they join by key
    * shuffle and AQE upgrades them to broadcast at runtime whenever the
    * filtered side actually is small (as it is at test scale).
    */
  def q5NationRevenue(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables(spark, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    val region = Tables(spark, dir, "region").filter(col("r_name") === "ASIA")
    val cust = Tables(spark, dir, "customer").select("c_custkey", "c_nationkey")
    val supp = Tables(spark, dir, "supplier").select("s_suppkey", "s_nationkey")
    val ord = Tables(spark, dir, "orders")
      .filter(col("o_orderdate").between(lit("1996-01-01"), lit("1996-12-31 23:59:59")))
      .select("o_orderkey", "o_custkey")
    val li = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(Exact.sumFixed(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }
}
