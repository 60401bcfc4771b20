package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Tables
import graft.functions.{FP, ZOrderExpr}
import graft.operators.Aggregates
import graft.sources.Layout

/** Relational operator coverage (SURVEY.md §2.2–§2.7) expressed over the
  * test tables, each with a DuckDB oracle.
  *
  * Conventions shared with the oracles: money/quantity aggregates use
  * fixed-point longs ([[graft.functions.FP]]); integer outputs are LongType
  * (DuckDB BIGINT); every result carries a total ORDER BY on its key.
  */
object RelationalQueries extends QueryModule {

  // ---- q01: TPC-H-Q1-style pricing summary (A1/A9: groupBy + sums) ------
  private def q01(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1999-06-30").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(FP.cents(col("l_quantity"))).as("sum_qty_c"),
        sum(FP.cents(col("l_extendedprice"))).as("sum_base_c"),
        sum(FP.micro(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("sum_disc_u"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag", "l_linestatus")

  private val q01Sql =
    s"""SELECT l_returnflag, l_linestatus,
       | CAST(sum(${FP.sqlCents("l_quantity")}) AS BIGINT) AS sum_qty_c,
       | CAST(sum(${FP.sqlCents("l_extendedprice")}) AS BIGINT) AS sum_base_c,
       | CAST(sum(${FP.sqlMicro("l_extendedprice*(1.0-l_discount)")}) AS BIGINT) AS sum_disc_u,
       | count(*) AS n_rows
       |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1999-06-30'
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- q02: filter + project + cast (F1–F3, P1, P5) ---------------------
  private def q02(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate").between(
        lit("1996-01-01").cast("timestamp"), lit("1997-12-31").cast("timestamp"))
        && col("l_discount") > 0.05 && col("l_returnflag") === "R")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        FP.cents(col("l_quantity")).as("qty_c"),
        FP.cents(col("l_extendedprice")).as("price_c"))
      .orderBy("l_orderkey", "l_linenumber")

  private val q02Sql =
    s"""SELECT l_orderkey, l_linenumber,
       | ${FP.sqlCents("l_quantity")} AS qty_c,
       | ${FP.sqlCents("l_extendedprice")} AS price_c
       |FROM lineitem
       |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
       |  AND l_discount > 0.05 AND l_returnflag = 'R'
       |ORDER BY 1, 2""".stripMargin

  // ---- q03: dictionary join (J3/P4: broadcast dim decode) ---------------
  private def q03(s: SparkSession, d: String): DataFrame =
    Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
      .orderBy("n_nationkey")

  private val q03Sql =
    """SELECT n_nationkey, n_name, r_name
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |ORDER BY 1""".stripMargin

  // ---- q04: group-first (A4/J4: first row per key, deterministic) -------
  private def q04(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(min(struct(col("o_orderdate"), col("o_orderkey"))).as("f"))
      .select(col("o_custkey"), col("f.o_orderdate").as("first_date"),
        col("f.o_orderkey").as("first_okey"))
      .orderBy("o_custkey")

  private val q04Sql =
    """WITH m AS (
      |  SELECT o_custkey, min(o_orderdate) AS first_date FROM orders GROUP BY 1)
      |SELECT m.o_custkey, m.first_date,
      |  CAST(min(o.o_orderkey) AS BIGINT) AS first_okey
      |FROM m JOIN orders o
      |  ON o.o_custkey = m.o_custkey AND o.o_orderdate = m.first_date
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  // ---- q05: distinct (A5) ------------------------------------------------
  private def q05(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .select(col("c_mktsegment"), col("c_nationkey"))
      .distinct()
      .orderBy("c_mktsegment", "c_nationkey")

  private val q05Sql =
    """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer ORDER BY 1, 2""".stripMargin

  // ---- q06: union-all (U1) ----------------------------------------------
  private def q06(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_custkey").as("key"), lit("customer").as("src"))
      .unionByName(
        Tables.orders(s, d).select(col("o_custkey").as("key"), lit("orders").as("src")))
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_rows"), countDistinct(col("key")).as("n_keys"))
      .orderBy("src")

  private val q06Sql =
    """SELECT src, count(*) AS n_rows, count(DISTINCT key) AS n_keys
      |FROM (
      |  SELECT c_custkey AS key, 'customer' AS src FROM customer
      |  UNION ALL
      |  SELECT o_custkey AS key, 'orders' AS src FROM orders)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q07: per-group ordinal (W1: the reference's IPROF,
  //           /root/reference/src/argostats/toctools.py:172-175) ----------
  private def q07(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"))
    Tables.lineitem(s, d)
      .withColumn("iprof", row_number().over(w).cast(LongType))
      .filter(col("l_orderkey") % 100 === 0)
      .select(col("l_orderkey"), col("l_linenumber"), col("iprof"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  private val q07Sql =
    """SELECT l_orderkey, l_linenumber,
      |  row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS iprof
      |FROM lineitem
      |WHERE l_orderkey % 100 = 0
      |ORDER BY 1, 2""".stripMargin

  // ---- q08: histogram by date part (A7 + X1) ----------------------------
  private def q08(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(
        year(col("o_orderdate")).cast(LongType).as("yr"),
        month(col("o_orderdate")).cast(LongType).as("mo"))
      .agg(count(lit(1)).as("n_orders"),
        sum(FP.cents(col("o_totalprice"))).as("rev_c"))
      .orderBy("yr", "mo")

  private val q08Sql =
    s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
       | CAST(month(o_orderdate) AS BIGINT) AS mo,
       | count(*) AS n_orders,
       | CAST(sum(${FP.sqlCents("o_totalprice")}) AS BIGINT) AS rev_c
       |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- q09: global scalar aggregates (A8/A9) -----------------------------
  private def q09(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).agg(
      max(col("o_orderdate")).as("last_date"),
      min(col("o_orderdate")).as("first_date"),
      countDistinct(col("o_custkey")).as("n_cust"),
      count(lit(1)).as("n_orders"),
      sum(FP.cents(col("o_totalprice"))).as("total_c"))

  private val q09Sql =
    s"""SELECT max(o_orderdate) AS last_date, min(o_orderdate) AS first_date,
       | count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders,
       | CAST(sum(${FP.sqlCents("o_totalprice")}) AS BIGINT) AS total_c
       |FROM orders""".stripMargin

  // ---- q10: product-combine QC reduce (A6, custom Aggregator;
  //           reference truth table: any 0 ⟹ 0) ---------------------------
  private def q10(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .withColumn("qc", (col("l_linenumber") % 5).cast(LongType))
      .groupBy(col("l_orderkey"))
      .agg(
        Aggregates.productLong(col("qc")).as("flag_prod"),
        count(lit(1)).as("n_items"))
      .orderBy("l_orderkey")

  private val q10Sql =
    """SELECT l_orderkey,
      |  CAST(round(product(l_linenumber % 5)) AS BIGINT) AS flag_prod,
      |  count(*) AS n_items
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q11: all-/any-match predicate agg (A10) ---------------------------
  private def q11(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(
        min(when(col("l_returnflag") === "N", 1L).otherwise(0L)).as("all_n"),
        max(when(col("l_returnflag") === "N", 1L).otherwise(0L)).as("any_n"))
      .orderBy("l_orderkey")

  private val q11Sql =
    """SELECT l_orderkey,
      |  CAST(min(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS all_n,
      |  CAST(max(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS any_n
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q12: top-1 per group / argmax (W4) --------------------------------
  private def q12(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("c_nationkey"), col("c_custkey"),
        FP.cents(col("c_acctbal")).as("acctbal_c"))
      .orderBy("c_nationkey")
  }

  private val q12Sql =
    s"""SELECT c_nationkey, c_custkey, ${FP.sqlCents("c_acctbal")} AS acctbal_c
       |FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn
       |  FROM customer)
       |WHERE rn = 1 ORDER BY 1""".stripMargin

  // ---- q13: multi-way join + agg (general equi-join surface) ------------
  private def q13(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        sum(FP.cents(col("o_totalprice"))).as("rev_c"),
        countDistinct(col("c_custkey")).as("n_cust"),
        count(lit(1)).as("n_orders"))
      .orderBy("n_name")

  private val q13Sql =
    s"""SELECT n_name,
       | CAST(sum(${FP.sqlCents("o_totalprice")}) AS BIGINT) AS rev_c,
       | count(DISTINCT c_custkey) AS n_cust, count(*) AS n_orders
       |FROM customer
       | JOIN orders ON c_custkey = o_custkey
       | JOIN nation ON c_nationkey = n_nationkey
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q14: semi/anti join (free capability, SURVEY §2.4 note) -----------
  private def q14(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    val active = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_active"))
    val inactive = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_inactive"))
    active.join(inactive, Seq("c_nationkey"), "full_outer")
      .select(col("c_nationkey"),
        coalesce(col("n_active"), lit(0L)).as("n_active"),
        coalesce(col("n_inactive"), lit(0L)).as("n_inactive"))
      .orderBy("c_nationkey")
  }

  private val q14Sql =
    """WITH a AS (
      |  SELECT c_nationkey, count(*) AS n_active FROM customer c
      |  WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |  GROUP BY 1),
      |b AS (
      |  SELECT c_nationkey, count(*) AS n_inactive FROM customer c
      |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |  GROUP BY 1)
      |SELECT c_nationkey,
      |  COALESCE(n_active, 0) AS n_active,
      |  COALESCE(n_inactive, 0) AS n_inactive
      |FROM a FULL OUTER JOIN b USING (c_nationkey)
      |ORDER BY 1""".stripMargin

  // ---- q15: running total (W2 distributed analog) ------------------------
  private def q15(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .withColumn("price_c", FP.cents(col("o_totalprice")))
      .withColumn("run_c", sum(col("price_c")).over(w))
      .filter(col("o_custkey") < 200)
      .select(col("o_custkey"), col("o_orderkey"), col("run_c"))
      .orderBy("o_custkey", "o_orderkey")
  }

  private val q15Sql =
    s"""SELECT o_custkey, o_orderkey,
       | CAST(sum(${FP.sqlCents("o_totalprice")}) OVER (
       |   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_c
       |FROM orders WHERE o_custkey < 200
       |ORDER BY 1, 2""".stripMargin

  // ---- q16: lag / finite difference (W3 distributed analog) --------------
  private def q16(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
      .select(col("o_custkey"), col("o_orderkey"),
        coalesce(datediff(col("o_orderdate"), col("prev_date")).cast(LongType), lit(-1L))
          .as("gap_days"))
      .orderBy("o_custkey", "o_orderkey")
  }

  private val q16Sql =
    """SELECT o_custkey, o_orderkey,
      |  COALESCE(date_diff('day',
      |    lag(o_orderdate, 1) OVER (
      |      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
      |    o_orderdate), -1) AS gap_days
      |FROM orders ORDER BY 1, 2""".stripMargin

  // ---- q17: as-of join (J2/J6 general form): for each purchase, the last
  //           click at-or-before it by the same user ----------------------
  private def q17(s: SparkSession, d: String): DataFrame = {
    // `Tables.events` normalizes ts to a µs timestamp; compare as epoch-µs
    // longs — the precision DuckDB's oracle reader also lands on.
    val ev = Tables.events(s, d)
      .withColumn("ts_us", unix_micros(col("ts")))
    graft.operators.AsOf.lastAtOrBefore(
        left = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_us"), col("event_id")),
        right = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts_us").as("click_us")),
        key = "user_id", leftTs = "ts_us", rightTs = "click_us")
      .select(col("user_id"), col("ts_us"), col("event_id"),
        coalesce(col("click_us"), lit(-1L)).as("last_click_us"))
      .orderBy("user_id", "ts_us", "event_id")
  }

  private val q17Sql =
    """WITH ev AS (
      |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS tsn, event_type, event_id
      |  FROM events),
      |u AS (
      |  SELECT user_id, tsn, 1 AS tag, event_id, CAST(NULL AS BIGINT) AS c_ts
      |  FROM ev WHERE event_type = 'purchase'
      |  UNION ALL
      |  SELECT user_id, tsn, 0 AS tag, CAST(NULL AS BIGINT), tsn
      |  FROM ev WHERE event_type = 'click'),
      |w AS (
      |  SELECT user_id, tsn, tag, event_id,
      |    max(c_ts) OVER (PARTITION BY user_id ORDER BY tsn, tag
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click
      |  FROM u)
      |SELECT user_id, tsn AS ts_us, event_id,
      |  COALESCE(last_click, -1) AS last_click_us
      |FROM w WHERE tag = 1 ORDER BY 1, 2, 3""".stripMargin

  // ---- q18: ranked top-k per group ---------------------------------------
  private def q18(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(s, d)
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= 3)
      .select(col("c_mktsegment"), col("rnk"), col("c_custkey"),
        FP.cents(col("c_acctbal")).as("acctbal_c"))
      .orderBy("c_mktsegment", "rnk")
  }

  private val q18Sql =
    s"""SELECT c_mktsegment, rnk, c_custkey, ${FP.sqlCents("c_acctbal")} AS acctbal_c
       |FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rnk
       |  FROM customer)
       |WHERE rnk <= 3 ORDER BY 1, 2""".stripMargin

  // ---- q19: date-part extraction (X1) ------------------------------------
  private def q19(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderkey") % 50 === 0)
      .select(col("o_orderkey"),
        year(col("o_orderdate")).cast(LongType).as("yr"),
        quarter(col("o_orderdate")).cast(LongType).as("qtr"),
        month(col("o_orderdate")).cast(LongType).as("mo"),
        dayofmonth(col("o_orderdate")).cast(LongType).as("dom"),
        dayofyear(col("o_orderdate")).cast(LongType).as("doy"))
      .orderBy("o_orderkey")

  private val q19Sql =
    """SELECT o_orderkey,
      |  CAST(year(o_orderdate) AS BIGINT) AS yr,
      |  CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
      |  CAST(month(o_orderdate) AS BIGINT) AS mo,
      |  CAST(day(o_orderdate) AS BIGINT) AS dom,
      |  CAST(dayofyear(o_orderdate) AS BIGINT) AS doy
      |FROM orders WHERE o_orderkey % 50 = 0 ORDER BY 1""".stripMargin

  // ---- q22: profile validity gate, relational part (F7 analog over
  //           per-group sample stats) -------------------------------------
  private def q22(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(
        count(lit(1)).as("n_samples"),
        countDistinct(col("l_quantity")).as("n_distinct"),
        FP.cents(min(col("l_quantity"))).as("min_q_c"),
        FP.cents(max(col("l_quantity"))).as("max_q_c"))
      .withColumn("valid",
        when(col("n_samples") >= 5 && col("n_distinct") >= 5, 1L).otherwise(0L))
      .orderBy("l_orderkey")

  private val q22Sql =
    s"""SELECT l_orderkey, count(*) AS n_samples,
       | count(DISTINCT l_quantity) AS n_distinct,
       | ${FP.sqlCents("min(l_quantity)")} AS min_q_c,
       | ${FP.sqlCents("max(l_quantity)")} AS max_q_c,
       | CAST(CASE WHEN count(*) >= 5 AND count(DISTINCT l_quantity) >= 5
       |      THEN 1 ELSE 0 END AS BIGINT) AS valid
       |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q20: rollup / grouping-sets aggregation ---------------------------
  // Beyond the reference (SURVEY §2.5 "not present"): hierarchical
  // subtotals in ONE pass — Spark expands grouping sets before the
  // exchange, so the shuffle still carries one partial buffer per
  // (set × group), not one pass per level. Sentinels instead of
  // grouping_id() keep the oracle engine-neutral (the group columns are
  // never null in the data, so NULL unambiguously means "rolled up").
  private def q20(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .withColumn("ng", pmod(col("c_custkey"), lit(5)))
      .rollup(col("c_mktsegment"), col("ng"))
      .agg(count(lit(1)).cast(LongType).as("n_cust"),
        sum(FP.cents(col("c_acctbal"))).as("bal_c"))
      .select(coalesce(col("c_mktsegment"), lit("ALL")).as("seg"),
        coalesce(col("ng"), lit(-1L)).as("ng"),
        col("n_cust"), col("bal_c"))
      .orderBy("seg", "ng")

  private val q20Sql =
    s"""SELECT coalesce(c_mktsegment, 'ALL') AS seg,
       |  CAST(coalesce(ng, -1) AS BIGINT) AS ng,
       |  count(*) AS n_cust,
       |  CAST(sum(${FP.sqlCents("c_acctbal")}) AS BIGINT) AS bal_c
       |FROM (SELECT *, c_custkey % 5 AS ng FROM customer)
       |GROUP BY ROLLUP (c_mktsegment, ng) ORDER BY 1, 2""".stripMargin

  // ---- q21: interval/range join via bin keys -----------------------------
  // The 1-D analog of the spatial bin join (J1): lineitems fall in ONE
  // day-bin; promotion periods explode to the bins they overlap (≤ 2 at
  // bin width = max period length); the sides meet in an equi-join and the
  // exact BETWEEN predicate filters after. Neither side is ever
  // nested-loop scanned — the same shape that lets two LARGE tables range-
  // join at 100 TB, where a broadcast BNLJ cannot. The oracle is the
  // naive BETWEEN join.
  private val DayBinW = 90

  private def q21(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(
      datediff(col("l_shipdate"), lit("1992-01-01").cast("date")).as("day"),
      col("l_extendedprice"))
      .withColumn("bin", expr(s"day div $DayBinW"))
    val periods = s.range(50).select(
      col("id").as("period_id"),
      (pmod(col("id") * 37, lit(2000)) + 1100).as("start_day"))
      .withColumn("end_day",
        col("start_day") + 30 + pmod(col("period_id"), lit(5)) * 15)
    val exploded = periods.withColumn("bin",
      explode(sequence(expr(s"start_day div $DayBinW"), expr(s"end_day div $DayBinW"))))
    li.join(exploded, "bin")
      .filter(col("day").between(col("start_day"), col("end_day")))
      .groupBy(col("period_id"), col("start_day"), col("end_day"))
      .agg(count(lit(1)).cast(LongType).as("n_items"),
        sum(FP.cents(col("l_extendedprice"))).as("price_c"))
      .orderBy("period_id")
  }

  private val q21Sql =
    s"""WITH li AS (
      |  SELECT CAST(CAST(l_shipdate AS DATE) - DATE '1992-01-01' AS BIGINT) AS day,
      |    l_extendedprice
      |  FROM lineitem),
      |periods AS (
      |  SELECT id AS period_id, (id * 37) % 2000 + 1100 AS start_day,
      |    (id * 37) % 2000 + 1100 + 30 + (id % 5) * 15 AS end_day
      |  FROM range(0, 50) t(id))
      |SELECT period_id, CAST(start_day AS BIGINT) AS start_day,
      |  CAST(end_day AS BIGINT) AS end_day,
      |  count(*) AS n_items,
      |  CAST(sum(${FP.sqlCents("l_extendedprice")}) AS BIGINT) AS price_c
      |FROM li JOIN periods ON day BETWEEN start_day AND end_day
      |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin

  // ---- q24: cube aggregation (all grouping-set combinations) -------------
  // Completes the grouping-sets surface next to q20's rollup: CUBE expands
  // to all 2^k set combinations BEFORE the exchange, so one pass and one
  // shuffle carry every marginal — at 100 TB that is k passes saved, and
  // partial aggregation still applies per expanded set. Sentinels (never
  // null in the data) keep the oracle engine-neutral, as in q20.
  private def q24(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .withColumn("ng", pmod(col("c_custkey"), lit(4)))
      .cube(col("c_mktsegment"), col("ng"))
      .agg(count(lit(1)).cast(LongType).as("n_cust"),
        sum(FP.cents(col("c_acctbal"))).as("bal_c"))
      .select(coalesce(col("c_mktsegment"), lit("ALL")).as("seg"),
        coalesce(col("ng"), lit(-1L)).as("ng"),
        col("n_cust"), col("bal_c"))
      .orderBy("seg", "ng")

  private val q24Sql =
    s"""SELECT coalesce(c_mktsegment, 'ALL') AS seg,
       |  CAST(coalesce(ng, -1) AS BIGINT) AS ng,
       |  count(*) AS n_cust,
       |  CAST(sum(${FP.sqlCents("c_acctbal")}) AS BIGINT) AS bal_c
       |FROM (SELECT *, c_custkey % 4 AS ng FROM customer)
       |GROUP BY CUBE (c_mktsegment, ng) ORDER BY 1, 2""".stripMargin

  // ---- q25: pivot (long → wide conditional aggregation) ------------------
  // The value list is EXPLICIT: `.pivot(col, values)` with known values
  // skips the distinct-values discovery job (and its extra scan of the
  // table) that the value-less form needs before it can even plan. Spark
  // still compiles the pivot to two aggregate stages — groupBy(day,
  // event_type) then PivotFirst over the wide row — but both pre-aggregate
  // map-side, so nothing un-combined crosses the exchange. The oracle is
  // the engine-neutral FILTER form (a pivot IS conditional aggregation).
  // The day key is integer arithmetic on epoch-µs. NOTE: Spark `div`
  // truncates toward zero while DuckDB `//` floors — identical only
  // because event ts >= 0 (generator-produced 2023+ timestamps; same
  // invariant as q80). A pre-1970 feed would need a floor-consistent
  // form (pmod adjustment).
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  private def q25(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("day", expr("unix_micros(ts) div 86400000000"))
      .groupBy(col("day"))
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
      .select(col("day") +: EventTypes.map(t =>
        coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
      .orderBy("day")

  private val q25Sql = {
    val cols = EventTypes.map(t =>
      s"count(*) FILTER (WHERE event_type = '$t') AS n_$t").mkString(",\n  ")
    s"""SELECT epoch_us(ts) // 86400000000 AS day,
       |  $cols
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- q23: set operations (INTERSECT / EXCEPT, beyond the reference) ----
  // SURVEY §2.7: the reference has only union-all; intersect/except come
  // free from Spark and are exposed here. Customers that placed orders in
  // BOTH years vs ONLY the first year — each branch is a distinct-set
  // operator (semantics = INTERSECT/EXCEPT DISTINCT in both engines).
  private def q23(s: SparkSession, d: String): DataFrame = {
    def buyers(yr: Int) = Tables.orders(s, d)
      .filter(year(col("o_orderdate")) === yr)
      .select(col("o_custkey"))
    val both = buyers(1996).intersect(buyers(1997))
      .select(col("o_custkey"), lit("both").as("cohort"))
    val only96 = buyers(1996).except(buyers(1997))
      .select(col("o_custkey"), lit("only_1996").as("cohort"))
    both.unionByName(only96).orderBy("cohort", "o_custkey")
  }

  private val q23Sql =
    """WITH b96 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
      |b97 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
      |SELECT o_custkey, 'both' AS cohort
      |FROM (SELECT o_custkey FROM b96 INTERSECT SELECT o_custkey FROM b97)
      |UNION ALL
      |SELECT o_custkey, 'only_1996' AS cohort
      |FROM (SELECT o_custkey FROM b96 EXCEPT SELECT o_custkey FROM b97)
      |ORDER BY cohort, o_custkey""".stripMargin

  // ---- q129: Z-order layout rewrite + 2-D rectangle scan -----------------
  // The lakehouse OPTIMIZE ZORDER operation: rewrite events clustered
  // along the Morton curve of (time bucket, user_id) — sources/Layout +
  // the codegen'd ZOrderExpr — then answer a rectangle predicate
  // (a time slice AND a user band) from the rewritten files. Every
  // landed file covers a tight (ts, user) rectangle, so stock parquet
  // min/max row-group pruning serves BOTH dimensions; a linear layout
  // prunes only its leading sort column (ZOrderSpec measures the scanned-
  // row ratio). The rewrite is once-per-ingest, amortized like the
  // at-rest stores; the aggregate result is layout-independent, which is
  // exactly what the oracle verifies (the clustering must never change
  // answers, only I/O).
  //
  // The min/max bounds are a 2-long driver model (one agg job): the
  // rectangle and the time-bucket granule derive from them
  // deterministically in both engines (integer arithmetic on µs).
  //
  // The rewrite is memoized per (session, corpus dir), so the layout
  // job runs once per session, not once per invocation. The memo holds
  // the layout's temp dir as a Path, so [[SessionMemo.reset]] deletes
  // it. With `spark.graft.eventsZStore = "<corpusDir>=<path>"` the query
  // serves the rectangle from an AT-REST z-clustered landing instead
  // ([[landEventsZStore]] — the store-family shape: rewrite once per
  // ingest, every session scans), bounds read from the `_bounds`
  // sidecar so the store path launches no corpus-wide agg at all.
  private val zorderMemo =
    new SessionMemo[(java.nio.file.Path, Long, Long, Long)]

  private def eventsNormalized(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"), col("value"))

  /** The layout's curve: time bucketed by granule `g` from origin `mn`,
    * interleaved with user_id. (ZOrderExpr masks to 31 bits, so a batch
    * outside the frozen origin still codes validly — only its clustering
    * quality pays, never an answer.) */
  private def zCodeOf(mn: Long, g: Long) =
    ZOrderExpr.zorder2(
      floor((col("ts_us") - mn) / g).cast("int"),
      col("user_id").cast("int"))

  /** Time granule for the (time, user) curve: bucket count matched to
    * the USER cardinality. Interleaving only clusters in both dimensions
    * when their bit widths are comparable — with 2^20 time buckets
    * against ~2^8 users, the excess high time bits interleave with
    * nothing, the code degenerates to time-major, and a user predicate
    * prunes no files at all (measured 27% scanned for a 5% rectangle at
    * sf0.1; balanced, the same rectangle scans ~its own selectivity). */
  private def granuleOf(mn: Long, mx: Long, umax: Long): Long = {
    val ubits = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, umax))
    math.max(1L, (mx - mn) >> ubits)
  }

  private def rewriteZOrdered(s: SparkSession, d: String, out: String,
                              rowFilter: Column = lit(true)): (Long, Long, Long) = {
    val ev = eventsNormalized(s, d).filter(rowFilter)
    val r = ev.agg(min(col("ts_us")), max(col("ts_us")),
      max(col("user_id"))).head
    val (mn, mx, umax) = (r.getLong(0), r.getLong(1), r.getLong(2))
    Layout.writeZOrdered(ev, zCodeOf(mn, granuleOf(mn, mx, umax)), out,
      partitions = 8, maxRecordsPerFile = 2048)
    (mn, mx, umax)
  }

  /** Land the events table z-clustered at `path` with its TWO sidecars
    * — the at-rest member q129 serves from under
    * `spark.graft.eventsZStore` (underscore dirs are invisible to the
    * layout scan but readable as explicit roots, the parquet-listing
    * rule the other stores' sidecars use):
    *
    *  - `_curve` — the FROZEN origin/granule (mn0, g0) appends encode
    *    with (the VecStore frozen-quantizer rule). Written ONCE here and
    *    NEVER rewritten: the curve parameters cannot be rederived from
    *    data, so they must never sit inside an overwrite window — a sync
    *    that rewrote them could leave the store unrecoverable (ADVICE
    *    r12: mode("overwrite") deletes before the new job commits).
    *  - `_bounds` — the LIVE (mn, mx, umax), min/max MONOIDS merged per
    *    sync. Rewritten per append; a crash inside ITS overwrite window
    *    loses only derivable state, which [[reconcileEventsZBounds]]
    *    rebuilds from the landed files alone. */
  private[graft] def landEventsZStore(s: SparkSession, d: String,
                                      path: String,
                                      rowFilter: Column = lit(true)): Unit = {
    val (mn, mx, umax) = rewriteZOrdered(s, d, path, rowFilter)
    import s.implicits._
    Seq((mn, granuleOf(mn, mx, umax))).toDF("mn0", "g0")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_curve")
    writeBounds(s, path, mn, mx, umax)
    // snapshot manifest (VERDICT r13 task 6): guarded readers resolve
    // this file list instead of the directory listing, so a read issued
    // inside a later compaction window sees a complete OLD snapshot
    graft.sources.Stores.publishManifest(s, path)
  }

  private def writeBounds(s: SparkSession, path: String, mn: Long, mx: Long,
                          umax: Long): Unit = {
    import s.implicits._
    Seq((mn, mx, umax)).toDF("mn", "mx", "umax")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_bounds")
  }

  /** The store's frozen curve (mn0, g0) — from the write-once `_curve`
    * sidecar, MIGRATING a pre-split store on first touch: stores landed
    * before round 13 carried mn0/g0 inside `_bounds`, and running any
    * sync or reconcile against one without migrating first would either
    * fail (missing `_curve`) or — worse — let the live-bounds rewrite
    * destroy the only copy of parameters that cannot be rederived from
    * data. The migration copies them into `_curve` BEFORE anything
    * touches `_bounds`, making old stores syncable and reconcile-safe. */
  private def curveOf(s: SparkSession, path: String): (Long, Long) = {
    val curvePath = s"$path/_curve"
    val fs = new org.apache.hadoop.fs.Path(curvePath)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(curvePath))) {
      val old = s.read.parquet(s"$path/_bounds")
      require(old.columns.contains("mn0"),
        s"$path has neither a _curve sidecar nor legacy mn0/g0 in _bounds" +
          " — the frozen curve is unrecoverable")
      import s.implicits._
      val r = old.head
      Seq((r.getAs[Long]("mn0"), r.getAs[Long]("g0"))).toDF("mn0", "g0")
        .coalesce(1).write.mode("overwrite").parquet(curvePath)
    }
    val c = s.read.parquet(curvePath).head
    (c.getAs[Long]("mn0"), c.getAs[Long]("g0"))
  }

  /** Sync an events batch into a landed Z-store: new rows (anti-joined
    * on event_id against the landed layout — one column-pruned scan, so
    * a blind re-run never double-appends) are z-coded by the FROZEN
    * curve from the write-once `_curve` sidecar and appended as their own
    * range-clustered files ([[Layout.appendZOrdered]]), then the live
    * bounds merge as min/max monoids. q129 over the appended store is
    * bit-equal to a full re-land: the merged bounds ARE the full
    * table's (min/max are monoids), and answers never depend on the
    * dropped z-code — only pruning granularity pays, per-batch instead
    * of global, until a compacting rewrite re-lands.
    *
    * Failure window: the data append commits atomically (job commit);
    * a crash before the sidecar rewrite leaves bounds stale — re-run
    * the sync (idempotent) and call [[reconcileEventsZBounds]], which
    * rebuilds the live bounds from the landed files. */
  private[graft] def appendEventsZStore(s: SparkSession, batch: DataFrame,
                                        path: String): Unit = {
    // guarded like the bucketed appends: the anti-join below reads the
    // landed layout, and a half-swapped directory (crashed compactor)
    // would make already-landed event_ids look missing — the sync must
    // fail fast, not double-append
    graft.sources.Stores.assertNotCompacting(s,
      new org.apache.hadoop.fs.Path(path))
    val (mn0, g0) = curveOf(s, path)
    val b = s.read.parquet(s"$path/_bounds").head
    val fresh = batch
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"), col("value"))
      .join(s.read.parquet(path).select(col("event_id")),
        Seq("event_id"), "left_anti")
      .localCheckpoint() // consumed by the write AND the bounds merge
    Layout.appendZOrdered(fresh, zCodeOf(mn0, g0), path,
      partitions = 8, maxRecordsPerFile = 2048)
    val r = fresh.agg(min(col("ts_us")), max(col("ts_us")),
      max(col("user_id"))).head
    if (!r.isNullAt(0)) // empty batch (or full re-run): bounds unchanged
      writeBounds(s, path,
        math.min(b.getAs[Long]("mn"), r.getLong(0)),
        math.max(b.getAs[Long]("mx"), r.getLong(1)),
        math.max(b.getAs[Long]("umax"), r.getLong(2)))
    graft.operators.Graph.release(fresh)
    // the sync is now the newest snapshot: readers resolving the
    // manifest must see the appended files (a crash landing files but
    // not this manifest serves the pre-sync snapshot — stale but
    // complete — and the idempotent re-run repairs it)
    graft.sources.Stores.publishManifest(s, path)
    // drop any cached file listing for the path: a consumer that read
    // the store before this sync must see the appended files
    s.catalog.refreshByPath(path)
  }

  /** Compacting rewrite of an appended events Z-store (VERDICT r12
    * task 3 — the "compacting rewrite" [[appendEventsZStore]] defers to):
    * every landed row re-sorts along the FROZEN curve (`_curve` — the
    * append encoding, so the rewrite needs no re-derivation) into one
    * fresh range-clustered file set, restoring the GLOBAL pruning
    * granularity the per-batch appends traded away (each sync's files
    * are tight rectangles of their own batch only; after N syncs a
    * rectangle query scans up to N overlapping file sets). Sidecars are
    * untouched — answers never depended on the dropped z-code, so this
    * is pure layout maintenance: bit-equal before/after (ZOrderSpec pins
    * it), only the scan-side row count changes (the bench publishes the
    * degraded and restored ratios). Crash-safe via [[Stores.rewriteDir]]'s
    * commit-marker protocol; concurrent scans fail fast on the
    * `_compact_lock`. Returns the number of files replaced. */
  private[graft] def compactEventsZStore(s: SparkSession, path: String): Int = {
    val (mn0, g0) = curveOf(s, path)
    graft.sources.Stores.rewriteDir(s, path) { (df, tmp) =>
      Layout.writeZOrdered(df, zCodeOf(mn0, g0), tmp,
        partitions = 8, maxRecordsPerFile = 2048)
    }
  }

  /** Crash recovery for [[appendEventsZStore]]'s sidecar window: rebuild
    * the live bounds from the landed files — the ground truth, and ALL
    * the recovery needs (the frozen curve lives in the write-once
    * `_curve` sidecar no sync touches, so even a crash that destroyed
    * `_bounds` mid-overwrite leaves the store fully recoverable). */
  private[graft] def reconcileEventsZBounds(s: SparkSession,
                                            path: String): Unit = {
    curveOf(s, path) // migrate a pre-split store BEFORE touching _bounds
    val r = s.read.parquet(path).agg(min(col("ts_us")), max(col("ts_us")),
      max(col("user_id"))).head
    writeBounds(s, path, r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** q129's rectangle scan alone (pre-aggregate): the filtered read over
    * the resolved layout. Exposed for the bench's pruning measurement —
    * a bare scan+filter plans without AQE, so its leaf's numOutputRows
    * IS the post-row-group-pruning row count (the ZOrderSpec metric;
    * the aggregated q129 plan wraps in AdaptiveSparkPlanExec, whose
    * leaf-less shape hides the scan metric). */
  private[graft] def q129RectangleScan(s: SparkSession, d: String): DataFrame = {
    val (dir, mn, mx, umax, snapshot) =
      graft.sources.Stores.boundTo(s, "spark.graft.eventsZStore", d) match {
        case Some(path) =>
          // snapshot read (VERDICT r13 task 6): resolve the newest
          // manifest's explicit file list, so a read issued inside a
          // compaction window scans a COMPLETE pre-swap snapshot (the
          // old files persist under the compactor's tmp until the new
          // manifest commits) instead of failing fast — availability
          // the lock contract couldn't give. A pre-manifest store
          // (None) keeps the fail-fast guard unchanged.
          val files = graft.sources.Stores.snapshotFiles(s, path)
          if (files.isEmpty)
            graft.sources.Stores.assertNotCompacting(s,
              new org.apache.hadoop.fs.Path(path))
          val b = s.read.parquet(s"$path/_bounds").head
          (path, b.getAs[Long]("mn"), b.getAs[Long]("mx"),
            b.getAs[Long]("umax"), files)
        case None =>
          val (root, a, b, c) = zorderMemo.getOrElseUpdate(s, d) {
            val root = graft.TempDirs.create("graft-zorder")
            val (mn, mx, umax) =
              rewriteZOrdered(s, d, root.resolve("events").toString)
            (root, mn, mx, umax)
          }
          (root.resolve("events").toString, a, b, c, None)
      }
    val t1 = mn + (mx - mn) / 4
    val t2 = mn + (mx - mn) / 2
    // user band = [umax/5, 2·umax/5): derived, so the rectangle is
    // non-degenerate at every scale factor (sf0.001 has 15 users)
    snapshot.map(fl => s.read.parquet(fl: _*))
      .getOrElse(s.read.parquet(dir))
      .filter(col("ts_us") >= t1 && col("ts_us") < t2 &&
        col("user_id") >= umax / 5 && col("user_id") < (2 * umax) / 5)
  }

  private def q129(s: SparkSession, d: String): DataFrame =
    q129RectangleScan(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(FP.micro(col("value"))).as("sum_value_u"))
      .orderBy("event_type")

  private val q129Sql =
    s"""WITH b AS (
       |  SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx,
       |    max(user_id) AS umax FROM events),
       |r AS (
       |  SELECT e.event_type, ${FP.sqlMicro("e.value")} AS v
       |  FROM events e, b
       |  WHERE epoch_us(e.ts) >= b.mn + (b.mx - b.mn) // 4
       |    AND epoch_us(e.ts) <  b.mn + (b.mx - b.mn) // 2
       |    AND e.user_id >= b.umax // 5 AND e.user_id < (2 * b.umax) // 5)
       |SELECT event_type, count(*) AS n_events,
       |  CAST(sum(v) AS BIGINT) AS sum_value_u
       |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q130: PageRank authority over the trade graph ---------------------
  // The crawl-graph quality signal (Common Crawl publishes host-level
  // ranks that pipelines feed their source weights): PageRank in exact
  // integer micro-units (operators/Graph.pageRank — truncating integer
  // contributions make the iterated SUM associative, so the distributed
  // result is partition-invariant and the 5-iteration unrolled SQL
  // oracle matches bit-for-bit; floating-point PageRank drifts by
  // summation order on every shuffle). Graph: the customer↔supplier
  // bipartite trade graph from orders ⋈ lineitem — symmetric edges, so
  // no node dangles and no rank mass leaks. Node ids pack both key
  // spaces into one long (customer 2k, supplier 2k+1). Output: the
  // top-25 authorities with their in-graph degree-weighted rank.
  private val PrIters = 5
  private val PrDampPm = 850

  private val tradePairsMemo = new SessionMemo[DataFrame]

  /** The distinct customer↔supplier pair set BOTH PageRank queries
    * derive from orders ⋈ lineitem — memoized per (session, corpus) as
    * ONE localCheckpoint (the q113 shortlist discipline; VERDICT r12
    * task 7): q130 and q133 each paid the join + distinct + the
    * checkpoint separately (~12% of the whole loop) for bit-identical
    * frames. The memoized frame is the PRE-direction pair set — q130
    * symmetrizes it, q133 uses it as directed edges — so one
    * materialization feeds both graph shapes. */
  private def tradePairs(s: SparkSession, d: String): DataFrame =
    tradePairsMemo.getOrElseUpdate(s, d) {
      Tables.orders(s, d)
        .join(Tables.lineitem(s, d),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
        .localCheckpoint()
    }

  private def q130(s: SparkSession, d: String): DataFrame = {
    val pairs = tradePairs(s, d)
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
    graft.operators.Graph.pageRank(edges, PrIters, PrDampPm)
      .select(col("id"), col("r").as("rank_u"))
      .orderBy(col("rank_u").desc, col("id"))
      .limit(25)
  }

  private val q130Sql = {
    val base = 1000L * (1000 - PrDampPm)
    val iters = (1 to PrIters).map { i =>
      s"""r$i AS (
         |  SELECT n.id, CAST($base + coalesce(sum(c.c_r), 0) AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst, (r.r * $PrDampPm // 1000 // e.out_deg) AS c_r
         |    FROM e JOIN r${i - 1} r ON r.id = e.src) c ON c.dst = n.id
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |edges AS (
       |  SELECT a AS src, b AS dst FROM pairs
       |  UNION ALL SELECT b AS src, a AS dst FROM pairs),
       |deg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY 1),
       |e AS (SELECT edges.src, edges.dst, deg.out_deg
       |      FROM edges JOIN deg USING (src)),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes),
       |$iters
       |SELECT id, r AS rank_u FROM r$PrIters
       |ORDER BY rank_u DESC, id LIMIT 25""".stripMargin
  }

  // ---- q133: PageRank over a DIRECTED graph with dangling nodes ----------
  // The crawl-graph shape q130's symmetric construction sidesteps: edges
  // run customer → supplier ONLY, so every supplier is a planted dangling
  // node (no out-edges) — like a crawl frontier's leaf hosts. Without
  // redistribution their damped rank (85% of the supplier mass, most of
  // the graph's total) would leak every iteration; Graph.pageRank instead
  // splits it evenly (truncating div by node count, remainder to the
  // min-id node), all integer-exact, so the unrolled-CTE oracle below —
  // which models the same dangling arithmetic — matches bit-for-bit and
  // PageRankSpec can pin mass conservation to the truncation bound.
  private def q133(s: SparkSession, d: String): DataFrame = {
    val edges = tradePairs(s, d)
      .select(col("a").as("src"), col("b").as("dst"))
    // fast path PINNED OFF (the q38 discipline): at test scale every trade
    // graph fits the driver cap, so without the pin no oracle row would
    // exercise the distributed rank loop — and this is the DANGLING shape,
    // whose per-iteration redistribution is the loop's hardest arithmetic.
    // q130 keeps the adaptive default, so both branches carry a green row.
    graft.operators.Graph.pageRank(edges, PrIters, PrDampPm,
      allowDriverFastPath = false)
      .select(col("id"), col("r").as("rank_u"))
      .orderBy(col("rank_u").desc, col("id"))
      .limit(25)
  }

  private val q133Sql = {
    val base = 1000L * (1000 - PrDampPm)
    val iters = (1 to PrIters).map { i =>
      s"""d$i AS (
         |  SELECT CAST(coalesce(sum(r.r), 0) * $PrDampPm // 1000 AS BIGINT) AS dm
         |  FROM r${i - 1} r WHERE r.id NOT IN (SELECT src FROM pairs)),
         |r$i AS (
         |  SELECT s.id, CAST($base + d.dm // m.n
         |      + CASE WHEN s.id = m.mid THEN d.dm % m.n ELSE 0 END
         |      + s.cr AS BIGINT) AS r
         |  FROM (SELECT n.id, coalesce(sum(c.c_r), 0) AS cr
         |        FROM nodes n LEFT JOIN (
         |          SELECT e.dst, (r.r * $PrDampPm // 1000 // e.out_deg) AS c_r
         |          FROM e JOIN r${i - 1} r ON r.id = e.src) c ON c.dst = n.id
         |        GROUP BY 1) s, meta m, d$i d)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |deg AS (SELECT src, count(*) AS out_deg FROM pairs GROUP BY 1),
       |e AS (SELECT pairs.src, pairs.dst, deg.out_deg
       |      FROM pairs JOIN deg USING (src)),
       |nodes AS (SELECT src AS id FROM pairs UNION SELECT dst FROM pairs),
       |meta AS (SELECT count(*) AS n, min(id) AS mid FROM nodes),
       |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes),
       |$iters
       |SELECT id, r AS rank_u FROM r$PrIters
       |ORDER BY rank_u DESC, id LIMIT 25""".stripMargin
  }

  def defs: Map[String, QueryDef] = Map(
    "q130_pagerank" -> QueryDef(q130, Some(q130Sql)),
    "q133_pagerank_dangling" -> QueryDef(q133, Some(q133Sql)),
    "q129_zorder_scan" -> QueryDef(q129, Some(q129Sql)),
    "q23_set_ops" -> QueryDef(q23, Some(q23Sql)),
    "q24_cube" -> QueryDef(q24, Some(q24Sql)),
    "q25_pivot" -> QueryDef(q25, Some(q25Sql)),
    "q20_rollup" -> QueryDef(q20, Some(q20Sql)),
    "q21_range_join" -> QueryDef(q21, Some(q21Sql)),
    "q01_pricing_summary" -> QueryDef(q01, Some(q01Sql)),
    "q02_filter_project" -> QueryDef(q02, Some(q02Sql)),
    "q03_dict_join" -> QueryDef(q03, Some(q03Sql)),
    "q04_group_first" -> QueryDef(q04, Some(q04Sql)),
    "q05_distinct" -> QueryDef(q05, Some(q05Sql)),
    "q06_union_all" -> QueryDef(q06, Some(q06Sql)),
    "q07_row_number" -> QueryDef(q07, Some(q07Sql)),
    "q08_histogram_year" -> QueryDef(q08, Some(q08Sql)),
    "q09_global_agg" -> QueryDef(q09, Some(q09Sql)),
    "q10_product_combine" -> QueryDef(q10, Some(q10Sql)),
    "q11_all_match" -> QueryDef(q11, Some(q11Sql)),
    "q12_top1_per_group" -> QueryDef(q12, Some(q12Sql)),
    "q13_join_agg" -> QueryDef(q13, Some(q13Sql)),
    "q14_semi_anti" -> QueryDef(q14, Some(q14Sql)),
    "q15_window_cumsum" -> QueryDef(q15, Some(q15Sql)),
    "q16_lag_diff" -> QueryDef(q16, Some(q16Sql)),
    "q17_asof_join" -> QueryDef(q17, Some(q17Sql)),
    "q18_rank_topk" -> QueryDef(q18, Some(q18Sql)),
    "q19_date_parts" -> QueryDef(q19, Some(q19Sql)),
    "q22_profile_gate" -> QueryDef(q22, Some(q22Sql)))
}
