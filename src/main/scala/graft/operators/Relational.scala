package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Query, Tables}

/** Relational / analytic operator block (SURVEY.md §2 B).
  *
  * Conventions shared with the DuckDB oracles in [[queries]]:
  *  - money sums go through [[moneySum]] (exact integer cents) and
  *    averages are rounded, so aggregation-order noise can't flip a
  *    hash;
  *  - every result has a total deterministic ORDER BY;
  *  - column aliases match the oracle SQL exactly.
  *
  * Scale notes: genuinely bounded dimension sides (region/nation/
  * supplier — ~100s of MB even at 100 TB) carry broadcast hints.
  * Frames derived from CORPUS-SCALING tables (`customer`, `part` —
  * a constant-selectivity filter on a linearly-growing table still
  * grows linearly) carry NO hint: AQE's size gate picks
  * broadcast-hash at test SFs (asserted in ExplainSpec) and degrades
  * to a shuffle join at scale instead of OOMing a forced broadcast.
  * PlanHygieneSpec enforces the no-hint rule over all queries.
  * Fact-fact joins shuffle on their join key and rely on AQE for
  * skew. Filters sit directly on the scan so parquet pushdown
  * applies (see ExplainSpec).
  */
object Relational {

  private def ts(s: String) = to_timestamp(lit(s))

  /** Order-independent money sum: per-row round to exact integer
    * cents (deterministic — both engines see the same input double
    * and round half-away-from-zero), sum as BIGINT (exact, any
    * aggregation order), divide back at the end. A rounded double
    * sum instead sits 1 ulp from a cent boundary often enough to
    * flake the oracle hash (~0.3% of groups measured at sf0.01). */
  private def moneySum(e: Column): Column =
    sum(round(e * 100, 0).cast("long")) / 100.0

  /** TPC-H Q1-style pricing summary. */
  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
    li.filter(col("l_shipdate") <= ts("2000-12-01"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("sum_disc_price"),
        moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")) *
          (lit(1) + col("l_tax"))).as("sum_charge"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_extendedprice"), 4).as("avg_price"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** TPC-H Q3-style shipping priority: 3-way join + group + top-10. */
  def q3JoinTopk(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val cust = t.customer.filter(col("c_mktsegment") === "BUILDING")
    t.lineitem.filter(col("l_shipdate") > ts("1998-01-01"))
      .join(t.orders.filter(col("o_orderdate") < ts("1998-01-01")),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)
      .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
  }

  /** TPC-H Q5-style: 6-way join through region→nation→supplier/customer. */
  def q5Multijoin(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val nr = t.nation.join(
      broadcast(t.region.filter(col("r_name") === "ASIA")),
      col("n_regionkey") === col("r_regionkey"))
    t.lineitem
      .join(t.orders.filter(col("o_orderdate") >= ts("1996-01-01") &&
          col("o_orderdate") < ts("1997-01-01")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t.supplier, col("l_suppkey") === col("s_suppkey"))
      .join(t.customer, col("o_custkey") === col("c_custkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nr), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q6-style: selective filter + single global aggregate. */
  def q6FilterAgg(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
    li.filter(col("l_shipdate") >= ts("1996-01-01") &&
        col("l_shipdate") < ts("1997-01-01") &&
        col("l_discount") >= 0.03 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(moneySum(col("l_extendedprice") * col("l_discount")).as("revenue"))
  }

  /** Global order-by + limit (top-k pushes into TakeOrderedAndProject). */
  def qTopkOrders(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)
      .select("o_orderkey", "o_custkey", "o_totalprice")

  /** groupBy + HAVING. */
  def qGroupHaving(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("spend"))
      .filter(col("n_orders") >= 5)
      .sortWithinPartitions("o_custkey")

  /** count(distinct) per group. */
  def qDistinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"))
      .orderBy("l_returnflag")

  /** row_number per partition, top-3 orders per customer. */
  def qWindowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables(spark, dir).orders
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .sortWithinPartitions("o_custkey", "rn")
  }

  /** Running sum over an ordered window. */
  def qWindowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(spark, dir).orders
      .select(col("o_custkey"), col("o_orderkey"),
        round(sum(col("o_totalprice")).over(w), 2).as("running_spend"))
      .sortWithinPartitions("o_custkey", "o_orderkey")
  }

  /** RANGE-frame window (vs [[qWindowRunning]]'s ROWS frame): rolling
    * 30-day spend per customer — the frame is a VALUE interval over
    * epoch seconds, so same-day orders are peers and contribute to
    * each other's total, which a ROWS frame cannot express. */
  def qWindowRange(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("epoch_s"))
      .rangeBetween(-30L * 86400, 0)
    Tables(spark, dir).orders
      .select(col("o_custkey"), col("o_orderkey"),
        unix_timestamp(col("o_orderdate")).as("epoch_s"),
        col("o_totalprice"))
      .select(col("o_custkey"), col("o_orderkey"), col("epoch_s"),
        round(sum(col("o_totalprice")).over(w), 2).as("spend_30d"))
      .sortWithinPartitions("o_custkey", "o_orderkey")
  }

  /** Conditional-ratio aggregate: returned-revenue share per month —
    * both numerator and denominator as exact integer-cent sums (any
    * aggregation order), one double division rounded at the end. */
  def qReturnRatio(spark: SparkSession, dir: String): DataFrame = {
    val cents = round(col("l_extendedprice") * 100, 0).cast("long")
    Tables(spark, dir).lineitem
      .groupBy(to_date(date_trunc("month", col("l_shipdate"))).as("month"))
      .agg(
        round(sum(when(col("l_returnflag") === "R", cents).otherwise(lit(0L)))
            .cast("double") / sum(cents).cast("double"), 6)
          .as("return_share"),
        count(lit(1)).as("n"))
      .orderBy("month")
  }

  /** EXISTS via left_semi: customers with at least one urgent order. */
  def qSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.customer
      .join(t.orders.filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .sortWithinPartitions("c_custkey")
  }

  /** NOT EXISTS via left_anti: customers with no orders at all. */
  def qAntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.customer
      .join(t.orders, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .sortWithinPartitions("c_custkey")
  }

  /** Union of two filtered branches + aggregate. */
  def qUnionAgg(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
    val hi = o.filter(col("o_totalprice") > 400000)
      .select(col("o_orderstatus"), lit("high").as("bucket"))
    val lo = o.filter(col("o_totalprice") < 50000)
      .select(col("o_orderstatus"), lit("low").as("bucket"))
    hi.unionAll(lo)
      .groupBy(col("o_orderstatus"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy("o_orderstatus", "bucket")
  }

  /** INTERSECT / EXCEPT set operators — churn analysis between two
    * customer cohorts (active 1997 vs active 1998): retained =
    * intersect, churned = except, acquired = reverse except, each
    * tagged and unioned. Catalyst plans set ops as aggregates/
    * left-anti joins on the already-distinct key sets — no new
    * machinery at scale, but the SQL surface deserves explicit
    * coverage and an oracle. */
  def qSetOps(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
    def cohort(y: Int) = o.filter(year(col("o_orderdate")) === y)
      .select(col("o_custkey")).distinct()
    val y97 = cohort(1997)
    val y98 = cohort(1998)
    y97.intersect(y98).select(col("o_custkey"), lit("retained").as("cohort"))
      .unionAll(y97.except(y98)
        .select(col("o_custkey"), lit("churned").as("cohort")))
      .unionAll(y98.except(y97)
        .select(col("o_custkey"), lit("acquired").as("cohort")))
      .sortWithinPartitions("cohort", "o_custkey")
  }

  /** Hierarchical ROLLUP aggregate. */
  def qRollup(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum("l_quantity"), 2).as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** Explicit GROUPING SETS — the general form ROLLUP/CUBE specialize:
    * here one aggregate pass produces BOTH per-returnflag and
    * per-linestatus marginals (each row belongs to exactly the sets
    * that mention its columns; Catalyst plans one Expand + one
    * aggregate, not two scans). */
  def qGroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** The salted join as checked surface: orders⋈customer through
    * [[graft.functions.Skew.saltedJoin]] (hot keys spread over 8
    * reducers), aggregated per market segment. The oracle is the
    * PLAIN join's SQL — passing means salting is value-invisible,
    * checked by the driver, not just by SkewSpec. */
  def qSaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
      .select(col("o_custkey"), col("o_totalprice"))
    val c = Tables(spark, dir).customer
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    graft.functions.Skew.saltedJoin(o, c, "o_custkey", saltFactor = 8)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("spend"))
      .orderBy("c_mktsegment")
  }

  /** Pivot as conditional aggregation (one column per priority class). */
  def qPivot(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
    def bucket(p: String, as: String) =
      moneySum(when(col("o_orderpriority") === p, col("o_totalprice"))
        .otherwise(lit(0.0))).as(as)
    o.groupBy(col("o_orderstatus"))
      .agg(bucket("1-URGENT", "urgent"), bucket("2-HIGH", "high"),
        bucket("3-MEDIUM", "medium"), bucket("4-NOT SPECIFIED", "notspec"),
        bucket("5-LOW", "low"))
      .orderBy("o_orderstatus")
  }

  /** CASE-expression bucketing + aggregate. */
  def qCaseAgg(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .select(
        when(col("o_totalprice") < 100000, "small")
          .when(col("o_totalprice") < 300000, "medium")
          .otherwise("large").as("size_bucket"),
        col("o_totalprice"))
      .groupBy(col("size_bucket"))
      .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("total"))
      .orderBy("size_bucket")

  /** Monthly revenue time series. */
  def qMonthRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .groupBy(to_date(date_trunc("month", col("l_shipdate"))).as("month"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
      .orderBy("month")

  /** String function pipeline: LIKE + upper + substring. */
  def qStringFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).part
      .filter(col("p_name").like("%a%"))
      .groupBy(col("p_brand"), upper(col("p_type")).as("type_u"),
        substring(col("p_name"), 1, 8).as("name8"))
      .agg(count(lit(1)).as("n"))
      .sortWithinPartitions("p_brand", "type_u", "name8")

  /** TPC-H Q7-style: revenue volume between supplier/customer nation
    * pairs (two broadcast dimension joins on the same fact row). */
  def q7NationVolume(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val n1 = t.nation.select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = t.nation.select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    t.lineitem.filter(col("l_shipdate") >= ts("1997-01-01") &&
        col("l_shipdate") < ts("1998-01-01"))
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .join(t.supplier, col("l_suppkey") === col("s_suppkey"))
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
      .orderBy("supp_nation", "cust_nation")
  }

  /** TPC-H Q10-style returned-item reporting. */
  def q10Returned(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.lineitem.filter(col("l_returnflag") === "R")
      .join(t.orders.filter(col("o_orderdate") >= ts("1997-01-01") &&
          col("o_orderdate") < ts("1997-07-01")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q18 shape (large-volume orders): a HAVING-filtered
    * aggregate over the fact table acts as a semi-join filter on
    * orders, then customer + lineitem join back for the report. The
    * big-orders set is computed ONCE (one groupBy on l_orderkey with
    * map-side partial sums) and semi-joined — at 100 TB that
    * aggregate-then-semi-join is the only shape that doesn't
    * re-aggregate inside a correlated subquery per row. */
  def q18BigOrders(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val big = t.lineitem.groupBy(col("l_orderkey"))
      .agg(sum("l_quantity").as("qty"))
      .filter(col("qty") > 300)
      .select(col("l_orderkey").as("big_orderkey"))
    t.orders
      .join(big, col("o_orderkey") === col("big_orderkey"), "left_semi")
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"))
      .agg(round(sum("l_quantity"), 2).as("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)
  }

  /** Correlated scalar subquery (SQL surface): priciest part(s) per
    * brand. Catalyst rewrites the correlation into a join. */
  def qCorrelatedSub(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).part.createOrReplaceTempView("part")
    spark.sql(
      """SELECT p_brand, p_partkey, p_name, p_retailprice FROM part p
         WHERE p_retailprice = (SELECT max(p2.p_retailprice) FROM part p2
                                WHERE p2.p_brand = p.p_brand)
         ORDER BY p_brand, p_partkey""")
  }

  /** IN-subquery (SQL surface): orders from high-balance customers. */
  def qInSub(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.orders.createOrReplaceTempView("orders")
    t.customer.createOrReplaceTempView("customer")
    spark.sql(
      """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice FROM orders
         WHERE o_custkey IN (SELECT c_custkey FROM customer
                             WHERE c_acctbal > 9000)
         SORT BY o_orderkey""")
  }

  /** Full CUBE over two grouping columns. */
  def qCube(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** lead/lag windows: seconds between consecutive orders per
    * customer. */
  def qWindowLead(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables(spark, dir).orders
      .select(col("o_custkey"), col("o_orderkey"),
        // o_orderdate reads as TIMESTAMP_NTZ (ms parquet) which can't
        // cast straight to long — hop through TIMESTAMP (session UTC)
        (lead(col("o_orderdate"), 1).over(w).cast("timestamp").cast("long") -
          col("o_orderdate").cast("timestamp").cast("long")).as("gap_s"))
      .sortWithinPartitions("o_custkey", "o_orderkey")
  }

  /** Exact percentiles per group (continuous interpolation). */
  def qPercentiles(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .groupBy(col("o_orderstatus"))
      .agg(
        round(percentile(col("o_totalprice"), lit(0.25)), 4).as("p25"),
        round(percentile(col("o_totalprice"), lit(0.5)), 4).as("p50"),
        round(percentile(col("o_totalprice"), lit(0.75)), 4).as("p75"))
      .orderBy("o_orderstatus")

  /** TPC-H Q14 shape (promotion effect): monthly revenue share of
    * promo-type parts — fact⋈dimension join feeding a
    * conditional-ratio aggregate (numerator and denominator as exact
    * integer-cent sums, one rounded division at the end, like
    * [[qReturnRatio]]).
    *
    * `part` carries NO broadcast hint: it scales linearly with the
    * corpus (multi-GB at 100 TB), so a forced broadcast would OOM
    * there. AQE's size gate still picks broadcast-hash at test SFs
    * and degrades to a shuffle join at scale. */
  def q14Promo(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    def cents = round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100, 0)
      .cast("long")
    val promoCents = sum(when(col("p_type") === "PROMO", cents).otherwise(0L))
    val totalCents = sum(cents)
    t.lineitem
      .join(t.part, col("l_partkey") === col("p_partkey"))
      .groupBy(to_date(date_trunc("month", col("l_shipdate"))).as("month"))
      .agg((promoCents / 100.0).as("promo_revenue"),
        (totalCents / 100.0).as("total_revenue"),
        round(promoCents.cast("double") / totalCents.cast("double"), 6)
          .as("promo_share"))
      .orderBy("month")
  }

  /** ntile + percent_rank windows: per-customer spend quartiles. The
    * window order is (o_totalprice, o_orderkey) — a total order, so
    * both tile boundaries and ranks are engine-reproducible. */
  def qNtile(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables(spark, dir).orders
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pr"))
      .sortWithinPartitions("o_custkey", "o_orderkey")
  }

  /** Bloom-prefiltered semi-join — the explicit runtime-filter
    * pattern: a 2¹⁶-bit portable Bloom filter built from the selective
    * customer subset prunes the orders side BEFORE the exact
    * semi-join's shuffle ([[graft.functions.Bloom]]). No false
    * negatives, and false positives die in the exact join, so the
    * composed operator is value-invisible: the driver's oracle is the
    * PLAIN semi-join SQL — the hash match proves it (same argument as
    * [[qSaltedJoin]]); BloomSpec additionally measures the pruning. */
  def qBloomJoin(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val hot = t.customer.filter(col("c_acctbal") > 9500).select(col("c_custkey"))
    val bloom = graft.functions.Bloom.build(hot, col("c_custkey"))
    graft.functions.Bloom.prefilter(t.orders, col("o_custkey"), bloom)
      .join(hot, col("o_custkey") === col("c_custkey"), "left_semi")
      .select(col("o_orderkey"), col("o_custkey"))
      // per-partition order only: the full match set scales with the
      // corpus, so a global orderBy would funnel it through one range
      // exchange purely for presentation; the driver's hash compare
      // re-sorts rows, so ordering carries no correctness weight
      .sortWithinPartitions("o_orderkey")
  }

  /** TPC-H Q15 shape (top supplier): revenue per supplier over a
    * quarter, then keep the max-revenue supplier(s) via a broadcast
    * join against the 1-row max — the "view + WHERE total = (SELECT
    * max)" pattern without recomputing the aggregate per row. Exact
    * integer-cent revenue makes the max comparison engine-stable. */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val rev = t.lineitem
      .filter(col("l_shipdate") >= ts("1996-01-01") &&
        col("l_shipdate") < ts("1996-04-01"))
      .groupBy(col("l_suppkey"))
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100, 0)
        .cast("long")).as("rev_cents"))
    val top = rev.agg(max("rev_cents").as("max_cents"))
    rev.join(broadcast(top), col("rev_cents") === col("max_cents"))
      .join(Tables(spark, dir).supplier,
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        (col("rev_cents") / 100.0).as("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** UNPIVOT (wide → long): the per-priority pivot columns melted
    * back to (status, priority, spend) rows via `unpivot` — the
    * inverse surface of [[qPivot]]. */
  def qUnpivot(spark: SparkSession, dir: String): DataFrame = {
    val wide = qPivot(spark, dir)
    wide.unpivot(
      Array(col("o_orderstatus")),
      Array(col("urgent"), col("high"), col("medium"), col("notspec"), col("low")),
      "priority", "spend")
      .orderBy("o_orderstatus", "priority")
  }

  /** first_value / last_value / nth_value over a running frame: each
    * order alongside its customer's cheapest, priciest, and
    * second-cheapest orders. The frame is the WHOLE partition (ROWS
    * UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) — last_value over
    * the default running frame is the classic footgun this query
    * pins. */
  def qFirstLast(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables(spark, dir).orders
      .select(col("o_custkey"), col("o_orderkey"),
        first(col("o_orderkey")).over(w).as("cheapest_key"),
        last(col("o_orderkey")).over(w).as("priciest_key"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_key"))
      .sortWithinPartitions("o_custkey", "o_orderkey")
  }

  /** TPC-H Q4 shape (order-priority checking): count orders per
    * priority that have at least one returned lineitem in the window —
    * EXISTS rewritten as a left-semi join, so the lineitem side is
    * pre-filtered on the scan and only (orderkey) crosses the shuffle. */
  def q4Priority(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val returned = t.lineitem.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"))
    t.orders
      .filter(col("o_orderdate") >= ts("1996-01-01") &&
        col("o_orderdate") < ts("1996-07-01"))
      .join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H Q13 shape (customer distribution): two-level aggregation —
    * orders per customer including zero-order customers (left outer
    * join with an ON-clause filter, count of the nullable key), then
    * the histogram of those counts. The second aggregate's input is
    * one row per customer, so the heavy shuffle is only the first. */
  def q13CustDist(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val perCust = t.customer
      .join(t.orders.filter(col("o_orderpriority") =!= "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
    perCust.groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q17 shape (small-quantity-order revenue): lineitems of one
    * brand's parts whose quantity is below 20% of that part's average
    * quantity. The correlated `avg per part` is computed once per part
    * over the brand-restricted join, not per row; both the filtered
    * part slice and the per-part aggregate scale with the corpus, so
    * neither is hinted — AQE size-gates the join strategy. Quantities
    * are small integers in doubles, so the average is exact and the
    * threshold compare is engine-stable. */
  def q17AvgQty(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val brandParts = t.part.filter(col("p_brand") === "Brand#5")
      .select(col("p_partkey"))
    val li = t.lineitem
      .join(brandParts, col("l_partkey") === col("p_partkey"))
    val avgQty = li.groupBy(col("l_partkey").as("ap_partkey"))
      .agg(avg(col("l_quantity")).as("avg_qty"))
    li.join(avgQty, col("l_partkey") === col("ap_partkey"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg(round(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
        / 700.0, 4).as("avg_yearly"))
  }

  /** TPC-H Q19 shape (discounted revenue, disjunctive predicates):
    * three brand/size/quantity clauses OR-ed across a fact⋈dimension
    * join. The per-clause part predicates are pushed to the part scan
    * as a single OR filter before the join, so the build side carries
    * only candidate parts; the slice still scales with the corpus, so
    * no hint — AQE size-gates the strategy. */
  def q19OrPred(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val partPred =
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 10)) ||
      (col("p_brand") === "Brand#2" && col("p_size").between(1, 20)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(1, 30))
    val clause =
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#2" && col("p_size").between(1, 20) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(1, 30) &&
        col("l_quantity").between(20, 30))
    t.lineitem
      .join(t.part.filter(partPred),
        col("l_partkey") === col("p_partkey"))
      .filter(clause)
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
  }

  /** TPC-H Q22 shape (global sales opportunity): LAPSED customers —
    * above the mean positive account balance but no order since
    * 2000-06-01 — grouped by nation. The scalar `avg` is kept EXACT:
    * threshold as the integer cross-multiplication `bal_cents · n >
    * sum_cents` (both BIGINT) instead of a floating average, so no
    * boundary customer can flip on accumulation order; the recent-
    * orders probe is an anti join whose right side is filtered on the
    * scan (date pushdown) before its distinct-key shuffle. */
  def q22NoOrders(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val balCents = round(col("c_acctbal") * 100, 0).cast("long")
    val avgPos = t.customer.filter(col("c_acctbal") > 0)
      .agg(sum(balCents).as("sum_cents"), count(lit(1)).as("n_pos"))
    t.customer
      .crossJoin(broadcast(avgPos))
      .filter(balCents * col("n_pos") > col("sum_cents"))
      .join(t.orders.filter(col("o_orderdate") >= ts("2000-06-01"))
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"),
        moneySum(col("c_acctbal")).as("totacctbal"))
      .orderBy("c_nationkey")
  }

  /** TPC-H Q2 shape (minimum-cost supplier): for every LARGE part,
    * the EUROPE suppliers matching the part's minimum observed unit
    * price. The testdata has no `partsupp` table, so supply cost is
    * derived from history: min unit price that (supplier, part) ever
    * charged in lineitem, in exact cents. The correlated `= (SELECT
    * min ...)` becomes a groupBy-min + equi-join on (part, cost) —
    * aggregation-shaped, not window-shaped, so map-side partial mins
    * apply and nothing funnels. Only nation⋈region carry hints (25/5
    * rows, fixed at any SF); supplier — and therefore the EU slice —
    * scales linearly with the corpus (10×/SF in the testdata), so it
    * carries no hint — AQE size-gates those joins. */
  def q2MinCost(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // the candidate-part semi-join runs BEFORE the (part, supplier)
    // aggregate — only LARGE parts' lines pay the agg shuffle (~1/6
    // of lineitem here, the same reduction at any SF)
    val supply = t.lineitem
      .join(t.part.filter(col("p_type") === "LARGE")
          .select(col("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_partkey"), col("l_suppkey"))
      .agg(min(round(col("l_extendedprice") / col("l_quantity") * 100, 0)
        .cast("long")).as("cost_cents"))
    val eu = t.supplier
      .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region.filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val cand = supply
      .join(eu, col("l_suppkey") === col("s_suppkey"))
      .select(col("p_partkey"), col("s_name"), col("s_acctbal"),
        col("n_name"), col("cost_cents"))
    val best = cand.groupBy(col("p_partkey").as("bp"))
      .agg(min("cost_cents").as("best_cents"))
    cand.join(best,
        col("p_partkey") === col("bp") && col("cost_cents") === col("best_cents"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"), col("p_partkey"),
        round(col("cost_cents") / 100.0, 2).as("supply_cost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(100)
  }

  /** TPC-H Q8 shape (national market share): of AMERICA customers'
    * STANDARD-part purchase volume in 1995–96, the share supplied by
    * NATION_5, per year. One fact-fact shuffle (lineitem⋈orders);
    * only the FIXED-size dimensions (nation ×2, region) carry
    * broadcast hints. `customer`, `supplier`, and the part subset do
    * NOT — all three scale linearly with the corpus (10×/SF in the
    * testdata; multi-GB at 100 TB), so those joins are left to AQE's
    * size gate: broadcast-hash at test SFs, shuffle join at scale
    * instead of an OOM. Volumes are exact cents; the final share is
    * one double division per year-group. */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val volCents =
      round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100, 0)
        .cast("long")
    t.lineitem
      .join(t.orders.filter(
          col("o_orderdate").between(ts("1995-01-01"), ts("1996-12-31"))),
        col("l_orderkey") === col("o_orderkey"))
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation.as("n1")),
        col("c_nationkey") === col("n1.n_nationkey"))
      .join(broadcast(t.region.filter(col("r_name") === "AMERICA")),
        col("n1.n_regionkey") === col("r_regionkey"))
      .join(t.supplier, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t.nation.as("n2")),
        col("s_nationkey") === col("n2.n_nationkey"))
      .join(t.part.filter(col("p_type") === "STANDARD")
          .select(col("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .select(year(col("o_orderdate")).as("yr"), volCents.as("vol_cents"),
        col("n2.n_name").as("supp_nation"))
      .groupBy(col("yr"))
      .agg(round(
        sum(when(col("supp_nation") === "NATION_5", col("vol_cents"))
          .otherwise(0L)).cast("double") /
          sum(col("vol_cents")).cast("double"), 6).as("mkt_share"))
      .orderBy("yr")
  }

  /** TPC-H Q9 shape (product-type profit): profit on parts named
    * '%red%' by supplier nation and order year. No `partsupp` ⇒ the
    * supply-cost term is the documented stand-in `50% of
    * p_retailprice per unit`; the Q9 skeleton — 5-table join, profit
    * expression per line, (nation, year) rollup — is unchanged.
    * Amounts are exact signed cents so the sum is order-independent. */
  def q9Profit(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val amountCents =
      round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100, 0)
        .cast("long") -
      round(col("p_retailprice") * col("l_quantity") * 50, 0).cast("long")
    t.lineitem
      .join(t.part.filter(col("p_name").contains("red"))
          .select(col("p_partkey"), col("p_retailprice")),
        col("l_partkey") === col("p_partkey"))
      .join(t.supplier, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
      .join(t.orders.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"),
        amountCents.as("amount_cents"))
      .groupBy(col("nation"), col("o_year"))
      .agg(round(sum("amount_cents") / 100.0, 2).as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** TPC-H Q11 shape (important stock value): parts whose lineitem
    * value from NATION_3 suppliers exceeds 0.3% of that nation's
    * total. The global scalar subquery is a broadcast cross join of a
    * 1-row aggregate; the threshold compare is the exact integer
    * cross-multiplication `val·1000 > tot·3` (no floating fraction).
    * The per-part value aggregate's exchange is computed once and
    * reused for the total (AQE exchange reuse). */
  def q11ImportantParts(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val n3supp = t.supplier
      .join(broadcast(t.nation.filter(col("n_name") === "NATION_3")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val v = t.lineitem
      .join(n3supp, col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("l_partkey"))
      .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
        .as("val_cents"))
    val tot = v.agg(sum("val_cents").as("tot_cents"))
    v.crossJoin(broadcast(tot))
      .filter(col("val_cents") * 1000 > col("tot_cents") * 3)
      .select(col("l_partkey").as("p_partkey"),
        round(col("val_cents") / 100.0, 2).as("value"))
      .orderBy(col("value").desc, col("p_partkey"))
  }

  /** TPC-H Q12 shape (shipping-delay priority accounting): lines
    * shipped more than 45 days after their order date, split into
    * high/low-priority counts per return flag. The testdata has no
    * l_shipmode/commitdate/receiptdate, so "late" is
    * ship − order > 45 days — the Q12 skeleton (fact-fact join,
    * date-arithmetic filter, conditional counting) is unchanged. */
  def q12LateLines(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 45 DAYS"))
      .groupBy(col("l_returnflag"))
      .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("l_returnflag")
  }

  /** TPC-H Q16 shape (supplier count by part attributes): distinct
    * suppliers per (brand, type, size) over a part filter, excluding
    * negative-balance suppliers (the `NOT IN` becomes an anti join —
    * s_suppkey is non-null so the semantics coincide; no hint, since
    * the bad-supplier set scales with supplier, i.e. the corpus).
    * Supplier history comes from lineitem (no `partsupp`); the
    * distinct-count shuffles once on the 3-part group key. */
  def q16SupplierCnt(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val parts = t.part.filter(col("p_brand") =!= "Brand#5" &&
        col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    val badSupp = t.supplier.filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    t.lineitem
      .join(parts, col("l_partkey") === col("p_partkey"))
      .join(badSupp, col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  /** TPC-H Q20 shape (excess-share suppliers): suppliers who shipped
    * more than half of some SMALL part's total 1998 volume. Q20's
    * correlated `> 0.5·sum(...)` threshold becomes two stacked
    * aggregates — (supplier, part) totals, re-aggregated per part —
    * joined back on part; the exchange of the first feeds the second
    * (same key prefix) and the qualifying-supplier set semi-joins
    * supplier (no hint — the set scales with part; AQE size-gates).
    * Quantities are small integers, so the double sums and the
    * `sup·2 > part` compare are exact. */
  def q20ExcessSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val sq = t.lineitem
      .filter(col("l_shipdate") >= ts("1998-01-01") &&
        col("l_shipdate") < ts("1999-01-01"))
      .join(t.part.filter(col("p_type") === "SMALL")
          .select(col("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum("l_quantity").as("sup_qty"))
    val pt = sq.groupBy(col("l_partkey").as("pk"))
      .agg(sum("sup_qty").as("part_qty"))
    val excess = sq.join(pt, col("l_partkey") === col("pk"))
      .filter(col("sup_qty") * 2 > col("part_qty"))
      .select(col("l_suppkey"))
    t.supplier
      .join(excess, col("s_suppkey") === col("l_suppkey"),
        "left_semi")
      .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_name"), col("n_name"))
      .orderBy("s_name")
  }

  /** TPC-H Q21 shape (suppliers who kept orders waiting): per
    * supplier, finished-order lines that shipped strictly later than
    * every other supplier's line on the same order — EXISTS(another
    * supplier on the order) ∧ NOT EXISTS(another supplier shipping
    * no earlier). The testdata has no receipt/commit dates, so
    * lateness is on l_shipdate; the semi + anti self-join pair IS the
    * Q21 plan shape, and all three legs shuffle on the same
    * l_orderkey key, so the exchanges line up (no re-partitioning
    * between legs). */
  def q21Waiting(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val l = t.lineitem
      .join(t.orders.filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val withOther = l.as("l1")
      .join(l.as("l2"),
        col("l1.l_orderkey") === col("l2.l_orderkey") &&
          col("l1.l_suppkey") =!= col("l2.l_suppkey"), "left_semi")
    val strictlyLatest = withOther.as("l1")
      .join(l.as("l3"),
        col("l1.l_orderkey") === col("l3.l_orderkey") &&
          col("l1.l_suppkey") =!= col("l3.l_suppkey") &&
          col("l3.l_shipdate") >= col("l1.l_shipdate"), "left_anti")
    strictlyLatest
      .join(t.supplier, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  /** max_by/min_by aggregates: per order status, the order carrying
    * the extreme price. Ties on price exist in the data, so the sort
    * value is the composite `(price_cents · 2³¹ + orderkey)` packed
    * into one BIGINT — a total order both engines agree on (DuckDB's
    * arg_max can't take a struct sort value; price < ~9·10⁶ dollars
    * and orderkey < 2³¹ keep the packing exact). */
  def qMinmaxBy(spark: SparkSession, dir: String): DataFrame = {
    val key = round(col("o_totalprice") * 100, 0).cast("long") *
      lit(2147483648L) + col("o_orderkey")
    Tables(spark, dir).orders
      .groupBy(col("o_orderstatus"))
      .agg(max_by(col("o_orderkey"), key).as("best_key"),
        round(max(col("o_totalprice")), 2).as("best_price"),
        min_by(col("o_orderkey"), key).as("worst_key"),
        round(min(col("o_totalprice")), 2).as("worst_price"))
      .orderBy("o_orderstatus")
  }

  /** This object's queries, each with its DuckDB oracle (see [[graft.core.Query]]). */
  lazy val queries: Seq[Query] = Seq(
    Query("q1_agg", q1Agg, Q1AggSql),
    Query("q1_sql", (s, d) => Tables.runSql(s, d, Q1AggSql), Q1AggSql),
    Query("q3_join_topk", q3JoinTopk,
      """SELECT l_orderkey,
                sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100, 0) AS BIGINT)) / 100.0 AS revenue,
                o_orderdate, o_orderpriority
         FROM customer, orders, lineitem
         WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
           AND l_orderkey = o_orderkey
           AND o_orderdate < TIMESTAMP '1998-01-01'
           AND l_shipdate > TIMESTAMP '1998-01-01'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"""),
    Query("q5_multijoin", q5Multijoin,
      """SELECT n_name,
                sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100, 0) AS BIGINT)) / 100.0 AS revenue
         FROM customer, orders, lineitem, supplier, nation, region
         WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
           AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
           AND r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY n_name ORDER BY revenue DESC, n_name"""),
    Query("q6_filter_agg", q6FilterAgg,
      """SELECT sum(CAST(round((l_extendedprice * l_discount) * 100, 0) AS BIGINT)) / 100.0 AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount >= CAST(0.03 AS DOUBLE)
           AND l_discount <= CAST(0.07 AS DOUBLE)
           AND l_quantity < 24"""),
    Query("q_topk_orders", qTopkOrders,
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 20"""),
    Query("q_group_having", qGroupHaving,
      """SELECT o_custkey, count(*) AS n_orders,
                sum(CAST(round((o_totalprice) * 100, 0) AS BIGINT)) / 100.0 AS spend
         FROM orders GROUP BY o_custkey HAVING count(*) >= 5
         ORDER BY o_custkey"""),
    Query("q_distinct_agg", qDistinctAgg,
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
                count(DISTINCT l_suppkey) AS n_supps
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    Query("q_window_rank", qWindowRank,
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders)
         WHERE rn <= 3 ORDER BY o_custkey, rn"""),
    Query("q_window_running", qWindowRunning,
      """SELECT o_custkey, o_orderkey,
                round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                  AS running_spend
         FROM orders ORDER BY o_custkey, o_orderkey"""),
    Query("q_window_range", qWindowRange,
      """SELECT o_custkey, o_orderkey,
                CAST(floor(epoch(o_orderdate)) AS BIGINT) AS epoch_s,
                round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                  ORDER BY CAST(floor(epoch(o_orderdate)) AS BIGINT)
                  RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW), 2)
                  AS spend_30d
         FROM orders ORDER BY o_custkey, o_orderkey"""),
    Query("q_return_ratio", qReturnRatio,
      """SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
                round(CAST(sum(CASE WHEN l_returnflag = 'R'
                         THEN CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                         ELSE 0 END) AS DOUBLE)
                      / CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                         AS DOUBLE), 6) AS return_share,
                count(*) AS n
         FROM lineitem GROUP BY month ORDER BY month"""),
    Query("q_semi_join", qSemiJoin,
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey
                         AND o_orderpriority = '1-URGENT')
         ORDER BY c_custkey"""),
    Query("q_anti_join", qAntiJoin,
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey"""),
    Query("q_union_agg", qUnionAgg,
      """SELECT o_orderstatus, bucket, count(*) AS n FROM (
           SELECT o_orderstatus, 'high' AS bucket FROM orders
           WHERE o_totalprice > 400000
           UNION ALL
           SELECT o_orderstatus, 'low' AS bucket FROM orders
           WHERE o_totalprice < 50000)
         GROUP BY o_orderstatus, bucket ORDER BY o_orderstatus, bucket"""),
    Query("q_rollup", qRollup,
      """SELECT l_returnflag, l_linestatus,
                round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),
    Query("q_grouping_sets", qGroupingSets,
      """SELECT l_returnflag, l_linestatus,
                round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),
    // the PLAIN join: a hash match proves the salted join is
    // value-invisible
    Query("q_salted_join", qSaltedJoin,
      """SELECT c_mktsegment, count(*) AS n_orders,
                sum(CAST(round((o_totalprice) * 100, 0) AS BIGINT)) / 100.0 AS spend
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
    Query("q_pivot", qPivot,
      """SELECT o_orderstatus,
                sum(CAST(round((CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice ELSE 0 END) * 100, 0) AS BIGINT)) / 100.0 AS urgent,
                sum(CAST(round((CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice ELSE 0 END) * 100, 0) AS BIGINT)) / 100.0 AS high,
                sum(CAST(round((CASE WHEN o_orderpriority = '3-MEDIUM' THEN o_totalprice ELSE 0 END) * 100, 0) AS BIGINT)) / 100.0 AS medium,
                sum(CAST(round((CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN o_totalprice ELSE 0 END) * 100, 0) AS BIGINT)) / 100.0 AS notspec,
                sum(CAST(round((CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice ELSE 0 END) * 100, 0) AS BIGINT)) / 100.0 AS low
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
    Query("q_case_agg", qCaseAgg,
      """SELECT CASE WHEN o_totalprice < 100000 THEN 'small'
                     WHEN o_totalprice < 300000 THEN 'medium'
                     ELSE 'large' END AS size_bucket,
                count(*) AS n, sum(CAST(round((o_totalprice) * 100, 0) AS BIGINT)) / 100.0 AS total
         FROM orders GROUP BY size_bucket ORDER BY size_bucket"""),
    Query("q_month_revenue", qMonthRevenue,
      """SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
                sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100, 0) AS BIGINT)) / 100.0 AS revenue
         FROM lineitem GROUP BY month ORDER BY month"""),
    Query("q_string_funcs", qStringFuncs,
      """SELECT p_brand, upper(p_type) AS type_u,
                substring(p_name, 1, 8) AS name8, count(*) AS n
         FROM part WHERE p_name LIKE '%a%'
         GROUP BY p_brand, type_u, name8 ORDER BY p_brand, type_u, name8"""),
    Query("q_percentiles", qPercentiles,
      """SELECT o_orderstatus,
                round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
                round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
                round(quantile_cont(o_totalprice, 0.75), 4) AS p75
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
    Query("q7_nation_volume", q7NationVolume,
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100, 0) AS BIGINT)) / 100.0 AS revenue
         FROM lineitem, orders, supplier, customer, nation n1, nation n2
         WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey
           AND o_custkey = c_custkey AND s_nationkey = n1.n_nationkey
           AND c_nationkey = n2.n_nationkey
           AND n1.n_name <> n2.n_name
           AND l_shipdate >= TIMESTAMP '1997-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'
         GROUP BY supp_nation, cust_nation
         ORDER BY supp_nation, cust_nation"""),
    Query("q10_returned", q10Returned,
      """SELECT c_custkey, c_name,
                sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100, 0) AS BIGINT)) / 100.0 AS revenue
         FROM lineitem, orders, customer
         WHERE l_returnflag = 'R' AND l_orderkey = o_orderkey
           AND o_custkey = c_custkey
           AND o_orderdate >= TIMESTAMP '1997-01-01'
           AND o_orderdate < TIMESTAMP '1997-07-01'
         GROUP BY c_custkey, c_name
         ORDER BY revenue DESC, c_custkey LIMIT 20"""),
    Query("q18_big_orders", q18BigOrders,
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
                round(sum(l_quantity), 2) AS total_qty
         FROM customer, orders, lineitem
         WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                              GROUP BY l_orderkey
                              HAVING sum(l_quantity) > 300)
           AND c_custkey = o_custkey AND o_orderkey = l_orderkey
         GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 20"""),
    Query("q_correlated_sub", qCorrelatedSub,
      """SELECT p_brand, p_partkey, p_name, p_retailprice FROM part p
         WHERE p_retailprice = (SELECT max(p2.p_retailprice) FROM part p2
                                WHERE p2.p_brand = p.p_brand)
         ORDER BY p_brand, p_partkey"""),
    Query("q_in_sub", qInSub,
      """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice FROM orders
         WHERE o_custkey IN (SELECT c_custkey FROM customer
                             WHERE c_acctbal > 9000)
         ORDER BY o_orderkey"""),
    Query("q_cube", qCube,
      """SELECT l_returnflag, l_linestatus,
                round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),
    Query("q_window_lead", qWindowLead,
      """SELECT o_custkey, o_orderkey,
                CAST(floor(epoch(lead(o_orderdate) OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey))) AS BIGINT)
                - CAST(floor(epoch(o_orderdate)) AS BIGINT) AS gap_s
         FROM orders ORDER BY o_custkey, o_orderkey"""),
    Query("q14_promo", q14Promo,
      """SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
                sum(CASE WHEN p_type = 'PROMO'
                    THEN CAST(round((l_extendedprice * (1 - l_discount)) * 100, 0) AS BIGINT)
                    ELSE 0 END) / 100.0 AS promo_revenue,
                sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100, 0) AS BIGINT)) / 100.0 AS total_revenue,
                round(CAST(sum(CASE WHEN p_type = 'PROMO'
                         THEN CAST(round((l_extendedprice * (1 - l_discount)) * 100, 0) AS BIGINT)
                         ELSE 0 END) AS DOUBLE)
                      / CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100, 0) AS BIGINT))
                         AS DOUBLE), 6) AS promo_share
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY month ORDER BY month"""),
    Query("q_ntile", qNtile,
      """SELECT o_custkey, o_orderkey, o_totalprice,
                ntile(4) OVER (PARTITION BY o_custkey
                  ORDER BY o_totalprice, o_orderkey) AS quartile,
                round(percent_rank() OVER (PARTITION BY o_custkey
                  ORDER BY o_totalprice, o_orderkey), 6) AS pr
         FROM orders ORDER BY o_custkey, o_orderkey"""),
    // composite sort value packed into one BIGINT — see
    // Relational.qMinmaxBy for the bounds argument
    Query("q_minmax_by", qMinmaxBy,
      """SELECT o_orderstatus,
                arg_max(o_orderkey,
                  CAST(round(o_totalprice * 100, 0) AS BIGINT) * 2147483648 + o_orderkey)
                  AS best_key,
                round(max(o_totalprice), 2) AS best_price,
                arg_min(o_orderkey,
                  CAST(round(o_totalprice * 100, 0) AS BIGINT) * 2147483648 + o_orderkey)
                  AS worst_key,
                round(min(o_totalprice), 2) AS worst_price
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
    Query("q15_top_supplier", q15TopSupplier,
      """WITH rev AS (
           SELECT l_suppkey,
                  CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100, 0) AS BIGINT)) AS BIGINT) AS rev_cents
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1996-04-01'
           GROUP BY l_suppkey)
         SELECT s_suppkey, s_name, rev_cents / 100.0 AS total_revenue
         FROM rev JOIN supplier ON l_suppkey = s_suppkey
         WHERE rev_cents = (SELECT max(rev_cents) FROM rev)
         ORDER BY s_suppkey"""),
    Query("q4_priority", q4Priority,
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1996-07-01'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
         GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    Query("q13_cust_dist", q13CustDist,
      """WITH per_cust AS (
           SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT JOIN orders
             ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
           GROUP BY c_custkey)
         SELECT c_count, count(*) AS custdist FROM per_cust
         GROUP BY c_count ORDER BY custdist DESC, c_count DESC"""),
    Query("q17_avg_qty", q17AvgQty,
      """WITH li AS (
           SELECT l_partkey, l_quantity, l_extendedprice
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_brand = 'Brand#5'),
         aq AS (SELECT l_partkey AS ap_partkey, avg(l_quantity) AS avg_qty
                FROM li GROUP BY l_partkey)
         SELECT round(CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
                      / 700.0, 4) AS avg_yearly
         FROM li JOIN aq ON l_partkey = ap_partkey
         WHERE l_quantity < 0.2 * avg_qty"""),
    Query("q19_or_pred", q19OrPred,
      """SELECT sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100, 0) AS BIGINT)) / 100.0 AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
                AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20
                AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30
                AND l_quantity BETWEEN 20 AND 30)"""),
    // threshold as integer cross-multiplication (bal_cents·n >
    // sum_cents) — the scalar average never becomes a float on either
    // engine
    Query("q22_no_orders", q22NoOrders,
      """WITH avg_pos AS (
           SELECT CAST(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents,
                  count(*) AS n_pos
           FROM customer WHERE c_acctbal > 0)
         SELECT c_nationkey, count(*) AS numcust,
                sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) / 100.0 AS totacctbal
         FROM customer CROSS JOIN avg_pos
         WHERE CAST(round(c_acctbal * 100, 0) AS BIGINT) * n_pos > sum_cents
           AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                           AND o_orderdate >= TIMESTAMP '2000-06-01')
         GROUP BY c_nationkey ORDER BY c_nationkey"""),
    // Q2 shape: supply cost = min observed unit price (no partsupp
    // table); correlated min spelled as groupBy-min + join on both
    // engines
    Query("q2_min_cost", q2MinCost,
      """WITH supply AS (
           SELECT l_partkey, l_suppkey,
                  min(CAST(round(l_extendedprice / l_quantity * 100, 0) AS BIGINT)) AS cost_cents
           FROM lineitem GROUP BY 1, 2),
         eu AS (
           SELECT s_suppkey, s_name, s_acctbal, n_name
           FROM supplier JOIN nation ON s_nationkey = n_nationkey
                         JOIN region ON n_regionkey = r_regionkey
           WHERE r_name = 'EUROPE'),
         cand AS (
           SELECT p_partkey, s_name, s_acctbal, n_name, cost_cents
           FROM part JOIN supply ON p_partkey = l_partkey
                     JOIN eu ON l_suppkey = s_suppkey
           WHERE p_type = 'LARGE'),
         best AS (SELECT p_partkey AS bp, min(cost_cents) AS best_cents
                  FROM cand GROUP BY 1)
         SELECT s_acctbal, s_name, n_name, p_partkey,
                round(cost_cents / 100.0, 2) AS supply_cost
         FROM cand JOIN best ON p_partkey = bp AND cost_cents = best_cents
         ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100"""),
    Query("q8_market_share", q8MarketShare,
      """WITH an AS (
           SELECT year(o_orderdate) AS yr,
                  CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT) AS vol_cents,
                  n2.n_name AS supp_nation
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation n1 ON c_nationkey = n1.n_nationkey
           JOIN region ON n1.n_regionkey = r_regionkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation n2 ON s_nationkey = n2.n_nationkey
           JOIN part ON l_partkey = p_partkey
           WHERE r_name = 'AMERICA' AND p_type = 'STANDARD'
             AND o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31')
         SELECT yr,
                round(CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN vol_cents ELSE 0 END) AS DOUBLE)
                      / CAST(sum(vol_cents) AS DOUBLE), 6) AS mkt_share
         FROM an GROUP BY yr ORDER BY yr"""),
    // Q9 shape: supply cost stand-in = 50% of p_retailprice per unit
    Query("q9_profit", q9Profit,
      """SELECT nation, o_year,
                round(CAST(sum(amount_cents) AS BIGINT) / 100.0, 2) AS sum_profit
         FROM (SELECT n_name AS nation, year(o_orderdate) AS o_year,
                      CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)
                      - CAST(round(p_retailprice * l_quantity * 50, 0) AS BIGINT) AS amount_cents
               FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                 JOIN part ON l_partkey = p_partkey
                 JOIN orders ON l_orderkey = o_orderkey
                 JOIN nation ON s_nationkey = n_nationkey
               WHERE p_name LIKE '%red%') t
         GROUP BY nation, o_year ORDER BY nation, o_year DESC"""),
    // Q11 shape: exact integer cross-multiplication threshold
    Query("q11_important_parts", q11ImportantParts,
      """WITH v AS (
           SELECT l_partkey,
                  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS val_cents
           FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
             JOIN nation ON s_nationkey = n_nationkey
           WHERE n_name = 'NATION_3' GROUP BY 1),
         tot AS (SELECT CAST(sum(val_cents) AS BIGINT) AS tot_cents FROM v)
         SELECT l_partkey AS p_partkey, round(val_cents / 100.0, 2) AS value
         FROM v, tot WHERE val_cents * 1000 > tot_cents * 3
         ORDER BY value DESC, p_partkey"""),
    // Q12 shape: late = shipped > 45 days after order date (no
    // commit/receipt dates in the testdata)
    Query("q12_late_lines", q12LateLines,
      """SELECT l_returnflag,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate > o_orderdate + INTERVAL 45 DAY
         GROUP BY l_returnflag ORDER BY l_returnflag"""),
    Query("q16_supplier_cnt", q16SupplierCnt,
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
           AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY 1, 2, 3
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""),
    // Q20 shape: excess share = more than half a part's 1998 volume
    Query("q20_excess_suppliers", q20ExcessSuppliers,
      """WITH sq AS (
           SELECT l_suppkey, l_partkey, sum(l_quantity) AS sup_qty
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_type = 'SMALL'
             AND l_shipdate >= TIMESTAMP '1998-01-01'
             AND l_shipdate < TIMESTAMP '1999-01-01'
           GROUP BY 1, 2),
         pt AS (SELECT l_partkey AS pk, sum(sup_qty) AS part_qty FROM sq GROUP BY 1)
         SELECT s_name, n_name
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         WHERE s_suppkey IN (SELECT l_suppkey FROM sq JOIN pt ON l_partkey = pk
                             WHERE sup_qty * 2 > part_qty)
         ORDER BY s_name"""),
    // Q21 shape: lateness on l_shipdate (no receipt/commit dates)
    Query("q21_waiting", q21Waiting,
      """WITH l AS (SELECT l_orderkey, l_suppkey, l_shipdate
                    FROM lineitem JOIN orders
                      ON l_orderkey = o_orderkey AND o_orderstatus = 'F')
         SELECT s_name, count(*) AS numwait
         FROM l l1 JOIN supplier ON l1.l_suppkey = s_suppkey
         WHERE EXISTS (SELECT 1 FROM l l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM l l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_shipdate >= l1.l_shipdate)
         GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100"""),
    // UNION ALL melt of the pivot — semantically UNPIVOT, spelled
    // portably
    Query("q_unpivot", qUnpivot,
      """WITH w AS (
           SELECT o_orderstatus,
                  sum(CAST(round((CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice ELSE 0 END) * 100, 0) AS BIGINT)) / 100.0 AS urgent,
                  sum(CAST(round((CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice ELSE 0 END) * 100, 0) AS BIGINT)) / 100.0 AS high,
                  sum(CAST(round((CASE WHEN o_orderpriority = '3-MEDIUM' THEN o_totalprice ELSE 0 END) * 100, 0) AS BIGINT)) / 100.0 AS medium,
                  sum(CAST(round((CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN o_totalprice ELSE 0 END) * 100, 0) AS BIGINT)) / 100.0 AS notspec,
                  sum(CAST(round((CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice ELSE 0 END) * 100, 0) AS BIGINT)) / 100.0 AS low
           FROM orders GROUP BY o_orderstatus)
         SELECT o_orderstatus, priority, spend FROM (
           SELECT o_orderstatus, 'urgent' AS priority, urgent AS spend FROM w
           UNION ALL SELECT o_orderstatus, 'high', high FROM w
           UNION ALL SELECT o_orderstatus, 'medium', medium FROM w
           UNION ALL SELECT o_orderstatus, 'notspec', notspec FROM w
           UNION ALL SELECT o_orderstatus, 'low', low FROM w)
         ORDER BY o_orderstatus, priority"""),
    Query("q_first_last", qFirstLast,
      """SELECT o_custkey, o_orderkey,
                first_value(o_orderkey) OVER w AS cheapest_key,
                last_value(o_orderkey) OVER w AS priciest_key,
                nth_value(o_orderkey, 2) OVER w AS second_key
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey
                      ORDER BY o_totalprice, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING
                        AND UNBOUNDED FOLLOWING)
         ORDER BY o_custkey, o_orderkey"""),
    // the PLAIN semi-join: a hash match proves the bloom prefilter is
    // value-invisible (no false negatives; false positives removed by
    // the exact join)
    Query("q_bloom_join", qBloomJoin,
      """SELECT o_orderkey, o_custkey FROM orders
         WHERE o_custkey IN (SELECT c_custkey FROM customer
                             WHERE c_acctbal > 9500)
         ORDER BY o_orderkey"""),
    Query("q_set_ops", qSetOps,
      """WITH y97 AS (SELECT DISTINCT o_custkey FROM orders
                      WHERE year(o_orderdate) = 1997),
         y98 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE year(o_orderdate) = 1998)
         SELECT o_custkey, 'retained' AS cohort
         FROM (SELECT o_custkey FROM y97 INTERSECT
               SELECT o_custkey FROM y98)
         UNION ALL
         SELECT o_custkey, 'churned'
         FROM (SELECT o_custkey FROM y97 EXCEPT SELECT o_custkey FROM y98)
         UNION ALL
         SELECT o_custkey, 'acquired'
         FROM (SELECT o_custkey FROM y98 EXCEPT SELECT o_custkey FROM y97)
         ORDER BY cohort, o_custkey"""),
  )

  /** The Q1 oracle is written in the dialect-portable subset BOTH
    * engines parse — `q1_sql` feeds this exact text to `spark.sql`
    * (over registered views) while the oracle check runs it in DuckDB, so
    * one string is simultaneously the query and its own oracle.
    *
    * Type portability constraint: the money sums CAST to DOUBLE
    * *before* the `/ 100.0` — `BIGINT / 100.0` types DECIMAL(27,6)
    * in Spark but DOUBLE in DuckDB, which serializes `x.600000` vs
    * `x.6` and fails the value-hash compare even though the
    * numbers are equal. DOUBLE ÷ decimal-literal is DOUBLE in both. */
  private val Q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
              round(sum(l_quantity), 2) AS sum_qty,
              CAST(sum(CAST(round((l_extendedprice) * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
              CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_disc_price,
              CAST(sum(CAST(round((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_charge,
              round(avg(l_quantity), 4) AS avg_qty,
              round(avg(l_extendedprice), 4) AS avg_price,
              round(avg(l_discount), 4) AS avg_disc,
              count(*) AS count_order
       FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
       GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus"""
}
