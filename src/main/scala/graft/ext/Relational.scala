package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** North-star relational layer (SURVEY.md §7.5): TPC-H-shaped analytics on
  * the driver's star schema. Beyond-reference (the reference has no joins,
  * SURVEY.md §2.6) but first-class for the 100 TB posture.
  *
  * Scale notes baked into every query:
  *  - broadcast policy: the explicit `broadcast()` hint goes ONLY on
  *    frames whose size is independent of SF (region, the 25-row nation
  *    dim and subsets of it, single-row aggregates, fixed-size samples).
  *    SF-proportional dims — customer, supplier, part and frames derived
  *    from them — are left to size-based planning + AQE, which broadcasts
  *    them while they fit `autoBroadcastJoinThreshold` and falls back to
  *    a shuffled join at the scale where a forced broadcast would OOM the
  *    driver. A hint is a promise about ALL scales; these tables can't
  *    keep it at 100 TB;
  *  - fact⋈fact joins (lineitem⋈orders) stay key-partitioned sort-merge
  *    joins, the right default at 100 TB (AQE can still downgrade to
  *    broadcast at small SF);
  *  - money math is integer-exact: prices quantized to cents / basis
  *    points and summed as Long. This is deliberate, for two reasons:
  *    (1) double sums are order-dependent — non-deterministic across
  *    partitionings and across engines (the DuckDB oracle would
  *    hash-mismatch); (2) at 100 TB, Long sum is cheaper than Decimal and
  *    never loses precision for 2-decimal money columns. Final outputs are
  *    cast to double with a single deterministic division.
  */
object Relational {

  /** Exact integer quantization of a k-decimal double column — the one
    * money rule every TPC-H-shaped module here calls. */
  private[ext] def quant(c: Column, factor: Int): Column =
    round(c * factor).cast("long")

  /** price*(1-discount) in exact integer micro-units (cents × basis
    * points): l_extendedprice has 2 decimals, l_discount has 2. */
  private[ext] def discPriceE6(price: Column, discount: Column): Column =
    quant(price, 100) * (lit(10000L) - quant(discount, 10000))

  private def e6ToDouble(c: Column): Column = (c.cast("double") / 1e6)

  /** TPC-H Q1-shaped pricing summary: scan-heavy single-pass aggregation.
    * Plan shape: parquet scan (shipdate pushed down, 6 columns pruned) →
    * partial hash agg → exchange on 2 low-cardinality keys → final agg.
    */
  def q1PricingSummary(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
    l.filter(col("l_shipdate") <= lit("2000-01-01").cast("timestamp_ntz"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        (sum(quant(col("l_quantity"), 100)).cast("double") / 100.0).as("sum_qty"),
        (sum(quant(col("l_extendedprice"), 100)).cast("double") / 100.0).as("sum_base_price"),
        e6ToDouble(sum(discPriceE6(col("l_extendedprice"), col("l_discount")))).as("sum_disc_price"),
        (sum(quant(col("l_quantity"), 100)).cast("double") /
          (count(lit(1)) * 100).cast("double")).as("avg_qty"),
        (sum(quant(col("l_extendedprice"), 100)).cast("double") /
          (count(lit(1)) * 100).cast("double")).as("avg_price"),
        (sum(quant(col("l_discount"), 10000)).cast("double") /
          (count(lit(1)) * 10000).cast("double")).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(round(l_quantity*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_qty,
      |  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_base_price,
      |  CAST(CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)*(10000 - CAST(round(l_discount*10000) AS BIGINT))) AS VARCHAR) AS DOUBLE)/1e6 AS sum_disc_price,
      |  CAST(SUM(CAST(round(l_quantity*100) AS BIGINT)) AS DOUBLE)/CAST(COUNT(*)*100 AS DOUBLE) AS avg_qty,
      |  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/CAST(COUNT(*)*100 AS DOUBLE) AS avg_price,
      |  CAST(SUM(CAST(round(l_discount*10000) AS BIGINT)) AS DOUBLE)/CAST(COUNT(*)*10000 AS DOUBLE) AS avg_disc,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2000-01-01'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3-shaped: segment filter on the customer dim (broadcast by
    * size-based planning while it fits), join orders⋈lineitem on
    * orderkey, top-10 orders by exact integer revenue.
    * Deterministic top-k: ordering key is the exact Long revenue with
    * o_orderkey tiebreak; only the final output casts to double.
    */
  def q3TopOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val cut = lit("1998-06-15").cast("timestamp_ntz")
    val c = Tables.customer(spark, sfDir)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") < cut)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val l = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") > cut)
      .select(col("l_orderkey"),
        discPriceE6(col("l_extendedprice"), col("l_discount")).as("rev_e6"))
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(col("rev_e6")).as("rev_e6"))
      .orderBy(col("rev_e6").desc, col("o_orderkey"))
      .limit(10)
      .select(col("o_orderkey"), e6ToDouble(col("rev_e6")).as("revenue"),
        col("o_orderdate"), col("o_orderpriority"))
  }

  val q3Sql: String =
    """SELECT o_orderkey, CAST(rev_e6 AS DOUBLE)/1e6 AS revenue, o_orderdate, o_orderpriority
      |FROM (
      |  SELECT o_orderkey, o_orderdate, o_orderpriority,
      |    SUM(CAST(round(l_extendedprice*100) AS BIGINT)*(10000 - CAST(round(l_discount*10000) AS BIGINT))) AS rev_e6
      |  FROM customer, orders, lineitem
      |  WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      |    AND o_orderdate < TIMESTAMP '1998-06-15' AND l_shipdate > TIMESTAMP '1998-06-15'
      |  GROUP BY o_orderkey, o_orderdate, o_orderpriority
      |  ORDER BY rev_e6 DESC, o_orderkey LIMIT 10)""".stripMargin

  /** TPC-H Q5-shaped: revenue by nation for one region. nation/region
    * hinted broadcast (constant size); supplier/customer broadcast by
    * size-based planning while they fit, shuffled joins beyond; the
    * fact⋈fact shuffle is lineitem⋈orders, final agg is 25 keys. */
  def q5RegionVolume(spark: SparkSession, sfDir: String): DataFrame = {
    val r = Tables.region(spark, sfDir).filter(col("r_name") === regionFilter)
    val n = Tables.nation(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey")
    val l = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"),
        discPriceE6(col("l_extendedprice"), col("l_discount")).as("rev_e6"))
    // Semi-join reduction (round 14): fold region→nation→supplier into
    // ONE broadcast dim and join it to lineitem FIRST, so the region
    // filter's ~1/5 selectivity prunes the fact side BEFORE the
    // l⋈o sort-merge shuffle — the exchange carries ~20% of lineitem
    // instead of all of it. Catalyst cannot reorder this itself
    // (no CBO stats; the c_nationkey = s_nationkey tie blocks the
    // heuristic reorder); the value algebra is join-commutative, so
    // results are bit-identical to the textbook order the oracle runs.
    val sAsia = Tables.supplier(spark, sfDir)
      .join(broadcast(n.join(broadcast(r),
        col("n_regionkey") === col("r_regionkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    l.join(broadcast(sAsia), col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(e6ToDouble(sum(col("rev_e6"))).as("revenue"))
  }

  private val regionFilter = "ASIA"

  val q5Sql: String =
    s"""SELECT n_name,
       |  CAST(CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)*(10000 - CAST(round(l_discount*10000) AS BIGINT))) AS VARCHAR) AS DOUBLE)/1e6 AS revenue
       |FROM customer, orders, lineitem, supplier, nation, region
       |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
       |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
       |  AND r_name = '$regionFilter'
       |GROUP BY n_name""".stripMargin

  /** Window ranking: top-3 orders per customer by totalprice.
    * At scale: single hash-partition on o_custkey feeds both the window
    * sort and nothing else — one shuffle total. */
  def topOrdersPerCustomer(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
  }

  val topOrdersSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) WHERE rn <= 3""".stripMargin

  /** Multi-level aggregate (ROLLUP) over order status/priority. */
  def ordersRollup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        (sum(quant(col("o_totalprice"), 100)).cast("double") / 100.0).as("sum_total"))

  val ordersRollupSql: String =
    """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_total
      |FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""".stripMargin

  /** Anti join: customers with no order since 2001. At scale this is a
    * shuffled left-anti against the orders key projection (the orders side
    * is pruned to one column + a pushed-down date filter before the
    * exchange). */
  def customersWithoutOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp_ntz"))
      .select("o_custkey")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
  }

  val customersWithoutOrdersSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE c_custkey NOT IN (
      |  SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01')""".stripMargin

  /** Semi join twin: nations that have at least one customer. */
  def nationsWithCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val n = Tables.nation(spark, sfDir)
    val c = Tables.customer(spark, sfDir).select("c_nationkey")
    n.join(c, col("n_nationkey") === col("c_nationkey"), "left_semi")
      .select("n_nationkey", "n_name")
  }

  val nationsWithCustomersSql: String =
    """SELECT n_nationkey, n_name FROM nation
      |WHERE n_nationkey IN (SELECT c_nationkey FROM customer)""".stripMargin

  /** CUBE twin of [[ordersRollup]]: all 2^2 grouping combinations. */
  def ordersCube(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .cube(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        (sum(quant(col("o_totalprice"), 100)).cast("double") / 100.0).as("sum_total"))

  val ordersCubeSql: String =
    """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_total
      |FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)""".stripMargin

  /** Pivot: daily event counts, one column per event type — the
    * wide-format report shape. Pivot values are pinned (deterministic
    * schema; Spark would otherwise scan to discover them). */
  def eventsPivot(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)

  val eventsPivotSql: String =
    """SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |  COUNT(*) FILTER (event_type = 'click') AS click,
      |  COUNT(*) FILTER (event_type = 'view') AS view,
      |  COUNT(*) FILTER (event_type = 'purchase') AS purchase,
      |  COUNT(*) FILTER (event_type = 'signup') AS signup,
      |  COUNT(*) FILTER (event_type = 'error') AS error
      |FROM events GROUP BY 1""".stripMargin

  /** GROUPING SETS — the third grouping construct next to ROLLUP/CUBE:
    * explicit per-dimension totals plus the grand total, via the SQL
    * surface (temp view + spark.sql), not the DataFrame shorthand. */
  def ordersGroupingSets(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir).createOrReplaceTempView("orders_gs_v")
    spark.sql(
      """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders
        |FROM orders_gs_v
        |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())""".stripMargin)
  }

  val ordersGroupingSetsSql: String =
    """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())""".stripMargin

  /** Unpivot/melt — the inverse reshape of [[eventsPivot]]: the wide
    * per-type report back to long (day, event_type, cnt) rows via
    * `stack`. Round-tripping through pivot+unpivot equals the plain
    * grouped counts, which is exactly what the oracle states. */
  def eventsUnpivot(spark: SparkSession, sfDir: String): DataFrame = {
    val types = Seq("click", "view", "purchase", "signup", "error")
    val stackArgs = types.map(t => s"'$t', `$t`").mkString(", ")
    eventsPivot(spark, sfDir)
      .select(col("day"),
        expr(s"stack(${types.size}, $stackArgs) AS (event_type, cnt)"))
      .filter(col("cnt") > 0)
  }

  val eventsUnpivotSql: String =
    """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
      |  COUNT(*) AS cnt
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Skew-tool gate: the salted join must produce exactly the plain
    * join's rows (the oracle states the plain join). */
  def saltedOrdersJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val cust = Tables.customer(spark, sfDir).select("c_custkey", "c_name")
      .withColumnRenamed("c_custkey", "o_custkey")
    Skew.saltedJoin(orders, cust, "o_custkey", salts = 8)
      .select("o_orderkey", "o_custkey", "c_name")
  }

  val saltedOrdersJoinSql: String =
    """SELECT o_orderkey, o_custkey, c_name
      |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin

  /** Set operations in one gated query: customers that placed an order
    * in 1997 INTERSECT those in 1998, UNION those with any order over
    * 400k, EXCEPT the BUILDING segment — exercises all three set-op
    * nodes with their SQL-standard distinct semantics. */
  def setOpsCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    def buyersIn(year: Int) = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit(s"$year-01-01").cast("timestamp_ntz") &&
        col("o_orderdate") < lit(s"${year + 1}-01-01").cast("timestamp_ntz"))
      .select(col("o_custkey").as("c_custkey"))
    val bigSpenders = Tables.orders(spark, sfDir)
      .filter(col("o_totalprice") > 400000.0)
      .select(col("o_custkey").as("c_custkey"))
    val building = Tables.customer(spark, sfDir)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    buyersIn(1997).intersect(buyersIn(1998))
      .union(bigSpenders).distinct()
      .except(building)
  }

  val setOpsCustomersSql: String =
    """SELECT c_custkey FROM (
      |  SELECT o_custkey AS c_custkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      |  INTERSECT
      |  SELECT o_custkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
      |  UNION
      |  SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0
      |  EXCEPT
      |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')""".stripMargin

  /** TPC-H Q6-shaped: pure scan + filter + single-row aggregate — the
    * query whose whole cost is how fast the scan prunes and filters.
    * revenue = Σ price·discount, exact in cents×basis-points. */
  def q6ForecastRevenue(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp_ntz") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz") &&
        quant(col("l_discount"), 10000).between(200, 600) &&
        col("l_quantity") < 24)
      .agg((sum(quant(col("l_extendedprice"), 100) * quant(col("l_discount"), 10000))
        .cast("double") / 1e6).as("revenue"))

  val q6Sql: String =
    """SELECT CAST(CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)*CAST(round(l_discount*10000) AS BIGINT)) AS VARCHAR) AS DOUBLE)/1e6 AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND CAST(round(l_discount*10000) AS BIGINT) BETWEEN 200 AND 600
      |  AND l_quantity < 24""".stripMargin

  /** TPC-H Q7-shaped: volume between two nations by year, both
    * directions.
    *
    * Shuffle discipline: the big exchange is lineitem⋈orders, and both
    * fact sides are pre-filtered to the two nations BEFORE it — lineitem
    * through the nation-pruned supplier join, orders through the
    * nation-pruned customer join (the 2-row nation subsets are hinted
    * broadcast; the supplier/customer frames they prune grow with SF and
    * are left to size-based planning). Filtering after the fact join
    * would carry ~25/2× more rows through the exchange at 100 TB for
    * identical output; only the cross-direction pair filter (which needs
    * both sides) remains post-join. */
  def q7NationVolume(spark: SparkSession, sfDir: String): DataFrame = {
    val nations = Tables.nation(spark, sfDir)
      .filter(col("n_name").isin("NATION_1", "NATION_2"))
    val s = Tables.supplier(spark, sfDir).select("s_suppkey", "s_nationkey")
      .join(broadcast(nations.select(col("n_nationkey").as("s_nk"),
        col("n_name").as("supp_nation"))), col("s_nationkey") === col("s_nk"))
      .select("s_suppkey", "supp_nation")
    val c = Tables.customer(spark, sfDir).select("c_custkey", "c_nationkey")
      .join(broadcast(nations.select(col("n_nationkey").as("c_nk"),
        col("n_name").as("cust_nation"))), col("c_nationkey") === col("c_nk"))
      .select("c_custkey", "cust_nation")
    val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey")
      .join(c, col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "cust_nation")
    val l = Tables.lineitem(spark, sfDir).select(col("l_orderkey"),
      col("l_suppkey"), year(col("l_shipdate")).cast("long").as("l_year"),
      discPriceE6(col("l_extendedprice"), col("l_discount")).as("rev_e6"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(e6ToDouble(sum(col("rev_e6"))).as("revenue"))
  }

  val q7Sql: String =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
      |  CAST(CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)*(10000 - CAST(round(l_discount*10000) AS BIGINT))) AS VARCHAR) AS DOUBLE)/1e6 AS revenue
      |FROM lineitem, orders, supplier, customer, nation n1, nation n2
      |WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey AND o_custkey = c_custkey
      |  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
      |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      |GROUP BY 1, 2, 3""".stripMargin

  /** TPC-H Q10-shaped: top-20 customers by returned-item revenue in one
    * quarter. Deterministic top-k on the exact Long revenue. */
  def q10ReturnedItems(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1997-10-01").cast("timestamp_ntz") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz"))
      .select("o_orderkey", "o_custkey")
    val l = Tables.lineitem(spark, sfDir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        discPriceE6(col("l_extendedprice"), col("l_discount")).as("rev_e6"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sfDir)
        .select("c_custkey", "c_name"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(sum(col("rev_e6")).as("rev_e6"))
      .orderBy(col("rev_e6").desc, col("c_custkey"))
      .limit(20)
      .select(col("c_custkey"), col("c_name"),
        e6ToDouble(col("rev_e6")).as("revenue"))
  }

  val q10Sql: String =
    """SELECT c_custkey, c_name, CAST(rev_e6 AS DOUBLE)/1e6 AS revenue FROM (
      |  SELECT c_custkey, c_name,
      |    SUM(CAST(round(l_extendedprice*100) AS BIGINT)*(10000 - CAST(round(l_discount*10000) AS BIGINT))) AS rev_e6
      |  FROM customer, orders, lineitem
      |  WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |    AND l_returnflag = 'R'
      |    AND o_orderdate >= TIMESTAMP '1997-10-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      |  GROUP BY c_custkey, c_name
      |  ORDER BY rev_e6 DESC, c_custkey LIMIT 20)""".stripMargin

  /** TPC-H Q14-shaped: promo revenue share in one month — conditional
    * aggregation over a broadcast part join; num/den exact Longs, one
    * double division. */
  def q14PromoRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1997-09-01").cast("timestamp_ntz") &&
        col("l_shipdate") < lit("1997-10-01").cast("timestamp_ntz"))
      .select(col("l_partkey"),
        discPriceE6(col("l_extendedprice"), col("l_discount")).as("rev_e6"))
    l.join(Tables.part(spark, sfDir).select("p_partkey", "p_type"),
        col("l_partkey") === col("p_partkey"))
      .agg((lit(100.0) *
        sum(when(col("p_type") === "PROMO", col("rev_e6")).otherwise(0L)).cast("double") /
        sum(col("rev_e6")).cast("double")).as("promo_share"))
  }

  val q14Sql: String =
    """SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
      |    THEN CAST(round(l_extendedprice*100) AS BIGINT)*(10000 - CAST(round(l_discount*10000) AS BIGINT))
      |    ELSE 0 END) AS DOUBLE)
      |  / CAST(CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)*(10000 - CAST(round(l_discount*10000) AS BIGINT))) AS VARCHAR) AS DOUBLE) AS promo_share
      |FROM lineitem, part
      |WHERE l_partkey = p_partkey
      |  AND l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01'""".stripMargin

  /** TPC-H Q15-shaped: the top-revenue supplier(s) of one quarter —
    * the "compare each group to a global aggregate of the groups"
    * shape. The 1-row max is broadcast back against the per-supplier
    * aggregates; exact Long revenue means the equality join cannot be
    * bitten by float drift. */
  def q15TopSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    // `rev` fans out to TWO consumers (the scalar max and the final
    // join); without a lineage cut, each consumer re-runs the filtered
    // lineitem scan + aggregation — a wasted full fact pass at 100 TB.
    // localCheckpoint materializes the per-supplier frame (supplier-
    // cardinality rows, tiny next to the fact) exactly once. Same
    // multi-consumer pattern as Sketches.bloomMembership, same
    // executor-local-storage caveat documented there.
    val rev = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1997-07-01").cast("timestamp_ntz") &&
        col("l_shipdate") < lit("1997-10-01").cast("timestamp_ntz"))
      .groupBy(col("l_suppkey"))
      .agg(sum(discPriceE6(col("l_extendedprice"), col("l_discount"))).as("rev_e6"))
      .localCheckpoint()
    val mx = rev.agg(max(col("rev_e6")).as("mx"))
    rev.join(broadcast(mx), col("rev_e6") === col("mx"))
      .join(Tables.supplier(spark, sfDir)
        .select("s_suppkey", "s_name"), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        e6ToDouble(col("rev_e6")).as("total_revenue"))
  }

  val q15Sql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    SUM(CAST(round(l_extendedprice*100) AS BIGINT)*(10000 - CAST(round(l_discount*10000) AS BIGINT))) AS rev_e6
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1997-07-01' AND l_shipdate < TIMESTAMP '1997-10-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, CAST(rev_e6 AS DOUBLE)/1e6 AS total_revenue
      |FROM rev JOIN supplier ON l_suppkey = s_suppkey
      |WHERE rev_e6 = (SELECT MAX(rev_e6) FROM rev)""".stripMargin

  /** TPC-H Q18-shaped: large-volume orders (group-HAVING on the fact,
    * then enrich). The HAVING prunes before the orders/customer joins. */
  def q18LargeOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val big = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(sum(quant(col("l_quantity"), 100)).as("qty_c"))
      .filter(col("qty_c") > 300 * 100)
    big.join(Tables.orders(spark, sfDir)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sfDir)
        .select("c_custkey", "c_name"), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"),
        (col("qty_c").cast("double") / 100.0).as("sum_qty"))
  }

  val q18Sql: String =
    """SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
      |  CAST(qty_c AS DOUBLE)/100.0 AS sum_qty
      |FROM (
      |  SELECT l_orderkey, SUM(CAST(round(l_quantity*100) AS BIGINT)) AS qty_c
      |  FROM lineitem GROUP BY l_orderkey HAVING SUM(CAST(round(l_quantity*100) AS BIGINT)) > 30000),
      |  orders, customer
      |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey""".stripMargin

  /** TPC-H Q19-shaped: disjunctive brand/size/quantity predicate bands
    * over a broadcast part join, single-row revenue. */
  def q19Disjunctive(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir).select(col("l_partkey"),
      col("l_quantity"),
      discPriceE6(col("l_extendedprice"), col("l_discount")).as("rev_e6"))
    val p = Tables.part(spark, sfDir).select("p_partkey", "p_brand", "p_size")
    // Input-size-gated bloom pre-filter (guide §3.2, r17 verdict item 1):
    // past the fact-row gate the ~3%-selective part disjunction no longer
    // broadcasts and the plain plan shuffles the whole fact; the bloom
    // over the derived part-only predicate (the superset the optimizer
    // pushes to the part scan) drops non-matching fact rows BEFORE the
    // exchange. Below the gate the plan is byte-identical. No false
    // negatives, FPs die in the join — values unchanged at any setting.
    val pSel = Tables.part(spark, sfDir)
      .filter((col("p_brand") === "Brand#1" && col("p_size").between(1, 15)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(10, 30)))
      .select(col("p_partkey"))
    Sketches.maybeBloomPrefilter(spark, sfDir, l, "l_partkey", pSel)
      .join(p, col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 30)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
          col("l_quantity").between(10, 40)))
      .agg(e6ToDouble(sum(col("rev_e6"))).as("revenue"))
  }

  val q19Sql: String =
    """SELECT CAST(CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)*(10000 - CAST(round(l_discount*10000) AS BIGINT))) AS VARCHAR) AS DOUBLE)/1e6 AS revenue
      |FROM lineitem, part
      |WHERE l_partkey = p_partkey
      |  AND ((p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 30)
      |    OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 40))""".stripMargin

  /** TPC-H Q4-shaped: order-priority checking — the EXISTS semi-join
    * shape. The reference Q4 tests commit-vs-receipt lateness; this
    * schema carries only l_shipdate, so "late" = a line shipped more
    * than 60 days after the order date (same semi-join plan: the fact
    * side is reduced BEFORE the aggregation, never multiplied — a plain
    * inner join would double-count multi-line orders). */
  def q4PriorityCount(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1997-07-01").cast("timestamp_ntz") &&
        col("o_orderdate") < lit("1997-10-01").cast("timestamp_ntz"))
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    val l = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_shipdate")
    o.join(l, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  val q4Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders o
      |WHERE o_orderdate >= TIMESTAMP '1997-07-01' AND o_orderdate < TIMESTAMP '1997-10-01'
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |    WHERE l.l_orderkey = o.o_orderkey
      |      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority""".stripMargin

  /** TPC-H Q8-shaped: national market share — share of NATION_2
    * suppliers in the ASIA-customer STANDARD-part market by order year.
    * Every dim is pre-filtered BEFORE its fact join (nation/region
    * subsets hinted broadcast; SF-growing part/supplier/customer left
    * to size-based planning); lineitem⋈orders is the only fact⋈fact
    * shuffle, and the part filter prunes the lineitem side before it.
    * Share = one double divide of two exact Long sums per year. */
  def q8MarketShare(spark: SparkSession, sfDir: String): DataFrame = {
    val asiaNations = Tables.nation(spark, sfDir)
      .join(broadcast(Tables.region(spark, sfDir)
        .filter(col("r_name") === "ASIA")), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("c_nk"))
    val c = Tables.customer(spark, sfDir).select("c_custkey", "c_nationkey")
      .join(broadcast(asiaNations), col("c_nationkey") === col("c_nk"))
      .select("c_custkey")
    val o = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_orderdate")
      .join(c, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), year(col("o_orderdate")).cast("long").as("o_year"))
    val s = Tables.supplier(spark, sfDir).select("s_suppkey", "s_nationkey")
      .join(broadcast(Tables.nation(spark, sfDir)
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("s_nk"))
      .select("s_suppkey", "supp_nation")
    val l = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        discPriceE6(col("l_extendedprice"), col("l_discount")).as("rev_e6"))
      .join(Tables.part(spark, sfDir)
        .filter(col("p_type") === "STANDARD").select("p_partkey"),
        col("l_partkey") === col("p_partkey"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_year"))
      .agg((sum(when(col("supp_nation") === "NATION_2", col("rev_e6"))
          .otherwise(0L)).cast("double") /
        sum(col("rev_e6")).cast("double")).as("mkt_share"))
  }

  val q8Sql: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |  CAST(SUM(CASE WHEN n2.n_name = 'NATION_2'
      |      THEN CAST(round(l_extendedprice*100) AS BIGINT)*(10000 - CAST(round(l_discount*10000) AS BIGINT))
      |      ELSE 0 END) AS DOUBLE)
      |    / CAST(CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)*(10000 - CAST(round(l_discount*10000) AS BIGINT))) AS VARCHAR) AS DOUBLE) AS mkt_share
      |FROM lineitem, orders, customer, supplier, part, nation n1, nation n2, region
      |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
      |  AND l_suppkey = s_suppkey AND l_partkey = p_partkey
      |  AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
      |  AND s_nationkey = n2.n_nationkey
      |  AND r_name = 'ASIA' AND p_type = 'STANDARD'
      |GROUP BY 1""".stripMargin

  /** TPC-H Q12-shaped: lines by priority class — fact⋈fact join with a
    * two-bucket CASE aggregation (the reference buckets by ship mode;
    * this schema buckets by return flag, same plan shape: the only
    * shuffle is the orderkey join, CASE work is map-side). */
  def q12PriorityLines(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp_ntz") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz"))
      .select("l_orderkey", "l_returnflag")
    val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_orderpriority")
    val high = col("o_orderpriority") === "1-URGENT" ||
      col("o_orderpriority") === "2-HIGH"
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
  }

  val q12Sql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem, orders
      |WHERE l_orderkey = o_orderkey
      |  AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      |GROUP BY l_returnflag""".stripMargin

  /** TPC-H Q13-shaped: customer order-count distribution — LEFT OUTER
    * join (customers with zero orders must appear with c_count 0) then
    * a count-of-counts histogram. Two shuffles: custkey, then the tiny
    * c_count regroup. */
  def q13OrderDistribution(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir).select("c_custkey")
    val o = Tables.orders(spark, sfDir).select("o_custkey")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_custkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  val q13Sql: String =
    """SELECT c_count, COUNT(*) AS custdist FROM (
      |  SELECT c_custkey, COUNT(o_custkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
      |  GROUP BY c_custkey)
      |GROUP BY c_count""".stripMargin

  /** TPC-H Q17-shaped: small-quantity-order revenue — compare each line
    * to its part's average quantity. The per-part average is computed
    * once on the (part-filtered) fact and joined back on the same key —
    * co-partitioned, no extra exchange pattern beyond the self-agg; the
    * correlated subquery of the reference SQL never executes per-row.
    * The avg comparison is cross-multiplied to stay integer-exact:
    * qty < avg/5  ⇔  5·qty_c·n < sum_c. */
  def q17SmallQtyRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Tables.part(spark, sfDir)
      .filter(col("p_brand") === "Brand#3" && col("p_size") <= 25)
      .select("p_partkey")
    // Gated bloom pre-filter (guide §3.2, r17 verdict item 1): the
    // Brand#3/size dim keeps ~2% of parts; past the fact-row gate it
    // outgrows broadcast and the plain plan shuffles the whole fact for
    // that 2% — the bloom drops non-members before the exchange. Below
    // the gate the prefilter is absent; values unchanged either way
    // (no false negatives, FPs die in the equi-join).
    val l = Sketches.maybeBloomPrefilter(spark, sfDir,
        Tables.lineitem(spark, sfDir)
          .select(col("l_partkey"), quant(col("l_quantity"), 100).as("qty_c"),
            quant(col("l_extendedprice"), 100).as("price_c")),
        "l_partkey", p.select(col("p_partkey")))
      .join(p, col("l_partkey") === col("p_partkey"))
    // r18: the per-part average rides ONE whole-partition window instead
    // of a self-agg + join-back. The sf30 plan showed the fact scanned
    // AND exchanged TWICE — the join-back subtree pruned columns
    // differently from the agg subtree, so the exchanges could never
    // unify. A window partitioned by l_partkey (guide §2.4: a window
    // keyed like the preceding aggregation needs no second shuffle —
    // here it REPLACES the aggregation) is one scan + one exchange
    // structurally, and it is literally the oracle SQL's own
    // formulation (SUM/COUNT OVER PARTITION BY l_partkey), so values are
    // unchanged by construction.
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("l_partkey"))
    l.withColumn("sum_c", sum(col("qty_c")).over(w))
      .withColumn("n", count(lit(1)).over(w))
      .filter(col("qty_c") * 5 * col("n") < col("sum_c"))
      .agg((sum(col("price_c")).cast("double") / 100.0 / 7.0).as("avg_yearly"))
  }

  val q17Sql: String =
    """SELECT CAST(SUM(price_c) AS DOUBLE)/100.0/7.0 AS avg_yearly FROM (
      |  SELECT CAST(round(l_quantity*100) AS BIGINT) AS qty_c,
      |    CAST(round(l_extendedprice*100) AS BIGINT) AS price_c,
      |    SUM(CAST(round(l_quantity*100) AS BIGINT)) OVER (PARTITION BY l_partkey) AS sum_c,
      |    COUNT(*) OVER (PARTITION BY l_partkey) AS n
      |  FROM lineitem, part
      |  WHERE l_partkey = p_partkey AND p_brand = 'Brand#3' AND p_size <= 25)
      |WHERE qty_c * 5 * n < sum_c""".stripMargin

  /** Running-frame window aggregation: each 1999 order with the
    * customer's cumulative spend to date — the rowsBetween(unbounded
    * preceding, current) shape (the one window frame the gate didn't
    * cover; sessionize covers lag, quantiles cover row_number/count).
    * One shuffle on the partition key, sort within partitions,
    * integer-cent running sum with a (date, orderkey) total order so
    * the frame is deterministic in both engines. */
  def ordersRunningTotal(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp_ntz") &&
        col("o_orderdate") < lit("2000-01-01").cast("timestamp_ntz"))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        quant(col("o_totalprice"), 100).as("price_c"))
      .withColumn("run_c", sum(col("price_c")).over(w))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        (col("run_c").cast("double") / 100.0).as("running_total"))
  }

  val ordersRunningTotalSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  CAST(CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS DOUBLE)/100.0
      |    AS running_total
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1999-01-01' AND o_orderdate < TIMESTAMP '2000-01-01'""".stripMargin

  /** Navigation + distribution window functions over each customer's
    * order history: lag (days since previous order), lead (days to
    * next), first_value (first order date), ntile (per-customer spend
    * quartile). One year of orders, ONE shuffle on o_custkey shared by
    * all four functions (two window specs over the same partitioning —
    * Spark plans one Exchange and two in-partition Sort+Window passes).
    * Gaps are -1 at history edges (COALESCE, not NULL, keeps the
    * column integer-typed for the hash gate on both engines). */
  def ordersOrderIntervals(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDate = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val bySpend = Window.partitionBy(col("o_custkey"))
      .orderBy(col("price_c").desc, col("o_orderkey"))
    Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp_ntz") &&
        col("o_orderdate") < lit("2000-01-01").cast("timestamp_ntz"))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        quant(col("o_totalprice"), 100).as("price_c"))
      .withColumn("gap_days",
        coalesce(datediff(col("o_orderdate"),
          lag(col("o_orderdate"), 1).over(byDate)), lit(-1)).cast("long"))
      .withColumn("days_to_next",
        coalesce(datediff(lead(col("o_orderdate"), 1).over(byDate),
          col("o_orderdate")), lit(-1)).cast("long"))
      .withColumn("first_order_date", first(col("o_orderdate")).over(byDate))
      .withColumn("spend_quartile", ntile(4).over(bySpend).cast("long"))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("gap_days"), col("days_to_next"), col("first_order_date"),
        col("spend_quartile"))
  }

  val ordersOrderIntervalsSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  CAST(COALESCE(datediff('day', lag(o_orderdate) OVER byDate, o_orderdate), -1) AS BIGINT) AS gap_days,
      |  CAST(COALESCE(datediff('day', o_orderdate, lead(o_orderdate) OVER byDate), -1) AS BIGINT) AS days_to_next,
      |  first_value(o_orderdate) OVER byDate AS first_order_date,
      |  CAST(ntile(4) OVER bySpend AS BIGINT) AS spend_quartile
      |FROM (SELECT *, CAST(round(o_totalprice*100) AS BIGINT) AS price_c FROM orders
      |      WHERE o_orderdate >= TIMESTAMP '1999-01-01' AND o_orderdate < TIMESTAMP '2000-01-01')
      |WINDOW byDate AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
      |  bySpend AS (PARTITION BY o_custkey ORDER BY price_c DESC, o_orderkey)""".stripMargin

  /** Distribution window functions — the remaining quarter of the SQL
    * window surface ([[ordersOrderIntervals]] covers navigation +
    * ntile; quantiles cover row_number): percent_rank and cume_dist
    * over each customer's spend order, plus nth_value (2nd-cheapest
    * order) and last_value over the full frame. The (price, orderkey)
    * TOTAL order makes both rank fractions exact rationals of row
    * numbers, and both engines render them with one IEEE division of
    * the same integers — bit-identical doubles, no tie ambiguity.
    * One o_custkey exchange serves all four functions. */
  def ordersWindowDistrib(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("price_c"), col("o_orderkey"))
    val full = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"),
        quant(col("o_totalprice"), 100).as("price_c"))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume_dist", cume_dist().over(w))
      .withColumn("second_cheapest_c",
        nth_value(col("price_c"), 2).over(full))
      .withColumn("max_price_c", last(col("price_c")).over(full))
  }

  val ordersWindowDistribSql: String =
    """SELECT o_custkey, o_orderkey, price_c,
      |  percent_rank() OVER w AS pct_rank,
      |  cume_dist() OVER w AS cume_dist,
      |  nth_value(price_c, 2) OVER wf AS second_cheapest_c,
      |  last_value(price_c) OVER wf AS max_price_c
      |FROM (SELECT o_custkey, o_orderkey,
      |        CAST(round(o_totalprice*100) AS BIGINT) AS price_c
      |      FROM orders)
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY price_c, o_orderkey),
      |  wf AS (PARTITION BY o_custkey ORDER BY price_c, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"""
      .stripMargin

  /** TPC-H Q21-shaped: suppliers who kept waiting multi-supplier
    * orders — a line is "blamed" when some OTHER supplier participated
    * in the order (EXISTS) and nobody else shipped at-or-after it
    * (NOT EXISTS ⇒ this supplier was strictly last; the reference
    * blames via receipt/commit dates, this schema via ship dates).
    *
    * Shape (round 14): the textbook form — lineitem left-semi l2 then
    * left-anti l3 — exchanges AND sort-merges the 60M-row fact three
    * times, and at a fixed partition count those three spilling sorts
    * made the key the round's one isolated super-linear TPC-H shape at
    * sf10 (3.8 → 19.0 s, 5.0× per 3.33×). But the blame predicate is a
    * per-ORDER decision: only the order's UNIQUE-latest supplier can
    * be blamed (any other supplier s has some s'≠s whose max date ≥
    * its own max ≥ its every line), and its blamed lines are exactly
    * those shipping strictly after m2 = the latest OTHER supplier's
    * max. So: one codegen'd hash agg to per-(order, supplier) max,
    * one window (row_number + lead over smax DESC — m2 IS the lead,
    * and a tie at the top makes lead = smax, failing the strict
    * filter, which also encodes the EXISTS leg: a lone supplier's
    * lead is NULL) to pick each order's blame candidate, one equi-join
    * back to lineitem carrying the date comparison as a residual.
    * Two slim fact exchanges and one fact sort instead of three of
    * each, no per-group anti scan, everything whole-stage-codegen
    * (a first cut used collect_list + array HOFs — interpreted, 6×
    * SLOWER at sf3 than the textbook form; HOF algebra over per-order
    * arrays is not a hot-path tool). Semantics proven equal:
    * blame(line of s) ⇔ max_{s'≠s} d' < d ⇔ (s uniquely latest) ∧
    * (d > m2); the DuckDB oracle still runs the textbook
    * EXISTS/NOT-EXISTS form, so the gate hash pins the equivalence.
    * Top-20 with s_name tiebreak. */
  def q21LateSuppliers(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val finished = Tables.orders(spark, sfDir)
      .filter(col("o_orderstatus") === "F").select("o_orderkey")
    // Shape history (rounds 14-15): the round-15 first cut carried each
    // group's ship dates through ONE fact exchange via collect_list and
    // counted blamed lines with an array filter — fastest isolated
    // (6.7 s at sf10) but collect_list is an OBJECT aggregate: it
    // always falls back to sort-based aggregation (128-key threshold),
    // and in the full 292-key session — where session memo frames and
    // checkpoint blocks squeeze execution memory — that object sort
    // degraded 8× (54 s in-session vs 9.3 for the r14 shape; the
    // full-session number is the one the driver grades). This form
    // keeps every operator whole-stage-codegen and spill-graceful: a
    // SLIM hash agg to per-(order, supplier) max (map-side combined),
    // the order window picks each order's unique-latest blame candidate
    // and its threshold m2 = lead(smax), and the fact joins back on
    // (orderkey, suppkey) with the strict date comparison as a
    // residual. Two explicit fact-keyed exchanges, no ReuseExchange
    // reliance (the round-14 advisory), no object aggregation anywhere.
    // Round 16: ONE explicit fact repartition on l_orderkey feeds all
    // three fact consumers — the per-(order,supplier) agg (hash agg
    // needs only a subset of its grouping keys clustered), the order
    // window (same key), and the fact side of the join-back (subset of
    // the join keys; the blame side exchanges to match). The round-15
    // shape paid two independent fact exchanges — (orderkey,suppkey)
    // for the agg and orderkey for the window — and a third for the
    // join-back at SFs where the blame side outgrows broadcast; this
    // one costs a single fact shuffle write (AQE reuses the stage for
    // all consumers; even unreused it is never worse than the two
    // explicit exchanges it replaces). Measured sf0.1 1.28 → 0.75 s,
    // sf10 isolated no worse (9.3 → 8.0 s warm), still zero object
    // aggregation — the in-session collapse fix is untouched.
    // Round 17 correction: the single-shuffle claim held only while the
    // join-back planned as broadcast — see the join-back note below for
    // the sf30-measured failure mode and the okey-only join fix that
    // makes the reuse hold at every scale.
    val fact = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      // Hoisted not-null guards (vacuous on this schema — no lineitem
      // column is ever null): the join-back's residual conditions infer
      // IsNotNull(l_suppkey)/IsNotNull(l_shipdate) and push them into
      // ITS copy of the scan only, which makes the two fact subtrees
      // canonically different and silently defeats exchange reuse.
      // Stating the guards once on the shared frame makes both consumer
      // subtrees byte-identical, so the planner reuses ONE fact
      // scan + exchange (PlanSpec pins the reuse).
      .filter(col("l_orderkey").isNotNull && col("l_suppkey").isNotNull &&
        col("l_shipdate").isNotNull)
      .repartition(col("l_orderkey"))
    val perSup = fact
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("l_shipdate")).as("smax"))
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("smax").desc, col("l_suppkey"))
    val blame = perSup
      .withColumn("rn", row_number().over(w))
      .withColumn("m2", lead(col("smax"), 1).over(w))
      // NULL m2 (lone supplier) and tied m2 (= smax) both fail here.
      .filter(col("rn") === 1 && col("m2") < col("smax"))
      .join(finished, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .select(col("l_orderkey").as("b_orderkey"),
        col("l_suppkey").as("b_suppkey"), col("m2"))
    fact
      // Round 17: the join-back is keyed on l_orderkey ALONE, with the
      // supplier match written as a residual range pair (>= AND <=)
      // instead of an equality. Reason, measured at sf30-uniform: with
      // (orderkey, suppkey) as the equi-keys, the optimizer STRENGTHENS
      // the explicit fact repartition under the sort-merge join to
      // hashpartitioning(l_orderkey, l_suppkey) — a different
      // partitioning from the agg/window branch's hash(l_orderkey), so
      // the shared-exchange reuse this shape exists for silently breaks
      // exactly when the blame side outgrows broadcast: the fact was
      // scanned AND shuffled TWICE plus fully sorted on two keys (the
      // AQE-final plan captured at sf30).
      // Keyed on l_orderkey only, both fact consumers demand the SAME
      // partitioning, the exchange is reused at any scale, and the
      // blame side (already hash(l_orderkey) from the window) needs no
      // exchange at all. The SMJ's per-order fan-out is lines-per-order
      // × ≤1 blame row before the residual — bounded by the basket, as
      // before. Values unchanged: a range pair on never-null keys IS
      // the equality (the gate hash pins it).
      // DO NOT "simplify" the >= && <= pair back to ===: it is load-
      // bearing — equality would be extracted as a second equi-key and
      // re-widen the exchange. PlanSpec's q21 single-key-exchange /
      // ReusedExchange / single-scan test is the tripwire that fails if
      // a Spark upgrade ever normalizes the pair into an equality.
      .join(blame, col("l_orderkey") === col("b_orderkey") &&
        col("l_suppkey") >= col("b_suppkey") &&
        col("l_suppkey") <= col("b_suppkey") && col("l_shipdate") > col("m2"))
      .join(Tables.supplier(spark, sfDir)
        .select("s_suppkey", "s_name"), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  val q21Sql: String =
    """SELECT s_name, COUNT(*) AS numwait
      |FROM lineitem l1, supplier
      |WHERE l1.l_suppkey = s_suppkey
      |  AND EXISTS (SELECT 1 FROM orders
      |    WHERE o_orderkey = l1.l_orderkey AND o_orderstatus = 'F')
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.l_shipdate >= l1.l_shipdate)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin

  /** TPC-H Q22-shaped: global sales opportunity — customers with
    * above-average positive balance and no RECENT orders (every
    * customer in this dataset has some order, so "idle" is scoped to
    * the last ~1.5 years — the anti-join still does the work). The
    * scalar average is an exact integer pair (sum, count) broadcast
    * back; the comparison cross-multiplies (bal_c·n > sum_c) so no
    * engine divides; the no-recent-orders test is a LEFT ANTI join
    * against the date-pruned orders scan. */
  def q22IdleCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_nationkey"),
        quant(col("c_acctbal"), 100).as("bal_c"))
    val avgPos = c.filter(col("bal_c") > 0)
      .agg(sum(col("bal_c")).as("sum_c"), count(lit(1)).as("n"))
    val recent = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp_ntz"))
      .select("o_custkey")
    c.crossJoin(broadcast(avgPos))
      .filter(col("bal_c") * col("n") > col("sum_c"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"),
        (sum(col("bal_c")).cast("double") / 100.0).as("totacctbal"))
  }

  val q22Sql: String =
    """WITH c AS (SELECT c_custkey, c_nationkey,
      |    CAST(round(c_acctbal*100) AS BIGINT) AS bal_c FROM customer),
      |a AS (SELECT CAST(SUM(bal_c) AS BIGINT) AS sum_c, COUNT(*) AS n
      |  FROM c WHERE bal_c > 0)
      |SELECT c_nationkey, COUNT(*) AS numcust,
      |  CAST(CAST(SUM(bal_c) AS BIGINT) AS DOUBLE)/100.0 AS totacctbal
      |FROM c, a
      |WHERE bal_c * n > sum_c
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |    WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01')
      |GROUP BY c_nationkey""".stripMargin

  /** 7-day RANGE-frame moving revenue — the one window frame family
    * the suite didn't yet cover (ROWS frames: running total /
    * intervals; full-frame: distrib). RANGE over an integer day key
    * sums PEER days by VALUE distance, so calendar gaps genuinely
    * shrink the window (a ROWS 6-preceding frame would silently span
    * them) — days_in_window exposes exactly that difference and the
    * fixture's gapped days populate both arms. Money stays exact cents
    * until the final /100.0.
    *
    * Scale shape: one map-side-combinable daily rollup (≤ ~750 rows —
    * CALENDAR-bounded, independent of row count), then the window runs
    * on that bounded spine; the unpartitioned sort is over days, never
    * over facts. */
  def ordersRevenue7d(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(spark, sfDir)
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg(sum(quant(col("o_totalprice"), 100)).as("rev_c"))
      .withColumn("dn",
        datediff(col("day").cast("date"), lit("1970-01-01").cast("date")))
    val w = Window.orderBy(col("dn")).rangeBetween(-6, 0)
    daily
      .withColumn("rev7_c", sum(col("rev_c")).over(w))
      .withColumn("days_in_window", count(lit(1)).over(w))
      .select(col("day"),
        (col("rev_c").cast("double") / 100.0).as("revenue"),
        (col("rev7_c").cast("double") / 100.0).as("revenue_7d"),
        col("days_in_window"))
  }

  val ordersRevenue7dSql: String =
    """WITH daily AS (
      |  SELECT date_trunc('day', o_orderdate) AS day,
      |    CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
      |      AS rev_c
      |  FROM orders GROUP BY 1),
      |d2 AS (SELECT day, rev_c,
      |  date_diff('day', DATE '1970-01-01', CAST(day AS DATE)) AS dn
      |  FROM daily)
      |SELECT day,
      |  CAST(rev_c AS DOUBLE)/100.0 AS revenue,
      |  CAST(CAST(SUM(rev_c) OVER (ORDER BY dn
      |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS DOUBLE)/100.0 AS revenue_7d,
      |  CAST(COUNT(*) OVER (ORDER BY dn
      |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS days_in_window
      |FROM d2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary" -> (q1PricingSummary _),
    "q3_top_orders" -> (q3TopOrders _),
    "q5_region_volume" -> (q5RegionVolume _),
    "top_orders_per_customer" -> (topOrdersPerCustomer _),
    "orders_rollup" -> (ordersRollup _),
    "customers_without_orders" -> (customersWithoutOrders _),
    "nations_with_customers" -> (nationsWithCustomers _),
    "orders_revenue_7d" -> (ordersRevenue7d _),
    "q4_priority_count" -> (q4PriorityCount _),
    "q8_market_share" -> (q8MarketShare _),
    "q12_priority_lines" -> (q12PriorityLines _),
    "q13_order_distribution" -> (q13OrderDistribution _),
    "q17_small_qty_revenue" -> (q17SmallQtyRevenue _),
    "q21_late_suppliers" -> (q21LateSuppliers _),
    "q22_idle_customers" -> (q22IdleCustomers _),
    "orders_running_total" -> (ordersRunningTotal _),
    "orders_order_intervals" -> (ordersOrderIntervals _),
    "orders_window_distrib" -> (ordersWindowDistrib _),
    "orders_cube" -> (ordersCube _),
    "orders_grouping_sets" -> (ordersGroupingSets _),
    "set_ops_customers" -> (setOpsCustomers _),
    "events_pivot" -> (eventsPivot _),
    "events_unpivot" -> (eventsUnpivot _),
    "salted_orders_join" -> (saltedOrdersJoin _),
    "q6_forecast_revenue" -> (q6ForecastRevenue _),
    "q7_nation_volume" -> (q7NationVolume _),
    "q10_returned_items" -> (q10ReturnedItems _),
    "q14_promo_revenue" -> (q14PromoRevenue _),
    "q15_top_supplier" -> (q15TopSupplier _),
    "q18_large_orders" -> (q18LargeOrders _),
    "q19_disjunctive" -> (q19Disjunctive _))

  val oracles: Map[String, String] = Map(
    "q1_pricing_summary" -> q1Sql,
    "q3_top_orders" -> q3Sql,
    "q5_region_volume" -> q5Sql,
    "top_orders_per_customer" -> topOrdersSql,
    "orders_rollup" -> ordersRollupSql,
    "customers_without_orders" -> customersWithoutOrdersSql,
    "nations_with_customers" -> nationsWithCustomersSql,
    "orders_revenue_7d" -> ordersRevenue7dSql,
    "q4_priority_count" -> q4Sql,
    "q8_market_share" -> q8Sql,
    "q12_priority_lines" -> q12Sql,
    "q13_order_distribution" -> q13Sql,
    "q17_small_qty_revenue" -> q17Sql,
    "q21_late_suppliers" -> q21Sql,
    "q22_idle_customers" -> q22Sql,
    "orders_running_total" -> ordersRunningTotalSql,
    "orders_order_intervals" -> ordersOrderIntervalsSql,
    "orders_window_distrib" -> ordersWindowDistribSql,
    "orders_cube" -> ordersCubeSql,
    "orders_grouping_sets" -> ordersGroupingSetsSql,
    "set_ops_customers" -> setOpsCustomersSql,
    "events_pivot" -> eventsPivotSql,
    "events_unpivot" -> eventsUnpivotSql,
    "salted_orders_join" -> saltedOrdersJoinSql,
    "q6_forecast_revenue" -> q6Sql,
    "q7_nation_volume" -> q7Sql,
    "q10_returned_items" -> q10Sql,
    "q14_promo_revenue" -> q14Sql,
    "q15_top_supplier" -> q15Sql,
    "q18_large_orders" -> q18Sql,
    "q19_disjunctive" -> q19Sql)
}
