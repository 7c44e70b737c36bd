package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Customer-value and catalog-value segmentation — the two classic
  * "where does the revenue live?" warehouse reports:
  *
  *  - RFM (recency / frequency / monetary) quartile scoring of
  *    customers, calibrated WITHIN market segment — the same reasoning
  *    as [[TextAnalysis.qualityPercentile]]'s within-language ranks: a
  *    quartile is only comparable against peers with the same baseline
  *    purchase cadence, and the per-segment partition keys every rank
  *    window off a single segment-keyed exchange instead of a global
  *    single-partition sort (the scale trap of naive RFM).
  *  - ABC / Pareto classification of parts by revenue share within
  *    brand (A = the head parts covering the first 80% of brand
  *    revenue on the descending cumulative curve, B to 95%, C the
  *    tail), the inventory-policy twin.
  *
  * Exactness: money in integer cents / basis points (the
  * [[Relational]] convention), quartiles via ntile(4) over a TOTAL
  * order (metric, entity-key) so both engines bucket identically, the
  * 80/95 knees as cleared-denominator integer compares
  * (cum·5 ≤ total·4, cum·20 ≤ total·19) — no percent floats at the
  * boundary. Long headroom at sf0.1: brand revenue ≈ 2.4e15 e6-units,
  * ×1000 for the permille column ≈ 2.4e18 < 2^63; a 100 TB run
  * recasts the two permille products to decimal(38,0) — same plan
  * shape.
  *
  * Scale shape: both reports aggregate the fact table FIRST (group-by
  * custkey / partkey — map-side combinable), then join the collapsed
  * frame to the dimension and rank inside segment/brand partitions.
  * Windows ride one exchange per report; nothing global, nothing
  * single-partition.
  */
object Rfm {

  import Relational.{discPriceE6, quant}

  /** RFM quartiles per market segment. Scores 1..4, 4 = best (most
    * recent / most orders / most spend); label via the standard cell
    * taxonomy (champions / loyal / new / at-risk / hibernating). */
  def rfmSegments(spark: SparkSession, sfDir: String): DataFrame = {
    val perCust = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("n_orders"),
        sum(quant(col("o_totalprice"), 100)).as("spend_c"))
    val joined = perCust.join(
      Tables.customer(spark, sfDir)
        .select(col("c_custkey"), col("c_mktsegment")),
      col("o_custkey") === col("c_custkey"))
    val seg = Window.partitionBy(col("c_mktsegment"))
    val r = ntile(4).over(seg.orderBy(col("last_order"), col("c_custkey")))
    val f = ntile(4).over(seg.orderBy(col("n_orders"), col("c_custkey")))
    val m = ntile(4).over(seg.orderBy(col("spend_c"), col("c_custkey")))
    joined
      .withColumn("r_score", r.cast("long"))
      .withColumn("f_score", f.cast("long"))
      .withColumn("m_score", m.cast("long"))
      .select(col("c_custkey"), col("c_mktsegment"), col("n_orders"),
        (col("spend_c").cast("double") / 100.0).as("spend"),
        col("last_order"), col("r_score"), col("f_score"), col("m_score"),
        (col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
          .as("rfm_cell"),
        when(col("r_score") === 4 && col("f_score") >= 3 &&
          col("m_score") >= 3, lit("champions"))
          .when(col("r_score") >= 3 && col("f_score") >= 3, lit("loyal"))
          .when(col("r_score") === 4 && col("f_score") <= 2, lit("new"))
          .when(col("r_score") <= 2 && col("f_score") >= 3, lit("at_risk"))
          .when(col("r_score") <= 2 && col("f_score") <= 2,
            lit("hibernating"))
          .otherwise(lit("regular")).as("rfm_label"))
  }

  val rfmSegmentsSql: String =
    """WITH pc AS (SELECT o_custkey, MAX(o_orderdate) AS last_order,
      |    CAST(COUNT(*) AS BIGINT) AS n_orders,
      |    CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
      |      AS spend_c
      |  FROM orders GROUP BY 1),
      |j AS (SELECT pc.*, c.c_custkey, c.c_mktsegment
      |  FROM pc JOIN customer c ON pc.o_custkey = c.c_custkey),
      |s AS (SELECT c_custkey, c_mktsegment, n_orders, spend_c, last_order,
      |    CAST(ntile(4) OVER (PARTITION BY c_mktsegment
      |      ORDER BY last_order, c_custkey) AS BIGINT) AS r_score,
      |    CAST(ntile(4) OVER (PARTITION BY c_mktsegment
      |      ORDER BY n_orders, c_custkey) AS BIGINT) AS f_score,
      |    CAST(ntile(4) OVER (PARTITION BY c_mktsegment
      |      ORDER BY spend_c, c_custkey) AS BIGINT) AS m_score
      |  FROM j)
      |SELECT c_custkey, c_mktsegment, n_orders,
      |  CAST(spend_c AS DOUBLE)/100.0 AS spend, last_order,
      |  r_score, f_score, m_score,
      |  r_score*100 + f_score*10 + m_score AS rfm_cell,
      |  CASE WHEN r_score = 4 AND f_score >= 3 AND m_score >= 3
      |         THEN 'champions'
      |       WHEN r_score >= 3 AND f_score >= 3 THEN 'loyal'
      |       WHEN r_score = 4 AND f_score <= 2 THEN 'new'
      |       WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
      |       WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
      |       ELSE 'regular' END AS rfm_label
      |FROM s""".stripMargin

  /** ABC classification of parts by discounted-revenue share within
    * brand: descending cumulative curve, A to the 80% knee, B to 95%,
    * C the tail. Parts with no lineitems carry no revenue signal and
    * are out of scope (inner join). */
  def abcPareto(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_partkey"))
      .agg(sum(discPriceE6(col("l_extendedprice"), col("l_discount")))
        .as("rev_e6"))
    val joined = rev.join(
      Tables.part(spark, sfDir).select(col("p_partkey"), col("p_brand")),
      col("l_partkey") === col("p_partkey"))
    val brand = Window.partitionBy(col("p_brand"))
    val curve = brand.orderBy(col("rev_e6").desc, col("p_partkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    joined
      .withColumn("cum_e6", sum(col("rev_e6")).over(curve))
      .withColumn("tot_e6", sum(col("rev_e6")).over(brand))
      .select(col("p_brand"), col("p_partkey"),
        (col("rev_e6").cast("double") / 1e6).as("revenue"),
        expr("rev_e6 * 1000 div tot_e6").as("share_pm"),
        // cum_e6 approaches the BRAND total, so cum_e6 * 1000 wraps a
        // Long once a brand's e6-scaled revenue passes ~9.2e15 — the
        // sf1 slope run hit exactly this (ANSI overflow). The permille
        // and the class-boundary products run in decimal(38,0) on both
        // engines (DuckDB: HUGEINT), like the Gini numerator.
        expr("CAST(cum_e6 AS DECIMAL(38,0)) * 1000 div tot_e6")
          .cast("long").as("cum_pm"),
        when(col("cum_e6").cast("decimal(38,0)") * 5
            <= col("tot_e6").cast("decimal(38,0)") * 4, lit("A"))
          .when(col("cum_e6").cast("decimal(38,0)") * 20
            <= col("tot_e6").cast("decimal(38,0)") * 19, lit("B"))
          .otherwise(lit("C")).as("abc_class"))
  }

  val abcParetoSql: String =
    """WITH rev AS (SELECT l_partkey,
      |    CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) *
      |      (10000 - CAST(round(l_discount*10000) AS BIGINT))) AS BIGINT)
      |      AS rev_e6
      |  FROM lineitem GROUP BY 1),
      |j AS (SELECT p.p_brand, p.p_partkey, rev.rev_e6
      |  FROM rev JOIN part p ON rev.l_partkey = p.p_partkey),
      |c AS (SELECT p_brand, p_partkey, rev_e6,
      |    CAST(SUM(rev_e6) OVER (PARTITION BY p_brand
      |      ORDER BY rev_e6 DESC, p_partkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_e6,
      |    CAST(SUM(rev_e6) OVER (PARTITION BY p_brand) AS BIGINT) AS tot_e6
      |  FROM j)
      |SELECT p_brand, p_partkey, CAST(rev_e6 AS DOUBLE)/1e6 AS revenue,
      |  rev_e6 * 1000 // tot_e6 AS share_pm,
      |  CAST(CAST(cum_e6 AS HUGEINT) * 1000 // tot_e6 AS BIGINT) AS cum_pm,
      |  CASE WHEN CAST(cum_e6 AS HUGEINT) * 5 <= CAST(tot_e6 AS HUGEINT) * 4
      |         THEN 'A'
      |       WHEN CAST(cum_e6 AS HUGEINT) * 20
      |         <= CAST(tot_e6 AS HUGEINT) * 19 THEN 'B'
      |       ELSE 'C' END AS abc_class
      |FROM c""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "orders_rfm_segments" -> (rfmSegments _),
    "parts_abc_pareto" -> (abcPareto _))

  val oracles: Map[String, String] = Map(
    "orders_rfm_segments" -> rfmSegmentsSql,
    "parts_abc_pareto" -> abcParetoSql)
}
