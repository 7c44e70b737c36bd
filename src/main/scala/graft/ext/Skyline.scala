package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Skyline (Pareto-frontier) query — the preference operator of
  * Börzsönyi/Kossmann/Stocker (ICDE 2001): the orders no other order in
  * the same market segment beats on BOTH "earlier" and "higher-value"
  * (maximize price, minimize date; dominance strict in at least one
  * dimension, per-date price ties all survive).
  *
  * The naive formulation is a quadratic NOT EXISTS self-join. The 2-D
  * case is order-reducible, and the implementation exploits it twice:
  *
  *  1. per-(segment, date) MAX pre-reduction — for a fixed date only
  *     that date's max-price orders can be skyline (a same-date richer
  *     order dominates) — ONE map-side-combinable agg that shrinks the
  *     fact to ≤ |segments|·|dates| rows at ANY corpus scale;
  *  2. a prefix-max window over the REDUCED frame: a date survives iff
  *     every strictly-earlier date's max is strictly lower.
  *
  * The only sort in the plan runs on the calendar-bounded frame, never
  * on facts; winners then recover their order keys via one keyed
  * semi-join back. This is the skyline analog of the q15/tfidf
  * lineage-cut pattern: reduce first, window the dashboard-sized frame.
  */
object Skyline {

  import Relational.quant

  def ordersSkyline(spark: SparkSession, sfDir: String): DataFrame = {
    val seg = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment").as("segment"))
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        quant(col("o_totalprice"), 100).as("price_c"),
        datediff(col("o_orderdate").cast("date"),
          lit("1970-01-01").cast("date")).as("dn"))
      .join(seg, col("o_custkey") === col("c_custkey"))
    val perDate = o.groupBy(col("segment"), col("dn"))
      .agg(max(col("price_c")).as("price_c"))
    val w1 = Window.partitionBy(col("segment")).orderBy(col("dn"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val sky = perDate
      .withColumn("m1", max(col("price_c")).over(w1))
      .filter(col("m1").isNull || col("m1") < col("price_c"))
      .select(col("segment").as("s2"), col("dn").as("d2"),
        col("price_c").as("p2"))
    o.join(sky, col("segment") === col("s2") && col("dn") === col("d2") &&
        col("price_c") === col("p2"))
      .select(col("segment"), col("o_orderkey"), col("o_orderdate"),
        (col("price_c").cast("double") / 100.0).as("price"))
  }

  val ordersSkylineSql: String =
    """WITH o AS (
      |  SELECT c_mktsegment AS segment, o_orderkey, o_orderdate,
      |    CAST(round(o_totalprice*100) AS BIGINT) AS price_c,
      |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |      AS dn
      |  FROM orders, customer WHERE o_custkey = c_custkey),
      |pd AS (SELECT segment, dn, MAX(price_c) AS price_c FROM o
      |  GROUP BY 1, 2),
      |sky AS (SELECT segment, dn, price_c FROM (
      |    SELECT segment, dn, price_c,
      |      MAX(price_c) OVER (PARTITION BY segment ORDER BY dn
      |        RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m1
      |    FROM pd)
      |  WHERE m1 IS NULL OR m1 < price_c)
      |SELECT o.segment, o.o_orderkey, o.o_orderdate,
      |  CAST(o.price_c AS DOUBLE)/100.0 AS price
      |FROM o JOIN sky ON o.segment = sky.segment AND o.dn = sky.dn
      |  AND o.price_c = sky.price_c""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "orders_skyline" -> (ordersSkyline _))

  val oracles: Map[String, String] = Map(
    "orders_skyline" -> ordersSkylineSql)
}
