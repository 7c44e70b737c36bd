package graft

import graft.ext.{Relational, SupplyChain}

/** Pins the r18 input-size-gated bloom pre-filter on q2/q17/q19
  * (guide §3.2): below the fact-row gate the plans are byte-identical
  * to the plain queries (the driver-graded small-SF surface is
  * untouched); forced past the gate, the bloom probe appears in the
  * plan and the RESULTS are row-for-row identical — the no-false-
  * negative guarantee end to end through each query's own join. */
class BloomGateSpec extends SparkSpec {

  private val GateKey = "spark.graft.bloom.factRowGate"

  /** Runs `body` with the gate key set to `value` (unset on None). */
  private def withGate[T](value: Option[String])(body: => T): T = {
    val prev = spark.conf.getOption(GateKey)
    value match {
      case Some(v) => spark.conf.set(GateKey, v)
      case None => spark.conf.unset(GateKey)
    }
    try body
    finally {
      prev match {
        case Some(v) => spark.conf.set(GateKey, v)
        case None => spark.conf.unset(GateKey)
      }
    }
  }

  private val queries = Seq[(String,
      (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)](
    ("q17_small_qty_revenue", Relational.q17SmallQtyRevenue _),
    ("q19_disjunctive", Relational.q19Disjunctive _),
    ("q2_min_cost_supplier", SupplyChain.q2MinCostSupplier _))

  test("default gate at test SF: no bloom probe in any plan") {
    // Unset, and a malformed value: both fall back to the default gate
    // instead of failing the query.
    for (gate <- Seq(None, Some("1e8x")); (name, fn) <- queries) {
      val plan = withGate(gate) {
        fn(spark, sf).queryExecution.optimizedPlan.toString
      }
      assert(!plan.contains("shiftright"),
        s"$name (gate $gate): bloom probe present below the gate")
    }
  }

  test("forced gate: bloom probe in plan, results row-identical") {
    queries.foreach { case (name, fn) =>
      val plain = withGate(None) {
        fn(spark, sf).collect().map(_.toString).sorted.toSeq
      }
      val gated = withGate(Some("1")) {
        val df = fn(spark, sf)
        assert(df.queryExecution.optimizedPlan.toString.contains("shiftright"),
          s"$name: bloom probe missing with the gate forced on")
        df.collect().map(_.toString).sorted.toSeq
      }
      assert(gated == plain, s"$name: gated result differs from plain")
    }
  }
}
