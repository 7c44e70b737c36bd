package graft

import org.apache.spark.sql.functions._

import graft.engine.MapReduce
import graft.ext.Skew

/** The 100 TB toolbox: salted joins, bucketed co-located joins, and the
  * exposed JSON KV intermediate format — each verified for result
  * equality AND (where it is the point) plan shape. */
class ScaleToolsSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin == plain join, and joins on (key, salt)") {
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val cust = Tables.customer(spark, sf).select("c_custkey", "c_name")
      .withColumnRenamed("c_custkey", "o_custkey")
    val plain = orders.join(cust, "o_custkey")
      .collect().map(_.toString).sorted
    val salted = Skew.saltedJoin(orders, cust, "o_custkey", salts = 8)
    assert(salted.queryExecution.analyzed.toString.contains("__salt"))
    val got = salted.select(plainColsOf(salted.columns): _*)
      .collect().map(_.toString).sorted
    assert(got.toSeq == plain.toSeq)
  }

  private def plainColsOf(cols: Array[String]) =
    cols.filterNot(_ == "__salt").map(col).toSeq

  test("skew report: uniform floor holds, masses reconcile with the tables") {
    val rows = Skew.skewReport(spark, sf).collect()
      .map(r => r.getAs[String]("join_key") -> r).toMap
    assert(rows.size == 4)
    rows.values.foreach { r =>
      // max >= mean, so the permille ratio can never dip below uniform.
      assert(r.getAs[Long]("skew_pm") >= 1000, r.toString)
      assert(r.getAs[Long]("max_rows") <= r.getAs[Long]("n_rows"))
    }
    assert(rows("lineitem.l_orderkey").getAs[Long]("n_rows") ==
      Tables.lineitem(spark, sf).count())
    assert(rows("events.user_id").getAs[Long]("n_keys") ==
      Tables.events(spark, sf).select("user_id").distinct().count())
  }

  test("bucketed tables co-locate the join: no shuffle exchange") {
    val n = 4
    Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
      .write.mode("overwrite").bucketBy(n, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("graft_orders_bkt")
    Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
      .write.mode("overwrite").bucketBy(n, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("graft_lineitem_bkt")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_orders_bkt")
        .join(spark.table("graft_lineitem_bkt"),
          col("o_orderkey") === col("l_orderkey"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange"), s"bucketed join still shuffles:\n$p")
      assert(joined.count() ==
        Tables.orders(spark, sf).select("o_orderkey")
          .join(Tables.lineitem(spark, sf).select("l_orderkey"),
            col("o_orderkey") === col("l_orderkey")).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("partitionBy layout: day filters prune partitions at the scan") {
    val dir = tempDir("graft-lake-").toString
    Tables.events(spark, sf)
      .withColumn("day", to_date(col("ts")))
      .write.partitionBy("day").mode("overwrite").parquet(dir)
    val lake = spark.read.parquet(dir)
    val days = lake.select("day").distinct().count()
    assert(days > 1, "need multiple partitions for the pruning test")
    val oneDay = lake.filter(col("day") === "2024-01-03")
    val p = oneDay.queryExecution.executedPlan.toString
    // The day predicate must land in PartitionFilters (pruned listing),
    // NOT PushedFilters/data filters (which would scan every file).
    assert(p.contains("PartitionFilters: [isnotnull(day"), p)
    val expected = Tables.events(spark, sf)
      .filter(to_date(col("ts")) === "2024-01-03").count()
    assert(oneDay.count() == expected && expected > 0)
  }

  test("JSON KV sink/source round-trips the reference intermediate format") {
    val dir = tempDir("mr-json-kv").toString
    val data = Seq(
      engine.KV("w1", "1"), engine.KV("w2", "2"), engine.KV("w1", "3"))
    MapReduce.jsonKvSink(data.toDS(), dir, nReduce = 3)
    // Field names on disk are the reference's Key/Value (worker.go:15-18).
    val raw = spark.read.textFile(dir).collect()
    assert(raw.forall(l => l.contains("\"Key\":") && l.contains("\"Value\":")))
    val back = MapReduce.jsonKvSource(spark, dir)
      .collect().map(kv => (kv.key, kv.value)).sorted
    assert(back.toSeq == data.map(kv => (kv.key, kv.value)).sorted)
  }
}
