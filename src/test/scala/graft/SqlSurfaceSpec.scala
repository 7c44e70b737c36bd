package graft

import org.apache.spark.sql.functions._

/** The engine's SQL surface: the graft_* native expressions are installed
  * in the session function registry by `GraftExtensions`, so they are
  * drivable from `spark.sql` strings, not just the DataFrame API; plus
  * window-frame semantics checked through the relational queries. */
class SqlSurfaceSpec extends SparkSpec {

  private lazy val ready: Unit =
    Tables.documents(spark, sf).createOrReplaceTempView("documents_v")

  test("native expressions are callable from SQL") {
    ready
    val viaSql = spark.sql(
      """SELECT doc_id, graft_simhash(graft_word_hashes(text)) AS simhash
        |FROM documents_v""".stripMargin)
      .collect().map(_.toString).toSet
    val viaApi = ext.Dedup.simhash(spark, sf)
      .collect().map(_.toString).toSet
    assert(viaSql == viaApi)
  }

  test("shingle/intersect kernels compose in SQL") {
    ready
    val n = spark.sql(
      """SELECT graft_sorted_intersect_size(
        |  graft_shingle_hashes(graft_word_hashes(text), 3),
        |  graft_shingle_hashes(graft_word_hashes(text), 3)) AS self_inter,
        |  size(graft_shingle_hashes(graft_word_hashes(text), 3)) AS n_sh
        |FROM documents_v""".stripMargin)
      .filter(col("self_inter") =!= col("n_sh")).count()
    assert(n == 0) // |A ∩ A| == |A|
  }

  test("distribution windows: exact rational ranks under the total order") {
    import spark.implicits._
    val rows = ext.Relational.ordersWindowDistrib(spark, sf)
      .select("o_custkey", "pct_rank", "cume_dist", "price_c",
        "max_price_c")
      .as[(Long, Double, Double, Long, Long)].collect()
    assert(rows.nonEmpty)
    val byCust = rows.groupBy(_._1)
    byCust.foreach { case (_, rs) =>
      val n = rs.length
      // Under a total order: pct_rank hits exactly (i-1)/(n-1) and
      // cume_dist i/n for i = 1..n.
      val prs = rs.map(_._2).sorted.toSeq
      val want = if (n == 1) Seq(0.0)
        else (0 until n).map(i => i.toDouble / (n - 1))
      assert(prs == want)
      val cds = rs.map(_._3).sorted.toSeq
      assert(cds == (1 to n).map(i => i.toDouble / n))
      // last_value over the full frame is the customer's max price.
      assert(rs.forall(_._5 == rs.map(_._4).max))
    }
  }

  test("7d RANGE frame: value-distance peers, gaps shrink the window") {
    import spark.implicits._
    val rows = ext.Relational.ordersRevenue7d(spark, sf)
      .select(col("day").cast("date").cast("string"), col("revenue"),
        col("revenue_7d"), col("days_in_window"))
      .as[(String, Double, Double, Long)].collect()
      .sortBy(_._1)
    assert(rows.nonEmpty)
    assert(rows.forall(r => r._4 >= 1 && r._4 <= 7))
    // Independent recompute from the daily series by date arithmetic.
    val byDay = rows.map(r =>
      java.time.LocalDate.parse(r._1) -> r._2).toMap
    rows.foreach { case (d, _, r7, n) =>
      val day = java.time.LocalDate.parse(d)
      val win = (0 to 6).flatMap(k => byDay.get(day.minusDays(k.toLong)))
      assert(n == win.size, s"$d days_in_window")
      assert(math.abs(win.sum - r7) < 1e-6, s"$d revenue_7d")
    }
    // The fixture has calendar gaps: both full and short windows occur
    // beyond the warm-up week.
    val steady = rows.drop(7)
    assert(steady.exists(_._4 == 7) || steady.isEmpty)
  }
}
