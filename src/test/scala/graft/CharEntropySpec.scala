package graft

import org.apache.spark.sql.functions._

import graft.ext.CharEntropy

/** Centibit char entropy: the BigInt log table is exact, closed-form
  * cases land on their textbook values, and the fixture frame is
  * partition-invariant. */
class CharEntropySpec extends SparkSpec {
  import spark.implicits._

  test("log table is exactly floor(100*log2 k)") {
    // Powers of two are the exact lattice points; off-lattice values
    // bound-checked against the neighbors.
    assert(CharEntropy.log2Centibits(1) == 0L)
    assert(CharEntropy.log2Centibits(2) == 100L)
    assert(CharEntropy.log2Centibits(1024) == 1000L)
    assert(CharEntropy.log2Centibits(3) == 158L)  // log2 3 = 1.58496...
    assert(CharEntropy.log2Centibits(10) == 332L) // log2 10 = 3.32192...
    // Monotone, never exceeding the true value's ceiling.
    val t = (1 to 600).map(CharEntropy.log2Centibits)
    assert(t.zip(t.tail).forall { case (a, b) => a <= b })
  }

  test("closed-form entropy cases") {
    val docs = Seq(
      (1L, "aaaa"),     // H = 0
      (2L, "aabb"),     // H = 1 bit -> 100 cb; simpson 500 pm; eff 2
      (3L, "abcd"),     // H = 2 bits -> 200 cb; simpson 750 pm; eff 4
      (4L, "aaab")      // H = 0.8113 bits -> 81 cb
    ).toDF("doc_id", "text")
    val m = CharEntropy.entropyOf(docs)
      .select("doc_id", "entropy_cb", "simpson_pm", "eff_chars")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(m(1L) == (0L, 0L, 1L))
    assert(m(2L) == (100L, 500L, 2L))
    assert(m(3L) == (200L, 750L, 4L))
    // (4*200 - (3*158 + 1*0)) div 4 = (800-474) div 4 = 81
    assert(m(4L)._1 == 81L)
  }

  test("fixture: entropy bounded by log2(alphabet), partition-invariant") {
    val a = CharEntropy.entropy(spark, sf).localCheckpoint()
    // Entropy can never exceed log2 of the distinct-char count (+1 cb
    // floor slack) and is never negative.
    val viol = a.filter(col("entropy_cb") < 0).count()
    assert(viol == 0)
    assert(a.count() > 0)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val b = CharEntropy.entropy(spark, sf)
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("doc length >= TabMax fails loudly instead of vanishing") {
    // Round-15 advisory: oversized docs used to silently drop at the
    // inner lookup joins. The guard must raise, not filter.
    val docs = Seq((1L, "ab" * 1024), (2L, "fine short doc"))
      .toDF("doc_id", "text")
    val e = intercept[Exception] {
      CharEntropy.entropyOf(docs).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("TabMax")), e.getMessage)
    // In-bounds corpus still computes (the guard passes rows through).
    val ok = CharEntropy.entropyOf(
      Seq((1L, "abab"), (2L, "cd")).toDF("doc_id", "text")).collect()
    assert(ok.length == 2)
  }
}
