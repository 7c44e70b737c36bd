package graft

import org.apache.spark.sql.functions._

import graft.ext.Sketches

/** KMV estimator semantics beyond the oracle gate: small-cardinality
  * exact regime, estimator accuracy on known cardinalities, and the
  * gap-fill spine's completeness. */
class SketchSpec extends SparkSpec {
  import spark.implicits._

  test("KMV at sf0.001: estimate within 30% of exact, fields consistent") {
    val row = Sketches.kmvDistinctWords(spark, sf).collect().head
    val (n, kth, est, exact) = (row.getLong(0), row.getLong(1),
      row.getLong(2), row.getLong(3))
    assert(n <= 64 && kth > 0)
    if (n < 64) assert(est == exact, "below k the sketch IS the exact set")
    else assert(math.abs(est - exact).toDouble / exact <= 0.30,
      s"est $est vs exact $exact")
  }

  test("KMV set ops: internal consistency + exact branch below k") {
    val r = Sketches.kmvSetOps(spark, sf).collect().head
    def f(c: String) = r.getAs[Long](c)
    val k = f("k")
    assert(f("n_sketch_a") <= k && f("n_sketch_b") <= k &&
      f("n_union_sketch") <= k)
    assert(f("inter_in_sketch") <= f("n_union_sketch"))
    assert(f("jaccard_permille") >= 0 && f("jaccard_permille") <= 1000)
    assert(f("exact_inter") <= f("exact_union"))
    // Estimates can never exceed what the sketch can express, and the
    // union estimate is always >= the union sketch's own size.
    assert(f("union_est") >= f("n_union_sketch"))
    assert(f("inter_est") <= f("union_est"))
    if (f("n_union_sketch") < k) {
      // Small-cardinality branch: the union sketch holds BOTH whole
      // vocabularies, so every estimate must be exactly the truth.
      assert(f("union_est") == f("exact_union"))
      assert(f("inter_in_sketch") == f("exact_inter"))
      assert(f("inter_est") == f("exact_inter"))
      assert(f("jaccard_permille") == f("exact_jaccard_permille"))
    }
  }

  test("CMS: estimates dominate exact counts, never undercount") {
    val rows = Sketches.cmsWordCounts(spark, sf)
      .select($"word", $"est_count", $"exact_count")
      .as[(String, Long, Long)].collect()
    assert(rows.length == 5, "one row per probe word")
    rows.foreach { case (w, est, exact) =>
      assert(est >= exact, s"CMS must never undercount: $w est=$est exact=$exact")
      assert(est >= 0 && exact >= 0)
    }
    // The corpus words are genuinely present — the sketch is not
    // trivially all-zero.
    assert(rows.exists(_._3 > 0))
  }

  test("bloom filter: no false negatives, bounded bits, honest positives") {
    val row = Sketches.bloomMembership(spark, sf).collect().head
    val Seq(nProbes, nMembers, nPos, nFp, nFn, bitsSet) =
      (0 until 6).map(row.getLong)
    assert(nFn == 0, "a bloom filter can NEVER false-negative")
    assert(nPos == nMembers + nFp, "positives = members + false positives")
    assert(bitsSet <= 8192 && bitsSet <= 3 * nMembers,
      "≤ m bits, ≤ k per member")
    assert(nProbes > 0 && nMembers > 0)
  }

  test("bloom-filtered join: lossless vs plain join, and actually prunes") {
    val rows = Sketches.bloomFilteredJoin(spark, sf).collect()
    // Result identity with the UNFILTERED join — the no-false-negative
    // guarantee proven through the full pipeline, not just membership.
    val li = Tables.lineitem(spark, sf)
    val plain = li.join(
      Tables.orders(spark, sf)
        .filter(org.apache.spark.sql.functions.col("o_orderdate").between("1995-03-01", "1995-03-31"))
        .select(col("o_orderkey"), col("o_orderpriority")),
      col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority").count()
      .as[(String, Long)].collect().toMap
    val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == plain, s"prefiltered join diverged: $got vs $plain")
    // The prefilter must do real work: passed is a strict subset of the
    // probe, and everything that joins must have passed.
    val (nProbe, nPassed) = (rows.head.getLong(3), rows.head.getLong(4))
    val nJoined = rows.map(_.getLong(1)).sum
    assert(nPassed < nProbe, "bloom pruned nothing")
    assert(nJoined <= nPassed, "joined rows must all pass the bloom")
  }

  test("HLL at sf0.001: estimate within 15% of exact, register math sane") {
    val row = Sketches.hllDistinctShingles(spark, sf).collect().head
    val (n, zeroRegs, sumPow, est, exact) = (row.getLong(0), row.getLong(1),
      row.getLong(2), row.getLong(3), row.getLong(4))
    assert(n >= exact, "raw stream is at least as long as its distinct set")
    assert(zeroRegs >= 0 && zeroRegs <= 64)
    // Σ 2^(26-reg) over 64 registers: at least 64 (all regs maxed at 26
    // is unreachable but bounds it), at most 64·2^26 (all empty).
    assert(sumPow >= 64 && sumPow <= (64L << 26))
    // m=64 gives σ ≈ 1.04/√64 = 13%; one σ of slack on this fixed corpus.
    assert(math.abs(est - exact).toDouble / exact <= 0.15,
      s"est $est vs exact $exact")
  }

  test("HLL on a tiny stream: duplicates don't move the registers") {
    // Same universe fed twice = same registers = same estimate; proven
    // via the production path by writing a doubled corpus to parquet.
    val dir = tempDir("hlldup").toString
    val docs = Tables.documents(spark, sf)
    docs.union(docs).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val once = Sketches.hllDistinctShingles(spark, sf).collect().head
    val twice = Sketches.hllDistinctShingles(spark, dir).collect().head
    assert(twice.getLong(0) == 2 * once.getLong(0), "stream doubled")
    assert(twice.getLong(2) == once.getLong(2), "registers unchanged")
    assert(twice.getLong(3) == once.getLong(3), "estimate unchanged")
  }

  test("grouped HLL: per-source estimates track exact, state is m rows max") {
    val rows = Sketches.hllGroupedBySource(spark, sf)
      .select("source", "zero_regs", "est_distinct", "exact_distinct")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (zeroRegs, est, exact) =
        (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(zeroRegs >= 0 && zeroRegs <= 64)
      // m=64 ⇒ σ ≈ 13%; individual fixed-corpus groups can land 3σ+ out
      // (observed 44% on one sf0.001 source), so the per-group band is
      // wide and the sharp assertion is on the MEAN error below.
      assert(math.abs(est - exact).toDouble / exact.max(1L) <= 0.6,
        s"source ${r.getString(0)}: est $est vs exact $exact")
    }
    val meanRelErr = rows.map(r =>
      math.abs(r.getLong(2) - r.getLong(3)).toDouble / r.getLong(3).max(1L))
      .sum / rows.length
    assert(meanRelErr <= 0.2, s"mean relative error $meanRelErr")
    // Grouped sketch must reconcile with the global one: the union of
    // per-source universes IS the corpus universe, so Σ exact_per_source
    // >= global exact (shingles shared across sources double-count).
    val globalExact = Sketches.hllDistinctShingles(spark, sf)
      .collect().head.getLong(4)
    assert(rows.map(_.getLong(3)).sum >= globalExact)
  }

  test("histogram quantiles: est <= exact < est + binW, bins bounded") {
    val rows = Sketches.quantilePrices(spark, sf).collect()
    assert(rows.length == 3, "one row per return flag")
    rows.foreach { r =>
      val nBins = r.getLong(4)
      assert(nBins > 0 && nBins <= 2700, "state bounded by the domain")
      Seq((1, 5), (2, 6), (3, 7)).foreach { case (e, x) =>
        val (est, exact) = (r.getLong(e), r.getLong(x))
        assert(est <= exact && exact < est + 4096L,
          s"quantile bound violated: est=$est exact=$exact")
      }
    }
  }

  test("gapfill emits every (hour, type) cell and preserves totals") {
    val filled = ext.Events.gapfillHourly(spark, sf)
    val hours = filled.select("hour").distinct().count()
    val types = filled.select("event_type").distinct().count()
    assert(filled.count() == hours * types, "spine must be complete")
    val totalFilled = filled.agg(sum("cnt")).as[Long].collect().head
    val totalRaw = Tables.events(spark, sf).count()
    assert(totalFilled == totalRaw, "zero-filling must not change totals")
  }
}
