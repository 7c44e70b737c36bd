package graft

import org.apache.spark.sql.functions._

import graft.ext.{Hashing, Substring}
import graft.functions.{GraftFunctions => GF}

/** Substring-span dedup: the native positional span kernel equals the
  * HOF formulation the oracle states, planted shared spans are found,
  * and the corpus gate is non-vacuous. */
class SubstringSpec extends SparkSpec {
  import spark.implicits._

  test("spanHashes kernel == HOF fold (order + multiplicity)") {
    // Includes a doc with a repeated span ("a b c d e" twice) — the
    // set-semantic shingle kernel would collapse it; the span kernel
    // must not.
    val docs = Seq(
      "a b c d e x y a b c d e",
      "one two three four five",
      "tiny doc",
      "").toDF("text")
    val k = 5
    val hof = when(size(col("whs")) >= k,
      transform(sequence(lit(0), size(col("whs")) - k),
        i => aggregate(slice(col("whs"), i + 1, lit(k)), lit(0L),
          (acc, x) => (acc * 1000003 + x) % Hashing.P)))
      .otherwise(array().cast("array<bigint>"))
    val bad = docs
      .select(GF.wordHashes(col("text")).as("whs"))
      .select(GF.spanHashes(col("whs"), k).as("a"), hof.as("b"))
      .filter(not(col("a") <=> col("b")))
      .count()
    assert(bad == 0)
  }

  test("planted shared span is detected with exact counts") {
    val shared = "alpha beta gamma delta epsilon"
    val docs = Seq(
      (1L, s"$shared zeta eta theta iota kappa"),
      (2L, s"prefix words here $shared trailing bit"),
      (3L, s"unrelated content entirely different words junk fill pad")
    ).toDF("doc_id", "text")
    val sp = docs.select(col("doc_id"),
      explode(Hashing.spanHashes(Hashing.wordHashes(col("text")), 5)).as("h"))
    val dup = sp.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= 2)
      .collect()
    // Exactly one 5-span is shared between docs 1 and 2.
    assert(dup.length == 1)
    assert(dup.head.getAs[Long]("n_docs") == 2)
    assert(dup.head.getAs[Long]("n_occ") == 2)
  }

  test("spanHashes64 kernel == packed pair of independent HOF folds") {
    val k = 5
    def hofFold(whs: String, mult: Long) =
      when(size(col(whs)) >= k,
        transform(sequence(lit(0), size(col(whs)) - k),
          i => aggregate(slice(col(whs), i + 1, lit(k)), lit(0L),
            (acc, x) => (acc * mult + x) % Hashing.P)))
        .otherwise(array().cast("array<bigint>"))
    val docs = Seq(
      "a b c d e x y a b c d e",
      "one two three four five",
      "tiny doc",
      "").toDF("text")
    val bad = docs
      .select(GF.wordHashes(col("text")).as("w1"),
        GF.wordHashes37(col("text")).as("w2"))
      .select(GF.spanHashes64(col("w1"), col("w2"), k).as("a"),
        zip_with(hofFold("w1", 1000003L), hofFold("w2", 1000033L),
          (h1, h2) => h1 * lit(2147483648L) + h2).as("b"))
      .filter(not(col("a") <=> col("b")))
      .count()
    assert(bad == 0)
  }

  test("widened hash separates a crafted 31-bit collision") {
    // fold_1000003([x,0,0,0,0]) == fold_1000003([x-1, 1000003, 0, 0, 0])
    // (x·M⁴ vs (x−1)·M⁴ + M·M³ — identical by construction), so the old
    // single-family hash conflates these two different spans; the second
    // family (multiplier 1000033) must tell them apart.
    val x = 12345L
    val a = Seq(x, 0L, 0L, 0L, 0L)
    val b = Seq(x - 1, 1000003L, 0L, 0L, 0L)
    val df = Seq((a, a), (b, b)).toDF("w1", "w2")
      .select(GF.spanHashes(col("w1"), 5).as("h31"),
        GF.spanHashes64(col("w1"), col("w2"), 5).as("h64"))
    val rows = df.select(element_at(col("h31"), 1), element_at(col("h64"), 1))
      .as[(Long, Long)].collect()
    assert(rows(0)._1 == rows(1)._1, "crafted inputs no longer collide in h31")
    assert(rows(0)._2 != rows(1)._2, "widened hash failed to separate the collision")
  }

  test("exact verify: every corpus span-hash group holds ONE distinct span text") {
    // The production claim behind the widened hash — zero false spans on
    // this corpus — proven by joining hashes back to the actual K-word
    // span text and checking injectivity group by group.
    val k = Substring.K
    val words = filter(split(lower(col("text")), "[^a-z]+"),
      w => length(w) > lit(0))
    val spanTxt = when(size(col("ws")) >= k,
      transform(sequence(lit(0), size(col("ws")) - k),
        i => concat_ws(" ", slice(col("ws"), i + 1, lit(k)))))
      .otherwise(array().cast("array<string>"))
    val pairs = Tables.documents(spark, sf)
      .select(words.as("ws"))
      .select(GF.spanHashes64(GF.wordHashes(concat_ws(" ", col("ws"))),
        GF.wordHashes37(concat_ws(" ", col("ws"))), k).as("hs"),
        spanTxt.as("ts"))
      .select(explode(arrays_zip(col("hs"), col("ts"))).as("z"))
      .select(col("z.hs").as("h"), col("z.ts").as("txt"))
    val collisions = pairs.groupBy("h")
      .agg(countDistinct(col("txt")).as("n_txt"))
      .filter(col("n_txt") > 1)
      .count()
    assert(collisions == 0, s"$collisions span-hash groups mix different texts")
  }

  test("corpus gate is non-vacuous and coverage is consistent") {
    val spans = Substring.duplicatedSpans(spark, sf)
    assert(spans.count() > 0, "no duplicated spans on the corpus")
    val cov = Substring.spanCoverage(spark, sf)
    val bad = cov.filter(col("n_dup_spans") > col("n_spans") ||
      col("n_dup_spans") < 0 ||
      col("dup_span_frac") < 0 || col("dup_span_frac") > 1).count()
    assert(bad == 0)
    // Total duplicated occurrences must reconcile across the two views.
    val occ = spans.agg(sum(col("n_occ"))).as[Long].head()
    val docSum = cov.agg(sum(col("n_dup_spans"))).as[Long].head()
    assert(occ == docSum,
      s"span-table occurrences $occ != per-doc dup-span sum $docSum")
  }

  test("multiscale: planted long repeat fires at every granularity, " +
      "short repeat only below its length") {
    // Doc 1/2 share a 70-word block (long verbatim boilerplate — the
    // Lee et al. ≥50-token excision case); doc 3/4 share a 20-word
    // block (sentence-scale); doc 5 is fully unique. Fillers are
    // doc-unique words, so the only duplicated spans are the blocks'
    // internal spans: an L-word block yields exactly L-k+1 duplicated
    // k-spans.
    def words(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val long = words("rep", 70)
    val short = words("sent", 20)
    val docs = Seq(
      (1L, s"${words("fa", 30)} $long ${words("fb", 30)}"),
      (2L, s"${words("fc", 30)} $long ${words("fd", 30)}"),
      (3L, s"${words("fe", 30)} $short ${words("ff", 30)}"),
      (4L, s"${words("fg", 30)} $short ${words("fh", 30)}"),
      (5L, words("solo", 70))).toDF("doc_id", "text")
    val cov = Substring.multiscaleCoverageOf(docs).localCheckpoint()
    val m = cov.select("doc_id", "k", "n_spans", "n_dup_spans")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // Long block: 66 / 55 / 7 duplicated spans at k = 5 / 16 / 64.
    for (d <- Seq(1L, 2L)) {
      assert(m((d, 5L))._2 == 66L, s"doc $d k=5: ${m((d, 5L))}")
      assert(m((d, 16L))._2 == 55L, s"doc $d k=16: ${m((d, 16L))}")
      assert(m((d, 64L))._2 == 7L, s"doc $d k=64: ${m((d, 64L))}")
    }
    // Short block: fires at 5 and 16, NOT at 64 (the row exists — the
    // doc has 80 words — but carries zero duplicated spans).
    for (d <- Seq(3L, 4L)) {
      assert(m((d, 5L))._2 == 16L, s"doc $d k=5: ${m((d, 5L))}")
      assert(m((d, 16L))._2 == 5L, s"doc $d k=16: ${m((d, 16L))}")
      assert(m((d, 64L))._2 == 0L, s"doc $d k=64: ${m((d, 64L))}")
    }
    // Unique doc: rows at every granularity (70 words ≥ 64), all clean.
    for (k <- Substring.Scales)
      assert(m((5L, k.toLong))._2 == 0L, s"doc 5 k=$k: ${m((5L, k.toLong))}")
    // n_spans bookkeeping: 130-word docs have 126 / 115 / 67 spans.
    assert(m((1L, 5L))._1 == 126L && m((1L, 16L))._1 == 115L &&
      m((1L, 64L))._1 == 67L)
  }

  test("multiscale k=5 tier equals the single-K coverage gate") {
    val ms = Substring.multiscaleCoverage(spark, sf)
      .filter(col("k") === 5)
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"))
    val single = Substring.spanCoverage(spark, sf)
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"))
    assert(ms.count() > 0)
    assert(ms.exceptAll(single).count() == 0 &&
      single.exceptAll(ms).count() == 0,
      "multiscale k=5 diverged from the single-K kernel")
  }

  test("excise: keep-first removal with exact interval-union coverage") {
    def words(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val block = words("blk", 70)
    val docs = Seq(
      // Doc 1 is the block's first document — keeps everything.
      (1L, s"${words("fa", 30)} $block ${words("fb", 30)}"),
      (2L, s"${words("fc", 30)} $block ${words("fd", 30)}"),
      (3L, s"${words("fe", 30)} $block ${words("ff", 30)}"),
      // Doc 4 repeats the block twice INTERNALLY but is not first —
      // both occurrences are excised; union must not double-count the
      // overlap-free 2×70 words.
      (4L, s"$block ${words("fg", 10)} $block"),
      // Doc 5: unique, 80 words — a clean row.
      (5L, words("solo", 80)),
      // Doc 6: 40 words — below K, no row at all.
      (6L, words("tiny", 40))).toDF("doc_id", "aug")
    val m = Substring.exciseOf(docs).localCheckpoint()
      .select("doc_id", "n_words", "n_excised_spans", "n_excised_words",
        "retained_pm")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    // First doc keeps its copy (and 130 words stay 1000 permille).
    assert(m(1L) == (130L, 0L, 0L, 1000L), s"doc1: ${m(1L)}")
    // Later docs excise exactly the 70 block words: 7 contiguous
    // 64-spans union to 70, not 7×64.
    assert(m(2L) == (130L, 7L, 70L, 461L), s"doc2: ${m(2L)}")
    assert(m(3L) == (130L, 7L, 70L, 461L), s"doc3: ${m(3L)}")
    // Both internal occurrences excised; 150 words, 140 removed.
    assert(m(4L)._3 == 140L && m(4L)._1 == 150L, s"doc4: ${m(4L)}")
    assert(m(5L) == (80L, 0L, 0L, 1000L), s"doc5: ${m(5L)}")
    assert(!m.contains(6L), "sub-K doc must produce no row")
  }

  test("excise gate: planted template removed everywhere but its first doc") {
    val rep = Substring.exciseReport(spark, sf).localCheckpoint()
    import org.apache.spark.sql.functions.{min => fmin}
    val firstPlanted = rep.filter(col("doc_id") % 9 === 4)
      .agg(fmin("doc_id")).as[Long].head()
    val planted = rep.filter(col("doc_id") % 9 === 4
      && col("doc_id") =!= firstPlanted)
    assert(planted.count() > 0)
    assert(planted.filter(col("n_excised_words") < 70).count() == 0,
      "a planted doc kept its template")
    assert(rep.filter(col("doc_id") === firstPlanted)
      .filter(col("n_excised_words") > 0).count() == 0,
      "the first planted doc must keep the template")
    // Sanity: retained_pm bounded, and excised never exceeds n_words.
    assert(rep.filter(col("retained_pm") < 0 || col("retained_pm") > 1000
      || col("n_excised_words") > col("n_words")).count() == 0)
  }

  test("boilerplate recurrence is scoped to the source") {
    // The SAME footer appears twice in source A but only once in source
    // B: A's carriers are flagged, B's single carrier must NOT be —
    // cross-source recurrence is dedup's business, not boilerplate's.
    val footer = "subscribe now follow us daily terms apply here"
    val docs = Seq(
      (1L, "a", s"alpha beta gamma delta epsilon zeta $footer"),
      (2L, "a", s"one two three four five six seven $footer"),
      (3L, "a", "clean words entirely unique content nothing shared"),
      (4L, "b", s"other site totally different prose $footer")
    ).toDF("doc_id", "source", "aug")
    val cov = Substring.boilerplateOf(docs)
      .select("doc_id", "n_bp_spans")
      .as[(Long, Long)].collect().toMap
    assert(cov(1L) >= 4 && cov(2L) >= 4,
      s"source-a footer carriers not flagged: $cov")
    assert(cov(3L) == 0 && cov(4L) == 0,
      s"clean doc or cross-source-only carrier flagged: $cov")
  }

  test("planted footer fires in every source, clean docs stay silent") {
    val cov = Substring.boilerplate(spark, sf).cache()
    try {
      // Every planted doc (doc_id % 7 == 3) carries >= 8 footer-internal
      // boilerplate spans, in all 20 sources.
      val planted = cov.filter(col("doc_id") % 7 === 3)
      assert(planted.select(countDistinct(col("source"))).as[Long].head() == 20)
      assert(planted.filter(col("n_bp_spans") < 8).count() == 0,
        "a planted doc is missing its footer spans")
      // Un-planted docs: the overwhelming majority carry zero
      // boilerplate spans (organic within-source recurrence is rare).
      val clean = cov.filter(col("doc_id") % 7 =!= 3)
      val silent = clean.filter(col("n_bp_spans") === 0).count()
      assert(silent * 10 >= clean.count() * 9,
        "detector fires on too many clean docs")
    } finally cov.unpersist()
  }
}
