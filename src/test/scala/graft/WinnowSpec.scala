package graft

import org.apache.spark.sql.functions._

import graft.ext.{Hashing, Substring, Winnow}
import graft.functions.{GraftFunctions => GF}

/** Winnowing fingerprints: the SWA-2003 detection guarantee holds on
  * planted duplicates, the sketch is a strict subset of the span set
  * with the expected density, short docs still get fingerprinted, and
  * selection is partition-invariant. */
class WinnowSpec extends SparkSpec {
  import spark.implicits._

  private def fps(docs: org.apache.spark.sql.DataFrame) =
    Winnow.fingerprintsOf(docs)

  test("guarantee: a shared run of W+K-1 words shares >= 1 fingerprint") {
    // Threshold run length: W + K - 1 = 8 words. The run sits at
    // different offsets inside different surrounding text in each doc —
    // the exact situation the window guarantee covers.
    val run = "alpha beta gamma delta epsilon zeta eta theta"
    assert(run.split(" ").length == Winnow.W + Substring.K - 1)
    val docs = Seq(
      (1L, s"$run and then some entirely different trailing words here"),
      (2L, s"a completely different long preamble comes first $run"),
      (3L, "unrelated filler content with no overlap at all present")
    ).toDF("doc_id", "text")
    val shared = fps(docs)
      .groupBy("fp").agg(collect_set("doc_id").as("ds"))
      .filter(array_contains(col("ds"), 1L) && array_contains(col("ds"), 2L))
      .count()
    assert(shared >= 1, "threshold-length duplicated run must share a fingerprint")
  }

  test("sketch is a subset of span hashes (fixture corpus)") {
    val docs = Tables.documents(spark, sf)
    val sp = docs.select(col("doc_id"),
      explode(Hashing.spanHashes64(Hashing.wordHashes(col("text")),
        Hashing.wordHashes37(col("text")), Substring.K)).as("h"))
    val f = fps(docs)
    // Every fingerprint is one of the doc's own span hashes, and the
    // winnow strictly thinned the span set. (The NUMERIC density band is
    // asserted on synthetic random text below — the fixture's value
    // depends on its duplication profile and may drift across
    // regenerations without any code bug.)
    val orphan = f.join(sp,
      f("doc_id") === sp("doc_id") && f("fp") === sp("h"), "left_anti").count()
    assert(orphan == 0)
    assert(f.count() < sp.count())
  }

  test("density on random text matches the 2/(W+1) expectation") {
    // Random distinct-word documents: span hashes behave as i.i.d. draws,
    // where SWA-2003's expected sketch density is provably 2/(W+1) = 0.4.
    // 60 docs x 120 words gives ~7k spans; assert a generous band around
    // the expectation (distinct-per-doc dedupe pulls slightly down).
    val rnd = new scala.util.Random(9)
    // Letter-only words: the span kernel tokenizes on unicode letters
    // (Go parity), so digits would collapse every word to one token.
    def word() = Seq.fill(6)(('a' + rnd.nextInt(26)).toChar).mkString
    val docs = (1L to 60L).map { id =>
      (id, Seq.fill(120)(word()).mkString(" "))
    }.toDF("doc_id", "text")
    val sp = docs.select(col("doc_id"),
      explode(Hashing.spanHashes64(Hashing.wordHashes(col("text")),
        Hashing.wordHashes37(col("text")), Substring.K)).as("h"))
    val density = fps(docs).count().toDouble / sp.count().toDouble
    assert(density > 0.3 && density < 0.5, s"density $density out of range")
  }

  test("short-doc fallback: K..K+W-2 words -> exactly one fingerprint") {
    val docs = Seq(
      (1L, "one two three four five"), // K words -> 1 span
      (2L, "one two three four five six seven"), // K+2 words -> 3 spans < W
      (3L, "just four little words") // < K words -> no spans
    ).toDF("doc_id", "text")
    val counts = fps(docs).groupBy("doc_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts.get(1L).contains(1L))
    assert(counts.get(2L).contains(1L))
    assert(!counts.contains(3L))
  }

  test("planted duplicate run dominates the shared-fingerprint gate") {
    val run = "the quick brown fox jumps over the lazy dog again today yes"
    val docs = Seq(
      (10L, s"opening remarks $run closing remarks"),
      (20L, s"$run totally different tail content follows here now"),
      (30L, s"mid text $run more mid text around it"),
      (40L, "nothing shared with anybody in this one at all really")
    ).toDF("doc_id", "text")
    val shared = fps(docs)
      .groupBy("fp").agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
      .filter(col("n_docs") >= 2).collect()
    assert(shared.nonEmpty)
    // The run appears in 3 docs; at least one fingerprint reaches all 3.
    assert(shared.exists(_.getAs[Long]("n_docs") == 3))
    assert(shared.filter(_.getAs[Long]("n_docs") == 3)
      .forall(_.getAs[Long]("first_doc") == 10L))
  }

  test("fingerprint selection is shuffle-partition invariant") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val a = Winnow.sharedFingerprints(spark, sf).collect().toSet
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "2")
      val b = Winnow.sharedFingerprints(spark, sf).collect().toSet
      assert(a == b)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
