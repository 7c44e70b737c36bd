package graft

import org.apache.spark.sql.functions._

import graft.ext.Substring
import graft.functions.{GraftFunctions => GF}

/** Exact longest-duplicate reporting (`dedup_substring_longest`):
  * constructed variable-length shared runs must land on their exact
  * maximal lengths — the property the fixed 5/16/64 grid could not
  * state. */
class LongestDupSpec extends SparkSpec {
  import spark.implicits._

  private def run(docs: Seq[(Long, String)]): Map[Long, (Long, Long)] =
    Substring.longestDupOf(docs.toDF("doc_id", "aug"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap

  private def words(tag: String, n: Int): String =
    (1 to n).map(i => s"$tag${('a' + i / 26).toChar}${('a' + i % 26).toChar}")
      .mkString(" ")

  test("exact maximal lengths: full run, prefix-only partner, clean doc") {
    val shared20 = words("sh", 20)
    val prefix12 = shared20.split(" ").take(12).mkString(" ")
    val out = run(Seq(
      1L -> s"alpha beta $shared20 tail one",
      2L -> s"gamma delta epsilon $shared20",
      3L -> s"unrelated opening $prefix12 divergent ending here",
      4L -> words("zz", 30))) // no cross-doc repeat ≥ 8 words
    // Docs 1/2 share exactly 20 words (contexts differ on both sides);
    // doc 3 shares only the 12-word prefix.
    assert(out(1L)._2 == 20L, out)
    assert(out(2L)._2 == 20L, out)
    assert(out(3L)._2 == 12L, out)
    assert(!out.contains(4L), out)
  }

  test("run at document boundary and whole-doc duplicate") {
    val t = words("bd", 15)
    val out = run(Seq(
      10L -> s"lead in text $t", // run ends at doc end
      11L -> s"$t trailing words here after", // run starts at doc start
      12L -> t, // doc IS the run
      13L -> words("qq", 40)))
    assert(out(10L)._2 == 15L, out)
    assert(out(11L)._2 == 15L, out)
    assert(out(12L)._2 == 15L, out)
  }

  test("longest wins when a doc carries two shared runs") {
    val short = words("sa", 9)
    val long = words("lb", 33)
    val out = run(Seq(
      20L -> s"$short middle filler goes here $long",
      21L -> s"other context $short and different tail",
      22L -> s"prefix words $long suffix"))
    assert(out(20L)._2 == 33L, out)
    assert(out(21L)._2 == 9L, out)
    assert(out(22L)._2 == 33L, out)
  }

  test("runs shorter than AnchorK are not reported") {
    val seven = words("sv", 7)
    val out = run(Seq(
      30L -> s"one two $seven",
      31L -> s"three four $seven"))
    assert(out.isEmpty, out)
  }

  test("anchor positions count the duplicated region") {
    val t = words("an", 12) // 12-word shared run → 12-8+1 = 5 anchors each
    val out = run(Seq(
      40L -> s"aq bq cq $t dq eq",
      41L -> s"fq gq $t hq"))
    assert(out(40L) == ((5L, 12L)), out)
    assert(out(41L) == ((5L, 12L)), out)
  }

  test("gate templates: planted class lengths are landed exactly") {
    // Two docs per class for three classes; longest must equal the
    // class template length (texts otherwise disjoint).
    // Letter-only lead-in tags: a digit inside a tag would be split by
    // the [a-z]+ tokenizer into identical cross-class token patterns,
    // legitimately extending the shared run past the template.
    val docs = (0 until 3).flatMap { c =>
      val t = Substring.template(c)
      Seq((c * 2L) -> s"${words(s"u${('a' + c).toChar}", 5)} $t",
        (c * 2L + 1L) -> s"${words(s"v${('a' + c).toChar}", 4)} $t")
    }
    // NOTE: class templates share prefixes, so a class-c doc also
    // matches longer-class docs — at ITS OWN length; exactness still
    // means longest == tmplLen(c).
    val out = run(docs)
    for (c <- 0 until 3; d <- Seq(c * 2L, c * 2L + 1L))
      assert(out(d)._2 == Substring.tmplLen(c).toLong, s"class $c: $out")
  }
}
