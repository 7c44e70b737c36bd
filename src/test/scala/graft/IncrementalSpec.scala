package graft

import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Hashing, Incremental}

/** Cross-snapshot (incremental) dedup invariants:
  *
  *  1. batch-vs-snapshot candidates ≡ the full self-join's candidates
  *     restricted to (new × old) — the bucket join loses nothing and
  *     invents nothing;
  *  2. persisting the snapshot frames to parquet and deduping against
  *     the read-back copy is identical to the direct dataflow (the
  *     production persist path);
  *  3. cross + within-batch + old-only pairs partition the full
  *     self-join's verified pairs;
  *  4. admitted = new docs minus exactly the rejected set.
  */
class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  private def isNewId(id: Long): Boolean =
    ((id % Hashing.P) * 40503L + 12345L) % Hashing.P % 4 == 0

  private def norm(p: (Long, Long)): (Long, Long) =
    (math.min(p._1, p._2), math.max(p._1, p._2))

  test("batch-vs-snapshot candidates == self-join candidates restricted to new×old") {
    val full = Dedup.lshCandidates(spark, sf)
      .as[(Long, Long)].collect().toSet
    val expected = full.flatMap { case (a, b) =>
      (isNewId(a), isNewId(b)) match {
        case (true, false) => Some((a, b)) // (new, old)
        case (false, true) => Some((b, a))
        case _             => None         // new×new or old×old
      }
    }
    val got = Incremental.candidatesAgainst(
        Incremental.batch(spark, sf), Incremental.snapshot(spark, sf))
      .as[(Long, Long)].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty, "split must leave cross-snapshot candidates on this corpus")
  }

  test("persist -> read-back -> dedup cycle equals the direct dataflow") {
    val dir = tempDir("graft-snapshot").toString
    val snap = Incremental.snapshot(spark, sf)
    snap.buckets.write.mode("overwrite").parquet(s"$dir/buckets")
    snap.shingles.write.mode("overwrite").parquet(s"$dir/shingles")
    val loaded = Incremental.Snapshot(
      spark.read.parquet(s"$dir/buckets"), spark.read.parquet(s"$dir/shingles"))
    val direct = Incremental.incrementalPairs(spark, sf)
      .as[(Long, Long, Double)].collect().toSet
    val replayed = Incremental.pairsAgainst(Incremental.batch(spark, sf), loaded)
      .as[(Long, Long, Double)].collect().toSet
    assert(replayed == direct)
    assert(replayed.nonEmpty)
  }

  test("cross + within-batch + old-only pairs partition the self-join's verified pairs") {
    val full = Dedup.minhashLsh(spark, sf)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val cross = Incremental.incrementalPairs(spark, sf)
      .select($"doc_new", $"doc_old").as[(Long, Long)].collect().toSet.map(norm)
    val within = full.filter { case (a, b) => isNewId(a) && isNewId(b) }
    val oldOnly = full.filter { case (a, b) => !isNewId(a) && !isNewId(b) }
    assert(cross.subsetOf(full))
    assert((cross ++ within ++ oldOnly) == full)
    assert(cross.intersect(within).isEmpty && cross.intersect(oldOnly).isEmpty)
  }

  test("admitted = new docs minus exactly the rejected set") {
    val newDocs = Tables.documents(spark, sf)
      .select($"doc_id").as[Long].collect().filter(isNewId).toSet
    val crossRejected = Incremental.incrementalPairs(spark, sf)
      .select($"doc_new").as[Long].collect().toSet
    // First-wins within the batch: larger id of any verified new×new pair.
    val withinRejected = Dedup.minhashLsh(spark, sf)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
      .filter { case (a, b) => isNewId(a) && isNewId(b) }
      .map { case (a, b) => math.max(a, b) }.toSet
    val admitted = Incremental.admitted(spark, sf).as[Long].collect().toSet
    assert(admitted == (newDocs -- crossRejected -- withinRejected))
    assert(admitted.nonEmpty && admitted != newDocs,
      "corpus must exercise both admission and rejection")
  }

  test("incremental containment: thresholded, and supersets high-Jaccard pairs") {
    val cont = Incremental.incrementalContainment(spark, sf).collect()
    cont.foreach { r =>
      assert(r.getAs[Long]("cont_permille") >= 900L)
      assert(r.getAs[Long]("inter") <= r.getAs[Long]("n_new"))
      assert(r.getAs[Long]("cont_permille") ==
        r.getAs[Long]("inter") * 1000 / r.getAs[Long]("n_new"))
    }
    val contSet = cont.map(r =>
      (r.getAs[Long]("doc_new"), r.getAs[Long]("doc_old"))).toSet
    // Containment >= Jaccard for any pair, so every cross-snapshot pair
    // verified at J >= 0.9 MUST appear here — recall is checked against
    // the sibling gate, not assumed.
    val highJac = Incremental.incrementalPairs(spark, sf).collect()
      .filter(_.getAs[Double]("jac") >= 0.9)
      .map(r => (r.getAs[Long]("doc_new"), r.getAs[Long]("doc_old"))).toSet
    assert(highJac.nonEmpty, "fixture must exercise the cross-snapshot path")
    assert(highJac.subsetOf(contSet),
      s"missing containment pairs: ${highJac -- contSet}")
  }
}
