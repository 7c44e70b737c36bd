package graft

import org.apache.spark.sql.functions._

import graft.ext.{Basket, Bfs}

/** BFS structural invariants: exactly the seeds at hop 0, every edge's
  * endpoints within one hop of each other (the BFS-tree property), the
  * frontier cap honored, and partition invariance. */
class BfsSpec extends SparkSpec {

  private lazy val hops = Bfs.partsBfsHops(spark, sf).collect()
    .map(r => r.getAs[Long]("part") -> r.getAs[Long]("hop")).toMap

  private lazy val edges = Basket.copurchase(spark, sf)
    .select(col("part_a"), col("part_b")).collect()
    .map(r => (r.getAs[Long]("part_a"), r.getAs[Long]("part_b")))

  test("exactly NumSeeds nodes at hop 0; hops bounded by MaxHops") {
    assert(hops.values.count(_ == 0L) == Bfs.NumSeeds)
    assert(hops.values.forall(h => h >= 0L && h <= Bfs.MaxHops))
    // Termination is only legitimate for one of two reasons: the hop cap
    // fired, or expansion exhausted (every neighbor of a reached node is
    // itself reached). At sf0.001 the component exhausts before the cap;
    // at the sf0.01 gate scale the cap fires (723 reached, 484 at hop 4).
    val capHit = hops.values.exists(_ == Bfs.MaxHops.toLong)
    val exhausted = edges.forall { case (a, b) =>
      hops.contains(a) == hops.contains(b)
    }
    assert(capHit || exhausted, "BFS stopped early without reason")
  }

  test("every edge's endpoints are within one hop (BFS tree property)") {
    // If u is reached at hop h and (u,v) is an edge, v must be reached
    // at hop <= h+1 — unless h+1 exceeds the cap, the one legal reason
    // for a reached node to have an unreached neighbor.
    for ((a, b) <- edges; (u, v) <- Seq((a, b), (b, a))) {
      (hops.get(u), hops.get(v)) match {
        case (Some(hu), Some(hv)) =>
          assert(hv <= hu + 1,
            s"edge ($u@$hu, $v@$hv) violates BFS reachability")
        case (Some(hu), None) =>
          assert(hu + 1 > Bfs.MaxHops,
            s"$v unreached though neighbor $u is at hop $hu < cap")
        case _ => ()
      }
    }
  }

  test("bfs hops are shuffle-partition invariant") {
    val a = Bfs.partsBfsHops(spark, sf).collect().map(_.toString).sorted
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "2")
      val b = Bfs.partsBfsHops(spark, sf).collect().map(_.toString).sorted
      assert(a.sameElements(b))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("roundShuffleParts: floor 8, never above the session width") {
    import graft.ext.Frames.roundShuffleParts
    assert(roundShuffleParts(1000L, 4) == 4)
    assert(roundShuffleParts(1000L, 200) == 8)
    assert(roundShuffleParts(50000000L, 32) == 32)
    assert(roundShuffleParts(20000000L, 200) == 20)
  }
}
