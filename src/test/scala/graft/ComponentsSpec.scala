package graft

import graft.ext.Components

/** Min-label propagation CC: chains (multi-round convergence), disjoint
  * cliques, and a randomized comparison against a driver-side union-find. */
class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Components.connectedComponents(edges.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap

  test("chain converges to the min endpoint over multiple rounds") {
    // 5 -> 4 -> 3 -> 2 -> 1: diameter forces several propagation rounds.
    val got = cc(Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("disjoint cliques keep distinct component ids") {
    val got = cc(Seq((10L, 11L), (11L, 12L), (20L, 21L), (30L, 31L)))
    assert(got == Map(10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 30L -> 30L, 31L -> 30L))
  }

  test("100-node chain: pointer jumping converges without plan blowup") {
    val edges = (1L until 100L).map(i => (i + 1, i))
    val got = cc(edges)
    assert(got.size == 100 && got.values.forall(_ == 1L))
  }

  test("cluster consumers share one label build per session (r9 seam)") {
    val before = Components.labelBuilds
    val comp = Components.dedupComponents(spark, sf).count()
    val afterFirst = Components.labelBuilds
    // Second consumer in the same session: the keepers query must ride
    // the memoized checkpointed label frame, not rebuild the
    // LSH→verify→CC chain.
    val keepers = Components.clusterKeepers(spark, sf).count()
    assert(Components.labelBuilds == afterFirst,
      "clusterKeepers rebuilt the label frame instead of reusing the memo")
    assert(comp > 0 && keepers > 0)
    // Simulated block loss invalidates the memo; the next call must
    // REBUILD (not serve a lineage-truncated corpse) and still be correct.
    graft.ext.Frames.freeCheckpoint(Components.dedupComponents(spark, sf))
    val n2 = Components.dedupComponents(spark, sf).count()
    assert(n2 == comp)
    assert(Components.labelBuilds > afterFirst,
      "invalidated memo was served instead of rebuilt")
    assert(Components.labelBuilds >= before + 1)
  }

  test("random graphs match a union-find oracle") {
    val rnd = new scala.util.Random(21)
    for (_ <- 1 to 3) {
      val n = 30
      val edges = Seq.fill(25)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val parent = collection.mutable.Map((0L until n.toLong).map(i => i -> i): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(v => v -> find(v)).toMap
      assert(cc(edges) == want)
    }
  }

  test("split leakage equals a driver-side recompute from the label frame") {
    import org.apache.spark.sql.functions._
    // Independent recompute: take the gated cluster labels and the
    // split membership function, fold the pair counts in plain Scala.
    val comp = Components.dedupComponents(spark, sf)
      .as[(Long, Long)].collect().toMap // doc_id -> component
    assert(comp.nonEmpty, "fixture has no near-dup clusters — vacuous")
    val splitOf = Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.polyHash(
          concat_ws(":", lit("split"), col("doc_id").cast("string")))
          .%(100).as("b"))
      .as[(Long, Long)].collect()
      .map { case (d, b) =>
        d -> (if (b < 80) "train" else if (b < 90) "val" else "test") }
      .toMap
    val per = comp.toSeq
      .map { case (d, c) => (c, splitOf(d)) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val want = (for {
      ((c1, s1), n1) <- per.toSeq
      ((c2, s2), n2) <- per.toSeq
      if c1 == c2 && s1 < s2
    } yield ((s1, s2), (c1, n1 * n2)))
      .groupBy(_._1).view
      .mapValues(vs => (vs.map(_._2._1).toSet.size.toLong,
        vs.map(_._2._2).sum)).toMap
    val got = Components.splitLeakage(spark, sf)
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(got == want, s"gate $got vs recompute $want")
  }

  test("cluster-granular split has zero leaked pairs and full coverage") {
    import org.apache.spark.sql.functions._
    val rep = Components.splitByCluster(spark, sf).localCheckpoint()
    // The fix works: no near-dup pair straddles splits.
    assert(rep.filter(col("n_leaked_pairs") =!= 0).count() == 0)
    // ...while the doc-hash split demonstrably leaks on this corpus
    // (otherwise this gate proves nothing).
    assert(Components.splitLeakage(spark, sf).count() > 0)
    // Every document is assigned exactly once.
    val nDocs = rep.agg(sum("n_docs")).as[Long].head()
    assert(nDocs == Tables.documents(spark, sf).count())
    // Roughly 80/10/10 by CLUSTER count (hash target): train holds the
    // majority of clusters.
    val m = rep.select("split", "n_clusters").as[(String, Long)]
      .collect().toMap
    assert(m("train") > m.getOrElse("val", 0L) &&
      m("train") > m.getOrElse("test", 0L))
  }
}
