package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-source breadth-first search over the part co-purchase graph —
  * the bounded-reachability workload (blast radius of a recalled part,
  * "related items within N links", contamination spread through a link
  * graph) completing the graph family: iterative ([[PageRank]]),
  * transitive ([[Components]]), local ([[PageRank.partsTriangles]]),
  * and now shortest-hop.
  *
  * Frontier expansion, the Spark way: hop k's frontier is one keyed
  * join of the edge list against hop k−1's frontier plus one LEFT ANTI
  * join against the visited set — first discovery wins, which IS the
  * minimum hop count, so no per-node min aggregation is ever needed.
  * Each round's frames are localCheckpointed: `visited` feeds both the
  * next anti-join and the final output, and without the cut the plan
  * doubles per round (the [[Components]] discipline — this is the
  * shape whose iteration count grows, unlike [[PageRank]]'s fixed-K
  * unroll).
  *
  * Seeds follow the fixed-sample rule ([[Hashing.idHash]] order, LIMIT
  * [[NumSeeds]]): a constant-size seed set at any corpus scale. Hops
  * are capped at [[MaxHops]] — bounded-round BFS is the production
  * form (unbounded BFS on a 100 TB graph is a diameter-length job; a
  * blast-radius query never wants it), and the cap also keeps the
  * DuckDB oracle's recursive CTE finite.
  */
object Bfs {

  val MaxHops = 4
  val NumSeeds = 4

  /** BFS over an arbitrary undirected pair frame (part_a, part_b).
    * Round partitioning is size-adaptive ([[Frames.roundShuffleParts]],
    * where the sf30 probe evidence lives): each round's partition count
    * derives from the MEASURED visited size — the frames are eagerly
    * checkpointed, so the size is a cheap count, and a 100 TB frontier
    * still spreads to the session's full width. */
  private[graft] def bfsHopsOf(pairs: DataFrame): DataFrame = {
    val cap = pairs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val edges = pairs
      .select(col("part_a").as("src"), col("part_b").as("dst"))
      .unionAll(pairs.select(col("part_b").as("src"),
        col("part_a").as("dst")))
      .localCheckpoint()
    val seeds = edges.select(col("src").as("node")).distinct()
      .orderBy(Hashing.idHash(col("node")), col("node"))
      .limit(NumSeeds)
    var visited = seeds.select(col("node"), lit(0L).as("hop"))
      .localCheckpoint()
    var visitedRows = NumSeeds.toLong
    var frontier = visited.select(col("node"))
    var prevNext: Option[DataFrame] = None
    for (k <- 1 to MaxHops) {
      val next = expand(edges, frontier, visited, k,
        Frames.roundShuffleParts(visitedRows, cap)).localCheckpoint()
      // `next` is materialized (eager checkpoint): the previous round's
      // frontier frame has no further consumer — free its blocks now
      // instead of pinning every round's frontier for the session.
      prevNext.foreach(Frames.freeCheckpoint)
      val grown = visited.unionAll(next).localCheckpoint()
      Frames.freeCheckpoint(visited) // superseded by `grown`
      visited = grown
      visitedRows += next.count() // block-metadata read on a checkpoint
      frontier = next.select(col("node"))
      prevNext = Some(next)
    }
    prevNext.foreach(Frames.freeCheckpoint) // rows live on in `visited`
    visited.select(col("node").as("part"), col("hop"))
  }

  /** One round: the nodes first reached at hop `k` — the frontier's
    * neighbours over `edges`, deduplicated and minus `visited`. The
    * frontier is the round side ([[Frames.roundSide]]), so the edge join
    * is broadcast or `parts` wide; the distinct combines map-side, and
    * it and the anti-join are node-sized. */
  private[graft] def expand(edges: DataFrame, frontier: DataFrame,
      visited: DataFrame, k: Int, parts: Int): DataFrame =
    edges.join(Frames.roundSide(frontier, "node", "via", parts),
        col("src") === col("via"))
      .select(col("dst").as("node")).distinct()
      .join(visited.select(col("node")), Seq("node"), "left_anti")
      .select(col("node"), lit(k.toLong).as("hop"))

  /** Gate: hops to the nearest of 4 seed parts over the co-purchase
    * graph, capped at [[MaxHops]]. */
  def partsBfsHops(spark: SparkSession, sfDir: String): DataFrame =
    bfsHopsOf(Basket.copurchase(spark, sfDir)
      .select(col("part_a"), col("part_b")))

  /** The same search as a bounded recursive CTE; `UNION` (not ALL)
    * dedupes (node, hop) states per step, and MIN collapses the odd/even
    * revisits a cycle produces. */
  val partsBfsHopsSql: String =
    s"""WITH RECURSIVE
       |pairs AS (${Basket.copurchaseSql}),
       |edges AS (SELECT part_a AS src, part_b AS dst FROM pairs
       |          UNION ALL
       |          SELECT part_b, part_a FROM pairs),
       |bnodes AS (SELECT DISTINCT src AS node FROM edges),
       |seeds AS (SELECT node FROM bnodes
       |  ORDER BY ${Hashing.idHashSql("node")}, node LIMIT $NumSeeds),
       |walk(node, hop) AS (
       |  SELECT node, 0 FROM seeds
       |  UNION
       |  SELECT e.dst, w.hop + 1 FROM walk w
       |  JOIN edges e ON e.src = w.node WHERE w.hop < $MaxHops)
       |SELECT CAST(node AS BIGINT) AS part, CAST(MIN(hop) AS BIGINT) AS hop
       |FROM walk GROUP BY node""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "parts_bfs_hops" -> (partsBfsHops _))

  val oracles: Map[String, String] = Map(
    "parts_bfs_hops" -> partsBfsHopsSql)
}
