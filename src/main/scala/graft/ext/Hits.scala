package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** HITS hubs-and-authorities over the DIRECTED bipartite purchase
  * graph customer → part — the eigenvector pair PageRank cannot give:
  * on a bipartite graph the hub score ranks breadth buyers (customers
  * whose baskets span the authoritative catalog) and the authority
  * score ranks parts endorsed by high-hub customers, the
  * Kleinberg mutual-reinforcement recursion h = A·a, a = Aᵀ·h.
  * (Running HITS on the symmetrized co-purchase graph would be
  * vacuous — on a symmetric adjacency both vectors collapse onto the
  * same principal eigenvector; the bipartite orientation is what
  * makes the two scores carry different information.)
  *
  * Exactness: the [[PageRank]] scaled-Long discipline plus a per-round
  * integer renormalization — raw sums are exact Longs, and each round
  * rescales by the round MAX (score' = score·S div max, S = 10⁶), the
  * integer stand-in for the usual L∞ normalization. max is an exact
  * aggregate and `div` truncation matches DuckDB `//` on the
  * all-positive domain, so the K-round trajectory is bit-identical
  * across engines and partitionings. Headroom: score ≤ S after each
  * rescale, so a raw sum ≤ S·deg ≈ 10⁶·deg and the rescale product
  * ≤ S²·deg — Long-safe to deg ≈ 9·10⁶; beyond that the rescale
  * product recasts to decimal(38,0), same plan.
  *
  * Scale shape: per round one src-keyed join + map-side-combinable
  * sum per direction (the Pregel-on-DataFrames shape), plus a 1-row
  * max broadcast-attached — the [[Similarity]] scalar-attachment
  * pattern, NOT a data cross join. Edges (distinct customer→part
  * pairs) collapse the fact scan once and are localCheckpointed for
  * the 4·K join consumers. K stays unrolled in one plan at fixed
  * small K ([[PageRank]]'s measured call). */
object Hits {

  val Iters = 3
  val Scale = 1000000L

  /** K HITS rounds over an arbitrary directed (src, dst) edge frame;
    * returns one frame tagging each side: (node_type hub|authority,
    * node, deg, score). */
  /** Storage level for the EDGE checkpoint — the one corpus-scale frame
    * this operator pins for 4·K join consumers. The default
    * (deserialized MEMORY_AND_DISK) holds one Java object per row:
    * ~100 B/edge ≈ 5.5 GB heap at sf10's 55M edges, which alone
    * overflowed a standard 8 GB JVM (round 14, measured heap OOM after
    * the agg fix). Serialized blocks are ~20 B/edge and still
    * disk-spillable; the node-sized per-round cuts stay deserialized
    * (they are read hot every round and are |nodes|-bounded). */
  private val EdgeStorage =
    org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER

  private[graft] def hitsOf(edgesIn: DataFrame): DataFrame =
    hitsOfPrepared(edgesIn.localCheckpoint(true, EdgeStorage))

  /** Fact-row gate for the past-the-gate round-join strategy below —
    * shares the input-size dial family of `Sketches.maybeBloomPrefilter`
    * (footer-derived, memoized; conf-overridable, default 10⁸).
    * Below the gate the node-score frames broadcast and the per-round
    * joins never sort or exchange the edge frame, so the hint would
    * only force a worse plan; above it the score frames outgrow
    * broadcast and the rounds fall back to edge-sorting sort-merge
    * joins. */
  private def shjRoundGate(spark: SparkSession, sfDir: String): Boolean = {
    val gate = graft.Tables.longSetting(
      spark.conf.getOption("spark.graft.graph.shjRoundRowGate"), 100000000L)
    graft.Tables.lineitemRowsMemo(spark, sfDir) >= gate
  }

  /** Past the gate: the per-round joins hint SHUFFLE_HASH on the
    * node-score side. Below the gate those joins broadcast the score
    * frame (node-sized, tiny) — the hint would FORCE a worse plan, so
    * it must not appear. Above it the score frames (millions of nodes)
    * fall back to sort-merge, and each of the 2·K round joins pays a
    * full SORT of the edge frame (170M rows × 6 at sf30) that a hash
    * build of the node side makes unnecessary (guide §3.1: shuffled
    * hash beats sort-merge when one side is moderately small per
    * partition — the build side here is |nodes|/partitions). Exchanges
    * are unchanged; only the sorts go. Integer HITS is plan-invariant,
    * so values are identical (HitsReadabilitySpec pins gated ≡ plain).
    *
    * An alternative tried first and REJECTED on measurement (r18):
    * pre-partitioned dst-/src-sorted edge checkpoint copies to remove
    * the join-side edge exchanges outright — the two edge-scale
    * exchange+checkpoint builds cost more than the removed work
    * (sf30 isolated: 164–230 s vs 121–163 s classic) and OOM'd the
    * 32 GB JVM at MEMORY_AND_DISK_SER. */
  private def hitsOfPrepared(edges: DataFrame, shjRounds: Boolean = false)
      : DataFrame = {
    // Every agg here exchanges FIRST and aggregates after (round 14).
    // Default hash-agg order (partial map → exchange → final) sizes
    // each task's partial map by the distinct keys in its INPUT split —
    // on this graph that is ~ALL nodes per task (avg degree ≈ 36 spread
    // over 32 splits ⇒ map-side combine removes almost nothing but the
    // map holds node-cardinality entries), so at sf10 (55M edges, 1.5M
    // customers) 32 concurrent round-agg maps exhausted the 8 GB JVM's
    // execution pool at BytesToBytesMap creation (UNABLE_TO_ACQUIRE_
    // MEMORY, measured). Exchanging by the group key first keeps the
    // exchange count and shuffle volume the same (partial agg wasn't
    // reducing rows anyway) while each post-exchange map holds only
    // |nodes|/partitions keys — memory O(nodes/tasks), SF-independent
    // plan shape. Pure re-grouping of an exact Long sum/count: values
    // and oracle hashes unchanged.
    def aggByKey(df: DataFrame, key: String)(aggs: org.apache.spark.sql.Column*)
        : DataFrame =
      df.repartition(col(key)).groupBy(col(key)).agg(aggs.head, aggs.tail: _*)
    // Score side of a round join, with the past-the-gate SHJ hint.
    def scoreSide(df: DataFrame): DataFrame =
      if (shjRounds) df.hint("shuffle_hash") else df
    val hubDeg = aggByKey(edges, "src")(count(lit(1)).as("deg"))
      .localCheckpoint()
    val authDeg = aggByKey(edges, "dst")(count(lit(1)).as("deg"))
      .localCheckpoint()
    // Per-round cut (r11 ask: fuse the round's work into ONE execution).
    // `raw` is referenced twice (max side + main side) and the next
    // round's join references the rescaled frame again — uncut, each
    // round's edges-join + agg re-executed per reference and the
    // unrolled plan grew with the round chain (the dominant cost of the
    // slowest bench key: 12 keyed-join executions over 3 rounds).
    // localCheckpoint materializes the NODE-sized aggregate (≤ |nodes|
    // rows, far below edges), so every keyed join over edges runs
    // exactly once and the max + next round read the cut copy. A true
    // single-join fusion of h and a is impossible without changing
    // semantics: a_k = Aᵀ·rescale(A·a_{k-1}) and integer-div rescale is
    // non-linear, so the two directions are sequentially dependent
    // within a round. Values unchanged → oracle hash unchanged.
    def rescale(raw: DataFrame, c: String): DataFrame = {
      val cut = raw.localCheckpoint()
      cut.crossJoin(broadcast(cut.agg(max(col(c)).as("mx"))))
        .select(cut.columns.filter(_ != c).map(col) :+
          expr(s"($c * $Scale) div mx").as(c): _*)
    }
    var auth = authDeg.select(col("dst").as("node"), lit(Scale).as("a"))
    var hub: DataFrame = null
    for (_ <- 1 to Iters) {
      val aSide = scoreSide(auth)
      val hraw = aggByKey(
        edges.join(aSide, edges("dst") === aSide("node")), "src")(
        sum(col("a")).as("h"))
      hub = rescale(hraw, "h")
      val hSide = scoreSide(hub)
      val araw = aggByKey(
        edges.join(hSide, edges("src") === hSide("src")), "dst")(
        sum(col("h")).as("a"))
      auth = rescale(araw, "a").select(col("dst").as("node"), col("a"))
    }
    hub.join(hubDeg, "src")
      .select(lit("hub").as("node_type"), col("src").as("node"),
        col("deg"), col("h").as("score"))
      .unionAll(auth.join(authDeg, auth("node") === authDeg("dst"))
        .select(lit("authority").as("node_type"), col("node"),
          col("deg"), col("a").as("score")))
  }

  /** Distinct customer→part purchase edges via orders ⋈ lineitem (both
    * sides collapsed before the join). Session-memoized
    * ([[Frames.sessionMemo]], the [[Basket.copurchase]] discipline):
    * the round-9 audit found this fact-scan rebuild was the dominant
    * cost of the slowest bench key; the distinct edge frame is
    * dimension-×-catalog-bounded, far below the fact scan it derives
    * from, so one cut copy per (session, sf) is the right trade. */
  def purchaseEdges(spark: SparkSession, sfDir: String): DataFrame =
    Frames.sessionMemo("purchase_edges", spark, sfDir) {
      purchaseEdgesBuild(spark, sfDir).localCheckpoint(true, EdgeStorage)
    }

  /** The un-memoized build — the frame PlanSpec pins. */
  private[graft] def purchaseEdgesBuild(spark: SparkSession,
      sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), col("l_partkey").as("dst"))
      .distinct()

  /** The gate: HITS over the memoized purchase edge frame — the
    * co-partitioned round strategy past the fact-row gate, the classic
    * shape (byte-identical plans) below it. */
  def partsHits(spark: SparkSession, sfDir: String): DataFrame =
    hitsOfPrepared(purchaseEdges(spark, sfDir),
      shjRounds = shjRoundGate(spark, sfDir))

  val partsHitsSql: String = {
    val base =
      """edges AS (SELECT DISTINCT o.o_custkey AS src, l.l_partkey AS dst
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |hdeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
        |  FROM edges GROUP BY 1),
        |adeg AS (SELECT dst, CAST(COUNT(*) AS BIGINT) AS deg
        |  FROM edges GROUP BY 1),
        |a0 AS (SELECT dst AS node, CAST(1000000 AS BIGINT) AS a FROM adeg)"""
        .stripMargin
    val steps = (1 to Iters).map { k =>
      s"""hr$k AS (SELECT e.src, CAST(SUM(p.a) AS BIGINT) AS h
         |  FROM edges e JOIN a${k - 1} p ON p.node = e.dst GROUP BY 1),
         |h$k AS (SELECT src, CAST((h * $Scale)
         |    // (SELECT MAX(h) FROM hr$k) AS BIGINT) AS h FROM hr$k),
         |ar$k AS (SELECT e.dst, CAST(SUM(p.h) AS BIGINT) AS a
         |  FROM edges e JOIN h$k p ON p.src = e.src GROUP BY 1),
         |a$k AS (SELECT dst AS node, CAST((a * $Scale)
         |    // (SELECT MAX(a) FROM ar$k) AS BIGINT) AS a FROM ar$k)"""
        .stripMargin
    }
    // MATERIALIZED: each round references the previous twice; DuckDB's
    // default inlining re-expands the chain exponentially (see
    // Hashing.materializeCtes — the sf1 audit's >75 GB oracle spill).
    Hashing.materializeCtes(
      s"""WITH $base,
         |${steps.mkString(",\n")}
         |SELECT 'hub' AS node_type, h.src AS node, d.deg, h.h AS score
         |FROM h$Iters h JOIN hdeg d ON d.src = h.src
         |UNION ALL
         |SELECT 'authority', a.node, d.deg, a.a
         |FROM a$Iters a JOIN adeg d ON d.dst = a.node""".stripMargin)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "parts_hits_bipartite" -> (partsHits _))

  val oracles: Map[String, String] = Map(
    "parts_hits_bipartite" -> partsHitsSql)
}
