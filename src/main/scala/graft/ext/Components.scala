package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components over a pair graph — the clustering stage that
  * turns near-dup PAIRS into dedup GROUPS (pick one survivor per
  * component). Algorithm: min-label propagation — every node starts
  * labeled with itself; each round takes the min of its own and its
  * neighbors' labels; converged when nothing changes. O(diameter)
  * rounds, each one shuffled join + aggregation; labels persist across
  * rounds so lineage stays flat. Near-dup graphs are shallow (dup
  * clusters are cliques-ish), so rounds ≈ 2-3; at extreme scale the
  * alternating small-star/large-star variant trades rounds for edges,
  * same join shapes.
  *
  * Determinism: component id = min doc_id reachable — no tie to break.
  */
object Components {

  /** (node, component) for every node appearing in `edges` (cols a, b). */
  def connectedComponents(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("a"), col("b"))
      .union(edges.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .persist()
    // `sym` is a cached plan, which no cleaner frees: unpersist it on
    // every exit, a failed round included.
    try {
      // localCheckpoint each round: the next round's plan references THIS
      // round's labels twice, so without lineage truncation the logical
      // plan doubles per iteration (2^rounds nodes — OOMs the driver on
      // long chains long before the data does). Each round's checkpoint is
      // FREED as soon as the next round's is materialized (eager) — only
      // the final labels frame's blocks outlive the call.
      var labels = sym.select(col("a").as("node")).distinct()
        .withColumn("label", col("node"))
        .localCheckpoint()
      var changed = 1L
      var iters = 0
      while (changed > 0) {
        iters += 1
        if (iters > 64) throw new IllegalStateException(
          "connectedComponents failed to converge in 64 rounds")
        val neighborMin = sym
          .join(labels.withColumnRenamed("node", "b"), Seq("b"))
          .groupBy(col("a").as("node"))
          .agg(min(col("label")).as("nlabel"))
        // Distinct column names end-to-end: self-join attribute
        // deduplication must never be able to conflate old and new labels.
        val viaNeighbors = labels.withColumnRenamed("label", "oldLabel")
          .join(neighborMin, Seq("node"), "left")
          .select(col("node"),
            least(col("oldLabel"), coalesce(col("nlabel"), col("oldLabel")))
              .as("label"),
            col("oldLabel"))
        // Pointer jumping: also adopt the label OF the current label —
        // doubles the propagation distance per round, so convergence is
        // O(log n) rounds even on long chains (64-round cap is then far
        // beyond any real graph).
        val jumpSrc = labels.select(col("node").as("jnode"),
          col("label").as("jlabel"))
        val updated = viaNeighbors
          .join(jumpSrc, col("label") === col("jnode"), "left")
          .select(col("node"),
            least(col("label"), coalesce(col("jlabel"), col("label")))
              .as("label"),
            col("oldLabel"))
          .localCheckpoint()
        // `updated` is materialized (localCheckpoint is eager), so the
        // previous round's blocks have no remaining consumer — free them
        // before they pile up across rounds and sessions.
        Frames.freeCheckpoint(labels)
        changed = updated.filter(col("label") =!= col("oldLabel")).count()
        labels = updated.select("node", "label")
      }
      labels.select(col("node").as("doc_id"), col("label").as("component"))
    } finally sym.unpersist()
  }

  /** Number of actual CC-chain builds — observability seam for the
    * reuse-pinning spec (a second same-session call must not build). */
  private[graft] def labelBuilds: Int = Frames.buildsOf("cc_labels")

  /** Session-scoped shared label frame ([[Frames.sessionMemo]]):
    * `dedup_components`, `dedup_cluster_keepers`, and any future cluster
    * consumer each need the SAME LSH→verify→CC chain, and before round 9
    * each gated call rebuilt it from scratch. The memoized frame is the
    * final checkpointed labels — bounded by the near-dup node count, not
    * the corpus. */
  private def sharedLabels(spark: SparkSession, sfDir: String): DataFrame =
    Frames.sessionMemo("cc_labels", spark, sfDir) {
      connectedComponents(
        Dedup.minhashLsh(spark, sfDir)
          .select(col("doc_a").as("a"), col("doc_b").as("b")))
    }

  /** Dedup clusters: components of the MinHash-LSH verified pair graph.
    * Every doc in a near-dup pair gets its cluster's min doc_id. */
  def dedupComponents(spark: SparkSession, sfDir: String): DataFrame =
    sharedLabels(spark, sfDir)

  /** Oracle CTE chain: transitive closure by recursive CTE, component =
    * min reachable node (self included via LEAST). Shared prefix so
    * downstream oracles (cluster keepers) can extend the WITH chain. */
  private[ext] val componentsCtePrefix: String =
    s"""WITH RECURSIVE lshpairs AS (
       |  SELECT doc_a, doc_b FROM (${Dedup.minhashLshSql}) ),
       |sym AS (
       |  SELECT doc_a AS a, doc_b AS b FROM lshpairs
       |  UNION SELECT doc_b, doc_a FROM lshpairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM sym
       |  UNION
       |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
       |nodes AS (SELECT DISTINCT a AS node FROM sym),
       |comp AS (
       |  SELECT n.node AS doc_id, LEAST(n.node, MIN(r.b)) AS component
       |  FROM nodes n LEFT JOIN reach r ON r.a = n.node
       |  GROUP BY n.node)""".stripMargin

  val dedupComponentsSql: String =
    s"""$componentsCtePrefix
       |SELECT doc_id, component FROM comp""".stripMargin

  /** Cluster-aware survivor selection — the step after clustering in a
    * real curation pipeline: per near-dup cluster, keep the HIGHEST
    * quality member (min doc_id on exact ties), not blindly the min id.
    * One join of the cluster labels against the per-doc quality scores
    * + one aggregation; the argmax is a max over (quality, -doc_id)
    * structs, so it is a plain map-side-combinable agg — no window, no
    * second shuffle beyond the component key. */
  def clusterKeepers(spark: SparkSession, sfDir: String): DataFrame = {
    val comp = dedupComponents(spark, sfDir)
    val quality = TextAnalysis.textQuality(spark, sfDir)
      .select(col("doc_id"), col("quality_score"))
    comp.join(quality, Seq("doc_id"))
      .groupBy(col("component"))
      .agg(
        count(lit(1)).as("n_members"),
        max(struct(col("quality_score"), (-col("doc_id")).as("neg_id")))
          .as("best"))
      .select(col("component"), col("n_members"),
        (-col("best.neg_id")).as("keeper"),
        col("best.quality_score").as("keeper_quality"))
  }

  val clusterKeepersSql: String =
    s"""$componentsCtePrefix,
       |q AS (${TextAnalysis.textQualitySql})
       |SELECT component, COUNT(*) AS n_members,
       |  (array_agg(c.doc_id ORDER BY q.quality_score DESC, c.doc_id))[1] AS keeper,
       |  (array_agg(q.quality_score ORDER BY q.quality_score DESC, c.doc_id))[1] AS keeper_quality
       |FROM comp c JOIN q ON c.doc_id = q.doc_id
       |GROUP BY component""".stripMargin

  /** End-to-end dedup yield by source — the number a curation run is
    * judged on: how many docs/chars survive near-dup removal, per
    * ingest source. A doc survives iff it is unclustered (no near-dup)
    * or it is its cluster's quality keeper. Rides the session-memoized
    * label frame and the keeper argmax — both bounded by the near-dup
    * node count — then ONE left-join pass over the corpus and a
    * |sources|-row rollup; the removal rate is a cross-engine-exact
    * integer permille. */
  def dedupYieldBySource(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("n_chars").cast("long").as("nc"))
    val comp = dedupComponents(spark, sfDir)
    val keepers = clusterKeepers(spark, sfDir).select(col("keeper"))
    docs
      .join(comp, Seq("doc_id"), "left_outer")
      .join(keepers, col("doc_id") === col("keeper"), "left_outer")
      .withColumn("keep", col("component").isNull || col("keeper").isNotNull)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("nc")).as("chars_total"),
        sum(when(col("keep"), col("nc")).otherwise(0L)).as("chars_kept"))
      .withColumn("removed_permille",
        expr("(n_docs - n_kept) * 1000 div n_docs").cast("long"))
  }

  val dedupYieldBySourceSql: String =
    s"""$componentsCtePrefix,
       |q AS (${TextAnalysis.textQualitySql}),
       |k AS (SELECT (array_agg(c.doc_id
       |      ORDER BY q.quality_score DESC, c.doc_id))[1] AS keeper
       |  FROM comp c JOIN q ON c.doc_id = q.doc_id
       |  GROUP BY component),
       |flagged AS (
       |  SELECT d.source, CAST(d.n_chars AS BIGINT) AS nc,
       |    (c.doc_id IS NULL OR kk.keeper IS NOT NULL) AS keep
       |  FROM documents d
       |  LEFT JOIN comp c ON d.doc_id = c.doc_id
       |  LEFT JOIN k kk ON d.doc_id = kk.keeper)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(nc) AS BIGINT) AS chars_total,
       |  CAST(SUM(CASE WHEN keep THEN nc ELSE 0 END) AS BIGINT)
       |    AS chars_kept,
       |  CAST((COUNT(*) - SUM(CASE WHEN keep THEN 1 ELSE 0 END)) * 1000
       |    // COUNT(*) AS BIGINT) AS removed_permille
       |FROM flagged GROUP BY 1""".stripMargin

  /** Train/val/test near-dup LEAKAGE audit — the classic eval bug a
    * hash-random split guarantees at some rate: a near-duplicate of a
    * training document landing in val/test inflates eval scores. Per
    * ordered split pair (split_a < split_b lexicographically): clusters
    * with members on both sides and the number of cross-split near-dup
    * pairs (Σ over clusters of n_a·n_b — each is a leaked evaluation
    * item). A clean pipeline drives these to zero by splitting at
    * CLUSTER granularity; this report is the gate that proves whether
    * yours does.
    *
    * Scale shape: rides the session-memoized label frame (bounded by
    * near-dup nodes); the split tag is a pure hash map-op; the
    * per-(cluster, split) rollup is ≤ 3 rows per cluster and the pair
    * join runs on that collapsed frame — never on docs. */
  def splitLeakage(spark: SparkSession, sfDir: String): DataFrame = {
    val split = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.polyHash(
          concat_ws(":", lit("split"), col("doc_id").cast("string")))
          .%(100).as("bucket"))
      .select(col("doc_id"),
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test").as("split"))
    val per = dedupComponents(spark, sfDir)
      .join(split, "doc_id")
      .groupBy(col("component"), col("split"))
      .agg(count(lit(1)).as("n"))
    per.as("x").join(per.as("y"),
        col("x.component") === col("y.component")
          && col("x.split") < col("y.split"))
      .groupBy(col("x.split").as("split_a"), col("y.split").as("split_b"))
      .agg(countDistinct(col("x.component")).as("n_leaking_clusters"),
        sum(col("x.n") * col("y.n")).as("n_cross_pairs"))
  }

  val splitLeakageSql: String =
    s"""$componentsCtePrefix,
       |sp AS (SELECT doc_id,
       |    CASE WHEN (${graft.ext.Hashing.stringHashSql(
                 "'split:' || CAST(doc_id AS VARCHAR)")}) % 100 < 80
       |         THEN 'train'
       |         WHEN (${graft.ext.Hashing.stringHashSql(
                 "'split:' || CAST(doc_id AS VARCHAR)")}) % 100 < 90
       |         THEN 'val' ELSE 'test' END AS split
       |  FROM documents),
       |per AS (SELECT component, split, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM comp JOIN sp USING (doc_id) GROUP BY 1, 2)
       |SELECT x.split AS split_a, y.split AS split_b,
       |  CAST(COUNT(DISTINCT x.component) AS BIGINT) AS n_leaking_clusters,
       |  CAST(SUM(x.n * y.n) AS BIGINT) AS n_cross_pairs
       |FROM per x JOIN per y
       |  ON x.component = y.component AND x.split < y.split
       |GROUP BY 1, 2""".stripMargin

  /** The FIX for [[splitLeakage]]: split at CLUSTER granularity — every
    * doc inherits its cluster's split (hash of the cluster id; isolated
    * docs hash their own id, which IS their singleton cluster), so a
    * near-dup pair can never straddle train/eval. Report per split:
    * docs, clusters, char mass, and `n_leaked_pairs` — recomputed by
    * the SAME cross-pair fold as the audit — which this assignment
    * makes structurally zero (the gate proves it, not the prose:
    * DuckDB replays the whole construction and the column is 0 on both
    * engines while the doc-hash audit shows non-zero on this corpus).
    *
    * Scale shape: labels memo + one map-side hash; the per-split
    * rollup is 3 rows. The leak recount runs on the collapsed
    * (cluster, split) frame, which the construction makes single-split
    * per cluster — the join is empty by design, not skipped. */
  def splitByCluster(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars").cast("long").as("nc"))
    val withCluster = docs
      .join(dedupComponents(spark, sfDir), Seq("doc_id"), "left_outer")
      .withColumn("cluster", coalesce(col("component"), col("doc_id")))
    val tagged = withCluster
      .withColumn("bucket",
        graft.functions.GraftFunctions.polyHash(
          concat_ws(":", lit("split"), col("cluster").cast("string"))) % 100)
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .localCheckpoint() // rollup + leak recount
    val per = tagged.groupBy(col("cluster"), col("split"))
      .agg(count(lit(1)).as("n"))
    val leaks = per.as("x").join(per.as("y"),
        col("x.cluster") === col("y.cluster")
          && col("x.split") < col("y.split"))
      .select(col("x.split").as("split"),
        (col("x.n") * col("y.n")).as("pairs"))
      .groupBy(col("split")).agg(sum(col("pairs")).as("leaked"))
    tagged.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster")).as("n_clusters"),
        sum(col("nc")).as("chars"))
      .join(leaks, Seq("split"), "left_outer")
      .select(col("split"), col("n_docs"), col("n_clusters"), col("chars"),
        coalesce(col("leaked"), lit(0L)).as("n_leaked_pairs"))
  }

  val splitByClusterSql: String = {
    val h = graft.ext.Hashing.stringHashSql(
      "'split:' || CAST(cluster AS VARCHAR)")
    s"""$componentsCtePrefix,
       |wc AS (SELECT d.doc_id, CAST(d.n_chars AS BIGINT) AS nc,
       |    COALESCE(c.component, d.doc_id) AS cluster
       |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
       |tg AS (SELECT doc_id, nc, cluster,
       |    CASE WHEN ($h) % 100 < 80 THEN 'train'
       |         WHEN ($h) % 100 < 90 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM wc),
       |per AS (SELECT cluster, split, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM tg GROUP BY 1, 2),
       |lk AS (SELECT x.split, CAST(SUM(x.n * y.n) AS BIGINT) AS leaked
       |  FROM per x JOIN per y
       |    ON x.cluster = y.cluster AND x.split < y.split
       |  GROUP BY 1)
       |SELECT tg.split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters,
       |  CAST(SUM(nc) AS BIGINT) AS chars,
       |  CAST(COALESCE(ANY_VALUE(lk.leaked), 0) AS BIGINT)
       |    AS n_leaked_pairs
       |FROM tg LEFT JOIN lk ON tg.split = lk.split
       |GROUP BY 1""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_components" -> (dedupComponents _),
    "dedup_cluster_keepers" -> (clusterKeepers _),
    "dedup_yield_by_source" -> (dedupYieldBySource _),
    "corpus_split_leakage" -> (splitLeakage _),
    "corpus_split_by_cluster" -> (splitByCluster _))

  // The composite pipelines (yield/leakage/split) chain the component
  // closure with quality/decontam CTEs that the oracle engine otherwise
  // re-expands per reference (sf3: ORACLE-TIMEOUT under standard
  // children, pass only with fat-child retries) — force MATERIALIZED;
  // `reach` is the recursive working table and stays plain.
  val oracles: Map[String, String] = Map(
    "dedup_components" -> dedupComponentsSql,
    "dedup_cluster_keepers" -> clusterKeepersSql,
    "dedup_yield_by_source" ->
      Hashing.materializeCtes(dedupYieldBySourceSql, except = Set("reach")),
    "corpus_split_leakage" ->
      Hashing.materializeCtes(splitLeakageSql, except = Set("reach")),
    "corpus_split_by_cluster" ->
      Hashing.materializeCtes(splitByClusterSql, except = Set("reach")))
}
