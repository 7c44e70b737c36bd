package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every module's named operators; each key has a
  * DuckDB oracle in `oracleSql` (same column names, deterministic values —
  * money math is integer-exact on both sides, see graft.ext.Relational).
  */
object SparkEntry {

  type Q = Map[String, (SparkSession, String) => DataFrame]

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Word count — the reference's flagship app (`src/mrapps/wc.go`). */
  def entry(spark: SparkSession): DataFrame =
    apps.MrApps.wordCount(Tables.documents(spark, "/root/testdata/sf0.001"))

  /** Named module registry: (module name, queries, oracles). The
    * generated ledger (`graft.tools.Ledger` → LEDGER.md, SURVEY §8)
    * walks this so the key inventory can never drift from the code;
    * [[queries]]/[[oracleSql]] are folds over it. Module name `a.B`
    * maps to `src/main/scala/graft/a/B.scala`, the file of object
    * `graft.a.B` (Ledger checks both, and that each name appears once). */
  def modules: Seq[(String, Q, Map[String, String])] = Seq(
    ("apps.MrApps", apps.MrApps.queries, apps.MrApps.oracles),
    ("ext.TextAnalysis", ext.TextAnalysis.queries, ext.TextAnalysis.oracles),
    ("ext.Dedup", ext.Dedup.queries, ext.Dedup.oracles),
    ("ext.DedupBounded", ext.DedupBounded.queries, ext.DedupBounded.oracles),
    ("ext.Similarity", ext.Similarity.queries, ext.Similarity.oracles),
    ("ext.Multimodal", ext.Multimodal.queries, ext.Multimodal.oracles),
    ("streaming.Streaming", streaming.Streaming.queries, streaming.Streaming.oracles),
    ("kv.Sharding", kv.Sharding.queries, kv.Sharding.oracles),
    ("ext.Curation", ext.Curation.queries, ext.Curation.oracles),
    ("ext.Relational", ext.Relational.queries, ext.Relational.oracles),
    ("ext.AsOf", ext.AsOf.queries, ext.AsOf.oracles),
    ("ext.RangeJoin", ext.RangeJoin.queries, ext.RangeJoin.oracles),
    ("ext.Sketches", ext.Sketches.queries, ext.Sketches.oracles),
    ("ext.Components", ext.Components.queries, ext.Components.oracles),
    ("ext.Packing", ext.Packing.queries, ext.Packing.oracles),
    ("ext.Incremental", ext.Incremental.queries, ext.Incremental.oracles),
    ("ext.IncrementalAnn", ext.IncrementalAnn.queries, ext.IncrementalAnn.oracles),
    ("ext.Quality", ext.Quality.queries, ext.Quality.oracles),
    ("ext.Substring", ext.Substring.queries, ext.Substring.oracles),
    ("ext.Clustering", ext.Clustering.queries, ext.Clustering.oracles),
    ("ext.Formats", ext.Formats.queries, ext.Formats.oracles),
    ("ext.Chunking", ext.Chunking.queries, ext.Chunking.oracles),
    ("ext.Redaction", ext.Redaction.queries, ext.Redaction.oracles),
    ("ext.Funnel", ext.Funnel.queries, ext.Funnel.oracles),
    ("ext.AggState", ext.AggState.queries, ext.AggState.oracles),
    ("ext.Retention", ext.Retention.queries, ext.Retention.oracles),
    ("ext.Skew", ext.Skew.queries, ext.Skew.oracles),
    ("ext.Basket", ext.Basket.queries, ext.Basket.oracles),
    ("ext.Audit", ext.Audit.queries, ext.Audit.oracles),
    ("ext.PageRank", ext.PageRank.queries, ext.PageRank.oracles),
    ("ext.Tokenize", ext.Tokenize.queries, ext.Tokenize.oracles),
    ("ext.Bpe", ext.Bpe.queries, ext.Bpe.oracles),
    ("ext.Pipeline", ext.Pipeline.queries, ext.Pipeline.oracles),
    ("ext.ProductQuant", ext.ProductQuant.queries, ext.ProductQuant.oracles),
    ("ext.Audio", ext.Audio.queries, ext.Audio.oracles),
    ("ext.Bfs", ext.Bfs.queries, ext.Bfs.oracles),
    ("ext.Winnow", ext.Winnow.queries, ext.Winnow.oracles),
    ("ext.Communities", ext.Communities.queries, ext.Communities.oracles),
    ("ext.Paragraph", ext.Paragraph.queries, ext.Paragraph.oracles),
    ("ext.ScalarQuant", ext.ScalarQuant.queries, ext.ScalarQuant.oracles),
    ("ext.SparseSim", ext.SparseSim.queries, ext.SparseSim.oracles),
    ("ext.CharEntropy", ext.CharEntropy.queries, ext.CharEntropy.oracles),
    ("ext.Rfm", ext.Rfm.queries, ext.Rfm.oracles),
    ("ext.Moments", ext.Moments.queries, ext.Moments.oracles),
    ("ext.Cdc", ext.Cdc.queries, ext.Cdc.oracles),
    ("ext.Novelty", ext.Novelty.queries, ext.Novelty.oracles),
    ("ext.Qoi", ext.Qoi.queries, ext.Qoi.oracles),
    ("ext.SupplyChain", ext.SupplyChain.queries, ext.SupplyChain.oracles),
    ("ext.Sweep", ext.Sweep.queries, ext.Sweep.oracles),
    ("ext.LinkPrediction", ext.LinkPrediction.queries, ext.LinkPrediction.oracles),
    ("ext.Compaction", ext.Compaction.queries, ext.Compaction.oracles),
    ("ext.KnnEval", ext.KnnEval.queries, ext.KnnEval.oracles),
    ("ext.Tga", ext.Tga.queries, ext.Tga.oracles),
    ("ext.Experiment", ext.Experiment.queries, ext.Experiment.oracles),
    ("ext.Skyline", ext.Skyline.queries, ext.Skyline.oracles),
    ("ext.Forecast", ext.Forecast.queries, ext.Forecast.oracles),
    ("ext.CodeDetect", ext.CodeDetect.queries, ext.CodeDetect.oracles),
    ("ext.Gini", ext.Gini.queries, ext.Gini.oracles),
    ("ext.Hits", ext.Hits.queries, ext.Hits.oracles),
    ("ext.Readability", ext.Readability.queries, ext.Readability.oracles),
    ("ext.Gif", ext.Gif.queries, ext.Gif.oracles),
    ("ext.Pca", ext.Pca.queries, ext.Pca.oracles),
    ("ext.Growth", ext.Growth.queries, ext.Growth.oracles),
    ("ext.Latency", ext.Latency.queries, ext.Latency.oracles),
    ("ext.Paths", ext.Paths.queries, ext.Paths.oracles),
    ("ext.Spell", ext.Spell.queries, ext.Spell.oracles),
    ("ext.Rake", ext.Rake.queries, ext.Rake.oracles),
    ("kv.KvReplay", kv.KvReplay.queries, kv.KvReplay.oracles),
    ("ext.Events", ext.Events.queries, ext.Events.oracles))

  /** One entry per implemented operator from SURVEY.md §2 (+ §7.5 ext). */
  def queries: Q = modules.iterator.map(_._2).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.iterator.map(_._3).reduce(_ ++ _)

  /** [[oracleSql]] with the per-SF specializations applied — what
    * Verify actually dumps. Today that is only the auto-tier rolling
    * actives: the engine replays the same plan-time count decision the
    * Spark query dispatches on and emits only the selected tier's SQL
    * (see [[ext.Growth.rollingActivesAutoSqlFor]]), so the oracle never
    * executes the tier the gate pruned. */
  def oracleSqlFor(spark: SparkSession, sfDir: String): Map[String, String] =
    oracleSql + ("events_rolling_actives_auto" ->
      ext.Growth.rollingActivesAutoSqlFor(spark, sfDir))
}
