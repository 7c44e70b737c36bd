package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.Hashing.P

/** Content-defined chunking (CDC) dedup over the `documents` table —
  * the storage-layer dedup family (LBFS/FastCDC lineage: Muthitacharoen
  * et al. 2001, Xia et al. 2016) next to the shingle ([[Dedup]]),
  * span ([[Substring]]) and winnow ([[Winnow]]) families. Fixed-width
  * spans break on INSERTION (one added word shifts every downstream
  * span); CDC cuts chunk boundaries where a rolling content hash hits a
  * divisor condition, so an edit only disturbs the chunks it touches —
  * the property that makes chunk-store dedup work on evolving corpora.
  *
  * Semantics, identical in both engines (word granularity — the corpus
  * word-hash rule is the shared [[Hashing.wordHashes]]):
  *  - gear(i) = [[Hashing.spanHashes]] of the [[GearW]] words starting
  *    at i (the rolling window);
  *  - a cut falls AFTER word i+GearW-1 iff gear(i) % [[BoundaryDiv]]
  *    == 0 and that word is not the document's last (mean chunk length
  *    ≈ BoundaryDiv words, geometric — the classic CDC distribution);
  *  - chunk identity = (fold of the chunk's word hashes, chunk length)
  *    — the length in the key halves the 31-bit collision surface the
  *    same way the substring family's dual-hash widening does.
  *
  * Scale shape: chunk hashes are computed INSIDE the per-row array
  * world (one Catalyst HOF pass per document — no word-level row
  * fan-out); the explode emits one scalar row per CHUNK (~1/BoundaryDiv
  * of the word count), the identity groupBy partial-aggregates
  * map-side, and the coverage join is keyed on the chunk identity.
  * Nothing is ever all-pairs; a 100 TB corpus shuffles |chunks| rows.
  */
object Cdc {

  /** Rolling gear window, in words. */
  val GearW = 4

  /** Boundary divisor: cut where gear % this == 0 (mean chunk ≈ 16
    * words). */
  val BoundaryDiv = 16L

  private def foldChunk(whs: Column, s: Column, len: Column): Column =
    aggregate(slice(whs, s + 1, len), lit(0L),
      (acc, x) => (acc * 1000003L + x) % P)

  /** One row per chunk instance: (doc_id, chunk_idx, chunk_hash,
    * chunk_words). The seam CdcSpec drives with hand texts. */
  private[graft] def chunkInstances(docs: DataFrame): DataFrame = {
    val d = docs
      .select(col("doc_id"), Hashing.wordHashes(col("text")).as("whs"))
      .withColumn("n", size(col("whs")))
      .filter(col("n") > 0)
      .withColumn("spans", Hashing.spanHashes(col("whs"), GearW))
    // Cut positions: word-end indices strictly inside the document.
    val cuts = when(size(col("spans")) > 0,
      transform(
        filter(sequence(lit(0), size(col("spans")) - 1),
          i => element_at(col("spans"), i + 1) % BoundaryDiv === 0 &&
            (i + lit(GearW) - 1) < col("n") - 1),
        i => i + lit(GearW) - 1))
      .otherwise(array().cast("array<int>"))
    val withBounds = d.withColumn("cuts", cuts)
      .withColumn("starts",
        concat(array(lit(0)), transform(col("cuts"), c => c + 1)))
      .withColumn("ends",
        concat(col("cuts"), array(col("n") - 1)))
    // Hash each chunk inside the array world; explode scalars only.
    val chunkArr = transform(sequence(lit(0), size(col("starts")) - 1),
      j => {
        val s = element_at(col("starts"), j + 1)
        val e = element_at(col("ends"), j + 1)
        struct(
          foldChunk(col("whs"), s, e - s + 1).as("h"),
          (e - s + 1).cast("long").as("w"))
      })
    withBounds
      .select(col("doc_id"), posexplode(chunkArr).as(Seq("chunk_idx", "c")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("c.h").as("chunk_hash"), col("c.w").as("chunk_words"))
  }

  /** Shared CTE chain: documents → word hashes → gear spans → cuts →
    * chunk instances, mirroring [[chunkInstances]] list-for-list. */
  private val instancesCtes: String = {
    val w1 = GearW - 1
    s"""d AS (SELECT doc_id, ${Hashing.wordHashesSql("text")} AS whs
       |  FROM documents),
       |dn AS (SELECT doc_id, whs, len(whs) AS n FROM d WHERE len(whs) > 0),
       |sp AS (SELECT doc_id, whs, n,
       |  ${Hashing.spanHashesSql("whs", GearW)} AS spans FROM dn),
       |ct AS (SELECT doc_id, whs, n,
       |  CASE WHEN len(spans) > 0 THEN
       |    list_transform(list_filter(range(0, len(spans)),
       |      i -> spans[i+1] % $BoundaryDiv = 0 AND i + $w1 < n - 1),
       |      i -> i + $w1)
       |  ELSE [] END AS cuts FROM sp),
       |bd AS (SELECT doc_id, whs, n,
       |  list_prepend(0, list_transform(cuts, c -> c + 1)) AS starts,
       |  list_append(cuts, n - 1) AS ends FROM ct),
       |inst AS (SELECT doc_id,
       |  CAST(j AS BIGINT) AS chunk_idx,
       |  list_reduce(list_prepend(0::BIGINT,
       |    list_slice(whs, starts[j+1] + 1, ends[j+1] + 1)),
       |    (a, b) -> (a*1000003 + b) % $P) AS chunk_hash,
       |  CAST(ends[j+1] - starts[j+1] + 1 AS BIGINT) AS chunk_words
       |  FROM bd, unnest(range(0, len(starts))) AS t(j))""".stripMargin
  }

  /** The cross-doc duplicated-chunk table: every chunk identity seen
    * more than once, with occurrence and document counts — the
    * chunk-store dedup ledger. */
  def cdcChunks(spark: SparkSession, sfDir: String): DataFrame =
    chunkInstances(Tables.documents(spark, sfDir))
      .groupBy(col("chunk_hash"), col("chunk_words"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_occ") >= 2)

  val cdcChunksSql: String =
    s"""WITH $instancesCtes
       |SELECT chunk_hash, chunk_words,
       |  CAST(COUNT(*) AS BIGINT) AS n_occ,
       |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
       |FROM inst GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin

  /** Per-document dedupable coverage: how many of a doc's chunks (and
    * words) also appear in at least one OTHER document — the per-file
    * "bytes saved by the chunk store" report. `dup_permille` is floored
    * integer permille (exact in both engines). */
  def cdcCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    val inst = chunkInstances(Tables.documents(spark, sfDir))
    val dup = inst.groupBy(col("chunk_hash"), col("chunk_words"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("chunk_hash"), col("chunk_words"), lit(1).as("isdup"))
    inst.join(dup, Seq("chunk_hash", "chunk_words"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("isdup") === 1, 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(when(col("isdup") === 1, col("chunk_words")).otherwise(0L))
          .as("dup_words"),
        sum(col("chunk_words")).as("total_words"))
      .withColumn("dup_permille",
        expr("dup_words * 1000 div total_words"))
  }

  val cdcCoverageSql: String =
    s"""WITH $instancesCtes,
       |dup AS (SELECT chunk_hash, chunk_words FROM inst
       |  GROUP BY 1, 2 HAVING COUNT(DISTINCT doc_id) >= 2)
       |SELECT i.doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |  CAST(COUNT(d.chunk_hash) AS BIGINT) AS n_dup_chunks,
       |  CAST(COALESCE(SUM(CASE WHEN d.chunk_hash IS NOT NULL
       |    THEN i.chunk_words END), 0) AS BIGINT) AS dup_words,
       |  CAST(SUM(i.chunk_words) AS BIGINT) AS total_words,
       |  CAST(COALESCE(SUM(CASE WHEN d.chunk_hash IS NOT NULL
       |    THEN i.chunk_words END), 0) * 1000
       |    // SUM(i.chunk_words) AS BIGINT) AS dup_permille
       |FROM inst i LEFT JOIN dup d
       |  ON i.chunk_hash = d.chunk_hash AND i.chunk_words = d.chunk_words
       |GROUP BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_cdc_chunks" -> (cdcChunks _),
    "dedup_cdc_coverage" -> (cdcCoverage _))

  val oracles: Map[String, String] = Map(
    "dedup_cdc_chunks" -> cdcChunksSql,
    "dedup_cdc_coverage" -> cdcCoverageSql)
}
