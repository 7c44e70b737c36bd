package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import Hashing._

/** Paragraph-level cross-corpus dedup — the CCNet shape (Wenzek et al.
  * 2020, "CCNet: Extracting High Quality Monolingual Datasets from Web
  * Crawl Data"): hash every paragraph, count copies across the WHOLE
  * corpus, keep only the globally-first occurrence of each paragraph and
  * drop every later copy. This removes boilerplate (headers, footers,
  * license blocks) that document-level dedup can never touch, because the
  * surrounding documents differ.
  *
  * Paragraph boundary: the fixture corpus is single-line word streams
  * (no `\n\n`), so the boundary is deterministic fixed-width blocks of
  * [[BlockW]] consecutive words (the trailing partial block included —
  * dropping it would leave tail text invisible to the dedup). On a real
  * corpus the block kernel is swapped for a `split(text, '\n\n')`
  * pre-step; everything downstream (hash, keep-first, retention) is
  * boundary-agnostic.
  *
  * Keep-first semantics, exactly: a block survives iff its (doc_id,
  * block_idx) is the minimum — in (doc_id, block_idx) lexicographic
  * order — among all occurrences of its content hash. The order is
  * encoded as ONE integer `doc_id * 1024 + blk` (blocks/doc ≤ 7 at the
  * fixture's ≤ 99 words; 1024 leaves headroom to 16 k-word docs), so
  * "first" is a plain `MIN` — map-side combinable, no window over the
  * corpus, and bit-identical in both engines.
  *
  * Scale shape: block volume is corpus words / [[BlockW]] — a 16× lighter
  * exchange than the all-spans substring path. One keyed agg on the
  * 62-bit block hash (widened two-family fold, collisions ~n²/2^62) +
  * one keyed join back for the retention report. No windows, no
  * all-pairs term; the duplicated-block table is bounded by the true
  * duplicate count at any SF.
  */
object Paragraph {

  /** Block width in words. 16 ≈ a short paragraph at fixture doc lengths
    * (10–99 words → 1–7 blocks/doc). */
  private val BlockW = 16

  /** Block-index headroom in the encoded (doc, blk) order. */
  private val BlkCap = 1024L

  private[graft] val W: Int = BlockW

  /** 62-bit block hashes from the two word-hash families: fold each
    * BlockW-word slice with independent bases and pack h1·2^31 + h2.
    * Pure HOF Catalyst expressions — no UDF. Block count is
    * ceil(n/16) = (n+15) >> 4 (shiftright keeps the arithmetic integer —
    * Column./ is double division). */
  private[graft] def blockHashes(w1: Column, w2: Column): Column = {
    def fold(whs: Column, base: Long, i: Column): Column =
      aggregate(slice(whs, i * lit(BlockW) + lit(1), lit(BlockW)), lit(0L),
        (acc, x) => (acc * base + x) % P)
    when(size(w1) > 0,
      transform(
        sequence(lit(0), shiftright(size(w1) + lit(BlockW - 1), 4) - lit(1)),
        i => fold(w1, 1000003L, i) * 2147483648L + fold(w2, 1000033L, i)))
      .otherwise(array().cast("array<bigint>"))
  }

  /** (doc_id, blk, h, pos) — pos is the encoded global keep-first order. */
  private[graft] def blocksOf(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"),
      posexplode(blockHashes(wordHashes(col("text")),
        wordHashes37(col("text")))))
      .toDF("doc_id", "blk", "h")
      .withColumn("pos", col("doc_id") * BlkCap + col("blk"))
  }

  private def blocks(spark: SparkSession, sfDir: String): DataFrame =
    blocksOf(Tables.documents(spark, sfDir))

  /** Shared CTE: per-block rows with the encoded order. */
  private val blkSqlCte: String =
    s"""pw AS (SELECT doc_id, ${wordHashesSql("text")} AS w1,
       |  ${wordHashes37Sql("text")} AS w2 FROM documents),
       |pb AS (SELECT doc_id, unnest(range(0, (len(w1) + ${BlockW - 1}) // $BlockW)) AS blk,
       |  unnest(list_transform(range(0, (len(w1) + ${BlockW - 1}) // $BlockW),
       |    i -> list_reduce(list_prepend(0::BIGINT,
       |           list_slice(w1, i*$BlockW + 1, i*$BlockW + $BlockW)),
       |           (a, b) -> (a*1000003 + b) % 2147483647) * 2147483648 +
       |         list_reduce(list_prepend(0::BIGINT,
       |           list_slice(w2, i*$BlockW + 1, i*$BlockW + $BlockW)),
       |           (a, b) -> (a*1000033 + b) % 2147483647))) AS h
       |  FROM pw WHERE len(w1) > 0),
       |pp AS (SELECT doc_id, blk, h, doc_id * $BlkCap + blk AS pos FROM pb)""".stripMargin

  /** The duplicated-paragraph table: every block content held more than
    * once corpus-wide, with its copy count and the keep-first winner
    * (decoded back to doc/blk from the MIN of the encoded order). */
  def duplicatedBlocks(spark: SparkSession, sfDir: String): DataFrame =
    blocks(spark, sfDir)
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_copies"), min(col("pos")).as("fp"))
      .filter(col("n_copies") >= 2)
      .select(col("h"), col("n_copies"),
        (col("fp") / BlkCap).cast("long").as("first_doc"),
        (col("fp") % BlkCap).as("first_blk"))

  val duplicatedBlocksSql: String =
    s"""WITH $blkSqlCte
       |SELECT h, CAST(COUNT(*) AS BIGINT) AS n_copies,
       |  MIN(pos) // $BlkCap AS first_doc,
       |  MIN(pos) % $BlkCap AS first_blk
       |FROM pp GROUP BY h HAVING COUNT(*) >= 2""".stripMargin

  /** Per-document retention after keep-first paragraph dedup: how many
    * blocks the doc has, how many it keeps (blocks where THIS occurrence
    * is the global first), and the kept rate in permille. A doc made
    * mostly of boilerplate shows up here with kept_pm far below 1000 —
    * the CCNet curation signal. */
  def retention(spark: SparkSession, sfDir: String): DataFrame = {
    val blks = blocks(spark, sfDir).localCheckpoint()
    val firsts = blks.groupBy(col("h")).agg(min(col("pos")).as("fp"))
    blks.join(firsts, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("pos") === col("fp"), 1L).otherwise(0L)).as("n_kept"))
      .select(col("doc_id"), col("n_blocks"), col("n_kept"),
        expr("n_kept * 1000 div n_blocks").as("kept_pm"))
  }

  val retentionSql: String =
    s"""WITH $blkSqlCte,
       |pf AS (SELECT h, MIN(pos) AS fp FROM pp GROUP BY h)
       |SELECT pp.doc_id, CAST(COUNT(*) AS BIGINT) AS n_blocks,
       |  CAST(SUM(CASE WHEN pp.pos = pf.fp THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_kept,
       |  CAST(SUM(CASE WHEN pp.pos = pf.fp THEN 1 ELSE 0 END) AS BIGINT)
       |    * 1000 // COUNT(*) AS kept_pm
       |FROM pp JOIN pf ON pp.h = pf.h
       |GROUP BY pp.doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_paragraph" -> (duplicatedBlocks _),
    "dedup_paragraph_retention" -> (retention _))

  val oracles: Map[String, String] = Map(
    "dedup_paragraph" -> duplicatedBlocksSql,
    "dedup_paragraph_retention" -> retentionSql)
}
