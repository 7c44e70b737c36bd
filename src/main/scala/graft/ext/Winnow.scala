package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import Hashing._

/** Winnowing fingerprints — Schleimer/Wilkerson/Aiken 2003 ("Winnowing:
  * Local Algorithms for Document Fingerprinting", the MOSS algorithm):
  * from each document's sequence of K-word span hashes, select the
  * minimum of every window of [[WinnowW]] consecutive hashes. The
  * selected set is the document's fingerprint sketch, with the paper's
  * guarantee: any duplicated run of at least W + K − 1 words shares at
  * least one fingerprint between its two copies, while the expected
  * sketch density is only 2/(W+1) of all spans.
  *
  * Why this exists next to [[Substring]]: the all-spans path shuffles
  * every span occurrence; winnowing is the standard production dial that
  * cuts the dedup exchange volume ~3× (W=4) while keeping a PROVABLE
  * detection floor — the right trade when the corpus is 100 TB and the
  * target is "find every duplicated paragraph", not "find every
  * duplicated 5-gram". The guarantee is spec-proven on planted
  * duplicates, and the density measured, not claimed (WinnowSpec).
  *
  * Selection rule: a window's fingerprint is its minimum hash VALUE
  * (ties collapse to the same value, so tiebreak order cannot change the
  * selected set — the property that makes the sketch partition- and
  * engine-invariant). Documents with at least one span but fewer than W
  * spans contribute their single global minimum (the short-doc fallback,
  * so every document of ≥ K words is fingerprinted).
  *
  * Scale shape: span hashes come out of the same codegen'd positional
  * kernel as [[Substring]] (widened 62-bit family — fingerprint
  * collisions stay ~n²/2^62 at corpus scale); the rolling-min is a
  * per-document window over span position — it rides ONE doc_id
  * exchange, and per-doc state is the W-row frame. The cross-doc join
  * then operates on the winnowed sketch (~2/(W+1) of span volume), which
  * is the entire point.
  */
object Winnow {

  /** Winnow window in spans. With [[Substring.K]] = 5-word spans, the
    * detection guarantee is runs of ≥ W + K − 1 = 8 words; expected
    * density 2/(W+1) = 0.4 of spans. */
  private val WinnowW = 4

  /** Shared with WinnowSpec (guarantee-threshold cases). */
  private[graft] val W: Int = WinnowW

  /** (doc_id, h, pos) — positional widened span hashes. */
  private def posSpans(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"),
      posexplode(spanHashes64(wordHashes(col("text")),
        wordHashes37(col("text")), Substring.K)))
      .toDF("doc_id", "pos", "h")
  }

  /** The winnow selection over an existing (doc_id, h, pos) span frame —
    * split out so [[fingerprintCoverage]] can feed ONE materialized span
    * pass to both of its aggregates instead of re-running the hash
    * kernel per consumer. */
  private def fingerprintsOfSpans(spans: DataFrame): DataFrame = {
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, WinnowW - 1)
    val all = Window.partitionBy(col("doc_id"))
    spans
      .withColumn("fp", min(col("h")).over(win))
      .withColumn("wn", count(lit(1)).over(win))
      .withColumn("n_sp", count(lit(1)).over(all))
      .filter(col("wn") === WinnowW ||
        (col("n_sp") < WinnowW && col("pos") === 0))
      .select(col("doc_id"), col("fp")).distinct()
  }

  /** The fingerprint sketch: distinct (doc_id, fp) where fp is the min
    * hash of some complete W-window of the doc's spans (plus the
    * short-doc fallback — see object doc). */
  private[graft] def fingerprintsOf(docs: DataFrame): DataFrame =
    fingerprintsOfSpans(posSpans(docs))

  private def fingerprints(spark: SparkSession, sfDir: String): DataFrame =
    fingerprintsOf(Tables.documents(spark, sfDir))

  /** Fingerprint CTEs shared by both gates' oracles. DuckDB zips the two
    * unnests positionally, giving the (h, pos) pairs the window needs. */
  private val fpSqlCte: String =
    s"""ww AS (SELECT doc_id, ${wordHashesSql("text")} AS w1,
       |  ${wordHashes37Sql("text")} AS w2 FROM documents),
       |wsa AS (SELECT doc_id,
       |  ${spanHashes64Sql("w1", "w2", Substring.K)} AS sps FROM ww),
       |wsp AS (SELECT doc_id, unnest(sps) AS h,
       |  unnest(range(0, len(sps))) AS pos FROM wsa),
       |wmin AS (SELECT doc_id, pos,
       |  MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS fp,
       |  COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS wn,
       |  COUNT(*) OVER (PARTITION BY doc_id) AS n_sp
       |  FROM wsp),
       |wfp AS (SELECT DISTINCT doc_id, fp FROM wmin
       |  WHERE wn = $WinnowW OR (n_sp < $WinnowW AND pos = 0))""".stripMargin

  /** Cross-document shared fingerprints: every winnowed fingerprint held
    * by ≥ 2 documents, with its reach and first holder — the
    * [[Substring.duplicatedSpans]] signal at sketch volume. */
  def sharedFingerprints(spark: SparkSession, sfDir: String): DataFrame =
    fingerprints(spark, sfDir)
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)

  val sharedFingerprintsSql: String =
    s"""WITH $fpSqlCte
       |SELECT fp, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  MIN(doc_id) AS first_doc
       |FROM wfp GROUP BY fp HAVING COUNT(*) >= 2""".stripMargin

  /** Per-document winnow profile: sketch size, spans, the measured
    * density (sketch/spans in permille — the 2/(W+1) expectation made a
    * per-doc observable), and how much of the sketch is shared with
    * other documents. The positional span frame — the expensive
    * hash-kernel stage — is computed ONCE and lineage-cut for its two
    * derivations (the n_spans aggregate and the winnow selection), and
    * the fingerprint frame is cut again for ITS two consumers (the
    * shared set and the coverage join). */
  def fingerprintCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val spans = posSpans(docs).localCheckpoint()
    val nSpans = spans
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_spans"))
    val fps = fingerprintsOfSpans(spans).localCheckpoint()
    val shared = fps.groupBy(col("fp"))
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("fp"), lit(1L).as("is_shared"))
    fps.join(shared, Seq("fp"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fp"),
        sum(coalesce(col("is_shared"), lit(0L))).as("n_shared_fp"))
      .join(nSpans, Seq("doc_id"))
      .select(col("doc_id"), col("n_spans"), col("n_fp"),
        expr("n_fp * 1000 div n_spans").as("density_pm"),
        col("n_shared_fp"))
  }

  val fingerprintCoverageSql: String =
    s"""WITH $fpSqlCte,
       |wns AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans
       |  FROM wsp GROUP BY doc_id),
       |wsh AS (SELECT fp FROM wfp GROUP BY fp HAVING COUNT(*) >= 2)
       |SELECT wfp.doc_id, wns.n_spans,
       |  CAST(COUNT(*) AS BIGINT) AS n_fp,
       |  CAST(COUNT(*) AS BIGINT) * 1000 // wns.n_spans AS density_pm,
       |  CAST(SUM(CASE WHEN wsh.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_shared_fp
       |FROM wfp JOIN wns ON wfp.doc_id = wns.doc_id
       |LEFT JOIN wsh ON wfp.fp = wsh.fp
       |GROUP BY wfp.doc_id, wns.n_spans""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_winnow" -> (sharedFingerprints _),
    "dedup_winnow_coverage" -> (fingerprintCoverage _))

  val oracles: Map[String, String] = Map(
    "dedup_winnow" -> sharedFingerprintsSql,
    "dedup_winnow_coverage" -> fingerprintCoverageSql)
}
