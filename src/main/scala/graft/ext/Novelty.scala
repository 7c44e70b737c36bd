package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** N-gram novelty curve over the `documents` table: for each document,
  * how many of its distinct [[ShingleK]]-word shingles appear for the
  * FIRST time in the corpus when documents are taken in doc_id order.
  * This is the ingestion-order twin of the Heaps'-law curve
  * ([[TextAnalysis]]): Heaps counts new VOCABULARY per prefix, novelty
  * counts new PHRASING per document — the curve a curation pipeline
  * watches to decide when a source has stopped contributing anything
  * (near-zero marginal novelty ⇒ the crawler is re-reading itself), and
  * the per-doc signal repetition-heavy spam scores low on.
  *
  * First occurrence = MIN(doc_id) over the shingle's postings — exact
  * integer semantics, no tie ambiguity (a shingle appearing twice in
  * one doc is one distinct posting; the [[Hashing.shingleHashes]]
  * kernel is already set-valued per doc).
  *
  * Scale shape: one explode of distinct per-doc shingles, a map-side-
  * combinable MIN per shingle, and one keyed join back on the shingle
  * hash — the same one-scan + keyed-join skeleton as the decontam
  * overlap gate. Nothing is all-pairs; the novelty fraction is floored
  * integer permille (exact in both engines).
  */
object Novelty {

  val ShingleK = 3

  /** The composition over an arbitrary (doc_id, text) frame — the seam
    * NoveltySpec drives with hand corpora. */
  private[graft] def noveltyOf(docs: DataFrame): DataFrame = {
    val sh = docs
      .select(col("doc_id"),
        explode(Hashing.shingleHashes(
          Hashing.wordHashes(col("text")), ShingleK)).as("sh"))
    val firstDoc = sh.groupBy(col("sh"))
      .agg(min(col("doc_id")).as("first_doc"))
    sh.join(firstDoc, "sh")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty_permille",
        expr("n_novel * 1000 div n_shingles"))
  }

  def ngramNovelty(spark: SparkSession, sfDir: String): DataFrame =
    noveltyOf(Tables.documents(spark, sfDir))

  val ngramNoveltySql: String =
    s"""WITH sh AS (SELECT doc_id, unnest(
       |    ${Hashing.shingleHashesSql(Hashing.wordHashesSql("text"), ShingleK)}
       |  ) AS sh FROM documents),
       |fd AS (SELECT sh, MIN(doc_id) AS first_doc FROM sh GROUP BY 1)
       |SELECT s.doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
       |  CAST(COALESCE(SUM(CASE WHEN f.first_doc = s.doc_id
       |    THEN 1 END), 0) AS BIGINT) AS n_novel,
       |  CAST(COALESCE(SUM(CASE WHEN f.first_doc = s.doc_id
       |    THEN 1 END), 0) * 1000 // COUNT(*) AS BIGINT)
       |    AS novelty_permille
       |FROM sh s JOIN fd f ON s.sh = f.sh
       |GROUP BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_ngram_novelty" -> (ngramNovelty _))

  val oracles: Map[String, String] = Map(
    "corpus_ngram_novelty" -> ngramNoveltySql)
}
