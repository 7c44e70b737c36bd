package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Character-distribution quality signals — the cheapest filters in a
  * curation stack (run before anything tokenizes): Shannon entropy of
  * the per-doc character histogram (gibberish and base64 blobs sit far
  * above prose; repeated-char junk far below) and the Simpson diversity
  * / effective-alphabet size (the no-log twin). Both appear in the
  * Gopher/C4-style rule stacks next to the length and stopword gates
  * ([[Quality]]).
  *
  * Exactness: Shannon entropy needs log2, and libm `log` is not
  * correctly rounded — the one function family this codebase never lets
  * near a gate. Instead, log2 is taken at CENTIBIT precision from an
  * exact integer table: L(k) = ⌊100·log2 k⌋ = bitLength(k¹⁰⁰) − 1,
  * computed once in BigInt (pure integer math, any engine replays it)
  * and embedded as the SAME literal table in the Spark plan (a
  * [[TabMax]]-row LocalRelation broadcast) and the oracle SQL (a list
  * literal) — single Scala source of truth for both renditions. Per-doc
  * entropy is then the all-integer
  *
  *   H_cb = (n·L(n) − Σ_c cnt_c·L(cnt_c)) div n    [centibits/char]
  *
  * (identity: H = log2 n − (1/n)·Σ cnt·log2 cnt), bit-identical across
  * engines by construction. Simpson needs no logs at all:
  * `1000 − 1000·Σcnt² div n²` and the inverse `n² div Σcnt²` (effective
  * alphabet size) are exact Longs.
  *
  * Scale shape (round 15): ZERO-shuffle — one compiled pass per doc
  * ([[graft.functions.HashKernels.charEntropyStats]]) builds the
  * histogram AND folds all four moments against a static in-kernel
  * ⌊100·log2 k⌋ table, so the whole key is row-local map work on the
  * corpus scan. (History: the original regexp explode paid one row per
  * corpus CHARACTER — ~700M rows at sf10; round 14's charCounts +
  * explode + two broadcast table joins + per-doc agg cut that to one
  * row per (doc, distinct char) but still exchanged ~100M rows and sat
  * top-5 at sf10 (35.7 s) for what is per-row arithmetic — the fused
  * kernel removes the explode, the joins, and the agg entirely.) The
  * table is sized to the max doc length ([[TabMax]] = 2048 covers the
  * fixture's 577-char max 3.5×; a corpus of million-char docs sizes it
  * up — a 2^20-entry static long array, still memory-free). Docs at or
  * above the bound RAISE (round-15 advisory: they used to vanish at
  * the lookup joins). The DuckDB oracle keeps the per-character
  * formulation, so the gate hash pins the kernel's equivalence.
  */
object CharEntropy {

  /** Table bound: counts and doc lengths must be < TabMax (the kernel's
    * static table size; oversized docs throw there). */
  private val TabMax = graft.functions.HashKernels.EntropyTabMax

  /** ⌊100·log2 k⌋ exactly: bitLength(k^100) − 1. No floating point.
    * (Spec-facing twin of the kernel's static table.) */
  private[graft] def log2Centibits(k: Int): Long =
    BigInt(k).pow(100).bitLength - 1L

  private lazy val table: IndexedSeq[(Long, Long)] =
    (1 until TabMax).map(k => (k.toLong, log2Centibits(k)))

  /** Per-doc char-quality frame over any (doc_id, text) frame. Empty
    * docs are absent (as in the explode formulation, which emitted no
    * rows for them); oversized docs raise in the kernel. */
  private[graft] def entropyOf(docs: DataFrame): DataFrame = {
    docs
      .select(col("doc_id"),
        graft.functions.GraftFunctions.charEntropyStats(col("text")).as("st"))
      .filter(size(col("st")) > 0)
      .select(col("doc_id"),
        element_at(col("st"), 1).as("n"),
        element_at(col("st"), 2).as("n_distinct"),
        element_at(col("st"), 3).as("entropy_cb"),
        element_at(col("st"), 4).as("simpson_pm"),
        element_at(col("st"), 5).as("eff_chars"))
  }

  def entropy(spark: SparkSession, sfDir: String): DataFrame =
    entropyOf(Tables.documents(spark, sfDir))

  val entropySql: String = {
    val ks = table.map(_._1).mkString(",")
    val lbs = table.map(_._2).mkString(",")
    s"""WITH lt AS (SELECT unnest([$ks]) AS k, unnest([$lbs]) AS lb),
       |cc AS (SELECT doc_id, unnest(regexp_extract_all(text, '[\\s\\S]')) AS ch
       |  FROM documents),
       |cnts AS (SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM cc GROUP BY doc_id, ch),
       |agg AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n,
       |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
       |  CAST(SUM(cnt * lt.lb) AS BIGINT) AS sum_clb,
       |  CAST(SUM(cnt * cnt) AS BIGINT) AS sum_c2
       |  FROM cnts JOIN lt ON cnts.cnt = lt.k GROUP BY doc_id)
       |SELECT doc_id, n, n_distinct,
       |  (n * lt.lb - sum_clb) // n AS entropy_cb,
       |  1000 - (1000 * sum_c2) // (n * n) AS simpson_pm,
       |  (n * n) // sum_c2 AS eff_chars
       |FROM agg JOIN lt ON agg.n = lt.k""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "quality_char_entropy" -> (entropy _))

  val oracles: Map[String, String] = Map(
    "quality_char_entropy" -> entropySql)
}
