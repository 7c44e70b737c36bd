package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Repetition / quality-rule filters for a training-data pipeline — the
  * Gopher-style (Rae et al. 2021, "Scaling Language Models") document
  * quality heuristics: repetition signals (top-unigram share, duplicate
  * token fraction, duplicate 2-gram fraction) and hard rule flags
  * (word-count bounds, mean-word-length window, repetition caps)
  * combined into a keep/drop decision.
  *
  * Scale shape: tokenization is one pass; the unigram and 2-gram
  * frequency tables are map-side-combinable `groupBy(doc_id, gram)`
  * aggregations (the classic wordcount shuffle, keyed so partial
  * aggregation collapses each doc's repeats before the exchange); the
  * per-doc rollups and the final join are all keyed by doc_id. Nothing
  * is all-pairs, nothing collects to the driver, and the token frame is
  * lineage-cut so the corpus is scanned + tokenized exactly ONCE for
  * both branches (the q15/tfidf multi-consumer lesson — column pruning
  * would otherwise defeat ReuseExchange and re-run the scan).
  *
  * Determinism: every metric is an exact integer count or a fixed-shape
  * double division of exact integers; rule flags compare via integer
  * cross-multiplication (`top_tf * 1000 <= 120 * n_tokens`), so no
  * float rounding can flip a flag between engines.
  */
object Quality {

  /** Rule thresholds (documented against the synthetic corpus so both
    * pass and fail classes are non-empty at every SF — a gate where
    * every doc passes would be vacuous): at sf0.01, n_words<30 fails
    * 106/500, top-share>120 permille fails 90/500, the [4.0, 5.0]
    * mean-word-length window splits the observed 3.7..5.3 range, and
    * dup-2gram>80 permille splits the observed 0..133. */
  private val MinWords = 30
  private val MeanWordLenLoX10 = 40
  private val MeanWordLenHiX10 = 50
  private val TopSharePermille = 120
  private val Dup2gramPermille = 80

  /** Per-doc token/2-gram frequency stats — the shared base of both
    * gated queries: (doc_id, n_tokens, n_distinct, top_tf, n_2grams,
    * n_distinct_2g, sum_word_len). */
  private def statsFrame(spark: SparkSession, sfDir: String): DataFrame =
    statsOf(Tables.documents(spark, sfDir))

  /** [[statsFrame]] over an explicit (doc_id, text) frame — the planted-
    * document seam QualitySpec drives.
    *
    * Every statistic here is a function of ONE document, so the whole
    * frame is a single row-local pass: unigram stats fold over the fused
    * wordTfPairs kernel's (word, tf) array (n_tokens = Σtf, n_distinct =
    * its size, top_tf = max tf), 2-gram stats over the adjacent-pair
    * array (array_distinct for the distinct count). The previous shape
    * exploded the corpus twice and exchanged one row per (doc, word) and
    * per (doc, gram) to re-group what was already doc-local, then joined
    * the branches back — four exchanges, two joins and a corpus-sized
    * checkpoint for a per-doc map stage. Docs with 0 tokens / 1 token
    * get zero counts directly (the old left-join-and-coalesce case).
    *
    * ONE tokenizer per row (round-15 advisory): the 2-gram base `ws`
    * comes from the wordTokens kernel — byte-for-byte the same ASCII
    * `[a-z]+` rule as the wordTfPairs unigram kernel — not from a
    * `lower()` + regex split, whose off-ASCII case mappings (U+212A →
    * 'k') would make n_tokens and n_2grams disagree within a row. */
  private[graft] def statsOf(docs: DataFrame): DataFrame = {
    import graft.functions.GraftFunctions._
    docs
      .select(col("doc_id"),
        wordTokens(col("text")).as("ws"),
        wordTfPairs(col("text")).as("wtf"),
        letterCount(col("text")).as("sum_word_len"))
      // 2-grams of adjacent words; every corpus doc has >= 10 words so
      // the size guard only protects degenerate inputs from a descending
      // sequence(1, 0) fan-out.
      .withColumn("grams", when(size(col("ws")) >= 2,
        transform(sequence(lit(1), size(col("ws")) - 1),
          i => concat(element_at(col("ws"), i), lit(" "),
            element_at(col("ws"), i + 1))))
        .otherwise(array().cast("array<string>")))
      .select(col("doc_id"),
        expr("aggregate(wtf, CAST(0 AS BIGINT), (acc, p) -> acc + p.tf)")
          .as("n_tokens"),
        size(col("wtf")).cast("long").as("n_distinct"),
        expr("aggregate(wtf, CAST(0 AS BIGINT)," +
          " (acc, p) -> greatest(acc, p.tf))").as("top_tf"),
        size(col("grams")).cast("long").as("n_2grams"),
        size(array_distinct(col("grams"))).cast("long").as("n_distinct_2g"),
        col("sum_word_len"))
  }

  /** Shared oracle CTE chain mirroring [[statsFrame]]: exposes `stats`
    * (doc_id, n_tokens, n_distinct, top_tf, n_2grams, n_distinct_2g,
    * sum_word_len). */
  private val statsSqlCtes: String = {
    val words =
      "list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), t -> t <> '')"
    s"""w AS (SELECT doc_id, $words AS ws,
       |  CAST(list_sum(list_prepend(0::BIGINT,
       |    list_transform($words, x -> CAST(length(x) AS BIGINT)))) AS BIGINT)
       |    AS sum_word_len
       |  FROM documents),
       |tok AS (SELECT doc_id, unnest(ws) AS word FROM w),
       |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |uni AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
       |    CAST(COUNT(*) AS BIGINT) AS n_distinct,
       |    CAST(MAX(tf) AS BIGINT) AS top_tf
       |  FROM tf GROUP BY 1),
       |g2 AS (SELECT doc_id,
       |    unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS gram
       |  FROM w),
       |gf AS (SELECT doc_id, gram, COUNT(*) AS c FROM g2 GROUP BY 1, 2),
       |bi AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_2grams,
       |    CAST(COUNT(*) AS BIGINT) AS n_distinct_2g
       |  FROM gf GROUP BY 1),
       |stats AS (
       |  SELECT doc_id,
       |    COALESCE(n_tokens, 0) AS n_tokens,
       |    COALESCE(n_distinct, 0) AS n_distinct,
       |    COALESCE(top_tf, 0) AS top_tf,
       |    COALESCE(n_2grams, 0) AS n_2grams,
       |    COALESCE(n_distinct_2g, 0) AS n_distinct_2g,
       |    sum_word_len
       |  FROM (SELECT doc_id, sum_word_len FROM w)
       |  LEFT JOIN uni USING (doc_id)
       |  LEFT JOIN bi USING (doc_id))""".stripMargin
  }

  /** Gopher-style repetition report: exact counts + fixed-shape double
    * fractions per doc. */
  def repetition(spark: SparkSession, sfDir: String): DataFrame =
    statsFrame(spark, sfDir).select(
      col("doc_id"), col("n_tokens"), col("n_distinct"), col("top_tf"),
      col("n_2grams"), col("n_distinct_2g"),
      ((col("n_tokens") - col("n_distinct")).cast("double") /
        col("n_tokens").cast("double")).as("dup_token_frac"),
      (col("top_tf").cast("double") / col("n_tokens").cast("double"))
        .as("top_share"),
      ((col("n_2grams") - col("n_distinct_2g")).cast("double") /
        col("n_2grams").cast("double")).as("dup_2gram_frac"))

  val repetitionSql: String =
    s"""WITH $statsSqlCtes
       |SELECT doc_id, n_tokens, n_distinct, top_tf, n_2grams, n_distinct_2g,
       |  CAST(n_tokens - n_distinct AS DOUBLE)/CAST(n_tokens AS DOUBLE) AS dup_token_frac,
       |  CAST(top_tf AS DOUBLE)/CAST(n_tokens AS DOUBLE) AS top_share,
       |  CAST(n_2grams - n_distinct_2g AS DOUBLE)/CAST(n_2grams AS DOUBLE) AS dup_2gram_frac
       |FROM stats""".stripMargin

  /** Hard quality rules → keep/drop. All comparisons are integer
    * cross-multiplications (no division, no floats). */
  def gopherRules(spark: SparkSession, sfDir: String): DataFrame =
    rulesOf(statsFrame(spark, sfDir))

  private[graft] def rulesOf(stats: DataFrame): DataFrame = {
    val passN = col("n_tokens") >= MinWords
    val passWl =
      col("sum_word_len") * 10 >= col("n_tokens") * MeanWordLenLoX10 &&
        col("sum_word_len") * 10 <= col("n_tokens") * MeanWordLenHiX10
    val passTop = col("top_tf") * 1000 <= col("n_tokens") * TopSharePermille
    val pass2g = (col("n_2grams") - col("n_distinct_2g")) * 1000 <=
      col("n_2grams") * Dup2gramPermille
    stats.select(
      col("doc_id"), col("n_tokens").as("n_words"),
      passN.as("pass_n_words"), passWl.as("pass_word_len"),
      passTop.as("pass_top_share"), pass2g.as("pass_dup_2gram"),
      (passN && passWl && passTop && pass2g).as("keep"))
  }

  val gopherRulesSql: String =
    s"""WITH $statsSqlCtes
       |SELECT doc_id, n_tokens AS n_words,
       |  n_tokens >= $MinWords AS pass_n_words,
       |  sum_word_len*10 >= n_tokens*$MeanWordLenLoX10
       |    AND sum_word_len*10 <= n_tokens*$MeanWordLenHiX10 AS pass_word_len,
       |  top_tf*1000 <= n_tokens*$TopSharePermille AS pass_top_share,
       |  (n_2grams - n_distinct_2g)*1000 <= n_2grams*$Dup2gramPermille AS pass_dup_2gram,
       |  (n_tokens >= $MinWords)
       |    AND (sum_word_len*10 >= n_tokens*$MeanWordLenLoX10
       |         AND sum_word_len*10 <= n_tokens*$MeanWordLenHiX10)
       |    AND (top_tf*1000 <= n_tokens*$TopSharePermille)
       |    AND ((n_2grams - n_distinct_2g)*1000 <= n_2grams*$Dup2gramPermille)
       |    AS keep
       |FROM stats""".stripMargin

  /** IQR length-outlier flags per language — the Tukey-fence robust
    * filter (the box-plot rule) beside [[Events.madHourly]]'s MAD:
    * quartiles picked at EXACT ranks under a (n_chars, doc_id) total
    * order (type-1 quantiles: ⌈n/4⌉ and ⌈3n/4⌉ as integer `div`
    * forms), and the 1.5·IQR fences cleared of their /2 denominator —
    * 2·x < 2·q1 − 3·(q3−q1) — so flag decisions are all-integer and
    * bit-identical at the fence. Per-language calibration for the
    * same reason as [[TextAnalysis.qualityPercentile]].
    *
    * Scale shape: ONE lang-keyed exchange carries the rank window and
    * the #langs-row quartile frame (broadcast back); flags are
    * row-local integer compares. */
  def iqrOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars"), col("doc_id"))
    val ranked = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("lang"))))
    val quarts = ranked
      .groupBy(col("lang"))
      .agg(
        sum(when(col("rn") === expr("(n + 3) div 4"), col("n_chars"))
          .otherwise(0L)).as("q1"),
        sum(when(col("rn") === expr("(3 * n + 3) div 4"), col("n_chars"))
          .otherwise(0L)).as("q3"))
    ranked.join(broadcast(quarts), "lang")
      .select(col("doc_id"), col("lang"), col("n_chars"), col("q1"),
        col("q3"),
        (lit(2L) * col("n_chars") <
          lit(2L) * col("q1") - lit(3L) * (col("q3") - col("q1")))
          .as("outlier_low"),
        (lit(2L) * col("n_chars") >
          lit(2L) * col("q3") + lit(3L) * (col("q3") - col("q1")))
          .as("outlier_high"))
  }

  val iqrOutliersSql: String =
    """WITH r AS (SELECT doc_id, lang, n_chars,
      |    CAST(row_number() OVER (PARTITION BY lang
      |      ORDER BY n_chars, doc_id) AS BIGINT) AS rn,
      |    CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n
      |  FROM documents),
      |q AS (SELECT lang,
      |    CAST(SUM(CASE WHEN rn = (n + 3) // 4 THEN n_chars ELSE 0 END)
      |      AS BIGINT) AS q1,
      |    CAST(SUM(CASE WHEN rn = (3 * n + 3) // 4 THEN n_chars ELSE 0 END)
      |      AS BIGINT) AS q3
      |  FROM r GROUP BY 1)
      |SELECT r.doc_id, r.lang, r.n_chars, q.q1, q.q3,
      |  2 * r.n_chars < 2 * q.q1 - 3 * (q.q3 - q.q1) AS outlier_low,
      |  2 * r.n_chars > 2 * q.q3 + 3 * (q.q3 - q.q1) AS outlier_high
      |FROM r JOIN q USING (lang)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "quality_repetition" -> (repetition _),
    "quality_gopher_rules" -> (gopherRules _),
    "quality_iqr_outliers" -> (iqrOutliers _))

  val oracles: Map[String, String] = Map(
    "quality_repetition" -> repetitionSql,
    "quality_gopher_rules" -> gopherRulesSql,
    "quality_iqr_outliers" -> iqrOutliersSql)
}
