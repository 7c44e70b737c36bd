package graft.apps

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{KV, MapReduce, Tokenizer}

/** The reference's eight MapReduce applications re-expressed as declarative
  * DataFrame pipelines (SURVEY.md §2.2/§2.4). Input stand-in corpus is the
  * driver's `documents` table (doc_id, text, lang, source, n_chars) —
  * FIXTURES.md §2.
  *
  * Every declarative pipeline is pure Catalyst built-ins: the shuffle is a hash
  * aggregation with map-side partial agg (a strict upgrade over the
  * reference, which ships raw map output — `src/mr/worker.go:176-190`), and
  * `collect_list` aggregates use `ObjectHashAggregate` with spill, fixing
  * the reference's unbounded in-memory grouping (`src/mr/worker.go:103`).
  */
object MrApps {

  /** Word count (reference flagship; map `src/mrapps/wc.go:22-35`, reduce
    * `wc.go:40-43`): tokenize, emit 1 per occurrence, count per word.
    * At scale: partial aggregation makes the shuffle carry one row per
    * (partition, word), not one per occurrence.
    */
  def wordCount(docs: DataFrame): DataFrame =
    docs
      .select(Tokenizer.words(col("text")).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))

  /** Inverted index (map `src/mrapps/indexer.go:20-31`, reduce
    * `indexer.go:36-39`): per-document-distinct words, then per word a
    * document count + the sorted comma-joined document list.
    * `distinct()` collapses duplicates before the grouping shuffle.
    */
  def invertedIndex(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id").cast("string").as("doc"),
        Tokenizer.words(col("text")).as("word"))
      .distinct()
      .groupBy("word")
      .agg(
        count(lit(1)).as("n_docs"),
        concat_ws(",", sort_array(collect_list(col("doc")))).as("docs"))

  /** Order-insensitive canonical concat per key (reduce of
    * `src/mrapps/crash.go:45-55` / `nocrash.go:37-47`): sort group values,
    * join with a space. Key = lang, values = doc ids (as strings, matching
    * the reference's all-string dataflow).
    * NOTE: non-monoid reduce — must materialize the group then sort
    * (SURVEY.md §2.9), hence collect_list + sort_array, never reduceGroups.
    */
  def sortedConcat(docs: DataFrame): DataFrame =
    docs
      .groupBy(col("lang").as("key"))
      .agg(concat_ws(" ", sort_array(collect_list(col("doc_id").cast("string"))))
        .as("vals"))

  /** Count per input-file key (map `src/mrapps/early_exit.go:19-23`, reduce
    * `early_exit.go:28-36`): one row per document keyed by its source. */
  def fileCount(docs: DataFrame): DataFrame =
    docs.groupBy(col("source")).agg(count(lit(1)).as("cnt"))

  /** Fan-out constant keys (map `src/mrapps/rtiming.go:62-76`): emit keys
    * a..j per input row, count per key — exercises a generator that
    * multiplies rows before the shuffle. */
  def fanout(docs: DataFrame): DataFrame =
    docs
      .select(explode(array(('a' to 'j').map(c => lit(c.toString)): _*)).as("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("cnt"))

  /** Constant-tuple probe map (M3, `src/mrapps/crash.go:34-43` /
    * `nocrash.go:26-35`): per document emit ("a", source), ("b",
    * len(source)), ("c", len(text)), ("d", "xyzzy"), then the A4
    * order-insensitive sorted-concat reduce per key. */
  def constantTuples(docs: DataFrame): DataFrame =
    docs
      .select(explode(array(
        struct(lit("a").as("k"), col("source").as("v")),
        struct(lit("b").as("k"), length(col("source")).cast("string").as("v")),
        struct(lit("c").as("k"), length(col("text")).cast("string").as("v")),
        struct(lit("d").as("k"), lit("xyzzy").as("v")))).as("kv"))
      .select(col("kv.k").as("key"), col("kv.v").as("v"))
      .groupBy("key")
      .agg(concat_ws(" ", sort_array(collect_list(col("v")))).as("vals"))

  /** The reference's output format (S5, `src/mr/worker.go:131-138`):
    * `"<key> <value>"` text lines from the word count. The driver compare
    * is order-normalized (as is the reference's own test,
    * `src/main/test-mr.sh:103`), so no global sort is forced here; the
    * text sink ([[graft.engine.MapReduce.sortedTextSink]]) sorts each
    * bucket on key at write time. */
  def goldenLines(docs: DataFrame): DataFrame =
    wordCount(docs).select(concat_ws(" ", col("word"), col("cnt")).as("line"))

  import org.apache.spark.sql.SparkSession
  private def onDocs(f: DataFrame => DataFrame): (SparkSession, String) => DataFrame =
    (s, dir) => f(graft.Tables.documents(s, dir))

  /** The generic-reduce twins: the same three reference reduces through
    * the façade's reduce stage, [[graft.engine.MapReduce.reduce]] — the
    * reference's `Reduce(key, values) string` API
    * (`src/main/mrworker.go:32-49`) run as its reduce worker runs it, one
    * sort and one walk per bucket — so the DuckDB gate pins the code
    * `runJob` runs. The walk hands `reduceF` all of a key's values BY
    * CONTRACT (non-monoid reduces; SURVEY §2.9): per-key memory is the
    * key's value multiplicity, so the twins run on a deterministic
    * 1-in-20 doc subset (`doc_id % 20`, the knn keys' workload-predicate
    * idiom) to bound the hottest key's list at any SF; the declarative
    * twins above are the unbounded-scale path. */
  private def docSubset(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 20 === 0)

  /** Reduce `(key, value)` pairs with `f` and name the output column. */
  private def reduced(pairs: DataFrame, f: MapReduce.ReduceF,
      out: String): DataFrame = {
    import pairs.sparkSession.implicits._
    MapReduce.reduce(pairs.as[KV], f).withColumnRenamed("value", out)
  }

  def reduceWordCount(spark: SparkSession, dir: String): DataFrame =
    reduced(docSubset(graft.Tables.documents(spark, dir))
      .select(Tokenizer.words(col("text")).as("key"), lit("1").as("value")),
      MapReduce.wcReduce, "cnt")

  def reduceSortedConcat(spark: SparkSession, dir: String): DataFrame =
    // Same 1-in-20 subset bound as the other twins: keyed by lang over
    // the FULL corpus, one key's list would hold every doc_id of a
    // language, corpus-linear. The declarative mr_sorted_concat above
    // stays full-corpus (sort_array over a columnar agg buffer).
    reduced(docSubset(graft.Tables.documents(spark, dir))
      .select(col("lang").as("key"), col("doc_id").cast("string").as("value")),
      MapReduce.sortedJoinReduce, "vals")

  def reduceIndexer(spark: SparkSession, dir: String): DataFrame =
    reduced(docSubset(graft.Tables.documents(spark, dir))
      .select(Tokenizer.words(col("text")).as("key"),
        col("doc_id").cast("string").as("value"))
      .distinct(),
      MapReduce.indexerReduce, "entry")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mr_wordcount" -> onDocs(wordCount),
    "mr_inverted_index" -> onDocs(invertedIndex),
    "mr_sorted_concat" -> onDocs(sortedConcat),
    "mr_file_count" -> onDocs(fileCount),
    "mr_fanout" -> onDocs(fanout),
    "mr_constant_tuples" -> onDocs(constantTuples),
    "mr_golden_lines" -> onDocs(goldenLines),
    "mr_reduce_count" -> (reduceWordCount _),
    "mr_reduce_sorted_concat" -> (reduceSortedConcat _),
    "mr_reduce_indexer" -> (reduceIndexer _))

  private val tokenSubquery =
    """SELECT CAST(doc_id AS VARCHAR) AS doc,
      |    unnest(regexp_split_to_array(text, '[^a-zA-Z]+')) AS word
      |  FROM documents""".stripMargin

  private val tokenSubquery2 =
    """SELECT CAST(doc_id AS VARCHAR) AS doc,
      |    unnest(regexp_split_to_array(text, '[^a-zA-Z]+')) AS word
      |  FROM documents WHERE doc_id % 20 = 0""".stripMargin

  val oracles: Map[String, String] = Map(
    "mr_wordcount" ->
      s"""SELECT word, COUNT(*) AS cnt FROM ($tokenSubquery)
         |WHERE word <> '' GROUP BY word""".stripMargin,
    "mr_inverted_index" ->
      s"""SELECT word, COUNT(*) AS n_docs, string_agg(doc, ',' ORDER BY doc) AS docs
         |FROM (SELECT DISTINCT doc, word FROM ($tokenSubquery) WHERE word <> '')
         |GROUP BY word""".stripMargin,
    "mr_sorted_concat" ->
      """SELECT lang AS key,
        |  string_agg(CAST(doc_id AS VARCHAR), ' ' ORDER BY CAST(doc_id AS VARCHAR)) AS vals
        |FROM documents GROUP BY lang""".stripMargin,
    "mr_file_count" ->
      "SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source",
    "mr_fanout" ->
      """SELECT k, COUNT(*) AS cnt FROM (
        |  SELECT unnest(['a','b','c','d','e','f','g','h','i','j']) AS k FROM documents)
        |GROUP BY k""".stripMargin,
    "mr_constant_tuples" ->
      """SELECT key, string_agg(v, ' ' ORDER BY v) AS vals FROM (
        |  SELECT 'a' AS key, source AS v FROM documents
        |  UNION ALL SELECT 'b', CAST(length(source) AS VARCHAR) FROM documents
        |  UNION ALL SELECT 'c', CAST(length(text) AS VARCHAR) FROM documents
        |  UNION ALL SELECT 'd', 'xyzzy' FROM documents)
        |GROUP BY key""".stripMargin,
    "mr_golden_lines" ->
      s"""SELECT word || ' ' || CAST(cnt AS VARCHAR) AS line FROM (
         |  SELECT word, COUNT(*) AS cnt FROM ($tokenSubquery)
         |  WHERE word <> '' GROUP BY word)""".stripMargin,
    // Generic-reduce twins: all-STRING outputs (the reference reduces
    // return strings) over the 1-in-20 doc subset where fan-out applies.
    "mr_reduce_count" ->
      s"""SELECT word AS key, CAST(COUNT(*) AS VARCHAR) AS cnt
         |FROM ($tokenSubquery2) WHERE word <> '' GROUP BY word""".stripMargin,
    "mr_reduce_sorted_concat" ->
      """SELECT lang AS key,
        |  string_agg(CAST(doc_id AS VARCHAR), ' ' ORDER BY CAST(doc_id AS VARCHAR)) AS vals
        |FROM documents WHERE doc_id % 20 = 0 GROUP BY lang""".stripMargin,
    "mr_reduce_indexer" ->
      s"""SELECT word AS key,
         |  CAST(COUNT(*) AS VARCHAR) || ' ' || string_agg(doc, ',' ORDER BY doc) AS entry
         |FROM (SELECT DISTINCT doc, word FROM ($tokenSubquery2) WHERE word <> '')
         |GROUP BY word""".stripMargin)
}
