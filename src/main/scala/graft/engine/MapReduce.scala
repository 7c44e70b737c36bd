package graft.engine

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The reference dataflow's one value type: a string key/value pair
  * (`/root/reference/src/mr/worker.go:15-18`). */
case class KV(key: String, value: String)

/** Generic MapReduce façade — the reference engine's whole application API
  * (`Map(filename, contents) []KeyValue` + `Reduce(key, values) string`,
  * loaded from Go plugins at `/root/reference/src/main/mrworker.go:32-49`)
  * re-expressed as one lazy Spark plan:
  *
  *   whole-file scan → flatMap(mapF) → one hash exchange on `key`
  *   (`nReduce` buckets) → [[GenericReduce]] per key → (key, value) dataset
  *
  * Scheduling concerns the reference hand-rolls (pull-based assignment,
  * the map→reduce phase barrier, 10 s straggler re-execution, at-least-once
  * retry with idempotent output — SURVEY.md §2.10) are Spark's scheduler,
  * stage boundary, speculation, and task retry; none are reimplemented.
  *
  * Semantics notes:
  *  - `reduceF` receives ALL values of a key, materialized, like the
  *    reference (`src/mr/worker.go:118,136`). Reference reduces are NOT
  *    required to be commutative monoids (indexer/crash sort inside the
  *    group, `src/mrapps/indexer.go:37`), so pairwise `reduceGroups`
  *    folding would be wrong — this is collect-then-finish by design.
  *    Value order within a group is unspecified, exactly as the
  *    reference's hash-map grouping makes it.
  *  - `nReduce` is the bucket count of the one exchange, hence of output
  *    partitions; the hash differs (Murmur3 vs FNV-1a) but bucket layout
  *    is not an observable output (the reference's own tests sort-merge
  *    all partitions before comparing, `src/main/test-mr.sh:103`).
  */
object MapReduce {

  type MapF = (String, String) => Seq[KV]
  type ReduceF = (String, Seq[String]) => String

  /** Whole-file scan (S1) via the `wholefile` source: one `(path,
    * contents)` row per file, empty files too (`src/mr/worker.go:166-173`).
    * Keys are plain local paths, as the reference's apps see `os.Args`.
    * Parity path only — whole-file rows are wrong at 100 TB; the ext
    * layer reads columnar parquet instead. */
  def wholeFiles(spark: SparkSession, paths: Seq[String]): Dataset[KV] = {
    import spark.implicits._
    spark.read.format("wholefile").load(paths: _*)
      .select(col("path").as("key"), col("content").as("value"))
      .as[KV]
  }

  /** Run a full job over an already-loaded `(filename, contents)` dataset. */
  def runJob(input: Dataset[KV], mapF: MapF, reduceF: ReduceF,
      nReduce: Int = 10): Dataset[KV] = {
    import input.sparkSession.implicits._
    input
      .flatMap(kv => mapF(kv.key, kv.value))
      .repartition(nReduce, col("key"))
      .groupBy(col("key"))
      .agg(udaf(new GenericReduce(reduceF)).apply(col("key"), col("value")).as("value"))
      .as[KV]
  }

  /** Run a job over files on disk (the reference's
    * `mrcoordinator pg-*.txt` entry point, §3.1). */
  def runJobOnFiles(spark: SparkSession, paths: Seq[String], mapF: MapF,
      reduceF: ReduceF, nReduce: Int = 10): Dataset[KV] =
    runJob(wholeFiles(spark, paths), mapF, reduceF, nReduce)

  /** S5 sorted text sink: `"key value"` lines, key-sorted within each
    * output partition (`src/mr/worker.go:124-138`). */
  def sortedTextSink(result: Dataset[KV], outDir: String): Unit =
    result
      .sortWithinPartitions("key")
      .select(concat_ws(" ", col("key"), col("value")))
      .write.mode("overwrite").text(outDir)

  /** S4-shaped JSON-lines KV sink: `nReduce` hash partitions of
    * `{"Key":…,"Value":…}` rows — the reference's intermediate format
    * (`src/mr/worker.go:182-190`, field names included), as an exposed
    * format rather than an execution detail. */
  def jsonKvSink(ds: Dataset[KV], outDir: String, nReduce: Int = 10): Unit =
    ds.repartition(nReduce, col("key"))
      .select(col("key").as("Key"), col("value").as("Value"))
      .write.mode("overwrite").json(outDir)

  /** S3-shaped scan of a JSON KV directory (missing/extra bucket files
    * are tolerated exactly like the reference's `continue`-on-open-error,
    * `src/mr/worker.go:105-122` — the reader lists whatever exists). */
  def jsonKvSource(spark: SparkSession, dir: String): Dataset[KV] = {
    import spark.implicits._
    spark.read.schema("Key STRING, Value STRING").json(dir)
      .select(col("Key").as("key"), col("Value").as("value")).as[KV]
  }

  // ---- The reference's 8 mrapps expressed through the generic façade ----
  // (used by specs to prove the UDF surface; the production pipelines in
  // graft.apps.MrApps express the same semantics declaratively.)

  private def tokenize(s: String): Seq[String] =
    s.split("[^\\p{L}]+").filter(_.nonEmpty).toSeq

  /** wc.go map/reduce. */
  val wcMap: MapF = (_, contents) => tokenize(contents).map(KV(_, "1"))
  val wcReduce: ReduceF = (_, values) => values.size.toString

  /** indexer.go map/reduce (per-doc distinct; sorted doc list). */
  val indexerMap: MapF =
    (file, contents) => tokenize(contents).distinct.map(KV(_, file))
  val indexerReduce: ReduceF =
    (_, docs) => s"${docs.size} ${docs.sorted.mkString(",")}"

  /** crash.go/nocrash.go reduce: order-insensitive sorted concat. */
  val sortedJoinReduce: ReduceF = (_, values) => values.sorted.mkString(" ")
}
