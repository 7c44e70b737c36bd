package graft.engine

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.commons.io.FileUtils
import org.apache.spark.TaskContext
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
  *   (`nReduce` buckets) → sort each bucket on `key` → one walk per
  *   bucket, `reduceF` once per run of equal keys → (key, value) dataset
  *
  * as the reference's reduce worker does (`src/mr/worker.go:124-138`);
  * the sort spills, so memory is bounded per key, not per bucket.
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
    reduce(input.flatMap(kv => mapF(kv.key, kv.value)), reduceF, nReduce)
  }

  /** The reduce stage alone, over already-built `(key, value)` pairs: one
    * hash exchange on `key` into `nReduce` buckets, a sort of each bucket
    * on `key`, and one walk per bucket that calls `reduceF` once per run
    * of equal keys. [[runJob]] and the gated `mr_reduce_*` twins
    * ([[graft.apps.MrApps]]) both reduce through it. */
  def reduce(pairs: Dataset[KV], reduceF: ReduceF,
      nReduce: Int = 10): Dataset[KV] = {
    import pairs.sparkSession.implicits._
    pairs
      .repartition(nReduce, col("key"))
      .sortWithinPartitions("key")
      .mapPartitions { sorted =>
        val rows = sorted.buffered
        Iterator.continually(rows).takeWhile(_.hasNext).map { _ =>
          val key = rows.head.key
          val values = List.newBuilder[String]
          while (rows.hasNext && rows.head.key == key) values += rows.next().value
          KV(key, reduceF(key, values.result()))
        }
      }
  }

  /** Run a job over files on disk (the reference's
    * `mrcoordinator pg-*.txt` entry point, §3.1). */
  def runJobOnFiles(spark: SparkSession, paths: Seq[String], mapF: MapF,
      reduceF: ReduceF, nReduce: Int = 10): Dataset[KV] =
    runJob(wholeFiles(spark, paths), mapF, reduceF, nReduce)

  /** S5 sorted text sink: `"key value"` lines, key-sorted, in one
    * `part-NNNNN` per partition, empty ones too, as the reference writes
    * `mr-out-<r>` for every reduce task (`src/mr/worker.go:124-138`). An
    * existing `outDir` is replaced; it must be a local or shared-mount path
    * ([[graft.sources.WholeFileSource.localPath]]). A task renames its
    * attempt file to `_temporary/part-NNNNN`, so a retry leaves the same
    * bytes; the driver moves the parts up, deletes `_temporary` (on failure
    * too) and writes `_SUCCESS`. Tasks carry no Hadoop configuration. */
  def sortedTextSink(result: Dataset[KV], outDir: String): Unit = {
    import result.sparkSession.implicits._
    val out = graft.sources.WholeFileSource.localPath(outDir)
    if (Files.exists(out)) FileUtils.forceDelete(out.toFile)
    val tmp = Files.createDirectories(out.resolve("_temporary")).toString
    try {
      result.sortWithinPartitions("key")
        .select(concat_ws(" ", col("key"), col("value"))).as[String]
        .foreachPartition((lines: Iterator[String]) => writePart(tmp, lines))
      val parts = new File(tmp).listFiles().filter(_.getName.startsWith("part-"))
      parts.foreach(p => Files.move(p.toPath, out.resolve(p.getName)))
      // Spark prunes the plan of an empty input to no partitions.
      if (parts.isEmpty) Files.createFile(out.resolve("part-00000"))
    } finally FileUtils.deleteDirectory(new File(tmp))
    Files.createFile(out.resolve("_SUCCESS"))
  }

  private def writePart(tmp: String, lines: Iterator[String]): Unit = {
    val tc = TaskContext.get()
    val attempt = Paths.get(tmp, s"${tc.partitionId()}-${tc.taskAttemptId()}")
    val w = Files.newBufferedWriter(attempt) // UTF-8
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    Files.move(attempt, attempt.resolveSibling(f"part-${tc.partitionId()}%05d"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

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

  // ---- The reference's mrapps map/reduce closures for the façade ----
  // (graft.apps.MrRun, the specs and perfbench run them through `runJob`;
  // the reduces also back the gated `mr_reduce_*` twins in
  // graft.apps.MrApps, through `reduce`.)

  private def tokenize(s: String): Seq[String] =
    s.split(Tokenizer.UnicodePattern).filter(_.nonEmpty).toSeq

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
