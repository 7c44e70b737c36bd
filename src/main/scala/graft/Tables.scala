package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.LongType

/** Loaders for the driver's synthetic parquet tables (TESTDATA.md).
  *
  * All tables are read lazily; at cluster scale the parquet reader gets
  * predicate pushdown + column pruning from Catalyst for free, so callers
  * should `select`/`filter` as early as possible and let the optimizer
  * reach the scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Resolved-relation cache: file listing + parquet footer resolution
    * happen once per (session, path); DataFrames are immutable so reuse
    * is safe. Keying: weak IDENTITY on the session (identityHashCode
    * alone can collide between live sessions). Values are
    * SoftReferences — a cached DataFrame strongly references its
    * session, so hard values would pin stopped sessions through the
    * weak key; soft values let the GC reclaim both. A rewritten fixture
    * file needs a new session to re-resolve — fine for read-only data. */
  private val relationCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[
        String, java.lang.ref.SoftReference[DataFrame]]]())

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val perSession = {
      var m = relationCache.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[
          String, java.lang.ref.SoftReference[DataFrame]]()
        val prev = relationCache.put(spark, m)
        if (prev != null) m = prev
      }
      m
    }
    val path = s"$sfDir/$name.parquet"
    val cached = Option(perSession.get(path)).flatMap(r => Option(r.get))
    cached.getOrElse {
      val df = spark.read.parquet(path)
      perSession.put(path, new java.lang.ref.SoftReference(df))
      df
    }
  }

  /** Exact row count from parquet footer metadata — no data scan, no
    * Spark job. Layout-sizing decisions (e.g. bucket counts) need the
    * table's cardinality but must not pay a full fact-table pass for
    * it: at 100 TB a footer walk is a metadata-only driver read
    * (one ~KB footer per file), while a `count()` is a cluster scan.
    * Handles both a single parquet file and a directory of part files. */
  def parquetRowCount(spark: SparkSession, sfDir: String, name: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(s"$sfDir/$name.parquet")
    val fs = root.getFileSystem(conf)
    // Recurse into every non-hidden subdirectory (partitioned layouts
    // nest `key=v/` dirs whose names carry no .parquet suffix); the name
    // filter applies only to regular FILES, skipping _SUCCESS/.crc and
    // other sidecar metadata (round-15 advisory: filtering directories
    // by suffix silently undercounted nested layouts).
    def files(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
      val st = fs.getFileStatus(p)
      val name = st.getPath.getName
      if (st.isDirectory) {
        if (name.startsWith("_") || name.startsWith(".")) Seq.empty
        else fs.listStatus(p).toSeq.flatMap(s => files(s.getPath))
      } else if (name.endsWith(".parquet")) Seq(p)
      else Seq.empty
    }
    files(root).map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** [[parquetRowCount]] of the lineitem fact, memoized per (session,
    * sfDir) — the shared input-size dial every scale-gated plan choice
    * reads (bloom pre-filters, graph co-partitioning). One footer walk
    * per session, never a scan. */
  def lineitemRowsMemo(spark: SparkSession, sfDir: String): Long =
    graft.ext.Frames.scalarMemo("lineitem_footer_rows", spark, sfDir) {
      parquetRowCount(spark, sfDir, "lineitem")
    }

  /** A long-valued gate setting (`spark.graft.*`): the set value when
    * it parses as an integer, else `default` — a malformed setting must
    * not fail the query it only tunes. */
  private[graft] def longSetting(value: Option[String], default: Long): Long =
    value.flatMap(_.trim.toLongOption).getOrElse(default)

  def documents(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "embeddings")

  /** The events table with `ts` normalized to timestamp_ntz micros,
    * aligned with every other timestamp column and with DuckDB's naive
    * TIMESTAMP semantics (session timezone is UTC everywhere). A pure
    * read: it sets no session setting. A TIMESTAMP(NANOS) events file
    * needs `spark.sql.legacy.parquet.nanosAsLong=true` at session setup;
    * it then reads as epoch nanos and [[normalizeEventTs]] divides by
    * 1000, lossless for micro-precision data. */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeEventTs(apply(spark, sfDir, "events"))

  /** Shared ts normalization — used by the batch loader above AND the
    * streaming source (graft.streaming), so the two can never diverge.
    * The `LongType` branch is the nanosAsLong read of a TIMESTAMP(NANOS)
    * file. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    if (df.schema("ts").dataType == LongType)
      df.withColumn("ts",
        expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
    else df.withColumn("ts", col("ts").cast("timestamp_ntz"))
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "supplier")
  def nation(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "region")
  def part(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "part")
}
