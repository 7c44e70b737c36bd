package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Interchange-format round trips — the corpus export/import surface of
  * a training-data pipeline. JSONL is the lingua franca of LLM corpus
  * interchange (one JSON object per line; Spark's json source IS JSONL);
  * CSV covers the tabular-exchange path. Each gate writes the documents
  * table out, reads it back, and recomputes content fingerprints that
  * the DuckDB oracle derives from the ORIGINAL parquet — any loss or
  * corruption in the encode→decode cycle (quoting, escaping, type
  * drift, row loss) hash-mismatches the gate.
  *
  * Scale shape: both writes are partition-parallel (one file per task —
  * the lake layout), and read-back uses an EXPLICIT schema: schema
  * inference would add a full extra pass over 100 TB and can silently
  * drift types between exports. The fingerprint is the polyHash kernel,
  * exact on both engines.
  */
object Formats {

  // Per-JVM unique root: a fixed shared path would let two concurrent
  // sessions (Verify + a benchmark run, parallel CI) overwrite each
  // other's export mid-read and fail the gate on phantom corruption.
  // Within one JVM reruns reuse the dir; mode("overwrite") keeps them
  // clean. It lives under the JVM's scratch root, deleted at exit.
  private lazy val scratchRoot: String =
    graft.Scratch.dir("graft-roundtrip-").toString

  private def scratch(sfDir: String, kind: String): String = {
    val sfName = new java.io.File(sfDir).getName
    s"$scratchRoot/$kind/$sfName"
  }

  private def fingerprints(back: DataFrame): DataFrame =
    back.select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
      length(col("text")).cast("long").as("len_chars"),
      Hashing.stringHash(col("text")).as("text_hash"))

  /** Export the corpus as JSONL, re-import with the explicit schema,
    * fingerprint the content. */
  def jsonlRoundTrip(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val dir = scratch(sfDir, "jsonl")
    docs.write.mode("overwrite").json(dir)
    fingerprints(spark.read.schema(docs.schema).json(dir))
  }

  /** Same gate through the CSV sink/source (header + quoted text).
    * The WRITER's ignore*WhiteSpace options default to true — i.e. the
    * default CSV sink silently trims field edges, a lossy export no
    * corpus pipeline should ship. Both are forced off here. */
  def csvRoundTrip(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val dir = scratch(sfDir, "csv")
    docs.write.mode("overwrite").option("header", "true")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(dir)
    fingerprints(
      spark.read.schema(docs.schema).option("header", "true").csv(dir))
  }

  /** Same gate through the ORC sink/source — the other columnar lake
    * format (Hive-lineage warehouses standardize on it), completing the
    * interchange matrix: row-oriented text (JSONL/CSV) and columnar
    * binary (parquet via the layout gates, ORC here). Unlike CSV there
    * are no lossy writer defaults to force off — the gate's value is
    * proving the TYPE fidelity of the second binary format (a long
    * silently widened/narrowed or a string re-encoded on the ORC path
    * would hash-mismatch) with the same explicit-schema read-back
    * discipline. */
  def orcRoundTrip(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val dir = scratch(sfDir, "orc")
    docs.write.mode("overwrite").orc(dir)
    fingerprints(spark.read.schema(docs.schema).orc(dir))
  }

  /** The oracle never sees the round trip — it fingerprints the source
    * parquet directly, so the gate passes only if the export→import
    * cycle is lossless. */
  private val fingerprintsSql: String =
    s"""SELECT doc_id, lang, source, n_chars,
       |  CAST(length(text) AS BIGINT) AS len_chars,
       |  ${Hashing.stringHashSql("text")} AS text_hash
       |FROM documents""".stripMargin

  /** Hive-style partition layout: write the corpus partitionBy(lang),
    * read ONE partition back. At 100 TB this is the difference between
    * scanning the lake and scanning a directory — the filter must
    * become a partition-pruning predicate (FormatsSpec pins the scan's
    * partitionFilters), and the gate proves the pruned read is also
    * CORRECT: fingerprints must match the oracle's `WHERE lang = 'en'`
    * over the original table, so a doc routed to the wrong partition
    * (or a type drift in the partition column) hash-mismatches. */
  def partitionedScan(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val dir = scratch(sfDir, "bylang")
    docs.write.mode("overwrite").partitionBy("lang").parquet(dir)
    fingerprints(spark.read.parquet(dir).filter(col("lang") === "en"))
  }

  val partitionedScanSql: String =
    s"$fingerprintsSql WHERE lang = 'en'"

  /** Bucketed co-located fact⋈fact join — the lake-layout lever for a
    * join too big to broadcast either side: write BOTH fact tables
    * bucketed (and sorted) on the join key, and the join needs NO
    * shuffle at read time — each task zips bucket i with bucket i. At
    * 100 TB this converts the single biggest exchange a warehouse runs
    * (lineitem⋈orders) into embarrassingly parallel work, paid once at
    * write time and amortized over every subsequent join on that key.
    * PlanSpec pins the absence of join-key exchanges — the entire point
    * of the layout; the gate pins that bucketing changed NOTHING about
    * the result (the oracle joins the raw parquet).
    *
    * The merge-join hint keeps the demonstration honest at test SF
    * (AQE would broadcast the small side and hide the co-location). */
  def bucketedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val sfTag = new java.io.File(sfDir).getName.replace('.', '_')
    val oTbl = s"graft_b_orders_$sfTag"
    val lTbl = s"graft_b_lineitem_$sfTag"
    val dir = scratch(sfDir, "bucketed")
    // Bucket count sized from the FACT side (round 14): a fixed count
    // is the layout lever that silently stops scaling — per-bucket
    // volume (and the write-side sort) grows linearly while read
    // parallelism stays flat, exactly the shape a 100× scale-up breaks
    // on. ~2M lines per bucket keeps each bucket one healthy task;
    // both tables MUST share the count or the co-located zip is lost.
    // Gate SFs sit at the floor (8), so gate values and the committed
    // small-SF numbers are unchanged; values are layout-invariant
    // anyway (the oracle joins the raw parquet). Cardinality comes from
    // the parquet footers (round 15) — sizing the layout must not cost
    // an extra fact-table scan per run.
    val nBuckets = math.max(8L,
      Tables.parquetRowCount(spark, sfDir, "lineitem") / 2000000L).toInt
    // r18 (guide §6 file layout): repartition onto the BUCKET hash
    // before each write. A bucketed write does not shuffle — every
    // write task emits a file into every bucket it touches, so the
    // un-repartitioned layout produced up to tasks × buckets files
    // (32 × 90 at sf30) and, with several files per bucket, the scan
    // cannot claim per-bucket sort order, forcing the join to re-sort
    // both sides. repartition(nBuckets, key) uses the same hash as the
    // bucketing, so each task holds exactly one bucket: one file per
    // bucket, writer's sortBy = the file's order, and the read-back
    // join plans with neither exchanges NOR sorts (FormatsSpec pins the
    // exchange-free read; values are layout-invariant — the oracle
    // joins the raw parquet).
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .repartition(nBuckets, col("o_orderkey"))
      .write.mode("overwrite").option("path", s"$dir/orders")
      .bucketBy(nBuckets, "o_orderkey").sortBy("o_orderkey")
      .format("parquet").saveAsTable(oTbl)
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .repartition(nBuckets, col("l_orderkey"))
      .write.mode("overwrite").option("path", s"$dir/lineitem")
      .bucketBy(nBuckets, "l_orderkey").sortBy("l_orderkey")
      .format("parquet").saveAsTable(lTbl)
    spark.table(lTbl).hint("merge")
      .join(spark.table(oTbl), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        sum(round(col("l_extendedprice") * 100).cast("long") *
          (lit(10000L) - round(col("l_discount") * 10000).cast("long")))
          .as("revenue_e6"))
  }

  val bucketedJoinSql: String =
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_lines,
      |  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
      |    * (10000 - CAST(round(l_discount*10000) AS BIGINT))) AS BIGINT)
      |    AS revenue_e6
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority""".stripMargin

  /** Bits per normalized dimension in the Z-order demo: keys are scaled
    * into [0, 256) so the interleave is a fixed 16-bit z-value whatever
    * the raw key domain. */
  private val ZBits = 8

  /** 16 equal-width buckets = the top 4 z-bits (resp. key bits). */
  private val ZBucketShift = 2 * ZBits - 4

  /** Z-order (Morton-curve) clustering report over (l_partkey,
    * l_suppkey) — the MULTI-dimensional data-skipping layout
    * (Delta/Iceberg `OPTIMIZE ZORDER BY`), completing the layout trio:
    * partition pruning (one column, exact), bucketing (one join key),
    * and now z-ordering (several filter columns at once). Each row's
    * keys are normalized to [[ZBits]]-bit space against a 1-row max
    * aggregate (broadcast — O(1) at any SF), bit-interleaved into a
    * z-value with pure integer shifts (codegen'd map work, no UDF), and
    * bucketed by the top 4 z-bits — equal-WIDTH z ranges, deliberately
    * not equal-count ranks: a rank bucketing needs a global sort, while
    * the z-value is a pure row-local function, which is also why
    * rewriting a 100 TB table in z order is just `repartitionByRange(z)`
    * + write. The report emits each bucket's row count and min/max of
    * BOTH raw keys next to the same stats under single-column range
    * bucketing ('lex'). The point is NOT the span product — on
    * independent uniform keys any balanced grid split has the same
    * product (16 buckets ⇒ A·B/16 however the bits divide between
    * dims, and the gate output shows exactly that) — it is the
    * per-dimension bound: z buckets subdivide BOTH key ranges, so a
    * min/max-pruning scan filtered on EITHER column skips most
    * buckets, while lex buckets leave the second column full-width and
    * prune NOTHING for b-only filters (FormatsSpec pins both halves of
    * that statement). */
  def zorderReport(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey").as("a"), col("l_suppkey").as("b"))
    val maxes = li.agg(max(col("a")).as("amax"), max(col("b")).as("bmax"))
    val norm = li.crossJoin(broadcast(maxes))
      .select(col("a"), col("b"),
        (col("a") * (1L << ZBits)).divide(col("amax") + 1).cast("long").as("a8"),
        (col("b") * (1L << ZBits)).divide(col("bmax") + 1).cast("long").as("b8"))
    val z = (0 until ZBits).map { i =>
      shiftright(col("a8"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)) +
        shiftright(col("b8"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))
    }.reduce(_ + _)
    val bucketed = norm.select(col("a"), col("b"),
      shiftright(z, ZBucketShift).as("zbucket"),
      shiftright(col("a8"), ZBits - 4).as("lexbucket"))
    def spans(strategy: String, bucket: org.apache.spark.sql.Column) =
      bucketed.groupBy(lit(strategy).as("strategy"), bucket.as("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("a")).as("a_min"), max(col("a")).as("a_max"),
          min(col("b")).as("b_min"), max(col("b")).as("b_max"))
        .withColumn("span_product",
          (col("a_max") - col("a_min") + 1) * (col("b_max") - col("b_min") + 1))
    spans("zorder", col("zbucket")).unionAll(spans("lex", col("lexbucket")))
  }

  val zorderReportSql: String = {
    val zExpr = (0 until ZBits).map { i =>
      s"((a8 >> $i) & 1) * ${1L << (2 * i + 1)} + ((b8 >> $i) & 1) * ${1L << (2 * i)}"
    }.mkString(" + ")
    s"""WITH li AS (SELECT l_partkey AS a, l_suppkey AS b FROM lineitem),
       |mx AS (SELECT MAX(a) AS amax, MAX(b) AS bmax FROM li),
       |norm AS (SELECT a, b,
       |    CAST(a * ${1L << ZBits} // (amax + 1) AS BIGINT) AS a8,
       |    CAST(b * ${1L << ZBits} // (bmax + 1) AS BIGINT) AS b8
       |  FROM li, mx),
       |bk AS (SELECT a, b,
       |    CAST(($zExpr) >> $ZBucketShift AS BIGINT) AS zbucket,
       |    CAST(a8 >> ${ZBits - 4} AS BIGINT) AS lexbucket
       |  FROM norm),
       |sp AS (
       |  SELECT 'zorder' AS strategy, zbucket AS bucket,
       |    CAST(COUNT(*) AS BIGINT) AS n_rows,
       |    MIN(a) AS a_min, MAX(a) AS a_max, MIN(b) AS b_min, MAX(b) AS b_max
       |  FROM bk GROUP BY 2
       |  UNION ALL
       |  SELECT 'lex' AS strategy, lexbucket AS bucket,
       |    CAST(COUNT(*) AS BIGINT) AS n_rows,
       |    MIN(a) AS a_min, MAX(a) AS a_max, MIN(b) AS b_min, MAX(b) AS b_max
       |  FROM bk GROUP BY 2)
       |SELECT strategy, bucket, n_rows, a_min, a_max, b_min, b_max,
       |  CAST((a_max - a_min + 1) * (b_max - b_min + 1) AS BIGINT)
       |    AS span_product
       |FROM sp""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "export_jsonl_roundtrip" -> (jsonlRoundTrip _),
    "export_csv_roundtrip" -> (csvRoundTrip _),
    "export_orc_roundtrip" -> (orcRoundTrip _),
    "layout_partitioned_scan" -> (partitionedScan _),
    "layout_bucketed_join" -> (bucketedJoin _),
    "layout_zorder_report" -> (zorderReport _))

  val oracles: Map[String, String] = Map(
    "export_jsonl_roundtrip" -> fingerprintsSql,
    "export_csv_roundtrip" -> fingerprintsSql,
    "export_orc_roundtrip" -> fingerprintsSql,
    "layout_partitioned_scan" -> partitionedScanSql,
    "layout_bucketed_join" -> bucketedJoinSql,
    "layout_zorder_report" -> zorderReportSql)
}
