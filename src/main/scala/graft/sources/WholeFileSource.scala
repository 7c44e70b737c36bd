package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 rendition of the reference's S1 whole-file scan — one
  * task per input file delivering `(path, content, length)`
  * (`/root/reference/src/mr/coordinator.go:144-156` creates one map task
  * per file; `src/mr/worker.go:166-173` reads the whole file as one
  * string). First-class source surface:
  *
  * {{{
  *   spark.read.format("wholefile").load("/data/dir")      // or .load(glob)
  *   spark.read.format("wholefile").load(file, dir, glob)  // several paths
  * }}}
  *
  * Implements `SupportsPushDownRequiredColumns`, so `SELECT path` never
  * reads file bytes — metadata-only listings stay I/O-free. Partitioning
  * is exactly the reference's: one `InputPartition` per file (nMap =
  * #files). Whole-file rows are a parity surface, not a 100 TB posture
  * (SURVEY.md §7.7.4) — large corpora belong in splittable columnar
  * formats; this source is for the many-small-documents shape.
  */
class WholeFileSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "wholefile"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WholeFileSource.fullSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new WholeFileTable(properties.asScala.toMap)
}

object WholeFileSource {
  val fullSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("content", StringType, nullable = false),
    StructField("length", LongType, nullable = false)))

  /** The path contract of this source and of [[graft.engine.MapReduce.sortedTextSink]]:
    * local or shared-mount, plain or `file:`, as executors use java.nio.
    * A remote scheme (hdfs://, s3a://; "scheme:/" counts, as in Hadoop)
    * would fail confusingly or use driver-local files, so it is rejected
    * with the contract spelled out; "cache:v2" is a legal local name. */
  def localPath(path: String): java.nio.file.Path = {
    val scheme = "^([a-zA-Z][a-zA-Z0-9+.-]*):/".r.findFirstMatchIn(path)
      .map(_.group(1)).orNull
    if (scheme != null && scheme != "file")
      throw new IllegalArgumentException(
        s"wholefile is a local-filesystem (shared-mount) source; got scheme " +
          s"'$scheme:' in $path. Stage remote data locally or use a " +
          "splittable format + built-in source for distributed storage.")
    java.nio.file.Paths.get(path.stripPrefix("file:"))
  }

  /** Expand the load path (file, dir or glob-in-filename) to concrete
    * files, sorted for deterministic partition order. Like the built-in
    * sources, a nonexistent path or a zero-match glob FAILS instead of
    * reading as an empty corpus (an existing empty directory is the one
    * legitimately-empty case). */
  def listFiles(path: String): Seq[String] = {
    val p = localPath(path)
    // An existing file is read as named, even when its name holds glob
    // characters (`a[1].txt`) or starts with `.` or `_`.
    if (java.nio.file.Files.isRegularFile(p)) return Seq(p.toString)
    val isDir = java.nio.file.Files.isDirectory(p)
    // A directory listing skips hidden and underscore files (`.crc`,
    // `_SUCCESS`), as Spark's built-in file sources do.
    val (dir, glob) =
      if (isDir) (p, "[!._]*")
      else (p.getParent, p.getFileName.toString)
    if (dir == null || !java.nio.file.Files.isDirectory(dir))
      throw new IllegalArgumentException(
        s"wholefile: path does not exist: $path")
    val stream = java.nio.file.Files.newDirectoryStream(dir, glob)
    val files =
      try stream.asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(_.toString).toSeq.sorted
      finally stream.close()
    if (files.isEmpty && !isDir)
      throw new IllegalArgumentException(
        s"wholefile: glob matched no files: $path")
    files
  }
}

class WholeFileTable(properties: Map[String, String])
    extends Table with SupportsRead {
  // load(p) sets `path`; load(p1, p2, ...) sets `paths`, a JSON array.
  private val paths: Seq[String] = properties.get("paths").toSeq
    .flatMap(new ObjectMapper().readValue(_, classOf[Array[String]])) ++ properties.get("path")
  require(paths.nonEmpty, "wholefile source requires a load path")
  override def name(): String = s"wholefile(${paths.mkString(",")})"
  override def schema(): StructType = WholeFileSource.fullSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new WholeFileScanBuilder(paths)
}

class WholeFileScanBuilder(paths: Seq[String])
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = WholeFileSource.fullSchema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new WholeFileScan(paths, required)
}

class WholeFileScan(paths: Seq[String], required: StructType) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"WholeFileScan(path=${paths.mkString(",")}, columns=${required.fieldNames.mkString(",")})"
  override def planInputPartitions(): Array[InputPartition] =
    paths.flatMap(WholeFileSource.listFiles)
      .map(f => WholeFilePartition(f): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new WholeFileReaderFactory(required.fieldNames)
}

case class WholeFilePartition(file: String) extends InputPartition

class WholeFileReaderFactory(columns: Array[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new WholeFileReader(partition.asInstanceOf[WholeFilePartition].file, columns)
}

/** Emits the single (pruned) row for one file. File BYTES are read only
  * when the content column is required (once, even if get() repeats);
  * length alone is a stat call, path alone is I/O-free. */
class WholeFileReader(file: String, columns: Array[String])
    extends PartitionReader[InternalRow] {
  private var done = false
  private lazy val bytes =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file))

  override def next(): Boolean = !done && { done = true; true }

  override def get(): InternalRow = {
    val values: Array[Any] = columns.map {
      case "path" => UTF8String.fromString(file)
      case "content" => UTF8String.fromBytes(bytes)
      case "length" =>
        if (columns.contains("content")) bytes.length.toLong
        else java.nio.file.Files.size(java.nio.file.Paths.get(file))
    }
    InternalRow.fromSeq(values.toIndexedSeq)
  }

  override def close(): Unit = ()
}
