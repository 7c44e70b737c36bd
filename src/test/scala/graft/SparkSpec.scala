package graft

import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one JVM-wide session; the
  * getOrCreate makes suites reuse it instead of churning contexts). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"

  private var tempRoot: Path = _

  /** A fresh directory under this suite's one temp directory, which is
    * deleted after the suite (stream checkpoints, inputs, sink output). */
  def tempDir(prefix: String): Path = synchronized {
    if (tempRoot == null) tempRoot = Files.createTempDirectory("graft-spec-")
    Files.createTempDirectory(tempRoot, prefix)
  }

  override def afterAll(): Unit =
    try if (tempRoot != null) FileUtils.deleteDirectory(tempRoot.toFile)
    finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = {
    val warehouse = Files.createTempDirectory("graft-warehouse")
    sys.addShutdownHook(FileUtils.deleteQuietly(warehouse.toFile))
    val s = SparkSession.builder()
      .withExtensions(graft.plans.GraftExtensions.apply)
      .master("local[4,2]") // maxFailures=2: lets chaos specs inject task failures
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
