package graft

import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils

/** The JVM's one scratch directory: staged stream sources, streaming
  * sink output, checkpoints and format round-trip exports all live under
  * it. A streaming gate's frame reads its sink directory lazily, so
  * nothing inside the JVM can free that output early; the root is
  * deleted, whole, by a JVM shutdown hook. */
object Scratch {

  /** The root itself, created on first use. */
  private[graft] lazy val root: Path = {
    val r = Files.createTempDirectory("graft-scratch-")
    sys.addShutdownHook(FileUtils.deleteQuietly(r.toFile))
    r
  }

  /** A fresh directory under the scratch root. */
  def dir(prefix: String): Path = Files.createTempDirectory(root, prefix)
}
