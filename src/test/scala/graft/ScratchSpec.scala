package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Fills a [[Scratch]] directory, prints the root and exits normally:
  * the child JVM of [[ScratchSpec]]. */
object ScratchExitMain {
  def main(args: Array[String]): Unit = {
    val d = Scratch.dir("graft-probe-")
    Files.write(d.resolve("part-0"), Array[Byte](1, 2, 3))
    println(s"SCRATCH ${Scratch.root}")
  }
}

class ScratchSpec extends AnyFunSuite {

  test("the scratch root is deleted, contents and all, when its JVM exits") {
    val java = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val pb = new ProcessBuilder(java, "-Xmx64m", "-cp", cp, "graft.ScratchExitMain")
      .redirectError(ProcessBuilder.Redirect.INHERIT)
    val proc = pb.start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    assert(proc.waitFor() == 0, out)
    val root = out.linesIterator.collectFirst {
      case l if l.startsWith("SCRATCH ") => Paths.get(l.stripPrefix("SCRATCH "))
    }.getOrElse(fail(s"no SCRATCH line in: $out"))
    assert(root.getFileName.toString.startsWith("graft-scratch-"))
    assert(!Files.exists(root), s"$root survived its JVM")
  }
}
