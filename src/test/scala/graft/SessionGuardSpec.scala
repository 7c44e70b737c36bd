package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard for the one-session-setup rule, run on every `sbt test`:
  * the `graft_*` functions are installed only by `GraftExtensions`, no
  * query path writes a session setting outside the two documented
  * windows (Bpe's codegen-off merge rounds and Streaming's
  * state-partition count around `start()`), no query path registers a
  * function, and no code sweeps the session's persisted state. It also
  * keeps each written-once rule written once: the KV Put/Append
  * transition (`KvOp.fold`), the streaming in-order check
  * (`Streaming.inOrder`) and the image codec round trip
  * (`Multimodal.roundTrip`). No SparkSession needed. */
class SessionGuardSpec extends AnyFunSuite {

  private val root = Paths.get(sys.env.getOrElse("SPARK_GRAFT_REPO_DIR",
    sys.props("user.dir")), "src", "main", "scala")

  /** (path relative to `src/main/scala`, text) of every main source. */
  private lazy val sources: Seq[(String, String)] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> Files.readString(p)).toSeq
    finally walk.close()
  }

  private def count(text: String, pattern: String): Int =
    text.split(java.util.regex.Pattern.quote(pattern), -1).length - 1

  /** Sources holding `pattern`, with how many times each holds it. */
  private def occurrences(pattern: String): Map[String, Int] =
    sources.collect { case (rel, text) if text.contains(pattern) =>
      rel -> count(text, pattern) }.toMap

  test("main sources were found") {
    assert(sources.exists(_._1 == "graft/Tables.scala"))
  }

  test("graft_* functions are installed only through GraftExtensions") {
    for (pattern <- Seq("createOrReplaceTempFunction", "GraftFunctions.register"))
      assert(occurrences(pattern).isEmpty, s"$pattern in ${occurrences(pattern)}")
  }

  test("conf.set( appears only in the two documented windows") {
    // Each window is one set and one restore.
    val windows = Map("graft/ext/Bpe.scala" -> 2,
      "graft/streaming/Streaming.scala" -> 2)
    assert(occurrences("conf.set(") == windows)
  }

  test("udf.register( appears nowhere in the main sources") {
    // Query paths apply their functions as Columns; registering one
    // writes the session's function registry.
    assert(occurrences("udf.register(").isEmpty,
      s"udf.register( in ${occurrences("udf.register(")}")
  }

  test("the KV Put/Append rule is written once, in KvOp.fold") {
    // kv.Linearizability's model matches its own op kinds, not strings:
    // it is the independent model the specs check histories against.
    for (pattern <- Seq("== \"put\"", "== \"append\""))
      assert(occurrences(pattern) == Map("graft/kv/KvReplay.scala" -> 1),
        s"$pattern in ${occurrences(pattern)}")
  }

  test("the out-of-order failure is raised only by Streaming.inOrder") {
    val streaming = "graft/streaming/Streaming.scala"
    assert(occurrences("\"out-of-order") == Map(streaming -> 1),
      s"\"out-of-order in ${occurrences("\"out-of-order")}")
    // and nothing else in the streaming module throws the same failure
    assert(occurrences("IllegalStateException(").get(streaming).contains(1))
  }

  test("the image round trip's decode failure is raised once, in Multimodal.roundTrip") {
    val pattern = "round-trip decode failed"
    assert(occurrences(pattern) == Map("graft/ext/Multimodal.scala" -> 1),
      s"$pattern in ${occurrences(pattern)}")
  }

  test("no session-wide checkpoint sweep") {
    // Checkpoints are freed by the plans that read them (graft.ext.Frames):
    // nothing in the library lists, clears or GC-nudges the session's
    // persisted state.
    for (pattern <- Seq("getPersistentRDDs", "clearCache(", "System.gc("))
      assert(occurrences(pattern).isEmpty, s"$pattern in ${occurrences(pattern)}")
  }
}
