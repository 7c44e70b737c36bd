package graft

import java.io.File

import graft.engine.{KV, MapReduce}

/** Differential parity on the reference's OWN test corpus — the eight
  * Project Gutenberg texts every test-mr.sh run uses
  * (`/root/reference/src/main/pg-*.txt`, read-only; corpus facts pinned
  * in BASELINE.md): distributed runJob output must equal the sequential
  * oracle, exactly as `test-mr.sh:78-144` compares mrsequential against
  * the coordinator/worker run. Where the Gutenberg texts are absent the
  * two differential tests run on the fixture's documents instead, one
  * file per source (as [[MapReduceSpec]] groups them); only the
  * corpus-shape test needs the real bytes. */
class ReferenceCorpusSpec extends SparkSpec {
  import spark.implicits._

  private val corpusDir = "/root/reference/src/main"
  private lazy val gutenberg: Seq[String] =
    Option(new File(corpusDir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches("pg-.*\\.txt")).map(_.getPath).sorted.toSeq

  private lazy val files: Seq[String] =
    if (gutenberg.nonEmpty) gutenberg
    else {
      val dir = tempDir("ref-corpus")
      Tables.documents(spark, sf).select($"source", $"text")
        .as[(String, String)].collect().toSeq.groupBy(_._1).toSeq
        .map { case (source, docs) =>
          val f = dir.resolve(s"$source.txt")
          java.nio.file.Files.writeString(f, docs.map(_._2).mkString("\n"))
          f.toString
        }.sorted
    }

  private lazy val corpus: Seq[KV] =
    files.map(p => KV(p, new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
      "UTF-8")))

  private def sequential(mapF: MapReduce.MapF,
      reduceF: MapReduce.ReduceF): Map[String, String] =
    corpus.flatMap(kv => mapF(kv.key, kv.value)).sortBy(_.key)
      .groupBy(_.key).map { case (k, kvs) => k -> reduceF(k, kvs.map(_.value)) }

  private def distributed(mapF: MapReduce.MapF,
      reduceF: MapReduce.ReduceF): Map[String, String] =
    MapReduce.runJobOnFiles(spark, files, mapF, reduceF)
      .collect().map(kv => kv.key -> kv.value).toMap

  test("corpus shape matches BASELINE.md: 8 files, 3,301,104 bytes") {
    assume(gutenberg.nonEmpty, "reference corpus not present")
    assert(gutenberg.size == 8)
    assert(gutenberg.map(new File(_).length()).sum == 3301104L)
  }

  test("distributed wordcount on the real corpus == sequential oracle") {
    val got = distributed(MapReduce.wcMap, MapReduce.wcReduce)
    val want = sequential(MapReduce.wcMap, MapReduce.wcReduce)
    assert(want.nonEmpty)
    assert(got.size == want.size)
    val wantTotal = want.valuesIterator.map(_.toLong).sum
    assert(got.valuesIterator.map(_.toLong).sum == wantTotal)
    assert(got == want)
  }

  test("distributed indexer on the real corpus == sequential oracle") {
    // The map sees each file's plain path, the same string the oracle
    // keys on, so the posting lists compare without normalization.
    val got = distributed(MapReduce.indexerMap, MapReduce.indexerReduce)
    val want = sequential(MapReduce.indexerMap, MapReduce.indexerReduce)
    assert(want.nonEmpty)
    assert(got == want)
  }
}
