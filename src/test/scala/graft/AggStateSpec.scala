package graft

import org.apache.spark.sql.functions._

import graft.ext.AggState

/** Proves the incremental-aggregate algebra under the real storage
  * format: persisted partials reload and merge to the exact one-shot
  * result, stepwise (streaming-shaped) merge included. */
class AggStateSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sf)
  private lazy val full = AggState.finish(AggState.stateOf(docs))

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("gate identity: split state merge equals full recompute") {
    assert(canon(AggState.aggIncremental(spark, sf)) == canon(full))
  }

  test("4-way split merged stepwise == one-shot (associativity)") {
    val parts = (0L until 4L).map { i =>
      AggState.stateOf(docs.filter(
        graft.ext.Hashing.idHash(col("doc_id")) % 4 === i))
    }
    // fold left one batch at a time, the way nightly ingests arrive
    val stepwise = parts.tail.foldLeft(parts.head) {
      (acc, b) => AggState.merge(Seq(acc, b))
    }
    assert(canon(AggState.finish(stepwise)) == canon(full))
  }

  test("persist → reload → merge survives the parquet round trip") {
    val dir = tempDir("graft-aggstate").toString
    AggState.stateOf(docs.filter(
      graft.ext.Hashing.idHash(col("doc_id")) % 4 =!= 0L))
      .write.mode("overwrite").parquet(dir)
    val reloaded = spark.read.parquet(dir)
    val batch = AggState.stateOf(docs.filter(
      graft.ext.Hashing.idHash(col("doc_id")) % 4 === 0L))
    assert(canon(AggState.finish(AggState.merge(Seq(reloaded, batch))))
      == canon(full))
  }

  test("state stays O(groups): one row per (source, lang)") {
    val n = AggState.stateOf(docs).count()
    val groups = docs.select(col("source"), col("lang")).distinct().count()
    assert(n == groups)
  }
}
