package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions

/** Pins the semantics of the bounded top-k aggregate
  * (`graft_top_k_smallest`, Spark's CollectTopK): the k SMALLEST values
  * per group under the natural ordering, returned sorted ascending —
  * the partial-aggregable replacement for Filter(row_number() <= k)
  * over a Window, whose exchange carries every row to the key's
  * reducer where the aggregate's carries k per key. */
class TopKAggSpec extends AnyFunSuite with SparkSpec {

  test("topKSmallest keeps the k smallest, sorted ascending") {
    import spark.implicits._
    val df = Seq((1, 5L), (1, 2L), (1, 9L), (1, 1L), (2, 7L), (2, 3L), (3, 4L))
      .toDF("g", "v")
    val got = df.groupBy(col("g"))
      .agg(GraftFunctions.topKSmallest(col("v"), 2).as("t"))
      .orderBy(col("g"))
      .collect().map(r => (r.getInt(0), r.getSeq[Long](1).toList)).toList
    assert(got == List((1, List(1L, 2L)), (2, List(3L, 7L)), (3, List(4L))))
  }

  test("topKSmallest over structs == row_number window top-k (corpus tf-idf ranks)") {
    import org.apache.spark.sql.expressions.Window
    val wtf = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"),
        explode(GraftFunctions.wordTfPairs(col("text"))).as("p"))
      .select(col("doc_id"), col("p.word").as("word"), col("p.tf").as("tf"))
    val df = wtf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val scored = wtf.join(df, Seq("word"))
      .withColumn("score", expr("(tf * 1000000L) div df"))
    val viaWindow = scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("word"))))
      .filter(col("rnk") <= 5)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("rnk"), col("word"),
        col("score")))).as("w"))
    val viaAgg = scored
      .groupBy(col("doc_id"))
      .agg(GraftFunctions.topKSmallest(
        struct((-col("score")).as("ns"), col("word"), col("score")), 5).as("t"))
      .select(col("doc_id"), posexplode(col("t")).as(Seq("i", "s")))
      .select(col("doc_id"), (col("i") + 1).as("rnk"), col("s.word"),
        col("s.score"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("rnk"), col("word"),
        col("score")))).as("a"))
    val joined = viaAgg.join(viaWindow, Seq("doc_id"))
    assert(joined.count() > 0)
    assert(joined.filter(not(col("a") <=> col("w"))).count() == 0)
  }

  test("wordTfPairs kernel == explode+groupBy tf on the corpus") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val ref = docs
      .select(col("doc_id"),
        explode(graft.engine.Tokenizer.tokens(lower(col("text")),
          graft.ext.TextAnalysis.LowerWordPattern)).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("word"), col("tf")))).as("b"))
    val viaKernel = docs.select(col("doc_id"),
      graft.functions.GraftFunctions.wordTfPairs(col("text")).as("a"))
      .join(ref, Seq("doc_id"), "left")
      .withColumn("b", coalesce(col("b"),
        array().cast("array<struct<word:string,tf:bigint>>")))
    assert(viaKernel.count() == docs.count())
    assert(viaKernel.filter(not(col("a") <=> col("b"))).count() == 0)
  }
}
