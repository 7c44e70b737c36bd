package graft

import org.apache.spark.sql.functions._

import graft.ext.{Incremental, IncrementalAnn, Similarity}

/** Incremental IVF maintenance: the persisted-state contract
  * (write→read-back→probe ≡ in-flight), the codebook freeze, and the
  * exact ingest delta. */
class IncrementalAnnSpec extends SparkSpec {
  import spark.implicits._

  private def base = Similarity.quantized(spark, sf)

  private def split = {
    val b = base.localCheckpoint()
    (b.filter(!Incremental.isNew(col("vec_id"))),
      b.filter(Incremental.isNew(col("vec_id"))))
  }

  test("frozen codebook contains only prior-snapshot vectors") {
    val (prior, batch) = split
    val st = IncrementalAnn.priorState(prior)
    val cbIds = st.codebook.select(col("cid")).as[Long].collect().toSet
    val newIds = batch.select(col("vec_id")).as[Long].collect().toSet
    assert(cbIds.nonEmpty && cbIds.intersect(newIds).isEmpty)
  }

  test("ingest appends exactly the batch, one posting per vector") {
    val (prior, batch) = split
    val st0 = IncrementalAnn.priorState(prior)
    val st1 = IncrementalAnn.ingest(st0, batch)
    val before = st0.postings.count()
    val after = st1.postings.count()
    assert(after - before == batch.count())
    // every vector posts exactly once (old and new)
    val dup = st1.postings.groupBy("vec_id").count().filter(col("count") > 1)
    assert(dup.isEmpty)
    // the codebook is untouched by ingest
    assert(st1.codebook eq st0.codebook)
  }

  test("persist → reload state probes identically to in-flight state") {
    val (prior, batch) = split
    val st = IncrementalAnn.ingest(IncrementalAnn.priorState(prior), batch)
    val dir = tempDir("graft-ivf-state-").toString
    st.codebook.write.mode("overwrite").parquet(s"$dir/codebook")
    st.postings.write.mode("overwrite").parquet(s"$dir/postings")
    val reloaded = IncrementalAnn.IvfState(
      spark.read.parquet(s"$dir/codebook"),
      spark.read.parquet(s"$dir/postings"))
    val q = batch.limit(40).localCheckpoint()
    val a = IncrementalAnn.top3Against(st, q, identity)
      .select("vec_a", "vec_b", "rank").as[(Long, Long, Long)]
      .collect().toSet
    val b = IncrementalAnn.top3Against(reloaded, q, identity)
      .select("vec_a", "vec_b", "rank").as[(Long, Long, Long)]
      .collect().toSet
    assert(a.nonEmpty && a == b)
  }

  test("gated key is non-vacuous and every query is a new-batch vector") {
    val out = IncrementalAnn.knnIvfIncremental(spark, sf)
      .select("vec_a").distinct().as[Long].collect().toSet
    assert(out.nonEmpty)
    val (_, batch) = split
    val newIds = batch.select(col("vec_id")).as[Long].collect().toSet
    assert(out.subsetOf(newIds))
  }
}
