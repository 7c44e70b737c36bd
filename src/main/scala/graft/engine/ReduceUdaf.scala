package graft.engine

import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** The reference's whole application aggregate API —
  * `Reduce(key string, values []string) string`
  * (`/root/reference/src/main/mrworker.go:32-49`) — as a Spark
  * `Aggregator` for SQL only (`udaf(new GenericReduce(f))`, or
  * `mr_reduce_*(key, value) … GROUP BY key`); [[MapReduce.runJob]] sorts
  * and walks its buckets instead.
  *
  * Collect-then-finish by design: reference reduces are NOT required to
  * be commutative monoids (indexer/crash sort inside the group,
  * SURVEY.md §2.9), so the buffer materializes the group's values and
  * `finish` sees them all — with Spark's ObjectHashAggregate/spill
  * underneath rather than the reference's unbounded in-memory map. Value
  * order in the buffer is unspecified, exactly like the reference's
  * hash-map grouping; order-sensitive reduces must sort internally (the
  * reference's own apps do).
  */
class GenericReduce(f: MapReduce.ReduceF)
    extends Aggregator[KV, GenericReduce.Buf, String] {
  import GenericReduce.Buf
  def zero: Buf = Buf("", Nil)
  def reduce(b: Buf, kv: KV): Buf = Buf(kv.key, kv.value :: b.values)
  def merge(a: Buf, b: Buf): Buf =
    Buf(if (a.key.nonEmpty) a.key else b.key, a.values ::: b.values)
  def finish(r: Buf): String = f(r.key, r.values)
  def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
  def outputEncoder: Encoder[String] = Encoders.STRING
}

object GenericReduce {
  case class Buf(key: String, values: List[String])

  /** Register the reference's reduce functions as SQL aggregates: an
    * explicit session-setup call for SQL users; no library path makes it. */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("mr_reduce_count",
      udaf(new GenericReduce(MapReduce.wcReduce)))
    spark.udf.register("mr_reduce_sorted_concat",
      udaf(new GenericReduce(MapReduce.sortedJoinReduce)))
    spark.udf.register("mr_reduce_indexer",
      udaf(new GenericReduce(MapReduce.indexerReduce)))
  }
}
