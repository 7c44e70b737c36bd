package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.streaming.Streaming

/** Streaming SCD-2 across real micro-batch boundaries: islands that
  * OPEN in batch 1 and CLOSE in batch 2 must reconstruct the batch
  * interval frame exactly via the max_by(ver) read. */
class Scd2StreamSpec extends SparkSpec {
  import spark.implicits._

  test("streaming scd2 equals the batch interval build, multi-batch") {
    import java.sql.Timestamp
    def mts(m: Int) = new Timestamp(1700000000000L + m * 60000L)
    // User 1: A,A | B  (island closes across the boundary)
    // User 2: A   | A,B,B (island grows across the boundary, then flips)
    // User 3: A,B | (nothing — the open B island stays current)
    // User 4: tied timestamps spanning a flip (id tiebreak total order)
    val rows = Seq(
      (1L, "view", 1), (1L, "view", 2), (1L, "click", 90),
      (2L, "view", 5), (2L, "view", 70), (2L, "click", 80),
      (2L, "click", 85),
      (3L, "view", 1), (3L, "click", 3),
      (4L, "view", 10), (4L, "click", 10), (4L, "click", 95))
      .zipWithIndex
      .map { case ((u, t, m), i) => (i.toLong, u, t, mts(m)) }
    val ev = rows.toDF("event_id", "user_id", "event_type", "ts")
    val src = tempDir("graft-scd2-stream-").toString
    ev.filter(col("ts") <= mts(60)).coalesce(1).write.parquet(s"$src/part=0")
    ev.filter(col("ts") > mts(60)).coalesce(1).write.parquet(s"$src/part=1")
    val all = spark.read.parquet(s"$src/part=*").drop("part")

    val stream = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$src/part=*")
    val q = Streaming.scd2Updates(stream)
      .toDF()
      .writeStream.format("memory").queryName("scd2_spec_updates")
      .outputMode(OutputMode.Update())
      .option("checkpointLocation",
        tempDir("graft-ckpt-").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val updates = spark.table("scd2_spec_updates")
    // Multi-batch really happened: some island was emitted twice.
    assert(updates.groupBy("user_id", "first_eid").count()
      .filter(col("count") > 1).count() > 0)
    val streamed = updates
      .groupBy(col("user_id"), col("first_eid"))
      .agg(max_by(struct(col("event_type"), col("valid_from_us"),
        col("valid_to_us"), col("n_events"), col("is_current")),
        col("ver")).as("r"))
      .select(col("user_id"), col("r.event_type"),
        expr("timestamp_micros(r.valid_from_us)").as("valid_from"),
        expr("timestamp_micros(r.valid_to_us)").as("valid_to"),
        col("r.n_events"), col("r.is_current"))
    val batch = graft.ext.Events.scd2Of(all)
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0,
      "streamed interval frame != batch interval frame")
    // Cross-batch island semantics landed: user 2's view island spans
    // the boundary with 2 events and closes at minute 80.
    val u2 = batch.filter(col("user_id") === 2L &&
      col("event_type") === "view")
      .select("n_events", "valid_to").as[(Long, Timestamp)].head()
    assert(u2 == ((2L, mts(80))))
  }
}
