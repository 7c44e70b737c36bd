package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.functions._

import graft.streaming.Streaming

/** Regression gate for the round-13 silent-data-loss bug class: the
  * file-stream source orders staged files by MODIFICATION time, and a
  * rename keeps the mtime of the shuffle task that wrote the part —
  * task-completion order, not day order. Out-of-order days straddling a
  * micro-batch boundary arrive below the already-advanced watermark and
  * are silently DROPPED (measured: 36% of sf3 attribution pairs before
  * the [[Streaming.stamp]] fix). This spec PERMUTES the staged files'
  * write/mtime order and proves both directions:
  *   - stamped (production staging): zero watermark drops, regardless
  *     of the order the files were physically written in;
  *   - unstamped task-completion mtimes (the bug): the same data loses
  *     rows — pinning that the source really does sort by mtime, so a
  *     future regression of the stamping cannot pass vacuously.
  */
class StagedOrderSpec extends SparkSpec {

  /** Three one-day files written in PERMUTED order (day2 first, day0
    * last — the worst case for mtime-ordered pickup), each day carrying
    * four hourly rows. Returns the staged dir. */
  private def stageDays(mtimes: Seq[Int] => Seq[Int]): Path = {
    import spark.implicits._
    val staged = tempDir("graft-staged-order-")
    val writeOrder = Seq(2, 0, 1) // physical write order: day2, day0, day1
    writeOrder.foreach { day =>
      val tmp = tempDir(s"graft-staged-order-day$day-")
      (0 until 4).flatMap(h => (0 until 3).map(r => (day, h, r)))
        .toDF("day", "hour", "r")
        .select(to_timestamp(
          format_string("2024-03-%02d %02d:%02d:00", col("day") + 1,
            col("hour"), col("r"))).as("ts"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, staged.resolve(f"part-$day%05d.parquet"))
    }
    // mtimes(nameOrderIndices) decides the mtime rank of each file in
    // NAME order — identity = healthy ascending stamps, a permutation =
    // the task-completion pathology.
    val ranks = mtimes(Seq(0, 1, 2))
    Seq(0, 1, 2).foreach { day =>
      Streaming.stamp(staged.resolve(f"part-$day%05d.parquet"), ranks(day))
    }
    staged
  }

  /** Drain a watermarked hourly append-mode count over the staged dir,
    * one file per micro-batch; returns the number of emitted windows. */
  private def drainWindows(dir: Path): Long = {
    val sch = spark.read.parquet(dir.toString).schema
    val ckpt = tempDir("graft-staged-order-ckpt-")
    val sinkName = s"staged_order_${System.nanoTime()}"
    val q = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("cnt"))
      .writeStream.format("memory").queryName(sinkName)
      .outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(sinkName).count()
  }

  test("stamped staging: permuted write order loses zero rows") {
    // Ascending stamps in NAME order — what stagedDaily does — even
    // though the files were physically written day2-day0-day1.
    val emitted = drainWindows(stageDays(identity))
    // Final watermark = day2's max event time 03:02 minus 10 min =
    // 02:52, so the closed windows are day0's 4 + day1's 4 + day2's
    // first 2 (the 02:00 window's end 03:00 is past the final
    // watermark). Any drop would show here.
    assert(emitted == 10,
      s"expected 10 closed windows with zero drops, got $emitted")
  }

  test("unstamped task-completion mtimes: the same data IS dropped " +
      "(pins that the source sorts by mtime — no vacuous pass above)") {
    // mtime rank = physical write order (day2 oldest): the source
    // replays day2 first, advances the watermark past days 0-1, and
    // drops them as late.
    val emitted = drainWindows(stageDays(_ => Seq(1, 2, 0)))
    assert(emitted < 10,
      s"mtime-permuted staging did not drop rows (got $emitted of 10) — " +
        "either the source no longer orders by mtime (revisit stamp()) " +
        "or the watermark semantics changed")
  }
}
