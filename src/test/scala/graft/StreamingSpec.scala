package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.kv.{KvOp, KvReplay}
import graft.streaming.Streaming

/** Streaming twins must equal their batch siblings under real
  * micro-batching: the specs force MULTI-batch execution
  * (maxFilesPerTrigger=1 over several source files) so cross-batch state
  * handoff is actually exercised, not just a single-batch degenerate run. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  /** Op log split across 3 files; per-key seq order holds across files
    * (the §7.7.5 contract): file i holds seqs [100i, 100(i+1)). */
  private def writeOpFiles(dir: String): Unit = {
    val rnd = new scala.util.Random(11)
    for (part <- 0 until 3) {
      val ops = (0 until 100).map { i =>
        val seq = part * 100 + i
        val key = s"k${rnd.nextInt(7)}"
        val op = rnd.nextInt(3) match {
          case 0 => "put"; case _ => "append"
        }
        KvOp(seq.toLong, key, op, s"v$seq,")
      }
      ops.toDS().coalesce(1).write.parquet(s"$dir/part=$part")
    }
  }

  /** Entries of `dir` (java.io.tmpdir by default) whose names start
    * with `prefix`. */
  private def tmpEntries(prefix: String,
      dir: Path = Paths.get(System.getProperty("java.io.tmpdir"))): Set[Path] = {
    import scala.jdk.CollectionConverters._
    val l = Files.list(dir)
    try l.iterator().asScala.filter(_.getFileName.toString.startsWith(prefix)).toSet
    finally l.close()
  }

  /** `prefix` entries in java.io.tmpdir and in the [[Scratch]] root: the
    * directories a run must free itself rather than leave to JVM exit. */
  private def leftovers(prefix: String): Set[Path] =
    tmpEntries(prefix) ++ tmpEntries(prefix, Scratch.root)

  test("a gated streaming query leaves no checkpoint directory behind") {
    val before = leftovers("graft-ckpt-")
    assert(Streaming.queries("kv_replay_stream")(spark, sf).count() > 0)
    assert(leftovers("graft-ckpt-") == before)
  }

  test("the daily staging leaves no scratch directory behind") {
    // A fresh table directory: the staging is cached per directory.
    val dir = tempDir("graft-days-sf-").toString
    spark.read.parquet(s"$sf/events.parquet")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val before = leftovers("graft-stream-days-tmp-")
    assert(Streaming.eventStreamDaily(spark, dir).isStreaming)
    assert(leftovers("graft-stream-days-tmp-") == before)
  }

  test("a gated streaming query adds no sink or staging entry to the temp directory") {
    // A fresh table directory: the staging is cached per directory.
    val dir = tempDir("graft-scratch-sf-").toString
    spark.read.parquet(s"$sf/events.parquet")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    def scratch = tmpEntries("graft-sink-") ++ tmpEntries("graft-stream-")
    val before = scratch
    assert(Streaming.queries("kv_replay_stream")(spark, dir).count() > 0)
    assert((scratch -- before).isEmpty, scratch -- before)
  }

  test("kv mapGroupsWithState across micro-batches == batch replay") {
    val src = tempDir("graft-kv-stream-").toString
    writeOpFiles(src)
    val all = spark.read.parquet(s"$src/part=*").as[KvOp]

    val stream = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$src/part=*").as[KvOp]
    val q = Streaming.kvReplayUpdates(stream)
      .writeStream.format("memory").queryName("kv_spec_updates")
      .outputMode(OutputMode.Update())
      .option("checkpointLocation",
        tempDir("graft-ckpt-").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val updates = spark.table("kv_spec_updates")
    // Multi-batch really happened: some key has >1 update row.
    assert(updates.groupBy("key").count().filter(col("count") > 1).count() > 0)

    val streamed = updates.groupBy("key")
      .agg(max_by(col("value"), col("last_seq")).as("value"))
      .as[(String, String)].collect().toMap
    implicit val s = spark
    val batch = KvReplay.replay(all.toDF())
      .as[(String, String)].collect().toMap
    assert(streamed == batch)
  }

  test("checkpoint recovery: crash after batch N resumes, replays once, equals uninterrupted run") {
    // The round-5 verdict's ask, made a measured invariant. Stateful
    // count-per-key in Update mode through the idempotent batch-id sink:
    //  phase A: drain 3 source files (batches 0-2), then simulate a KILL
    //    MID-BATCH by deleting the checkpoint's newest commit marker —
    //    exactly the on-disk state a crash between offset-write and
    //    commit-write leaves behind;
    //  phase B: add 3 more files and restart from the SAME checkpoint:
    //    the engine must REPLAY batch 2 (at-least-once upstream of the
    //    sink), continue with batches 3-5 (resume, not restart-at-0),
    //    not re-read committed files 0-1, and restore the key counts
    //    accumulated in phase A;
    //  the final read-back must equal an UNINTERRUPTED run over all 6
    //    files and the batch ground truth.
    val src = tempDir("graft-rec-src-").toString
    val ckpt = tempDir("graft-rec-ckpt-").toString
    val sink = tempDir("graft-rec-sink-").toString
    def writeFile(part: Int): Unit =
      (0 until 50).map(i => (s"u${(part * 50 + i) % 7}", part * 50L + i))
        .toDF("key", "x").coalesce(1).write.parquet(s"$src/part=$part")
    def runOnce(ck: String, out: String) = {
      // A just-stopped AvailableNow run can deregister asynchronously;
      // starting against the same checkpoint during teardown trips the
      // concurrent-use guard. Wait until the manager shows no active run.
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spark.streams.active.nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      val schema = spark.read.parquet(s"$src/part=*").schema
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$src/part=*")
        .groupBy("key").count()
        .writeStream
        .foreachBatch(graft.streaming.Sinks.idempotentParquet(out))
        .outputMode(OutputMode.Update())
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.stop() // deregister before the next run reuses the checkpoint
      q.recentProgress.filter(_.numInputRows > 0)
        .map(p => (p.batchId, p.numInputRows)).toSeq
    }
    def finalCounts(out: String): Map[String, Long] =
      spark.read.parquet(out)
        .groupBy("key").agg(max_by(col("count"), col("batch")).as("count"))
        .as[(String, Long)].collect().toMap

    (0 until 3).foreach(writeFile)
    val phaseA = runOnce(ckpt, sink)
    assert(phaseA.map(_._1) == Seq(0L, 1L, 2L), s"phase A batches: $phaseA")
    // Crash simulation: offsets/2 exists, commits/2 vanishes.
    val lastCommit = java.nio.file.Paths.get(ckpt, "commits", "2")
    assert(Files.exists(lastCommit), "checkpoint layout moved; fix the test")
    Files.delete(lastCommit)
    // Local FS keeps a checksum sidecar next to each commit file; a real
    // crash leaves neither, and a stale .crc makes the replay's
    // rename-based commit write collide (FileAlreadyExistsException).
    Files.deleteIfExists(lastCommit.resolveSibling(".2.crc"))

    (3 until 6).foreach(writeFile)
    val phaseB = runOnce(ckpt, sink)
    assert(phaseB.map(_._1) == Seq(2L, 3L, 4L, 5L),
      s"restart must replay the uncommitted batch 2 then continue: $phaseB")
    assert(phaseB.map(_._2).sum == 200L,
      s"committed files 0-1 must not be re-read: $phaseB")

    val truth = (0 until 300).groupBy(i => s"u${i % 7}")
      .map { case (k, v) => (k, v.size.toLong) }
    assert(finalCounts(sink) == truth,
      "state must carry across the crash (counts span both phases)")

    // Uninterrupted twin over the same 6 files ⇒ identical final result.
    val ckpt2 = tempDir("graft-rec-ckpt2-").toString
    val sink2 = tempDir("graft-rec-sink2-").toString
    val clean = runOnce(ckpt2, sink2)
    assert(clean.map(_._1) == Seq(0L, 1L, 2L, 3L, 4L, 5L))
    assert(finalCounts(sink2) == finalCounts(sink))

    // Idle restart: everything committed ⇒ no data batches, result stable.
    val phaseC = runOnce(ckpt, sink)
    assert(phaseC.isEmpty, s"nothing left to process: $phaseC")
    assert(finalCounts(sink) == truth)
  }

  test("gated streaming queries survive an EMPTY source (0-row corpus)") {
    // Empty documents/events tables: the parquet-sink read-back must
    // return an empty frame with the right schema, not NPE or fail
    // schema inference (complete mode writes its schema even for 0 rows).
    val dir = tempDir("graft-empty-sf-").toString
    spark.read.parquet(s"$sf/documents.parquet")
      .limit(0).coalesce(1).write.parquet(s"$dir/documents.parquet")
    spark.read.parquet(s"$sf/events.parquet")
      .limit(0).coalesce(1).write.parquet(s"$dir/events.parquet")
    assert(Streaming.dedupExactStream(spark, dir).count() == 0)
    assert(Streaming.windowedAgg(spark, dir).count() == 0)
    assert(Streaming.clickAttributionStream(spark, dir).count() == 0)
    assert(Streaming.dedupIdsStream(spark, dir).count() == 0)
    assert(Streaming.sessionizeTwsStream(spark, dir).count() == 0)
    assert(Streaming.enrichStream(spark, dir).count() == 0)
    assert(Streaming.windowedAppendStream(spark, dir).count() == 0)
  }

  /** Drain `updates` one source file per batch: the in-order check
    * must fail the query, with "out-of-order" in the cause chain, instead
    * of folding the late batch wrong. */
  private def assertOutOfOrderRaises(updates: DataFrame, name: String): Unit = {
    val q = updates
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Update())
      .option("checkpointLocation",
        tempDir("graft-ckpt-").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("out-of-order")), msgs(e).mkString(" | "))
  }

  test("in-order contract violation raises instead of folding wrong") {
    // f=1's op has a LOWER seq than f=0's already-applied one: the
    // §7.7.5 in-order tripwire must fail the query, not corrupt state.
    val src = tempDir("graft-kv-ooo-").toString
    Seq(KvOp(5L, "k", "put", "a")).toDS().coalesce(1).write.parquet(s"$src/f=0")
    Seq(KvOp(3L, "k", "append", "b")).toDS().coalesce(1).write.parquet(s"$src/f=1")
    val schema = spark.read.parquet(s"$src/f=*").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$src/f=*").as[KvOp]
    assertOutOfOrderRaises(Streaming.kvReplayUpdates(stream), "kv_spec_ooo")
  }

  // The same two-file case for every per-user in-order fold: user 1's
  // second file holds an event older than the first file's.
  for ((fold, updates) <- Seq[(String, DataFrame => DataFrame)](
      "sessionizeUpdates" -> Streaming.sessionizeUpdates,
      "the transformWithState sessionizer" -> Streaming.sessionizeTwsUpdates,
      "the throttle processor" -> Streaming.throttleUpdates,
      "funnelUpdates" -> Streaming.funnelUpdates,
      "scd2Updates" -> (ev => Streaming.scd2Updates(ev).toDF())))
    test(s"in-order contract violation raises in $fold") {
      def ts(m: String) = java.sql.Timestamp.valueOf(s"2026-01-01 $m:00")
      val src = tempDir("graft-user-ooo-").toString
      Seq((2L, 1L, "view", ts("10:30"))).toDF("event_id", "user_id",
        "event_type", "ts").coalesce(1).write.parquet(s"$src/f=0")
      Seq((1L, 1L, "click", ts("10:00"))).toDF("event_id", "user_id",
        "event_type", "ts").coalesce(1).write.parquet(s"$src/f=1")
      val schema = spark.read.parquet(s"$src/f=*").schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$src/f=*")
      assertOutOfOrderRaises(updates(stream),
        s"user_ooo_${fold.filter(_.isLetter)}")
    }

  test("windowed agg with watermark emits closed windows in append mode") {
    val src = tempDir("graft-ev-stream-").toString
    // Two files: hours 0-1 first, then hour 3 — watermark (1h) closes the
    // earlier windows once the second file advances event time.
    Seq((0, 10.0), (1, 20.0))
      .map { case (h, v) => (java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:30:00"), v) }
      .toDF("ts", "value").coalesce(1).write.parquet(s"$src/f=0")
    Seq((3, 40.0))
      .map { case (h, v) => (java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:30:00"), v) }
      .toDF("ts", "value").coalesce(1).write.parquet(s"$src/f=1")

    val schema = spark.read.parquet(s"$src/f=*").schema
    val agg = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$src/f=*")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(sum(col("value")).as("sum_value"))
    val q = agg.writeStream.format("memory").queryName("ev_spec_append")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation",
        tempDir("graft-ckpt-").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val closed = spark.table("ev_spec_append")
      .select(col("w.start").cast("string"), col("sum_value"))
      .as[(String, Double)].collect().toMap
    // Hours 0 and 1 are closed by the watermark advance; hour 3 stays open.
    assert(closed == Map(
      "2026-01-01 00:00:00" -> 10.0, "2026-01-01 01:00:00" -> 20.0))
  }

  /** Out-of-order fixture: f0 has ops at 10:00/10:10, f1 delivers a
    * LATE op (10:05) plus 11:00, f2 is a sentinel advancing the
    * watermark past every op of key k. Correct event-time fold for key k:
    * put(a);append(L);append(b);append(c) = "aLbc" (arrival order
    * would give "abLc"). */
  private def etFixture(): String = {
    import Streaming.TimedOp
    def ts(m: String) = java.sql.Timestamp.valueOf(s"2026-01-01 $m:00")
    val src = tempDir("graft-kv-et-").toString
    Seq(TimedOp(ts("10:00"), 1, "k", "put", "a"),
        TimedOp(ts("10:10"), 3, "k", "append", "b"))
      .toDS().coalesce(1).write.parquet(s"$src/f=0")
    Seq(TimedOp(ts("10:05"), 2, "k", "append", "L"),
        TimedOp(ts("11:00"), 4, "k", "append", "c"))
      .toDS().coalesce(1).write.parquet(s"$src/f=1")
    Seq(TimedOp(ts("23:00"), 9, "flush", "put", "x"))
      .toDS().coalesce(1).write.parquet(s"$src/f=2")
    src
  }

  test("event-time replay reorders late ops the in-order path cannot") {
    val src = etFixture()
    val schema = spark.read.parquet(s"$src/f=*").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$src/f=*")
      .as[Streaming.TimedOp]
    val q = Streaming.kvReplayEventTime(stream, "30 minutes")
      .toDF("key", "value", "applied")
      .writeStream.format("memory").queryName("kv_et_updates")
      .outputMode(OutputMode.Update())
      .option("checkpointLocation",
        tempDir("graft-ckpt-").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val updates = spark.table("kv_et_updates")
      .as[(String, String, Long)].collect().toSet
    val finalK = updates.filter(_._1 == "k").maxBy(_._3)
    assert(finalK._2 == "aLbc", s"got $updates")
    // Every update, not only the last: the 10:30 watermark applies
    // put(a), the late append(L) and append(b) in event-time order; the
    // 22:30 one applies append(c). No watermark passes the sentinel's
    // 23:00 op, so the flush key never emits.
    assert(updates == Set(("k", "aLb", 3L), ("k", "aLbc", 4L)),
      s"got $updates")
  }

  test("checkpoint recovery: keyed state survives a restart, on RocksDB") {
    // The scale-path state backend: RocksDB provider + a restart from the
    // same checkpoint. Run 1 processes f=0 and stops; run 2 sees only the
    // new file, so its output can only be correct if run 1's state was
    // recovered from the checkpoint.
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    val src = tempDir("graft-kv-ckpt-src-").toString
    val ckpt = tempDir("graft-kv-ckpt-").toString
    try {
      spark.conf.set(provKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      Seq(KvOp(1, "k", "put", "a"), KvOp(2, "k", "append", "b"))
        .toDS().coalesce(1).write.parquet(s"$src/f=0")
      // Memory sink can't recover from a checkpoint; foreachBatch can.
      def run(): Seq[(String, String)] = {
        val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
        val stream = spark.readStream
          .schema(spark.read.parquet(s"$src/f=*").schema)
          .parquet(s"$src/f=*").as[KvOp]
        val q = Streaming.kvReplayUpdates(stream)
          .writeStream
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            df.select("key", "value").as[(String, String)]
              .collect().foreach(got.add)
          }
          .outputMode(OutputMode.Update())
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        got.toArray(Array.empty[(String, String)]).toSeq
      }
      assert(run().contains(("k", "ab")))

      Seq(KvOp(3, "k", "append", "c"))
        .toDS().coalesce(1).write.parquet(s"$src/f=1")
      // Only the f=1 batch runs here; "abc" proves state recovery.
      assert(run() == Seq(("k", "abc")))
    } finally prev match {
      case Some(v) => spark.conf.set(provKey, v)
      case None => spark.conf.unset(provKey)
    }
  }

  test("idempotent parquet sink: batch replay never duplicates output") {
    val out = tempDir("graft-sink-").toString
    val sink = graft.streaming.Sinks.idempotentParquet(out)
    val batch0 = Seq(("k", "v1"), ("k2", "v2")).toDF("key", "value")
    sink(batch0, 0L)
    sink(batch0, 0L) // replay of the same micro-batch id
    val batch1 = Seq(("k", "v3")).toDF("key", "value")
    sink(batch1, 1L)
    // batch=<id> dirs surface as a partition column — project it away.
    val all = spark.read.parquet(out)
      .select("key", "value").as[(String, String)].collect().sorted.toSeq
    assert(all == Seq(("k", "v1"), ("k", "v3"), ("k2", "v2")))

    // End-to-end: the kv stream through the sink produces each update
    // exactly once across micro-batches.
    val src = tempDir("graft-sink-src-").toString
    Seq(KvOp(1, "a", "put", "x"), KvOp(2, "a", "append", "y"))
      .toDS().coalesce(1).write.parquet(s"$src/f=0")
    val out2 = tempDir("graft-sink2-").toString
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$src/f=*").schema)
      .parquet(s"$src/f=*").as[KvOp]
    val q = Streaming.kvReplayUpdates(stream)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.streaming.Sinks.idempotentParquet(out2)(df, id)
      }
      .outputMode(OutputMode.Update())
      .option("checkpointLocation",
        tempDir("graft-ckpt-").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.read.parquet(out2)
      .select("key", "value").as[(String, String)].collect().toSeq
    assert(rows == Seq(("a", "xy")))
  }

  test("streaming funnel state machine equals the batch funnel, multi-batch") {
    import java.sql.Timestamp
    def mts(m: Int) = new Timestamp(1700000000000L + m * 60000L)
    // FunnelSpec's boundary cases, split in TIME so stage transitions
    // cross the batch boundary (view/click in batch 1, purchase later).
    val rows = Seq(
      (1L, "view", 1), (1L, "click", 2), (1L, "purchase", 90),
      (2L, "click", 1), (2L, "view", 2), (2L, "purchase", 70),
      (3L, "view", 1), (3L, "purchase", 2), (3L, "click", 65),
      (4L, "error", 1),
      (9L, "view", 1), (9L, "click", 125),
      (10L, "view", 1), (10L, "click", 50), (10L, "purchase", 165),
      (11L, "view", 1), (11L, "view", 100), (11L, "click", 130))
      .zipWithIndex
      .map { case ((u, t, m), i) => (i.toLong, u, t, mts(m)) }
    val ev = rows.toDF("event_id", "user_id", "event_type", "ts")
    val src = tempDir("graft-funnel-stream-").toString
    ev.filter(col("ts") <= mts(60)).coalesce(1).write.parquet(s"$src/part=0")
    ev.filter(col("ts") > mts(60)).coalesce(1).write.parquet(s"$src/part=1")
    val all = spark.read.parquet(s"$src/part=*").drop("part")

    val stream = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$src/part=*")
    val q = Streaming.funnelUpdates(stream)
      .writeStream.format("memory").queryName("funnel_spec_updates")
      .outputMode(OutputMode.Update())
      .option("checkpointLocation",
        tempDir("graft-ckpt-").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val updates = spark.table("funnel_spec_updates")
    // Multi-batch really happened: users updated in both batches exist.
    assert(updates.groupBy("user_id").count()
      .filter(col("count") > 1).count() > 0)
    val streamed = updates.groupBy("user_id")
      .agg(max(col("stage")).as("stage"))
      .as[(Long, Long)].collect().toMap
    val batch = graft.ext.Funnel.stagesOf(all)
      .as[(Long, Long)].collect().toMap
    assert(streamed == batch)
    // and the cross-batch chains landed where the semantics say
    assert(batch(10L) == 3L && batch(9L) == 1L && batch(11L) == 2L)
  }

  test("streaming funnel honors strict-predecessor semantics on tied timestamps") {
    import java.sql.Timestamp
    def mts(m: Int) = new Timestamp(1700000000000L + m * 60000L)
    // The batch query's strict-predecessor RANGE frame excludes same-ts
    // rows: a click at t must qualify against the newest view STRICTLY
    // before t even when another view lands at exactly t — and that tied
    // view may arrive in an EARLIER batch than the click. Users:
    //  30: view@10, view@50 | click@50, purchase@50 — click qualifies via
    //      view@10 (the tied view@50 must not decide or clobber); the
    //      purchase does NOT convert (no qualified click strictly < 50).
    //  31: view@10, click@40(Q) | click@100(Q), purchase@100 — purchase
    //      converts via the OLDER qualified click@40 (prevQC), not the
    //      tied click@100.
    //  32: view@50 | click@50 — no strictly-earlier view at all: stage 1.
    //  33: click@50 before view@50 in fold order (smaller event_id),
    //      earlier view@10 — tie order must not matter.
    val batch1 = Seq(
      (0L, 30L, "view", mts(10)), (1L, 30L, "view", mts(50)),
      (10L, 31L, "view", mts(10)), (11L, 31L, "click", mts(40)),
      (20L, 32L, "view", mts(50)),
      (30L, 33L, "view", mts(10)), (31L, 33L, "click", mts(50)),
      (32L, 33L, "view", mts(50)))
    val batch2 = Seq(
      (2L, 30L, "click", mts(50)), (3L, 30L, "purchase", mts(50)),
      (12L, 31L, "click", mts(100)), (13L, 31L, "purchase", mts(100)),
      (21L, 32L, "click", mts(50)))
    val src = tempDir("graft-funnel-ties-").toString
    batch1.toDF("event_id", "user_id", "event_type", "ts")
      .coalesce(1).write.parquet(s"$src/part=0")
    batch2.toDF("event_id", "user_id", "event_type", "ts")
      .coalesce(1).write.parquet(s"$src/part=1")
    val all = spark.read.parquet(s"$src/part=*").drop("part")

    val stream = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$src/part=*")
    val q = Streaming.funnelUpdates(stream)
      .writeStream.format("memory").queryName("funnel_ties_updates")
      .outputMode(OutputMode.Update())
      .option("checkpointLocation",
        tempDir("graft-ckpt-").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("funnel_ties_updates").groupBy("user_id")
      .agg(max(col("stage")).as("stage"))
      .as[(Long, Long)].collect().toMap
    val batch = graft.ext.Funnel.stagesOf(all)
      .as[(Long, Long)].collect().toMap
    assert(streamed == batch,
      s"tied-timestamp divergence: streamed=$streamed batch=$batch")
    // Pin the intended ground truth, not just cross-engine agreement.
    assert(batch == Map(30L -> 2L, 31L -> 3L, 32L -> 1L, 33L -> 2L))
  }

  test("gated streaming queries equal their batch twins at sf0.001") {
    // hour is timestamp_ntz → compare canonical row strings, not encoders.
    val streamWin = Streaming.windowedAgg(spark, sf)
      .collect().map(_.toString).toSet
    val batchWin = ext.Events.windowedAgg(spark, sf)
      .collect().map(_.toString).toSet
    assert(streamWin == batchWin)

    val streamKv = Streaming.kvReplayStream(spark, sf)
      .as[(String, String)].collect().toMap
    implicit val s = spark
    val batchKv = KvReplay.fromEvents(spark, sf)
      .as[(String, String)].collect().toMap
    assert(streamKv == batchKv)

    val streamTok = Streaming.tokenizeStream(spark, sf)
      .collect().map(_.toString).toSet
    val batchTok = ext.Tokenize.corpusTokenize(spark, sf)
      .collect().map(_.toString).toSet
    assert(streamTok == batchTok,
      "streaming token accounting diverges from the batch tokenizer")

    val streamCurate = Streaming.curateStream(spark, sf)
      .as[(Long, Double)].collect().toSet
    val batchCurate = ext.Curation.curate(spark, sf)
      .as[(Long, Double)].collect().toSet
    assert(streamCurate == batchCurate,
      "streaming curation admission diverges from the batch gate")
    assert(streamCurate.nonEmpty)
  }

  test("stream-static enrichment equals the batch join, across micro-batches") {
    // Gate-path parity first (single staged micro-batch).
    val streamed = Streaming.enrichStream(spark, sf)
      .as[(Long, Long, Long)].collect().toSet
    val firstSeen = Tables.events(spark, sf)
      .groupBy(col("user_id")).agg(min(col("ts")).as("first_ts"))
    val batch = Tables.events(spark, sf)
      .join(firstSeen, Seq("user_id"))
      .select(col("event_id"), col("user_id"),
        expr("(unix_micros(cast(ts as timestamp)) - " +
          "unix_micros(cast(first_ts as timestamp))) div 60000000"))
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == batch)

    // Multi-batch: two part files, one per trigger — the static side
    // is re-planned per micro-batch and the appended union must still
    // equal the batch join.
    val src = tempDir("graft-enrich-mb-").toString
    val ev = Tables.events(spark, sf)
    ev.filter(col("event_id") % 2 === 0).coalesce(1).write.parquet(s"$src/f=0")
    ev.filter(col("event_id") % 2 === 1).coalesce(1).write.parquet(s"$src/f=1")
    val schema = spark.read.parquet(s"$src/f=*").schema
    val out = tempDir("graft-enrich-out-").toString
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$src/f=*")
      .join(firstSeen, Seq("user_id"))
      .select(col("event_id"), col("user_id"),
        expr("(unix_micros(cast(ts as timestamp)) - " +
          "unix_micros(cast(first_ts as timestamp))) div 60000000")
          .as("mins_since_first"))
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.streaming.Sinks.idempotentParquet(out)(df, id)
      }
      .outputMode(OutputMode.Append())
      .option("checkpointLocation",
        tempDir("graft-ckpt-").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val multi = spark.read.parquet(out).drop("batch")
      .as[(Long, Long, Long)].collect()
    assert(multi.length == batch.size, "no row lost or duplicated across batches")
    assert(multi.toSet == batch)
  }

  test("built-in watermark dedup collapses a self-unioned stream exactly") {
    val deduped = Streaming.dedupIdsStream(spark, sf)
      .as[(Long, Long, String)].collect()
    val batch = Tables.events(spark, sf)
      .select($"event_id", $"user_id", $"event_type")
      .distinct().as[(Long, Long, String)].collect()
    assert(deduped.length == batch.length, "each id must survive exactly once")
    assert(deduped.toSet == batch.toSet)
  }

  test("stream-stream join buffers state ACROSS micro-batches") {
    // The click arrives in batch 1, its purchase only in batch 2: the
    // pair can only be produced if the click was held in join state
    // across the batch boundary — the property the gate's single-batch
    // run never exercises.
    def ts(m: String) = java.sql.Timestamp.valueOf(s"2026-01-01 $m:00")
    val src = tempDir("graft-ssj-mb-").toString
    Seq((1L, ts("10:00"), 7L, "click", 0.0, "{}"),
        (2L, ts("10:05"), 8L, "click", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$src/f=0")
    Seq((3L, ts("10:30"), 7L, "purchase", 1.0, "{}"),
        (4L, ts("13:30"), 8L, "purchase", 1.0, "{}")) // outside 2 h reach-back
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$src/f=1")

    val schema = spark.read.parquet(s"$src/f=*").schema
    def side() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$src/f=*")
    val out = tempDir("graft-ssj-out-").toString
    // Drives the PRODUCTION join (watermarks, interval, condition) —
    // not a local replica that could drift from the shipped code.
    val q = Streaming.clickAttributionJoin(side(), side())
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.streaming.Sinks.idempotentParquet(out)(df, id)
      }
      .outputMode(OutputMode.Append())
      .option("checkpointLocation",
        tempDir("graft-ckpt-").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val pairs = spark.read.parquet(out).drop("batch")
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs == Set((3L, 1L, 7L)),
      s"only user 7's in-window pair, matched across batches; got $pairs")
  }

  test("stream-stream click attribution equals the batch join") {
    val streamed = Streaming.clickAttributionStream(spark, sf)
      .as[(Long, Long, Long)].collect().toSet
    val batch = ext.Events.clickAttribution(spark, sf)
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == batch, "drained inner stream-stream join must equal batch")
  }

  test("daily-chunked dedup-ids equals the single-batch tier") {
    val chunked = Streaming.dedupIdsStreamTiered(spark, sf, chunked = true)
      .as[(Long, Long, String)].collect().sorted
    val single = Streaming.dedupIdsStreamTiered(spark, sf, chunked = false)
      .as[(Long, Long, String)].collect().sorted
    assert(chunked.sameElements(single),
      "chunked and single-batch dedup replays must emit identical rows")
  }

  test("daily-chunked click attribution equals the single-batch tier") {
    // The auto-tier contract: whichever source the |events| dispatch
    // picks, values are identical — forced here on the gate fixture
    // (below the cap, so the gated entry runs single-batch and THIS
    // drives the chunked path it would take at scale).
    val chunked = Streaming
      .clickAttributionStreamTiered(spark, sf, chunked = true)
      .as[(Long, Long, Long)].collect().toSet
    val single = Streaming
      .clickAttributionStreamTiered(spark, sf, chunked = false)
      .as[(Long, Long, Long)].collect().toSet
    assert(chunked == single,
      "chunked and single-batch replays must produce identical pairs")
  }

  test("transformWithState sessionize equals the mapGroupsWithState path") {
    val tws = Streaming.sessionizeTwsStream(spark, sf)
      .as[(Long, Long, Long)].collect().toSet
    val mgws = Streaming.sessionizeStream(spark, sf)
      .as[(Long, Long, Long)].collect().toSet
    assert(tws == mgws, "the two arbitrary-state APIs must fold identically")
    assert(tws.nonEmpty)
  }

  test("streaming throttle quota state equals the batch count arithmetic") {
    // hour renders as LocalDateTime (ntz) on one side and Timestamp on
    // the other — same instant, different JVM classes; compare as the
    // session-UTC string both engines agree on (the driver's canon
    // likewise compares values, not JVM classes).
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"), col("hour").cast("string").as("hour"),
        col("n_admitted"), col("n_dropped"))
      .collect().map(_.toString).toSet
    val stream = canon(Streaming.throttleStream(spark, sf))
    val batch = canon(graft.ext.Events.throttleHourly(spark, sf))
    assert(stream == batch,
      "per-event quota admission must reproduce the batch counts")
    assert(stream.nonEmpty)
    // The quota actually bites somewhere: at least one hour drops.
    val dropped = graft.ext.Events.throttleHourly(spark, sf)
      .agg(sum(col("n_dropped"))).collect()(0).getLong(0)
    assert(dropped > 0, "no hour exceeds the quota — gate vacuous")
  }
}
