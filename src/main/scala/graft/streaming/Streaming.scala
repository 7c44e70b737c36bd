package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Dataset, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}

import graft.{Scratch, Tables}
import graft.kv.KvOp

/** Structured Streaming renditions of the batch analytics (SURVEY.md §2.8:
  * the reference has no streaming, but the [SPEC] kvraft op stream is the
  * natural streaming twin, and a training-data pipeline ingests event
  * streams). The gated entry points REALLY execute through the streaming
  * engine — file source → micro-batches (Trigger.AvailableNow) →
  * foreachBatch into the idempotent parquet sink — then read the sink
  * back, so the driver's DuckDB gate applies to the streaming path too.
  * No gated path uses the `memory` sink: that would hold every update
  * row on the driver (O(corpus) for per-document queries).
  *
  * Scale notes: the same code runs unbounded (continuous ingestion) by
  * swapping the trigger; state stores are per-key and spill via the
  * state-store provider; the windowed agg shuffles once on the (window,
  * type) grouping key exactly like its batch twin.
  *
  * Session setup: set `spark.sql.streaming.stateStore.providerClass` to
  * `RocksDBStateStoreProvider` when the session is built (README). RocksDB
  * spills keyed state to local disk instead of holding it on the JVM
  * heap — at 100 TB the per-key state (dedup hashes, session state)
  * outgrows executor heaps long before it outgrows local disk.
  */
object Streaming {

  /** Streaming state-partition count (see the conf comment in
    * [[runToParquet]]); a dial, raised with state volume in production. */
  private val StatePartitions = "8"

  /** State partitions for the CHUNKED (big-corpus) replay tier, where
    * each micro-batch carries tens of millions of state rows: one
    * partition per ~1M events, floored at the gate-SF 8 and capped at
    * `min(32, defaultParallelism)`. Width past the session's cores only
    * multiplies fixed cost (a state partition pays a RocksDB instance
    * per stateful operator per batch); 32 is the widest this tier has
    * been measured at (sf30-uniform, local[32], 8 → 32 partitions:
    * dedup_ids 133.0 → 67.1 s, click_attrib 132.0 → 60.2 s), so a wider
    * session keeps 32 until a larger run shows more width pays. The
    * floor wins on a session narrower than 8 cores. Values are
    * state-partition-invariant (pinned by the partition-count burn-in);
    * the small-SF path never takes this tier. */
  private def chunkedStateParts(spark: SparkSession, sfDir: String): String =
    math.max(8L, math.min(
      math.min(32, spark.sparkContext.defaultParallelism).toLong,
      eventsCount(spark, sfDir) / 1000000L)).toString

  private val startWindow = new Object // one runToParquet start() at a time

  /** Run a streaming frame to completion through a parquet sink and
    * read the result back as a batch frame.
    *
    * Update mode writes each micro-batch to its own `batch=<id>`
    * partition via [[Sinks.idempotentParquet]] (the result is the union
    * of all update rows, finalized by the caller's max_by). Complete
    * mode overwrites ONE `latest` directory per batch — each complete
    * batch IS the whole result, so overwrite is naturally idempotent
    * under replay and the read-back touches exactly one copy. A source
    * with zero rows can fire ZERO batches and write nothing at all —
    * the hasOutput guard below turns that into an empty frame instead
    * of a schema-inference failure.
    *
    * This is the scale-safe gate path: a `memory`-format sink would
    * materialize every update row on the DRIVER — O(corpus) driver state
    * for per-document queries like dedup — whereas here updates go
    * executor→parquet and only the driver-side read of the FINAL
    * aggregate is small. Checkpoint + per-batch overwrite also make the
    * write path recoverable (memory sink is not). The returned frame
    * reads the sink directory lazily, so it lives under [[Scratch]]
    * until the JVM exits. */
  private def runToParquet(updates: DataFrame, mode: OutputMode,
      name: String, stateParts: String = StatePartitions): DataFrame = {
    val spark = updates.sparkSession
    val outDir = Scratch.dir(s"graft-sink-$name-").toString
    val complete = mode == OutputMode.Complete()
    val sink: (DataFrame, Long) => Unit =
      if (complete)
        (batch, _) => batch.write.mode("overwrite").parquet(s"$outDir/latest")
      else Sinks.idempotentParquet(outDir)
    // State partitions are sized to STATE VOLUME, not CPU count: every
    // state partition pays a RocksDB instance per stateful operator per
    // micro-batch, so a CPU-sized 32 costs ~2× wall on the stream-stream
    // join (8.5 → 4.3 s measured) while the gate-SF state fits in a few
    // partitions with room to spare. Production raises this dial with
    // state size; result VALUES are partition-count-invariant (pinned by
    // the 32-vs-16-thread burn-in).
    //
    // One of the two session writes left in a query path (the other is
    // Bpe.runMerges' codegen window): a streaming query's state-partition
    // count has no per-plan form — it is read from the session conf when
    // the query starts, then fixed in the checkpoint. The window is just
    // `start()`: StreamExecution clones the session, conf included, in
    // its constructor, so the running query keeps `stateParts` while
    // the session setting is restored before the batches run. Two
    // interleaved windows would restore each other's `stateParts`.
    //
    // The checkpoint lives as long as the run: a terminated AvailableNow
    // query never reads it again, so it is deleted on success and on
    // failure alike.
    val ckpt = Scratch.dir("graft-ckpt-")
    try {
      val q = startWindow.synchronized {
        val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", stateParts)
        try updates.writeStream
          .foreachBatch(sink)
          .outputMode(mode)
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow())
          .start()
        finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      }
      q.awaitTermination()
    } finally FileUtils.deleteQuietly(ckpt.toFile)
    // A source with zero rows can legitimately produce zero batches —
    // the sink dir is then empty and read.parquet cannot infer a
    // schema. "No data yet" is an empty result, not an error.
    val target = Paths.get(if (complete) s"$outDir/latest" else outDir)
    if (!Files.exists(target) || entries(target).isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], updates.schema)
    else if (complete) spark.read.parquet(s"$outDir/latest")
    else spark.read.parquet(outDir).drop("batch")
  }

  /** A directory's entries, sorted by name: `Files.list` order is
    * filesystem-dependent, and part-file NAME order is the order the
    * in-order streaming contract (§7.7.5) rides on. */
  private def entries(dir: Path): Seq[Path] = {
    val listing = Files.list(dir)
    try listing.iterator().asScala.toSeq.sortBy(_.getFileName.toString)
    finally listing.close()
  }

  private val stagedSrc =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Stage a (read-only) table into a temp DIRECTORY — the file source
    * requires one; in production the ingest path IS a directory files
    * land in. Handles both layouts a parquet table comes in: a single
    * file (this repo's fixtures) and a directory of part files (what
    * `df.write.parquet` produces). Cached per (sfDir, table). */
  private def staged(sfDir: String, table: String): String =
    stagedSrc.computeIfAbsent(s"$sfDir/$table", { _ =>
      val d = Scratch.dir("graft-stream-src-")
      val src = Paths.get(s"$sfDir/$table.parquet")
      if (Files.isDirectory(src)) {
        val parts =
          entries(src).filter(_.getFileName.toString.endsWith(".parquet"))
        parts.zipWithIndex.foreach { case (p, i) =>
          // Explicit ascending mtimes: the source sorts by mtime (see
          // [[stamp]]); two sub-millisecond copies could otherwise tie
          // and stage later parts as earlier files.
          stamp(Files.copy(p, d.resolve(f"part-$i%05d.parquet")), i)
        }
      } else Files.copy(src, d.resolve(s"$table.parquet"))
      d.toString
    })

  /** A file-source stream over a staged directory. The schema comes from
    * the staged files themselves, read the way the batch table is, never
    * from the raw source file: the daily staging rewrites `ts` through
    * Tables.events (always timestamp_ntz micros), so a raw
    * TIMESTAMP(NANOS) file read under nanosAsLong would hand readStream a
    * LongType spec for micros data and normalizeEventTs would divide by
    * 1000 AGAIN. Deriving the spec from the staged files makes the two
    * sides definitionally agree. */
  private def stagedStream(spark: SparkSession, dir: String,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.readStream.schema(spark.read.parquet(dir).schema)
      .options(options).parquet(dir)

  /** Stream the events table as micro-batches of its staged copy,
    * normalizing `ts` the way Tables.events does (to timestamp_ntz
    * micros). */
  def eventStream(spark: SparkSession, sfDir: String): DataFrame =
    Tables.normalizeEventTs(stagedStream(spark, staged(sfDir, "events")))

  /** The documents table as a stream, one micro-batch of its staged copy. */
  private def documentStream(spark: SparkSession, sfDir: String): DataFrame =
    stagedStream(spark, staged(sfDir, "documents"))

  private val chunkStagedSrc =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Time-ordered MULTI-file staging of the events table — one parquet
    * file per event-time day, named in time order — the production
    * ingest layout (a directory daily drops land in). The single-file
    * staging ([[staged]]) replays the WHOLE stream as one micro-batch;
    * a watermark only advances BETWEEN batches, so a stream-stream join
    * replayed that way buffers every row of both sides in state before
    * evicting anything — state O(corpus) instead of O(window), a replay
    * artifact (continuous operation never sees it) that measured
    * ~4.2× per 3× on click attribution. Daily files + a bounded
    * files-per-trigger cap make the replay genuinely micro-batched:
    * state stays O(events within the watermark window) at any corpus
    * size. Day keys sort lexicographically = chronologically, so the
    * file-NAME order the in-order contract (§7.7.5) rides on is the
    * event-time order. */
  private def stagedDaily(spark: SparkSession, sfDir: String): String =
    chunkStagedSrc.computeIfAbsent(s"$sfDir/events", { _ =>
      val d = Scratch.dir("graft-stream-days-")
      // The write's scratch directory: once the days have moved out it
      // holds only markers, checksums and empty `chunk=` directories.
      val tmp = Scratch.dir("graft-stream-days-tmp-")
      try {
        Tables.events(spark, sfDir)
          .withColumn("chunk", date_format(col("ts"), "yyyyMMdd"))
          .repartition(col("chunk"))
          .sortWithinPartitions(col("ts"), col("event_id"))
          .write.partitionBy("chunk").mode("overwrite").parquet(tmp.toString)
        val dayDirs =
          entries(tmp).filter(_.getFileName.toString.startsWith("chunk="))
        dayDirs.zipWithIndex.foreach { case (dayDir, i) =>
          val parts =
            entries(dayDir).filter(_.getFileName.toString.endsWith(".parquet"))
          // One partition holds a whole day (repartition by chunk), so a
          // day dir has exactly one ts-sorted file; >1 would mean two
          // files of the SAME day whose cross-file order is undefined —
          // fail loudly rather than stage a disordered stream.
          require(parts.size == 1,
            s"day ${dayDir.getFileName} staged as ${parts.size} files")
          stamp(Files.move(parts.head, d.resolve(f"part-$i%05d.parquet")), i)
        }
      } finally FileUtils.deleteQuietly(tmp.toFile)
      d.toString
    })

  /** Give the i-th staged file an explicitly ascending mtime. The file
    * source orders files by MODIFICATION TIME, not name, and a rename
    * keeps the mtime the shuffle task that wrote the part finished at —
    * task-completion order, not day order. Out-of-order days straddling
    * a micro-batch boundary arrive below the already-advanced watermark
    * and are DROPPED (measured: 36% of attribution pairs lost at sf3).
    * Deterministic minute-spaced stamps make mtime order = name order =
    * event-time order — the in-order contract (§7.7.5) enforced on the
    * axis the source actually sorts by. */
  private[graft] def stamp(p: Path, i: Int): Unit =
    Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(1600000000000L + i * 60000L))

  /** How many daily files each micro-batch consumes in the chunked
    * replay: 10 ⇒ a 30-day fixture drains in 3 batches — enough
    * watermark advances to keep join state window-bounded without
    * paying 30 batch commits of fixed overhead. */
  private val DailyFilesPerTrigger = "10"

  /** [[eventStream]] over the daily staging — the source for the
    * stateful replays whose state would otherwise grow with the corpus
    * instead of the window (today: the stream-stream attribution
    * join). Values are batching-invariant: the sources are time-ordered
    * so no row is ever late to its own batch's watermark, and both join
    * sides read the same files per trigger. */
  def eventStreamDaily(spark: SparkSession, sfDir: String): DataFrame =
    Tables.normalizeEventTs(stagedStream(spark, stagedDaily(spark, sfDir),
      Map("maxFilesPerTrigger" -> DailyFilesPerTrigger)))

  /** Streaming twin of Events.windowedAgg: tumbling-hour counts + exact
    * integer-cent sums per event type, complete mode through the parquet
    * sink. Same oracle as the batch query. */
  def windowedAgg(spark: SparkSession, sfDir: String): DataFrame =
    runToParquet(hourTotals(eventStream(spark, sfDir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))),
      OutputMode.Complete(), "windowed-agg")

  /** Each group's event count and exact integer-cent value sum. */
  private def hourTotals(groups: RelationalGroupedDataset): DataFrame =
    groups.agg(count(lit(1)).as("cnt"),
      graft.ext.Events.centsSum(col("value")).as("sum_value"))

  /** Watermarked tumbling windows in APPEND mode — the
    * closed-windows-only emission discipline (each window written
    * exactly once, when the watermark passes its end) that downstream
    * consumers of a streaming sink rely on. The drained result is every
    * window whose end the FINAL watermark (max event time − 30 min)
    * passed — a deterministic, oracle-expressible subset; the 30 min
    * delay lands mid-hour on real timestamps, so the window-end
    * comparison never sits on the boundary. Complete-mode twin:
    * [[windowedAgg]]. */
  def windowedAppendStream(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = hourTotals(eventStream(spark, sfDir)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type")))
      .select(col("w.start").cast("timestamp_ntz").as("hour"),
        col("event_type"), col("cnt"), col("sum_value"))
    runToParquet(agg, OutputMode.Append(), "windowed-append")
  }

  val windowedAppendSql: String =
    s"""WITH m AS (SELECT MAX(ts) AS max_ts FROM events)
       |SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS cnt,
       |  ${graft.ext.Events.centsSumSql("value")} AS sum_value
       |FROM events
       |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
       |  <= (SELECT max_ts FROM m) - INTERVAL 30 MINUTE
       |GROUP BY 1, 2""".stripMargin

  /** The in-order contract (SURVEY.md §7.7.5), checked once for every
    * in-order fold: sort one batch of `key`'s rows into the fold's
    * `order` and fail when the first is behind the state's cursor —
    * `behind(incoming, last)` is the fold's own rule. A batch that
    * arrives out of order would otherwise be folded wrong in silence. */
  private[streaming] def inOrder[R: ClassTag, O: Ordering, C](fold: String,
      key: Any, rows: Iterator[R])(order: R => O, cursor: R => C, last: C)(
      behind: (C, C) => Boolean): Array[R] = {
    val sorted = rows.toArray.sortBy(order)
    if (sorted.nonEmpty && behind(cursor(sorted.head), last))
      throw new IllegalStateException(
        s"out-of-order input to $fold for key $key: incoming " +
          s"${cursor(sorted.head)} is behind last applied $last; deliver " +
          "this source in order, or replay it by event time under a " +
          "watermark (Streaming.kvReplayEventTime)")
    sorted
  }

  /** Streaming twin of KvReplay.replay: per-key fold over the op stream
    * with `mapGroupsWithState`. Within a micro-batch ops are sorted by
    * `seq`; across batches the file source delivers in file order (the
    * op log is seq-ordered — SURVEY.md §7.7.5 requires a monotonic seq
    * per key, which event_id provides), and an op at or below the last
    * applied seq fails the query ([[inOrder]]). A `get` leaves the value
    * as it is but still advances the seq. Each update emits the running
    * state stamped with the last applied seq, so the final state per key
    * is the max_by(last_seq) row — deterministic under ANY batching. */
  def kvReplayUpdates(ops: Dataset[KvOp]): DataFrame = {
    import ops.sparkSession.implicits._
    ops.groupByKey(_.key)
      .mapGroupsWithState[(String, Long), (String, String, Long)](
        GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[KvOp], state: GroupState[(String, Long)]) =>
          val (cur, lastSeq) = state.getOption.getOrElse(("", -1L))
          val sorted = inOrder("kvReplayUpdates", key, it)(
            _.seq, _.seq, lastSeq)(_ <= _)
          val next = (KvOp.fold(cur, sorted.iterator.map(o => (o.op, o.value))),
            sorted.lastOption.fold(lastSeq)(_.seq))
          state.update(next)
          (key, next._1, next._2)
      }
      .toDF("key", "value", "last_seq")
  }

  /** Driver-gated entry: stream the events-derived op log, fold with
    * state, keep each key's latest update. Oracle = the batch kv_replay
    * oracle (same final states). */
  def kvReplayStream(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // Single source of truth for the event->op mapping: the batch
    // module's, whose oracle this query is gated against.
    val ops = graft.kv.KvReplay.opsFromEvents(eventStream(spark, sfDir))
      .filter(col("op") =!= "get")
      .as[KvOp]
    runToParquet(kvReplayUpdates(ops), OutputMode.Update(), "kv-replay")
      .groupBy("key")
      .agg(max_by(col("value"), col("last_seq")).as("value"))
  }

  /** The (user_id, tsu, event_id) rows the per-user folds read, event
    * time as epoch micros. */
  private def userEvents(events: DataFrame): Dataset[(Long, Long, Long)] = {
    import events.sparkSession.implicits._
    events.select(
      col("user_id").cast("long"),
      unix_micros(col("ts").cast("timestamp")).as("tsu"),
      col("event_id").cast("long")).as[(Long, Long, Long)]
  }

  /** Per-user session state: last applied event time (micros), sessions
    * and events so far; `SessState()` is a user not seen yet. */
  case class SessState(lastTs: Long = Long.MinValue, nSessions: Long = 0L,
      nEvents: Long = 0L)

  /** The sessionizer's one step, shared by both state APIs: fold one
    * batch of a user's [[userEvents]] rows in (ts, event_id) order; a gap
    * over 30 min starts a session. Gap counting needs event-time order
    * per user (§7.7.5), so an event older than the last applied one
    * fails the query. */
  private[streaming] def sessionStep(uid: Long, state: SessState,
      rows: Iterator[(Long, Long, Long)]): SessState = {
    val sorted = inOrder("sessionize", uid, rows)(
      e => (e._2, e._3), _._2, state.lastTs)(_ < _)
    sorted.foldLeft(state) { case (s, (_, tsu, _)) =>
      val gap = s.lastTs == Long.MinValue || tsu - s.lastTs > 1800000000L
      SessState(tsu, s.nSessions + (if (gap) 1 else 0), s.nEvents + 1)
    }
  }

  /** Streaming sessionization with `mapGroupsWithState`: each update is
    * stamped with n_events (strictly increasing per user), so the final
    * row per user is the max_by — deterministic under any batching,
    * provided batches arrive in event-time order per user (holds for the
    * seq-ordered source files here). */
  def sessionizeUpdates(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    userEvents(events).groupByKey(_._1)
      .mapGroupsWithState[SessState, (Long, Long, Long)](
        GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, Long)],
            state: GroupState[SessState]) =>
          val s = sessionStep(uid, state.getOption.getOrElse(SessState()), rows)
          state.update(s)
          (uid, s.nSessions, s.nEvents)
      }
      .toDF("user_id", "n_sessions", "n_events")
  }

  /** Drain a sessionizer's updates and keep each user's latest counts. */
  private def finalSessions(updates: DataFrame, name: String): DataFrame =
    runToParquet(updates, OutputMode.Update(), name)
      .groupBy("user_id")
      .agg(max_by(col("n_sessions"), col("n_events")).as("n_sessions"),
        max(col("n_events")).as("n_events"))

  /** Driver-gated entry; oracle = the batch sessionize oracle. */
  def sessionizeStream(spark: SparkSession, sfDir: String): DataFrame =
    finalSessions(sessionizeUpdates(eventStream(spark, sfDir)), "sessionize")

  /** [[sessionizeUpdates]] on the transformWithState API (Spark 4's
    * arbitrary-state surface): explicit named ValueState, the state
    * schema evolvable and inspectable by the state reader. Same
    * [[sessionStep]], same oracle. */
  private class SessionizeProcessor
      extends StatefulProcessor[Long, (Long, Long, Long), (Long, Long, Long)] {
    @transient private var st: ValueState[SessState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[SessState]("sess",
        Encoders.product[SessState], TTLConfig.NONE)
    override def handleInputRows(uid: Long, rows: Iterator[(Long, Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
      val s = sessionStep(uid, if (st.exists()) st.get() else SessState(), rows)
      st.update(s)
      Iterator((uid, s.nSessions, s.nEvents))
    }
  }

  private[graft] def sessionizeTwsUpdates(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    userEvents(events).groupByKey(_._1)
      .transformWithState(new SessionizeProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "n_sessions", "n_events")
  }

  /** Driver-gated entry; oracle = the batch sessionize oracle. */
  def sessionizeTwsStream(spark: SparkSession, sfDir: String): DataFrame =
    finalSessions(sessionizeTwsUpdates(eventStream(spark, sfDir)),
      "sessionize-tws")

  /** One timestamped KV op for the event-time replay path. */
  case class TimedOp(ts: java.sql.Timestamp, seq: Long, key: String,
      op: String, value: String)

  /** The state machine behind [[kvReplayEventTime]]: ops buffer in
    * explicit ListState until the watermark passes them; a registered
    * event-time timer fires [[handleExpiredTimer]] when the watermark
    * advances past the earliest buffered op even if the key receives no
    * further input, so the buffer drains without new per-key data. */
  private class KvEventTimeProcessor
      extends StatefulProcessor[String, TimedOp, (String, String, Long)] {
    @transient private var applied: ValueState[(String, Long)] = _
    @transient private var pending: ListState[TimedOp] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      applied = getHandle.getValueState[(String, Long)]("applied",
        Encoders.product[(String, Long)], TTLConfig.NONE)
      pending = getHandle.getListState[TimedOp]("pending",
        Encoders.product[TimedOp], TTLConfig.NONE)
    }

    /** Apply every op at-or-before the watermark in (ts, seq) order,
      * re-buffer the rest, re-arm a timer at the earliest remaining
      * ts. While the watermark lags, the buffer only APPENDS (no
      * full-list rewrite per batch — ListState.put is O(buffer) state
      * writes); a stale timer with nothing ready touches no state and
      * registers nothing. */
    private def drain(key: String, incoming: List[TimedOp],
        wm: Long): Iterator[(String, String, Long)] = {
      val (ready, rest) =
        (pending.get().toList ++ incoming).partition(_.ts.getTime <= wm)
      if (ready.isEmpty) {
        if (incoming.nonEmpty) {
          pending.appendList(incoming.toArray)
          getHandle.registerTimer(rest.map(_.ts.getTime).min)
        }
        Iterator.empty
      } else {
        pending.clear()
        if (rest.nonEmpty) {
          pending.put(rest.toArray)
          getHandle.registerTimer(rest.map(_.ts.getTime).min)
        }
        val (value, n) = if (applied.exists()) applied.get() else ("", 0L)
        val next = (KvOp.fold(value, ready.sortBy(p => (p.ts.getTime, p.seq))
          .iterator.map(p => (p.op, p.value))), n + ready.size)
        applied.update(next)
        Iterator((key, next._1, next._2))
      }
    }

    override def handleInputRows(key: String, rows: Iterator[TimedOp],
        timerValues: TimerValues): Iterator[(String, String, Long)] =
      drain(key, rows.toList, timerValues.getCurrentWatermarkInMs())

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[(String, String, Long)] =
      drain(key, Nil, timerValues.getCurrentWatermarkInMs())
  }

  /** Event-time KV replay for OUT-OF-ORDER delivery — the production
    * pattern when the in-order contract of [[kvReplayUpdates]] cannot be
    * guaranteed: ops buffer in state until the event-time watermark
    * passes them, then apply in (ts, seq) order ([[KvEventTimeProcessor]]).
    * Late data inside the watermark delay is reordered correctly; data
    * later than the delay is dropped by the watermark (the standard
    * trade). Needs the RocksDB state store provider (the documented
    * session setup).
    *
    * Emits (key, value, applied-count) updates; applied counts every
    * ready op and is strictly increasing per key, so max_by(applied) is
    * the latest state. */
  def kvReplayEventTime(ops: Dataset[TimedOp],
      delay: String): Dataset[(String, String, Long)] = {
    import ops.sparkSession.implicits._
    ops.withWatermark("ts", delay)
      .groupByKey(_.key)
      .transformWithState(new KvEventTimeProcessor,
        TimeMode.EventTime(), OutputMode.Update())
  }

  /** Stream-stream JOIN: click→purchase attribution — each purchase
    * joined to the same user's clicks from the preceding 2 h, both
    * sides live micro-batch streams. The time-interval condition plus
    * the per-side watermarks bound the join STATE: a buffered click can
    * be evicted once the watermark says no future purchase can reach
    * back to it, so state is O(events in the watermark window), not
    * O(stream). Inner joins emit pairs as soon as both sides arrive
    * (append mode), so the drained stream equals the batch join —
    * gated against the batch clickAttribution oracle. The 3 h delay
    * covers the 2 h join reach-back plus reordering slack; the source
    * files are event-time-ordered (§7.7.5). The join takes two
    * event-shaped streaming frames, apart from the gated entry, so specs
    * drive the PRODUCTION join (watermarks, interval, condition) over
    * their own multi-batch sources instead of a hand-copied replica. */
  def clickAttributionJoin(purchaseEvents: DataFrame,
      clickEvents: DataFrame): DataFrame = {
    val p = purchaseEvents
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        // Stream-stream join event time must be TIMESTAMP (ltz); the
        // session TZ is pinned UTC, so the cast from ntz is faithful
        // and the joined output carries no timestamp column anyway.
        col("ts").cast("timestamp").as("pts"))
      .withWatermark("pts", "3 hours")
    val c = clickEvents
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cuid"),
        col("ts").cast("timestamp").as("cts"))
      .withWatermark("cts", "3 hours")
    p.join(c, col("user_id") === col("cuid") &&
        col("cts") >= col("pts") - expr("INTERVAL 2 HOURS") &&
        col("cts") <= col("pts"))
      .select(col("purchase_id"), col("click_id"), col("user_id"))
  }

  /** Event count past which the attribution replay switches from the
    * single-batch source to the daily-chunked one. The trade: chunked
    * replay pays a fixed per-batch cost (state-store commit + sink
    * round per micro-batch — measured ~6.8 s/extra batch at sf0.1,
    * 19.6 s chunked vs 5.9 s single) but pins join STATE to the
    * watermark window, while single-batch replay buffers EVERY row of
    * both sides in state before the watermark ever advances —
    * O(corpus) state, the one replay shape that grows without bound.
    * Same auto-tier discipline as [[graft.ext.Growth.rollingActivesAuto]]:
    * exact/fast below the cap, bounded above it, dispatched on the
    * memoized plan-time |events| count. Values are batching-invariant
    * (time-ordered sources: no row is late to its own batch's
    * watermark), so both tiers share one oracle — pinned by the
    * chunked-vs-batch equality spec. */
  private val ChunkedReplayEventCap = 2000000L

  /** Plan-time |events|, memoized per (session, sfDir) — same tag as
    * Growth's, so one session counts the table once total. */
  private def eventsCount(spark: SparkSession, sfDir: String): Long =
    graft.ext.Frames.scalarMemo("events_count", spark, sfDir) {
      Tables.events(spark, sfDir).count()
    }

  /** The corpus-size tier dispatch, shared by every stateful replay
    * whose state is watermark-bounded only BETWEEN batches (the
    * stream-stream join's buffered sides, dropDuplicates' id set):
    * single-batch below the cap, daily-chunked above. The tier-equality
    * specs force a tier through the `*Tiered(chunked = ...)` forms. */
  private def autoChunked(spark: SparkSession, sfDir: String): Boolean =
    eventsCount(spark, sfDir) > ChunkedReplayEventCap

  def clickAttributionStream(spark: SparkSession, sfDir: String): DataFrame =
    clickAttributionStreamTiered(spark, sfDir, autoChunked(spark, sfDir))

  /** One tier's event source (a fresh stream per call, one per join or
    * union side) and its state-partition count. */
  private def tier(spark: SparkSession, sfDir: String,
      chunked: Boolean): (() => DataFrame, String) =
    if (chunked) (() => eventStreamDaily(spark, sfDir),
      chunkedStateParts(spark, sfDir))
    else (() => eventStream(spark, sfDir), StatePartitions)

  private[graft] def clickAttributionStreamTiered(spark: SparkSession,
      sfDir: String, chunked: Boolean): DataFrame = {
    val (side, stateParts) = tier(spark, sfDir, chunked)
    runToParquet(clickAttributionJoin(side(), side()),
      OutputMode.Append(), "click-attrib", stateParts)
  }

  /** Stream-STATIC join: the live event stream enriched against a
    * batch-computed dimension (per-user first-seen timestamp) — the
    * third streaming join mode next to stream-stream
    * ([[clickAttributionStream]]) and the stateful folds. The static
    * side is planned per micro-batch like any batch join (broadcast
    * while small, shuffled when not); no watermark is needed for a
    * stream-static inner join because no cross-stream state buffers.
    * Minutes are exact integer micros division on both engines — no
    * calendar datediff('minute'), whose boundary-crossing semantics
    * differ from floor division. */
  def enrichStream(spark: SparkSession, sfDir: String): DataFrame = {
    val firstSeen = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"))
    val enriched = eventStream(spark, sfDir)
      .join(firstSeen, Seq("user_id"))
      .select(col("event_id"), col("user_id"),
        expr("(unix_micros(cast(ts as timestamp)) - " +
          "unix_micros(cast(first_ts as timestamp))) div 60000000")
          .as("mins_since_first"))
    runToParquet(enriched, OutputMode.Append(), "enrich")
  }

  val enrichSql: String =
    """WITH f AS (SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id)
      |SELECT e.event_id, e.user_id,
      |  CAST((epoch_us(e.ts) - epoch_us(f.first_ts)) // 60000000 AS BIGINT)
      |    AS mins_since_first
      |FROM events e JOIN f ON e.user_id = f.user_id""".stripMargin

  /** Streaming ID-dedup on the BUILT-IN operator: the event stream is
    * unioned with itself (the at-least-once-delivery shape an ingest
    * edge actually produces) and collapsed by
    * `dropDuplicatesWithinWatermark` on event_id — the complement of
    * [[dedupExactStream]]'s custom keyed-state dedup. State per id is
    * evicted once the watermark passes its event time plus the delay,
    * so dedup state is O(rate × window), not O(stream); duplicates
    * here arrive within a micro-batch or two, far inside the 1 h
    * delay. Rows carried through are identical per id, so the drained
    * append output equals the batch DISTINCT oracle. */
  def dedupIdsStream(spark: SparkSession, sfDir: String): DataFrame =
    dedupIdsStreamTiered(spark, sfDir, autoChunked(spark, sfDir))

  /** Tiered like the attribution join: the dedup id-set is
    * watermark-bounded state, but single-batch replay never advances
    * the watermark mid-batch, so it buffers BOTH union sides of the
    * whole corpus before evicting anything (measured 3.6× per 3.3× at
    * sf10, 65 s). Chunked replay evicts between batches — state is the
    * 1 h window. Values are tier-invariant: an event's two union copies
    * sit in the SAME staged file on both sides, so they always co-arrive
    * within one batch and dedup identically (pinned by the equality
    * spec). */
  private[graft] def dedupIdsStreamTiered(spark: SparkSession,
      sfDir: String, chunked: Boolean): DataFrame = {
    val (events, stateParts) = tier(spark, sfDir, chunked)
    def side() = events()
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts").cast("timestamp").as("ts"))
    val deduped = side().unionAll(side())
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("user_id"), col("event_type"))
    runToParquet(deduped, OutputMode.Append(), "dedup-ids", stateParts)
  }

  val dedupIdsSql: String =
    "SELECT DISTINCT event_id, user_id, event_type FROM events"

  /** Per-user quota state for [[ThrottleProcessor]]: the CURRENT hour's
    * admission counters plus the in-order cursor. */
  case class ThrottleState(hourStart: Long, nAdm: Long, nDrop: Long,
      lastTs: Long)

  /** The per-event admission state machine behind
    * [[throttleStream]]: events arrive in order per user (§7.7.5), the
    * state is ONE hour's counters (a closed hour can never reopen under
    * in-order delivery, so state per key is O(1) — the property that
    * makes a quota enforcer cheap at any rate), and each batch emits
    * the running counters for every hour it touched; `nAdm + nDrop` is
    * strictly increasing within an hour, so max_by finalizes. */
  private class ThrottleProcessor(maxPerHour: Long)
      extends StatefulProcessor[Long, (Long, Long, Long),
        (Long, Long, Long, Long)] {
    private val HourMicros = 3600000000L
    @transient private var st: ValueState[ThrottleState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[ThrottleState]("quota",
        Encoders.product[ThrottleState], TTLConfig.NONE)
    override def handleInputRows(uid: Long, rows: Iterator[(Long, Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long, Long, Long)] = {
      var s = if (st.exists()) st.get()
        else ThrottleState(Long.MinValue, 0L, 0L, Long.MinValue)
      val sorted = inOrder("throttle", uid, rows)(
        e => (e._2, e._3), _._2, s.lastTs)(_ < _)
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Long)]
      sorted.foreach { case (_, tsu, _) =>
        val hour = tsu - tsu % HourMicros
        if (hour != s.hourStart) {
          if (s.hourStart != Long.MinValue)
            out += ((uid, s.hourStart, s.nAdm, s.nDrop)) // hour closed
          s = ThrottleState(hour, 0L, 0L, tsu)
        }
        if (s.nAdm < maxPerHour) s = s.copy(nAdm = s.nAdm + 1, lastTs = tsu)
        else s = s.copy(nDrop = s.nDrop + 1, lastTs = tsu)
      }
      st.update(s)
      if (s.hourStart != Long.MinValue)
        out += ((uid, s.hourStart, s.nAdm, s.nDrop)) // running partial
      out.iterator
    }
  }

  /** Streaming rate-limiter twin of the batch
    * `events_throttle_hourly`: per-event first-N-per-hour admission
    * through O(1) keyed quota state; the drained counters must equal
    * the batch count arithmetic — the oracle is the batch SQL. */
  def throttleStream(spark: SparkSession, sfDir: String): DataFrame =
    runToParquet(throttleUpdates(
      graft.ext.Events.eventsWithBursts(eventStream(spark, sfDir))),
      OutputMode.Update(), "throttle")
      .groupBy(col("user_id"), col("hour_us"))
      .agg(max_by(struct(col("n_admitted"), col("n_dropped")),
        col("n_admitted") + col("n_dropped")).as("s"))
      .select(col("user_id"),
        expr("cast(timestamp_micros(hour_us) as timestamp_ntz)").as("hour"),
        col("s.n_admitted").as("n_admitted"),
        col("s.n_dropped").as("n_dropped"))

  /** The quota counters [[ThrottleProcessor]] emits per (user, hour). */
  private[graft] def throttleUpdates(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    userEvents(events).groupByKey(_._1)
      .transformWithState(
        new ThrottleProcessor(graft.ext.Events.ThrottleMax),
        TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "hour_us", "n_admitted", "n_dropped")
  }

  /** Streaming exact dedup — first-seen-wins per content hash with
    * keyed state, the shape of a streaming ingestion dedup stage. State
    * per hash is (keeper = min doc_id, cnt); each update is stamped with
    * cnt (strictly increasing per hash) so max_by(cnt) is the final
    * state. Oracle = the batch dedup_exact oracle. */
  def dedupExactStream(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = documentStream(spark, sfDir)
      .select(md5(col("text")).as("h"), col("doc_id")).as[(String, Long)]
    val updates = docs.groupByKey(_._1)
      .mapGroupsWithState[(Long, Long), (String, Long, Long, Long)](
        GroupStateTimeout.NoTimeout) {
        (h: String, it: Iterator[(String, Long)], state: GroupState[(Long, Long)]) =>
          val ids = it.map(_._2).toArray
          var (keeper, cnt) = state.getOption.getOrElse((Long.MaxValue, 0L))
          ids.foreach { id => if (id < keeper) keeper = id }
          cnt += ids.length
          state.update((keeper, cnt))
          (h, keeper, cnt, cnt)
      }
      .toDF("h", "keeper", "cnt", "version")
    runToParquet(updates, OutputMode.Update(), "dedup-exact")
      .groupBy("h")
      .agg(max_by(col("keeper"), col("version")).as("keeper"),
        max(col("cnt")).as("cnt"))
      .select(col("h"), col("cnt"), col("keeper"))
  }

  /** Streaming token accounting — corpus_tokenize in the INGEST path:
    * documents stream in, words fan out map-side, the STATIC tokenized
    * vocabulary (derived once from the batch corpus — the frozen-
    * tokenizer deployment shape, same posture as [[enrichStream]]'s
    * static dimension) enriches each word with its greedy piece counts,
    * and a per-doc stateful aggregation accumulates exact token totals.
    * The pieces side is planned per micro-batch like any stream-static
    * join; per-doc state is one 3-long row per document (the same
    * per-key-state posture as [[dedupExactStream]]). Docs that never
    * produce a word are restored by a post-drain left join against the
    * corpus spine, mirroring the batch query's LEFT-join discipline.
    * Oracle = the batch corpus_tokenize oracle. */
  def tokenizeStream(spark: SparkSession, sfDir: String): DataFrame = {
    val pieces = graft.ext.Tokenize.pieceFrame(spark, sfDir)
    val words = graft.ext.Tokenize.wordsOf(documentStream(spark, sfDir))
    val perDoc = words.join(pieces, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_pieces")).as("n_tokens"),
        sum(col("n_vocab_pieces")).as("n_vocab_tokens"))
    val drained = runToParquet(perDoc, OutputMode.Update(), "tokenize")
      .groupBy(col("doc_id"))
      .agg(max(col("n_words")).as("n_words"),
        max(col("n_tokens")).as("n_tokens"),
        max(col("n_vocab_tokens")).as("n_vocab_tokens"))
    Tables.documents(spark, sfDir).select(col("doc_id"))
      .join(drained, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_vocab_tokens"), lit(0L)).as("n_vocab_tokens"))
  }

  /** Streaming twin of ext.Funnel: the windowed any-entry funnel as a
    * per-user SEQUENTIAL STATE MACHINE — the shape funnels actually
    * take in production streams, where events arrive over days and the
    * batch query's whole-partition window frames don't exist. State per
    * user is six longs: last applied ts (the §7.7.5 in-order cursor),
    * the two newest view ts, the two newest QUALIFIED click ts (see
    * tied timestamps below), and the stage reached. The batch query's running maxima over
    * strict-predecessor frames collapse to exactly these scalars when
    * events are folded in (ts, event_id) order: a click qualifies iff
    * the NEWEST strictly-earlier view is within the window (the newest
    * view minimizes the gap, so it decides for all views), same for
    * purchases against qualified clicks. Stage is monotone, so the
    * final rollup is max per user; the oracle is the batch funnel's.
    *
    * Tied timestamps: the batch query's strict-predecessor frame means a
    * click at t qualifies against the newest view STRICTLY before t —
    * a view also at t must not decide it (and must not clobber the
    * decider). So the state keeps the TWO newest distinct view
    * timestamps (and likewise qualified-click timestamps): for an event
    * at t, the newest strictly-earlier view is `lastView` when
    * lastView < t, else `prevView` (t < lastView is impossible — ts is
    * monotone under the in-order contract). That answers the strict
    * predecessor exactly even when the tied view arrived in an EARLIER
    * micro-batch, and makes the result independent of event_id order
    * within a tie — matching batch, which never sees event_id. */
  def funnelUpdates(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val W = graft.ext.Funnel.WMicros
    val typed = events.select(
      col("user_id").cast("long"),
      col("event_type"),
      unix_micros(col("ts").cast("timestamp")).as("tsu"),
      col("event_id").cast("long")).as[(Long, String, Long, Long)]
    typed.groupByKey(_._1)
      .mapGroupsWithState[(Long, Long, Long, Long, Long, Long), (Long, Long, Long)](
        GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, String, Long, Long)],
            state: GroupState[(Long, Long, Long, Long, Long, Long)]) =>
          var (lastApplied, lastView, prevView, lastQC, prevQC, stage) =
            state.getOption.getOrElse((Long.MinValue, Long.MinValue,
              Long.MinValue, Long.MinValue, Long.MinValue, 0L))
          val sorted = inOrder("funnelUpdates", uid, it)(
            e => (e._3, e._4), _._3, lastApplied)(_ < _)
          // Newest tracked ts strictly before t (MinValue = none).
          def strictlyBefore(t: Long, last: Long, prev: Long): Long =
            if (last < t) last else prev
          var applied = 0L
          sorted.foreach { case (_, tpe, tsu, _) =>
            tpe match {
              case "view" =>
                if (tsu > lastView) { prevView = lastView; lastView = tsu }
                if (stage < 1L) stage = 1L
              case "click" =>
                val lv = strictlyBefore(tsu, lastView, prevView)
                if (lv != Long.MinValue && tsu - lv <= W) {
                  if (tsu > lastQC) { prevQC = lastQC; lastQC = tsu }
                  if (stage < 2L) stage = 2L
                }
              case "purchase" =>
                val lqc = strictlyBefore(tsu, lastQC, prevQC)
                if (lqc != Long.MinValue && tsu - lqc <= W) {
                  if (stage < 3L) stage = 3L
                }
              case _ => ()
            }
            lastApplied = tsu
            applied += 1
          }
          state.update((lastApplied, lastView, prevView, lastQC, prevQC, stage))
          (uid, stage, applied)
      }
      .toDF("user_id", "stage", "applied")
  }

  /** Driver-gated entry; oracle = the batch funnel-users oracle. */
  def funnelStream(spark: SparkSession, sfDir: String): DataFrame =
    runToParquet(funnelUpdates(eventStream(spark, sfDir)),
      OutputMode.Update(), "funnel")
      .groupBy("user_id")
      .agg(max(col("stage")).as("stage"))

  /** One SCD-2 interval emission: ver orders re-emissions of the same
    * island (closure always outranks any open emission — see
    * [[scd2Updates]]). */
  case class Scd2Out(user_id: Long, event_type: String, valid_from_us: Long,
      valid_to_us: Option[Long], first_eid: Long, n_events: Long,
      is_current: Boolean, ver: Long)

  /** Per-user open-island state for the streaming SCD-2 build. */
  case class Scd2St(lastTs: Long, lastEid: Long, openType: String,
      openFrom: Long, openEid: Long, openN: Long)

  /** Streaming twin of [[graft.ext.Events.scd2UserType]] — the SCD-2
    * interval build maintained INCREMENTALLY: each user's open island
    * lives in state; an event of a new type closes it (emitting the
    * closed interval with its valid_to) and opens the next. Closed
    * islands are immutable — the streaming shape SCD-2 is built for:
    * the warehouse merge only ever touches each user's current row.
    *
    * Emission versioning: an island (keyed user_id × first event id) is
    * re-emitted as its n_events grows (ver = 2n) and exactly once on
    * closure (ver = 2n+1, which outranks every open emission since the
    * closing event starts the NEXT island and never increments n) — so
    * the read side's max_by(ver) per island reconstructs the batch
    * frame exactly. In-order contract + tripwire as [[funnelUpdates]];
    * ties inside a batch re-sort by (ts, event_id), the batch build's
    * total order. */
  def scd2Updates(events: DataFrame): Dataset[Scd2Out] = {
    import events.sparkSession.implicits._
    val typed = events.select(
      col("user_id").cast("long"),
      unix_micros(col("ts").cast("timestamp")).as("tsu"),
      col("event_id").cast("long"),
      col("event_type")).as[(Long, Long, Long, String)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[Scd2St, Scd2Out](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, Long, Long, String)],
            state: GroupState[Scd2St]) =>
          var st = state.getOption.getOrElse(
            Scd2St(Long.MinValue, Long.MinValue, null, 0L, 0L, 0L))
          val sorted = inOrder("scd2Updates", uid, it)(
            e => (e._2, e._3), e => (e._2, e._3), (st.lastTs, st.lastEid))(
            Ordering[(Long, Long)].lt)
          val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Out]
          sorted.foreach { case (_, tsu, eid, typ) =>
            if (st.openType == null)
              st = Scd2St(tsu, eid, typ, tsu, eid, 1L)
            else if (typ != st.openType) {
              out += Scd2Out(uid, st.openType, st.openFrom, Some(tsu),
                st.openEid, st.openN, is_current = false, st.openN * 2 + 1)
              st = Scd2St(tsu, eid, typ, tsu, eid, 1L)
            } else st = st.copy(lastTs = tsu, lastEid = eid,
              openN = st.openN + 1)
          }
          if (st.openType != null)
            out += Scd2Out(uid, st.openType, st.openFrom, None, st.openEid,
              st.openN, is_current = true, st.openN * 2)
          state.update(st)
          out.iterator
      }
  }

  /** Driver-gated entry; oracle = the batch SCD-2 oracle. */
  def scd2Stream(spark: SparkSession, sfDir: String): DataFrame =
    runToParquet(scd2Updates(eventStream(spark, sfDir)).toDF(),
      OutputMode.Update(), "scd2")
      .groupBy(col("user_id"), col("first_eid"))
      .agg(max_by(struct(col("event_type"), col("valid_from_us"),
        col("valid_to_us"), col("n_events"), col("is_current")),
        col("ver")).as("r"))
      .select(col("user_id"), col("r.event_type").as("event_type"),
        expr("cast(timestamp_micros(r.valid_from_us) as timestamp_ntz)")
          .as("valid_from"),
        expr("cast(timestamp_micros(r.valid_to_us) as timestamp_ntz)")
          .as("valid_to"),
        col("r.n_events").as("n_events"),
        col("r.is_current").as("is_current"))

  /** Streaming curation admission — the ship gate's quality+dedup
    * filter in the INGEST path: documents stream in, the quality score
    * is pure map-side kernel work per row, and the duplicate-keeper
    * membership is a stream-static LEFT SEMI join against the
    * batch-derived keeper set (the frozen-reference deployment shape:
    * the keeper snapshot updates per ingest cycle, the stream filters
    * against it continuously — same static-side posture as
    * [[enrichStream]] and [[tokenizeStream]]). Stateless — Append mode,
    * no state store; every admitted doc is emitted exactly once.
    * Oracle = the batch corpus_curate oracle. */
  def curateStream(spark: SparkSession, sfDir: String): DataFrame = {
    val keepers = graft.ext.Dedup.fingerprintDedup(spark, sfDir)
      .select(col("keeper").as("doc_id"))
    val admitted = documentStream(spark, sfDir)
      .select(col("doc_id"),
        graft.ext.TextAnalysis.qualityScoreCol.as("quality_score"))
      .filter(col("quality_score") >= 0.5)
      .join(keepers, Seq("doc_id"), "left_semi")
    runToParquet(admitted, OutputMode.Append(), "curate")
  }

  /** Streaming A/B readout — the experiment dashboard in the ingest
    * path: the fact-sized work (per-user purchase/error counters) runs
    * as ONE incremental streaming aggregation (per-user Long state,
    * Complete mode — each batch emits the whole per-user frame, so the
    * sink overwrite is idempotent under replay); the constant-size 2×2
    * + chi-square finisher runs on the read-back, shared verbatim with
    * the batch path ([[graft.ext.Experiment.readoutFromCounts]] — the
    * same finisher seam as the kv twin's max_by read side). Oracle =
    * the batch A/B oracle: the streaming counters must land on the
    * identical cells. */
  def abTestStream(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = graft.ext.Experiment.perUserCounts(
      eventStream(spark, sfDir))
    graft.ext.Experiment.readoutFromCounts(
      runToParquet(counts, OutputMode.Complete(), "ab-test"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_stream_ab_test" -> (abTestStream _),
    "corpus_curate_stream" -> (curateStream _),
    "events_stream_funnel" -> (funnelStream _),
    "dedup_exact_stream" -> (dedupExactStream _),
    "events_stream_windowed_agg" -> (windowedAgg _),
    "kv_replay_stream" -> (kvReplayStream _),
    "events_stream_sessionize" -> (sessionizeStream _),
    "events_stream_sessionize_tws" -> (sessionizeTwsStream _),
    "events_stream_click_attrib" -> (clickAttributionStream _),
    "events_stream_dedup_ids" -> (dedupIdsStream _),
    "events_stream_throttle" -> (throttleStream _),
    "events_stream_enrich" -> (enrichStream _),
    "events_stream_windowed_append" -> (windowedAppendStream _),
    "corpus_tokenize_stream" -> (tokenizeStream _),
    "events_stream_scd2" -> (scd2Stream _))

  val oracles: Map[String, String] = Map(
    "events_stream_ab_test" -> graft.ext.Experiment.abTestSql,
    "corpus_curate_stream" -> graft.ext.Curation.curateSql,
    "events_stream_funnel" -> graft.ext.Funnel.funnelUsersSql,
    "dedup_exact_stream" -> graft.ext.Dedup.exactSql,
    "events_stream_windowed_agg" -> graft.ext.Events.windowedAggSql,
    "kv_replay_stream" -> graft.kv.KvReplay.oracleSql,
    "events_stream_sessionize" -> graft.ext.Events.sessionizeSql,
    "events_stream_sessionize_tws" -> graft.ext.Events.sessionizeSql,
    "events_stream_click_attrib" -> graft.ext.Events.clickAttributionSql,
    "events_stream_dedup_ids" -> dedupIdsSql,
    "events_stream_throttle" -> graft.ext.Events.throttleHourlySql,
    "events_stream_enrich" -> enrichSql,
    "events_stream_windowed_append" -> windowedAppendSql,
    "corpus_tokenize_stream" -> graft.ext.Tokenize.corpusTokenizeSql,
    "events_stream_scd2" -> graft.ext.Events.scd2UserTypeSql)
}
