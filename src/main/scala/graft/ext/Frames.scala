package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Lifecycle helpers for `localCheckpoint`ed frames.
  *
  * `Dataset.localCheckpoint()` persists its materialized rows as
  * MEMORY_AND_DISK blocks on the session's block manager, and Spark
  * registers the persisted RDD with its ContextCleaner. One rule decides
  * when those blocks go:
  *   - an iterative loop's superseded rounds (BFS, k-core, connected
  *     components) are freed eagerly with [[freeCheckpoint]] — the loop
  *     knows a round is dead before GC does;
  *   - [[sessionMemo]] frames live with the session: the memo references
  *     them, so the cleaner never sees them unreachable;
  *   - every other checkpoint belongs to the plans that read it, and the
  *     ContextCleaner unpersists it once no plan references it.
  * No caller sweeps the session between queries.
  *
  * The checkpointed Dataset's analyzed plan is a [[LogicalRDD]] leaf
  * whose `rdd` IS the persisted RDD, so the blocks can be dropped (and
  * liveness checked) directly — no session-global registry needed.
  * A freed checkpoint CANNOT recompute (lineage is truncated by
  * design), so only frames no live plan references may be freed.
  */
object Frames {

  private def checkpointLeaves(df: DataFrame): Seq[LogicalRDD] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case lr: LogicalRDD => lr
    }

  /** Drop the persisted blocks behind a checkpointed frame. No-op on
    * non-checkpointed frames. */
  private[graft] def freeCheckpoint(df: DataFrame): Unit =
    checkpointLeaves(df).foreach(_.rdd.unpersist(blocking = false))

  /** True iff every checkpointed leaf of `df` still has its blocks —
    * the validity test [[sessionMemo]] applies before reusing a frame
    * (an explicit [[freeCheckpoint]] of a memo frame, or a lost block
    * store, leaves a lineage-truncated frame that must be rebuilt). */
  private[graft] def checkpointAlive(df: DataFrame): Boolean =
    checkpointLeaves(df).forall(_.rdd.getStorageLevel != StorageLevel.NONE)

  /** Per-tag count of actual builds — observability for reuse-pinning
    * specs (a same-session second consumer must not rebuild). */
  private val buildCounts =
    collection.mutable.Map.empty[String, Int].withDefaultValue(0)

  private[graft] def buildsOf(tag: String): Int =
    synchronized { buildCounts(tag) }

  /** One-shot holder: the `lazy val` monitor gives per-KEY once-only
    * semantics, so a cold build (a Spark count that can take seconds at
    * sf10) blocks only same-key callers — never a build or a warm hit
    * of another key. */
  private final class LazyBox(thunk: () => Any) { lazy val value: Any = thunk() }

  private val boxes = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String), LazyBox]()

  /** The box for `key`, inserted unevaluated (putIfAbsent) if absent:
    * the build runs OUTSIDE any map or Frames lock, so concurrent builds
    * of different keys — and a build that itself calls back into a
    * memo — can never deadlock or serialize. */
  private def boxOf(key: (String, String, String), build: => Any): LazyBox = {
    val box = boxes.get(key)
    if (box != null) box
    else {
      val fresh = new LazyBox(() => build)
      val prev = boxes.putIfAbsent(key, fresh)
      if (prev == null) fresh else prev
    }
  }

  /** Session-scoped memo for a SMALL plan-time statistic (a corpus
    * count, a derived parameter), keyed by (tag, SparkContext, sfDir);
    * built once per key. */
  private[graft] def scalarMemo[T](tag: String,
      spark: org.apache.spark.sql.SparkSession, sfDir: String)(
      build: => T): T =
    boxOf((tag, spark.sparkContext.applicationId, sfDir), build)
      .value.asInstanceOf[T]

  /** Session-scoped shared-frame memo, keyed like [[scalarMemo]] — the
    * cross-query seam for an intermediate several gated queries need
    * (cluster labels, the co-purchase graph): within one session it is
    * computed once. A frame whose blocks are gone ([[checkpointAlive]]
    * false) is dropped and transparently rebuilt, so a lost block can
    * never surface as a truncated-lineage failure. `build` must return
    * a `localCheckpoint`-backed, BOUNDED frame: the memo keeps its
    * blocks for the session's lifetime, which is only sound for frames
    * far smaller than the corpus (pair graphs, label maps — never raw
    * scans). */
  private[graft] def sessionMemo(tag: String,
      spark: org.apache.spark.sql.SparkSession, sfDir: String)(
      build: => DataFrame): DataFrame = {
    val key = (tag, spark.sparkContext.applicationId, sfDir)
    val box = boxOf(key, {
      val built = build
      synchronized { buildCounts(tag) += 1 }
      built
    })
    val df = box.value.asInstanceOf[DataFrame]
    if (checkpointAlive(df)) df
    else {
      boxes.remove(key, box)
      sessionMemo(tag, spark, sfDir)(build)
    }
  }

  /** Size-adaptive shuffle-partition count for an ITERATIVE loop's
    * round frames (guide §2.2 fewer-larger partitions, made adaptive):
    * one partition per ~1M rows of the frame the rounds actually
    * shuffle, floor 8, and never above `cap`, the session's
    * `spark.sql.shuffle.partitions` (so a session narrower than 8 keeps
    * its own width). An sf30 partition sweep measured the graph loops'
    * runtime ~LINEAR in the partition count with data held constant
    * (BFS: 8 parts 6.7 s / 32 parts 17 s / 64 parts 31 s) — per-task
    * fixed overhead dwarfs per-task data on node-sized round frames, and
    * AQE's parallelism-first coalescing floor keeps CPU-count
    * partitions alive however small the data. Callers put the width in
    * the plan through [[roundSide]]; the session setting is only read,
    * never written. */
  private[graft] def roundShuffleParts(rows: Long, cap: Int): Int =
    math.min(cap.toLong, math.max(8L, rows / 1000000L)).toInt

  /** A round's node-sized join side, `key` renamed `as` above a shuffle
    * into `parts`, so the planner shuffles the edge list into `parts` to
    * match (a join over bare shuffles only is widened to the session
    * width). Left unshuffled at the session width, or when its estimate
    * fits the broadcast threshold: it is broadcast, the edges stay put. */
  private[graft] def roundSide(df: DataFrame, key: String, as: String,
      parts: Int): DataFrame = {
    val conf = df.sparkSession.sessionState.conf
    val planned = parts == conf.numShufflePartitions ||
      df.queryExecution.optimizedPlan.stats.sizeInBytes <= conf.autoBroadcastJoinThreshold
    (if (planned) df else df.repartition(parts, col(key))).select(col(key).as(as))
  }
}
