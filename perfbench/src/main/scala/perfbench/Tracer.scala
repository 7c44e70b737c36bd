package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory span recorder for the traced run.
  *
  * A span wraps one call from the benchmark into a `graft.*` module. While
  * a span is open its id is the Spark job group of the calling thread, so
  * the [[SparkListener]] below hangs every Spark job (and the job's stages)
  * under the span that submitted it. Jobs from threads the benchmark does
  * not own (a streaming query's execution thread) carry their own group
  * and are recorded with span 0; the reader attributes them to the root
  * span that was open when they started. Spans opened on such a thread
  * hang under the current root span.
  *
  * Nothing is written while the loop runs: records stay in memory and
  * [[records]] hands them out after [[finish]] has drained the listener
  * bus. When tracing is off, [[span]] is a plain call.
  */
final class Tracer(spark: SparkSession, mapper: ObjectMapper) {
  private val sc: SparkContext = spark.sparkContext
  @volatile private var on = false
  private val ids = new AtomicLong(1L)
  private val spans = new ConcurrentLinkedQueue[ObjectNode]()
  private val groups = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile private var currentRoot = 0L
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  private val jobs = new ConcurrentHashMap[Int, ObjectNode]()
  private val stageOwner = new ConcurrentHashMap[Int, Int]()
  private val stageAgg = new ConcurrentHashMap[(Int, Int), StageAgg]()
  private val progress = new ConcurrentLinkedQueue[ObjectNode]()

  def enabled: Boolean = on

  /** Seconds the first [[start]] took: the set-up cost tracing adds. */
  @volatile var installS: Double = -1.0

  def start(): Unit = if (!on) {
    val t0 = System.nanoTime()
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    on = true
    if (installS < 0) installS = (System.nanoTime() - t0) / 1e9
  }

  /** Stop recording and wait until every event posted so far has been
    * delivered to the listeners. Recording can start again later; the
    * records collected so far are kept. */
  def finish(): Unit = if (on) {
    on = false
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  /** Root span of one benchmark job; `attrs` are copied into its record. */
  def root[T](name: String, attrs: Map[String, Any])(body: => T): T =
    if (!on) body else open(name, attrs, isRoot = true)(body)

  def span[T](name: String)(body: => T): T =
    if (!on) body else open(name, Map.empty, isRoot = false)(body)

  private def open[T](name: String, attrs: Map[String, Any], isRoot: Boolean)(
      body: => T): T = {
    val id = ids.getAndIncrement()
    val parent = if (isRoot) 0L else stack.get.headOption.getOrElse(currentRoot)
    val group = s"perfbench-span-$id"
    groups.put(group, id)
    val saved = Seq("spark.jobGroup.id", "spark.job.description",
      "spark.job.interruptOnCancel").map(k => k -> sc.getLocalProperty(k))
    sc.setJobGroup(group, name, interruptOnCancel = false)
    stack.set(id :: stack.get)
    if (isRoot) currentRoot = id
    val t0ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var failed = true
    try { val r = body; failed = false; r }
    finally {
      val dur = (System.nanoTime() - t0) / 1e9
      stack.set(stack.get.drop(1))
      saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      if (isRoot) currentRoot = 0L
      val rec = mapper.createObjectNode()
      rec.put("type", "span").put("id", id).put("parent", parent)
        .put("name", name).put("t0_ms", t0ms).put("dur_s", dur)
        .put("failed", failed)
      attrs.foreach {
        case (k, v: Int) => rec.put(k, v)
        case (k, v: Long) => rec.put(k, v)
        case (k, v: Double) => rec.put(k, v)
        case (k, v) => rec.put(k, String.valueOf(v))
      }
      spans.add(rec)
    }
  }

  private final class StageAgg {
    var tasks = 0
    var failedTasks = 0
    val taskMs = mutable.ArrayBuffer.empty[Long]
    val sums = mutable.LinkedHashMap.empty[String, Long]
    def add(k: String, v: Long): Unit = sums(k) = sums.getOrElse(k, 0L) + v
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val rec = mapper.createObjectNode()
      val g = if (e.properties == null) null
        else e.properties.getProperty("spark.jobGroup.id")
      rec.put("type", "job").put("id", e.jobId).put("group", g).put("t0_ms", e.time)
      val st = rec.putArray("stages")
      e.stageIds.foreach { s => st.add(s); stageOwner.putIfAbsent(s, e.jobId) }
      jobs.put(e.jobId, rec)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val rec = jobs.get(e.jobId)
      if (rec != null) rec.put("t1_ms", e.time)
        .put("ok", e.jobResult == JobSucceeded)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val agg = stageAgg.computeIfAbsent((info.stageId, info.attemptNumber()),
        _ => new StageAgg)
      val rec = mapper.createObjectNode()
      rec.put("type", "stage").put("id", info.stageId)
        .put("attempt", info.attemptNumber())
        .put("job", stageOwner.getOrDefault(info.stageId, -1))
        .put("name", info.name).put("n_tasks", info.numTasks)
      info.submissionTime.foreach(t => rec.put("t0_ms", t))
      info.completionTime.foreach(t => rec.put("t1_ms", t))
      val ps = rec.putArray("parents")
      info.parentIds.foreach(p => ps.add(p))
      agg.synchronized {
        rec.put("tasks", agg.tasks).put("failed_tasks", agg.failedTasks)
        val m = rec.putObject("m")
        agg.sums.foreach { case (k, v) => m.put(k, v) }
        val arr = rec.putArray("task_ms")
        agg.taskMs.foreach(t => arr.add(t))
      }
      spans.add(rec)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val agg = stageAgg.computeIfAbsent((e.stageId, e.stageAttemptId),
        _ => new StageAgg)
      val m = e.taskMetrics
      agg.synchronized {
        agg.tasks += 1
        if (!e.taskInfo.successful) agg.failedTasks += 1
        if (m != null) {
          agg.taskMs += m.executorRunTime
          agg.add("run_ms", m.executorRunTime)
          agg.add("cpu_ns", m.executorCpuTime)
          agg.add("gc_ms", m.jvmGCTime)
          agg.add("input_bytes", m.inputMetrics.bytesRead)
          agg.add("input_records", m.inputMetrics.recordsRead)
          agg.add("output_bytes", m.outputMetrics.bytesWritten)
          agg.add("output_records", m.outputMetrics.recordsWritten)
          val sr = m.shuffleReadMetrics
          agg.add("shuffle_read_bytes", sr.remoteBytesRead + sr.localBytesRead)
          agg.add("shuffle_read_records", sr.recordsRead)
          agg.add("fetch_wait_ms", sr.fetchWaitTime)
          val sw = m.shuffleWriteMetrics
          agg.add("shuffle_write_bytes", sw.bytesWritten)
          agg.add("shuffle_write_records", sw.recordsWritten)
          agg.add("shuffle_write_ns", sw.writeTime)
          agg.add("spill_mem_bytes", m.memoryBytesSpilled)
          agg.add("spill_disk_bytes", m.diskBytesSpilled)
          agg.add("peak_exec_mem_bytes", m.peakExecutionMemory)
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val rec = mapper.createObjectNode()
      rec.put("type", "progress")
      rec.set[ObjectNode]("p", mapper.readTree(e.progress.json).asInstanceOf[ObjectNode])
      progress.add(rec)
    }
  }

  /** Every span, Spark job, stage and streaming-progress record, in the
    * order they finished. Call after [[finish]]. */
  def records: Seq[ObjectNode] = {
    val js = jobs.values.asScala.toSeq.sortBy(_.get("id").asInt)
    js.foreach { j =>
      val g = j.get("group")
      val owner = if (g == null || g.isNull) null else groups.get(g.asText)
      j.put("span", if (owner == null) 0L else owner.longValue)
    }
    spans.asScala.toSeq ++ js ++ progress.asScala.toSeq
  }
}
