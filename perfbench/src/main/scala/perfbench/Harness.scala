package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.SparkSession

/** One benchmark process: session set-up, warm-up, the closed loop, and
  * (in traced mode) a second, traced loop.
  *
  * Usage: `Harness <plan.json> <results.json> [trace.jsonl]`
  *
  * The plan (written by `run.py`) lists the workload, the loop length,
  * the warm-up jobs and a long queue of seeded jobs. One client thread
  * takes jobs from the queue one after another until the loop time is
  * used up and the current round of job kinds is complete. Each job's
  * latency covers exactly the program calls a user would make; whatever
  * the benchmark does to keep outputs for checking runs after the clock
  * stops and is subtracted from the loop's wall time.
  */
object Harness {
  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val resultsPath = args(1)
    val tracePath = if (args.length > 2) Some(args(2)) else None
    Heap.install()

    val cores = plan.get("cores").asInt
    val work = plan.get("workdir").asText
    val spark = SparkSession.builder()
      .withExtensions(graft.plans.GraftExtensions.apply)
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis()

    val tracer = new Tracer(spark, mapper)
    val workload: Workload = plan.get("workload").asText match {
      case "mr_text" => new MrText(spark, tracer, plan)
      case "star_stream" => new StarStream(spark, tracer, plan)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = mapper.createObjectNode()
    out.put("session_ms", sessionMs)

    // Warm-up, round by round, the jobs of a round all at once: the first
    // round on tiny inputs takes every kind's first-use cost (class
    // loading, code generation); the rounds after it on full-size inputs
    // let the JIT settle, so the timed loop starts warm.
    val round = plan.get("round").asInt
    val warm = out.putArray("warmup")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(round)
    try plan.get("warmup").elements().asScala.toSeq.grouped(round).foreach { jobs =>
      jobs.map(j => pool.submit(() => runJob(workload, j))).foreach(f => warm.add(f.get()))
    } finally pool.shutdown()
    out.put("ready_ms", System.currentTimeMillis())

    val queue = plan.get("jobs").elements().asScala.toIndexedSeq
    val loops = out.putArray("loops")
    loop(workload, tracer, queue, plan.get("seconds").asDouble, round,
      plan.get("cycle").asInt, plan.get("trace").asBoolean).foreach(l => loops.add(l))
    out.put("tracer_install_s", tracer.installS max 0.0)
    out.set[ObjectNode]("final", workload.finish())
    tracePath.foreach { p =>
      val w = Files.newBufferedWriter(Paths.get(p))
      try tracer.records.foreach { r => w.write(mapper.writeValueAsString(r)); w.newLine() }
      finally w.close()
    }
    mapper.writeValue(new File(resultsPath), out)
    spark.stop()
  }

  /** Run rounds of jobs (one of each kind) from the queue until `seconds`
    * have passed and a whole number of cycles (a multiple of the round
    * the plan fixes, so every run sees the same mix of inputs) is done,
    * or the queue runs out. With `trace`, rounds alternate between
    * untraced and traced, so both see about the same warmth of the JVM,
    * until each mode has run for `seconds` in the same number of rounds;
    * the result is then one record per mode (untraced first), else a
    * single untraced record. */
  private def loop(w: Workload, tracer: Tracer, queue: IndexedSeq[JsonNode],
      seconds: Double, round: Int, cycle: Int, trace: Boolean): Seq[ObjectNode] = {
    val modes = if (trace) Seq(false, true) else Seq(false)
    val recs = modes.map { m =>
      val r = mapper.createObjectNode()
      r.put("traced", m).putArray("jobs")
      r
    }
    val wall = Array.fill(modes.size)(0.0)
    val windows = modes.map(_ => mutable.ArrayBuffer.empty[(Long, Long)])
    var i = 0
    var r = 0
    def more = if (trace) wall.min < seconds || r % 4 != 0
      else wall.sum < seconds || i % cycle != 0
    while (i < queue.length && more) {
      // Untraced, traced, traced, untraced, ...: neither mode always runs
      // on the colder side of a pair.
      val mode = if (trace) Seq(0, 1, 1, 0)(r % 4) else 0
      if (modes(mode)) tracer.start()
      var untimed = 0.0
      val t0ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var k = 0
      while (k < round && i < queue.length) {
        val j = runJob(w, queue(i))
        untimed += j.get("untimed_s").asDouble
        recs(mode).get("jobs").asInstanceOf[ArrayNode].add(j)
        i += 1
        k += 1
      }
      wall(mode) += (System.nanoTime() - t0) / 1e9 - untimed
      windows(mode) += ((t0ms, System.currentTimeMillis()))
      if (modes(mode)) tracer.finish()
      r += 1
    }
    recs.indices.map { m =>
      val (peak, gcs) = windows(m).map { case (a, b) => Heap.peakMb(a, b) }
        .foldLeft((0.0, 0)) { case ((p, n), (q, c)) => (p max q, n + c) }
      recs(m).put("wall_s", wall(m)).put("exhausted", i >= queue.length)
        .put("peak_heap_mb", peak).put("gc_events", gcs)
      val series = recs(m).putArray("post_gc_mb")
      windows(m).foreach { case (a, b) => Heap.series(a, b).foreach(v => series.add(v)) }
      recs(m)
    }
  }

  /** One job: the timed program calls, then the untimed keeping of its
    * output for the checker. A job that throws is recorded as failed. */
  private def runJob(w: Workload, job: JsonNode): ObjectNode = {
    val rec = mapper.createObjectNode()
    val id = job.get("id").asInt
    val kind = job.get("kind").asText
    rec.put("id", id).put("kind", kind)
    val p0 = System.nanoTime()
    if (w.tracer.enabled) w.probe(job, rec)
    val t0ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val result = try {
      val r = w.tracer.root(s"job.$kind", Map("job" -> id)) { w.run(job, rec) }
      rec.put("ok", true)
      Some(r)
    } catch {
      case e: Throwable =>
        rec.put("ok", false).put("error", e.toString.take(1000))
        None
    }
    val t1 = System.nanoTime()
    rec.put("t0_ms", t0ms).put("lat_s", (t1 - t0) / 1e9)
    result.foreach { r =>
      try w.keep(job, r, rec)
      catch { case e: Throwable => rec.put("ok", false).put("error", "keep: " + e) }
    }
    rec.put("untimed_s", (System.nanoTime() - p0 - (t1 - t0)) / 1e9)
    rec
  }
}

/** Post-GC heap occupancy, from the collectors' notifications: after every
  * collection, the sum over heap pools of the bytes still used. This is
  * the number the `MemoryPoolMXBean` collection usage reports, recorded
  * per collection so a loop's peak can be read off afterwards. In local
  * mode the driver and the executors share this heap. */
object Heap {
  private val events = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private lazy val heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = {
    val pools = heapPools
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case emitter: javax.management.NotificationEmitter =>
        emitter.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
              .GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (k, u) if pools.contains(k) => u.getUsed }.sum
            events.add((System.currentTimeMillis(), after))
          }
        }, null, null)
      case _ => ()
    }
  }

  def series(t0: Long, t1: Long): Seq[Double] =
    events.asScala.filter { case (t, _) => t >= t0 && t <= t1 }.map(_._2 / 1e6).toSeq

  /** (peak post-GC heap MB, number of collections) within [t0, t1]. With
    * no collection in the window, the last post-GC occupancy stands. */
  def peakMb(t0: Long, t1: Long): (Double, Int) = {
    val in = events.asScala.filter { case (t, _) => t >= t0 && t <= t1 }.map(_._2)
    val bytes = if (in.nonEmpty) in.max
      else ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    (bytes / 1e6, in.size)
  }
}

/** A workload: how to run one job of the plan, and what to keep of it. */
abstract class Workload(val spark: SparkSession, val tracer: Tracer,
    val plan: JsonNode) {
  val mapper: ObjectMapper = Harness.mapper
  /** The timed part; returns whatever [[keep]] needs. */
  def run(job: JsonNode, rec: ObjectNode): AnyRef
  /** Untimed: store the output for the checker. */
  def keep(job: JsonNode, result: AnyRef, rec: ObjectNode): Unit = ()
  /** Untimed, traced loop only: standalone calls that time one module
    * step the job itself does not expose separately. */
  def probe(job: JsonNode, rec: ObjectNode): Unit = ()
  /** Untimed, after the loops. */
  def finish(): ObjectNode = mapper.createObjectNode()

  protected def strings(n: JsonNode): Seq[String] =
    n.elements().asScala.map(_.asText).toSeq
}

/** `mr_text`: the reference's own traffic over a whole-file corpus. */
final class MrText(s: SparkSession, t: Tracer, p: JsonNode)
    extends Workload(s, t, p) {
  import graft.engine.{KV, MapReduce}
  import graft.apps.MrApps
  import org.apache.spark.sql.functions._
  import spark.implicits._

  private def wholefile(dir: String) =
    tracer.span("sources.wholefile.load") {
      spark.read.format("wholefile").load(dir)
        .select(col("path").as("doc_id"), col("content").as("text"))
    }

  def run(job: JsonNode, rec: ObjectNode): AnyRef = {
    val dir = job.get("dir").asText
    val out = job.get("out").asText
    lazy val files = strings(job.get("files")).map(f => s"$dir/$f")
    val result = job.get("kind").asText match {
      case "wc_facade" => tracer.span("engine.MapReduce.runJobOnFiles") {
        MapReduce.runJobOnFiles(spark, files, MapReduce.wcMap, MapReduce.wcReduce)
      }
      case "indexer_facade" => tracer.span("engine.MapReduce.runJobOnFiles") {
        MapReduce.runJobOnFiles(spark, files, MapReduce.indexerMap,
          MapReduce.indexerReduce)
      }
      case "wc_apps" =>
        val docs = wholefile(dir)
        tracer.span("apps.MrApps.wordCount") { MrApps.wordCount(docs) }
          .select(col("word").as("key"), col("cnt").cast("string").as("value"))
          .as[KV]
      case "indexer_apps" =>
        val docs = wholefile(dir)
        tracer.span("apps.MrApps.invertedIndex") { MrApps.invertedIndex(docs) }
          .select(col("word").as("key"),
            concat_ws(" ", col("n_docs").cast("string"), col("docs")).as("value"))
          .as[KV]
    }
    tracer.span("engine.MapReduce.sortedTextSink") {
      MapReduce.sortedTextSink(result, out)
    }
    None
  }

  override def probe(job: JsonNode, rec: ObjectNode): Unit = {
    val dir = job.get("dir").asText
    val t0 = System.nanoTime()
    if (job.get("kind").asText.endsWith("_facade"))
      tracer.span("sources.MapReduce.wholeFiles") {
        MapReduce.wholeFiles(spark, strings(job.get("files")).map(f => s"$dir/$f"))
      }
    else tracer.span("sources.WholeFileSource.listFiles") {
      graft.sources.WholeFileSource.listFiles(dir)
    }
    rec.put("list_s", (System.nanoTime() - t0) / 1e9)
  }
}

/** Report jobs: relational reports over several tenants' tables. */
final class StarBatch(s: SparkSession, t: Tracer, p: JsonNode)
    extends Workload(s, t, p) {
  import graft.ext.{Relational, SupplyChain}
  import org.apache.spark.sql.{DataFrame, Row}
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** kind -> (span name, oracle key, query). */
  private val kinds: Map[String, (String, String, (SparkSession, String) => DataFrame)] = Map(
    "q1" -> ("ext.Relational.q1PricingSummary", "q1_pricing_summary",
      Relational.q1PricingSummary _),
    "q3" -> ("ext.Relational.q3TopOrders", "q3_top_orders", Relational.q3TopOrders _),
    "q5" -> ("ext.Relational.q5RegionVolume", "q5_region_volume",
      Relational.q5RegionVolume _),
    "q9" -> ("ext.SupplyChain.q9ProfitByNation", "q9_profit_by_nation",
      SupplyChain.q9ProfitByNation _),
    "q18" -> ("ext.Relational.q18LargeOrders", "q18_large_orders",
      Relational.q18LargeOrders _),
    "rollup" -> ("ext.Relational.ordersRollup", "orders_rollup",
      Relational.ordersRollup _),
    "topk" -> ("plans.Relational.topOrdersPerCustomer", "top_orders_per_customer",
      Relational.topOrdersPerCustomer _),
    "kv_replay" -> ("kv.KvReplay.fromEvents", "kv_replay",
      (s: SparkSession, d: String) => graft.kv.KvReplay.fromEvents(s, d)))

  def run(job: JsonNode, rec: ObjectNode): AnyRef = {
    val (span, _, q) = kinds(job.get("kind").asText)
    val df = tracer.span(span) { q(spark, job.get("tenant").asText) }
    (df, df.collect())
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** Collected results waiting to be written for the checker: (job record,
    * schema, rows, output directory). Warm-up jobs add to it concurrently. */
  private val results = mutable.ArrayBuffer.empty[
    (ObjectNode, org.apache.spark.sql.types.StructType, Array[Row], String)]

  override def keep(job: JsonNode, result: AnyRef, rec: ObjectNode): Unit = {
    val (df, rows) = result.asInstanceOf[(DataFrame, Array[Row])]
    rec.put("rows", rows.length)
    results.synchronized { results += ((rec, df.schema, rows, job.get("out").asText)) }
    if (tracer.enabled) {
      val plan = df.queryExecution.executedPlan
      def nodes(name: String) =
        Plans.collectWithSubqueries(plan) { case p if p.nodeName == name => p }
      val scanned = Plans.collectWithSubqueries(plan) {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.flatMap(_.metrics.get("filesSize")).map(_.value).sum
      rec.put("topk_nodes", nodes("TopKPerKey").size)
        .put("broadcast_joins", nodes("BroadcastHashJoin").size)
        .put("sort_merge_joins", nodes("SortMergeJoin").size)
        .put("files_read_bytes", scanned)
    }
  }

  override def finish(): ObjectNode = {
    // Each result as one parquet file, the way graft.Verify dumps one for
    // the DuckDB comparison; written here, after the loops, so that the
    // Spark jobs doing it fall into neither set-up nor a timed loop.
    results.foreach { case (rec, schema, rows, out) =>
      try spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write.parquet(out)
      catch { case e: Throwable => rec.put("ok", false).put("error", "keep: " + e) }
    }
    // Oracle SQL per tenant, for the checker's DuckDB twins.
    val o = mapper.createObjectNode()
    strings(plan.get("tenants")).foreach { t =>
      val all = graft.SparkEntry.oracleSqlFor(spark, t)
      val m = o.putObject(t)
      kinds.values.foreach { case (_, key, _) => m.put(key, all(key)) }
    }
    val r = mapper.createObjectNode()
    r.set[ObjectNode]("oracle_sql", o)
    r
  }
}

/** `star_stream`: the reports of [[StarBatch]] beside the `ingest` jobs
  * of [[KvStream]], one of each kind per round. */
final class StarStream(s: SparkSession, t: Tracer, p: JsonNode)
    extends Workload(s, t, p) {
  private val reports = new StarBatch(s, t, p)
  private val ingest = new KvStream(s, t, p)
  private def of(job: JsonNode): Workload =
    if (job.get("kind").asText == "ingest") ingest else reports

  def run(job: JsonNode, rec: ObjectNode): AnyRef = of(job).run(job, rec)
  override def keep(job: JsonNode, result: AnyRef, rec: ObjectNode): Unit =
    of(job).keep(job, result, rec)
  override def finish(): ObjectNode = {
    val r = reports.finish()
    r.setAll[ObjectNode](ingest.finish())
    r
  }
}

/** Ingest jobs: op-log files land in a directory that one long-running
  * stream watches; each job drops the next file and waits until the
  * stream has folded it into keyed state and committed the updates. The
  * query starts in the warm-up job, so its start-up is set-up. */
final class KvStream(s: SparkSession, t: Tracer, p: JsonNode)
    extends Workload(s, t, p) {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
  import graft.kv.{KvOp, KvReplay}
  import graft.streaming.{Sinks, Streaming}
  import spark.implicits._

  private val src = plan.get("src_dir").asText
  private val sinkDir = plan.get("sink_dir").asText
  private val ckpt = plan.get("checkpoint_dir").asText
  private val schema =
    "event_id LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING"
  @volatile private var query: StreamingQuery = _
  private var lastBatch = -1L
  private val info = mapper.createObjectNode()  // start times, result paths

  // The state store the program's streaming runner selects.
  spark.conf.set("spark.sql.streaming.stateStore.providerClass",
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  private def start(): StreamingQuery = {
    val events = spark.readStream.schema(schema).parquet(src)
    val ops = KvReplay.opsFromEvents(events).as[KvOp]
    val sink = Sinks.idempotentParquet(sinkDir)
    info.put("start_ms", System.currentTimeMillis())
    Streaming.kvReplayUpdates(ops).writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        tracer.span("streaming.Sinks.idempotentParquet") { sink(b, id) }
      }
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", ckpt)
      .start()
  }

  def run(job: JsonNode, rec: ObjectNode): AnyRef = {
    val staged = Paths.get(job.get("file").asText)
    Files.move(staged, Paths.get(src).resolve(staged.getFileName),
      StandardCopyOption.ATOMIC_MOVE)
    if (query == null) query = start()
    query.processAllAvailable()
    val batches = rec.putArray("batches")
    query.recentProgress.filter(p => p.batchId > lastBatch && p.numInputRows > 0)
      .foreach { p =>
        batches.add(p.batchId)
        lastBatch = p.batchId
        if (!info.has("first_batch_ts")) info.put("first_batch_ts", p.timestamp)
      }
    None
  }

  override def finish(): ObjectNode = {
    if (query != null) query.stop()
    val work = plan.get("workdir").asText
    spark.read.parquet(sinkDir).groupBy("key")
      .agg(max_by(col("value"), col("last_seq")).as("value"))
      .coalesce(1).write.parquet(s"$work/final_state")
    KvReplay.replay(KvReplay.opsFromEvents(spark.read.parquet(src)))(spark)
      .coalesce(1).write.parquet(s"$work/replay")
    info.put("final_state", s"$work/final_state").put("replay", s"$work/replay")
  }
}
