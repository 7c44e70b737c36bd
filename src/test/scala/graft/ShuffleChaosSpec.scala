package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.{GraftChaos, ShuffleDependency, TaskContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}

import graft.engine.MapReduce

/** Shuffle-fetch-failure chaos: the C5 at-least-once equality at SHUFFLE
  * granularity. The existing chaos cases kill a task's first attempt
  * with a plain exception — Spark retries the TASK. Here a reduce task
  * reports a real `FetchFailedException`, the signal that completed map
  * OUTPUT was lost in flight: the DAGScheduler must unregister the map
  * output, resubmit the map stage, and re-run the reduce attempt — the
  * Spark-honest analog of the reference harness's adversarial network
  * dropping ~10% of RPCs so finished work must be redone
  * (`/root/reference/src/labrpc/labrpc.go:219-300`). Output equality +
  * an observed attempt>0 stage submission prove the retry actually
  * exercised the stage machinery, not just task re-execution. */
class ShuffleChaosSpec extends SparkSpec {

  // The injected fetch failures unregister the shared session's block
  // manager; register it again so later suites run on a whole session.
  override def afterAll(): Unit =
    try GraftChaos.restoreBlockManager() finally super.afterAll()

  /** Runs `body` while counting stage submissions with attempt > 0
    * (stage RETRIES). Listener bus is async — poll until stable, the
    * MapReduceSpec discipline. */
  private def countStageRetries(body: => Unit): Int = {
    val retries = new AtomicInteger(0)
    val seen = new AtomicInteger(0)
    val l = new SparkListener {
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
        seen.incrementAndGet()
        if (s.stageInfo.attemptNumber() > 0) retries.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      var stable = 0
      var prev = -1
      while (stable < 3) {
        Thread.sleep(300)
        val cur = seen.get
        if (cur == prev) stable += 1 else { stable = 0; prev = cur }
      }
    } finally spark.sparkContext.removeSparkListener(l)
    retries.get
  }

  test("fetch failure: map stage is resubmitted, output unchanged") {
    val data = spark.sparkContext.parallelize(1 to 10000, 4)
      .map(i => (i % 17, i.toLong))
    val clean = data.reduceByKey(_ + _, 4).collectAsMap()

    val shuffled = data.reduceByKey(_ + _, 4)
    val shuffleId = shuffled.dependencies.head
      .asInstanceOf[ShuffleDependency[_, _, _]].shuffleId
    var chaotic: scala.collection.Map[Int, Long] = null
    val retries = countStageRetries {
      chaotic = shuffled.mapPartitions { it =>
        val tc = TaskContext.get()
        // First attempt of the first reduce stage attempt reports the
        // fetch failure; the stage-retry attempt must run clean.
        if (tc != null && tc.partitionId() == 1 &&
            tc.stageAttemptNumber() == 0)
          GraftChaos.throwFetchFailed(shuffleId, tc.partitionId())
        it
      }.collectAsMap()
    }
    assert(chaotic == clean,
      "stage-retried result diverged from the failure-free run")
    assert(retries >= 1,
      "no stage was resubmitted — the fetch failure did not reach the " +
        "stage-retry path")
  }

  test("fetch failure mid-MapReduce job: gate semantics survive") {
    // Same injection inside the engine's own runJob reduce path: wrap
    // the corpus frame so the reduce-side shuffle read of the group-by
    // fails once, then assert the full wordcount equals the clean run.
    val corpus = Seq(
      graft.engine.KV("f1", "the quick brown fox the fox"),
      graft.engine.KV("f2", "quick quick brown"),
      graft.engine.KV("f3", "lazy dog the")).toSeq
    import spark.implicits._
    val clean = MapReduce.runJob(corpus.toDS(), MapReduce.wcMap,
      MapReduce.wcReduce).collect().map(kv => kv.key -> kv.value).toMap

    // Inject at the RDD layer beneath the same logical job: a
    // shuffle whose reduce side fails its first stage attempt.
    val tokens = corpus.flatMap(kv => MapReduce.wcMap(kv.key, kv.value))
    val rdd = spark.sparkContext.parallelize(tokens, 4)
      .map(kv => (kv.key, kv.value))
      .groupByKey(4)
    val shuffleId = rdd.dependencies.head
      .asInstanceOf[ShuffleDependency[_, _, _]].shuffleId
    val chaotic = rdd.mapPartitions { it =>
      val tc = TaskContext.get()
      if (tc != null && tc.partitionId() == 0 && tc.stageAttemptNumber() == 0)
        GraftChaos.throwFetchFailed(shuffleId, tc.partitionId())
      it.map { case (k, vs) =>
        k -> MapReduce.wcReduce(k, vs.toSeq.sorted)
      }
    }.collectAsMap()
    assert(chaotic.toMap == clean,
      "MapReduce result diverged after a mid-job fetch failure")
  }
}
