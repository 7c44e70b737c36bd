package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

import graft.ext.{Basket, Bfs, Communities, Events, Frames, Relational}

/** Checkpoints are freed with the plans that read them: no caller sweeps
  * the session. A query's checkpoints (the bloom keys frame included)
  * are unpersisted by the ContextCleaner once its result is dropped;
  * memo frames stay alive because the memo references them; and a cold
  * memo build blocks only callers of its own key. */
class CheckpointLifecycleSpec extends SparkSpec {

  private val GateKey = "spark.graft.bloom.factRowGate"

  /** Runs `body` with the bloom gate forced to `value`, then restores it. */
  private def withGate[T](value: String)(body: => T): T = {
    val prev = spark.conf.getOption(GateKey)
    spark.conf.set(GateKey, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(GateKey, v)
      case None => spark.conf.unset(GateKey)
    }
  }

  /** A fresh set of ids: a key-set view would hold the RDDs themselves
    * and keep them from ever being collected. */
  private def persistentIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keysIterator.toSet

  /** The RDDs behind the one memo frame the queries below read (the
    * co-purchase graph of the BFS and k-core gates). */
  private def memoIds: Set[Int] =
    Basket.copurchase(spark, sf).queryExecution.analyzed.collectLeaves().collect {
      case lr: LogicalRDD => lr.rdd.id
    }.toSet

  /** Persistent RDDs outside `baseline` that are not memo frames, after
    * GC has had up to 30 s to let the ContextCleaner catch up. */
  private def leftOver(baseline: Set[Int]): Set[Int] = {
    val deadline = System.nanoTime() + 30.seconds.toNanos
    def now = persistentIds -- baseline -- memoIds
    var left = now
    while (left.nonEmpty && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
      left = now
    }
    left
  }

  test("per-query checkpoints are freed once their results are dropped") {
    // The suite shares its session with every other spec, whose cached
    // frames may still be persistent: compare against what was there.
    val baseline = persistentIds
    val queries = Seq[(org.apache.spark.sql.SparkSession, String) => DataFrame](
      Relational.q15TopSupplier, Events.madHourly, Bfs.partsBfsHops,
      Communities.partsKcore)
    for (_ <- 1 to 3) {
      queries.foreach(q => q(spark, sf).collect())
      // Forced past the gate, q17 checkpoints the bloom keys frame.
      withGate("1") { Relational.q17SmallQtyRevenue(spark, sf).collect() }
    }
    val left = leftOver(baseline)
    assert(left.isEmpty, "non-memo RDDs still persistent:\n" + left.toSeq
      .flatMap(spark.sparkContext.getPersistentRDDs.get).map(_.toDebugString)
      .mkString("\n"))
  }

  test("a cold memo build blocks neither another key's build nor a warm hit") {
    val warm = Basket.copurchase(spark, sf).count()
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val cold = Future {
      Frames.sessionMemo("t_a", spark, sf) {
        started.countDown()
        release.await(60, TimeUnit.SECONDS)
        spark.range(3).toDF().localCheckpoint()
      }.count()
    }
    try {
      assert(started.await(30, TimeUnit.SECONDS), "t_a build never started")
      val others = Future {
        (Frames.sessionMemo("t_b", spark, sf) {
          spark.range(2).toDF().localCheckpoint()
        }.count(), Basket.copurchase(spark, sf).count())
      }
      assert(Await.result(others, 30.seconds) == ((2L, warm)))
      assert(!cold.isCompleted, "t_a finished before its latch was released")
    } finally release.countDown()
    assert(Await.result(cold, 60.seconds) == 3L)
  }

  test("a memo frame survives GC and is reused") {
    val n = Basket.copurchase(spark, sf).count()
    val builds = Frames.buildsOf("copurchase")
    for (_ <- 1 to 5) { System.gc(); Thread.sleep(200) }
    val again = Basket.copurchase(spark, sf)
    assert(Frames.checkpointAlive(again))
    assert(again.count() == n)
    assert(Frames.buildsOf("copurchase") == builds)
  }
}
