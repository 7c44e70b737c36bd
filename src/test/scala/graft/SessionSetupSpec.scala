package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.ext.{Bfs, Communities}
import graft.functions.GraftExpressions
import graft.streaming.Streaming

/** One session setup: the extensions install every `graft_*` function,
  * and query paths read the session's settings without writing them, so
  * clients sharing a session never see each other's widths or flags. */
class SessionSetupSpec extends SparkSpec {

  test("a new session resolves every graft_* function with no registration call") {
    val fresh = spark.newSession()
    val h = fresh.sql("SELECT graft_simhash(graft_word_hashes('a b')) AS h")
      .collect().head.getLong(0)
    assert(h == spark.sql("SELECT graft_simhash(graft_word_hashes('a b'))")
      .collect().head.getLong(0))
    val missing = GraftExpressions.builders.map(_._1).filterNot(name =>
      fresh.sessionState.functionRegistry.functionExists(FunctionIdentifier(name)))
    assert(missing.isEmpty, s"not installed: $missing")
  }

  test("Tables.events is a pure read: same rows, nanosAsLong left false") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val plain = spark.newSession()
    plain.conf.set(key, "false")
    val got = Tables.events(plain, sf).collect().map(_.toString).sorted
    assert(plain.conf.get(key) == "false")
    val want = Tables.events(spark, sf).collect().map(_.toString).sorted
    assert(got.nonEmpty && got.sameElements(want))
  }

  test("bfs and kcore leave spark.sql.shuffle.partitions alone while they run") {
    val key = "spark.sql.shuffle.partitions"
    val own = spark.conf.get(key)
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    @volatile var running = true
    val sampler = new Thread(() =>
      while (running) {
        seen.add(spark.conf.get(key))
        Thread.sleep(1)
      })
    sampler.setDaemon(true)
    sampler.start()
    try {
      assert(Bfs.partsBfsHops(spark, sf).count() > 0)
      Communities.partsKcore(spark, sf).count()
    } finally {
      running = false
      sampler.join()
    }
    assert(seen.size == 1 && seen.contains(own), s"sampled $seen, own $own")
  }

  test("concurrent stream starts restore the session's own shuffle width") {
    // Each start sets the state-partition count (8) on this 4-wide
    // session and restores it; interleaved windows would restore each
    // other's 8 and leave it behind.
    val key = "spark.sql.shuffle.partitions"
    val own = spark.conf.get(key)
    val want = Streaming.windowedAgg(spark, sf).collect().map(_.toString).sorted
    val errors = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val threads = (1 to 2).map(_ => new Thread(() =>
      try for (_ <- 1 to 3) {
        val got = Streaming.windowedAgg(spark, sf).collect().map(_.toString).sorted
        if (!got.sameElements(want)) errors.add("rows differ")
      } catch { case t: Throwable => errors.add(t.toString) }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errors.isEmpty, errors)
    assert(spark.conf.get(key) == own)
  }
}
