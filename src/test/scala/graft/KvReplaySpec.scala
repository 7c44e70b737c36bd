package graft

import scala.util.Random

import graft.kv.{KvOp, KvReplay}

/** [SPEC] KV semantics (reference model `/root/reference/src/models/kv.go:40-54`):
  * put overwrites, append concatenates, ops applied in seq order.
  * Invariants adapted from `src/kvraft/test_test.go:131-179` — per-client
  * append subsequences appear in order, exactly once. */
class KvReplaySpec extends SparkSpec {
  import spark.implicits._
  implicit private def s2: org.apache.spark.sql.SparkSession = spark

  private def sequential(ops: Seq[KvOp]): Map[String, String] = {
    val st = collection.mutable.Map.empty[String, String].withDefaultValue("")
    ops.sortBy(_.seq).foreach { o =>
      o.op match {
        case "put" => st(o.key) = o.value
        case "append" => st(o.key) = st(o.key) + o.value
        case _ => ()
      }
    }
    st.toMap
  }

  private def run(ops: Seq[KvOp]): Map[String, String] =
    KvReplay.replay(ops.toDF()).as[(String, String)].collect().toMap

  test("KvOp.fold: put replaces, append concatenates, get leaves the state") {
    assert(KvOp.fold("s", Seq("append" -> "a", "get" -> "", "append" -> "b"))
      == "sab")
    assert(KvOp.fold("s", Seq("append" -> "a", "put" -> "P", "get" -> "x",
      "append" -> "c")) == "Pc")
    assert(KvOp.fold("s", Nil) == "s")
  }

  test("put overwrites, append concatenates, get ignored") {
    val ops = Seq(
      KvOp(1, "k", "append", "a"), KvOp(2, "k", "put", "X"),
      KvOp(3, "k", "append", "y"), KvOp(4, "k", "get", ""),
      KvOp(5, "k", "append", "z"), KvOp(6, "j", "append", "1"))
    assert(run(ops) == Map("k" -> "Xyz", "j" -> "1"))
  }

  test("snapshot compaction: prefix fold + suffix replay == full replay") {
    // Hand log around the midpoint boundary (mid = (1+10) div 2 = 5):
    // append chained across the boundary, a post-boundary put that must
    // overwrite the snapshot, a prefix-only key, a suffix-only key.
    val ops = Seq(
      KvOp(1, "a", "put", "x"), KvOp(2, "a", "append", "y"),
      KvOp(3, "b", "append", "1"), KvOp(4, "c", "put", "z"),
      KvOp(6, "a", "append", "z"), KvOp(7, "b", "put", "Q"),
      KvOp(8, "d", "append", "n"), KvOp(10, "b", "append", "R"))
    val snap = KvReplay.snapshotThenReplay(ops.toDF())
      .as[(String, String)].collect().toMap
    assert(snap == run(ops))
    assert(snap == sequential(ops))
    assert(snap == Map("a" -> "xyz", "b" -> "QR", "c" -> "z", "d" -> "n"))
  }

  test("snapshot compaction: randomized logs agree with the full replay") {
    val rnd = new Random(7)
    val ops = (1 to 500).map { i =>
      KvOp(i.toLong, s"k${rnd.nextInt(9)}",
        Seq("put", "append", "get")(rnd.nextInt(3)), i.toString)
    }
    val snap = KvReplay.snapshotThenReplay(ops.toDF())
      .as[(String, String)].collect().toMap
    assert(snap == sequential(ops))
  }

  test("randomized fold matches sequential state machine") {
    val rnd = new Random(42)
    val ops = (1 to 2000).map { i =>
      KvOp(i.toLong, s"k${rnd.nextInt(20)}",
        Seq("put", "append", "append", "get")(rnd.nextInt(4)), s"v$i.")
    }
    val want = sequential(ops).filter { case (k, _) =>
      ops.exists(o => o.key == k && o.op != "get")
    }
    assert(run(ops) == want)
  }

  test("per-client append subsequences appear in order exactly once") {
    val rnd = new Random(7)
    // 5 clients interleave appends to one key. Each client issues its own
    // values sequentially; the global interleave (seq order) is random but
    // preserves every client's relative order.
    val queues = Array.tabulate(5)(c =>
      collection.mutable.Queue((0 until 50).map(i => s"c$c-$i;"): _*))
    val interleaved = collection.mutable.ArrayBuffer.empty[String]
    while (queues.exists(_.nonEmpty)) {
      val live = queues.indices.filter(queues(_).nonEmpty)
      interleaved += queues(live(rnd.nextInt(live.size))).dequeue()
    }
    val ops = interleaved.toSeq.zipWithIndex.map { case (v, i) =>
      KvOp(i.toLong, "key", "append", v)
    }
    val state = run(ops)("key")
    for (c <- 0 until 5) {
      val mine = ops.filter(_.value.startsWith(s"c$c-")).map(_.value)
      // exactly once
      for (v <- mine) {
        val first = state.indexOf(v)
        assert(first >= 0 && state.indexOf(v, first + 1) < 0, s"value $v")
      }
      // in order (by seq, which is each client's issue order here)
      val positions = mine.map(state.indexOf(_))
      assert(positions == positions.sorted)
    }
  }

  test("ttl replay: any write refreshes the lease; both arms populated") {
    import org.apache.spark.sql.functions._
    val ttl = graft.kv.KvReplay.replayTtl(spark, sf).localCheckpoint()
    val rows = ttl.select("key", "last_write_us", "expired")
      .as[(String, Long, Boolean)].collect()
    assert(rows.nonEmpty)
    val tEnd = rows.map(_._2).max
    rows.foreach { case (k, lw, exp) =>
      assert(exp == (tEnd - lw > graft.kv.KvReplay.TtlMicros),
        s"key $k flag disagrees with its own clock")
    }
    assert(rows.exists(_._3) && rows.exists(!_._3),
      "fixture must populate both expiry arms")
    // Values are untouched by the expiry layer: same per-key state as
    // the plain replay.
    val plain = graft.kv.KvReplay.fromEvents(spark, sf)
    val joined = ttl.select(col("key"), col("value").as("v1"))
      .join(plain.select(col("key"), col("value").as("v2")), "key")
    assert(joined.filter(col("v1") =!= col("v2")).count() == 0)
    assert(joined.count() == rows.length.toLong)
  }

  test("as-of replay: every snapshot value is a prefix-consistent state") {
    import org.apache.spark.sql.functions._
    val asOf = graft.kv.KvReplay.replayAsOf(spark, sf).localCheckpoint()
    val snap = asOf.select("snapshot_us").as[Long].head()
    // Replaying the filtered log by hand must give identical state.
    val ev = Tables.events(spark, sf)
      .withColumn("tsu", unix_micros(col("ts").cast("timestamp")))
    val want = graft.kv.KvReplay.replay(
      graft.kv.KvReplay.opsFromEvents(ev.filter(col("tsu") <= snap)))(spark)
      .as[(String, String)].collect().toMap
    val got = asOf.select("key", "value").as[(String, String)]
      .collect().toMap
    assert(got == want && got.nonEmpty)
    // The snapshot genuinely excludes history: some key's value is a
    // strict prefix of (or shorter than) its final value.
    val fin = graft.kv.KvReplay.fromEvents(spark, sf)
      .as[(String, String)].collect().toMap
    assert(got.exists { case (k, v) => fin.get(k).exists(_ != v) },
      "midpoint snapshot should differ from the final state")
  }

  test("idempotent replay: injected retries are applied exactly once") {
    // Hand log where naive double-application would corrupt state: seq 7
    // and 14 are the DupEvery multiples that get retried; both are
    // appends, so a second application would duplicate their payloads.
    val ops = Seq(
      KvOp(6, "k", "put", "A"), KvOp(7, "k", "append", "b"),
      KvOp(8, "k", "append", "c"), KvOp(14, "j", "append", "x"),
      KvOp(15, "j", "append", "y"), KvOp(16, "m", "get", ""))
    val got = KvReplay.idempotentOf(ops.toDF())
      .as[(String, String, Long)].collect()
      .map { case (k, v, d) => k -> ((v, d)) }.toMap
    // Exactly-once: identical to the duplicate-free sequential fold.
    assert(got.view.mapValues(_._1).toMap == sequential(ops))
    assert(got("k") == (("Abc", 1L)), got.toString) // seq 7 retried once
    assert(got("j") == (("xy", 1L)))                // seq 14 retried once
    assert(!got.contains("m"))                      // gets never mutate
  }
}
