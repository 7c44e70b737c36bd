package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.functions.{col, udf}
import org.scalacheck.Gen

import graft.engine.{KV, MapReduce}

/** The generic runJob façade vs a 20-line sequential oracle — the port of
  * the reference's mrsequential-vs-distributed differential harness
  * (`/root/reference/src/main/mrsequential.go:59-84`,
  * `src/main/test-mr.sh:78-144`). */
class MapReduceSpec extends SparkSpec {
  import spark.implicits._

  /** Sequential semantics spec: sort by key, group runs, reduce. */
  private def sequential(input: Seq[KV], mapF: MapReduce.MapF,
      reduceF: MapReduce.ReduceF): Map[String, String] = {
    val inter = input.flatMap(kv => mapF(kv.key, kv.value)).sortBy(_.key)
    inter.groupBy(_.key).map { case (k, kvs) =>
      k -> reduceF(k, kvs.map(_.value))
    }
  }

  private lazy val corpus: Seq[KV] =
    Tables.documents(spark, sf).select($"source", $"text")
      .as[(String, String)].collect().toSeq
      .groupBy(_._1).view
      .mapValues(_.map(_._2).mkString("\n")).toSeq
      .map { case (f, txt) => KV(f, txt) } // one "file" per source

  private def run(input: Seq[KV], mapF: MapReduce.MapF,
      reduceF: MapReduce.ReduceF): Map[String, String] =
    MapReduce.runJob(input.toDS(), mapF, reduceF)
      .collect().map(kv => kv.key -> kv.value).toMap

  test("wc app through the façade matches sequential oracle") {
    assert(run(corpus, MapReduce.wcMap, MapReduce.wcReduce) ==
      sequential(corpus, MapReduce.wcMap, MapReduce.wcReduce))
  }

  test("indexer app through the façade matches sequential oracle") {
    assert(run(corpus, MapReduce.indexerMap, MapReduce.indexerReduce) ==
      sequential(corpus, MapReduce.indexerMap, MapReduce.indexerReduce))
  }

  test("non-monoid reduce (sorted concat) is order-insensitive") {
    val crashMap: MapReduce.MapF = (file, contents) => Seq(
      KV("a", file), KV("b", contents.length.toString),
      KV("c", contents.length.toString), KV("d", "xyzzy"))
    assert(run(corpus, crashMap, MapReduce.sortedJoinReduce) ==
      sequential(corpus, crashMap, MapReduce.sortedJoinReduce))
  }

  test("property: arbitrary KV bags match the sequential oracle") {
    val kvGen = for {
      k <- Gen.oneOf("k1", "k2", "k3", "k4", "k5")
      v <- Gen.alphaNumStr.map(_.take(8))
    } yield KV(k, v)
    for (_ <- 1 to 5) {
      val bag = Gen.listOfN(200, kvGen).sample.get
      val identityMap: MapReduce.MapF = (k, v) => Seq(KV(k, v))
      assert(run(bag, identityMap, MapReduce.sortedJoinReduce) ==
        sequential(bag, identityMap, MapReduce.sortedJoinReduce))
    }
  }

  test("chaos: output equals failure-free run under injected task failure") {
    // Spark analog of test-mr.sh's crash test (§5.3.3): fail each map
    // task's first attempt in one partition; task retry must reproduce
    // the failure-free result (C2/C5 semantics).
    val clean = run(corpus, MapReduce.wcMap, MapReduce.wcReduce)
    val chaotic = MapReduce.runJob(
      corpus.toDS().repartition(4).mapPartitions { it =>
        val tc = TaskContext.get()
        if (tc != null && tc.partitionId() == 1 && tc.attemptNumber() == 0)
          throw new RuntimeException("injected chaos: first attempt dies")
        it
      },
      MapReduce.wcMap, MapReduce.wcReduce)
      .collect().map(kv => kv.key -> kv.value).toMap
    assert(chaotic == clean)
  }

  /** Run `body` with a task-end listener attached; returns (successful
    * task count, failed task count). The listener bus is async, so poll
    * until the counts stop moving. */
  private def countTasks(body: => Unit): (Int, Int) = {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val ok = new AtomicInteger(0)
    val bad = new AtomicInteger(0)
    val l = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.reason == org.apache.spark.Success) ok.incrementAndGet()
        else bad.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      // The listener bus is async (waitUntilEmpty is private[spark]):
      // treat the counts as drained only after they hold still for 3
      // consecutive 300ms reads — one quiet poll can race a GC pause.
      var stable = 0
      var prev = -1
      while (stable < 3) {
        Thread.sleep(300)
        val cur = ok.get + bad.get
        if (cur == prev) stable += 1 else { stable = 0; prev = cur }
      }
    } finally spark.sparkContext.removeSparkListener(l)
    (ok.get, bad.get)
  }

  test("chaos: task executions are counted — retries happen only under failure") {
    // The reference's jobcount app counts map-task executions to prove
    // the scheduler neither skips nor duplicates work
    // (`/root/reference/src/mrapps/jobcount.go:34-46`,
    // `src/main/test-mr.sh:200-223`). Spark analog via SparkListener:
    // an identical workload runs once clean and once with one injected
    // first-attempt failure; every logical task must succeed EXACTLY
    // once in both runs (same success count), the clean run must have
    // zero failed attempts, the chaotic one at least the injected.
    def workload(chaos: Boolean): Map[String, String] = MapReduce.runJob(
      corpus.toDS().repartition(4).mapPartitions { it =>
        val tc = TaskContext.get()
        if (chaos && tc != null && tc.partitionId() == 1 && tc.attemptNumber() == 0)
          throw new RuntimeException("injected chaos: first attempt dies")
        it
      },
      MapReduce.wcMap, MapReduce.wcReduce)
      .collect().map(kv => kv.key -> kv.value).toMap

    var cleanResult: Map[String, String] = null
    var chaoticResult: Map[String, String] = null
    val (cleanOk, cleanFail) = countTasks { cleanResult = workload(chaos = false) }
    val (chaosOk, chaosFail) = countTasks { chaoticResult = workload(chaos = true) }
    assert(cleanFail == 0, "no failed attempts in the failure-free run")
    assert(cleanOk > 0)
    assert(chaosFail >= 1, "the injected failure must surface as a failed attempt")
    assert(chaosOk == cleanOk,
      s"every logical task succeeds exactly once: clean=$cleanOk chaos=$chaosOk")
    assert(chaoticResult == cleanResult)
  }

  test("sorted text sink writes 'key value' lines, key-sorted per partition") {
    val dir = tempDir("mr-sink").toString
    val result = MapReduce.runJob(corpus.toDS(), MapReduce.wcMap, MapReduce.wcReduce)
    MapReduce.sortedTextSink(result, dir)
    val lines = spark.read.textFile(dir).collect()
    val want = sequential(corpus, MapReduce.wcMap, MapReduce.wcReduce)
    assert(lines.length == want.size)
    assert(lines.map(_.split(" ", 2)).forall { case Array(k, v) => want(k) == v })
  }

  /** Every name in `dir`, sorted. */
  private def names(dir: java.nio.file.Path): Seq[String] = {
    val s = java.nio.file.Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    finally s.close()
  }

  private def parts(n: Int): Seq[String] = (0 until n).map(i => f"part-$i%05d")

  private def bytesOf(dir: java.nio.file.Path): Map[String, Seq[Byte]] =
    names(dir).map(n => n -> java.nio.file.Files.readAllBytes(dir.resolve(n)).toSeq).toMap

  test("sorted text sink: a key-sorted part file per bucket, empty ones too, and _SUCCESS") {
    val dir = tempDir("mr-sink-parts")
    // Three keys into ten buckets: most buckets are empty.
    val input = Seq(KV("f1", "the quick fox the"), KV("f2", "fox")).toDS()
    MapReduce.sortedTextSink(
      MapReduce.runJob(input, MapReduce.wcMap, MapReduce.wcReduce, nReduce = 10),
      dir.toString)
    // No _temporary and no hidden (.crc) files are left behind.
    assert(names(dir) == "_SUCCESS" +: parts(10))
    val lines = parts(10).map(p => java.nio.file.Files.readAllLines(dir.resolve(p)).asScala.toSeq)
    lines.foreach(ls => assert(ls == ls.sorted))
    assert(lines.count(_.isEmpty) >= 7)
    assert(lines.flatten.sorted == Seq("fox 2", "quick 1", "the 2"))

    // A second run into the same directory replaces it.
    MapReduce.sortedTextSink(
      MapReduce.runJob(input, MapReduce.wcMap, MapReduce.wcReduce, nReduce = 3),
      "file:" + dir)
    assert(names(dir) == "_SUCCESS" +: parts(3))

    // Empty input still writes part files (Spark prunes the plan of an
    // empty local input to no partitions; the sink then writes one).
    MapReduce.sortedTextSink(MapReduce.runJob(Seq.empty[KV].toDS(),
      MapReduce.wcMap, MapReduce.wcReduce, nReduce = 4), dir.toString)
    val emptyParts = names(dir).tail
    assert(names(dir).head == "_SUCCESS" && emptyParts.nonEmpty &&
      emptyParts == parts(emptyParts.size), names(dir))
    emptyParts.foreach(p => assert(java.nio.file.Files.size(dir.resolve(p)) == 0))
  }

  test("sorted text sink: a write attempt that dies mid-file leaves the clean output") {
    val result = MapReduce.runJob(corpus.toDS(), MapReduce.wcMap, MapReduce.wcReduce, nReduce = 4)
      .sortWithinPartitions("key")
    val clean = tempDir("mr-sink-clean")
    MapReduce.sortedTextSink(result, clean.toString)
    // The sink's own sort is redundant over a sorted result, so the
    // failing projection runs while the write task streams its lines.
    def failing(dir: java.nio.file.Path, always: Boolean) = {
      val tmp = dir.resolve("_temporary").toString
      val dies = udf { (v: String) =>
        val tc = TaskContext.get()
        if (tc.partitionId() == 1 && (always || tc.attemptNumber() == 0) &&
            SinkChaos.rows.incrementAndGet() == 5) {
          SinkChaos.midFile.set(java.nio.file.Files.exists(
            java.nio.file.Paths.get(tmp, s"1-${tc.taskAttemptId()}")))
          SinkChaos.rows.set(0)
          throw new RuntimeException("injected chaos: write attempt dies")
        }
        v
      }.asNondeterministic()
      result.select(col("key"), dies(col("value")).as("value")).as[KV]
    }
    val chaotic = tempDir("mr-sink-chaos")
    SinkChaos.rows.set(0); SinkChaos.midFile.set(false)
    MapReduce.sortedTextSink(failing(chaotic, always = false), chaotic.toString)
    assert(SinkChaos.midFile.get, "the first attempt died while writing its file")
    assert(bytesOf(chaotic) == bytesOf(clean))

    // A job whose task dies on every attempt fails, and leaves neither
    // _temporary nor _SUCCESS.
    val failed = tempDir("mr-sink-failed")
    SinkChaos.rows.set(0)
    intercept[org.apache.spark.SparkException](
      MapReduce.sortedTextSink(failing(failed, always = true), failed.toString))
    assert(!names(failed).exists(n => n == "_temporary" || n == "_SUCCESS"))
  }

  test("sorted text sink: remote schemes are rejected") {
    val result = MapReduce.runJob(corpus.toDS(), MapReduce.wcMap, MapReduce.wcReduce)
    val e = intercept[IllegalArgumentException](
      MapReduce.sortedTextSink(result, "hdfs://nn:8020/out"))
    assert(e.getMessage.contains("local-filesystem"), e.getMessage)
  }

  test("MrRun app registry matches the reference's plugin apps") {
    import graft.apps.MrRun
    assert(MrRun.apps.keySet == Set("wc", "indexer", "catenate"))
    // Each registered app runs through the façade and matches the
    // sequential oracle on the corpus.
    for ((name, (mapF, reduceF)) <- MrRun.apps) {
      assert(run(corpus, mapF, reduceF) == sequential(corpus, mapF, reduceF),
        s"app $name")
    }
  }

  test("wholeFiles reads (filename, contents) one row per file") {
    val dir = tempDir("mr-files")
    val f1 = dir.resolve("a.txt"); val f2 = dir.resolve("b.txt")
    val f3 = dir.resolve("empty.txt")
    java.nio.file.Files.writeString(f1, "hello world\nhello")
    java.nio.file.Files.writeString(f2, "spark")
    java.nio.file.Files.writeString(f3, "")
    val rows = MapReduce.wholeFiles(spark, Seq(dir.toString + "/*.txt"))
      .collect().map(kv => kv.key -> kv.value).toMap
    // Plain local-path keys; the empty file keeps its row (and map task).
    assert(rows == Map(f1.toString -> "hello world\nhello",
      f2.toString -> "spark", f3.toString -> ""))
  }
}

/** Shared with the sink chaos test's tasks (local mode: one JVM). */
object SinkChaos {
  val rows = new AtomicInteger(0)
  val midFile = new AtomicBoolean(false)
}
