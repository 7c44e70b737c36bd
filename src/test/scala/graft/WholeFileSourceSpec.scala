package graft

import org.apache.spark.sql.functions._

import graft.engine.MapReduce

/** The DataSource V2 whole-file source: parity with wholeTextFiles, one
  * partition per file (the reference's nMap = #files), and real column
  * pruning (path-only reads never touch file bytes). */
class WholeFileSourceSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir = {
    val d = tempDir("wholefile-src")
    java.nio.file.Files.writeString(d.resolve("a.txt"), "hello world\nhello")
    java.nio.file.Files.writeString(d.resolve("b.txt"), "spark engine")
    java.nio.file.Files.writeString(d.resolve("c.txt"), "")
    d.toString
  }

  test("reads (path, content, length), one row per file") {
    val rows = spark.read.format("wholefile").load(dir)
      .select(col("path"), col("content"), col("length"))
      .as[(String, String, Long)].collect()
      .map { case (p, c, l) => (p.split("/").last, c, l) }.sortBy(_._1)
    assert(rows.toSeq == Seq(
      ("a.txt", "hello world\nhello", 17L),
      ("b.txt", "spark engine", 12L),
      ("c.txt", "", 0L)))
  }

  test("one input partition per file — the reference's map granularity") {
    val df = spark.read.format("wholefile").load(dir)
    assert(df.rdd.getNumPartitions == 3)
  }

  test("column pruning reaches the source: path-only scan skips bytes") {
    val df = spark.read.format("wholefile").load(dir).select("path")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("columns=path"), scan)
    assert(df.count() == 3)
  }

  test("nonexistent path / zero-match glob fail like built-in sources") {
    intercept[Exception] {
      spark.read.format("wholefile").load("/no/such/dir-xyz").collect()
    }
    intercept[Exception] {
      spark.read.format("wholefile").load(s"$dir/*.nope").collect()
    }
  }

  test("remote URI schemes are rejected with the local-only contract") {
    for (bad <- Seq("hdfs://nn:8020/data", "s3a://bucket/prefix",
        "hdfs:/user/corpus")) {
      val e = intercept[Exception] {
        spark.read.format("wholefile").load(bad).collect()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("local-filesystem")), msgs(e).mkString(" | "))
    }
    // file: prefix stays accepted.
    assert(spark.read.format("wholefile").load(s"file:$dir").count() == 3)
  }

  test("source matches the wholeFiles engine path on the same corpus") {
    val viaSource = spark.read.format("wholefile").load(dir)
      .select(col("path"), col("content"))
      .as[(String, String)].collect()
      .map { case (p, c) => p.split("/").last -> c }.toMap
    val viaEngine = MapReduce.wholeFiles(spark, Seq(s"$dir/*.txt"))
      .collect().map(kv => kv.key.split("/").last -> kv.value).toMap
    assert(viaEngine.size == 3)
    assert(viaSource == viaEngine)
  }

  test("several load paths: a file plus a glob, each listed and checked") {
    val other = tempDir("wholefile-src2")
    java.nio.file.Files.writeString(other.resolve("x.md"), "x")
    java.nio.file.Files.writeString(other.resolve("y.md"), "yy")
    java.nio.file.Files.writeString(other.resolve("z.txt"), "not matched")
    val df = spark.read.format("wholefile").load(s"$dir/a.txt", s"$other/*.md")
    val rows = df.select(col("path"), col("length")).as[(String, Long)].collect()
      .map { case (p, l) => p.split("/").last -> l }.sortBy(_._1)
    assert(rows.toSeq == Seq("a.txt" -> 17L, "x.md" -> 1L, "y.md" -> 2L))
    assert(df.rdd.getNumPartitions == 3)
    // A zero-match glob among several paths still fails.
    intercept[Exception] {
      spark.read.format("wholefile").load(s"$dir/a.txt", s"$other/*.nope").collect()
    }
  }

  test("wordcount over the source equals the corpus oracle") {
    val got = spark.read.format("wholefile").load(dir)
      .select(engine.Tokenizer.words(col("content")).as("w"))
      .groupBy("w").count().as[(String, Long)].collect().toMap
    assert(got == Map("hello" -> 2L, "world" -> 1L, "spark" -> 1L,
      "engine" -> 1L))
  }

  test("an exact file path is read as named, glob characters included") {
    val d = tempDir("wholefile-exact")
    java.nio.file.Files.writeString(d.resolve("a[1].txt"), "bracketed")
    java.nio.file.Files.writeString(d.resolve("a1.txt"), "glob match")
    val rows = spark.read.format("wholefile").load(s"$d/a[1].txt")
      .select(col("path"), col("content")).as[(String, String)].collect()
    assert(rows.toSeq == Seq((s"$d/a[1].txt", "bracketed")))
    // A glob that is not an existing file still expands.
    assert(spark.read.format("wholefile").load(s"$d/a[0-9].txt")
      .select("content").as[String].collect().toSeq == Seq("glob match"))
  }

  test("directory loads skip hidden and underscore files; exact paths keep them") {
    val d = tempDir("wholefile-hidden")
    java.nio.file.Files.writeString(d.resolve("part-0.txt"), "kept")
    java.nio.file.Files.writeString(d.resolve("_SUCCESS"), "")
    java.nio.file.Files.writeString(d.resolve(".part-0.txt.crc"), "crc")
    java.nio.file.Files.writeString(d.resolve(".hidden"), "hidden")
    val names = spark.read.format("wholefile").load(d.toString)
      .select("path").as[String].collect().map(_.split("/").last)
    assert(names.toSeq == Seq("part-0.txt"))
    assert(MapReduce.wholeFiles(spark, Seq(d.toString)).collect()
      .map(_.value).toSeq == Seq("kept"))
    // Named exactly, such a file is an input like any other.
    assert(spark.read.format("wholefile").load(s"$d/.hidden")
      .select("content").as[String].collect().toSeq == Seq("hidden"))
  }
}
