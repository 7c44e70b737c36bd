package graft.apps

import org.apache.spark.sql.SparkSession

import graft.engine.MapReduce

/** CLI twin of the reference's job entry point
  * (`mrcoordinator pg-*.txt` + `mrworker <app>.so` —
  * `/root/reference/README.md:15-23`): run a named MapReduce app over a
  * file glob and write the sorted `"key value"` text output
  * (`mr-out`-style, `src/mr/worker.go:131-138`).
  *
  * Usage: runMain graft.apps.MrRun <wc|indexer|catenate> <inGlob> <outDir>
  *
  * The app registry maps plugin names to the same (Map, Reduce) closure
  * pairs the reference loads from `.so` files — a reference user's
  * `wc.so` invocation becomes `MrRun wc`.
  */
object MrRun {

  val apps: Map[String, (MapReduce.MapF, MapReduce.ReduceF)] = Map(
    "wc" -> ((MapReduce.wcMap, MapReduce.wcReduce)),
    "indexer" -> ((MapReduce.indexerMap, MapReduce.indexerReduce)),
    // nocrash.go's semantics (constant tuples + sorted concat) without
    // the intentional crashing — Spark's retry handles real failures.
    "catenate" -> ((
      (file: String, contents: String) => Seq(
        graft.engine.KV("a", file),
        graft.engine.KV("b", file.length.toString),
        graft.engine.KV("c", contents.length.toString),
        graft.engine.KV("d", "xyzzy")),
      MapReduce.sortedJoinReduce)))

  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      s"usage: MrRun <${apps.keys.mkString("|")}> <inGlob> <outDir>")
    val Array(app, inGlob, outDir) = args
    val (mapF, reduceF) = apps.getOrElse(app,
      throw new IllegalArgumentException(
        s"unknown app '$app' (have: ${apps.keys.mkString(", ")})"))
    val spark = SparkSession.builder()
      .withExtensions(graft.plans.GraftExtensions.apply)
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try MapReduce.sortedTextSink(
      MapReduce.runJobOnFiles(spark, Seq(inGlob), mapF, reduceF), outDir)
    finally spark.stop()
  }
}
