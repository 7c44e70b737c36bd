package graft

import org.apache.spark.sql.SparkSession

/** Multi-JVM smoke of the gated surface (round-16 item 3): everything
  * the rounds measure runs in ONE driver JVM (`local[n]`), which can
  * hide executor-side assumptions a real cluster breaks — closure
  * serializability, kernel/UDAF classloading in executor JVMs, RocksDB
  * state stores off-driver, localCheckpoint block placement, the
  * plugin-jar executor-visibility contract. This main runs a
  * representative key subset on `local-cluster[2,8,4096]` — two REAL
  * executor JVMs, separate processes from the driver — plus the
  * runtime-jar plugin job, and prints one OK/FAIL line per key and a
  * machine-readable summary (`CLUSTERSMOKE ok=<n> fail=<n>`).
  *
  * The subset covers every executor-sensitive family: native Catalyst
  * kernels (tokenize/RAKE/simhash — codegen compiled per executor),
  * TypedImperativeAggregates (generic-reduce UDAF, top-k heaps, KMV),
  * iterative localCheckpoint graphs (pagerank/HITS/components),
  * RocksDB streaming (stream-stream join, TWS), bucketed-table writes,
  * typed byte-codec mapPartitions kernels, and the KV replay family.
  *
  * Launch with a REAL classpath (raw java, not sbt — executors inherit
  * `java.class.path`, which under sbt is just the launcher jar):
  * {{{
  * java <add-opens> -cp "target/scala-2.13/classes:<spark-jars-glob>" \
  *   graft.ClusterVerify /root/testdata/sf0.01
  * }}}
  * Values are not re-oracled here (the single-JVM DuckDB gate owns
  * values); this is the execution-model gate: a key passes if it
  * computes on the cluster topology at all. Pass `all` as the second
  * arg to sweep every key instead of the subset. */
object ClusterVerify {

  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    .map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")

  /** One key per executor-sensitive mechanism (see scaladoc). */
  private val subset = Seq(
    // engine façade; the mr_reduce_* keys run its reduce walk closure
    // in executor JVMs
    "mr_wordcount", "mr_golden_lines", "mr_reduce_count",
    "mr_reduce_indexer",
    // KV replay (typed Datasets, flatMapGroups) + sharding
    "kv_replay", "kv_replay_resharded", "shard_distribution",
    // relational: broadcast dims, window+join-back, rollup
    "q1_pricing_summary", "q3_top_orders", "q21_late_suppliers",
    "orders_rollup", "events_sessionize", "events_markov_stationary",
    "lineitem_price_quantiles",
    // dedup: kernels, LSH bands, capped tiers, substring span hashes,
    // incremental admission, iterative components
    "dedup_exact", "dedup_minhash_lsh", "dedup_containment_topk",
    "dedup_hamming_degree_hist", "dedup_method_agreement_capped",
    "dedup_substring_longest", "dedup_incremental_admitted",
    "dedup_components",
    // ANN: hyperplane buckets, IVF persist->reload, PQ, k-means
    "knn_lsh", "knn_ivf_incremental", "knn_ivfpq", "embedding_kmeans",
    // text/token kernels (codegen in executor JVMs) + sketches
    "corpus_tokenize", "corpus_bpe_merges", "text_keyphrases_rake",
    "quality_gopher_rules", "corpus_heaps_law",
    // multimodal byte-codec mapPartitions kernels
    "multimodal_phash", "multimodal_audio_energy",
    // checkpoint-heavy iterative graphs
    "parts_pagerank", "parts_hits_bipartite", "parts_triangles",
    // streaming: RocksDB state stores in executor JVMs
    "events_stream_click_attrib", "events_stream_sessionize_tws",
    "corpus_tokenize_stream",
    // bucketed-table write through the warehouse
    "layout_bucketed_join")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val keys =
      if (args.lift(1).contains("all")) SparkEntry.queries.keySet.toSeq.sorted
      else subset
    val spark = SparkSession.builder()
      .withExtensions(graft.plans.GraftExtensions.apply)
      .master("local-cluster[2,8,4096]")
      .appName("graft-cluster-smoke")
      .config("spark.executor.extraClassPath",
        System.getProperty("java.class.path"))
      .config("spark.executor.extraJavaOptions", addOpens)
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-smoke-wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    var ok, fail = 0
    keys.foreach { key =>
      val fn = SparkEntry.queries.getOrElse(key,
        sys.error(s"unknown key '$key'"))
      val t0 = System.nanoTime()
      try {
        val n = fn(spark, sfDir).count()
        val s = (System.nanoTime() - t0) / 1e9
        println(f"[cluster] OK   $key%-34s $n%8d rows  $s%6.1f s")
        ok += 1
      } catch { case e: Throwable =>
        println(s"[cluster] FAIL $key: ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString)
        fail += 1
      }
    }

    // Plugin-jar job across JVM boundaries: author + compile + jar a
    // plugin at run time (never on any classpath), then run it through
    // the engine — each EXECUTOR process must load the class from the
    // jar path (the closure ships only the two strings).
    val pluginOk = try {
      import spark.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft-smoke-plugin")
      val src = dir.resolve("SmokePlugin.java")
      java.nio.file.Files.writeString(src,
        """import java.util.*;
          |public class SmokePlugin implements graft.engine.MrPlugin {
          |  public List<String[]> map(String f, String c) {
          |    List<String[]> out = new ArrayList<>();
          |    for (String w : c.split("[^a-zA-Z]+"))
          |      if (!w.isEmpty()) out.add(new String[]{w, "1"});
          |    return out;
          |  }
          |  public String reduce(String k, List<String> v) {
          |    return Integer.toString(v.size());
          |  }
          |}
          |""".stripMargin)
      val javac = javax.tools.ToolProvider.getSystemJavaCompiler
      require(javac.run(null, null, null, "-classpath",
        System.getProperty("java.class.path"), "-d", dir.toString,
        src.toString) == 0, "plugin compile failed")
      val jar = dir.resolve("smokeplugin.jar").toString
      val jos = new java.util.jar.JarOutputStream(
        java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(jar)))
      jos.putNextEntry(new java.util.zip.ZipEntry("SmokePlugin.class"))
      jos.write(java.nio.file.Files.readAllBytes(
        dir.resolve("SmokePlugin.class")))
      jos.closeEntry(); jos.close()
      val input = Seq(
        graft.engine.KV("f1", "the quick brown fox the fox"),
        graft.engine.KV("f2", "the lazy dog")).toDS()
      val out = graft.engine.Plugins
        .runJobFromJar(input, jar, "SmokePlugin", nReduce = 4)
        .collect().map(kv => kv.key -> kv.value).toMap
      require(out("the") == "3" && out("fox") == "2", s"plugin values: $out")
      println("[cluster] OK   plugin_jar_job (executor-side classload)")
      true
    } catch { case e: Throwable =>
      println(s"[cluster] FAIL plugin_jar_job: ${e.getMessage}")
      false
    }
    if (pluginOk) ok += 1 else fail += 1

    println(s"CLUSTERSMOKE ok=$ok fail=$fail keys=${keys.size + 1}")
    spark.stop()
    if (fail > 0) sys.exit(1)
  }
}
