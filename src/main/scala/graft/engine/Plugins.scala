package graft.engine

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset

/** Runtime-pluggable applications — the reference engine loads its
  * Map/Reduce pair from a shared object at run time
  * (`/root/reference/src/main/mrworker.go:32-49`: `plugin.Open` +
  * `Lookup("Map")`/`Lookup("Reduce")`); the JVM equivalent is a jar on
  * a path, loaded through a URLClassLoader. [[MrPlugin]] is the ABI
  * (Java-friendly so plugin jars can be authored in any JVM language
  * with no Scala toolchain), [[Plugins.runJobFromJar]] the entry
  * point.
  *
  * Distribution contract: the job closures capture only the (jarPath,
  * className) STRINGS — each executor JVM instantiates the plugin
  * lazily from the path through [[PluginLoader]]'s per-JVM cache, so
  * the closure stays serializable and the plugin class never needs to
  * be on the application classpath. On a cluster the jar must be
  * executor-visible (shared storage, or `spark.jars`/`addJar`, which
  * places it on the executor classloader fetch list) — the same "ship
  * the .so to every worker" requirement the reference has. */
trait MrPlugin {

  /** `Map(filename, contents) []KeyValue` — one [key, value] pair per
    * array element. */
  def map(file: String, contents: String): java.util.List[Array[String]]

  /** `Reduce(key, values) string`. */
  def reduce(key: String, values: java.util.List[String]): String
}

/** Per-JVM plugin instance cache. One classloader per (jar identity,
  * class): repeated task invocations reuse the loaded class instead of
  * re-opening the jar per row. Identity includes the jar's (mtime,
  * length), so a jar REPLACED at the same path is reloaded on next use
  * instead of serving the JVM's first version forever. The superseded
  * URLClassLoader is closed on a GRACE DELAY, not immediately: another
  * task thread may still be mid-task with the old plugin instance, and
  * a lazy classload (inner/anonymous class, resource) from an
  * already-closed loader throws into that task (round-16 advisory).
  * Stale loaders park in a queue and are closed on a later swap once
  * older than [[CloseGraceNanos]] — far beyond any task's residence
  * time in the old plugin's code; until then the only cost is one open
  * fd per recent swap, bounded by swap frequency. Round-15/16
  * advisories. */
object PluginLoader {
  private final case class Entry(mtime: Long, length: Long,
      loader: java.net.URLClassLoader, plugin: MrPlugin)

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Entry]()

  /** How long a superseded loader stays open after its replacement. */
  private val CloseGraceNanos = 5L * 60 * 1000 * 1000 * 1000

  private val retired =
    new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, java.net.URLClassLoader)]()

  /** Close retired loaders whose grace period has passed (called on
    * each swap — no timer thread; a loader lingering because no
    * further swap ever happens is exactly one fd). */
  private def drainRetired(now: Long): Unit = {
    var head = retired.peek()
    while (head != null && now - head._1 > CloseGraceNanos) {
      if (retired.remove(head))
        try head._2.close() catch { case _: java.io.IOException => () }
      head = retired.peek()
    }
  }

  def load(jarPath: String, className: String): MrPlugin = {
    val f = new java.io.File(jarPath)
    val (mt, len) = (f.lastModified(), f.length())
    cache.compute((jarPath, className), { (key, prev) =>
      if (prev != null && prev.mtime == mt && prev.length == len) prev
      else {
        val now = System.nanoTime()
        if (prev != null) retired.add((now, prev.loader))
        drainRetired(now)
        val loader = new java.net.URLClassLoader(
          Array(f.toURI.toURL), classOf[MrPlugin].getClassLoader)
        Entry(mt, len, loader,
          loader.loadClass(key._2).getDeclaredConstructor()
            .newInstance().asInstanceOf[MrPlugin])
      }
    }).plugin
  }
}

object Plugins {

  /** [[MapReduce.runJob]] with the application pair loaded from an
    * external jar at run time. */
  def runJobFromJar(input: Dataset[KV], jarPath: String, className: String,
      nReduce: Int = 10): Dataset[KV] = {
    val mapF: MapReduce.MapF = (file, contents) =>
      PluginLoader.load(jarPath, className).map(file, contents)
        .asScala.toSeq.map(a => KV(a(0), a(1)))
    val reduceF: MapReduce.ReduceF = (key, values) =>
      PluginLoader.load(jarPath, className).reduce(key, values.asJava)
    MapReduce.runJob(input, mapF, reduceF, nReduce)
  }
}
