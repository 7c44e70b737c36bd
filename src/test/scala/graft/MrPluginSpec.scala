package graft

import java.nio.file.{Files, Paths}

import graft.engine.{KV, MapReduce, Plugins}

/** Dynamic-jar application loading: author a plugin in Java SOURCE at
  * test time, compile it with the JDK's in-process compiler, jar it,
  * and run wordcount through [[Plugins.runJobFromJar]] — proving the
  * class is loaded from the jar at run time (it is never on the test
  * classpath) and that the result equals the in-process `runJob` with
  * the built-in wc pair. */
class MrPluginSpec extends SparkSpec {
  import spark.implicits._

  private val pluginSource =
    """import java.util.*;
      |public class WcPlugin implements graft.engine.MrPlugin {
      |  public List<String[]> map(String file, String contents) {
      |    List<String[]> out = new ArrayList<>();
      |    for (String w : contents.split("[^a-zA-Z]+"))
      |      if (!w.isEmpty()) out.add(new String[]{w, "1"});
      |    return out;
      |  }
      |  public String reduce(String key, List<String> values) {
      |    return Integer.toString(values.size());
      |  }
      |}
      |""".stripMargin

  private def buildPluginJar(source: String = pluginSource,
      className: String = "WcPlugin", at: String = null): String = {
    val dir = tempDir("graft-plugin-")
    val src = dir.resolve(s"$className.java")
    Files.writeString(src, source)
    val javac = javax.tools.ToolProvider.getSystemJavaCompiler
    assert(javac != null, "JDK compiler unavailable")
    val rc = javac.run(null, null, null,
      "-classpath", System.getProperty("java.class.path"),
      "-d", dir.toString, src.toString)
    assert(rc == 0, "plugin compilation failed")
    val jar = if (at == null) dir.resolve("wcplugin.jar").toString else at
    val out = new java.util.jar.JarOutputStream(
      Files.newOutputStream(Paths.get(jar)))
    out.putNextEntry(new java.util.zip.ZipEntry(s"$className.class"))
    out.write(Files.readAllBytes(dir.resolve(s"$className.class")))
    out.closeEntry()
    out.close()
    jar
  }

  test("wordcount via a jar-loaded Map/Reduce pair == built-in pair") {
    val jar = buildPluginJar()
    // The plugin class must NOT be loadable from the application
    // classpath — the jar is the only source.
    intercept[ClassNotFoundException] {
      Class.forName("WcPlugin")
    }
    val input = Seq(
      KV("f1", "the quick brown fox the fox"),
      KV("f2", "The lazy dog and the fox")).toDS()
    val viaJar = Plugins.runJobFromJar(input, jar, "WcPlugin", nReduce = 4)
      .collect().map(kv => kv.key -> kv.value).toMap
    val builtIn = MapReduce.runJob(input, MapReduce.wcMap,
      MapReduce.wcReduce, nReduce = 4)
      .collect().map(kv => kv.key -> kv.value).toMap
    assert(viaJar == builtIn)
    assert(viaJar("the") == "3" && viaJar("fox") == "3")
  }

  test("a jar replaced at the same path is reloaded, not served stale") {
    // Round-15 advisory: the loader cache keyed on path alone would pin
    // the JVM's FIRST version of a plugin forever. The cache keys on
    // (path, mtime, length), so overwriting the jar in place must make
    // the next load see the new code.
    val jar = buildPluginJar()
    val input = Seq(KV("f1", "a b a")).toDS()
    val v1 = Plugins.runJobFromJar(input, jar, "WcPlugin", nReduce = 2)
      .collect().map(kv => kv.key -> kv.value).toMap
    assert(v1("a") == "2")
    // v2 tags its reduce output — behaviorally distinct on the same input.
    buildPluginJar(pluginSource.replace(
      "return Integer.toString(values.size());",
      "return \"v2:\" + Integer.toString(values.size());"), at = jar)
    // mtime granularity can be 1s on some filesystems; force it forward
    // so the identity check cannot alias (length may coincide).
    new java.io.File(jar).setLastModified(System.currentTimeMillis() + 2000)
    val v2 = Plugins.runJobFromJar(input, jar, "WcPlugin", nReduce = 2)
      .collect().map(kv => kv.key -> kv.value).toMap
    assert(v2("a") == "v2:2", v2)
  }
}
