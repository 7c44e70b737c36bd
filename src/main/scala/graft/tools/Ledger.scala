package graft.tools

import java.nio.file.{Files, Paths}

import scala.util.Try

import graft.SparkEntry

/** Generates LEDGER.md — the key → (module, file, oracle-kind) table
  * SURVEY.md §8 references. Round-9 verdict: the hand-written key
  * inventory is at real drift risk; this main derives it from
  * [[SparkEntry.modules]] at build time, so the committed artifact can
  * never disagree with the code. Run: `sbt "runMain graft.tools.Ledger"`
  * (no SparkSession — pure map walking).
  *
  * Fails loudly if a module's source file is missing or a key appears
  * in two modules (both would mean the registry drifted). */
object Ledger {

  /** All drift checks + the derived key rows, separated from the
    * markdown rendering so a SPEC can run them on every `sbt test`
    * (r10 advisory: `queries = modules.map(_._2).reduce(_ ++ _)`
    * silently last-wins on duplicate keys, and these checks only ran
    * when someone manually regenerated LEDGER.md). Throws on any
    * drift: a module name listed twice or not naming its object
    * `graft.<name>`, duplicate key across modules, module file missing,
    * oracle without a query, or registry != SparkEntry.queries. */
  def checkedRows(repo: String, modules: Seq[(String, SparkEntry.Q,
      Map[String, String])] = SparkEntry.modules): Seq[(String, String, String)] = {
    val names = modules.map(_._1)
    require(names.distinct == names, "ledger drift: module listed twice: " +
      names.diff(names.distinct).distinct.mkString(", "))
    for (module <- names)
      require(module.matches("[a-z]+\\.[A-Z][A-Za-z0-9]*") &&
        Try(Class.forName(s"graft.$module$$")).isSuccess,
        s"ledger drift: module name $module is not a graft.<pkg>.<Object>")
    val rows = collection.mutable.ArrayBuffer[(String, String, String)]()
    val seen = collection.mutable.Map[String, String]()
    for ((module, qs, os) <- modules) {
      val file = "src/main/scala/graft/" + module.replace('.', '/') + ".scala"
      require(Files.exists(Paths.get(repo, file)),
        s"ledger drift: module $module maps to missing file $file")
      for (k <- qs.keys) {
        seen.get(k).foreach(prev => sys.error(
          s"ledger drift: key $k defined in both $prev and $module"))
        seen(k) = module
        val oracle =
          if (os.contains(k)) "DuckDB hash" else "rows-only"
        rows += ((k, s"`$module` — `$file`", oracle))
      }
      val orphans = os.keySet.diff(qs.keySet)
      require(orphans.isEmpty,
        s"ledger drift: $module has oracles without queries: $orphans")
    }
    val qKeys = SparkEntry.queries.keySet
    require(seen.keySet == qKeys,
      s"ledger drift: registry keys != SparkEntry.queries " +
        s"(only-registry=${seen.keySet.diff(qKeys)}, " +
        s"only-queries=${qKeys.diff(seen.keySet)})")
    rows.toSeq
  }

  def main(args: Array[String]): Unit = {
    val repo = sys.env.getOrElse("SPARK_GRAFT_REPO_DIR", sys.props("user.dir"))
    val sorted = checkedRows(repo).sortBy(_._1)
    val nOracle = sorted.count(_._3 == "DuckDB hash")
    val sb = new StringBuilder
    sb ++= "# LEDGER — generated key inventory\n\n"
    sb ++= "GENERATED by `graft.tools.Ledger` from `SparkEntry.modules`" +
      " — do not edit by hand; re-run `sbt \"runMain graft.tools.Ledger\"`" +
      " after adding a key.\n\n"
    sb ++= s"${sorted.size} gated keys, $nOracle with a DuckDB hash " +
      "oracle, " + s"${sorted.size - nOracle} rows-only. The driver's " +
      "correctness gate (`Verify` + DuckDB compare) runs every key; " +
      "`tools/check_oracle.py` runs the same compare locally.\n\n"
    sb ++= "| key | module | oracle |\n| --- | --- | --- |\n"
    for ((k, m, o) <- sorted) sb ++= s"| `$k` | $m | $o |\n"
    val out = Paths.get(repo, "LEDGER.md")
    Files.writeString(out, sb.toString)
    println(s"[ledger] wrote ${sorted.size} keys to $out")
  }
}
