package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry drift guard, run on every `sbt test` (r10 advisory):
  * `SparkEntry.queries` folds module maps with `++`, which silently
  * last-wins on duplicate keys — the only duplicate detector used to
  * live in the manually-run Ledger main. No SparkSession needed. */
class LedgerGuardSpec extends AnyFunSuite {

  private val repo = sys.env.getOrElse("SPARK_GRAFT_REPO_DIR", sys.props("user.dir"))

  test("module key sets are pairwise disjoint and oracles have queries") {
    // checkedRows throws on: duplicate key across modules, module file
    // missing, oracle-without-query orphan, registry != queries fold.
    val rows = tools.Ledger.checkedRows(repo)
    assert(rows.nonEmpty)
    assert(rows.map(_._1).distinct.size == rows.size)
  }

  test("each module name appears once and is its object's name") {
    // A label is the object `graft.<pkg>.<Object>` and maps to its file
    // with no rewriting, so a "(classic)"-style split of one module's
    // keys under a second label cannot come back.
    val mods = SparkEntry.modules
    val names = mods.map(_._1)
    assert(names.distinct == names)
    def plus(name: String) =
      mods :+ ((name, Map.empty: SparkEntry.Q, Map.empty[String, String]))
    for (bad <- Seq(plus("ext.Relational (classic)"), plus(names.head)))
      assert(intercept[IllegalArgumentException](
        tools.Ledger.checkedRows(repo, bad)).getMessage.contains("ledger drift: module"))
  }

  test("every query key has an oracle (no silent rows-only downgrades)") {
    // The driver records a weaker rows-only check for keys missing from
    // oracleSql; every key in this repo is meant to be hash-gated, so a
    // missing oracle is a regression, not a choice.
    val missing = SparkEntry.queries.keySet.diff(SparkEntry.oracleSql.keySet)
    assert(missing.isEmpty, s"keys without oracles: ${missing.toSeq.sorted}")
  }
}
