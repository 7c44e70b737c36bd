package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry drift guard, run on every `sbt test` (r10 advisory):
  * `SparkEntry.queries` folds module maps with `++`, which silently
  * last-wins on duplicate keys — the only duplicate detector used to
  * live in the manually-run Ledger main. No SparkSession needed. */
class LedgerGuardSpec extends AnyFunSuite {

  test("module key sets are pairwise disjoint and oracles have queries") {
    // checkedRows throws on: duplicate key across modules, module file
    // missing, oracle-without-query orphan, registry != queries fold.
    val rows = tools.Ledger.checkedRows(
      sys.env.getOrElse("SPARK_GRAFT_REPO_DIR", sys.props("user.dir")))
    assert(rows.nonEmpty)
    assert(rows.map(_._1).distinct.size == rows.size)
  }

  test("every query key has an oracle (no silent rows-only downgrades)") {
    // The driver records a weaker rows-only check for keys missing from
    // oracleSql; every key in this repo is meant to be hash-gated, so a
    // missing oracle is a regression, not a choice.
    val missing = SparkEntry.queries.keySet.diff(SparkEntry.oracleSql.keySet)
    assert(missing.isEmpty, s"keys without oracles: ${missing.toSeq.sorted}")
  }
}
