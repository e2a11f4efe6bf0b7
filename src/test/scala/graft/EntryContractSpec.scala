package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.QuerySpec

/** Driver-contract guards for the SparkEntry registry: every oracle points
  * at a real query, and each query name is declared once — the by-name
  * index rejects a repeated name instead of letting one declaration
  * silently replace another. */
class EntryContractSpec extends AnyFunSuite {

  test("every oracleSql key has a queries entry and vice versa") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"oracles without queries: ${(o -- q).toSeq.sorted}")
    assert((q -- o).isEmpty, s"queries without oracles (rows-only — add an " +
      s"oracle or document why): ${(q -- o).toSeq.sorted}")
  }

  test("registry holds each query name once and rejects a duplicate") {
    val names = SparkEntry.all.map(_.name)
    assert(names.distinct.size == names.size,
      s"repeated names: ${names.diff(names.distinct).distinct.sorted}")
    assert(SparkEntry.all.size == SparkEntry.queries.size)
    assert(SparkEntry.queries.size == SparkEntry.oracleSql.size)
    val blank = SparkEntry.all.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"blank oracles: $blank")
    def spec(name: String) = QuerySpec(name, (s, _) => s.emptyDataFrame, "SELECT 1")
    val e = intercept[IllegalArgumentException](
      SparkEntry.index(Seq(spec("dup_a"), spec("kept_b"), spec("dup_a"))))
    assert(e.getMessage.contains("dup_a"))
    assert(!e.getMessage.contains("kept_b"))
  }
}
