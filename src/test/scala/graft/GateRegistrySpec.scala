package graft

import org.scalatest.funsuite.AnyFunSuite

/** The gate registry: one [[Gate]] per gate query. The driver's `queries`
  * and `oracleSql` maps are derived from it, so a duplicate name would
  * silently drop a query from both. Needs no test data and no session.
  */
class GateRegistrySpec extends AnyFunSuite {
  private val names = SparkEntry.gates.map(_.name)

  test("85 gates, distinct names of the form qNN_name") {
    assert(names.size == 85)
    assert(names.distinct.size == names.size, names.diff(names.distinct))
    names.foreach(n => assert(n.matches("q\\d\\d_[a-z0-9_]+"), n))
  }

  test("queries and oracleSql cover the same gates; no oracle is blank") {
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
    SparkEntry.oracleSql.foreach { case (name, sql) => assert(sql.trim.nonEmpty, name) }
  }
}
