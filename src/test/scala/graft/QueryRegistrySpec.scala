package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry: every query is declared once, as a
  * `graft.core.Query` in its operator's `queries` list, and
  * `SparkEntry.queries` / `SparkEntry.oracleSql` are views of those
  * lists. Pure metadata — no Spark session. */
class QueryRegistrySpec extends AnyFunSuite {

  test("every query name is declared once across all owners") {
    // read the owners' lists, not the maps: toMap would keep one of
    // two same-named queries and drop the other silently
    val names = SparkEntry.owners.flatten.map(_.name)
    val twice = names.groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
    assert(twice.isEmpty, s"declared more than once: ${twice.toSeq.sorted}")
  }

  test("every owner declares at least one query") {
    val empty = SparkEntry.owners.zipWithIndex.collect { case (qs, i) if qs.isEmpty => i }
    assert(empty.isEmpty, s"owners at these positions of SparkEntry.owners are empty: $empty")
  }

  test("the build and oracle views cover the same 258 names") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == 258)
  }
}
