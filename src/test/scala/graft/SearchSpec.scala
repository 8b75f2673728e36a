package graft

import graft.operators.Search

/** Hybrid RRF fusion (operators/Search.scala). */
class SearchSpec extends SparkSpecBase {

  private lazy val rows = Search.hybrid(spark, Sf).collect()

  test("hybrid: returns fused top-k with ranks from at least one list") {
    assert(rows.nonEmpty && rows.length <= Search.TopK)
    rows.foreach { r =>
      assert(!(r.isNullAt(1) && r.isNullAt(2)),
        s"doc ${r.getLong(0)} in neither rank list")
    }
  }

  test("hybrid: rrf equals the reciprocal-rank formula, descending") {
    val rrfs = rows.map { r =>
      def term(i: Int): Double =
        if (r.isNullAt(i)) 0.0 else 1.0 / (Search.RrfK + r.getLong(i))
      val expect = BigDecimal(term(1) + term(2))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getDouble(3) - expect) < 1e-9,
        s"doc ${r.getLong(0)}: rrf ${r.getDouble(3)} != $expect")
      term(1) + term(2)
    }
    assert(rrfs.sameElements(rrfs.sortBy(-_)), "rrf not descending")
  }

  test("hybrid: the dense query vector ranks itself first") {
    val self = rows.find(_.getLong(0) == Search.QueryVecId)
    assert(self.isDefined, "query vec missing from fused top-k")
    assert(self.get.getLong(2) == 1L,
      s"self-cosine should rank 1, got ${self.get.get(2)}")
  }

  test("hybrid: plan has no Window and no unhinted cartesian") {
    val plan = Search.hybrid(spark, Sf).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "rank lists must use the bounded heap")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("hybrid: both-list docs outrank the tail of single-list docs") {
    // A doc in both lists at moderate ranks carries two reciprocal
    // terms; the fused tail is dominated by single-list docs. Sanity:
    // every doc with both ranks <= 10 sits above any doc whose only
    // rank is >= 40 (1/70+1/70 > 1/100 by a wide margin).
    val both = rows.filter(r => !r.isNullAt(1) && !r.isNullAt(2) &&
      r.getLong(1) <= 10 && r.getLong(2) <= 10).map(_.getDouble(3))
    val single = rows.filter(r => (r.isNullAt(1) || r.isNullAt(2)) &&
      Seq(1, 2).exists(i => !r.isNullAt(i) && r.getLong(i) >= 40))
      .map(_.getDouble(3))
    for (b <- both; s <- single) assert(b > s)
  }
}
