package graft

import org.apache.spark.sql.DataFrame

import graft.operators.{Dedup, Graph}

/** Warm-start seeding for the iterative loops: a daily corpus delta
  * resumes from prior state instead of recomputing from scratch.
  *
  * The load-bearing contracts, each pinned exactly (no tolerances):
  *  - PageRank: the fixed-point integer rounds make the trajectory a
  *    pure function of (edges, state), so resuming from the round-j
  *    vector for k−j more rounds is BIT-identical to k straight rounds
  *    (also hash-gated corpus-wide via `graph_pagerank_resume`).
  *  - Components: min-label propagation seeded with a prior
  *    (edge-additive) run's converged labels lands on the IDENTICAL
  *    fixed point as a cold run — stale labels are min doc_ids of
  *    prior components, i.e. ids inside the same (possibly since-
  *    merged) component, so they accelerate propagation without
  *    moving it (also hash-gated via `dedup_components_resume`).
  */
class WarmStartSpec extends SparkSpecBase {

  private def edgeDf(pairs: (String, String)*): DataFrame = {
    val rows = pairs.map { case (s, d) => s"('$s','$d')" }.mkString(",")
    spark.sql(s"SELECT col1 AS src, col2 AS dst FROM (VALUES $rows)")
  }

  private def ranksSeq(df: DataFrame): Seq[(String, Long)] =
    df.collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq

  test("pagerank: resume from the round-3 vector is bit-identical to 5 straight rounds") {
    // deliberately sink-bearing (node 5 has no out-edges) so the
    // seeded path exercises the dangling-mass branch too
    val e = edgeDf("1" -> "2", "2" -> "3", "3" -> "1", "1" -> "4",
      "4" -> "1", "2" -> "5", "6" -> "1")
    val cold = ranksSeq(Graph.pagerankRanksOf(e, 5))
    val mid = Graph.pagerankRanksOf(e, 3)
    val resumed = ranksSeq(Graph.pagerankRanksOf(e, 2, seed = mid))
    assert(resumed == cold, "trajectory must be resumable bit-exactly")
    // and a seed that misses nodes starts them at the uniform value:
    // seeding round-0 state explicitly reproduces the cold round-0
    val uniformSeed = Graph.pagerankRanksOf(e, 0)
    assert(ranksSeq(Graph.pagerankRanksOf(e, 5, seed = uniformSeed)) == cold,
      "seeding with the round-0 vector must replay the cold trajectory")
  }

  test("components: delta-seeded propagation lands on the cold run's fixed point") {
    import spark.implicits._
    // day 1: two separate chains {1,2,3} and {10,11}, plus {20,21}
    val day1 = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
    // day 2 delta: a bridge merging the first two components, a new
    // pair extending a component, and a brand-new component {30,31}
    val delta = Seq((3L, 10L), (11L, 12L), (30L, 31L))
    val full = (day1 ++ delta).toDF("d1", "d2")
    val cold = Dedup.components(full).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val seedLabels = Dedup.components(day1.toDF("d1", "d2"))
    val warm = Dedup.components(full, seed = seedLabels).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(warm == cold, "seeded fixed point must equal the cold one")
    // the merge actually happened: 10/11/12 now carry component 1
    assert(warm.toMap.view.filterKeys(Set(10L, 11L, 12L)).values.toSet
      == Set(1L))
    // seeding with the CONVERGED labels of the same graph is a no-op
    val again = Dedup.components(full, seed = Dedup.components(full))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(again == cold, "a converged seed must be a fixed point")
  }

  test("query twins: resume queries equal their cold flagships on the corpus") {
    val coldPr = Graph.pagerank(spark, Sf).collect().toSeq
    val warmPr = Graph.pagerankResume(spark, Sf).collect().toSeq
    assert(warmPr == coldPr)
    def comps(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(comps(Dedup.ngramComponentsResumed(spark, Sf))
      == comps(Dedup.ngramComponents(spark, Sf)))
  }

  test("kmeans resume: any codebook split lands on the cold trajectory") {
    import graft.operators.Cluster
    // the third iterative loop's warm start: resuming from the k×dim
    // codebook is BIT-exact (integer trajectory), and the split point
    // must not matter — cold(a)+warm(b) ≡ cold(a+b−1) for every split
    // (the warm phase's first assignment replays the cold run's last)
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val cold = rows(Cluster.embKmeans(spark, Sf)) // 3 rounds
    assert(rows(Cluster.embKmeansResume(spark, Sf, itersCold = 2,
      itersWarm = 2)) == cold)
    assert(rows(Cluster.embKmeansResume(spark, Sf, itersCold = 3,
      itersWarm = 1)) == cold)
    assert(cold.nonEmpty)
  }
}
