package graft

import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, GlobalLimit, LogicalPlan, ResolvedHint}

import graft.core.{PlanCache, WorkingSet}

/** Global plan-hygiene invariant over the ENTIRE query surface:
  * no query may plan a CartesianProduct. Unkeyed joins are the one
  * shape that cannot survive a 100 TB input — every intentional
  * cross join in the library carries a broadcast() one-row/tiny side
  * (scalar-subquery thresholds, query sets, sketch matrices), which
  * plans as BroadcastNestedLoopJoin, never CartesianProduct.
  *
  * The sweeps read the planned query (queryExecution.sparkPlan) and
  * then drain it, so this also smoke-tests that every queries entry
  * analyzes, plans and runs against a real SF directory, and that no
  * query leaves a cached frame behind. Per-round plans of the
  * iterative operators are covered by their own specs, and the cheap
  * sf0.001 input keeps this suite fast.
  */
class PlanHygieneSpec extends SparkSpecBase {

  // `customer`, `part`, and `supplier` grow linearly with the corpus
  // (10×/SF in the test data: customer 150→15000, part
  // 200→20000, supplier 10→1000 across sf0.001/0.01/0.1); a
  // constant-selectivity filter on them still grows linearly, so a
  // forced broadcast() of such a slice OOMs at 100 TB no matter how
  // small it looks at test SF. This class of defect shipped three
  // times (q8/q14 in r3, q2/q3/q9/q17/q19/q20 in r4, nine
  // supplier-derived hints through r5) — this rule makes a fourth
  // impossible. The one legitimate shape is a GLOBAL (ungrouped)
  // aggregate of such a table: that is 1 row by construction at any
  // scale (e.g. q22's avg-balance threshold), so subtrees containing
  // an ungrouped Aggregate are exempt. Only nation (25) and region
  // (5) are fixed-size and hintable.
  private def hintsScalingFrame(analyzed: LogicalPlan): Boolean = {
    val scalingLeafCols = Set("c_custkey", "p_partkey", "s_suppkey")
    def leavesScale(p: LogicalPlan): Boolean = p.collectLeaves().exists(
      l => l.output.map(_.name).toSet.intersect(scalingLeafCols).nonEmpty)
    def boundedByConstruction(p: LogicalPlan): Boolean = p.collect {
      case a: Aggregate if a.groupingExpressions.isEmpty => a
      case g: GlobalLimit => g
    }.nonEmpty
    analyzed.collect {
      case h: ResolvedHint
          if leavesScale(h.child) && !boundedByConstruction(h.child) => h
    }.nonEmpty
  }

  private case class Swept(name: String, cartesian: Boolean, badHint: Boolean, leaked: Boolean)

  /** One pass over the surface, shared by the sweeps below: each query
    * is built, inspected and drained inside its own WorkingSet scope,
    * then every memo is dropped and the CacheManager must be empty. */
  private lazy val swept: Seq[Swept] = {
    spark.catalog.clearCache()
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val (cartesian, badHint) = WorkingSet.scope {
        val df = fn(spark, Sf)
        df.write.format("noop").mode("overwrite").save()
        val qe = df.queryExecution
        (qe.sparkPlan.toString.contains("CartesianProduct"), hintsScalingFrame(qe.analyzed))
      }
      PlanCache.invalidate("")
      val leaked = !spark.sharedState.cacheManager.isEmpty
      spark.catalog.clearCache()
      Swept(name, cartesian, badHint, leaked)
    }
  }

  private def offenders(p: Swept => Boolean): String =
    swept.filter(p).map(_.name).mkString(", ")

  test("no query plans a CartesianProduct") {
    assert(offenders(_.cartesian).isEmpty, s"cartesian joins in: ${offenders(_.cartesian)}")
  }

  test("no query broadcast-hints a frame derived from a corpus-scaling table") {
    assert(offenders(_.badHint).isEmpty,
      s"broadcast() on customer/part/supplier-derived frames in: ${offenders(_.badHint)}")
  }

  test("no query leaves a cached frame behind once its scope closes and the memos are dropped") {
    assert(offenders(_.leaked).isEmpty, s"cached frames left behind by: ${offenders(_.leaked)}")
  }

  test("PlanCache builds once per key and re-registers after a harness clearCache") {
    import org.apache.spark.storage.StorageLevel
    val pc = new graft.core.PlanCache(2)
    var builds = 0
    def build() = { builds += 1; spark.range(5).toDF("x") }
    val a = pc.getOrBuild(spark, "k")(build())
    val b = pc.getOrBuild(spark, "k")(build())
    assert(builds == 1 && (a eq b), "second consumer must reuse the memo")
    a.count()
    assert(a.storageLevel != StorageLevel.NONE, "frame must be Spark-cached")
    // Verify/Bench clear all cached data between queries — the memo
    // must re-register (not rebuild) so sharing resumes
    spark.catalog.clearCache()
    assert(a.storageLevel == StorageLevel.NONE)
    pc.getOrBuild(spark, "k")(build())
    assert(builds == 1, "clearCache must not force a rebuild")
    assert(a.storageLevel != StorageLevel.NONE, "hit must re-cache the frame")
    pc.clear()
    assert(a.storageLevel == StorageLevel.NONE, "clear() must unpersist")
  }

  test("PlanCache's first build is cached and already materialized") {
    import org.apache.spark.storage.StorageLevel
    val pc = new graft.core.PlanCache(2)
    val a = pc.getOrBuild(spark, "first")(spark.range(7).toDF("first"))
    assert(a.storageLevel != StorageLevel.NONE, "miss must cache the frame")
    // withCachedData = the plan with CacheManager entries substituted
    val loaded = a.queryExecution.withCachedData.collectFirst {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        r.cacheBuilder.isCachedColumnBuffersLoaded
    }
    assert(loaded.contains(true), "miss must materialize the cache before returning")
    pc.clear()
  }

  test("Tables.invalidate(dir) drops PlanCache entries built over that dir") {
    val pc = new graft.core.PlanCache(4)
    var builds = 0
    def build() = { builds += 1; spark.range(3).toDF("x") }
    pc.getOrBuild(spark, "/some/dir#grams")(build())
    pc.getOrBuild(spark, "/other/dir#grams")(build())
    graft.core.Tables.invalidate("/some/dir")
    pc.getOrBuild(spark, "/some/dir#grams")(build())
    assert(builds == 3, "invalidated-dir entry must rebuild")
    pc.getOrBuild(spark, "/other/dir#grams")(build())
    assert(builds == 3, "other dirs must keep their memo")
  }
}
