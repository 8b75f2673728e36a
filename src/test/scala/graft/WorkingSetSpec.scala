package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel.NONE

import graft.core.{PlanCache, WorkingSet}

/** The working-set lifetime rule: a frame cached through
  * [[WorkingSet]] belongs to the innermost open scope that created
  * its cache entry, and nothing else survives that scope. */
class WorkingSetSpec extends SparkSpecBase {

  private def frame(name: String, n: Long): DataFrame = spark.range(n).toDF(name)

  test("a working set comes back cached and already materialized") {
    WorkingSet.scope {
      val a = WorkingSet(frame("ws_first", 7))
      // withCachedData = the plan with CacheManager entries substituted
      val loaded = a.queryExecution.withCachedData.collectFirst {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
          r.cacheBuilder.isCachedColumnBuffersLoaded
      }
      assert(loaded.contains(true), "must cache and materialize before returning")
    }
  }

  test("a nested scope releases only the sets it created") {
    spark.catalog.clearCache()
    val outer = WorkingSet.scope {
      val o = WorkingSet(frame("ws_outer", 5))
      val i = WorkingSet.scope {
        WorkingSet(frame("ws_outer", 5)) // already cached: not owned here
        WorkingSet(frame("ws_inner", 6))
      }
      assert(i.storageLevel == NONE, "the inner scope must release its own set")
      assert(o.storageLevel != NONE, "the inner scope released the outer scope's set")
      o
    }
    assert(outer.storageLevel == NONE && spark.sharedState.cacheManager.isEmpty)
  }

  test("a scope whose body throws still releases its sets") {
    spark.catalog.clearCache()
    intercept[IllegalStateException] {
      WorkingSet.scope {
        WorkingSet(frame("ws_boom", 4))
        throw new IllegalStateException("boom")
      }
    }
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("a plan held by a PlanCache memo stays cached after the scope closes") {
    val pc = new PlanCache(2)
    val memo = pc.getOrBuild(spark, "ws#memo")(frame("ws_memo", 9))
    WorkingSet.scope { WorkingSet(frame("ws_memo", 9)) }
    assert(memo.storageLevel != NONE, "the scope un-cached a memo it did not create")
    pc.clear()
  }
}
