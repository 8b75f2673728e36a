package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Fixpoint, WorkingSet}
import graft.operators.{Dedup, Graph, Hierarchy}

/** The fixpoint kernel's round contract, and the Spark job count of
  * every operator that runs on it, pinned on small fixed graphs. */
class FixpointSpec extends SparkSpecBase {
  import spark.implicits._

  private def vals(df: DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq.sorted

  // v ← v div 2: Σv goes 10, 4, 1, 0, 0 — unchanged from round 4 on
  private def halving = spark.range(5).select(col("id").as("v"))
  private def halve(df: DataFrame): DataFrame =
    df.select(expr("v div 2").as("v"))

  test("a measure that holds still stops the loop on its first unchanged round") {
    val r = Fixpoint.untilStable("halve", halving, "v", maxRounds = 10)(halve)
    assert(r.rounds == 4 && r.converged)
    assert(vals(r.state) == Seq(0L, 0L, 0L, 0L, 0L))
  }

  test("at the round cap the loop returns the capped state, not converged") {
    val r = Fixpoint.untilStable("halve", halving, "v", maxRounds = 2)(halve)
    assert(r.rounds == 2 && !r.converged)
    assert(vals(r.state) == Seq(0L, 0L, 0L, 0L, 1L))
  }

  test("an empty first peel set is one round, converged, state untouched") {
    val r = Fixpoint.untilEmpty("peel", halving, maxRounds = 5)(
      _.filter(col("v") < 0))((s, _) => halve(s))
    assert(r.rounds == 1 && r.converged)
    assert(vals(r.state) == Seq(0L, 1L, 2L, 3L, 4L))
  }

  test("fixed rounds with n = 0 return init") {
    assert(vals(Fixpoint.rounds("halve", halving, 0)(halve)) ==
      Seq(0L, 1L, 2L, 3L, 4L))
  }

  test("a fixed-rounds result outlives the scope that owned its input") {
    spark.catalog.clearCache()
    val out = WorkingSet.scope {
      val ws = WorkingSet(spark.range(8).select(col("id").as("v")))
      Fixpoint.rounds("halve", ws, 2)(halve)
    }
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(vals(out) == Seq(0L, 0L, 0L, 0L, 1L, 1L, 1L, 1L))
  }

  // ---- job-count pins: the jobs each operator call starts, built and
  // drained (noop sink) inside one scope, as the mains run a query.

  /** Jobs started under a private job group while `body` is built and
    * drained. A flush job queued behind them is waited for, so the
    * listener has seen every earlier job start before the count is
    * read. */
  private def jobsOf(body: => DataFrame): Int = {
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val counted = new AtomicInteger
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("fixpoint-pin") => counted.incrementAndGet()
          case Some("fixpoint-flush") => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("fixpoint-pin", "fixpoint-pin")
      WorkingSet.scope(body.write.format("noop").mode("overwrite").save())
      sc.setJobGroup("fixpoint-flush", "fixpoint-flush")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      counted.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  // 4-clique {1,2,3,4}; 4–5; 5 fans out to the leaves 6 and 7. The
  // 3-core peel takes {6,7}, then {5}, then finds nothing: 3 rounds.
  // The 4-truss keeps the clique, whose edges sit in 2 triangles each.
  private def undirected = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L),
    (2L, 4L), (3L, 4L), (4L, 5L), (5L, 6L), (5L, 7L)).toDF("a", "b")
  private def symmetric = undirected.select(col("a").as("src"), col("b").as("dst"))
    .unionAll(undirected.select(col("b").as("src"), col("a").as("dst")))

  for ((op, pinned, run) <- Seq[(String, Int, () => DataFrame)](
      ("Dedup.components", 25, () => Dedup.components(
        Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("d1", "d2"))),
      ("Graph.kcoreOf", 16, () => Graph.kcoreOf(undirected, 3, 4)),
      ("Graph.ktrussOf", 28, () => Graph.ktrussOf(
        undirected.select(col("a").as("u"), col("b").as("v")), 4, 4)),
      ("Graph.corenessOf", 15, () => Graph.corenessOf(symmetric)),
      ("Graph.ssspOf", 16, () => Graph.ssspOf(symmetric.withColumn("w", lit(2L)),
        Seq((1L, 0L, 0L)).toDF("node", "hops", "cost"))),
      // 7 is a sink, so the dangling-mass rounds run
      ("Graph.pagerankRanksOf", 37, () => Graph.pagerankRanksOf(
        Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 7L)).toDF("src", "dst"))),
      // node k's parent is k div 2, 1 is the root: 2 doubling rounds
      ("Hierarchy.flattenOf", 15, () => Hierarchy.flattenOf(
        spark.range(1, 21).select(col("id").as("node"), expr("id div 2").as("parent")),
        col("node") === 1L))))
    test(s"job-count pin: $op")(assert(jobsOf(run()) == pinned))
}
