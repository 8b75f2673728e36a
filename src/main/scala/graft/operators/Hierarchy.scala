package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Fixpoint, Tables, WorkingSet}

/** Recursive hierarchy flattening — root and depth for every node of
  * a parent-pointer tree (SURVEY.md §2.B extension; reference scope:
  * the framework's per-key aggregation contract, mapreduce.h:130-199,
  * generalized to a RECURSIVE key relation — the org-chart /
  * category-tree / bill-of-materials shape every warehouse eventually
  * asks of its engine).
  *
  * The hierarchy under test is derived deterministically from the
  * customer table: node `k` has parent `k div 8`, and nodes 0..7 are
  * roots (depth 0). That keeps the testdata read-only while giving a
  * real multi-level tree (depth 4-5 at the bench SFs, branching 8).
  *
  * Shape: POINTER DOUBLING, not per-level iteration. The state frame
  * holds `(node, anc, d)` — `anc` is the ancestor reached from `node`
  * after `d` edges, clamped at the first root. Each round self-joins
  * the frame on `anc = node'`, composing jumps: after round i every
  * unfinished node points up to 2^i edges up. Rounds = ⌈log₂ depth⌉ —
  * a depth-1M chain (the pathological BOM) takes 20 rounds, not 1M
  * sequential scans. The naive `WITH RECURSIVE` walk the oracle runs
  * IS the O(depth) plan that does not survive deep trees at 100 TB;
  * the hash match proves the doubled composition lands on the
  * identical closure.
  *
  * Each round is ONE self-join of a frame bounded by |nodes| (no
  * blow-up: every node contributes exactly one row per round),
  * run on [[graft.core.Fixpoint.untilDone]]. `maxRounds` fail-fasts
  * on cycles and dangling parent pointers (neither ever finishes; a
  * well-formed tree of depth ≤ 2^maxRounds always does).
  */
object Hierarchy {

  /** Oracle-gated surface: flatten the derived customer hierarchy to
    * `(node, root, depth)`, presentation-sorted by node. */
  def hierarchy(spark: SparkSession, dir: String): DataFrame =
    flattenOf(
      Tables(spark, dir).customer
        .select(col("c_custkey").as("node"),
          expr("c_custkey div 8").as("parent")),
      isRoot = col("node") < 8L)
      .orderBy(col("node"))

  /** Pointer-doubling closure over ANY `(node, parent)` frame.
    * `isRoot` marks terminal nodes (evaluated against the `node`
    * column); non-root nodes must have `parent` inside the node set —
    * a dangling pointer or a cycle exhausts `maxRounds` and raises.
    * Returns `(node, root, depth)` unsorted (iterating callers would
    * destroy a sort; the gated wrapper sorts). */
  def flattenOf(rel: DataFrame, isRoot: Column,
      maxRounds: Int = 40): DataFrame = {
    val nodes = WorkingSet(rel.select(col("node").cast("long").as("node"),
      col("parent").cast("long").as("parent")))
    val roots = nodes.filter(isRoot)
      .select(col("node"), col("node").as("root"), lit(0L).as("depth"))
    // root-id set: drives the termination probe each round. Cached —
    // tiny relative to the corpus but NOT assumed broadcast-able
    // (a forest can have many roots).
    val rootIds = WorkingSet(nodes.filter(isRoot).select(col("node").as("rid")))
    // jump state for non-roots: anc = parent, d = 1. Roots carry no
    // row, so "anc is a root" ⇔ "anc has no jump row" for well-formed
    // trees — the composition below exploits exactly that. Done once
    // every row is at a root; maxRounds + 1 probes allow maxRounds
    // doubling rounds.
    val jump0 = nodes.filter(!isRoot)
      .select(col("node"), col("parent").as("anc"), lit(1L).as("d"))
    val closed = Fixpoint.untilDone("hierarchy", jump0, maxRounds + 1)(
      _.join(rootIds, col("anc") === col("rid"), "left_anti").isEmpty) { j =>
      // compose jumps: a row whose anc is still mid-tree finds anc's
      // own jump row and leaps (anc', d + d'); a row already at a root
      // finds no match (roots have no jump row) and passes through.
      j.as("a")
        .join(j.select(col("node").as("bn"), col("anc").as("banc"),
          col("d").as("bd")).as("b"), col("a.anc") === col("bn"), "left")
        .select(col("a.node").as("node"),
          coalesce(col("banc"), col("a.anc")).as("anc"),
          (col("a.d") + coalesce(col("bd"), lit(0L))).as("d"))
    }
    if (!closed.converged)
      throw new IllegalStateException(
        s"hierarchy: not closed after $maxRounds doubling rounds — " +
          s"cycle or dangling parent pointer, or depth > 2^$maxRounds")
    closed.state.select(col("node"), col("anc").as("root"), col("d").as("depth"))
      .unionByName(roots)
  }

  /** Subtree ROLLUP per root — the aggregation consumer the closure
    * exists for (org headcount, category totals, BOM cost): every
    * tree's member count, max depth, and exact-cents balance total,
    * by joining the [[flattenOf]] labels back to the entity table.
    * One closure (log-rounds) + one broadcast-scale dimension join +
    * one roots-bounded aggregate. */
  def hierarchyRollup(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables(spark, dir).customer
      .select(col("c_custkey").as("node"),
        round(col("c_acctbal") * 100, 0).cast("long").as("cents"))
    flattenOf(
      cust.select(col("node"), expr("node div 8").as("parent")),
      isRoot = col("node") < 8L)
      .join(cust, Seq("node"))
      .groupBy(col("root"))
      .agg(count(lit(1)).as("n_nodes"), max(col("depth")).as("max_depth"),
        sum(col("cents")).as("total_cents"))
      .orderBy(col("root"))
  }

  /** Generated DuckDB oracle for [[hierarchyRollup]] — the recursive
    * walk's terminal rows aggregated per root. */
  val hierarchyRollupOracleSql: String =
    """WITH RECURSIVE walk(node, cur, depth) AS (
         SELECT c_custkey, c_custkey, 0 FROM customer
         UNION ALL
         SELECT node, cur // 8, depth + 1 FROM walk WHERE cur >= 8),
       fl AS (SELECT node, arg_max(cur, depth) AS root,
                     max(depth) AS depth
              FROM walk GROUP BY node),
       c AS (SELECT c_custkey AS node,
                    CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents
             FROM customer)
       SELECT CAST(fl.root AS BIGINT) AS root,
              CAST(count(*) AS BIGINT) AS n_nodes,
              CAST(max(fl.depth) AS BIGINT) AS max_depth,
              CAST(sum(c.cents) AS BIGINT) AS total_cents
       FROM fl JOIN c ON c.node = fl.node
       GROUP BY fl.root ORDER BY root"""

  /** Generated DuckDB oracle for [[hierarchy]]: the naive O(depth)
    * recursive walk — one parent edge per recursion level until a
    * root id (< 8) is reached; `arg_max(cur, depth)` picks each
    * node's terminal row. Ground truth by construction, so the hash
    * match proves the doubled composition exact. */
  val hierarchyOracleSql: String =
    """WITH RECURSIVE walk(node, cur, depth) AS (
         SELECT c_custkey, c_custkey, 0 FROM customer
         UNION ALL
         SELECT node, cur // 8, depth + 1 FROM walk WHERE cur >= 8)
       SELECT node, CAST(arg_max(cur, depth) AS BIGINT) AS root,
              CAST(max(depth) AS BIGINT) AS depth
       FROM walk GROUP BY node ORDER BY node"""
}
