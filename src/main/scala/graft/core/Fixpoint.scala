package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, sum}

/** The one round loop for operators whose round state is a
  * DataFrame. It owns the round counter, the round cap, lineage
  * truncation, the convergence bookkeeping and the round telemetry;
  * an operator supplies its round body and decides what a capped
  * [[Result]] means.
  *
  * Lineage: every state (`init` included) is a lazy
  * `localCheckpoint`, so round r's plan never grows with r and no
  * round pays a dedicated materialization job. A lazy checkpoint is
  * filled by the next full action over it (`count`, a global
  * aggregate, a write). A partial action such as `isEmpty` leaves
  * partitions unfilled, and Spark then runs a follow-up job for
  * them, so [[untilStable]] and [[untilEmpty]] test with a full
  * action that fills the checkpoint and answers the stop test in one
  * pass.
  *
  * Job shape: with AQE on, a checkpoint calls the round plan's
  * `execute()`, which submits each shuffle map stage (and each
  * broadcast) as its own job right away; "lazy" defers only the
  * final stage. A round therefore starts one job per exchange in its
  * plan, and a converging round adds the jobs of its stop test: a
  * global sum or `count` is a map stage plus a result stage. No
  * round is "one job": a components round is 4 jobs, a PageRank
  * round 2 (5 with the dangling-mass term). `FixpointSpec` pins each
  * operator's total.
  *
  * Joins: a checkpointed state carries no size statistics, so a
  * round that joins it against an edge set cached pre-partitioned by
  * the join key hints the state `shuffle_hash`: only the state
  * moves. Unhinted, the planner falls back to sort-merge and
  * re-exchanges and re-sorts every edge every round (2.5× slower on
  * PageRank; `ExplainSpec` pins the join).
  *
  * Telemetry, on stderr: each converging round prints
  * `[graft] <loop> round <r>: <wall> s, measure=<m>, changed=<b>`,
  * and every loop prints one exit line with the rounds run, how it
  * stopped (converged, capped or fixed) and the total wall.
  *
  * Loops that stay outside the kernel:
  *  - `Graph.hitsOf`: its state is two vectors with an eager
  *    checkpoint every half-round, kept after an A/B measurement
  *    (OPTIMIZATION_r13.md).
  *  - `Cluster.kmeansLoop` and `Ann.pqCodebooks`: the state is a
  *    collected codebook array, so there is no lineage to truncate.
  *  - `Cluster.embPcaDf` and `TextOps.bpeLearnLocal`: their rounds
  *    are local Scala code with no DataFrame state. */
object Fixpoint {

  /** A converging loop's last state, the rounds it ran, and whether
    * it stopped on its test (false: it hit the cap). */
  final case class Result(state: DataFrame, rounds: Int, converged: Boolean)

  /** `n` rounds of `step` from `init`. The last round's checkpoint is
    * eager: the rounds pipeline into its jobs, and the result no
    * longer reads any working set in the caller's scope. `n = 0`
    * returns the lazily checkpointed `init`. */
  def rounds(loop: String, init: DataFrame, n: Int)(
      step: DataFrame => DataFrame): DataFrame = {
    val t0 = System.nanoTime()
    var s = init.localCheckpoint(eager = false)
    for (r <- 1 to n) s = step(s).localCheckpoint(eager = r == n)
    log(s"$loop: rounds=$n, fixed, ${secs(t0)} s")
    s
  }

  /** Rounds of `step` until Σ `measure` (as `decimal(38,0)`: a sum
    * of 64-bit ids overflows a long) holds still, at most `maxRounds`.
    * For states whose measure moves one way until the fixed point, so
    * an unchanged sum means an unchanged state. Checked from round 2
    * on; a null sum is an empty state, which counts as converged. */
  def untilStable(loop: String, init: DataFrame, measure: String,
      maxRounds: Int)(step: DataFrame => DataFrame): Result = {
    var prev: java.math.BigDecimal = null
    converge(loop, init, maxRounds) { s =>
      val next = step(s).localCheckpoint(eager = false)
      val m = next.agg(sum(col(measure).cast("decimal(38,0)"))).head().getDecimal(0)
      val changed = m != null && (prev == null || m.compareTo(prev) != 0)
      prev = m
      (next, m, changed)
    }
  }

  /** Peeling rounds, at most `maxRounds`: each derives the delta
    * `peel(state)`, and a nonempty delta moves the state to
    * `step(state, delta)`. The first empty delta stops the loop. The
    * delta's `count()` both fills its checkpoint and answers
    * emptiness. */
  def untilEmpty(loop: String, init: DataFrame, maxRounds: Int)(
      peel: DataFrame => DataFrame)(
      step: (DataFrame, DataFrame) => DataFrame): Result =
    converge(loop, init, maxRounds) { s =>
      val d = peel(s).localCheckpoint(eager = false)
      val n = d.count()
      (if (n == 0) s else step(s, d).localCheckpoint(eager = false), n, n > 0)
    }

  /** Rounds of `step` until `done(state)`, at most `maxRounds`. For a
    * stop test whose rows the step does not read, such as
    * `Hierarchy.flattenOf`'s `isEmpty` probe: checkpointing and
    * counting those rows as an [[untilEmpty]] delta costs more jobs
    * (18 against 15 on `FixpointSpec`'s tree). */
  def untilDone(loop: String, init: DataFrame, maxRounds: Int)(
      done: DataFrame => Boolean)(step: DataFrame => DataFrame): Result =
    converge(loop, init, maxRounds) { s =>
      if (done(s)) (s, "-", false)
      else (step(s).localCheckpoint(eager = false), "-", true)
    }

  private def converge(loop: String, init: DataFrame, maxRounds: Int)(
      round: DataFrame => (DataFrame, Any, Boolean)): Result = {
    val t0 = System.nanoTime()
    var s = init.localCheckpoint(eager = false)
    var r = 0
    var changed = true
    while (changed && r < maxRounds) {
      val tr = System.nanoTime()
      val (next, m, c) = round(s)
      s = next
      changed = c
      r += 1
      log(s"$loop round $r: ${secs(tr)} s, measure=$m, changed=$c")
    }
    log(s"$loop: rounds=$r, ${if (changed) "capped" else "converged"}, ${secs(t0)} s")
    Result(s, r, !changed)
  }

  private def secs(t0: Long): String =
    String.format(java.util.Locale.ROOT, "%.3f", (System.nanoTime() - t0) / 1e9)

  private def log(line: String): Unit = System.err.println("[graft] " + line)
}
