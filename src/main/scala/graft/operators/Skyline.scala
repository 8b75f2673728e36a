package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Query, Tables}

/** Pareto frontier (skyline) — rows not dominated in ANY dimension:
  * the multi-objective selection primitive (pick documents maximizing
  * quality AND diversity, customers maximizing value AND frequency)
  * that no single `ORDER BY` can express.
  *
  * Distributed two-phase shape, the one that scales: every partition
  * prunes to its LOCAL skyline first (a sorted O(k) sweep — correct
  * to run independently because dominance is transitive, so no
  * globally-dominated row can be locally undominated... while a
  * locally-dominated row is dominated globally too and can never be
  * needed again), and only the tiny union of local frontiers takes
  * the single-partition resolve pass. The full table never funnels
  * through one reducer — the global phase sees ≤ |frontier| · P rows
  * no matter the corpus size. This is the documented
  * `mapPartitions` tier of the extension ladder (SURVEY §4): the
  * sweep is genuinely per-partition imperative logic with no
  * declarative equal — a window formulation would need a GLOBAL sort.
  *
  * The demo frontier: customers by (avg order value, order count) —
  * antagonistic dimensions (premium vs frequent), exact-integer via
  * truncating cents division so the oracle's NOT EXISTS dominance
  * scan agrees bit-for-bit.
  */
object Skyline {

  /** Sweep an iterator already sorted by (d1 DESC, d2 DESC): a row
    * survives iff its d2 strictly beats every strictly-higher-d1
    * row's best d2 — except exact (d1, d2) ties, which are mutually
    * undominated and all survive. O(rows), O(1) state. */
  private def sweep(sorted: Iterator[(Long, Long, Long)])
      : Iterator[(Long, Long, Long)] = {
    var bestD2 = Long.MinValue
    var keptD1 = Long.MinValue
    var keptD2 = Long.MinValue
    sorted.filter { case (_, d1, d2) =>
      val tie = d1 == keptD1 && d2 == keptD2
      val keep = tie || d2 > bestD2
      if (keep && !tie) { bestD2 = d2; keptD1 = d1; keptD2 = d2 }
      keep
    }
  }

  def qSkyline(spark: SparkSession, dir: String): DataFrame =
    skylineDf(
      Tables(spark, dir).orders
        .groupBy(col("o_custkey"))
        .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("tot"),
          count(lit(1)).as("n_orders"))
        .select(col("o_custkey").as("id"),
          expr("tot DIV n_orders").as("avg_cents"), col("n_orders")))
      .toDF("o_custkey", "avg_cents", "n_orders")
      .orderBy(col("avg_cents").desc, col("n_orders").desc, col("o_custkey"))

  /** (id, d1, d2) → the rows maximizing (d1, d2) in Pareto terms. */
  def skylineDf(points: DataFrame): Dataset[(Long, Long, Long)] = {
    import points.sparkSession.implicits._
    val ds = points.toDF("_1", "_2", "_3").as[(Long, Long, Long)]
    val local = ds
      .sortWithinPartitions(col("_2").desc, col("_3").desc)
      .mapPartitions(sweep)
    local
      .coalesce(1)
      .sortWithinPartitions(col("_2").desc, col("_3").desc)
      .mapPartitions(sweep)
  }

  /** This object's queries, each with its DuckDB oracle (see [[graft.core.Query]]). */
  lazy val queries: Seq[Query] = Seq(
    // quadratic NOT-EXISTS dominance is fine as an oracle at sf0.01;
    // the Spark side is the two-phase local-prune skyline
    Query("q_skyline", qSkyline,
      """WITH agg AS (
           SELECT o_custkey,
                  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                       // count(*) AS BIGINT) AS avg_cents,
                  count(*) AS n_orders
           FROM orders GROUP BY 1)
         SELECT o_custkey, avg_cents, n_orders FROM agg a
         WHERE NOT EXISTS (
           SELECT 1 FROM agg b
           WHERE b.avg_cents >= a.avg_cents AND b.n_orders >= a.n_orders
             AND (b.avg_cents > a.avg_cents OR b.n_orders > a.n_orders))
         ORDER BY avg_cents DESC, n_orders DESC, o_custkey"""),
  )
}
