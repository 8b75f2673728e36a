package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Fixpoint, Query, Tables, WorkingSet}

/** Iterative graph analytics beyond connected components (which
  * lives with its dedup consumer in [[Dedup.components]]).
  *
  * PageRank here is FIXED-POINT INTEGER arithmetic throughout:
  * ranks are scaled by 10¹² and every per-iteration operation is an
  * integer multiply/divide (`div`), so the result is bit-identical
  * regardless of aggregation order, partitioning, or engine — the
  * DuckDB oracle unrolls the same iterations as chained CTEs and
  * hash-matches exactly. A floating-point PageRank could only ever
  * be compared within a tolerance; the fixed-point formulation makes
  * an iterative numeric algorithm *oracle-checkable*, the same trick
  * the exact-cents money sums use.
  */
object Graph {

  private[graft] val Scale = 1000000000000L // 10^12 rank fixed-point
  private[graft] val Damping = 85 // ×10⁻² — classic 0.85

  /** One PageRank round: contributions flow src → dst (the round's
    * single real shuffle, map-side partial sums) after a SHUFFLE_HASH
    * join of the rank vector against the pre-partitioned edge set
    * (see [[graft.core.Fixpoint]] on joins).
    *
    * `nodes` (the src-node set) is unioned in as zero contributions
    * BEFORE the groupBy — without it, a node with out-edges but no
    * in-edges would fall out of the rank vector after round 1 (the
    * groupBy(dst) only keeps contribution *receivers*) and its
    * outgoing mass would silently vanish from rounds 2+. The zero
    * rows ride the round's existing shuffle (|nodes| ≪ |edges| extra
    * rows, no extra join or stage) and are value-invisible wherever
    * a node already receives contributions: they add 0 to the sum. */
  private[graft] def round(edges: DataFrame, pr: DataFrame,
      base: Long, nodes: DataFrame): DataFrame =
    edges
      .join(pr.hint("shuffle_hash"), col("src") === col("node"))
      .select(col("dst"), expr("(pr * w) div wout").as("contrib"))
      .unionAll(nodes.select(col("node").as("dst"), lit(0L).as("contrib")))
      .groupBy(col("dst"))
      .agg((lit(base) + expr(s"($Damping * sum(contrib)) div 100")).as("pr"))
      .select(col("dst").as("node"), col("pr"))

  /** [[round]] plus the dangling-mass term: sink-only nodes (in-edges
    * but no out-edges) hold rank they can't redistribute through
    * edges; real PageRank returns that mass uniformly to every node.
    * The per-round addition (3 of the round's 5 jobs) is a semi-join
    * of the rank vector against the (static, checkpointed) dangling-node
    * set feeding an ungrouped sum — a 1-row frame that rides a
    * broadcast cross join into the per-node formula. Same integer
    * fixed-point discipline (`div` truncation, deterministic at any
    * partitioning): pr' = base + d·(Σcontrib + dangSum div n). */
  private[graft] def roundDangling(edges: DataFrame, pr: DataFrame,
      base: Long, nodes: DataFrame, dangling: DataFrame,
      n: Long): DataFrame = {
    val dang = pr.join(dangling, Seq("node"), "left_semi")
      .agg(coalesce(sum(col("pr")), lit(0L)).as("dang_sum"))
    edges
      .join(pr.hint("shuffle_hash"), col("src") === col("node"))
      .select(col("dst"), expr("(pr * w) div wout").as("contrib"))
      .unionAll(nodes.select(col("node").as("dst"), lit(0L).as("contrib")))
      .groupBy(col("dst"))
      .agg(sum(col("contrib")).as("c"))
      .crossJoin(broadcast(dang))
      .select(col("dst").as("node"),
        (lit(base) +
          expr(s"($Damping * (c + (dang_sum div $n))) div 100")).as("pr"))
  }

  /** The (customer, supplier, lineitem-count) pair aggregation BOTH
    * pagerank variants start from: the unweighted graph is its key
    * set (groupBy keys ≡ the old distinct — same shuffle, one extra
    * counter), the weighted graph its counts. Memoized + Spark-cached
    * so a batch running both pageranks pays the fact-fact join once
    * (the same sharing discipline as [[coSupplyEdges]]). */
  private def tradePairs(spark: SparkSession, dir: String): DataFrame =
    shared.getOrBuild(spark, s"$dir#tradepairs") {
      val t = Tables(spark, dir)
      // aggregation on the NUMERIC pair (16-byte shuffle rows); string
      // node ids are minted after, in the explode.
      // Tables.spread (r14, the coSupplyEdgesW discipline): when the
      // file layout serializes the scan (1-row-group testdata), the
      // broadcast-orders join + pair partial-agg otherwise run inside
      // the 3-task scan stage (~0.9 s single-threaded per graph query,
      // r14 JobProbe); pre-exchange by the JOIN key so they run at
      // full width. A no-op at production scale by construction.
      graft.core.Tables.spread(spark, dir, "lineitem",
          t.lineitem.select(col("l_orderkey"), col("l_suppkey")),
          "l_orderkey")
        .join(t.orders.select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"), col("l_suppkey"))
        .agg(count(lit(1)).as("w"))
    }

  // the ONE place trading-graph node ids are minted — tradeEdges,
  // the weighted edge builder, and kcore all read these, so the id
  // scheme cannot silently diverge between graph ops
  private def custNode: Column = concat(lit("C"), col("o_custkey"))
  private def suppNode: Column = concat(lit("S"), col("l_suppkey"))

  /** Both directions of every (a, b, w) edge as (src, dst, w), from
    * one explode (a unionAll of two projections would run the input
    * once per branch; only the exchange below it is reuse-deduped). */
  private def bothWays(edges: DataFrame, a: Column, b: Column): DataFrame =
    edges.select(explode(array(
        struct(a.as("src"), b.as("dst"), col("w")),
        struct(b.as("src"), a.as("dst"), col("w")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.w").as("w"))

  /** Symmetric (src, dst, w) trading edges. Weights are the pair's
    * lineitem counts, ≥ 1 by construction. */
  private def tradeEdgesW(spark: SparkSession, dir: String): DataFrame =
    bothWays(tradePairs(spark, dir), custNode, suppNode)

  private def tradeEdges(spark: SparkSession, dir: String): DataFrame =
    tradeEdgesW(spark, dir).drop("w")

  /** Fixed-iteration PageRank over the trading graph. Each round is
    * one shuffle (contributions grouped by destination, map-side
    * partial sums) plus joins of the rank vector against the edge
    * set, hash-partitioned by `src` ONCE and cached: only the rank
    * vector moves. The rounds run on [[graft.core.Fixpoint.rounds]].
    * Every node has out-edges (both edge directions exist), so there
    * is no dangling-mass term. */
  def pagerank(spark: SparkSession, dir: String, iters: Int = 5): DataFrame =
    // assumeNoSinks: tradeEdges emits BOTH directions of every pair,
    // so every node has out-edges by construction — skip the
    // dangling-set derivation (a dst-distinct + anti-join + emptiness
    // probe) that could never fire here
    pagerankOf(tradeEdges(spark, dir), iters, assumeNoSinks = true)

  /** PageRank over an arbitrary (src, dst) edge set. The rank vector
    * is seeded over ALL nodes (src ∪ dst) and each round restored
    * over them via zero-contribution union rows, so source-only
    * nodes keep contributing instead of vanishing after round 1 and
    * sink-only nodes hold rank from the seed on. Sink-held rank is
    * returned to the graph by the dangling-mass term
    * ([[roundDangling]]); the dangling set is derived ONCE, and a
    * graph without sinks (the trading graph: both edge directions
    * exist) takes the plain [[round]] plan — no per-round dangling
    * job, byte-identical output to the pre-dangling formulation.
    *
    * `assumeNoSinks`: callers that guarantee every node has
    * out-edges (e.g. symmetric edge sets) skip the dangling-set
    * derivation and its emptiness probe entirely; output is
    * byte-identical to the probe finding the set empty. A violated
    * promise silently drops sink mass — only pass true when the
    * edge construction proves it. */
  def pagerankOf(edgeList: DataFrame, iters: Int = 5,
      assumeNoSinks: Boolean = false): DataFrame =
    top100(pagerankRanksOf(edgeList, iters, assumeNoSinks))

  /** FULL rank vector (node, pr) after `iters` rounds — the resumable
    * state [[pagerankResumedOf]] accepts, where the public top-100
    * views are presentation slices of it. Persist this (not the
    * top-100) when the corpus is fed by daily deltas. */
  def pagerankRanksOf(edgeList: DataFrame, iters: Int = 5,
      assumeNoSinks: Boolean = false, seed: DataFrame = null): DataFrame =
    pagerankLoop(edgeList.select(col("src"), col("dst"))
      .withColumn("w", lit(1L)), iters, assumeNoSinks, seed = seed)

  /** Warm-start PageRank: run `iters` MORE rounds from a prior rank
    * vector instead of the uniform seed — the daily-delta loop: a
    * corpus that grew by 1% should not pay the full fixed-point
    * trajectory from scratch when yesterday's converged ranks are an
    * almost-fixed point of the new graph. `seed` is (node, pr) as
    * produced by [[pagerankRanksOf]]; nodes absent from the seed
    * (today's new nodes) start at the uniform Scale/n like round 0.
    * The seed join is ONE extra node-keyed exchange before round 1 —
    * everything after is the identical per-round loop.
    *
    * Exactness contract (spec-pinned AND hash-gated via
    * `graph_pagerank_resume`): on the SAME edge set, resuming from
    * the round-j vector for iters = k−j is bit-identical to running
    * k rounds from scratch — the fixed-point integer rounds make the
    * trajectory a pure function of (edges, state), so a resume can
    * never drift the way a float accumulation would. On a GROWN edge
    * set the result is the same fixed point the cold run converges
    * to, reached in fewer rounds (the warm start only changes round-0
    * state, never the update rule). */
  def pagerankResumedOf(edgeList: DataFrame, seed: DataFrame,
      iters: Int = 2, assumeNoSinks: Boolean = false): DataFrame =
    top100(pagerankRanksOf(edgeList, iters, assumeNoSinks, seed))

  /** The `graph_pagerank_resume` query: split the flagship 5-round
    * trading-graph PageRank into 3 cold rounds + a 2-round warm
    * resume from the full round-3 vector. The DuckDB oracle is the
    * SAME 5-round unrolled CTE chain as `graph_pagerank`, so the
    * hash gate proves resume ≡ straight-through — the strongest
    * checkable form of the warm-start contract. */
  def pagerankResume(spark: SparkSession, dir: String,
      coldIters: Int = 3, moreIters: Int = 2): DataFrame = WorkingSet.scope {
    // prepare ONCE, run twice: both loop invocations share the same
    // src-partitioned edge cache and node count — the cross-job resume
    // APIs above can't share (the warm job starts cold), but a
    // split-trajectory demo inside one session shouldn't pay the
    // edge exchange + node derivation twice. Trajectory is identical
    // either way: prepare affects layout, never values.
    val b = prepareRanks(
      tradeEdges(spark, dir).withColumn("w", lit(1L)), assumeNoSinks = true)
    if (b.n == 0) emptyRanks(b)
    else top100(runRanks(b, moreIters, seed = runRanks(b, coldIters, null)))
  }

  /** Presentation slice shared by the public pagerank views: the 100
    * top-ranked nodes (deterministic node tiebreak), globally sorted
    * — bounded output, so the global sort is limit-fed and cheap. */
  private def top100(ranks: DataFrame): DataFrame =
    ranks.orderBy(col("pr").desc, col("node")).limit(100)

  /** The ONE fixed-point loop both public variants run: uniform
    * splitting IS the weighted formula with w ≡ 1 ((pr·w) div wout ≡
    * pr div outdeg — GraphProfileSpec pins the equivalence
    * bit-exactly), so there is a single copy of the loop discipline
    * (edge partition + cache, zero-seed union, dangling term) to
    * maintain. */
  private def pagerankLoop(edgeList: DataFrame, iters: Int,
      assumeNoSinks: Boolean, weightBound: Long = Long.MaxValue,
      seed: DataFrame = null): DataFrame = WorkingSet.scope {
    val b = prepareRanks(edgeList, assumeNoSinks, weightBound)
    // empty edge set (or all-filtered weighted input): no nodes, no
    // ranks — return the empty (node, pr) frame instead of letting
    // the base computation divide by zero
    if (b.n == 0) emptyRanks(b) else runRanks(b, iters, seed)
  }

  private def emptyRanks(b: RankBase): DataFrame =
    b.nodes.withColumn("pr", lit(0L)).select(col("node"), col("pr"))

  /** The loop-static state one PageRank invocation prepares exactly
    * once and every round reads: the src-partitioned cached edge set
    * (out-weight totals riding the same partitioning), the
    * checkpointed node set, the dangling set (null when proven or
    * found empty), and the node count. Split from [[runRanks]] so a
    * caller that runs SEVERAL round batches over one graph — the
    * resume demo, or a service answering "k more rounds" requests —
    * prepares once instead of once per batch. The edge set is a
    * [[WorkingSet]] of the caller's scope, which closes once the last
    * batch's result has materialized (the final round's eager
    * checkpoint makes the result independent of the cache). */
  private final case class RankBase(edges: DataFrame, nodes: DataFrame,
      dangling: DataFrame, hasDangling: Boolean, n: Long)

  private def prepareRanks(edgeList: DataFrame,
      assumeNoSinks: Boolean,
      weightBound: Long = Long.MaxValue): RankBase = {
    // one exchange builds the whole loop input: repartition by src,
    // then the outgoing-weight total rides the SAME partitioning as a
    // window sum (the GraphX-style "edge carries source degree"
    // layout) — no degree join, no second cache
    val edges = WorkingSet(edgeList
      .repartition(col("src"))
      .withColumn("wout",
        sum(col("w")).over(Window.partitionBy(col("src")))))
    // node set = src ∪ dst, built as src-distinct (exchange-FREE — it
    // rides the edge partitioning) + the sink-only remainder, so the
    // only new shuffle is the dst-side distinct. Checkpointed once:
    // every round unions the zero-seed rows.
    val srcNodes = edges.select(col("src").as("node")).distinct()
    // sink-only nodes: a dst but never a src. Static over the loop;
    // empty ⇒ the dangling term is identically 0, so the plain round
    // is VALUE-identical and cheaper (one emptiness probe here beats
    // a no-op semi-join + broadcast in every round). Callers that
    // prove no-sinks by construction skip the probe too. Both
    // checkpoints are lazy and filled by their count() (see
    // graft.core.Fixpoint on lazy checkpoints and full actions).
    val dangling =
      if (assumeNoSinks) null
      else edges.select(col("dst").as("node")).distinct()
        .join(srcNodes, Seq("node"), "left_anti")
        .localCheckpoint(eager = false)
    val hasDangling = dangling != null && dangling.count() > 0
    val nodes = (if (hasDangling) srcNodes.unionAll(dangling) else srcNodes)
      .localCheckpoint(eager = false)
    val n = nodes.count()
    // fail-fast overflow gate for weighted callers: reads the cached
    // edge blocks (materialized by WorkingSet), costs one tiny
    // aggregate, and stops before any round can hit pr·w overflow
    // (skipped on the empty graph — there is no weight to probe and
    // no round to protect)
    if (n > 0 && weightBound != Long.MaxValue) {
      val maxW = edges.agg(max(col("w"))).head().getLong(0)
      if (maxW > weightBound) {
        // the loop's scope releases the edge set on the way out: a
        // session that catches the rejection and moves on keeps no
        // edge set pinned in storage memory
        throw new IllegalArgumentException(
          s"weighted pagerank: max edge weight $maxW exceeds the Long " +
            s"overflow headroom $weightBound (pr*w with pr up to $Scale); " +
            "rescale the weights — only their ratios affect the ranking")
      }
    }
    RankBase(edges, nodes, dangling, hasDangling, n)
  }

  /** `iters` rounds over a prepared [[RankBase]], from the uniform
    * seed (seed = null) or a caller-supplied prior vector. Returns
    * the FULL (node, pr) vector, eager-checkpointed — valid after
    * the base is released. Requires b.n > 0. */
  private def runRanks(b: RankBase, iters: Int,
      seed: DataFrame): DataFrame = {
    import b.{edges, nodes, dangling, hasDangling, n}
    val base = (Scale * 15 / 100) / n
    // round-0 state: the uniform value, or (warm start) the caller's
    // prior vector with uniform fill for nodes the seed doesn't cover
    // — one node-keyed left join, paid once before round 1, after
    // which the loop is byte-identical to the cold path.
    val init =
      if (seed == null) nodes.withColumn("pr", lit(Scale / n))
      else nodes.join(seed.select(col("node"), col("pr").as("seed_pr")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("seed_pr"), lit(Scale / n)).as("pr"))
    // FULL vector out — presentation slicing (top100) is the public
    // views' concern; the resume path needs every node's rank.
    // The base stays cached until the CALLER's scope closes, so a
    // resume demo can run another batch of rounds over it first.
    Fixpoint.rounds("pagerank", init, iters) { pr =>
      if (hasDangling) roundDangling(edges, pr, base, nodes, dangling, n)
      else round(edges, pr, base, nodes)
    }.select(col("node"), col("pr"))
  }

  /** Weighted PageRank over the trading graph: the edge weight is the
    * number of lineitems the (customer, supplier) pair traded, so a
    * customer's rank flows preferentially to the suppliers it
    * actually buys from rather than splitting evenly — the variant a
    * supplier-importance ranking wants when relationship INTENSITY
    * matters. Weights are integer counts straight out of the pair
    * aggregation (no distinct needed — multiplicity IS the signal),
    * symmetric by construction like [[tradeEdges]], so the graph has
    * no sinks and the plain round applies. */
  def pagerankWeighted(spark: SparkSession, dir: String,
      iters: Int = 5): DataFrame =
    // weights are lineitem counts ≥ 1 and both edge directions exist
    // by construction, so the no-sinks fast path is safe here (the
    // generic API below cannot assume either)
    top100(pagerankLoop(tradeEdgesW(spark, dir), iters, assumeNoSinks = true))

  /** Weighted PageRank over an arbitrary (src, dst, w) edge set —
    * [[pagerankLoop]] with the caller's w column. Zero/negative-
    * weight edges are dropped up front: they carry no rank by
    * definition, and a node whose edges ALL had w ≤ 0 would otherwise
    * divide by wout = 0 (under ANSI mode, an error mid-loop). Because
    * that drop can turn a node with only w ≤ 0 out-edges into a SINK
    * (in-edges survive, out-edges gone), this generic entry point
    * always derives the dangling set — a symmetric all-positive input
    * just finds it empty and takes the plain-round plan; callers on
    * proven inputs (e.g. [[pagerankWeighted]]) go through the loop's
    * fast path directly.
    *
    * HARD PRECONDITION, enforced at construction: max(w) ≤
    * [[MaxEdgeWeight]] (~9.2×10⁶). A node's rank can approach Scale
    * (10¹²), so a larger weight overflows the pr·w product in Long
    * arithmetic — an ANSI error mid-loop, or silent wraparound
    * (wrong ranks) if a caller disabled ANSI. The loop probes
    * max(w) on its ALREADY-CACHED edge frame (one block-read
    * aggregate, after the node-count job materializes the cache —
    * no extra pass over the caller's derivation) and fails before
    * any round runs; rescale weights (only their ratios matter) to
    * get under the bound. */
  def pagerankWeightedOf(edgeList: DataFrame, iters: Int = 5): DataFrame =
    top100(pagerankLoop(
      edgeList.select(col("src"), col("dst"), col("w").cast("long").as("w"))
        .filter(col("w") > 0),
      iters, assumeNoSinks = false, weightBound = MaxEdgeWeight))

  /** Largest edge weight [[pagerankWeightedOf]] accepts:
    * Long.MaxValue / Scale, floored with slack. pr ≤ Scale by mass
    * conservation, so pr·w ≤ Scale·MaxEdgeWeight < 2⁶³. */
  val MaxEdgeWeight: Long = Long.MaxValue / Scale - 1

  /** HITS hubs & authorities (Kleinberg 1999) over the DIRECTED
    * customer→supplier trade graph — the mutually-recursive ranking
    * PageRank doesn't express: a good hub (customer) points at good
    * authorities (suppliers), a good authority is pointed at by good
    * hubs. Micro-unit trajectory with per-round MAX normalization:
    * sums are exact BIGINTs of ≤10⁶ scores (no product can overflow
    * at any node count), and the normalization is ONE double division
    * per entry quantized to micro units — the seasonality discipline;
    * both engines evaluate the identical IEEE expression, and HITS
    * needs a normalizer anyway (the textbook L2 norm is irrational;
    * the round maximum is the standard power-iteration alternative,
    * pinning each side's leader at exactly 10⁶). Each
    * half-round is one vector join + one destination-grouped sum
    * (map-side partials) + a 1-row max broadcast; 2·iters shuffles
    * total, only the score vectors move. Output: top-50 hubs and
    * authorities on the (side, score DESC, node) total order. */
  def hits(spark: SparkSession, dir: String, iters: Int = 5): DataFrame =
    hitsOf(tradePairs(spark, dir).select(custNode.as("c"), suppNode.as("s")),
      iters)

  /** HITS micro fixed point (10⁶): small enough that a per-node sum
    * of scores times any realistic node count stays far under 2⁶³. */
  private[graft] val HitsScale = 1000000L

  /** The HITS loop over ANY directed (c, s) edge frame (spec
    * surface; [[hits]] derives the trade edges inline). */
  private[graft] def hitsOf(edges: DataFrame, iters: Int = 5): DataFrame = {
    // r13: (a) edge layouts cached by c and by s with lazy
    // checkpoints and (b) the same plus a collected scalar max both
    // A/B-measured neutral-to-slower (8.2 s vs 8.7-9.2 s at sf0.1):
    // the extra cache builds cost more than the vector-sized
    // exchanges they save. See OPTIMIZATION_r13.md.
    var h = edges.select(col("c").as("node")).distinct()
      .withColumn("h", lit(HitsScale))
    var a: DataFrame = null
    for (_ <- 1 to iters) {
      // each half-round EAGERLY checkpoints its node-sized vector:
      // the max-normalization references the pre-division sums twice
      // (once per row, once under the broadcast max), so an
      // unmaterialized lineage would double per half-round —
      // exponential replanning by round 5 (the kmeans discipline:
      // materialize the small state, keep the big side cached)
      val ap = edges
        .join(h.select(col("node").as("c"), col("h")).hint("shuffle_hash"),
          Seq("c"))
        .groupBy(col("s")).agg(sum(col("h")).as("ap"))
        .localCheckpoint(true)
      val am = ap.agg(max(col("ap")).as("m"))
      a = ap.crossJoin(broadcast(am))
        .select(col("s").as("node"),
          when(col("m") > 0,
            org.apache.spark.sql.functions.round(lit(1e6) *
              col("ap").cast("double") / col("m").cast("double"), 0)
              .cast("long"))
            .otherwise(lit(0L)).as("a"))
      val hp = edges
        .join(a.select(col("node").as("s"), col("a")).hint("shuffle_hash"),
          Seq("s"))
        .groupBy(col("c")).agg(sum(col("a")).as("hp"))
        .localCheckpoint(true)
      val hm = hp.agg(max(col("hp")).as("m"))
      h = hp.crossJoin(broadcast(hm))
        .select(col("c").as("node"),
          when(col("m") > 0,
            org.apache.spark.sql.functions.round(lit(1e6) *
              col("hp").cast("double") / col("m").cast("double"), 0)
              .cast("long"))
            .otherwise(lit(0L)).as("h"))
    }
    val hubs = h.select(lit("hub").as("side"), col("node"),
      col("h").as("score")).orderBy(col("score").desc, col("node")).limit(50)
    val auths = a.select(lit("auth").as("side"), col("node"),
      col("a").as("score")).orderBy(col("score").desc, col("node")).limit(50)
    hubs.unionByName(auths)
      .orderBy(col("side"), col("score").desc, col("node"))
  }

  /** Generated DuckDB oracle for [[hits]] — the identical unrolled
    * max-normalized integer chain. */
  def hitsOracleSql(iters: Int = 5): String = {
    val rounds = (1 to iters).map { i =>
      s"""ap$i AS MATERIALIZED (SELECT e.s, CAST(sum(h.h) AS BIGINT) AS ap
           FROM edges e JOIN h${i - 1} h ON h.node = e.c GROUP BY e.s),
       am$i AS (SELECT max(ap) AS m FROM ap$i),
       a$i AS MATERIALIZED (SELECT s AS node,
                 CASE WHEN m > 0 THEN CAST(round(1e6 * CAST(ap AS DOUBLE)
                        / CAST(m AS DOUBLE), 0) AS BIGINT)
                      ELSE CAST(0 AS BIGINT) END AS a
               FROM ap$i CROSS JOIN am$i),
       hp$i AS MATERIALIZED (SELECT e.c, CAST(sum(a.a) AS BIGINT) AS hp
           FROM edges e JOIN a$i a ON a.node = e.s GROUP BY e.c),
       hm$i AS (SELECT max(hp) AS m FROM hp$i),
       h$i AS MATERIALIZED (SELECT c AS node,
                 CASE WHEN m > 0 THEN CAST(round(1e6 * CAST(hp AS DOUBLE)
                        / CAST(m AS DOUBLE), 0) AS BIGINT)
                      ELSE CAST(0 AS BIGINT) END AS h
               FROM hp$i CROSS JOIN hm$i)"""
    }.mkString(",\n       ")
    s"""WITH edges AS MATERIALIZED (
        SELECT DISTINCT 'C' || CAST(o_custkey AS VARCHAR) AS c,
               'S' || CAST(l_suppkey AS VARCHAR) AS s
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      h0 AS MATERIALIZED (SELECT DISTINCT c AS node, CAST($HitsScale AS BIGINT) AS h
             FROM edges),
      $rounds
      SELECT * FROM (
        (SELECT 'hub' AS side, node, h AS score FROM h$iters
         ORDER BY score DESC, node LIMIT 50)
        UNION ALL
        (SELECT 'auth' AS side, node, a AS score FROM a$iters
         ORDER BY score DESC, node LIMIT 50))
      ORDER BY side, score DESC, node"""
  }

  /** Strong-tie supplier graph: an edge between two suppliers that
    * co-supplied at least `minOrders` distinct orders. Pair
    * generation is the bounded per-order self-join (pairs per order ≤
    * C(lines, 2), lines-per-order is schema-bounded ~7 — the same
    * bounded-explode argument as the n-gram dedup pair join), and the
    * co-occurrence threshold is what keeps the graph sparse as the
    * corpus grows: raw co-occurrence saturates toward the complete
    * graph (measured: 91% dense at sf0.1), while ≥5 shared orders
    * keeps |E| ≈ 0.05 × C(n,2) there. At 100 TB the threshold is the
    * operator's density knob, exactly like minhash band count. */
  /** All ordered pairs (i < j) from a SORTED array column, emitted as
    * `struct(u, v)` with u < v — the map-side pair kernel shared by
    * edge and wedge generation: C(|xs|, 2) pairs materialize AFTER
    * the per-key shuffle, so the exchange carries one bounded array
    * per key instead of the exploded pair set. */
  private def arrayPairs(xs: Column): Column =
    explode(expr(
      s"""flatten(transform(${xs.toString}, (x, i) ->
         |  transform(slice(${xs.toString}, i + 2, size(${xs.toString})),
         |            y -> struct(x AS u, y AS v))))""".stripMargin))

  // triangles and components both consume the same derived edge set;
  // in a pipeline-shaped run (bench suite pass, a user session) the
  // 2-exchange derivation is paid once — same sharing discipline as
  // dedup's postings pair base. Bound 16, NOT 4: the per-dir working
  // set is ~9 keys (tradepairs, cosupply{2,3,5}, copurchase2,
  // triangles, complabels5, backbone, sssp edges), and an undersized
  // LRU silently re-prices the most expensive member — measured in
  // the r10 suite pass, where the intervening graph queries evicted
  // `complabels5` before graph_modularity's turn and the suite read
  // SLOWER than cold (16.3 s vs 12.9 s); with the family-sized bound
  // the memoized labels survive to every consumer (r11 probe: 5.8 s
  // suite / 6.2 s cold median on a steal-free window). Eviction
  // unpersists, so the memory ceiling stays #entries × one edge
  // frame, and Spark's storage manager evicts blocks under pressure
  // independently.
  private val shared = new graft.core.PlanCache(16)

  /** Weighted strong-tie edges `(u, v, w)` — w = distinct co-supplied
    * orders. The ONE cached derivation every co-supply consumer
    * (triangles, components, kcore, communities) slices from. */
  private[graft] def coSupplyEdgesW(spark: SparkSession, dir: String,
      minOrders: Int = 5): DataFrame =
    shared.getOrBuild(spark, s"$dir#cosupply$minOrders") {
      // THRESHOLD SLICING first: cosupply(t) = cosupply(s).filter(w≥t)
      // for any already-memoized s ≤ t, so a consumer pairing two
      // thresholds (modularity's eval-3/part-5, degree_dist after
      // communities) pays the lineitem scan + pair shuffle ONCE and
      // derives the denser cut with a filter over the cached frame.
      // peek, not getOrBuild: when no cheaper frame exists, nothing
      // is forced into existence on its behalf.
      val sliced = (2 until minOrders).reverseIterator
        .flatMap(s => shared.peek(spark, s"$dir#cosupply$s"))
        .take(1).toSeq.headOption
        .map(_.filter(col("w") >= minOrders))
      sliced.getOrElse(coOrdered(spark, dir, "l_suppkey", minOrders))
    }

  /** Pairs `(u, v, w)` of `key` values co-occurring in w ≥ `minOrders`
    * orders: one shuffle to per-order key sets (collect_set partials
    * are bounded by keys-per-order, a schema constant ~7 — NOT by
    * line volume), pairs exploded map-side after it, one shuffle to
    * pair counts: 2 exchanges where distinct + self-join + groupBy
    * spent 4, and the wide pair set never crosses the wire unkeyed. */
  private def coOrdered(spark: SparkSession, dir: String, key: String,
      minOrders: Int): DataFrame =
    // Tables.spread (r13): when the file layout serializes the scan
    // (1-row-group testdata), pre-exchange by the SAME key the groupBy
    // needs so the set aggregation runs at full width instead of
    // inside the single scan task; a no-op at production scale, where
    // map-side partials stay the win.
    graft.core.Tables.spread(spark, dir, "lineitem",
        Tables(spark, dir).lineitem.select(col("l_orderkey"), col(key)), "l_orderkey")
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col(key))).as("ks"))
      .select(arrayPairs(col("ks")).as("p"))
      .select(col("p.u"), col("p.v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= minOrders)

  /** DuckDB oracle CTEs for [[coOrdered]]: `sl`, then `name` =
    * (u, v, w) with u < v and w ≥ `minOrders` shared orders. */
  private[graft] def coOrderedCtes(name: String, key: String, minOrders: Int,
      materialized: Boolean = false): String =
    s"""sl AS (SELECT DISTINCT l_orderkey, $key FROM lineitem),
         $name AS ${if (materialized) "MATERIALIZED " else ""}(
           SELECT a.$key AS u, b.$key AS v, count(*) AS w
           FROM sl a JOIN sl b ON a.l_orderkey = b.l_orderkey AND a.$key < b.$key
           GROUP BY 1, 2 HAVING count(*) >= $minOrders)"""

  private[graft] def coSupplyEdges(spark: SparkSession, dir: String,
      minOrders: Int = 5): DataFrame =
    coSupplyEdgesW(spark, dir, minOrders).select(col("u"), col("v"))

  /** Per-node triangle counts via degree-ordered wedge closure — the
    * compact-forward algorithm, the one that survives skew at scale:
    * each undirected edge is oriented from its (degree, id)-smaller
    * endpoint, so every wedge is generated at its lowest-ordered
    * vertex exactly once and out-fan-out is bounded by O(√|E|) even
    * at a hub node (a naive u-side self-join fans out quadratically
    * in the hub degree instead). Three shuffles total: degree count,
    * wedge self-join on src, closure semi-match against the
    * canonical id-ordered edge set. Counting is exact — orientation
    * changes WHERE a triangle is found, never whether — so the
    * DuckDB oracle can use plain id-ordering (a < b < c) and
    * hash-match.
    *
    * `edges` must be canonical: columns (u, v) with u < v, one row
    * per undirected edge. */
  def trianglesOf(edges: DataFrame): DataFrame =
    closedWedges(edges)
      .select(explode(array(col("x"), col("n1"), col("n2"))).as("suppkey"))
      .groupBy(col("suppkey")).agg(count(lit(1)).as("n_tri"))
      // presentation order only (the gate re-sorts): per-node output
      // scales with the graph, so a global sort is a pure extra
      // range exchange at 100× — within-partition order suffices
      .sortWithinPartitions(col("suppkey"))

  /** Node degrees (n, deg) of a canonical (u < v) edge list. */
  private def degrees(edges: DataFrame): DataFrame =
    edges.select(col("u").as("n")).unionAll(edges.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))

  /** Every canonical edge with both endpoint degrees (du, dv). */
  private def withDegrees(edges: DataFrame): DataFrame = {
    val deg = degrees(edges)
    edges
      .join(deg.select(col("n").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), "v")
  }

  /** Every triangle of a canonical edge list once, as (x; n1, n2):
    * the wedge at its lowest (degree, id)-ordered vertex x, closed by
    * the edge (n1, n2). */
  private def closedWedges(edges: DataFrame): DataFrame = {
    val srcFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = withDegrees(edges).select(
      when(srcFirst, col("u")).otherwise(col("v")).as("src"),
      when(srcFirst, col("v")).otherwise(col("u")).as("dst"))
    // wedge (x; n1, n2), n1 < n2 BY ID so the unordered pair appears
    // once and the closure key aligns with the canonical edge layout.
    // Same shape as edge generation: one shuffle to per-src neighbor
    // arrays (bounded by the ORIENTED out-degree, which the (deg, id)
    // ordering caps at O(√|E|) even for hubs), pairs map-side after it
    // — not a self-join that re-exchanges the edge set twice
    val wedges = oriented.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("ns"))
      .select(col("src").as("x"), arrayPairs(col("ns")).as("p"))
      .select(col("x"), col("p.u").as("n1"), col("p.v").as("n2"))
    wedges.join(edges,
        wedges("n1") === edges("u") && wedges("n2") === edges("v"))
      .select(col("x"), col("n1"), col("n2"))
  }

  /** Triangle census of the strong-tie supplier graph: how many
    * supplier triples are pairwise strong trading partners, per
    * supplier — the classic clustering/community signal. Memoized
    * like the edge base it consumes: `graph_triangles` and
    * `graph_clustering` both read the census, so a suite-shaped run
    * pays the wedge-closure derivation once (measured 3.4 → ~0.9 s
    * on the clustering query at sf0.1). */
  def supplierTriangles(spark: SparkSession, dir: String): DataFrame =
    shared.getOrBuild(spark, s"$dir#triangles") {
      trianglesOf(coSupplyEdges(spark, dir))
    }

  /** Local clustering coefficient per node of the strong-tie graph —
    * triangles normalized by wedges: cc = 2·tri / (deg·(deg−1)), in
    * exact ppm (truncating integer division, both engines). The
    * per-node companion of [[assortativity]]'s one global scalar:
    * where assortativity says WHO hubs attach to, clustering says
    * whether a node's neighborhood is a clique (dense co-supply
    * block) or a star (a broker) — the two numbers a partitioner and
    * a community pipeline read together. Nodes need deg ≥ 2 to have
    * a wedge; triangle-free nodes report 0, not absence. Shape: the
    * memoized edge base + the triangles census (shared derivation)
    * + one degree aggregate and a left join — output ∝ nodes,
    * within-partition presentation order only. ppm numerator
    * 2·10⁶·tri needs tri < 4.6·10¹² for BIGINT headroom — a node on
    * 4.6 trillion triangles implies a ≥ 3-million-degree hub, far
    * past where the degree-ordered census itself is the binding
    * cost. */
  def clustering(spark: SparkSession, dir: String): DataFrame =
    // consume the MEMOIZED census, not a private re-derivation — the
    // suite pays the wedge closure once across triangles + clustering
    clusteringOf(coSupplyEdges(spark, dir),
      tri = Some(supplierTriangles(spark, dir)))

  /** Core over any canonical (u < v) edge frame; pass `tri` to reuse
    * an already-derived census over the same edges. */
  def clusteringOf(edges: DataFrame,
      tri: Option[DataFrame] = None): DataFrame =
    degrees(edges).filter(col("deg") >= 2)
      .join(tri.getOrElse(trianglesOf(edges))
        .withColumnRenamed("suppkey", "n"), Seq("n"), "left")
      .select(col("n").as("suppkey"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        expr("CAST((2000000 * coalesce(n_tri, 0)) div (deg * (deg - 1)) AS BIGINT)")
          .as("cc_ppm"))
      .sortWithinPartitions("suppkey")

  /** Part co-purchase edges `(u, v)` — part pairs appearing together
    * in ≥ `minOrders` distinct orders: the market-basket graph, the
    * second independently-derived edge set (after co-supply) the
    * generic graph API consumes. Derived by [[coOrdered]] and
    * memoized like its sibling. */
  private[graft] def coPurchaseEdgesW(spark: SparkSession, dir: String,
      minOrders: Int = 2): DataFrame =
    shared.getOrBuild(spark, s"$dir#copurchase$minOrders") {
      coOrdered(spark, dir, "l_partkey", minOrders)
    }

  private[graft] def coPurchaseEdges(spark: SparkSession, dir: String,
      minOrders: Int = 2): DataFrame =
    coPurchaseEdgesW(spark, dir, minOrders).select(col("u"), col("v"))

  /** Link prediction over the part co-purchase graph ("frequently
    * bought together", co-ordered ≥ 2 times): score every
    * NON-adjacent pair with ≥ 1 common neighbor by the three classic
    * neighborhood-overlap indices — common-neighbor count, Jaccard
    * (exact ppm), and resource allocation Σ 1/deg(z) (Zhou et al.
    * 2009; Adamic-Adar's integer-friendly sibling — per-wedge
    * `10⁶ div deg(z)` truncates identically in both engines, so the
    * approximate-looking index sits under the exact gate). Top-`topN`
    * by (jaccard, cn, u, v) — bounded output, so the global sort is a
    * TakeOrdered, not a range exchange. (The co-SUPPLY graph is the
    * wrong substrate for this op: it is a union of per-order supplier
    * cliques, so at gate SFs every wedge pair is already an edge and
    * the candidate set is structurally empty — the basket graph's
    * thresholded edges leave genuine non-adjacent wedges at every SF.)
    *
    * Shape: wedge pairs are generated map-side from per-node sorted
    * neighbor arrays (the [[trianglesOf]] discipline — one shuffle to
    * adjacency, pairs exploded after it), one shuffle to (u, v)
    * scores, an anti-join drops existing edges, two degree joins
    * finish Jaccard. Cost is Σ deg(z)² — inherent to common-neighbor
    * link prediction; at 100 TB the standard mitigation is a degree
    * cap on z (hub wedges carry ~no signal — RA already downweights
    * them by 1/deg), left as an explicit knob upstream rather than a
    * silent default here. */
  def linkPrediction(spark: SparkSession, dir: String,
      topN: Int = 100): DataFrame =
    linkPredictionOf(coPurchaseEdges(spark, dir), topN)

  /** Core over any canonical (u < v, one row per undirected edge)
    * edge frame. */
  def linkPredictionOf(edges: DataFrame, topN: Int = 100): DataFrame = {
    val nbrs = edges.select(col("u").as("n"), col("v").as("m"))
      .unionAll(edges.select(col("v").as("n"), col("u").as("m")))
    val byNode = nbrs.groupBy(col("n"))
      .agg(sort_array(collect_set(col("m"))).as("ns"))
    val wedges = byNode
      .select(size(col("ns")).cast("long").as("dz"), arrayPairs(col("ns")).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"), col("dz"))
    val scored = wedges.groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("cn"),
        sum(expr("CAST(1000000 AS BIGINT) div dz")).as("ra_ppm"))
    val deg = nbrs.groupBy(col("n")).agg(count(lit(1)).as("deg"))
    scored.join(edges, Seq("u", "v"), "left_anti")
      .join(deg.select(col("n").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), "v")
      .select(col("u"), col("v"), col("cn"),
        expr("CAST(1000000 * cn AS BIGINT) div (du + dv - cn)").as("jac_ppm"),
        col("ra_ppm"))
      .orderBy(col("jac_ppm").desc, col("cn").desc, col("u"), col("v"))
      .limit(topN)
  }

  /** Association rules over the part co-purchase baskets — the
    * market-basket classic (Agrawal/Srikant '94 shape, pair rules):
    * for every directed pair (antecedent → consequent) co-ordered ≥
    * `minOrders` times, support (ppm of baskets holding both),
    * confidence (ppm of antecedent baskets that also hold the
    * consequent), and lift (confidence / consequent base rate; > 1 ⇔
    * genuinely associated). Support and confidence are truncating
    * integer ppm — exact in both engines; lift is the one double
    * (w·N and n_a·n_c overflow BIGINT·10⁶ at real basket counts) —
    * same IEEE expression both sides, rounded 6dp.
    *
    * Shape: the MEMOIZED co-purchase pair base (shared with
    * [[linkPrediction]] — a suite run pays the basket scan once),
    * one distinct-(order, part) aggregate for the per-part basket
    * counts, a broadcast 1-row basket total, two keyed joins. Output
    * ∝ qualifying pairs ⇒ within-partition presentation order. */
  def basketRules(spark: SparkSession, dir: String,
      minOrders: Int = 2): DataFrame =
    basketRulesOf(
      Tables(spark, dir).lineitem
        .select(col("l_orderkey").as("basket"), col("l_partkey").as("item"))
        .distinct(),
      coPurchaseEdgesW(spark, dir, minOrders))

  /** Core over any distinct (basket, item) frame plus its qualifying
    * co-occurrence pairs `(u, v, w)` — split so the public op can
    * feed the MEMOIZED pair base while specs plant both sides. */
  def basketRulesOf(sl: DataFrame, ew: DataFrame): DataFrame = {
    val partN = sl.groupBy(col("item").as("p"))
      .agg(count(lit(1)).as("np"))
    val baskets = sl.agg(countDistinct(col("basket")).as("n_baskets"))
    val directed = ew.select(col("u").as("ant"), col("v").as("cons"), col("w"))
      .unionAll(ew.select(col("v").as("ant"), col("u").as("cons"), col("w")))
    directed
      .join(partN.select(col("p").as("ant"), col("np").as("n_ant")), "ant")
      .join(partN.select(col("p").as("cons"), col("np").as("n_cons")), "cons")
      .crossJoin(broadcast(baskets))
      .select(col("ant"), col("cons"), col("w").as("n_both"),
        col("n_ant"), col("n_cons"), col("n_baskets"),
        expr("CAST(1000000 * w AS BIGINT) div n_baskets").as("support_ppm"),
        expr("CAST(1000000 * w AS BIGINT) div n_ant").as("conf_ppm"),
        // functions.round spelled out: Graph.round is the pagerank step
        org.apache.spark.sql.functions.round(
          col("w").cast("double") * col("n_baskets").cast("double")
            / (col("n_ant").cast("double") * col("n_cons").cast("double")), 6)
          .as("lift"))
      .sortWithinPartitions("ant", "cons")
  }

  /** Degree assortativity of the strong-tie supplier graph — do
    * well-connected suppliers trade with each other (r > 0, a core
    * that densifies under growth) or with the periphery (r < 0, a
    * hub-and-spoke graph whose hubs are the skew the salting/AQE
    * machinery exists for)? The one scalar a graph profiler reports
    * before anyone picks a partitioning strategy.
    *
    * Pearson correlation of (deg(u), deg(v)) over both orientations
    * of every edge, computed from exact BIGINT moment sums (counts
    * and degree products — the same moments discipline as
    * profile_corr) with ONE final double expression, identical in
    * both engines. Shape: the triangles degree join (two keyed joins
    * onto the edge set) feeding one ungrouped 1-row aggregate —
    * nothing after the joins grows with the graph. A
    * degree-degenerate graph (all degrees equal) has no variance and
    * reports NULL, not a 0/0. */
  def assortativity(spark: SparkSession, dir: String): DataFrame =
    assortativityOf(coSupplyEdges(spark, dir))

  /** Core over any canonical (u < v, one row per undirected edge)
    * edge frame. */
  def assortativityOf(edges: DataFrame): DataFrame = {
    val sums = withDegrees(edges)
      .agg(count(lit(1)).as("m"),
        sum(col("du") + col("dv")).as("s_deg"),
        sum(col("du") * col("du") + col("dv") * col("dv")).as("s_deg2"),
        sum(col("du") * col("dv") * 2).as("s_degprod"))
    val nD = (col("m") * 2).cast("double")
    val sxD = col("s_deg").cast("double")
    val num = nD * col("s_degprod").cast("double") - sxD * sxD
    val den = nD * col("s_deg2").cast("double") - sxD * sxD
    sums.select((col("m") * 2).as("n"),
      col("s_deg"), col("s_deg2"), col("s_degprod"),
      // functions.round spelled out: Graph.round is the pagerank step
      org.apache.spark.sql.functions.round(
        when(den === 0.0, lit(null)).otherwise(num / den), 6)
        .as("assortativity"))
  }

  /** Connected components of the strong-tie supplier graph — trading
    * communities: suppliers linked (transitively) by ≥ `minOrders`
    * co-supplied orders share a component, labeled by the component's
    * min suppkey. Reuses [[Dedup.components]]' min-label-propagation
    * loop verbatim (Σ-label convergence on
    * [[graft.core.Fixpoint.untilStable]]) on a second,
    * independently-derived edge set — the generic-API path: any
    * (d1, d2) pair frame clusters through the same loop. Nodes with
    * no strong tie have no component (same contract as dedup —
    * singleton handling is the caller's join-back). */
  def supplierComponents(spark: SparkSession, dir: String,
      minOrders: Int = 5): DataFrame =
    Dedup.components(coSupplyEdges(spark, dir, minOrders)
        .select(col("u").as("d1"), col("v").as("d2")))
      .select(col("doc_id").as("suppkey"), col("component"))

  /** Community summary of the strong-tie supplier graph: connected
    * components at the co-supply strength threshold, each labeled
    * community reported with its size, internal edge count, total
    * internal weight (Σ co-supplied orders), and exact integer
    * density (2·E/(n·(n−1)) in ppm) — the weighted-graph consumer
    * that turns the [[Dedup.components]] loop's labels into
    * community analytics.
    *
    * DELIBERATELY threshold-based, not modularity-maximizing:
    * Louvain's greedy node sweeps depend on visit order, so two runs
    * (or two partitionings) of a faithful port can emit different
    * partitions — unverifiable under this engine's exact-hash gate
    * and irreproducible at 100 TB (the t-digest argument, applied to
    * community detection). Threshold communities at a declared edge
    * strength are deterministic, hash-checkable against the
    * recursive-CTE oracle, and the threshold plays the resolution
    * role Louvain's γ does: sweep `minOrders` to walk the community
    * hierarchy. Each level is the [[Dedup.components]] loop; the
    * stats join is one shuffle on the component key, output ∝
    * #communities, never corpus.
    *
    * n_members ≥ 2 always (labels exist only for edge endpoints), so
    * the density division cannot hit zero. */
  def supplierCommunities(spark: SparkSession, dir: String,
      minOrders: Int = 5): DataFrame =
    communityStats(coSupplyEdgesW(spark, dir, minOrders),
      componentLabels(spark, dir, minOrders), Seq("component"))

  /** Memoized component labels per (dir, threshold): the min-label
    * propagation loop is EAGER (jobs per round) and both the
    * community summary and [[modularity]] consume the identical
    * labels — without the memo each caller re-runs the whole loop
    * (measured ~7 s of graph_modularity's 10 s at sf0.1). Same
    * PlanCache the edge builds ride. */
  private def componentLabels(spark: SparkSession, dir: String,
      minOrders: Int): DataFrame =
    shared.getOrBuild(spark, s"$dir#complabels$minOrders") {
      Dedup.components(coSupplyEdgesW(spark, dir, minOrders)
          .select(col("u").as("d1"), col("v").as("d2")))
        .select(col("doc_id").as("node"), col("component"))
    }

  /** Exact DEGREE DISTRIBUTION of the co-supply graph — the
    * first-look profile of any graph (hub-dominated vs flat decides
    * whether skew salting and the compact-forward orientation
    * matter): one row per occurring degree with its node count. No
    * log-bucketing — a float `log2` floor can disagree across
    * engines at exact powers of two, and the distinct-degree set is
    * already ≤ max-degree rows, bounded at any corpus size. Two
    * grouped aggregates, both map-side combinable. */
  def degreeDist(spark: SparkSession, dir: String,
      minOrders: Int = 3): DataFrame =
    coSupplyEdges(spark, dir, minOrders)
      .select(col("u").as("n")).unionAll(
        coSupplyEdges(spark, dir, minOrders).select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("degree"))

  /** Generated DuckDB oracle for [[degreeDist]]. */
  def degreeDistOracleSql(minOrders: Int = 3): String =
    s"""WITH ${coOrderedCtes("e0", "l_suppkey", minOrders)},
       d AS (SELECT n, CAST(count(*) AS BIGINT) AS degree
             FROM (SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0)
             GROUP BY n)
       SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
       FROM d GROUP BY degree ORDER BY degree"""

  /** MODULARITY of the threshold partition — the quality readout
    * that closes the community family's evaluation loop (what
    * ann_eval is to the index family): the τ=`partThreshold`
    * communities scored as a partition of the DENSER
    * τ=`evalThreshold` graph, where cut edges exist and Q is a real
    * number (scoring a partition on its own graph is degenerate —
    * connected components have no cut edges). Newman-Girvan weighted
    * modularity: `Q = Σ_c [ in_c/W − (deg_c/2W)² ]`, with nodes of
    * the eval graph absent from the partition (their strongest edge
    * is below `partThreshold`) treated as singleton communities —
    * the standard convention, and exactly where weak-node mass
    * penalizes Q.
    *
    * Exactness: per community the numerator `4W·in_c − deg_c²` runs
    * in DECIMAL(38,0) (HUGEINT on the oracle side; deg² overflows
    * int64 at realistic strengths), ONE double division to
    * `q_micro`; the `__total__` row (component = −1) sums the
    * per-community micros, the [[graft.operators.Profile.psiOf]]
    * discipline. Shape: both edge sets come from the PlanCache-
    * memoized co-supply base, labels from the [[Dedup.components]]
    * loop; the scoring adds two bounded groupBys on the component
    * key — output ∝ #communities. */
  def modularity(spark: SparkSession, dir: String,
      partThreshold: Int = 5, evalThreshold: Int = 3): DataFrame = {
    require(evalThreshold <= partThreshold,
      s"modularity: eval graph (>= $evalThreshold) must contain the " +
        s"partition graph (>= $partThreshold)")
    val e3 = coSupplyEdgesW(spark, dir, evalThreshold)
    val lab5 = componentLabels(spark, dir, partThreshold)
    val nodes = e3.select(col("u").as("node"))
      .unionAll(e3.select(col("v").as("node"))).distinct()
    // eval-graph nodes outside the partition become singletons; their
    // own id cannot collide with a real label (labels are min ids of
    // partition-graph members, singletons are by definition not such).
    // Cached: el's two endpoint joins each read the full label vector,
    // and an uncached frame would re-run the node distinct + left join
    // per reference (node-bounded, so the cache is small by contract).
    // Memoized through the family PlanCache (not a working set):
    // the LRU evicts-and-unpersists, so a long-lived session calling
    // modularity() repeatedly holds at most one registration per
    // (dir, thresholds) instead of leaking one InMemoryRelation pair
    // per invocation (r13 ADVICE). Key carries both thresholds — any
    // other parameterization is a different frame.
    val labels = shared.getOrBuild(spark,
      s"$dir#mod-labels-$partThreshold-$evalThreshold") {
      nodes.join(lab5, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("component"), col("node")).as("component"))
    }
    // Memoized: THREE consumers scan the labeled edge set (degC's two
    // union branches and inC's same-community filter) — without the
    // cache each one re-executes both endpoint joins and the whole
    // labels subtree, tripling the query (measured: the uncached plan
    // carried ~65 copies of the e3 derivation; ~9 s of the query's
    // 10.5 s median at sf0.1 was this re-execution). Edge-bounded.
    val el = shared.getOrBuild(spark,
      s"$dir#mod-el-$partThreshold-$evalThreshold") {
      e3
        .join(labels.select(col("node").as("u"), col("component").as("cu")),
          Seq("u"))
        .join(labels.select(col("node").as("v"), col("component").as("cv")),
          Seq("v"))
    }
    val tot = e3.agg(sum(col("w")).as("tw"))
    val degC = el.select(col("cu").as("component"), col("w"))
      .unionAll(el.select(col("cv").as("component"), col("w")))
      .groupBy(col("component")).agg(sum(col("w")).as("deg_w"))
    val inC = el.filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("component")).agg(sum(col("w")).as("in_w"))
    val per = degC.join(inC, Seq("component"), "left")
      .select(col("component"),
        coalesce(col("in_w"), lit(0L)).as("in_w"), col("deg_w"))
      .crossJoin(broadcast(tot))
      .select(col("component"), col("in_w"), col("deg_w"),
        org.apache.spark.sql.functions.round(
          ((lit(4L) * col("tw")).cast("decimal(19,0)") *
          col("in_w").cast("decimal(19,0)") -
          col("deg_w").cast("decimal(19,0)") *
            col("deg_w").cast("decimal(19,0)")).cast("double")
          / (lit(4.0) * col("tw").cast("double") * col("tw").cast("double"))
          * 1e6, 0).cast("long").as("q_micro"))
    val total = per.agg(sum(col("in_w")).as("in_w"),
      sum(col("deg_w")).as("deg_w"), sum(col("q_micro")).as("q_micro"))
      .select(lit(-1L).as("component"), col("in_w"), col("deg_w"),
        col("q_micro"))
    per.unionByName(total)
      .select(col("component"), col("in_w"), col("deg_w"), col("q_micro"),
        org.apache.spark.sql.functions.round(
          col("q_micro").cast("double") / 1e6, 6).as("q"))
      .orderBy(col("component"))
  }

  /** Generated DuckDB oracle for [[modularity]] — same co-supply
    * derivations, same recursive-closure labels with the singleton
    * coalesce, same HUGEINT numerator and single division. */
  def modularityOracleSql(partThreshold: Int = 5,
      evalThreshold: Int = 3): String =
    s"""WITH RECURSIVE ${coOrderedCtes("e3", "l_suppkey", evalThreshold)},
       e5 AS (SELECT u, v FROM e3 WHERE w >= $partThreshold),
       edges AS (SELECT u AS a, v AS b FROM e5 UNION SELECT v, u FROM e5),
       reach(a, b) AS (
         SELECT a, b FROM edges
         UNION
         SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       comp AS (SELECT a AS node, least(a, min(b)) AS component
                FROM reach GROUP BY a),
       -- explicit DISTINCT, not bare UNION: inside a WITH RECURSIVE
       -- block DuckDB 1.0 skips the UNION's dedup for non-recursive
       -- CTEs (harmless for `edges` — the closure is insensitive to
       -- duplicate edges — but fatal for a node set feeding joins)
       nodes3 AS (SELECT DISTINCT node FROM
                    (SELECT u AS node FROM e3
                     UNION ALL SELECT v FROM e3)),
       lab AS (SELECT n.node, coalesce(c.component, n.node) AS component
               FROM nodes3 n LEFT JOIN comp c ON c.node = n.node),
       el AS (SELECT e3.u, e3.v, e3.w, lu.component AS cu, lv.component AS cv
              FROM e3 JOIN lab lu ON lu.node = e3.u
                      JOIN lab lv ON lv.node = e3.v),
       t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM e3),
       degc AS (SELECT component, CAST(sum(w) AS BIGINT) AS deg_w
                FROM (SELECT cu AS component, w FROM el
                      UNION ALL SELECT cv, w FROM el)
                GROUP BY 1),
       inc AS (SELECT cu AS component, CAST(sum(w) AS BIGINT) AS in_w
               FROM el WHERE cu = cv GROUP BY 1),
       per AS (SELECT d.component, coalesce(i.in_w, 0) AS in_w, d.deg_w,
                      CAST(round(CAST(CAST(4 * t.tw AS HUGEINT)
                          * coalesce(i.in_w, 0)
                          - CAST(d.deg_w AS HUGEINT) * d.deg_w AS DOUBLE)
                        / (4.0 * t.tw * t.tw) * 1e6, 0) AS BIGINT) AS q_micro
               FROM degc d LEFT JOIN inc i ON i.component = d.component
               CROSS JOIN t)
       SELECT component, in_w, deg_w, q_micro,
              round(CAST(q_micro AS DOUBLE) / 1e6, 6) AS q
       FROM per
       UNION ALL
       SELECT -1, CAST(sum(in_w) AS BIGINT), CAST(sum(deg_w) AS BIGINT),
              CAST(sum(q_micro) AS BIGINT),
              round(CAST(sum(q_micro) AS DOUBLE) / 1e6, 6)
       FROM per
       ORDER BY component"""

  /** Size / edges / weight / exact ppm density per community, keyed
    * by `keys`: the component, plus the sweep's level. */
  private def communityStats(ew: DataFrame, labels: DataFrame,
      keys: Seq[String]): DataFrame = {
    // every edge is internal to exactly one community (both endpoints
    // share a label by construction), so one endpoint join suffices.
    // Member and edge contributions union into ONE groupBy(keys)
    // — a (nodeStats ⋈ edgeStats) formulation would run two grouping
    // shuffles plus a join exchange for the same three sums
    val on = keys.filter(_ != "component").map(k => ew(k) === labels(k))
      .foldLeft(ew("u") === labels("node"))(_ && _)
    val memberRows = labels.select(keys.map(labels(_)) ++
      Seq(lit(1L).as("m"), lit(0L).as("e"), lit(0L).as("iw")): _*)
    val edgeRows = ew.join(labels, on).select(keys.map(labels(_)) ++
      Seq(lit(0L).as("m"), lit(1L).as("e"), col("w").as("iw")): _*)
    memberRows.unionAll(edgeRows)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("m")).as("n_members"), sum(col("e")).as("n_edges"),
        sum(col("iw")).as("internal_weight"))
      .withColumn("density_ppm",
        expr("CAST((2000000 * n_edges) div (n_members * (n_members - 1)) AS BIGINT)"))
      .sortWithinPartitions(keys.map(col): _*)
  }

  /** The community HIERARCHY in one query: [[supplierCommunities]] at
    * several strength thresholds from ONE materialized co-supply
    * derivation — the operator's own resolution story
    * ([[supplierCommunities]]' doc sells `minOrders` as the γ knob)
    * made concrete. Two sharing levers, not one:
    *
    *  - The 2-exchange pair aggregation over the fact table is the
    *    PlanCache-memoized base at the LOOSEST threshold; each level
    *    is a weight filter over it, so the corpus scan is paid once.
    *  - All levels ride ONE label-propagation loop: (level, node) is
    *    encoded into a single BIGINT key (`level · 2⁴⁴ + node`), the
    *    per-level edge sets union into one DISJOINT graph, and
    *    [[Dedup.components]] runs once over it. Levels never share an
    *    edge, so per-level min-label semantics are untouched (the
    *    encode is order-preserving within a level — every id carries
    *    the same offset — so the decoded label is exactly the level's
    *    min reachable node id), but a k-level sweep now pays
    *    max(diameter) rounds of one loop instead of Σ diameters
    *    over k loops — at any corpus size, loop
    *    rounds are driver-side latency that level-count should not
    *    multiply. Headroom is enforced fail-fast on the cached base
    *    (max node id < 2⁴⁴ — the [[MaxEdgeWeight]] probe discipline:
    *    one block-read aggregate, no extra derivation pass).
    *
    * Output rows carry their `min_orders` level; levels whose
    * threshold exceeds every pair weight are naturally empty (at
    * small SFs the levels may coincide — the hierarchy only separates
    * once the corpus gives pair weights any spread, as at sf0.1:
    * 47k → 5.7k → 103 edges for 5/7/10). */
  def supplierCommunitySweep(spark: SparkSession, dir: String,
      thresholds: Seq[Int] = Seq(5, 7, 10)): DataFrame = {
    val base = coSupplyEdgesW(spark, dir, thresholds.min)
    val maxIdRow = base.agg(max(greatest(col("u"), col("v")))).head()
    val maxId = if (maxIdRow.isNullAt(0)) 0L else maxIdRow.getLong(0)
    require(maxId >= 0 && maxId < NodeSpan,
      s"sweep node id $maxId exceeds the 2^44 encode headroom — " +
        "remap node ids (only identity within a level matters)")
    // per-level edge sets, level-tagged; referenced twice (encode →
    // propagation, and the stats join) but both are cheap filters
    // over the cached base
    val lvl = thresholds.sorted.map { t =>
      base.filter(col("w") >= t)
        .select(lit(t.toLong).as("lv"), col("u"), col("v"), col("w"))
    }.reduce(_.unionAll(_))
    val labels = Dedup.components(lvl.select(
        (col("lv") * NodeSpan + col("u")).as("d1"),
        (col("lv") * NodeSpan + col("v")).as("d2")))
      .select(expr(s"doc_id div $NodeSpan").as("lv"),
        (col("doc_id") % NodeSpan).as("node"),
        (col("component") % NodeSpan).as("component"))
    // the single-threshold stats with the level in the grouping key:
    // still one grouping shuffle for the whole hierarchy
    communityStats(lvl, labels, Seq("lv", "component"))
      .withColumn("lv", col("lv").cast("int"))
      .withColumnRenamed("lv", "min_orders")
  }

  /** Node-id headroom of the sweep's (level, node) BIGINT encoding:
    * level · 2⁴⁴ + node stays under 2⁶³ for levels up to ~500k. */
  val NodeSpan: Long = 1L << 44

  /** Generated DuckDB oracle for [[supplierCommunitySweep]]: the
    * single-threshold recursive-closure oracle replayed per level
    * over the SAME materialized base edge set, unioned with its
    * `min_orders` tag. */
  def communitySweepOracleSql(thresholds: Seq[Int] = Seq(5, 7, 10)): String = {
    val baseT = thresholds.min
    val levels = thresholds.sorted.map { t =>
      s"""e$t AS (SELECT u, v, w FROM e0 WHERE w >= $t),
         ed$t AS (SELECT u AS a, v AS b FROM e$t
                  UNION SELECT v, u FROM e$t),
         reach$t(a, b) AS (
           SELECT a, b FROM ed$t
           UNION
           SELECT r.a, e.b FROM reach$t r JOIN ed$t e ON r.b = e.a),
         comp$t AS (
           SELECT a AS node, least(a, min(b)) AS component
           FROM reach$t GROUP BY a),
         ns$t AS (SELECT component, count(*) AS n_members
                  FROM comp$t GROUP BY 1),
         es$t AS (SELECT c.component, count(*) AS n_edges,
                         CAST(sum(e$t.w) AS BIGINT) AS internal_weight
                  FROM e$t JOIN comp$t c ON e$t.u = c.node GROUP BY 1),
         out$t AS (SELECT $t AS min_orders, ns$t.component,
                          ns$t.n_members, es$t.n_edges,
                          es$t.internal_weight,
                          CAST((2000000 * es$t.n_edges)
                               // (ns$t.n_members * (ns$t.n_members - 1))
                            AS BIGINT) AS density_ppm
                   FROM ns$t JOIN es$t
                     ON ns$t.component = es$t.component)"""
    }.mkString(",\n         ")
    val union = thresholds.sorted.map(t => s"SELECT * FROM out$t")
      .mkString(" UNION ALL ")
    s"""WITH RECURSIVE ${coOrderedCtes("e0", "l_suppkey", baseT, materialized = true)},
         $levels
         SELECT * FROM ($union)
         ORDER BY min_orders, component"""
  }

  /** k-core of the customer–supplier trading graph: iteratively peel
    * every node with (current) degree < k until the remaining
    * subgraph is stable — the standard dense-nucleus extraction
    * (spam rings, engaged-user cores, robust seed sets).
    *
    * Peeling is INCREMENTAL, which is what scales: each round
    * derives the (typically tiny) set of nodes falling below k and
    * anti-joins the symmetric edge list against it on both
    * endpoints — AQE size-gates those anti-joins down to broadcasts
    * as the peel set shrinks, and the untouched majority of the
    * edge set never re-shuffles (a recompute-the-induced-subgraph
    * formulation would semi-join the FULL edge set twice per round).
    * One degree aggregate (map-side partials) + one emptiness check
    * per round ([[graft.core.Fixpoint.untilEmpty]]). Synchronous-
    * removal semantics match the unrolled-CTE DuckDB oracle round
    * for round, and extra rounds
    * after stability are idempotent — so the driver-side early exit
    * can never diverge from the oracle's fixed unroll. */
  def kcore(spark: SparkSession, dir: String, k: Int = 8,
      maxRounds: Int = 4): DataFrame = {
    // the trading edge set = the memoized pagerank pair base's keys —
    // a batch running any pagerank variant and kcore pays the
    // dominant lineitem⋈orders shuffle once
    kcoreOf(tradePairs(spark, dir)
      .select(custNode.as("a"), suppNode.as("b")), k, maxRounds)
  }

  /** k-core over an arbitrary undirected (a, b) edge list. The
    * unweighted peel IS the weighted one with w ≡ 1 (sum(w) ≡ count —
    * one loop discipline to maintain, the pagerankLoop argument);
    * output keeps the historical (node, deg) shape. */
  def kcoreOf(undirected: DataFrame, k: Int, maxRounds: Int): DataFrame =
    kcoreWeightedOf(undirected.withColumn("w", lit(1L)), k, maxRounds)
      .select(col("node"), col("deg"))

  /** WEIGHTED k-core (an s-core, in the literature's terms): peel
    * every node whose STRENGTH — the sum of its incident edge
    * weights — is below `k`, until stable. The natural sequel to
    * weighted pagerank: where the unweighted core asks "how many
    * strong partners", the weighted core asks "how much total trade
    * volume", so a node with few but heavy relationships survives a
    * cut that degree-based peeling would drop it from. Same
    * incremental-peel plan as the unweighted loop (one map-side
    * strength aggregate + anti-joins against the typically-tiny peel
    * set per round; AQE broadcasts the peel set as it shrinks), same
    * synchronous-removal semantics as the unrolled-CTE oracle, and
    * extra rounds after stability are idempotent. Output: (node,
    * deg, strength) of the surviving subgraph. */
  def kcoreWeightedOf(undirected: DataFrame, k: Long,
      maxRounds: Int): DataFrame = {
    // symmetric edge list: strength(n) = Σw over rows with src = n
    // a capped run is no error: the oracle unrolls the same rounds
    val live = Fixpoint.untilEmpty("kcore",
        bothWays(undirected, col("a"), col("b")).repartition(col("src")), maxRounds)(
      _.groupBy(col("src")).agg(sum(col("w")).as("d"))
        .filter(col("d") < k).select(col("src").as("n"))) { (live, bad) =>
      live
        .join(bad, col("src") === col("n"), "left_anti")
        .join(bad.withColumnRenamed("n", "m"), col("dst") === col("m"), "left_anti")
    }.state
    live.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"), sum(col("w")).as("strength"))
      .sortWithinPartitions("node")
  }

  /** Weighted k-core of the trading graph: strength = total lineitems
    * the node traded across its surviving partners. Shares the
    * memoized pair base with both pageranks and the unweighted core. */
  def kcoreWeighted(spark: SparkSession, dir: String, k: Long = 48,
      maxRounds: Int = 4): DataFrame =
    kcoreWeightedOf(tradePairs(spark, dir)
      .select(custNode.as("a"), suppNode.as("b"), col("w")), k, maxRounds)

  /** Generated DuckDB oracle for [[kcoreWeighted]]: the [[kcore]]
    * peel with strength = sum(w) in place of the degree. */
  def kcoreWeightedOracleSql(k: Long = 48, rounds: Int = 4): String =
    kcorePeelSql(k, rounds, weighted = true)

  /** Generated DuckDB oracle for [[kcore]]: the same synchronous
    * peel unrolled as chained CTEs (rounds past stability are
    * idempotent, so a fixed unroll matches the early-exiting loop). */
  def kcoreOracleSql(k: Int = 8, rounds: Int = 4): String =
    kcorePeelSql(k, rounds, weighted = false)

  private def kcorePeelSql(k: Long, rounds: Int, weighted: Boolean): String = {
    // every CTE is AS MATERIALIZED: each round references the
    // previous round's node set twice (the a- and b-side IN filters),
    // and DuckDB's default CTE INLINING re-expands the whole chain —
    // including the base lineitem⋈orders dedup — exponentially in the
    // round count; at sf0.1 the inlined plan spilled > 80 GB of temp
    // before exhausting disk. Materialization makes the chain linear
    // (one hash table per round), same results.
    val d = if (weighted) "sum(w)" else "count(*)"
    val steps = (1 to rounds).map { r =>
      s"""l$r AS MATERIALIZED (SELECT a, b, w FROM ed
             WHERE a IN (SELECT n FROM n${r - 1})
               AND b IN (SELECT n FROM n${r - 1})),
         d$r AS MATERIALIZED (SELECT n, $d AS d
             FROM (SELECT a AS n, w FROM l$r UNION ALL SELECT b, w FROM l$r)
             GROUP BY n),
         n$r AS MATERIALIZED (SELECT n FROM d$r WHERE d >= $k)"""
    }.mkString(",\n         ")
    val strength = if (weighted) ",\n                CAST(sum(w) AS BIGINT) AS strength" else ""
    s"""WITH ed AS MATERIALIZED (SELECT
             'C' || CAST(o_custkey AS VARCHAR) AS a,
             'S' || CAST(l_suppkey AS VARCHAR) AS b,
             count(*) AS w
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           GROUP BY 1, 2),
         n0 AS MATERIALIZED (SELECT a AS n FROM ed UNION SELECT b FROM ed),
         $steps,
         lf AS MATERIALIZED (SELECT a, b, w FROM ed
                WHERE a IN (SELECT n FROM n$rounds)
                  AND b IN (SELECT n FROM n$rounds))
         SELECT n AS node, CAST(count(*) AS BIGINT) AS deg$strength
         FROM (SELECT a AS n, w FROM lf UNION ALL SELECT b AS n, w FROM lf)
         GROUP BY n ORDER BY node"""
  }

  /** Full k-core DECOMPOSITION — each node's coreness (the largest k
    * for which the node survives the k-core peel) — via the h-index
    * fixed point: start every node at its degree and repeatedly set
    * c(v) ← min(c(v), H{c(u) : u ∈ N(v)}), where H is the h-index
    * (the largest h with ≥ h neighbors valued ≥ h). The iteration
    * converges to exact coreness from the degree start (the
    * distributed k-core decomposition result), which is what scales:
    * where the peel is inherently sequential in k, the h-operator is
    * a pure per-round function of each node's neighbor multiset —
    * order-invariant, partition-invariant, hash-gateable.
    *
    * Round shape (the part designed for 100 TB): neighbor values
    * collapse FIRST through a map-side-combinable groupBy to
    * (node, value, count) — the shuffle carries one row per distinct
    * neighbor value, not one per edge, so a 10⁶-degree hub ships at
    * most its distinct-value profile — then the h-index reads off
    * the collapsed rows with one cumulative-count window:
    * h = max over distinct values v of min(v, #neighbors ≥ v).
    * No per-node arrays, no unbounded collect. Convergence = Σc
    * holding still ([[graft.core.Fixpoint.untilStable]]), and
    * rounds past convergence are idempotent, so the early exit can
    * never diverge from the oracle's fixed unroll.
    *
    * `maxRounds` is a safety budget, not a tuning knob: values before
    * convergence are valid UPPER bounds on coreness that later rounds
    * only tighten, so a capped run is a monotone over-estimate (the
    * exit log line says which happened; the trading graph converges in
    * ≤ 6 rounds at every test SF, with budget 8 for headroom). The
    * oracle matches either way —
    * both engines walk the identical trajectory.
    *
    * No warm-start overload, deliberately: the h-operator converges
    * from any UPPER bound on coreness, and after an edge-additive
    * delta yesterday's coreness is a LOWER bound (new edges only
    * raise it) — the only always-valid seed is the new degree, which
    * IS the cold start. Unlike pagerank/components/sssp/kmeans,
    * resuming here would be unsound, not just unimplemented.
    *
    * `edgeList` must be SYMMETRIC (both directions present), one row
    * per directed edge, no self-loops — the [[tradeEdges]] shape. */
  def corenessOf(edgeList: DataFrame,
      maxRounds: Int = 8): DataFrame = WorkingSet.scope {
    val edges = WorkingSet(edgeList.select(col("src"), col("dst"))
      .repartition(col("src")))
    // c₀ = degree: rides the edge partitioning, no extra exchange
    val c0 = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("c"))
    // values only decrease, so Σc holding still means every c is
    // unchanged; a capped run is a valid upper bound (see above)
    val c = Fixpoint.untilStable("coreness", c0, "c", maxRounds) { c =>
      // neighbor values, collapsed map-side before the shuffle
      val nb = edges
        .join(c.hint("shuffle_hash"), col("src") === col("node"))
        .groupBy(col("dst"), col("c")).agg(count(lit(1)).as("cnt"))
      // h-index over the collapsed profile: cumulative neighbor count
      // down the sorted distinct values (ties impossible — grouped).
      // The textbook update is c ← min(c, H(neighbors)), but the min
      // is provably redundant from the degree start: H ≤ degree = c₀,
      // and H is monotone in its inputs, so unrolling gives
      // c_t = min(c₀, H₀, …, H_{t−1}) = H_{t−1} — each round's
      // h-frame IS the next state. Dropping the min drops a whole
      // per-round state join (and the oracle does the same, so the
      // trajectories stay bit-identical).
      nb.withColumn("cum", sum(col("cnt")).over(
          Window.partitionBy(col("dst")).orderBy(col("c").desc)))
        .groupBy(col("dst"))
        .agg(max(least(col("c"), col("cum"))).as("c"))
        .withColumnRenamed("dst", "node")
    }.state
    c.select(col("node"), col("c").as("coreness"))
      .sortWithinPartitions("node")
  }

  /** The `graph_coreness` query: coreness of every node in the
    * trading graph — the whole k-core hierarchy in one result where
    * [[kcore]] answers a single threshold. Shares the memoized pair
    * base with the pageranks and both cores. */
  def coreness(spark: SparkSession, dir: String,
      maxRounds: Int = 8): DataFrame =
    corenessOf(tradeEdges(spark, dir), maxRounds)

  /** Generated DuckDB oracle for [[coreness]]: the same h-index
    * rounds unrolled as chained CTEs — the collapsed-profile
    * formulation verbatim (groupBy counts, one cumulative window,
    * max(least(value, cum))), integer-exact on both engines. A
    * Spark early exit cannot diverge: both engines walk the same
    * trajectory and post-convergence rounds are idempotent. */
  def corenessOracleSql(rounds: Int = 8): String = {
    val steps = (1 to rounds).map { r =>
      s"""nb$r AS MATERIALIZED (SELECT e.b AS node, p.c AS c,
                count(*) AS cnt
              FROM ed e JOIN c${r - 1} p ON e.a = p.node
              GROUP BY 1, 2),
         c$r AS MATERIALIZED (SELECT node, max(least(c, cum)) AS c
              FROM (SELECT node, c,
                      sum(cnt) OVER (PARTITION BY node
                                     ORDER BY c DESC) AS cum
                    FROM nb$r)
              GROUP BY node)"""
    }.mkString(",\n         ")
    s"""WITH pairs AS (SELECT DISTINCT
             'C' || CAST(o_custkey AS VARCHAR) AS c,
             'S' || CAST(l_suppkey AS VARCHAR) AS s
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         ed AS MATERIALIZED (SELECT c AS a, s AS b FROM pairs
                UNION ALL SELECT s, c FROM pairs),
         c0 AS MATERIALIZED (SELECT a AS node, count(*) AS c
                FROM ed GROUP BY a),
         $steps
         SELECT node, CAST(c AS BIGINT) AS coreness
         FROM c$rounds ORDER BY node"""
  }

  /** Encode unit of the SSSP distance: a path's (hops, cost) pair
    * packs into one BIGINT as `hops · 2⁴⁴ + cost`, so the loop's
    * single `min` aggregate IS the lexicographic minimum — fewest
    * hops first, cheapest total edge weight among those. Valid while
    * every reachable path's cost stays under 2⁴⁴, which [[ssspOf]]
    * enforces fail-fast from max(w) · rounds (same probe discipline
    * as [[MaxEdgeWeight]] and the sweep's [[NodeSpan]] guard). */
  val HopSpan: Long = 1L << 44

  /** Hop-bounded single-source shortest paths over an arbitrary
    * DIRECTED (src, dst, w) edge set — the min-plus relaxation
    * (Bellman-Ford's round form), which is the formulation that
    * scales: each round is ONE shuffle (relaxed candidates grouped by
    * node, map-side partial `min`) plus a SHUFFLE_HASH join of the
    * distance vector against the src-partitioned cached edge set, so
    * the edge set is exchanged once for the whole loop. After
    * `rounds` rounds the result is exact over all paths of ≤ `rounds`
    * edges: dist is monotone under relaxation and `min` is
    * merge-order-invariant, so the output is partition-invariant and
    * hash-gateable, and rounds past the graph's diameter are
    * idempotent.
    *
    * `state` is the decoded frontier (node, hops, cost) — the
    * round-0 distances. A cold run passes its sources at (0, 0); a
    * WARM run passes a prior invocation's output verbatim, and
    * because relaxation is monotone from any over-estimate of the
    * final distances, resuming after an edge-additive delta lands on
    * the same fixed point the cold rerun converges to (the
    * [[Dedup.components]] seeding argument, applied to min-plus).
    * Chained resumes must keep TOTAL hops · max(w) under [[HopSpan]];
    * the per-call probe enforces the single-call bound and the
    * resume contract documents the rest.
    *
    * Output: (node, hops, cost) for every node reachable within the
    * round budget — hops = fewest edges from a source, cost =
    * cheapest Σw among fewest-hop paths. Integer weights only; w < 0
    * is rejected (it would borrow from the hop unit and break the
    * lexicographic encode), w = 0 is fine. */
  def ssspOf(edgeList: DataFrame, state: DataFrame,
      rounds: Int = 4): DataFrame = WorkingSet.scope {
    val edges = WorkingSet(edgeList
      .select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .repartition(col("src")))
    // one block-read aggregate probes both weight bounds before any
    // round can corrupt the encode
    val wRow = edges.agg(min(col("w")), max(col("w"))).head()
    if (!wRow.isNullAt(0)) {
      require(wRow.getLong(0) >= 0,
        s"sssp: negative edge weight ${wRow.getLong(0)} would break " +
          "the (hops, cost) lexicographic encode — shift weights to ≥ 0")
      require(wRow.getLong(1) <= (HopSpan - 1) / math.max(rounds, 1),
        s"sssp: max edge weight ${wRow.getLong(1)} × $rounds rounds " +
          s"exceeds the 2^44 cost headroom — rescale the weights")
    }
    val dist = Fixpoint.rounds("sssp",
        state.select(col("node"), (col("hops") * HopSpan + col("cost")).as("dist")),
        rounds) { dist =>
      // relax: every edge proposes source-dist + (1 hop, w); the
      // standing distances ride the same shuffle as zero-delta rows
      edges
        .join(dist.hint("shuffle_hash"), col("src") === col("node"))
        .select(col("dst").as("node"),
          (col("dist") + lit(HopSpan) + col("w")).as("dist"))
        .unionAll(dist)
        .groupBy(col("node"))
        .agg(min(col("dist")).as("dist"))
    }
    dist.select(col("node"),
        expr(s"dist div $HopSpan").as("hops"),
        expr(s"dist % $HopSpan").as("cost"))
      .sortWithinPartitions("node")
  }

  /** The `graph_sssp` query: supply-chain proximity from the
    * lowest-numbered supplier in the strong-tie co-supply graph
    * ([[coSupplyEdgesW]], same memoized base as triangles/communities
    * — a session running any of them pays the pair derivation once).
    * Edge length = the pair's co-supplied-order count w, so `cost`
    * reads as the total relationship volume along the closest chain;
    * `hops` is the plain BFS distance the lexicographic encode puts
    * first. Source choice (min node id) is corpus-deterministic. */
  def sssp(spark: SparkSession, dir: String, minOrders: Int = 5,
      rounds: Int = 4): DataFrame = {
    val ew = coSupplyEdgesW(spark, dir, minOrders)
    val sym = bothWays(ew, col("u"), col("v"))
    // min over the canonical u < v pairs is the global min node; the
    // aggregate reads the PlanCache-memoized (Spark-cached) pair base,
    // not the corpus. Empty graph (possible at tiny SFs / tight
    // thresholds) → empty result, typed like the loop's output.
    val srcRow = ew.agg(min(col("u"))).head()
    if (srcRow.isNullAt(0))
      return spark.range(0).select(col("id").as("node"),
        col("id").as("hops"), col("id").as("cost"))
    val s = srcRow.getLong(0)
    ssspOf(sym,
      spark.range(1).select(lit(s).as("node"),
        lit(0L).as("hops"), lit(0L).as("cost")),
      rounds)
  }

  /** Generated DuckDB oracle for [[sssp]]: the same min-plus rounds
    * unrolled as chained CTEs over the same encoded BIGINT distance —
    * integer-exact on both engines, so the chain hash-matches. */
  def ssspOracleSql(minOrders: Int = 5, rounds: Int = 4): String = {
    val steps = (1 to rounds).map { r =>
      s"""d$r AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
             SELECT node, dist FROM d${r - 1}
             UNION ALL
             SELECT e.b, p.dist + $HopSpan + e.w
             FROM d${r - 1} p JOIN ed e ON p.node = e.a)
           GROUP BY node)"""
    }.mkString(",\n         ")
    s"""WITH ${coOrderedCtes("e0", "l_suppkey", minOrders, materialized = true)},
         ed AS MATERIALIZED (SELECT u AS a, v AS b, w FROM e0
                UNION ALL SELECT v, u, w FROM e0),
         -- empty-graph-safe source row: no aggregate-over-empty NULL
         d0 AS MATERIALIZED (SELECT DISTINCT u AS node,
                       CAST(0 AS BIGINT) AS dist
                FROM e0 WHERE u = (SELECT min(u) FROM e0)),
         $steps
         SELECT CAST(node AS BIGINT) AS node,
                CAST(dist // $HopSpan AS BIGINT) AS hops,
                CAST(dist % $HopSpan AS BIGINT) AS cost
         FROM d$rounds ORDER BY node"""
  }

  // --- backbone extraction + k-truss ---------------------------------

  /** Mutual neighbors kept per node in the backbone. */
  val BackboneM = 6

  /** k-truss tightness (support ≥ k−2 triangles per edge). */
  val TrussK = 3

  /** Truss peel round cap — the sf-range graphs converge in ≤ 2
    * rounds (extra unrolled rounds are idempotent, the kcore
    * argument). */
  val TrussRounds = 4

  /** GRAPH BACKBONE: the mutual-top-m sparsification of the weighted
    * co-supply graph — keep edge (u,v) iff v is among u's m
    * strongest partners AND u among v's (w desc, id tie-break). The
    * standard density-independent backbone a visualization/community
    * pipeline extracts before anything quadratic-in-degree runs: the
    * raw co-supply graph saturates toward complete (91% dense at
    * sf0.1), the backbone is ≤ m·|V|/2 edges at ANY corpus size.
    * Per-node ranking rides the bounded-heap [[graft.functions.TopKScoreAgg]]
    * (state ≤ m per node — never a window over the corpus-scaled
    * edge set); mutuality is one self-equi-join of the m·|V|-bounded
    * keep list. Memoized: [[ktruss]] consumes it. */
  def backbone(spark: SparkSession, dir: String): DataFrame =
    shared.getOrBuild(spark, s"$dir#backbone$BackboneM") {
      backboneOf(coSupplyEdgesW(spark, dir), BackboneM)
    }

  /** The mutual-top-m filter over ANY canonical weighted edge list
    * (u < v, one row per undirected edge; spec surface). */
  def backboneOf(edgesW: DataFrame, m: Int): DataFrame = {
    val sym = bothWays(edgesW, col("u"), col("v"))
    val kept = sym.groupBy(col("src"))
      .agg(graft.functions.TopKScoreAgg.topk(
        col("w").cast("double"), col("dst"), m).as("top"))
      .select(col("src"), explode(col("top")).as("e"))
      .select(col("src"), col("e.id").as("dst"))
    val rev = kept.select(col("dst").as("src"), col("src").as("dst"))
    kept.join(rev, Seq("src", "dst"))
      .filter(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))
      .join(edgesW, Seq("u", "v"))
      .sortWithinPartitions("u", "v")
  }

  /** Per-edge triangle support of a canonical (u < v) edge list —
    * the same degree-ordered compact-forward wedge closure as
    * [[trianglesOf]] (hub out-fan-out bounded O(√|E|)), but each
    * found triangle credits its THREE edges instead of its three
    * nodes. */
  private def trussSupport(edges: DataFrame): DataFrame =
    closedWedges(edges).select(explode(array(
        struct(least(col("x"), col("n1")).as("u"),
          greatest(col("x"), col("n1")).as("v")),
        struct(least(col("x"), col("n2")).as("u"),
          greatest(col("x"), col("n2")).as("v")),
        struct(col("n1").as("u"), col("n2").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("sup"))

  /** K-TRUSS of the backbone: iteratively peel every edge in fewer
    * than k−2 triangles until stable — the edge-level cohesion
    * sequel to [[kcore]]'s node-level peel (a k-truss is the
    * strongest standard cohesive-subgraph notion short of cliques).
    * Each round is one support census (the [[trianglesOf]] wedge
    * plan) + an anti-join of the peel set; the loop early-exits on
    * stability, and the unrolled-CTE oracle's extra rounds are
    * idempotent (the kcore contract). Output: surviving edges with
    * their support ON THE FINAL subgraph. */
  def ktruss(spark: SparkSession, dir: String): DataFrame =
    ktrussOf(backbone(spark, dir).select(col("u"), col("v")),
      TrussK, TrussRounds)

  /** The peel loop over ANY canonical (u < v) edge list (spec
    * surface). */
  def ktrussOf(edges: DataFrame, k: Int, maxRounds: Int): DataFrame = {
    require(k >= 3, s"ktruss: k must be >= 3, got $k")
    val minSup = k - 2
    // a capped run is no error: the oracle unrolls the same rounds
    val live = Fixpoint.untilEmpty("ktruss",
        edges.select(col("u"), col("v")).repartition(col("u")), maxRounds)(
      live => live
        .join(trussSupport(live), Seq("u", "v"), "left")
        .filter(coalesce(col("sup"), lit(0L)) < minSup)
        .select(col("u").as("bu"), col("v").as("bv"))) { (live, bad) =>
      live.join(bad, col("u") === col("bu") && col("v") === col("bv"), "left_anti")
    }.state
    live.join(trussSupport(live), Seq("u", "v"), "left")
      .select(col("u"), col("v"),
        coalesce(col("sup"), lit(0L)).as("support"))
      .sortWithinPartitions("u", "v")
  }

  /** Shared backbone CTE prefix (ends at `mut` = the mutual-top-m
    * edge set) — one SQL statement of truth for the backbone and
    * truss oracles. */
  private def backboneCtes(m: Int): String =
    s"""${coOrderedCtes("ed", "l_suppkey", 5, materialized = true)},
         sym AS (SELECT u AS src, v AS dst, w FROM ed
                 UNION ALL SELECT v, u, w FROM ed),
         rk AS (SELECT src, dst,
                       row_number() OVER (PARTITION BY src
                         ORDER BY w DESC, dst) AS rn
                FROM sym),
         kept AS MATERIALIZED (SELECT src, dst FROM rk WHERE rn <= $m),
         mut AS MATERIALIZED (
           SELECT a.src AS u, a.dst AS v FROM kept a
           JOIN kept b ON b.src = a.dst AND b.dst = a.src
           WHERE a.src < a.dst)"""

  /** Generated DuckDB oracle for [[backbone]]: same co-supply edge
    * CTE as the triangle family, same (w desc, id) rank rule. */
  def backboneOracleSql(m: Int = BackboneM): String =
    s"""WITH ${backboneCtes(m)}
         SELECT mut.u, mut.v, CAST(ed.w AS BIGINT) AS w
         FROM mut JOIN ed ON ed.u = mut.u AND ed.v = mut.v
         ORDER BY mut.u, mut.v"""

  /** Generated DuckDB oracle for [[ktruss]]: the synchronous peel
    * unrolled as chained MATERIALIZED CTEs (rounds past stability
    * idempotent), final support recomputed on the surviving
    * subgraph. */
  def ktrussOracleSql(m: Int = BackboneM, k: Int = TrussK,
      rounds: Int = TrussRounds): String = {
    def supCte(src: String, tag: String): String =
      s"""t$tag AS MATERIALIZED (
             SELECT e1.u AS a, e1.v AS b, e2.v AS c
             FROM $src e1 JOIN $src e2 ON e2.u = e1.u AND e2.v > e1.v
             JOIN $src e3 ON e3.u = e1.v AND e3.v = e2.v),
         s$tag AS MATERIALIZED (
             SELECT u, v, count(*) AS sup FROM (
               SELECT a AS u, b AS v FROM t$tag
               UNION ALL SELECT a, c FROM t$tag
               UNION ALL SELECT b, c FROM t$tag) GROUP BY 1, 2)"""
    val steps = (1 to rounds).map { r =>
      s"""${supCte(s"e${r - 1}", s"$r")},
         e$r AS MATERIALIZED (
             SELECT e.u, e.v FROM e${r - 1} e
             JOIN s$r s ON s.u = e.u AND s.v = e.v
             WHERE s.sup >= ${k - 2})"""
    }.mkString(",\n         ")
    s"""WITH ${backboneCtes(m)},
         e0 AS MATERIALIZED (SELECT u, v FROM mut),
         $steps,
         ${supCte(s"e$rounds", "f")}
         SELECT e.u, e.v,
                CAST(coalesce(s.sup, 0) AS BIGINT) AS support
         FROM e$rounds e LEFT JOIN sf s ON s.u = e.u AND s.v = e.v
         ORDER BY e.u, e.v"""
  }

  /** This object's queries, each with its DuckDB oracle (see [[graft.core.Query]]). */
  lazy val queries: Seq[Query] = Seq(
    Query("graph_pagerank", (s, d) => pagerank(s, d), pagerankSql),
    Query("graph_pagerank_weighted", (s, d) => pagerankWeighted(s, d), pagerankWeightedSql),
    Query("graph_hits", (s, d) => hits(s, d), hitsOracleSql()),
    // SAME oracle text as graph_pagerank: 3 cold rounds + a 2-round
    // warm resume from the full round-3 vector must be bit-identical
    // to 5 straight rounds — the hash match IS the resume proof
    Query("graph_pagerank_resume", (s, d) => pagerankResume(s, d), pagerankSql),
    // id-ordered 3-way self-join: orientation in the Spark plan only
    // changes where each triangle is FOUND, never the per-node census
    Query("graph_triangles", supplierTriangles,
      s"""WITH ${coOrderedCtes("e", "l_suppkey", 5)},
         t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
               FROM e e1 JOIN e e2 ON e1.v = e2.u
               JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         n AS (SELECT a AS suppkey FROM t UNION ALL
               SELECT b FROM t UNION ALL SELECT c FROM t)
         SELECT suppkey, count(*) AS n_tri FROM n
         GROUP BY suppkey ORDER BY suppkey"""),
    // same co-supply edges + degree join, exact BIGINT moment sums
    // (DuckDB's HUGEINT sums cast back), and the identical one-shot
    // double Pearson expression — NULL on a variance-free graph
    Query("graph_assortativity", assortativity,
      s"""WITH ${coOrderedCtes("e", "l_suppkey", 5)},
         d AS (SELECT n, CAST(count(*) AS BIGINT) AS deg
               FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
               GROUP BY n),
         j AS (SELECT du.deg AS du, dv.deg AS dv
               FROM e JOIN d du ON du.n = e.u JOIN d dv ON dv.n = e.v),
         s AS (SELECT CAST(count(*) AS BIGINT) AS m,
                      CAST(sum(du + dv) AS BIGINT) AS s_deg,
                      CAST(sum(du * du + dv * dv) AS BIGINT) AS s_deg2,
                      CAST(sum(du * dv * 2) AS BIGINT) AS s_degprod
               FROM j)
         SELECT m * 2 AS n, s_deg, s_deg2, s_degprod,
                round(CASE WHEN CAST(m * 2 AS DOUBLE) * CAST(s_deg2 AS DOUBLE)
                                - CAST(s_deg AS DOUBLE) * CAST(s_deg AS DOUBLE) = 0
                           THEN NULL
                           ELSE (CAST(m * 2 AS DOUBLE) * CAST(s_degprod AS DOUBLE)
                                 - CAST(s_deg AS DOUBLE) * CAST(s_deg AS DOUBLE))
                                / (CAST(m * 2 AS DOUBLE) * CAST(s_deg2 AS DOUBLE)
                                   - CAST(s_deg AS DOUBLE) * CAST(s_deg AS DOUBLE)) END,
                      6) AS assortativity
         FROM s"""),
    // triangles census + degrees, wedge-normalized in exact ppm;
    // deg >= 2 rows only, triangle-free nodes report 0
    Query("graph_clustering", clustering,
      s"""WITH ${coOrderedCtes("e", "l_suppkey", 5)},
         t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
               FROM e e1 JOIN e e2 ON e1.v = e2.u
               JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         n AS (SELECT a AS suppkey FROM t UNION ALL
               SELECT b FROM t UNION ALL SELECT c FROM t),
         tri AS (SELECT suppkey, CAST(count(*) AS BIGINT) AS n_tri
                 FROM n GROUP BY suppkey),
         d AS (SELECT nn, CAST(count(*) AS BIGINT) AS deg
               FROM (SELECT u AS nn FROM e UNION ALL SELECT v FROM e)
               GROUP BY nn)
         SELECT d.nn AS suppkey, d.deg,
                coalesce(tri.n_tri, 0) AS n_tri,
                CAST((2000000 * coalesce(tri.n_tri, 0))
                     // (d.deg * (d.deg - 1)) AS BIGINT) AS cc_ppm
         FROM d LEFT JOIN tri ON tri.suppkey = d.nn
         WHERE d.deg >= 2 ORDER BY suppkey"""),
    // part co-purchase edges (co-ordered >= 2); wedge pairs from the
    // id-ordered neighbor self-join (≡ the Spark side's sorted-array
    // pair generation), per-wedge truncating 10^6 // deg(z) for
    // resource allocation, anti-join drops existing edges, top-100
    // by (jaccard, cn, u, v)
    Query("graph_linkpred", (s, d) => linkPrediction(s, d),
      s"""WITH ${coOrderedCtes("e", "l_partkey", 2)},
         nb AS (SELECT u AS n, v AS m FROM e UNION ALL SELECT v, u FROM e),
         d AS (SELECT n, CAST(count(*) AS BIGINT) AS deg FROM nb GROUP BY n),
         w AS (SELECT a.m AS u, b.m AS v, a.n AS z
               FROM nb a JOIN nb b ON a.n = b.n AND a.m < b.m),
         s AS (SELECT w.u, w.v, CAST(count(*) AS BIGINT) AS cn,
                      CAST(sum(1000000 // d.deg) AS BIGINT) AS ra_ppm
               FROM w JOIN d ON d.n = w.z GROUP BY 1, 2),
         c AS (SELECT s.* FROM s LEFT JOIN e
                 ON e.u = s.u AND e.v = s.v WHERE e.u IS NULL)
         SELECT c.u, c.v, c.cn,
                CAST(1000000 * c.cn // (du.deg + dv.deg - c.cn) AS BIGINT)
                  AS jac_ppm,
                c.ra_ppm
         FROM c JOIN d du ON du.n = c.u JOIN d dv ON dv.n = c.v
         ORDER BY jac_ppm DESC, cn DESC, u, v LIMIT 100"""),
    // same thresholded co-purchase pairs; truncating integer ppm for
    // support/confidence, one rounded double for lift
    Query("basket_rules", (s, d) => basketRules(s, d),
      s"""WITH ${coOrderedCtes("e", "l_partkey", 2)},
         pc AS (SELECT l_partkey AS p, CAST(count(*) AS BIGINT) AS np
                FROM sl GROUP BY 1),
         nb AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n
                FROM lineitem),
         d AS (SELECT u AS ant, v AS cons, w FROM e
               UNION ALL SELECT v, u, w FROM e)
         SELECT d.ant, d.cons, d.w AS n_both, pa.np AS n_ant,
                pb.np AS n_cons, nb.n AS n_baskets,
                CAST(1000000 * d.w // nb.n AS BIGINT) AS support_ppm,
                CAST(1000000 * d.w // pa.np AS BIGINT) AS conf_ppm,
                round(CAST(d.w AS DOUBLE) * CAST(nb.n AS DOUBLE)
                      / (CAST(pa.np AS DOUBLE) * CAST(pb.np AS DOUBLE)), 6)
                  AS lift
         FROM d JOIN pc pa ON pa.p = d.ant
                JOIN pc pb ON pb.p = d.cons CROSS JOIN nb
         ORDER BY ant, cons"""),
    // same co-supply edge derivation as graph_triangles, then a
    // recursive-CTE transitive closure labels each supplier with the
    // min reachable suppkey — the oracle for the generic min-label
    // propagation loop on its second input (reach is bounded by
    // |component|² rows, fine at the gate SF)
    Query("graph_components", (s, d) => supplierComponents(s, d),
      s"""WITH RECURSIVE ${coOrderedCtes("e0", "l_suppkey", 5)},
         edges AS (SELECT u AS a, v AS b FROM e0
                   UNION SELECT v, u FROM e0),
         reach(a, b) AS (
           SELECT a, b FROM edges
           UNION
           SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         comp AS (
           SELECT a AS suppkey, least(a, min(b)) AS component
           FROM reach GROUP BY a)
         SELECT suppkey, component FROM comp ORDER BY suppkey"""),
    Query("graph_communities", (s, d) => supplierCommunities(s, d),
      s"""WITH RECURSIVE ${coOrderedCtes("e0", "l_suppkey", 5)},
         edges AS (SELECT u AS a, v AS b FROM e0
                   UNION SELECT v, u FROM e0),
         reach(a, b) AS (
           SELECT a, b FROM edges
           UNION
           SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         comp AS (
           SELECT a AS node, least(a, min(b)) AS component
           FROM reach GROUP BY a),
         ns AS (SELECT component, count(*) AS n_members
                FROM comp GROUP BY 1),
         es AS (SELECT c.component, count(*) AS n_edges,
                       CAST(sum(e0.w) AS BIGINT) AS internal_weight
                FROM e0 JOIN comp c ON e0.u = c.node GROUP BY 1)
         SELECT ns.component, ns.n_members, es.n_edges,
                es.internal_weight,
                CAST((2000000 * es.n_edges)
                     // (ns.n_members * (ns.n_members - 1)) AS BIGINT)
                  AS density_ppm
         FROM ns JOIN es ON ns.component = es.component
         ORDER BY ns.component"""),
    // the same closure replayed per threshold level over one
    // materialized base edge set (generated, so sweep and oracle
    // share the threshold list by construction)
    Query("graph_communities_sweep", (s, d) => supplierCommunitySweep(s, d),
      communitySweepOracleSql()),
    // same transitive closure as graph_components, weights kept into
    // the per-community aggregate; integer density in ppm
    // the τ=5 partition scored on the τ=3 graph — HUGEINT numerator
    // mirrors the Spark DECIMAL(38,0), singleton coalesce identical
    Query("graph_modularity", (s, d) => modularity(s, d), modularityOracleSql()),
    Query("graph_degree_dist", (s, d) => degreeDist(s, d), degreeDistOracleSql()),
    // the SQL twin is gated against the VERBATIM same oracle text
    Query("graph_degree_dist_sql", (s, d) => Tables.runSql(s, d, DegreeDistSparkSql),
      degreeDistOracleSql()),
    Query("graph_sssp", (s, d) => sssp(s, d), ssspOracleSql()),
    // mutual-top-m sparsification: same co-supply CTE as the triangle
    // family, (w desc, id) rank rule on both sides
    Query("graph_backbone", backbone, backboneOracleSql()),
    // synchronous support peel unrolled (extra rounds idempotent);
    // final support recomputed on the surviving subgraph
    Query("graph_ktruss", ktruss, ktrussOracleSql()),
    Query("graph_coreness", (s, d) => coreness(s, d), corenessOracleSql()),
    // generated unrolled synchronous peel (idempotent past stability)
    Query("graph_kcore", (s, d) => kcore(s, d), kcoreOracleSql()),
    Query("graph_kcore_weighted", (s, d) => kcoreWeighted(s, d), kcoreWeightedOracleSql()),
  )

  /** graph_pagerank oracle: the fixed-point integer formulation makes
    * every iteration pure SQL — unrolled here as chained CTEs (one
    * per round), since the arithmetic is integer-exact on both
    * engines (`div`/`//` truncation on non-negative values). */
  private lazy val pagerankSql: String = pagerankOracle(weighted = false)

  /** graph_pagerank_weighted oracle: per-edge (pr · w) // wout —
    * truncation applied per edge BEFORE the sum in both engines, so
    * the chain stays hash-exact. The unweighted chain is this one at
    * w ≡ 1, where wout is the out-degree. */
  private lazy val pagerankWeightedSql: String = pagerankOracle(weighted = true)

  private def pagerankOracle(weighted: Boolean): String = {
    val iters = 5
    val chain = (1 to iters).map { i =>
      s"""pr$i AS (SELECT d.node, d.wout,
             (${Scale} * 15 // 100) // c.n
               + (${Damping} * sum((p.pr * e.w) // p.wout)) // 100 AS pr
           FROM pr${i - 1} p JOIN edges e ON p.node = e.src
             JOIN deg d ON e.dst = d.node
             CROSS JOIN const c
           GROUP BY d.node, d.wout, c.n)"""
    }.mkString(",\n         ")
    s"""WITH pairs AS (SELECT
             'C' || CAST(o_custkey AS VARCHAR) AS c,
             'S' || CAST(l_suppkey AS VARCHAR) AS s,
             ${if (weighted) "count(*)" else "1"} AS w
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           GROUP BY 1, 2),
         edges AS (SELECT c AS src, s AS dst, w FROM pairs
                   UNION ALL SELECT s AS src, c AS dst, w FROM pairs),
         deg AS (SELECT src AS node, sum(w) AS wout FROM edges GROUP BY src),
         const AS (SELECT count(*) AS n FROM deg),
         pr0 AS (SELECT node, wout, ${Scale} // n AS pr
                 FROM deg CROSS JOIN const),
         $chain
         SELECT node, CAST(pr AS BIGINT) AS pr FROM pr$iters
         ORDER BY pr DESC, node LIMIT 100"""
  }

  /** [[degreeDist]] in plain SQL — the
    * graph-family entry of the SQL-only tier: the co-supply edge
    * base (DISTINCT (order, supplier) pairs self-joined, ≥ 3 shared
    * orders) and the two grouped aggregates, verbatim the algebra of
    * the DataFrame twin and hash-gated against its IDENTICAL oracle.
    * (The DataFrame twin additionally reuses the PlanCache-memoized
    * edge base across the graph family — a library optimization the
    * SQL surface doesn't need for correctness.) */
  private val DegreeDistSparkSql =
    """WITH sl AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
         e0 AS (SELECT a.l_suppkey AS u, b.l_suppkey AS v
                FROM sl a JOIN sl b ON a.l_orderkey = b.l_orderkey
                 AND a.l_suppkey < b.l_suppkey
                GROUP BY a.l_suppkey, b.l_suppkey HAVING count(*) >= 3),
         d AS (SELECT n, count(*) AS degree
               FROM (SELECT u AS n FROM e0
                     UNION ALL SELECT v AS n FROM e0) t
               GROUP BY n)
       SELECT degree, count(*) AS n_nodes
       FROM d GROUP BY degree ORDER BY degree"""
}
