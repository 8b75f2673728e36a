package graft

import org.apache.spark.sql.functions._

import graft.operators.{Events, Graph, Profile}

/** PageRank (fixed-point), gap-fill, and the column profiler. */
class GraphProfileSpec extends SparkSpecBase {

  test("pagerank: rank mass is conserved up to integer truncation") {
    // every div truncates, so total mass can only leak DOWNWARD, and
    // by < 1 unit per node per round; with 5 rounds and the damping
    // re-injection the total must sit just below SCALE
    val deg = Graph.pagerank(spark, Sf)
    val ranks = deg.select(col("pr")).collect().map(_.getLong(0))
    assert(ranks.length == 100)
    assert(ranks.forall(_ > 0))
    // top-100 of a ~1100-node graph: the head must carry a visible
    // multiple of the uniform share SCALE/n
    assert(ranks.max > Graph.Scale / 1200 * 3, s"max=${ranks.max}")
  }

  test("pagerank: suppliers out-rank customers (degree asymmetry)") {
    // 100 suppliers trade with ~1000 customers: supplier in-degree is
    // ~10x customer in-degree, so the whole top of the ranking must
    // be supplier nodes
    val top = Graph.pagerank(spark, Sf).limit(10)
      .select(col("node")).collect().map(_.getString(0))
    assert(top.forall(_.startsWith("S")), top.mkString(","))
  }

  test("pagerank: bit-identical across partitioning (integer fixed-point)") {
    val a = Graph.pagerank(spark, Sf).collect().map(r => (r.getString(0), r.getLong(1)))
    val sp2 = spark.newSession()
    sp2.conf.set("spark.sql.shuffle.partitions", "7")
    val b = Graph.pagerank(sp2, Sf).collect().map(r => (r.getString(0), r.getLong(1)))
    assert(a.toSeq == b.toSeq)
  }

  test("pagerank: closed forms on crafted graphs (cycle uniform, star head-heavy)") {
    import spark.implicits._
    // symmetric 4-cycle: perfect symmetry => identical ranks
    val cycle = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"),
      ("b", "a"), ("c", "b"), ("d", "c"), ("a", "d"))
      .toDF("src", "dst")
    val cycleRanks = Graph.pagerankOf(cycle).collect().map(_.getLong(1)).toSet
    assert(cycleRanks.size == 1, s"cycle ranks not uniform: $cycleRanks")
    // undirected star (hub h, 4 leaves): the hub receives every
    // leaf's full rank each round, leaves split the hub's — hub must
    // dominate, leaves tie
    val star = Seq("l1", "l2", "l3", "l4")
      .flatMap(l => Seq(("h", l), (l, "h"))).toDF("src", "dst")
    val ranks = Graph.pagerankOf(star).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(ranks("h") > 2 * ranks("l1"), s"hub not dominant: $ranks")
    assert(Seq("l1", "l2", "l3", "l4").map(ranks).toSet.size == 1,
      s"leaves not tied: $ranks")
  }

  test("weighted pagerank: uniform weights reproduce the unweighted ranks exactly") {
    import spark.implicits._
    // w = 1 everywhere makes (pr·w) div wout ≡ pr div outdeg term for
    // term, so the weighted loop must be bit-identical to the plain
    // one on the same graph — the strongest oracle-independent check
    // of the weighted formula's wiring
    val star = Seq("l1", "l2", "l3", "l4")
      .flatMap(l => Seq(("h", l), (l, "h"))).toDF("src", "dst")
    val plain = Graph.pagerankOf(star).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val weighted = Graph.pagerankWeightedOf(star.withColumn("w", lit(1L)))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(plain == weighted, s"plain=$plain weighted=$weighted")
  }

  test("weighted pagerank: rank follows edge weight, not edge count") {
    import spark.implicits._
    // hub h splits rank 9:1 between b and c; both backlink with equal
    // weight. Unweighted PageRank sees an identical topology for b and
    // c — only the weights break the tie, so b must out-rank c.
    val g = Seq(("h", "b", 9L), ("h", "c", 1L),
      ("b", "h", 1L), ("c", "h", 1L)).toDF("src", "dst", "w")
    val ranks = Graph.pagerankWeightedOf(g).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(ranks("b") > ranks("c"), s"weight ignored: $ranks")
    val u = Graph.pagerankOf(g.drop("w")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(u("b") == u("c"), s"unweighted must tie b/c: $u")
  }

  test("weighted pagerank: over-bound weights fail fast and release the edge cache") {
    import spark.implicits._
    val g = Seq(("a", "b", Graph.MaxEdgeWeight + 1), ("b", "a", 1L))
      .toDF("src", "dst", "w")
    // The weight probe materializes the loop's cached edge frame
    // before rejecting; the rejection path must release it, not pin
    // it in the CacheManager for the session's lifetime. Starting
    // from an empty CacheManager, nothing may be cached afterwards.
    spark.catalog.clearCache()
    val ex = intercept[IllegalArgumentException] {
      Graph.pagerankWeightedOf(g)
    }
    assert(ex.getMessage.contains("rescale"), ex.getMessage)
    assert(spark.sharedState.cacheManager.isEmpty,
      "rejected weighted pagerank left a frame cached")
  }

  test("weighted pagerank: a node sunk by the w<=0 filter keeps its mass via the dangling term") {
    import spark.implicits._
    // (a→b, w=1) survives; (b→a, w=0) is dropped — b becomes a SINK
    // with live in-edges. The generic API must count b as a node
    // (n=2, not 1) and return b's held mass through the dangling
    // term rather than silently losing it.
    val g = Seq(("a", "b", 1L), ("b", "a", 0L)).toDF("src", "dst", "w")
    val ranks = Graph.pagerankWeightedOf(g).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(ranks.keySet == Set("a", "b"), s"node lost: $ranks")
    // b receives a's full contribution every round; a only base +
    // its dangling share — b must dominate, and total mass must stay
    // within integer-truncation leakage of SCALE
    assert(ranks("b") > ranks("a"), s"expected b > a: $ranks")
    val total = ranks.values.sum
    assert(total > Graph.Scale * 97 / 100 && total <= Graph.Scale,
      s"mass not conserved: $total vs ${Graph.Scale}")
  }

  test("weighted pagerank: bit-identical across partitioning (integer fixed-point)") {
    val a = Graph.pagerankWeighted(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val sp2 = spark.newSession()
    sp2.conf.set("spark.sql.shuffle.partitions", "7")
    val b = Graph.pagerankWeighted(sp2, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(a.toSeq == b.toSeq)
  }

  test("pagerank: source-only nodes keep base rank and keep contributing") {
    import spark.implicits._
    // s has out-edges but NO in-edges: before the zero-seed union it
    // fell out of the rank vector after round 1 and its contributions
    // vanished from rounds 2+
    val g = Seq(("s", "a"), ("a", "b"), ("b", "a")).toDF("src", "dst")
    val ranks = Graph.pagerankOf(g).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val base = (Graph.Scale * 15 / 100) / 3
    assert(ranks.contains("s"), s"source-only node dropped: $ranks")
    assert(ranks("s") == base, s"s receives nothing => exactly base: $ranks")
    // a receives s's base-rank contribution every round, b only a's —
    // if s's mass vanished after round 1 the a/b asymmetry would decay
    assert(ranks("a") > ranks("b"), s"expected a > b: $ranks")
  }

  test("pagerank: sink-only nodes redistribute dangling mass (exact mirror)") {
    import spark.implicits._
    // c is a pure sink (in-edges, no out-edges): without the dangling
    // term its rank is trapped and every other node decays to base.
    // The fixed-point arithmetic is mirrored exactly in plain Longs —
    // same truncating `div` order — so the distributed loop must
    // match the scalar reference bit for bit.
    val g = Seq(("a", "c"), ("b", "c"), ("a", "b")).toDF("src", "dst")
    val got = Graph.pagerankOf(g).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val n = 3L
    val base = (Graph.Scale * 15 / 100) / n
    var pr = Map("a" -> Graph.Scale / n, "b" -> Graph.Scale / n,
      "c" -> Graph.Scale / n)
    for (_ <- 1 to 5) {
      val dangShare = pr("c") / n // c is the only dangling node
      val contrib = Map( // a: outdeg 2, b: outdeg 1
        "b" -> pr("a") / 2,
        "c" -> (pr("a") / 2 + pr("b")))
      pr = pr.keys.map(k => k ->
        (base + (Graph.Damping * (contrib.getOrElse(k, 0L) + dangShare)) / 100))
        .toMap
    }
    assert(got == pr, s"distributed $got != scalar mirror $pr")
    // the redistribution is visible: a has NO in-edges, so anything
    // above base can only be returned dangling mass
    assert(got("a") > base, s"a saw no dangling mass: $got")
    // and mass stays ≈ conserved (truncation only loses ulps)
    val total = got.values.sum
    assert(total > Graph.Scale * 97 / 100 && total <= Graph.Scale,
      s"mass not conserved: $total vs ${Graph.Scale}")
  }

  test("triangles: closed forms (K4, path, star, K4-plus-pendant)") {
    import spark.implicits._
    def tri(pairs: Seq[(Long, Long)]) =
      Graph.trianglesOf(pairs.toDF("u", "v")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // K4: 4 triangles, every node on 3 of them
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(tri(k4) == Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)))
    // path and star: triangle-free
    assert(tri(Seq((1L, 2L), (2L, 3L), (3L, 4L))).isEmpty)
    assert(tri(Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))).isEmpty)
    // K4 with a pendant hanging off node 4: pendant is in no
    // triangle and must not appear; K4 counts unchanged
    assert(tri(k4 :+ (4L, 9L)) ==
      Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)))
  }

  test("assortativity: closed forms (star −1, cycle NULL, barbell mixes)") {
    import spark.implicits._
    def r(pairs: Seq[(Long, Long)]) =
      Graph.assortativityOf(pairs.toDF("u", "v")).head()
    // star K1,3: every edge joins the deg-3 hub to a deg-1 leaf —
    // perfectly disassortative, r = −1 exactly
    val star = r(Seq((1L, 2L), (1L, 3L), (1L, 4L)))
    assert(star.getLong(0) == 6L, "n = both orientations of 3 edges")
    assert(star.getDouble(4) == -1.0, s"star must be exactly −1, got $star")
    // 4-cycle: all degrees equal → zero degree variance → NULL, not 0/0
    val cyc = r(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)))
    assert(cyc.isNullAt(4), s"degree-degenerate graph must report NULL: $cyc")
    // two triangles joined by a bridge: bridge ends have deg 3, others
    // deg 2 — mixed but not extremal: −1 < r < 0 for this shape
    val barbell = r(Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)))
    assert(barbell.getDouble(4) > -1.0 && barbell.getDouble(4) < 0.0,
      s"barbell should be mildly disassortative, got $barbell")
    // moment sums are exact integers: star has s_deg = 3·(3+1) = 12,
    // s_deg2 = 3·(9+1) = 30, s_degprod = 3·2·3 = 18
    assert((star.getLong(1), star.getLong(2), star.getLong(3)) ==
      ((12L, 30L, 18L)))
  }

  test("clustering coefficient: closed forms (K4 clique, path broker, pendant)") {
    import spark.implicits._
    def cc(pairs: Seq[(Long, Long)]) =
      Graph.clusteringOf(pairs.toDF("u", "v")).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
    // K4: every node deg 3, 3 triangles ⇒ cc = 2·3/(3·2) = exactly 1
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(cc(k4).values.toSet == Set((3L, 3L, 1000000L)))
    // path a-b-c: broker b has deg 2, no triangle → cc 0 (a row, not
    // an absence); deg-1 endpoints have no wedge and no row
    assert(cc(Seq((1L, 2L), (2L, 3L))) == Map(2L -> ((2L, 0L, 0L))))
    // K4 + pendant on node 4: node 4's wedge count grows (deg 4) but
    // its triangles don't ⇒ cc drops to 6/12 = 500000 ppm exactly
    val got = cc(k4 :+ (4L, 9L))
    assert(got(4L) == ((4L, 3L, 500000L)))
    assert(got(1L) == ((3L, 3L, 1000000L)))
    assert(!got.contains(9L), "pendant has deg 1 — no wedge, no row")
  }

  test("link prediction: closed forms (path, star, square), edges excluded, order deterministic") {
    import spark.implicits._
    def lp(pairs: Seq[(Long, Long)]) =
      Graph.linkPredictionOf(pairs.toDF("u", "v")).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4))))
    // path a-b-c: one candidate (a, c) via broker b (deg 2):
    // cn 1, jaccard 10^6·1/(1+1−1), ra 10^6 div 2
    assert(lp(Seq((1L, 2L), (2L, 3L))).toMap ==
      Map((1L, 3L) -> ((1L, 1000000L, 500000L))))
    // star: 3 leaves through a deg-3 hub — every leaf pair scores
    // cn 1, jaccard 10^6, ra 10^6 div 3 (truncating)
    val star = lp(Seq((0L, 1L), (0L, 2L), (0L, 3L)))
    assert(star.length == 3)
    star.foreach { case (_, s) => assert(s == ((1L, 1000000L, 333333L))) }
    // square 1-2-4-3-1: both diagonals see TWO deg-2 common
    // neighbors: cn 2, jaccard 10^6·2/(2+2−2), ra 2·(10^6 div 2);
    // the 4 edges themselves must not appear
    val sq = lp(Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)))
    assert(sq.toMap == Map(
      (1L, 4L) -> ((2L, 1000000L, 1000000L)),
      (2L, 3L) -> ((2L, 1000000L, 1000000L))))
    // determinism: ties broken by (u, v) — collect order is stable
    assert(sq.map(_._1).toSeq == Seq((1L, 4L), (2L, 3L)))
  }

  test("co-supply edge derivation is memoized across its consumers") {
    // triangles, components, kcore, and communities all slice the
    // weighted base; in one process the 2-exchange derivation must
    // build once (PlanCache) — reference equality is the memo's
    // contract, and the cached frame is what makes the suite-pass
    // pipeline shape cheap
    val e1 = Graph.coSupplyEdgesW(spark, Sf)
    val e2 = Graph.coSupplyEdgesW(spark, Sf)
    assert(e1 eq e2, "coSupplyEdgesW must return the memoized frame")
    // a different threshold is a different edge set — distinct key
    assert(!(Graph.coSupplyEdgesW(spark, Sf, minOrders = 7) eq e1))
    // the unweighted view is a narrow projection OF that cached frame
    // (drops a column, recomputes nothing): its plan's child is the
    // memoized base, so the base's storage blocks back both consumers
    val uv = Graph.coSupplyEdges(spark, Sf)
    assert(uv.queryExecution.analyzed.children.head
      .sameResult(e1.queryExecution.analyzed),
      "coSupplyEdges must project the memoized weighted base")
  }

  test("components: edge endpoints co-labeled, labels are group minima") {
    // supplierComponents = the generic Dedup.components loop on the
    // co-supply edge set; on the real graph assert the two invariants
    // that define a correct min-labeling (the loop's convergence and
    // closed forms are covered in DedupSpec on crafted pair sets)
    val comp = Graph.supplierComponents(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.nonEmpty, "strong-tie graph should be non-empty at test SF")
    val edges = graft.operators.Graph.coSupplyEdges(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    edges.foreach { case (u, v) =>
      assert(comp(u) == comp(v), s"edge ($u,$v) split across components")
    }
    comp.groupBy(_._2).foreach { case (label, members) =>
      assert(members.keys.min == label,
        s"component $label not labeled by its min member")
    }
  }

  test("triangles: count invariant under partitioning and matches the id-ordered formula") {
    // the sf graph through the real operator vs the naive id-ordered
    // 3-way join — orientation must not change the census
    // sortBy: the census contract is within-partition presentation
    // order only (and the memoized cached frame's collect order is
    // layout-dependent); the VALUES are the invariant
    val got = Graph.supplierTriangles(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
    val e = graft.operators.Graph.coSupplyEdges(spark, Sf)
    e.createOrReplaceTempView("tri_e")
    val naive = spark.sql(
      """SELECT suppkey, count(*) AS n_tri FROM (
           SELECT e1.u AS suppkey FROM tri_e e1
             JOIN tri_e e2 ON e1.v = e2.u
             JOIN tri_e e3 ON e3.u = e1.u AND e3.v = e2.v
           UNION ALL
           SELECT e1.v FROM tri_e e1
             JOIN tri_e e2 ON e1.v = e2.u
             JOIN tri_e e3 ON e3.u = e1.u AND e3.v = e2.v
           UNION ALL
           SELECT e2.v FROM tri_e e1
             JOIN tri_e e2 ON e1.v = e2.u
             JOIN tri_e e3 ON e3.u = e1.u AND e3.v = e2.v)
         GROUP BY suppkey ORDER BY suppkey""").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == naive)
    assert(got.nonEmpty)
  }

  test("anomaly days: closed-form z = √10 construction; constant users guarded") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, to_timestamp}
    // user 1: 10 days × 1 event + one 5-event day ⇒ for a single
    // outlier among 11 days, z = √10 ≈ 3.1623 regardless of its size
    val one = (1 to 10).map(d => (1L, f"2024-01-$d%02d 12:00:00")) ++
      (1 to 5).map(_ => (1L, "2024-01-11 12:00:00"))
    // user 2: identical count every day ⇒ σ = 0 ⇒ z must be 0, not a crash
    val const = (1 to 4).map(d => (2L, f"2024-01-$d%02d 09:00:00"))
    val ev = (one ++ const).toDF("user_id", "s")
      .select(col("user_id"), to_timestamp(col("s")).as("ts"))
    val rows = Events.anomalyDaysDf(ev).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> (r.getDouble(3), r.getBoolean(4)))
      .toMap
    assert(rows((1L, 5L)) == ((3.1623, true)), s"got ${rows((1L, 5L))}")
    assert(!rows((1L, 1L))._2)
    assert(rows((2L, 1L)) == ((0.0, false)))
  }

  test("retention: closed-form cohorts; multiple same-day events collapse") {
    import spark.implicits._
    // user 1 first active Jan 1, returns Jan 2 and Jan 4 (twice);
    // user 2 first active Jan 2, returns Jan 3
    val ev = Seq(
      (1L, "2024-01-01 10:00:00"), (1L, "2024-01-02 11:00:00"),
      (1L, "2024-01-04 09:00:00"), (1L, "2024-01-04 23:00:00"),
      (2L, "2024-01-02 08:00:00"), (2L, "2024-01-03 08:00:00"))
      .toDF("user_id", "s").select(col("user_id"), to_timestamp(col("s")).as("ts"))
    val got = Events.retentionDf(ev).collect()
      .map(r => (r.getTimestamp(0).toString.take(10), r.getInt(1), r.getLong(2))).toSeq
    assert(got == Seq(
      ("2024-01-01", 0, 1L), ("2024-01-01", 1, 1L), ("2024-01-01", 3, 1L),
      ("2024-01-02", 0, 1L), ("2024-01-02", 1, 1L)))
  }

  test("attribution: fresh touch credited, stale and missing fall to direct") {
    import spark.implicits._
    val ev = Seq(
      // user 1: click 2h before purchase -> credited, 7200 s
      (101L, 1L, "click", "2024-01-05 10:00:00", 0.0),
      (102L, 1L, "purchase", "2024-01-05 12:00:00", 9.99),
      // user 2: view 25h before purchase -> stale -> direct
      (201L, 2L, "view", "2024-01-04 11:00:00", 0.0),
      (202L, 2L, "purchase", "2024-01-05 12:00:00", 5.0),
      // user 3: no touches at all -> direct
      (301L, 3L, "purchase", "2024-01-05 12:00:00", 1.0),
      // user 4: same-instant touch counts; later of two same-ts touches wins
      (401L, 4L, "click", "2024-01-05 12:00:00", 0.0),
      (402L, 4L, "view", "2024-01-05 12:00:00", 0.0),
      (403L, 4L, "purchase", "2024-01-05 12:00:00", 2.0))
      .toDF("event_id", "user_id", "event_type", "s", "value")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("s")).as("ts"), col("value"))
    val got = Events.attributionDf(ev)
      .select("purchase_id", "channel", "secs_since_touch")
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(got.toSeq == Seq(
      (102L, "click", 7200L), (202L, "direct", -1L),
      (301L, "direct", -1L), (403L, "view", 0L)))
  }

  test("gap-fill: gaps are materialized with zero counts and carried spend") {
    val rows = Events.qGapFill(spark, Sf).collect()
    val byUser = rows.groupBy(_.getLong(0))
    byUser.foreach { case (_, rs) =>
      val days = rs.map(_.getTimestamp(1).getTime)
      // contiguous daily calendar per user — no holes, no dups
      val sorted = days.sorted
      assert(sorted.zip(sorted.tail).forall { case (a, b) => b - a == 86400000L })
      // carried is never null and agrees with the last observed spend
      var lastSeen = Option.empty[Double]
      rs.sortBy(_.getTimestamp(1).getTime).foreach { r =>
        if (r.getLong(2) > 0) lastSeen = Some(r.getDouble(3))
        assert(!r.isNullAt(4))
        assert(math.abs(r.getDouble(4) - lastSeen.get) < 1e-9)
      }
    }
    // the whole point: at least one user has a zero-event filled day
    assert(rows.exists(_.getLong(2) == 0L), "no gaps were filled")
  }

  test("benford: digit census closed form, zero/negative excluded, chi2 replayed") {
    import spark.implicits._
    import graft.operators.Profile
    // one value per digit 1..9 (uniform — maximally non-Benford),
    // plus a zero and a negative that must not count
    val vals = (1 to 9).map(d => d * 1.11) ++ Seq(0.0, -5.0)
    val got = Profile.benfordOne(vals.toDF("v"), "t", "v").collect()
      .map(r => (r.getInt(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .sortBy(_._1)
    assert(got.map(_._1).toSeq == (1 to 9))
    assert(got.forall(_._2 == 1L), "one observation per digit")
    // chi2 replay: term_micro = round(((1 - 9p)^2 / (9p)) * 1e6)
    val expect = Profile.BenfordPpm.map { case (_, ppm) =>
      val e = 9.0 * ppm.toDouble / 1e6
      val d = 1.0 - e
      BigDecimal(d * d / e * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }.sum.toDouble / 1e6
    assert(got.forall(_._4 == expect), s"chi2 ${got.head._4} vs $expect")
    // ppm literals are the Benford law, and they ~sum to one million
    assert(math.abs(Profile.BenfordPpm.map(_._2).sum - 1000000L) <= 5)
    // an all-nonpositive column yields zero counts and a NULL chi2
    // (not a NaN-cast-to-0 artifact)
    val degenerate = Profile.benfordOne(
      Seq(0.0, -1.0).toDF("v"), "t", "v").collect()
    assert(degenerate.forall(r => r.getLong(3) == 0L && r.isNullAt(5)))
  }

  test("seq gaps: planted holes and duplicates land on the closed forms") {
    import spark.implicits._
    import graft.operators.Profile
    // ids 1,2,2,5: span 5, distinct 3 -> missing 2 (ids 3,4), dups 1
    val r = Profile.seqOne(Seq(1L, 2L, 2L, 5L).toDF("id"), "t", "id").head()
    assert((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
      r.getLong(6), r.getLong(7)) == ((4L, 3L, 1L, 5L, 2L, 1L)))
    // a dense unique sequence audits clean
    val d = Profile.seqOne((1L to 9L).toDF("id"), "t", "id").head()
    assert(d.getLong(6) == 0L && d.getLong(7) == 0L)
  }

  test("basket rules: closed-form metrics, both directions, sub-threshold pairs absent") {
    import spark.implicits._
    // baskets: {A,B} {A,B} {A,C} {C} — only (A,B) reaches w >= 2
    val sl = Seq((1L, "A"), (1L, "B"), (2L, "A"), (2L, "B"),
      (3L, "A"), (3L, "C"), (4L, "C")).toDF("basket", "item")
    val ew = Seq(("A", "B", 2L)).toDF("u", "v", "w")
    val got = Graph.basketRulesOf(sl, ew).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7), r.getDouble(8)))).toMap
    // n_A=3, n_B=2, n=4: support 10^6*2/4, conf A->B = 10^6*2 div 3
    // (truncating), lift both ways = 2*4/(3*2) = 1.333333
    assert(got == Map(
      ("A", "B") -> ((2L, 3L, 2L, 4L, 500000L, 666666L, 1.333333)),
      ("B", "A") -> ((2L, 2L, 3L, 4L, 500000L, 1000000L, 1.333333))))
  }

  test("mutual information: closed forms (copy ln2/U=1, independent 0, constant rhs NULL)") {
    import spark.implicits._
    import graft.operators.Profile
    def mi(rows: Seq[(String, String)]) =
      Profile.miOne(rows.toDF("a", "b"), "t", "a", "b").head()
    // Y is a copy of X, uniform on {a,b}: MI = H(Y) = ln 2 exactly
    // (the micro-nat terms cancel to round(ln2*1e6) per row), U = 1
    val copy = mi(Seq(("a", "a"), ("a", "a"), ("b", "b"), ("b", "b")))
    assert(copy.getLong(3) == 4 && copy.getLong(4) == 2)
    assert(copy.getDouble(5) == 0.693147)
    assert(copy.getDouble(6) == 1.0)
    // independent uniform 2x2: every cell term is exactly zero
    val ind = mi(Seq(("a", "c"), ("a", "d"), ("b", "c"), ("b", "d")))
    assert(ind.getDouble(5) == 0.0 && ind.getDouble(6) == 0.0)
    // constant rhs: H(Y) = 0 — Theil's U must be NULL, not 0/0
    val const = mi(Seq(("a", "c"), ("b", "c")))
    assert(const.getDouble(5) == 0.0 && const.isNullAt(6))
  }

  test("corr profiler: agrees with Spark's corr() and is partitioning-invariant") {
    val rows = Profile.corrProfile(spark, Sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(rows.size == 6)
    rows.values.foreach(v => assert(v >= -1.0 && v <= 1.0))
    // the float co-moment corr() differs only by the cent quantization
    val li = spark.read.parquet(s"$Sf/lineitem.parquet")
    rows.foreach { case ((a, b), v) =>
      val ref = li.select(corr(col(a), col(b))).head().getDouble(0)
      assert(math.abs(v - ref) < 1e-3, s"($a,$b): $v vs corr()=$ref")
    }
    // exact integer moments ⇒ bit-identical under any partitioning
    val sp2 = spark.newSession()
    sp2.conf.set("spark.sql.shuffle.partitions", "7")
    val again = Profile.corrProfile(sp2, Sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(again == rows)
  }

  test("histogram: mass conserved, buckets bounded, extremes populated") {
    val rows = Profile.histogramProfile(spark, Sf).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val total = graft.core.Tables(spark, Sf).lineitem.count()
    val byCol = rows.groupBy(_._1)
    assert(byCol.keySet ==
      Set("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    byCol.foreach { case (c, rs) =>
      assert(rs.map(_._3).sum == total, s"$c histogram mass != row count")
      assert(rs.forall(r => r._2 >= 0 && r._2 <= 15), s"$c bucket range")
      // min lands in bucket 0 and max clamps into bucket 15 by
      // construction, so both extremes must be populated
      assert(rs.exists(_._2 == 0) && rs.exists(_._2 == 15), s"$c extremes")
    }
  }

  test("profiler: one-pass stats agree with per-column aggregates") {
    val li = spark.read.parquet(s"$Sf/lineitem.parquet")
    val p = Profile.numericProfile(spark, Sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val n = li.count()
    assert(p.keySet == Set("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    p.values.foreach { case (cnt, _) => assert(cnt == n) }
    val dq = li.select(countDistinct(col("l_quantity"))).head().getLong(0)
    assert(p("l_quantity")._2 == dq)
  }

  test("kcore: cascade peel on a clique with a pendant chain") {
    import spark.implicits._
    // K4 (a,b,c,d) + chain d-e-f: 3-core = the clique alone — e and f
    // peel in cascade (f first, then e loses its support)
    val k4 = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
      ("b", "d"), ("c", "d"), ("d", "e"), ("e", "f"))
    val got = graft.operators.Graph.kcoreOf(k4.toDF("a", "b"), 3, 6)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
    // k=5 exceeds every degree: the core is empty, not an error
    assert(graft.operators.Graph.kcoreOf(k4.toDF("a", "b"), 5, 6).isEmpty)
  }

  test("kcore: result invariant under partitioning") {
    import spark.implicits._
    val edges = (0 until 40).flatMap { i =>
      Seq((s"n$i", s"n${(i + 1) % 40}"), (s"n$i", s"n${(i + 2) % 40}"))
    }
    val expect = graft.operators.Graph
      .kcoreOf(edges.toDF("a", "b").coalesce(1), 4, 6)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val got = graft.operators.Graph
      .kcoreOf(edges.toDF("a", "b").repartition(7), 4, 6)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == expect)
    assert(expect.nonEmpty) // the circulant graph is 4-regular: all survive
  }

  test("weighted kcore: strength peel keeps heavy-few, drops light-many") {
    import spark.implicits._
    // hub h has THREE light edges (strength 3); pair (x, y) has ONE
    // heavy edge (strength 10 each): an s-core at 5 keeps the heavy
    // pair and peels the high-degree hub — the exact inversion the
    // degree core can't express. The hub's spokes cascade with it.
    val g = Seq(("h", "s1", 1L), ("h", "s2", 1L), ("h", "s3", 1L),
      ("x", "y", 10L))
    val got = graft.operators.Graph.kcoreWeightedOf(g.toDF("a", "b", "w"), 5, 6)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map("x" -> ((1L, 10L)), "y" -> ((1L, 10L))))
    // degree core at k=1 keeps everything — the measures really differ
    assert(graft.operators.Graph.kcoreOf(
      g.toDF("a", "b", "w").select("a", "b"), 1, 6).count() == 6)
    // synchronous cascade: spokes (strength 1) and hub (strength 3)
    // all fall below 4; chain c1-c2-c3 with weights 4, 4: ends have
    // strength 4, middle 8 — peel at 5 removes the ends, then the
    // middle's support is gone: empty core, not an error
    val chain = Seq(("c1", "c2", 4L), ("c2", "c3", 4L))
    assert(graft.operators.Graph
      .kcoreWeightedOf(chain.toDF("a", "b", "w"), 5, 6).isEmpty)
  }

  test("weighted kcore: w = 1 reproduces the unweighted core bit-exactly") {
    import spark.implicits._
    val edges = (0 until 40).flatMap { i =>
      Seq((s"n$i", s"n${(i + 1) % 40}"), (s"n$i", s"n${(i + 2) % 40}"))
    }
    val unw = graft.operators.Graph.kcoreOf(edges.toDF("a", "b"), 4, 6)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val w1 = graft.operators.Graph
      .kcoreWeightedOf(edges.toDF("a", "b").withColumn("w", lit(1L)), 4, 6)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(w1.map { case (n, d, _) => (n, d) } == unw)
    assert(w1.forall { case (_, d, s) => d == s }, "w=1: strength == degree")
  }

  test("forecast: closed-form seasonal means on planted daily volumes") {
    import spark.implicits._
    // day 0 = 1970-01-01 (a Thursday) — dow here is day % 7, so dow 0
    // is Thursday by construction; plant two Thursdays (3 + 5 events)
    // and one Friday (2 events) for one type, and check the milli-mean
    def at(day: Long, i: Int) =
      new java.sql.Timestamp(day * 86400000L + i * 1000L)
    val rows =
      (0 until 3).map(i => (1L, at(0, i), i.toLong, "tick", 1.0, "{}")) ++
        (0 until 5).map(i => (1L, at(7, i), 100L + i, "tick", 1.0, "{}")) ++
        (0 until 2).map(i => (1L, at(1, i), 200L + i, "tick", 1.0, "{}"))
    val df = rows.toDF("user_id", "ts", "event_id", "event_type", "value", "props")
    // qForecast reads from a table dir; replay its exact expression
    // tree on the planted frame (the corpus half below drives the
    // real operator end-to-end)
    val got = df
      .groupBy(col("event_type"), expr("CAST(ts AS BIGINT) div 86400").as("day"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("event_type"), expr("day % 7").as("dow"))
      .agg(count(lit(1)).as("n_days"), sum("cnt").as("total_events"),
        expr("CAST((1000 * sum(cnt)) div count(1) AS BIGINT)").as("forecast_milli"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == Map(
      ("tick", 0L) -> ((2L, 8L, 4000L)),  // Thursdays: (3+5)/2 = 4.000
      ("tick", 1L) -> ((1L, 2L, 2000L)))) // Friday: 2.000
    // the corpus query agrees with an independent scalar replay
    val ev = spark.read.parquet(s"$Sf/events.parquet")
      .select(col("event_type"), expr("CAST(ts AS BIGINT) div 86400").as("day"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val daily = ev.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expect = daily.toSeq
      .map { case ((t, day), c) => (t, day % 7) -> c }
      .groupBy(_._1).view.mapValues { xs =>
        val cs = xs.map(_._2)
        (cs.size.toLong, cs.sum, 1000L * cs.sum / cs.size)
      }.toMap
    val corpus = graft.operators.Events.qForecast(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(corpus == expect)
  }

  test("forecast eval: corpus backtest matches an independent scalar replay") {
    // replay the whole holdout protocol in plain Scala over collected
    // scalars: trailing 7 days held out, per-(type, dow) truncating
    // milli-mean on the rest, inner-join evaluation, exact error sums
    val daily = spark.read.parquet(s"$Sf/events.parquet")
      .select(col("event_type"), expr("CAST(ts AS BIGINT) div 86400").as("day"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val s = daily.keys.map(_._2).max - 6
    val model = daily.toSeq.collect { case ((t, d), c) if d < s => (t, d % 7) -> c }
      .groupBy(_._1).view.mapValues(xs =>
        1000L * xs.map(_._2).sum / xs.size).toMap
    val expect = daily.toSeq
      .collect { case ((t, d), c) if d >= s && model.contains((t, d % 7)) =>
        t -> (1000L * c - model((t, d % 7))) }
      .groupBy(_._1).view.mapValues { xs =>
        val errs = xs.map(_._2)
        (errs.size.toLong, errs.map(math.abs).sum,
          errs.map(math.abs).sum / errs.size, errs.sum)
      }.toMap
    val got = graft.operators.Events.qForecastEval(spark, Sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == expect, s"backtest must equal the scalar replay")
    assert(got.nonEmpty && got.forall(_._2._1 == 7L),
      "every type has a full held-out week on this corpus")
  }

  test("forecast filled: spans count silent zero days, closed form exact") {
    import spark.implicits._
    def at(day: Long, i: Int) =
      new java.sql.Timestamp(day * 86400000L + i * 1000L)
    // one type spanning days 0..14 (dow 0 Thursdays: 0, 7, 14) with
    // events ONLY on days 0 and 14 of dow 0 (3 each) and day 1 (2):
    // filled mean for dow 0 divides by span 3 (6 div 3 = 2000 milli)
    // where the unfilled variant divides by presence 2 (3000 milli) —
    // the bias the fill exists to remove. dow 1's span is 2 (days 1,
    // 8), presence 1. dows 2..6 have span 2, zero events → forecast 0
    // rows the unfilled variant doesn't emit at all.
    val rows =
      (0 until 3).map(i => (1L, at(0, i), i.toLong, "tick", 1.0, "{}")) ++
        (0 until 3).map(i => (1L, at(14, i), 50L + i, "tick", 1.0, "{}")) ++
        (0 until 2).map(i => (1L, at(1, i), 90L + i, "tick", 1.0, "{}"))
    val df = rows.toDF("user_id", "ts", "event_id", "event_type", "value", "props")
    val got = df
      .groupBy(col("event_type"), expr("CAST(ts AS BIGINT) div 86400").as("day"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("event_type"))
      .agg(min(col("day")).as("a"), max(col("day")).as("b"),
        array((0 to 6).map { r =>
          struct(lit(r.toLong).as("dow"),
            sum(when(col("day") % 7 === r, 1L).otherwise(0L)).as("n_present"),
            sum(when(col("day") % 7 === r, col("cnt")).otherwise(0L)).as("total"))
        }: _*).as("per_dow"))
      .select(col("event_type"), col("a"), col("b"), explode(col("per_dow")).as("pd"))
      .select(col("event_type"), col("pd.dow").as("dow"),
        col("pd.n_present").as("n_days_present"), col("pd.total").as("total_events"),
        expr("(b - dow) div 7 - (a - dow + 6) div 7 + 1").as("n_days_span"))
      .filter(col("n_days_span") > 0)
      .select(col("dow"), col("n_days_present"), col("total_events"),
        col("n_days_span"),
        expr("CAST((1000 * total_events) div n_days_span AS BIGINT)").as("fm"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(0L) == ((2L, 6L, 3L, 2000L)), s"dow0: ${got(0L)}") // not 3000
    assert(got(1L) == ((1L, 2L, 2L, 1000L)), s"dow1: ${got(1L)}")
    (2L to 6L).foreach { r =>
      assert(got(r) == ((0L, 0L, 2L, 0L)), s"dow$r: ${got(r)}")
    }
    // corpus: filled and unfilled agree exactly where presence == span
    val filled = graft.operators.Events.qForecastFilled(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val unfilled = graft.operators.Events.qForecast(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(filled.nonEmpty)
    filled.foreach { case (k, (np, te, span, fm)) =>
      unfilled.get(k) match {
        case Some((n, t, f)) =>
          assert(np == n && te == t, s"$k: present stats must agree")
          if (np == span) assert(fm == f, s"$k: no holes ⇒ same mean")
          else assert(fm <= f, s"$k: filling holes can only lower the mean")
        case None => assert(te == 0L, s"$k: filled-only rows carry zero events")
      }
    }
  }

  test("communities sweep: one-loop hierarchy equals the per-threshold runs") {
    // the sweep runs ALL levels in one disjoint-union propagation
    // (level-encoded BIGINT keys); this pins it row-identical to
    // running supplierCommunities separately at each threshold — the
    // encode/decode and the shared loop must be semantics-free
    val sweep = graft.operators.Graph.supplierCommunitySweep(spark, Sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    val perLevel = Seq(5, 7, 10).flatMap { t =>
      graft.operators.Graph.supplierCommunities(spark, Sf, t).collect()
        .map(r => (t, r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
    }.toSet
    assert(sweep == perLevel)
    assert(sweep.nonEmpty)
  }

  test("communities: consistent with component labels and edge totals") {
    val comm = graft.operators.Graph.supplierCommunities(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(comm.nonEmpty)
    // membership must be exactly the component labels' histogram
    val labels = graft.operators.Graph.supplierComponents(spark, Sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val sizes = labels.groupBy(_._2).map { case (c, m) => c -> m.length.toLong }
    assert(comm.map(r => r._1 -> r._2).toMap == sizes)
    // edge counts and weight partition the whole edge set
    val ew = graft.operators.Graph.coSupplyEdgesW(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(comm.map(_._3).sum == ew.length.toLong)
    assert(comm.map(_._4).sum == ew.map(_._3).sum)
    comm.foreach { case (c, n, e, w, dPpm) =>
      assert(n >= 2, s"community $c smaller than an edge")
      assert(w >= e * 5, s"community $c: weights below the threshold floor")
      assert(dPpm == 2000000L * e / (n * (n - 1)), s"density mismatch for $c")
      assert(dPpm <= 1000000L, s"density over 1 for $c")
    }
    // a 2-member community is a single edge: density exactly 1
    comm.filter(_._2 == 2).foreach { case (c, _, e, _, dPpm) =>
      assert(e == 1 && dPpm == 1000000L, s"pair community $c malformed")
    }
  }

  test("hits: planted bipartite star — shared authority wins, the double-hub wins") {
    import spark.implicits._
    // C1->S1, C1->S2, C2->S1, C3->S1: S1 is cited by all three hubs,
    // C1 cites both authorities
    val edges = Seq(("C1", "S1"), ("C1", "S2"), ("C2", "S1"), ("C3", "S1"))
      .toDF("c", "s")
    val got = graft.operators.Graph.hitsOf(edges).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val auth = got.filter(_._1 == "auth").map(t => t._2 -> t._3).toMap
    val hub = got.filter(_._1 == "hub").map(t => t._2 -> t._3).toMap
    assert(auth.keySet == Set("S1", "S2") && hub.keySet == Set("C1", "C2", "C3"))
    // max normalization pins the leaders at exactly Scale
    assert(auth("S1") == graft.operators.Graph.HitsScale && auth("S1") > auth("S2"))
    assert(hub("C1") == graft.operators.Graph.HitsScale)
    assert(hub("C2") == hub("C3") && hub("C1") > hub("C2"))
    // output rides the (side, score desc, node) total order
    assert(got.map(_._1).toSeq == got.map(_._1).toSeq.sorted)
  }

  test("hits: trade-graph shape — sides are typed, leaders normalized, output bounded") {
    val got = graft.operators.Graph.hits(spark, Sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val (auths, hubs) = got.partition(_._1 == "auth")
    // sf0.001 has only 10 suppliers; the hub side fills its 50
    assert(auths.nonEmpty && auths.length <= 50 && hubs.length == 50)
    assert(auths.forall(_._2.startsWith("S")) && hubs.forall(_._2.startsWith("C")))
    assert(auths.map(_._3).max == graft.operators.Graph.HitsScale)
    assert(hubs.map(_._3).max == graft.operators.Graph.HitsScale)
    assert(got.forall(t => t._3 >= 0L && t._3 <= graft.operators.Graph.HitsScale))
  }

  test("modularity: partition invariants hold and the total row replays") {
    val rows = graft.operators.Graph.modularity(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val (total, per) = rows.partition(_._1 == -1L)
    assert(total.length == 1 && per.nonEmpty)
    // each internal edge adds w to in_c and 2w to deg_c; cut edges add
    // only to deg_c — so deg_w >= 2·in_w per community
    per.foreach { case (c, in, deg, _) =>
      assert(deg >= 2 * in, s"community $c: deg $deg < 2*in $in") }
    // Σ deg_w = 2W exactly (every edge counted at both endpoints)
    val twoW = per.map(_._3).sum
    assert(total.head._3 == twoW)
    // total row sums the per-community micro contributions, Q < 1
    assert(total.head._4 == per.map(_._4).sum)
    assert(total.head._4 < 1000000L)
  }
}
