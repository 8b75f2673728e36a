package graft

import org.apache.spark.sql.functions._

import graft.functions.Shingles
import graft.operators.{Curation, TextOps}

/** Degenerate-input hardening: empty, whitespace-only, and
  * single-token documents flow through every text/curation operator
  * with DEFINED values — no crash, no dropped-row surprises. The
  * synthetic corpus contains none of these; a 100 TB crawl contains
  * millions. */
class EdgeCaseSpec extends SparkSpecBase {
  import spark.implicits._

  private def docs = Seq(
    (0L, "", "s"),
    (1L, "   ", "s"),
    (2L, "solo", "s"),
    (3L, "alpha beta alpha beta", "s"),
  ).toDF("doc_id", "text", "source")
    .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))

  test("tokens: degenerate text yields one empty token — the shared contract") {
    // split(trim(''), '\s+') = [''] in Spark AND in DuckDB's
    // string_split_regex — every oracle twin inherits exactly this, so
    // the degenerate single-empty-token IS the cross-engine contract
    // (changing one side alone would break every text oracle). The
    // pipeline-relevant property: downstream gates fail such docs
    // closed (see the gopher test below).
    val t = docs.select(col("doc_id"), Shingles.tokens(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(t(0L) == Seq("") && t(1L) == Seq(""))
    assert(t(2L) == Seq("solo"))
    assert(t(3L) == Seq("alpha", "beta", "alpha", "beta"))
  }

  test("repetition: every doc keeps a row; degenerate docs score zero") {
    val r = Curation.textRepetitionDf(docs).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(3))).toMap
    assert(r.keySet == Set(0L, 1L, 2L, 3L), "no doc may vanish")
    // empty/1-token docs collapse to one degenerate shingle → ratio 0
    assert(r(0L)._2 == 0.0 && r(1L)._2 == 0.0 && r(2L)._2 == 0.0)
    // "alpha beta" repeats: 3 bigrams, 2 distinct → 1 - 2/3
    assert(r(3L) == ((3L, 0.333333)))
  }

  test("lm score: docs without bigrams report zero, not null/missing") {
    val r = TextOps.textLmScoreDf(docs).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getDouble(3)))
      .toMap
    assert(r.keySet == Set(0L, 1L, 2L, 3L))
    Seq(0L, 1L, 2L).foreach { d => assert(r(d) == ((0L, 0L, 0.0)), s"doc $d") }
    assert(r(3L)._1 == 3L)
  }

  test("pii: verdict table covers degenerate docs with clean = original") {
    val r = Curation.pipelinePiiDf(docs).collect()
      .map(x => x.getLong(0) -> (x.getString(4), x.getBoolean(5))).toMap
    assert(r.keySet == Set(0L, 1L, 2L, 3L))
    assert(r(0L) == (("", false)))
    assert(r(1L) == (("   ", false)))
  }

  test("weighted sampling: near-zero-weight docs drop, never crash") {
    // w = len/500 → thresholds 0, 0, ~8, ~43 of 2^20: the gate runs
    // and (almost surely) keeps nothing at these weights
    val kept = Curation.sampleWeightedDf(docs).collect()
    assert(kept.length <= docs.count())
  }

  test("tfidf: degenerate docs surface their empty token, values defined") {
    val r = TextOps.textTfidfDf(docs).collect()
    assert(r.forall(_.getString(1) != null))
    assert(r.map(_.getLong(0)).toSet == Set(0L, 1L, 2L, 3L))
    // the empty token is a real (low-idf) term under the shared
    // tokenizer contract: df = 2 across the two degenerate docs
    val empties = r.filter(_.getString(1) == "")
    assert(empties.map(_.getLong(0)).toSet == Set(0L, 1L))
    assert(empties.forall(_.getLong(3) == 2L))
  }

  test("gopher gate: degenerate docs fail closed (keep = false), not crash") {
    val r = Curation.textGopherDf(docs).collect()
      .map(x => x.getLong(0) -> x.getBoolean(9)).toMap
    assert(r.keySet == Set(0L, 1L, 2L, 3L), "every doc gets a verdict")
    // ok_len requires ≥ 20 tokens — all four crafted docs fail closed
    r.values.foreach(keep => assert(!keep))
  }

  test("entropy: degenerate docs report defined values (empty = 0, constant = 0)") {
    val r = TextOps.textEntropyDf(docs).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap
    assert(r.keySet == Set(0L, 1L, 2L, 3L), "every doc keeps a row")
    assert(r(0L) == ((0L, 0.0)))
    assert(r(1L) == ((3L, 0.0)), "whitespace-only: one symbol, zero entropy")
    assert(r(2L)._2 > 0 && r(3L)._2 > 0)
  }

  test("substring spans: degenerate docs are excluded, never crash") {
    // all four docs are shorter than the 64-char window — empty result
    assert(graft.operators.Dedup.substringSpansDf(docs).collect().isEmpty)
  }

  test("collocations: degenerate corpus yields empty output, never crashes") {
    // no doc has two tokens → no bigrams survive the LIKE '% %' gate
    val deg = docs.filter(col("doc_id") < 3)
    assert(TextOps.collocationsDf(deg, minCount = 1, k = 10)
      .collect().isEmpty)
    // the 4-token doc alone: three bigrams, each counted once
    val one = TextOps.collocationsDf(
      docs.filter(col("doc_id") === 3), minCount = 1, k = 10).collect()
    assert(one.map(_.getString(0)).toSet ==
      Set("alpha beta", "beta alpha"))
  }

  test("readability: degenerate docs score defined values") {
    val r = TextOps.textReadabilityDf(docs).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3)))
      .toMap
    assert(r.keySet == Set(0L, 1L, 2L, 3L), "every doc keeps a row")
    // empty / whitespace: 1 sentence floor, 1 degenerate token
    assert(r(0L) == ((1L, 1L, 0L)))
    assert(r(1L) == ((1L, 1L, 0L)))
    assert(r(3L)._2 == 4L)
  }

  test("pagerank: empty edge sets return empty ranks, never divide by zero") {
    import spark.implicits._
    val empty = Seq.empty[(String, String)].toDF("src", "dst")
    assert(graft.operators.Graph.pagerankOf(empty).collect().isEmpty)
    // the weighted API drops w <= 0 edges up front — an all-dropped
    // input must hit the same empty-graph exit, not wout = 0
    val zeroW = Seq(("a", "b", 0L), ("b", "a", 0L)).toDF("src", "dst", "w")
    assert(graft.operators.Graph.pagerankWeightedOf(zeroW).collect().isEmpty)
  }

  test("containment: degenerate docs share only the empty-token shingle contract") {
    // docs 0 and 1 both collapse to the single degenerate shingle '',
    // so they are MUTUALLY contained (inter=1, size=1 both sides) —
    // the documented fail-closed behavior a curation pass filters by
    // n_chars first; no crash, defined values
    val r = graft.operators.Dedup.containmentDf(docs).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(3), x.getDouble(4)))
    assert(r.toSeq == Seq((0L, 1L, 1.0, 1.0)))
  }

  test("link prediction / basket rules: empty and wedge-free edge sets yield empty, not errors") {
    import spark.implicits._
    import graft.operators.Graph
    val empty = Seq.empty[(Long, Long)].toDF("u", "v")
    assert(Graph.linkPredictionOf(empty).isEmpty)
    // one isolated edge: a wedge needs a common neighbor — no rows
    assert(Graph.linkPredictionOf(Seq((1L, 2L)).toDF("u", "v")).isEmpty)
    // K3: every wedge pair is already an edge — candidates empty
    val k3 = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("u", "v")
    assert(Graph.linkPredictionOf(k3).isEmpty)
    // basket rules over an empty qualifying pair set: empty, defined
    val sl = Seq((1L, "A"), (2L, "B")).toDF("basket", "item")
    val noPairs = Seq.empty[(String, String, Long)].toDF("u", "v", "w")
    assert(Graph.basketRulesOf(sl, noPairs).isEmpty)
  }

  test("scd2 fold: empty input and single-version histories are defined") {
    import spark.implicits._
    import graft.operators.Snapshot
    val empty = Seq.empty[(Long, Int, Long)].toDF("c_custkey", "ver", "cents")
    assert(Snapshot.scd2Fold(empty, maxVer = 3).isEmpty)
    // a single v-3 row: open interval, current
    val one = Snapshot.scd2Fold(
      Seq((7L, 3, 100L)).toDF("c_custkey", "ver", "cents"), maxVer = 3)
      .collect()
    assert(one.length == 1 && one(0).isNullAt(3) && one(0).getInt(4) == 1)
    // incremental step from empty history: everything opens
    val opened = Snapshot.scd2Step(Snapshot.emptyScd2(spark),
      Seq((7L, 1, 100L)).toDF("c_custkey", "ver", "cents"), 1L).collect()
    assert(opened.length == 1 && opened(0).getInt(4) == 1)
  }

  test("profile_mi census guard: a mis-declared high-cardinality pair fails fast") {
    // the joint-cell collect is limit-bounded BY CONSTRUCTION
    // (MiMaxCells + 1 rows max cross the driver) and one row over the
    // ceiling raises instead of materializing a corpus-scale table
    val wide = spark.range(graft.operators.Profile.MiMaxCells + 10L)
      .selectExpr("id AS x", "id AS y")
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("cnt"))
    val e = intercept[IllegalArgumentException] {
      graft.operators.Profile.guardedCensus(wide, "edgecase")
    }
    assert(e.getMessage.contains("MiMaxCells"), e.getMessage)
    // the declared categorical path is untouched
    val ok = graft.operators.Profile.guardedCensus(
      spark.range(5).selectExpr("id AS x")
        .groupBy(col("x")).agg(count(lit(1)).as("cnt")), "edgecase")
    assert(ok.length == 5)
  }

  test("bpe: empty/degenerate corpora produce defined merge tables, not errors") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextOps.bpeMergesDf(spark, empty).collect().isEmpty)
    assert(TextOps.bpeVocabDf(spark, empty).collect().isEmpty)
    // whitespace-only corpus: the empty token is filtered out of the
    // vocab carve, so there is nothing to merge — empty, not a crash
    val blank = Seq((0L, ""), (1L, "   ")).toDF("doc_id", "text")
    assert(TextOps.bpeMergesDf(spark, blank).collect().isEmpty)
    // single char + marker: exactly one mergeable pair, then done
    val one = Seq((0L, "x")).toDF("doc_id", "text")
    val m = TextOps.bpeMergesDf(spark, one, rounds = 8).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    assert(m.toSeq == Seq((1, "x", "</w>")), m.toSeq.toString)
  }

  test("bpe: driver cap fail-fasts with a minFreq hint; the cutoff trains within it") {
    // 6 word types, a tiny injected cap of 4: the full table must
    // raise (never silently truncate — a truncated vocabulary is a
    // wrong tokenizer), and the error must name the trainer knob.
    // With minFreq=2 the 3 singleton tail types drop BEFORE the
    // collect, the 3 head types fit, and training proceeds.
    val docs = Seq((0L, "aa aa aa bb bb cc cc"), (1L, "dd ee ff"))
      .toDF("doc_id", "text")
    val err = intercept[IllegalArgumentException] {
      TextOps.bpeLearn(docs, rounds = 4, minFreq = 1L, maxTypes = 4)
    }
    assert(err.getMessage.contains("minFreq"), err.getMessage)
    val m = TextOps.bpeLearn(docs, rounds = 4, minFreq = 2L, maxTypes = 4)
    assert(m.nonEmpty)
    // the trajectory is over the head types only: the freq-3 'aa'
    // pairs win round 1 — (a,</w>) beats (a,a) on the UTF-8 tie
    // order ('<' < 'a') — and no dropped singleton type ('dd'…) can
    // surface
    assert(m.head._2 == "a" && m.head._3 == "</w>" && m.head._4 == 3L,
      m.head.toString)
    assert(!m.exists(x => Seq("d", "e", "f").contains(x._2)), m.toString)
  }

  test("temperature sampling: rarest language keeps everything; thresholds replayed independently") {
    val corpus = graft.core.Tables(spark, Sf).documents
    val counts = corpus.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nMin = counts.values.min
    val kept = Curation.sampleTemperature(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // independent replay: threshold floor(sqrt(n_min/n_l)*2^20), keep
    // iff h60("tsmp#"+id) mod 2^20 below it
    val all = corpus.select(col("doc_id"), col("lang"),
        pmod(graft.functions.PortableHash.h60(
          concat(lit("tsmp#"), col("doc_id").cast("string"))),
          lit(1048576L)).as("b"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expect = all.filter { case (_, l, b) =>
      b < math.floor(math.sqrt(nMin.toDouble / counts(l).toDouble) * 1048576.0).toLong
    }.map(t => (t._1, t._2))
    assert(kept.toSet == expect.toSet)
    // the rarest language's threshold is exactly 2^20: keeps ALL
    val rarest = counts.minBy(_._2)._1
    assert(kept.count(_._2 == rarest) == counts(rarest))
  }

  test("ccf: |ccf| <= 1 everywhere (Cauchy-Schwarz), full lag spine emitted") {
    val rows = graft.operators.Events.eventsCcf(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    assert(rows.map(_._1).toSeq == (-7L to 7L))
    rows.foreach { case (lag, v) =>
      assert(math.abs(v) <= 1.0 + 1e-9, s"lag $lag ccf $v out of bounds") }
  }

  test("profile_outliers: quartiles ordered, flags replay the cleared-fraction fences") {
    val rows = graft.operators.Profile.profileOutliers(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getBoolean(5)))
    assert(rows.nonEmpty)
    val (q1, q3) = (rows.head._3, rows.head._4)
    assert(q1 <= q3)
    rows.foreach { case (day, c, _, _, lo, hi) =>
      assert(lo == (2 * c < 5 * q1 - 3 * q3), s"day $day low flag")
      assert(hi == (2 * c > 5 * q3 - 3 * q1), s"day $day high flag")
      assert(!(lo && hi))
    }
  }

  test("sample_importance: degenerate docs flow through the gate with defined scores") {
    val kept = Curation.sampleImportanceDf(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    // every doc has >= 1 token (the shared empty-token contract), so
    // every kept row carries a defined (n_tok, lw_micro)
    kept.values.foreach { case (n, _) => assert(n >= 1L) }
    // target == corpus here (all 'en'), so ratios are ~0 and nothing
    // can be strongly rejected — at least the multi-token doc survives
    assert(kept.nonEmpty)
  }

  test("pipelineMix: empty and all-untargeted corpora yield empty, not errors") {
    // empty corpus: the counts aggregate is empty, so no thresholds
    // exist and the inner join keeps nothing — no NULL water-line
    // path ever evaluates
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "lang")
    assert(graft.operators.Curation.pipelineMixDf(empty).isEmpty)
    // a corpus whose langs are all absent from the target map drops
    // entirely (weight 0) — the documented fail-closed behavior
    val untargeted = Seq((0L, "xx"), (1L, "yy")).toDF("doc_id", "lang")
    assert(graft.operators.Curation.pipelineMixDf(untargeted).isEmpty)
  }

  test("backbone/ktruss: empty and triangle-free edge sets yield empty, not errors") {
    import graft.operators.Graph
    val empty = Seq.empty[(Long, Long)].toDF("u", "v")
    assert(Graph.ktrussOf(empty, 3, 4).isEmpty)
    val emptyW = Seq.empty[(Long, Long, Long)].toDF("u", "v", "w")
    assert(Graph.backboneOf(emptyW, 3).isEmpty)
    // a path graph has no triangles: every edge peels at k=3
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    assert(Graph.ktrussOf(path, 3, 4).isEmpty)
    // ktruss refuses a meaningless k
    intercept[IllegalArgumentException] {
      Graph.ktrussOf(path, 2, 4)
    }
  }

  test("profile_ks: disjoint distributions score 1, identical score 0") {
    import java.sql.Timestamp
    import graft.operators.Profile
    val split = to_timestamp(lit("2024-01-16 00:00:00"))
    def ev(rows: Seq[(String, Double)]) =
      rows.map { case (ts, v) => (Timestamp.valueOf(ts), v) }.toDF("ts", "value")
    // ref mass entirely below cur mass: D = 1 exactly
    val disjoint = ev(Seq(
      ("2024-01-01 00:00:00", 1.0), ("2024-01-02 00:00:00", 2.0),
      ("2024-01-20 00:00:00", 400.0), ("2024-01-21 00:00:00", 401.0)))
    val d1 = Profile.ksOf(disjoint, split).head()
    assert(d1.getLong(2) == d1.getLong(0) * d1.getLong(1), "D numerator = nr*nc")
    assert(d1.getDouble(4) == 1.0)
    // identical per-side distributions: every bucket CDF matches, D = 0
    val same = ev(Seq(
      ("2024-01-01 00:00:00", 5.0), ("2024-01-02 00:00:00", 300.0),
      ("2024-01-20 00:00:00", 5.0), ("2024-01-21 00:00:00", 300.0)))
    val d0 = Profile.ksOf(same, split).head()
    assert(d0.getLong(2) == 0L && d0.getDouble(4) == 0.0)
  }

  test("profile_psi: single-sided types carry NULL psi, the total sums the finite terms") {
    import java.sql.Timestamp
    // 'gone' exists only before the split, 'new' only after — no
    // finite PSI term exists for either; 'stable' is on both sides
    val ev = Seq(
      ("stable", Timestamp.valueOf("2024-01-01 00:00:00")),
      ("stable", Timestamp.valueOf("2024-01-20 00:00:00")),
      ("gone", Timestamp.valueOf("2024-01-02 00:00:00")),
      ("new", Timestamp.valueOf("2024-01-21 00:00:00")),
    ).toDF("event_type", "ts")
    val out = graft.operators.Profile
      .psiOf(ev, to_timestamp(lit("2024-01-16 00:00:00")))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("gone").isNullAt(3), "ref-only type must have NULL psi_micro")
    assert(out("new").isNullAt(3), "cur-only type must have NULL psi_micro")
    assert(!out("stable").isNullAt(3))
    assert(out("__total__").getLong(3) == out("stable").getLong(3),
      "total sums only the finite terms")
  }

  test("linkage: a name longer than MaxNameLen fails fast, not a quadratic fan-out") {
    import graft.operators.Linkage
    val ok = Seq(("widget", 1L), ("widgot", 2L)).toDF("name", "cnt")
    assert(Linkage.fuzzyPairsOf(ok).collect().length == 1)
    val long = Seq(("x" * (Linkage.MaxNameLen + 1), 1L), ("widget", 1L))
      .toDF("name", "cnt")
    val e = intercept[Exception] {
      Linkage.fuzzyPairsOf(long).collect()
    }
    assert(e.getMessage.contains("exceeds"), e.getMessage)
    // the boundary length itself passes
    val edge = Seq(("y" * Linkage.MaxNameLen, 1L)).toDF("name", "cnt")
    assert(Linkage.fuzzyPairsOf(edge).collect().isEmpty)
  }

  test("profile_jsd: single-sided types stay FINITE, and JSD is symmetric") {
    import java.sql.Timestamp
    import graft.operators.Profile
    val split = to_timestamp(lit("2024-01-16 00:00:00"))
    val ev = Seq(
      ("stable", "2024-01-01 00:00:00"), ("stable", "2024-01-02 00:00:00"),
      ("stable", "2024-01-20 00:00:00"), ("stable", "2024-01-21 00:00:00"),
      ("gone", "2024-01-03 00:00:00"),
      ("new", "2024-01-22 00:00:00"),
    ).map { case (t, ts) => (t, Timestamp.valueOf(ts)) }.toDF("event_type", "ts")
    val out = Profile.jsdOf(ev, split)
      .collect().map(r => r.getString(0) -> r).toMap
    // where PSI reports NULL (one-sided types), JSD is finite — the
    // whole reason the symmetric member of the drift triple exists
    assert(!out("gone").isNullAt(3) && out("gone").getLong(3) > 0L)
    assert(!out("new").isNullAt(3) && out("new").getLong(3) > 0L)
    // identical shares on both sides → zero divergence for that type
    assert(out("stable").getLong(3) == 0L)
    // total sums the per-type terms and stays within [0, ln 2]
    val tot = out("__total__").getLong(3)
    assert(tot == out.filterKeys(_ != "__total__").values
      .map(_.getLong(3)).sum)
    assert(tot >= 0L && tot <= 693148L)
    // SYMMETRY: mirroring every event to the other side of the split
    // must leave each type's divergence unchanged (ref/cur swap)
    val mirrored = Seq(
      ("stable", "2024-01-01 00:00:00"), ("stable", "2024-01-02 00:00:00"),
      ("stable", "2024-01-20 00:00:00"), ("stable", "2024-01-21 00:00:00"),
      ("gone", "2024-01-23 00:00:00"),   // ref-only -> cur-only
      ("new", "2024-01-04 00:00:00"),    // cur-only -> ref-only
    ).map { case (t, ts) => (t, Timestamp.valueOf(ts)) }.toDF("event_type", "ts")
    val m = Profile.jsdOf(mirrored, split)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(m("gone") == out("gone").getLong(3))
    assert(m("new") == out("new").getLong(3))
    assert(m("__total__") == tot)
  }

  test("profile_checks: a planted violation is counted, clean tables pass") {
    val out = graft.operators.Profile.checksProfile(spark, Sf)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(out.size == 7)
    assert(out.values.forall(_._3), s"synthetic tables must pass: $out")
    assert(out("o_orderkey_unique")._1 == 0L)
    assert(out("lineitem_orderkey_in_orders")._2 ==
      out("l_quantity_in_1_50")._2, "RI total = lineitem row count")
  }

  test("events_acf: lag 0 scores exactly 1, all lags bounded by 1") {
    val rows = graft.operators.Events.eventsAcf(spark, Sf).collect()
    assert(rows.length == 8)
    val byLag = rows.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(byLag(0L) == 1.0)
    // Cauchy-Schwarz on the truncated sums: |num_k| <= num_0
    assert(byLag.values.forall(v => math.abs(v) <= 1.0 + 1e-9), byLag)
  }

  test("stickiness: bounded in (0,1], and exactly dau/mau on active days") {
    val rows = graft.operators.Events.eventsStickiness(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (dau, mau, s) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      if (mau == 0L) assert(s == 0.0)
      else {
        assert(s >= 0.0 && s <= 1.0, s"day ${r.getLong(0)}: $s")
        assert(math.abs(s - dau.toDouble / mau) < 1e-6)
      }
    }
  }

  test("holt smoothing: exactly-linear series is tracked with zero lag") {
    // y_t = 100 + 7t: with l0 = y0, b0 = y1 - y0 = 7 the recurrence
    // reproduces l_t = y_t and b_t = 7 exactly at every step, and the
    // one-step forecast f_t = l_{t-1} + b_{t-1} = y_t is PERFECT
    val daily = (0L until 50L).map(t => (t + 1000L, 100L + 7L * t))
      .toDF("day", "cents")
    val out = graft.operators.Events.holtOfDaily(daily).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))).toMap
    assert(out.size == 50)
    out.foreach { case (day, (y, l, b, f)) =>
      assert(l == y, s"day $day: level $l != y $y")
      assert(b == 7L, s"day $day: trend $b")
      if (day > 1000L) assert(f.contains(y), s"day $day: fitted $f != $y")
      else assert(f.isEmpty)
    }
    // negative-trend series exercises the floor-shift on negatives
    val down = (0L until 20L).map(t => (t + 1L, 1000L - 13L * t))
      .toDF("day", "cents")
    val d = graft.operators.Events.holtOfDaily(down).collect()
      .map(r => (r.getLong(2), r.getLong(3)))
    assert(d.forall(_._2 == -13L), d.toSeq)
  }

  test("cumulative users: monotone, ends at total distinct, quiet days flat") {
    val rows = graft.operators.Events.cumulativeUsers(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 == a._3 + b._2, s"cumulation breaks at ${b._1}")
    }
    val total = graft.core.Tables(spark, Sf).events
      .select("user_id").distinct().count()
    assert(rows.last._3 == total)
    assert(rows.map(_._2).sum == total)
  }

  test("uniform-k sample: exactly k rows, the k smallest by portable hash") {
    val docs = graft.core.Tables(spark, Sf).documents
    val got = Curation.sampleUniformKDf(docs, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 5)
    // independent reference: full hash ranking computed in the spec
    val all = docs.select(col("doc_id"),
      graft.functions.PortableHash.h60(
        concat(lit("unik#"), col("doc_id").cast("string"))).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(p => (p._2, p._1)).take(5)
    assert(got.toSeq == all.toSeq)
  }
}
