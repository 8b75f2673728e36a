package graft

import org.apache.spark.sql.functions._

import graft.operators.Curation

/** Corpus-curation operators: repetition metric on crafted repeats,
  * gopher gate rule-by-rule, decontamination on planted leakage,
  * stratified sample determinism + balance. */
class CurationSpec extends SparkSpecBase {
  import spark.implicits._

  test("textRepetition: duplicate-bigram fraction on crafted docs") {
    val docs = Seq(
      // bigrams: "a b","b a","a b","b a","a b" → 5 total, 2 distinct
      (0L, "a b a b a b"),
      // all bigrams distinct
      (1L, "one two three four five"),
    ).toDF("doc_id", "text")
    val rows = Curation.textRepetitionDf(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(rows(0L) == ((5L, 2L, 0.6)), s"got ${rows(0L)}")
    assert(rows(1L) == ((4L, 4L, 0.0)), s"got ${rows(1L)}")
  }

  test("textGopher: each rule trips on its crafted violator") {
    val good = "the cat sat on the mat and then the dog came in to look " +
      "for food while rain fell on the roof of the old red barn outside town"
    val docs = Seq(
      (0L, good),                                   // passes all rules
      (1L, "too short for the gate"),               // ok_len fails (<20 tokens)
      (2L, good.replace(" ", "!! ")),               // ok_symbol fails
      (3L, ("internationalization " * 25).trim),    // ok_word_len + ok_stop fail
    ).toDF("doc_id", "text")
    val rows = Curation.textGopherDf(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getBoolean(5), r.getBoolean(6), r.getBoolean(7), r.getBoolean(8),
          r.getBoolean(9)))
      .toMap
    assert(rows(0L) == ((true, true, true, true, true)), s"got ${rows(0L)}")
    assert(!rows(1L)._1 && !rows(1L)._5)
    assert(!rows(2L)._3 && !rows(2L)._5)
    assert(!rows(3L)._2 && !rows(3L)._4 && !rows(3L)._5)
  }

  test("pipelineDecontam: flags only docs sharing a 13-gram with the benchmark") {
    // 13 tokens — the full standard decontamination window
    val leaked = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu"
    val twelve = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = Seq(
      (0L, leaked, "src0"),                                       // benchmark
      (1L, "prefix words then " + leaked + " trailing text here", "src1"), // leaked span
      (2L, twelve + " DIFFERENT tail words pad pad pad", "src1"), // 12-token overlap only
      (3L, "completely disjoint vocabulary nothing shared at all today friends", "src2"),
    ).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
    val rows = Curation.pipelineDecontamDf(docs, "src0").collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(rows(1L)._2 && rows(1L)._1 >= 1, s"got ${rows(1L)}")
    assert(rows(2L) == ((0L, false)), s"12-token overlap must not trip 13-grams: ${rows(2L)}")
    assert(rows(3L) == ((0L, false)))
    assert(!rows.contains(0L), "benchmark docs are not part of the verdict table")
  }

  test("pipelineDecontam: window length is a parameter (n=5 catches shorter leaks)") {
    val leak5 = "omega psi chi phi upsilon"
    val docs = Seq(
      (0L, leak5, "src0"),
      (1L, "some prefix " + leak5 + " and a tail", "src1"),
    ).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
    val at13 = Curation.pipelineDecontamDf(docs, "src0").collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    val at5 = Curation.pipelineDecontamDf(docs, "src0", n = 5).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(!at13(1L), "a 5-token leak is below the 13-gram window")
    assert(at5(1L), "n=5 must flag the same leak")
  }

  test("pipelinePii: counts and redacts planted emails, IPs, and phones") {
    val docs = Seq(
      (0L, "contact alice.smith+spam@mail.example.org or bob@ex.io today", "s"),
      (1L, "server 10.0.42.7 and 192.168.1.1 answered", "s"),
      (2L, "call 555-123-4567 or 555.987.6543 now", "s"),
      (3L, "nothing sensitive here at all", "s"),
      (4L, "mixed: a@b.co from 8.8.8.8 dialed 123-456-7890", "s"),
      // overlap: ip-shaped local part — email wins (applied first),
      // so n_ip must be 0: counts describe what the redaction DID
      (5L, "reach 10.0.42.7@mail.example.org today", "s"),
    ).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
    val rows = Curation.pipelinePiiDf(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getBoolean(5))).toMap
    assert(rows(0L) == ((2L, 0L, 0L, "contact [EMAIL] or [EMAIL] today", true)))
    assert(rows(1L) == ((0L, 2L, 0L, "server [IP] and [IP] answered", true)))
    assert(rows(2L) == ((0L, 0L, 2L, "call [PHONE] or [PHONE] now", true)))
    assert(rows(3L) == ((0L, 0L, 0L, "nothing sensitive here at all", false)))
    assert(rows(4L) == ((1L, 1L, 1L, "mixed: [EMAIL] from [IP] dialed [PHONE]", true)))
    assert(rows(5L) == ((1L, 0L, 0L, "reach [EMAIL] today", true)))
  }

  test("samplePerGroup: exact n per large group, whole small group, invariant") {
    val docs = ((1L to 5L).map(i => (i, "aa")) ++
      (100L to 139L).map(i => (i, "bb")))
      .toDF("doc_id", "lang")
    val got = graft.operators.Curation.samplePerGroupDf(docs).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val byLang = got.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    // below n: the sample IS the group; above n: exactly n, a subset
    assert(byLang("aa") == (1L to 5L))
    assert(byLang("bb").size == graft.operators.Curation.PerGroupN)
    assert(byLang("bb").forall(d => d >= 100L && d <= 139L))
    assert(byLang("bb") == byLang("bb").sorted, "ids emitted ascending")
    // pure multiset function: any partitioning picks the same sample
    val again = graft.operators.Curation.samplePerGroupDf(docs.repartition(7))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == again.toSeq)
  }

  test("sampleWeighted: deterministic, and keep-rate tracks the weight") {
    val docs = graft.core.Tables(spark, Sf).documents
    val a = Curation.sampleWeightedDf(docs).collect().map(_.getLong(0)).toSeq
    val b = Curation.sampleWeightedDf(docs).collect().map(_.getLong(0)).toSeq
    assert(a == b, "sample must be identical across runs")
    assert(a.nonEmpty && a.length < docs.count())
    // E[kept] = Σ w(d); the hash gate realizes each doc's own
    // keep-probability, so the total concentrates near it
    val expected = docs
      .select(least(lit(1.0), length(col("text")).cast("double") / 500.0).as("w"))
      .agg(sum(col("w"))).head().getDouble(0)
    assert(math.abs(a.length - expected) / expected < 0.15,
      s"kept ${a.length}, expected ≈ $expected")
  }

  test("sampleStratified: deterministic, subset, and balanced to the minority") {
    val docs = graft.core.Tables(spark, Sf).documents
    val a = Curation.sampleStratifiedDf(docs).collect().map(_.getLong(0)).toSeq
    val b = Curation.sampleStratifiedDf(docs).collect().map(_.getLong(0)).toSeq
    assert(a == b, "sample must be identical across runs")
    assert(a.nonEmpty)
    val perLang = Curation.sampleStratifiedDf(docs)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val minTotal = docs.groupBy("lang").count()
      .agg(min("count")).head().getLong(0)
    // every stratum lands within hash noise of the minority size:
    // expected = min_n, binomial sd < sqrt(min_n)
    perLang.foreach { case (lang, n) =>
      val sd = math.sqrt(minTotal.toDouble)
      assert(math.abs(n - minTotal) <= 4 * sd,
        s"$lang sampled $n, expected ~$minTotal")
    }
  }

  test("pipelineMix: water-line semantics, determinism, corpus replay") {
    // planted: en is targeted at 400000 ppm with 8 docs (capacity
    // 8e6/4e5 = 20), zh at 100000 ppm with 2 docs (capacity
    // 2e6/1e5 = 20), fr untargeted-lang stand-in via 'xx'. Both
    // capacities tie at T = 20 → BOTH langs are binding: fraction 1,
    // threshold 2^20, every doc kept — a closed form with no hash
    // dependence. The untargeted lang must drop entirely.
    val planted = ((0L until 8L).map(i => (i, "en")) ++
      Seq((100L, "zh"), (101L, "zh"), (200L, "xx"), (201L, "xx")))
      .toDF("doc_id", "lang")
    val kept = Curation.pipelineMixDf(planted).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(kept == ((0L until 8L).map(i => (i, "en")) ++
      Seq((100L, "zh"), (101L, "zh"))).toSet,
      s"binding langs keep everything, untargeted drop: $kept")
    // sub-binding fraction: adding 8 more zh docs makes en binding
    // (caps: en 20, zh 25 → T = 20, zh fraction 0.8) — zh keeps a
    // strict hash-gated subset, en still keeps all
    val planted2 = ((0L until 8L).map(i => (i, "en")) ++
      (100L until 110L).map(i => (i, "zh"))).toDF("doc_id", "lang")
    val kept2 = Curation.pipelineMixDf(planted2).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(kept2.filter(_._2 == "en").map(_._1) == (0L until 8L).toSet)
    val zhKept = kept2.filter(_._2 == "zh")
    assert(zhKept.size < 10 && zhKept.subsetOf(
      (100L until 110L).map(i => (i, "zh")).toSet))
    // partitioning invariance: the kept SET is a pure row function
    assert(Curation.pipelineMixDf(planted2.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == kept2)
    // corpus run agrees with an independent scalar replay of the
    // water-line + threshold math over collected per-lang counts
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val targets = Curation.MixTargetsPpm.toMap
    val caps = counts.collect { case (l, n) if targets.contains(l) =>
      l -> n * 1000000L / targets(l) }
    val t = caps.values.min
    val thresh = caps.map { case (l, _) =>
      l -> math.floor(math.min(1.0,
        (targets(l).toDouble * t.toDouble) /
          (counts(l).toDouble * 1000000.0)) * 1048576).toLong }
    val expected = docs.select(col("doc_id"), col("lang"))
      .withColumn("b", pmod(graft.functions.PortableHash.h60(
        concat(lit("mix#"), col("doc_id").cast("string"))), lit(1048576L)))
      .collect()
      .filter(r => thresh.get(r.getString(1)).exists(r.getLong(2) < _))
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val corpus = Curation.pipelineMix(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(corpus == expected && corpus.nonEmpty)
    // the achieved mix tracks the target within hash noise
    val keptPerLang = corpus.groupBy(_._2).view.mapValues(_.size).toMap
    val total = corpus.size.toDouble
    keptPerLang.foreach { case (l, n) =>
      val want = targets(l).toDouble / 1000000.0
      assert(math.abs(n / total - want) < 4 * math.sqrt(want / total),
        s"$l: got ${n / total}, target $want")
    }
  }

  test("sampleImportance: resampling provably moves the mix toward the target") {
    // disjoint vocabularies: target-domain docs speak alpha/beta/...,
    // off-domain docs speak zulu/yankee/... — the hashed-unigram
    // likelihood ratio is strongly positive for the first and strongly
    // negative for the second, so the keep gate must separate them
    val enText = "alpha beta gamma delta epsilon alpha beta gamma delta epsilon"
    val xxText = "zulu yankee xray whiskey victor zulu yankee xray whiskey victor"
    val docs = ((0L until 20L).map(i => (i, "en", enText)) ++
      (100L until 160L).map(i => (i, "xx", xxText)))
      .toDF("doc_id", "lang", "text")
    val kept = graft.operators.Curation.sampleImportanceDf(docs).collect()
    val keptEn = kept.count(_.getString(1) == "en")
    val keptXx = kept.count(_.getString(1) == "xx")
    // every target doc scores avg ratio ln(n_all/n_tgt) > 0 -> kept
    assert(keptEn == 20, s"all target-domain docs must survive, got $keptEn")
    // off-domain docs score strongly negative -> nearly all dropped
    assert(keptXx < 10, s"off-domain docs must be mostly dropped, got $keptXx")
    // the kept mix moved toward the target: en fraction rose from 25%
    val frac = keptEn.toDouble / (keptEn + keptXx)
    assert(frac > 0.6, s"resampled target fraction $frac must exceed input 0.25")
    // deterministic: a rerun keeps the identical set
    assert(graft.operators.Curation.sampleImportanceDf(docs).collect()
      .map(_.getLong(0)).toSet == kept.map(_.getLong(0)).toSet)
  }

  test("pipelineCurriculum: stages partition the corpus into ordered quality bands") {
    val rows = Curation.pipelineCurriculum(spark, Sf).collect()
    val stages = rows.map(_.getInt(0))
    assert(stages.sameElements(stages.sorted) && stages.distinct.length == stages.length)
    assert(stages.forall(s => s >= 0 && s <= 9))
    // the stages PARTITION the corpus: doc and token budgets sum to
    // the corpus totals
    val docs = graft.core.Tables(spark, Sf).documents
    assert(rows.map(_.getLong(1)).sum == docs.count())
    val totTok = docs
      .select(org.apache.spark.sql.functions.size(
        graft.functions.Shingles.tokens(col("text"))).cast("long").as("n"))
      .agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
    assert(rows.map(_.getLong(2)).sum == totTok)
    // quality bands are ordered and non-overlapping: a doc in stage i
    // never outscores a doc in stage i+1
    rows.sliding(2).foreach {
      case Array(a, b) => assert(a.getLong(4) <= b.getLong(3),
        s"stage ${a.getInt(0)} q_max ${a.getLong(4)} > stage ${b.getInt(0)} q_min ${b.getLong(3)}")
      case _ =>
    }
    // decile edges from a 1000-sample over 500 docs ≈ exact deciles:
    // no stage should be empty or hold more than a quarter
    val n = rows.map(_.getLong(1)).sum
    rows.foreach(r => assert(r.getLong(1) > 0 && r.getLong(1) <= n / 4 + 1))
  }

  test("non-distinct shingles keep duplicates; distinct variant is the set") {
    val df = Seq((0L, "x y x y")).toDF("doc_id", "text")
    val all = df.select(graft.functions.ShingleCol.nGramShingles(
        split(col("text"), " "), 2, distinct = false).as("g"))
      .head().getSeq[String](0)
    assert(all == Seq("x y", "y x", "x y"))
    val dis = df.select(graft.functions.ShingleCol.nGramShingles(
        split(col("text"), " "), 2).as("g"))
      .head().getSeq[String](0)
    assert(dis == Seq("x y", "y x"))
  }

  test("pipeline funnel: monotone stages that match the stage operators") {
    val f = Curation.pipelineFunnel(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(f.map(_._2).toSeq == Seq("raw", "quality", "dedup", "decontam"))
    val n = f.map(_._3)
    assert(n(0) >= n(1) && n(1) >= n(2) && n(2) >= n(3), n.toSeq)
    assert(n(0) > 0 && n(3) > 0)
    // stage 1 must equal the standalone gopher keep count on the
    // bench-excluded corpus — the composition reuses, not re-derives
    val corpus = graft.core.Tables(spark, Sf).documents
      .filter(col("source") =!= "src0")
    val keep = Curation.textGopherDf(corpus).filter(col("keep")).count()
    assert(n(1) == keep)
  }
}
