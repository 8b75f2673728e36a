package graft

class PipelinePackSpec extends SparkSpecBase {
  test("pipeline_pack matches a sequential reference pack per source") {
    val got = graft.operators.TextOps.pipelinePack(spark, Sf, budget = 512)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // reference: walk docs in (source, doc_id) order, cut a new pack
    // whenever the running total passes the budget boundary
    val docs = graft.core.Tables(spark, Sf).documents
      .selectExpr("source", "doc_id",
        "CAST(size(split(trim(text), '\\\\s+')) AS LONG) AS n")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(d => (d._1, d._2))
    val want = docs.groupBy(_._1).flatMap { case (src, ds) =>
      var cum = 0L
      ds.sortBy(_._2).map { case (_, id, n) =>
        val pack = cum / 512; cum += n; (src, pack, id, n)
      }.groupBy(t => (t._1, t._2)).map { case ((s, p), rows) =>
        (s, p) -> (rows.size.toLong, rows.map(_._4).sum,
          rows.map(_._3).min, rows.map(_._3).max)
      }
    }.toMap
    assert(got == want)
    assert(got.nonEmpty)
    // doc-id ranges of consecutive packs never overlap within a source
    got.keys.groupBy(_._1).foreach { case (src, ks) =>
      val ordered = ks.toSeq.sortBy(_._2).map(got)
      ordered.sliding(2).foreach {
        case Seq(a, b) => assert(a._4 < b._3, s"$src packs overlap")
        case _ =>
      }
    }
  }
}

import org.apache.spark.sql.functions._

import graft.functions.Shingles.tokens
import graft.functions.TextAnalysis._
import graft.operators.TextOps

/** The exploded-aggregate textQuality reformulation computes exactly
  * what the column-HOF metrics compute. */
class TextQualitySpec extends SparkSpecBase {

  test("textLmScore: closed-form micro-nat scores on a crafted corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, length, lit}
    // corpus bigrams: "a b"×2, "b a"×1, "a c"×1 → P(b|a)=2/3,
    // P(c|a)=1/3, P(a|b)=1; micro-nats: -405465, -1098612, 0
    val docs = Seq(
      (0L, "a b a c", "s"), (1L, "a b", "s"), (2L, "z", "s"),
    ).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
    val rows = TextOps.textLmScoreDf(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(rows(0L) == ((3L, -405465L + 0L + -1098612L, -0.501359)))
    assert(rows(1L) == ((1L, -405465L, -0.405465)))
    assert(rows(2L) == ((0L, 0L, 0.0)), "a 1-token doc has no bigrams")
  }

  test("textLmScore: corpus scores are negative and boilerplate scores high") {
    val scored = TextOps.textLmScore(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(scored.length == 500)
    // every multi-token doc has some surprisal
    assert(scored.filter(_._2 > 0).forall(_._3 < 0.0))
    // self-trained LM: average per-bigram logprob is bounded below by
    // ln(1/vocab²) — sanity that quantization didn't explode
    assert(scored.forall(_._3 > -12.0))
  }

  test("textTfidf: rare terms out-rank common terms within a doc") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, length, lit}
    // 'rare' appears in 1 of 4 docs; 'common' in all 4 → within doc 0
    // the rare term must rank first despite common's 3× tf
    val docs = Seq(
      (0L, "rare common common common", "s"), (1L, "common one", "s"),
      (2L, "common two", "s"), (3L, "common three", "s"),
    ).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
    val top = TextOps.textTfidfDf(docs, k = 1).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(top(0L) == "rare", s"got ${top(0L)}")
  }

  test("textBm25: more query-term mass ranks higher; non-matching docs absent") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, length, lit}
    val docs = Seq(
      (0L, "spark join window spark join", "s"), // all three terms, high tf
      (1L, "spark filler filler filler filler", "s"), // one term
      (2L, "nothing relevant here", "s"),
    ).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
    val rows = TextOps.textBm25Df(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.map(_._1).toSeq == Seq(0L, 1L), s"got ${rows.toSeq}")
    assert(rows(0)._2 == 3L && rows(1)._2 == 1L)
    assert(rows(0)._3 > rows(1)._3)
  }

  test("exploded-aggregate quality metrics equal the column-HOF formulation") {
    val docs = graft.core.Tables(spark, Sf).documents
    val hof = docs
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"),
        length(col("text")).as("n_chars_m"),
        size(col("toks")).as("n_tokens"),
        avgTokenLen(col("toks")).as("avg_tok_len"),
        stopwordRatio(col("toks")).as("stopword_ratio"),
        distinctRatio(col("toks")).as("distinct_ratio"),
        punctRatio(col("text")).as("punct_ratio"))
      .orderBy("doc_id").collect().map(_.toSeq)
    val agg = TextOps.textQuality(spark, Sf).collect().map(_.toSeq)
    assert(hof.length == agg.length)
    hof.zip(agg).foreach { case (a, b) => assert(a == b, s"$a != $b") }
  }

  test("entropy: closed forms — constant 0, two-symbol ln 2, uniform ln 4, empty 0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aaaaaaaa"),            // one symbol: H = 0
      (2L, "abababab"),            // two equiprobable: H = ln 2
      (3L, "abcdabcd"),            // four equiprobable: H = ln 4
      (4L, ""))                    // empty: H = 0 by convention
      .toDF("doc_id", "text")
    val got = TextOps.textEntropyDf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // expectations run through the SAME micro-nat quantization as the
    // operator (each ln rounded once; off-by-a-micro-nat vs ideal ln)
    def h(n: Long, counts: Seq[Long]): Double = {
      val s = counts.map(c => c * math.rint(math.log(c.toDouble) * 1e6).toLong).sum
      math.rint((math.rint(math.log(n.toDouble) * 1e6).toLong - s.toDouble / n) / 1e6 * 1e6) / 1e6
    }
    assert(got == Seq(
      (1L, 8L, 0.0),
      (2L, 8L, h(8, Seq(4L, 4L))),
      (3L, 8L, h(8, Seq(2L, 2L, 2L, 2L))),
      (4L, 0L, 0.0)))
    assert(math.abs(h(8, Seq(4L, 4L)) - math.log(2)) < 2e-6)
    assert(math.abs(h(8, Seq(2L, 2L, 2L, 2L)) - math.log(4)) < 2e-6)
  }

  test("entropy: partitioning-invariant (integer micro-nat sums)") {
    val a = TextOps.textEntropy(spark, Sf).collect().map(_.toSeq)
    val sp2 = spark.newSession()
    sp2.conf.set("spark.sql.shuffle.partitions", "7")
    val b = TextOps.textEntropy(sp2, Sf).collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("bpeMerges: the classic low/lower/new trajectory, hand-computed") {
    import spark.implicits._
    val docs = Seq((0L, "low low low lower lower new")).toDF("doc_id", "text")
    val got = TextOps.bpeMergesDf(spark, docs, rounds = 4).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
    // pairs round 1: (l,o)=5 (o,w)=5 -> tie breaks to 'l'; then the
    // merged symbols chain: lo+w, low+</w>, then the cnt-2 tie to e+r
    assert(got.toSeq == Seq(
      (1, "l", "o", 5L), (2, "lo", "w", 5L),
      (3, "low", "</w>", 3L), (4, "e", "r", 2L)), got.toSeq.toString)
  }

  test("bpeVocab: post-merge subword table on the low/lower/new corpus, hand-computed") {
    import spark.implicits._
    val docs = Seq((0L, "low low low lower lower new")).toDF("doc_id", "text")
    // after merges (l,o) (lo,w) (low,</w>) (e,r):
    //   low   -> [low</w>] x3
    //   lower -> [low, er, </w>] x2
    //   new   -> [n, e, w, </w>] x1
    val got = TextOps.bpeVocabDf(spark, docs, rounds = 4).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(
      ("</w>", 3L), ("low</w>", 3L), ("er", 2L), ("low", 2L),
      ("e", 1L), ("n", 1L), ("w", 1L)), got.toSeq.toString)
  }

  test("bpeTokens: encode counts hand-check and conserve the vocab total") {
    import spark.implicits._
    val docs = Seq((0L, "low low low lower lower new")).toDF("doc_id", "text")
    // after the 4 learned merges: low -> 1 symbol, lower -> 3, new -> 4
    val got = TextOps.bpeTokensDf(spark, docs, rounds = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((0L, 6L, 3L * 1 + 2 * 3 + 4L)), got.toSeq.toString)
    // conservation on the real corpus: per-doc subword counts sum to
    // the vocabulary table's total (learn+encode agree corpus-wide)
    val corpus = graft.core.Tables(spark, Sf).documents
    val perDoc = TextOps.bpeTokensDf(spark, corpus).collect()
      .map(_.getLong(2)).sum
    val vocabTotal = TextOps.bpeVocabDf(spark, corpus).collect()
      .map(_.getLong(1)).sum
    assert(perDoc == vocabTotal, s"$perDoc != $vocabTotal")
  }

  test("pipeline_pack_bpe: packs conserve the corpus subword total and respect the boundary rule") {
    val packs = graft.operators.TextOps.pipelinePackBpe(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(packs.nonEmpty)
    // conservation: pack token totals sum to the per-doc subword total
    val perDoc = graft.operators.TextOps.textBpeTokens(spark, Sf).collect()
      .map(_.getLong(2)).sum
    assert(packs.map(_._4).sum == perDoc, "pack totals must conserve")
    // boundary rule: a pack's STARTING cumulative offset is below
    // (pack_id+1)*budget, so per source pack ids are contiguous from 0
    packs.groupBy(_._1).foreach { case (src, ps) =>
      val ids = ps.map(_._2).sorted
      assert(ids.head == 0L && ids.sameElements(ids.head to ids.last),
        s"source $src pack ids must be contiguous: ${ids.toSeq}")
    }
  }

  test("textrank: a planted hub out-ranks peripheral words; minCooc prunes rare pairs") {
    import spark.implicits._
    // 'hub' co-occurs (>= 3 times each) with five distinct words;
    // each peripheral word touches only the hub — star graph, hub #1
    val star = (1 to 5).flatMap(i => Seq.fill(3)(s"hub w$i")).mkString(" . ")
    val docs = Seq((0L, star.replace(" . ", " "))).toDF("doc_id", "text")
    val got = graft.operators.TextOps.textrankDf(docs).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(got.nonEmpty && got.head._1 == "hub",
      s"hub must rank first: ${got.toSeq}")
    // all five spokes present, each below the hub
    val spokes = got.filter(_._1.startsWith("w")).map(_._1).toSet
    assert(spokes == (1 to 5).map(i => s"w$i").toSet, got.toSeq.toString)
    assert(got.tail.forall(_._2 < got.head._2))
    // (x,y) adjacency occurs twice ('q' breaks the run) — pruned at
    // the default minCooc = 3, surfaces at 2
    val rare = Seq((0L, "x y q x y")).toDF("doc_id", "text")
    assert(graft.operators.TextOps.textrankDf(rare).collect().isEmpty)
    assert(graft.operators.TextOps.textrankDf(rare, minCooc = 2)
      .collect().map(_.getString(0)).toSet == Set("x", "y"))
  }

  test("bpeMerges: greedy left-to-right on overlapping runs (aaa) and chains (abab)") {
    import spark.implicits._
    // aaa -> a a a </w>: (a,a) counted twice, merged GREEDILY left-first
    // to [aa, a], so round 2 sees (aa,a) and (a,</w>) at 1 each and the
    // tie breaks to a='a' — a right-to-left merge would yield (a,aa)
    val aaa = Seq((0L, "aaa")).toDF("doc_id", "text")
    val g1 = TextOps.bpeMergesDf(spark, aaa, rounds = 2).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
    assert(g1.toSeq == Seq((1, "a", "a", 2L), (2, "a", "</w>", 1L)),
      g1.toSeq.toString)
    // abab: adjacent non-overlapping sites must BOTH merge in one round
    // (the double-space disjoint-match encoding) -> [ab, ab, </w>]
    val abab = Seq((0L, "abab")).toDF("doc_id", "text")
    val g2 = TextOps.bpeMergesDf(spark, abab, rounds = 2).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
    assert(g2.toSeq == Seq((1, "a", "b", 2L), (2, "ab", "</w>", 1L)),
      g2.toSeq.toString)
  }
}
