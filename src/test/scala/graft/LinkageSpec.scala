package graft

import graft.operators.Linkage

/** Fuzzy dictionary join (operators/Linkage.scala): FastSS blocking
  * completeness, planted distances, unicode (codepoint) contract. */
class LinkageSpec extends SparkSpecBase {

  private def dict(names: String*) = {
    import spark.implicits._
    names.zipWithIndex.map { case (n, i) => (n, i.toLong + 1) }
      .toDF("name", "cnt")
  }

  /** Textbook DP levenshtein over code points — the spec's own
    * independent reference (no Spark, no blocking). */
  private def lev(a: String, b: String): Int = {
    val x = a.codePoints.toArray; val y = b.codePoints.toArray
    val d = Array.tabulate(x.length + 1)(i => Array.tabulate(y.length + 1)(j =>
      if (i == 0) j else if (j == 0) i else 0))
    for (i <- 1 to x.length; j <- 1 to y.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (x(i - 1) == y(j - 1)) 0 else 1))
    d(x.length)(y.length)
  }

  test("planted pairs: exact distances, threshold respected") {
    val names = Seq("kitten", "mitten", "sitting", "bolt", "bolts", "boot")
    val out = Linkage.fuzzyPairsOf(dict(names: _*))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val want = (for {
      a <- names; b <- names if a < b
      d = lev(a, b) if d >= 1 && d <= Linkage.Tau
    } yield (a, b, d.toLong)).toSet
    // hand-check anchors: one sub, one insert, and the 3-edit
    // kitten–sitting pair excluded at Tau=2
    assert(want.contains(("kitten", "mitten", 1L)))
    assert(want.contains(("bolt", "bolts", 1L)))
    assert(!want.exists(p => p._1 == "kitten" && p._2 == "sitting"))
    assert(out == want, s"missing=${want -- out} extra=${out -- want}")
  }

  test("blocking is complete: blocked result == naive all-pairs (random dictionaries)") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val names = (1 to 60).map(_ =>
        (1 to (3 + rnd.nextInt(6))).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
        .distinct
      val got = Linkage.fuzzyPairsOf(dict(names: _*))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val want = (for {
        a <- names; b <- names if a < b
        d = lev(a, b) if d >= 1 && d <= Linkage.Tau
      } yield (a, b, d.toLong)).toSet
      assert(got == want,
        s"trial $trial: missing=${want -- got} extra=${got -- want}")
    }
  }

  test("q-gram blocking is complete too: == naive all-pairs, short names included") {
    // random dictionaries over a 3-letter alphabet maximize near-pairs;
    // lengths 1..8 straddle the count-bound floor Q*(Tau+1) = 6, so the
    // short-bucket fallback and the mixed long/short path both exercise
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val names = (1 to 60).map(_ =>
        (1 to (1 + rnd.nextInt(8))).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
        .distinct
      val got = Linkage.qgramPairsOf(dict(names: _*))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val want = (for {
        a <- names; b <- names if a < b
        d = lev(a, b) if d >= 1 && d <= Linkage.Tau
      } yield (a, b, d.toLong)).toSet
      assert(got == want,
        s"trial $trial: missing=${want -- got} extra=${got -- want}")
    }
  }

  test("q-gram and FastSS blockings agree on the gated dictionary shape") {
    val names = Seq("lemon blush powder", "lemon blush powdr",
      "limon blush powder", "xylophone case kit", "lemon blush powder x")
    val a = Linkage.fuzzyPairsOf(dict(names: _*)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val b = Linkage.qgramPairsOf(dict(names: _*)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(a == b && a.nonEmpty)
  }

  test("canonicalization: weight election, lexicographic ties, singleton identity") {
    // cluster {widget(5), widgot(9), widgit(9)}: max cnt 9 is tied,
    // 'widgit' < 'widgot' lexicographically -> canonical = widgit;
    // 'xylophone' is a singleton -> canonical = itself
    import spark.implicits._
    val names = Seq(("widget", 5L), ("widgot", 9L), ("widgit", 9L),
      ("xylophone", 3L)).toDF("name", "cnt")
    val out = Linkage.canonicalOf(names).collect()
      .map(r => r.getString(0) ->
        ((r.getString(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out("widget") == (("widgit", 3L, 23L)))
    assert(out("widgot") == (("widgit", 3L, 23L)))
    assert(out("widgit") == (("widgit", 3L, 23L)))
    assert(out("xylophone") == (("xylophone", 1L, 3L)))
  }

  test("counts map back to the entity table") {
    val out = Linkage.fuzzyNames(spark, Sf)
    val parts = graft.core.Tables(spark, Sf).part
      .groupBy("p_name").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = out.collect()
    assert(rows.nonEmpty, "sf0.001 dictionary should contain fuzzy pairs")
    rows.foreach { r =>
      assert(r.getLong(3) == parts(r.getString(0)), r.toString)
      assert(r.getLong(4) == parts(r.getString(1)), r.toString)
      assert(r.getLong(2) >= 1 && r.getLong(2) <= Linkage.Tau)
    }
  }

  test("unicode contract: distance counts code points, not bytes") {
    // byte-based levenshtein would report café→cafe as 2 (é is 2
    // bytes in UTF-8); the operator must report the codepoint answer
    val out = Linkage.fuzzyPairsOf(dict("café", "cafe"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq(("cafe", "café", 1L)), out.mkString(","))
  }

  test("degenerate names: empty and single-char strings block correctly") {
    val out = Linkage.fuzzyPairsOf(dict("", "a", "ab", "xyz"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val want = (for {
      a <- Seq("", "a", "ab", "xyz"); b <- Seq("", "a", "ab", "xyz")
      if a < b; d = lev(a, b) if d >= 1 && d <= 2
    } yield (a, b, d.toLong)).toSet
    assert(out == want, s"missing=${want -- out} extra=${out -- want}")
  }
}
