package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.SpaceSavingAgg
import graft.operators.TextMR

/** The heavy-hitters pair: [[SpaceSavingAgg]] (single-pass bounded
  * state, Misra-Gries bounds under any merge tree) and the canonical
  * order-invariant summary behind `mr_heavyhitters`. */
class SpaceSavingSpec extends SparkSpecBase {
  import spark.implicits._

  /** Planted zipf-ish skew: item "h{i}" appears heavy_i times, plus a
    * long uniform tail — the regime heavy-hitter sketches exist for. */
  private def planted(reps: Int): (DataFrame, Map[String, Long]) = {
    val heavies = Map("hot" -> 4000L, "warm" -> 1500L, "mild" -> 700L)
    val rows =
      heavies.toSeq.flatMap { case (w, n) => Seq.fill(n.toInt)(w) } ++
        (0 until 300).flatMap(i => Seq.fill(reps)(s"tail$i"))
    val truth = heavies ++ (0 until 300).map(i => s"tail$i" -> reps.toLong)
    (rows.toDF("item"), truth)
  }

  private def summary(df: DataFrame, cap: Int, parts: Int): Seq[(String, Long, Long)] =
    df.repartition(parts)
      .agg(SpaceSavingAgg.spaceSaving(col("item"), cap).as("s"))
      .select(explode(col("s")).as("e"))
      .collect()
      .map(r => r.getStruct(0) match {
        case s => (s.getString(0), s.getLong(1), s.getLong(2))
      }).toSeq

  test("spacesaving: MG bounds hold on planted skew at several partitionings") {
    val (df, truth) = planted(reps = 10)
    val n = truth.values.sum // 4000+1500+700+3000 = 9200
    for (parts <- Seq(1, 4, 7); cap <- Seq(8, 32)) {
      val got = summary(df, cap, parts)
      assert(got.size <= cap, s"summary must hold <= $cap entries")
      // theta = hi - lo, identical across entries; bounded by N/(cap+1)
      val thetas = got.map { case (_, lo, hi) => hi - lo }.distinct
      assert(thetas.size == 1)
      val theta = thetas.head
      assert(theta <= n / (cap + 1),
        s"theta $theta must be <= N/(cap+1) = ${n / (cap + 1)}")
      // sandwich: lo <= true <= hi for every reported item
      got.foreach { case (w, lo, hi) =>
        val t = truth(w)
        assert(lo <= t && t <= hi, s"$w: [$lo, $hi] must contain $t")
      }
      // guaranteed containment: any item with true count > theta is in
      // the summary — the three planted heavies always qualify
      val present = got.map(_._1).toSet
      truth.filter(_._2 > theta).keys.foreach { w =>
        assert(present.contains(w), s"heavy item $w (count ${truth(w)}, " +
          s"theta $theta) must survive")
      }
    }
  }

  test("spacesaving: exact regime (capacity >= distinct) is the full wordcount") {
    val (df, truth) = planted(reps = 3)
    val got = summary(df, cap = 512, parts = 5)
    assert(got.map { case (w, lo, _) => w -> lo }.toMap == truth,
      "no compression ever fires, so counters are exact")
    assert(got.forall { case (_, lo, hi) => lo == hi }, "theta must be 0")
  }

  test("spacesaving: SQL registration works") {
    graft.GraftFunctions.register(spark)
    planted(reps = 5)._1.createOrReplaceTempView("ss_items")
    val rows = spark.sql(
      "SELECT explode(spacesaving_agg(item, 4)) AS e FROM ss_items")
      .select("e.item", "e.lo", "e.hi").collect()
    assert(rows.length <= 4 && rows.map(_.getString(0)).contains("hot"))
  }

  test("mr_heavyhitters: canonical summary matches a scalar replay and is layout-stable") {
    val hh = TextMR.heavyHitters(spark, Sf, c = 8).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // scalar replay over the exact counts
    val counts = TextMR.wordcount(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val ranked = counts.sortBy { case (w, c) => (-c, w) }
    val theta = if (ranked.length <= 8) 0L else ranked(8)._2
    val expect = ranked.filter(_._2 > theta)
      .map { case (w, c) => (w, c, c - theta, theta) }.toSeq
    assert(hh.toSeq == expect)
    assert(hh.length <= 8)
    val n = counts.map(_._2).sum
    assert(theta <= n / 9, "theta must satisfy the MG bound")
  }

  test("spacesaving summary is consistent with the canonical one on the corpus") {
    // at matching capacity, every canonical survivor's exact count is
    // inside the sketch's [lo, hi] — the two operators tell one story
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val sketch = summary(docs.select(
      explode(graft.functions.TokenCol.letterTokens(col("text"))).as("item")),
      cap = 8, parts = 4).map { case (w, lo, hi) => w -> ((lo, hi)) }.toMap
    TextMR.heavyHitters(spark, Sf, c = 8).collect().foreach { r =>
      val (w, cnt) = (r.getString(0), r.getLong(1))
      sketch.get(w).foreach { case (lo, hi) =>
        assert(lo <= cnt && cnt <= hi, s"$w: sketch [$lo,$hi] vs exact $cnt")
      }
    }
  }
}
