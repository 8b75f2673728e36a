package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{AsciiTokens, TokenCountExec, TokenCounts}
import graft.operators.TextMR

/** The partition-local token counter plus a sum per word equals
  * explode(ascii_tokens) → groupBy → count, on every path of its table:
  * growth, emit at the entry cap, emit at the arena bound. */
class TokenCountSpec extends SparkSpecBase with AdaptiveSparkPlanHelper {

  private lazy val fixture = java.nio.file.Paths.get(
    getClass.getResource("/wordcount/input").toURI).toString

  private def viaCounter(df: DataFrame, digits: Boolean): Map[String, Long] =
    TokenCounts(df, col("text"), digits)
      .groupBy(col("word")).agg(sum(col("c")).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private def viaExplode(df: DataFrame, digits: Boolean): Map[String, Long] =
    df.select(explode(ColumnBridge.column(
        AsciiTokens(ColumnBridge.expression(col("text")), digits))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Every kernel row, copied, as (word, c). */
  private def kernelRows(lines: Seq[String], digits: Boolean, cap: Int): Seq[(String, Long)] =
    TokenCounts.count(lines.iterator.map(l => InternalRow(UTF8String.fromString(l))),
        0, digits, cap)
      .map(r => r.getUTF8String(0).toString -> r.getLong(1)).toSeq

  private def summed(rows: Seq[(String, Long)]): Map[String, Long] =
    rows.groupMapReduce(_._1)(_._2)(_ + _)

  private def truth(lines: Seq[String], digits: Boolean): Map[String, Long] = {
    val delim = if (digits) "[^A-Za-z0-9]+" else "[^A-Za-z]+"
    lines.filter(_ != null).flatMap(_.split(delim)).filter(_.nonEmpty)
      .groupMapReduce(identity)(_ => 1L)(_ + _)
  }

  /** A corpus over `vocab` distinct letter words: word i is i in
    * base 26 over a-z, lines of 8 words joined by mixed delimiters. */
  private def generated(vocab: Int, lines: Int): Seq[String] = {
    def word(i: Int): String =
      if (i < 26) ('a' + i).toChar.toString else word(i / 26 - 1) + ('a' + i % 26).toChar
    val rng = new scala.util.Random(7)
    Seq.tabulate(lines)(l =>
      Seq.fill(8)(word(if (l % 2 == 0) rng.nextInt(vocab) else rng.nextInt(50)))
        .mkString(if (l % 3 == 0) ", " else " -- "))
  }

  test("counter + sum equals explode → groupBy → count on the fixture, 1 and 7 partitions") {
    val text = spark.read.text(fixture).toDF("text")
    for (parts <- Seq(1, 7); digits <- Seq(true, false)) {
      val df = text.repartition(parts)
      val got = viaCounter(df, digits)
      assert(got.nonEmpty)
      assert(got == viaExplode(df, digits), s"parts=$parts digits=$digits")
    }
  }

  test("counter + sum equals explode on a vocabulary past the table's initial capacity") {
    import spark.implicits._
    val lines = generated(vocab = 6000, lines = 4000)
    val want = truth(lines, digits = false)
    assert(want.size > 4096, s"vocabulary ${want.size} does not force growth")
    for (parts <- Seq(1, 7)) {
      val df = lines.toDF("text").repartition(parts)
      assert(viaCounter(df, digits = false) == want, s"parts=$parts")
      assert(viaExplode(df, digits = false) == want, s"parts=$parts")
    }
  }

  test("emit at cap: partial counts restart empty and still sum to the exact counts") {
    val lines = generated(vocab = 300, lines = 200)
    val want = truth(lines, digits = false)
    for (cap <- Seq(1, 3, 100)) {
      val rows = kernelRows(lines, digits = false, cap = cap)
      assert(summed(rows) == want, s"cap=$cap")
      assert(rows.size > want.size, s"cap=$cap emitted no partials")
      // each flush holds at most `cap` distinct words
      assert(rows.grouped(cap).forall(g => g.map(_._1).distinct.size == g.size))
    }
    // the default cap holds this vocabulary: one row per word
    assert(kernelRows(lines, digits = false, cap = TokenCounts.MaxEntries).size == want.size)
  }

  test("emit at the arena bound: long distinct tokens flush before the arena passes it") {
    val len = TokenCounts.MaxArenaBytes / 3 + 1
    val toks = Seq("a", "b", "c", "d").map(_ * len)
    val rows = kernelRows(toks :+ toks.head, digits = false, cap = TokenCounts.MaxEntries)
    // a, b fill 2/3 of the arena; c does not fit, so a, b go out first
    assert(rows.map(r => (r._1.head, r._1.length, r._2)) ==
      Seq(('a', len, 1L), ('b', len, 1L), ('c', len, 1L), ('d', len, 1L), ('a', len, 1L)))
  }

  test("edge bytes: empty, delimiters only, non-ASCII delimiters, digits, null text, shared 8-byte heads") {
    import spark.implicits._
    val lines = Seq("", " ,;!? \t", "café naïve 日本x", "abc123def 42 x", null,
      "abcdefghij abcdefghik;abcdefgh abcdefghij")
    val df = lines.toDF("text")
    val heads = Map("abcdefghij" -> 2L, "abcdefghik" -> 1L, "abcdefgh" -> 1L)
    val letters = heads ++
      Map("caf" -> 1L, "na" -> 1L, "ve" -> 1L, "x" -> 2L, "abc" -> 1L, "def" -> 1L)
    val alnum = heads ++
      Map("caf" -> 1L, "na" -> 1L, "ve" -> 1L, "x" -> 2L, "abc123def" -> 1L, "42" -> 1L)
    assert(viaCounter(df, digits = false) == letters)
    assert(viaCounter(df, digits = true) == alnum)
    assert(viaExplode(df, digits = false) == letters)
    assert(viaExplode(df, digits = true) == alnum)
    assert(summed(kernelRows(lines, digits = true, cap = 2)) == alnum)
    assert(kernelRows(Seq(null, "", "..."), digits = true, cap = 2).isEmpty)
  }

  test("word-count plans run the counter, not explode, and keep their schemas") {
    val doc = s"$fixture/doc-0.txt"
    val plans = Seq(
      "wordcountFile" -> TextMR.wordcountFile(spark, doc),
      "mr_wordcount" -> SparkEntry.queries("mr_wordcount")(spark, Sf),
      "mr_heavyhitters" -> SparkEntry.queries("mr_heavyhitters")(spark, Sf))
    plans.foreach { case (name, df) =>
      df.collect()
      val plan = df.queryExecution.executedPlan
      assert(collect(plan) { case e: TokenCountExec => e }.nonEmpty, s"$name: $plan")
      assert(collect(plan) { case g: GenerateExec => g }.isEmpty, s"$name: $plan")
      assert(!df.schema("word").nullable && !df.schema("cnt").nullable, s"$name: ${df.schema}")
    }
    assert(TextMR.wordcountFile(spark, doc).collect().toSeq.take(3) ==
      Seq(Row("10", 1L), Row("2", 1L), Row("END", 1L)))
  }
}
