package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.functions.{Shingles, TextAnalysis}
import graft.operators.{Dedup, TextOps}

/** Engine-side unicode contracts. The full cross-engine story is the
  * unicode parity gate (tools/unicode_gate.sh: the 133-query oracle
  * compare over a deterministic multi-script corpus); these specs pin
  * the SPARK-side semantics that gate relies on, so a regression is
  * attributable without running DuckDB.
  *
  * The two portability rules under test:
  * - whitespace tokenization is ASCII-space-trimmed (`trim` removes
  *   0x20 only) — the oracle mirrors it with `trim(text, ' ')`;
  * - case-folding in fingerprint/langid/readability is [[TextAnalysis
  *   .asciiFold]] (A-Z → a-z via `translate`), never `lower()`: Java's
  *   full-string lowercase is locale-sensitive (tr_TR maps I → ı) and
  *   applies one-to-many special casing (İ → i + combining dot) that
  *   DuckDB's utf8proc lower does not share, so a `lower`-derived md5
  *   dedup key would differ across executor locales AND engines. */
class UnicodeSpec extends SparkSpecBase {
  import spark.implicits._

  test("asciiFold equals lower on ASCII and leaves non-ASCII untouched") {
    val rows = Seq("MiXeD Case 42!", "İstanbul STRASSE ß", "ΑΝΆΛΥΣΗ Данные")
      .toDF("t")
      .select(TextAnalysis.asciiFold(col("t")).as("f"),
        lower(col("t")).as("l"))
      .collect()
    assert(rows(0) == Row("mixed case 42!", "mixed case 42!"))
    // İ survives the fold verbatim (Java lower would mint i+U+0307,
    // utf8proc a bare i — both locale/engine hazards the fold avoids)
    assert(rows(1).getString(0) == "İstanbul strasse ß")
    // Greek/Cyrillic capitals also pass through untouched
    assert(rows(2).getString(0) == "ΑΝΆΛΥΣΗ Данные")
  }

  test("fingerprint is İ-stable: differs only by ASCII case") {
    val fps = Seq("The İstanbul Data", "the İstanbul data",
      "the istanbul data").toDF("text")
      .select(TextAnalysis.fingerprint(col("text")).as("fp"))
      .collect().map(_.getString(0))
    assert(fps(0) == fps(1), "ASCII case must not split dup groups")
    assert(fps(1) != fps(2), "non-ASCII letters are significant")
  }

  test("whitespace tokens: unicode spaces are token chars, not separators") {
    // ideographic space (U+3000) and NBSP are NOT \s in Java or RE2
    // and NOT trimmed by either engine's ASCII-space trim — the
    // contract the oracle's trim(text, ' ') mirrors
    val t = "a　b  c 　　"
    val toks = Seq(t).toDF("text")
      .select(Shingles.tokens(col("text")).as("ts"))
      .head().getSeq[String](0)
    assert(toks == Seq("a　b", "c", "　　"))
  }

  test("CharMoments counts astral code points once (surrogate pairs)") {
    // "🚀🚀a": 3 code points, counts {🚀: 2, a: 1}
    val r = Seq("🚀🚀a").toDF("text")
      .select(TextAnalysis.charMoments(col("text")).as("m"))
      .select(col("m.n"), col("m.s_micro")).head()
    assert(r.getLong(0) == 3L)
    // s_micro = 2*round(ln2*1e6) + 1*round(ln1*1e6) = 2*693147
    assert(r.getLong(1) == 2L * 693147L)
  }

  test("substring spans survive astral code points (no INT32 overflow)") {
    // a 64+-char window of repeated astral chars drives the anchor
    // polynomial with code points ≥ 0x1F680 — the ADVICE overflow
    // class; BIGINT widening must keep it exact, not throw under ANSI
    val boiler = ("🚀" * 20) + "shared boilerplate across docs " +
      "x" * 40
    val docs = Seq(
      (1L, "prefix one " + boiler + " tail A"),
      (2L, "a different and longer prefix " + boiler + " tail B"))
      .toDF("doc_id", "text")
    val spans = Dedup.substringSpansDf(docs, win = 64)
      .filter(col("n_docs") > 1).count()
    assert(spans > 0, "offset-shifted astral boilerplate must align")
  }

  test("langid scoring folds ASCII only — no locale-dependent lowering") {
    // 'THE AND OF TO IS' hits the en lexicon through the fold even
    // though lower('İ...') paths would be locale-fragile
    val pred = Seq("THE data AND more OF it TO see IS here İ")
      .toDF("text")
      .select(TextOps.langidScores(col("text")).getField("lang"))
      .head().getString(0)
    assert(pred == "en")
  }

  test("normalizeText: NFC + SIMPLE casefold — 1:1, locale-free, composed keys") {
    import graft.functions.Normalize.normalizeText
    def norm(s: String): String =
      Seq(s).toDF("t").select(normalizeText(col("t"))).head().getString(0)
    // decomposed and composed forms land on ONE key
    val composed = "\u00e9l\u00e8ve"      // élève, precomposed
    val decomposed = "e\u0301le\u0300ve"  // e+combining-acute, e+combining-grave
    assert(norm(decomposed) == norm(composed))
    assert(norm(decomposed) == composed)
    // simple mapping: İ folds to a SINGLE 'i' (the full mapping would
    // append U+0307 and fork the key from utf8proc's answer)
    assert(norm("İstanbul") == "istanbul")
    assert(norm("İstanbul").length == 8)
    // ß has no uppercase-to-fold here and stays; SS folds to ss
    assert(norm("STRASSE ß") == "strasse ß")
    // no-lowercase code points pass through (CJK, astral math, emoji)
    assert(norm("数据 𝕊 🚀") == "数据 𝕊 🚀")
    // fullwidth Latin has a simple mapping
    assert(norm("ＤＡＴＡ") == "ｄａｔａ")
    // idempotent: a normalized string is a fixed point
    val hostile = "Élève  DONNÉES  İstanbul straße ＤＡＴＡ 数据"
    assert(norm(norm(hostile)) == norm(hostile))
  }

  test("dedup_normalized merges case/NFC/whitespace clones that exact dedup keeps apart") {
    import java.nio.file.Files
    val composed = "Café data"           // é composed
    val decomposed = "Café   DATA"      // e + combining acute, case+ws jitter
    val distinct = "unrelated text"
    val docs = Seq((1L, composed), (2L, decomposed), (3L, distinct))
      .toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft_dnorm").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val exact = graft.operators.Dedup.exact(spark, dir).collect()
    assert(exact.length == 3, "byte-exact dedup must keep all three apart")
    val norm = graft.operators.Dedup.exactNormalized(spark, dir).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(norm.size == 2, s"clones must merge: $norm")
    assert(norm(1L) == 2L, "docs 1+2 form one group under the min keeper")
    assert(norm(3L) == 1L)
  }

  test("text_normalize collapses ASCII whitespace only — U+3000 is content") {
    import graft.functions.Normalize.normalizeText
    val out = Seq((1L, "  A \t B　C  "))
      .toDF("doc_id", "text")
      .select(regexp_replace(trim(normalizeText(col("text"))), "\\s+", " ")
        .as("n"))
      .head().getString(0)
    assert(out == "a b　c", out.map(_.toInt).mkString(","))
  }
}
