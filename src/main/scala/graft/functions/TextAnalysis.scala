package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-document character-distribution moments as ONE fused map-side
  * kernel: `struct(n, s_micro)` where n is the code-point count and
  * `s_micro = Σ cnt·round(ln(cnt)·10⁶)` over the per-character
  * counts — the exact integers the entropy operator needs, computed
  * in a single O(len) pass per row. The composed formulation
  * (explode one row PER CHARACTER → two groupBys) shuffles the
  * whole corpus's characters to produce a per-doc scalar; this
  * kernel keeps the entire distribution local to the row, so the
  * operator is map-only at any corpus size. Arithmetic is
  * bit-identical to the exploded form: same code-point iteration as
  * Spark's `substring`/DuckDB's `substring` (surrogate pairs count
  * once), and the micro-nat quantization replicates Spark's
  * `round(log(cnt)·1e6, 0)` exactly (BigDecimal HALF_UP, memoized
  * per distinct count). */
case class CharMoments(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("s_micro", LongType, nullable = false)))
  override def prettyName: String = "char_moments"

  def compute(input: UTF8String): InternalRow = {
    val s = input.toString
    val counts = new java.util.HashMap[Integer, Long]()
    var i = 0
    var n = 0L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      counts.merge(cp, 1L, _ + _)
      n += 1
      i += Character.charCount(cp)
    }
    val lnCache = new java.util.HashMap[Long, Long]()
    var sMicro = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val cnt = it.next()
      val l = lnCache.computeIfAbsent(cnt, c =>
        java.math.BigDecimal.valueOf(math.log(c.toDouble) * 1e6)
          .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong)
      sMicro += cnt * l
    }
    InternalRow(n, sMicro)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("charMoments", this,
      classOf[CharMoments].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Text-analysis column functions (SURVEY.md §2 F). All are built from
  * codegen'd `org.apache.spark.sql.functions` — no UDFs — so they stay
  * inside WholeStageCodegen and push down through Catalyst.
  */
object TextAnalysis {

  /** Fused per-doc character moments (see [[CharMoments]]). */
  def charMoments(text: Column): Column =
    ColumnBridge.column(CharMoments(ColumnBridge.expression(text)))

  /** BPE-ish tokenization: letter runs, single digits, or single
    * non-alphanumeric marks — the usual pre-tokenizer regex shape. */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0))

  /** Shared stopword lexicon (public so operator-level reformulations
    * of the ratio metrics stay in sync). */
  val StopWordList: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")
  private def StopWords: Seq[String] = StopWordList

  /** Fraction of tokens that are stopwords, 6dp. */
  def stopwordRatio(toks: Column): Column =
    round(size(filter(toks, t => StopWords.map(t === _).reduce(_ || _)))
      .cast("double") / size(toks), 6)

  /** Fraction of distinct tokens (lexical diversity), 6dp. */
  def distinctRatio(toks: Column): Column =
    round(size(array_distinct(toks)).cast("double") / size(toks), 6)

  /** Fraction of non-alphanumeric, non-space characters, 6dp.
    * Zero-length text reports 0.0 — without the guard the division
    * throws under Spark 4's ANSI mode the first time a 100 TB crawl
    * shard contains an empty document (the synthetic corpus never
    * does, so the guard is value-invisible to every oracle). */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      round((length(text) -
        length(regexp_replace(text, "[^A-Za-z0-9 ]", ""))).cast("double") /
        length(text), 6))

  /** Mean token length, 6dp. */
  def avgTokenLen(toks: Column): Column =
    round(aggregate(toks, lit(0L), (acc, t) => acc + length(t))
      .cast("double") / size(toks), 6)

  /** Locale-independent ASCII case-fold: maps A-Z to a-z and leaves
    * every other code point untouched. `lower()` is the wrong tool
    * for a DISTRIBUTED KEY: Java's full-string lowercase is
    * locale-sensitive (a JVM under tr_TR maps I → ı) and applies
    * one-to-many special casing (İ → i + combining dot) that DuckDB's
    * utf8proc lower (İ → i) does not share — so an md5 over `lower`
    * is neither reproducible across executor locales nor
    * oracle-matchable on non-ASCII corpora. `translate` is a pure
    * 1:1 code-point map, identical in both engines and on every JVM
    * locale; on ASCII text it equals `lower` exactly. */
  def asciiFold(text: Column): Column =
    translate(text, "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz")

  /** Stable document fingerprint: md5 of whitespace-normalized,
    * ASCII-case-folded text ([[asciiFold]] — locale-independent, so
    * the dedup key is identical on every executor and engine).
    * (A rolling polynomial hash variant is [[rollingFingerprint]] —
    * spec-tested, not oracle-checked.) */
  def fingerprint(text: Column): Column =
    md5(asciiFold(regexp_replace(trim(text), "\\s+", " ")))

  /** Rolling polynomial hash (Rabin-Karp shape) over the normalized
    * text, computed with a higher-order aggregate — deterministic and
    * distributed, used for cheap shard-local dedup keys. Kept inside
    * a 1e9+7 modulus so ANSI mode (Spark 4 default) can't overflow:
    * acc < 2³⁰ and base ≈ 2²⁰, so acc·base + c < 2⁶³. */
  def rollingFingerprint(text: Column): Column = {
    val norm = asciiFold(regexp_replace(trim(text), "\\s+", " "))
    aggregate(split(norm, ""), lit(0L),
      (acc, ch) => pmod(acc * lit(1000003L) +
        coalesce(ascii(ch).cast("long"), lit(0L)), lit(1000000007L)))
  }
}
