package graft.functions

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference,
  AttributeSet, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods

/** Word count's map side in one pass per partition: tokenize each line
  * with [[TokenUtil]]'s byte class and count the tokens in a
  * partition-local open-addressing table, then emit one `(word, c)`
  * row per distinct token. The plan `explode(ascii_tokens)` → partial
  * count pays a key compare, an `UnsafeRow` write and a `getBytes`
  * copy for every token before the shuffle; this pays the write once
  * per distinct token.
  *
  * The table is keyed by the token's byte range, read in place from
  * the row's memory; a token's bytes are copied into the table's arena
  * only when it is first seen. Its memory is bounded by the fixed
  * [[MaxEntries]] and [[MaxArenaBytes]]: when either is reached, the
  * table emits its partial counts and starts empty, so a word can
  * appear in several rows of one partition. Callers sum `c` per word
  * after the shuffle, which gives the same result either way.
  *
  * The planner strategy is installed on the session by [[apply]]
  * itself (check, then prepend to `experimental.extraStrategies`), so
  * it needs no session conf or extension. */
object TokenCounts {
  /** Distinct tokens the table holds before it emits and starts empty. */
  private[graft] val MaxEntries = 1 << 16
  /** Token bytes the arena holds before the same flush. */
  private[graft] val MaxArenaBytes = 1 << 22

  /** Partial counts of the `[A-Za-z]`(`0-9`) runs of `text` over
    * `df`: `(word string NOT NULL, c bigint NOT NULL)`, a word once
    * per partition or more; sum `c` per word for its count. A null
    * `text` has no tokens. */
  def apply(df: DataFrame, text: Column, includeDigits: Boolean): DataFrame = {
    val spark = df.sparkSession
    install(spark)
    val child = df.select(text.as("text")).queryExecution.analyzed
    ColumnBridge.dataFrame(spark, TokenCount(child.output.head, includeDigits, child))
  }

  private object Planner extends SparkStrategy {
    def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case TokenCount(text, digits, output, child) =>
        TokenCountExec(text, digits, output, planLater(child)) :: Nil
      case _ => Nil
    }
  }

  private def install(spark: SparkSession): Unit = synchronized {
    val methods = spark.experimental
    if (!methods.extraStrategies.contains(Planner))
      methods.extraStrategies = Planner +: methods.extraStrategies
  }

  /** The kernel: `(word, c)` rows of the token counts of the string
    * column `ordinal` of `rows` (null skipped). The rows out are one
    * reused `UnsafeRow`. `cap` bounds the distinct tokens held at
    * once; it is a seam for tests of the emit-at-cap path. */
  private[graft] def count(rows: Iterator[InternalRow], ordinal: Int,
      includeDigits: Boolean, cap: Int = MaxEntries): Iterator[InternalRow] =
    new Iterator[InternalRow] {
      require(cap >= 1, s"cap must be positive, got $cap")
      private val table = new TokenTable(cap)
      private val writer = new UnsafeRowWriter(2)
      // the current line's bytes, read in place; the token at `pos` is
      // not yet counted
      private var inLine = false
      private var base: AnyRef = null
      private var off = 0L
      private var len = 0
      private var pos = 0
      private var emitted = 0

      private def nextLine(): Boolean = {
        while (rows.hasNext) {
          val r = rows.next()
          if (!r.isNullAt(ordinal)) {
            r match {
              case u: UnsafeRow =>
                val offsetAndSize = u.getLong(ordinal)
                base = u.getBaseObject
                off = u.getBaseOffset + (offsetAndSize >>> 32)
                len = offsetAndSize.toInt
              case _ =>
                val s = r.getUTF8String(ordinal)
                base = s.getBaseObject
                off = s.getBaseOffset
                len = s.numBytes
            }
            pos = 0
            return true
          }
        }
        false
      }

      /** Counts tokens until the input ends or a new token finds the
        * table full; then `pos` holds that token for the next fill. */
      private def fill(): Unit =
        while (inLine || nextLine()) {
          inLine = true
          var i = pos
          while (i < len) {
            while (i < len && !TokenUtil.isTokenByte(Platform.getByte(base, off + i), includeDigits))
              i += 1
            if (i < len) {
              val start = i
              var h = 0
              var key = 0L
              var b = Platform.getByte(base, off + i)
              while (i < len && TokenUtil.isTokenByte(b, includeDigits)) {
                h = 31 * h + b
                if (i - start < 8) key = (key << 8) | (b & 0xff)
                i += 1
                if (i < len) b = Platform.getByte(base, off + i)
              }
              if (!table.add(base, off + start, i - start, h, key)) { pos = start; return }
            }
          }
          inLine = false
        }

      def hasNext: Boolean =
        emitted < table.size || ((inLine || rows.hasNext) && {
          table.clear(); emitted = 0; fill(); table.size > 0
        })

      def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException
        writer.reset()
        writer.zeroOutNullBytes()
        table.write(emitted, writer)
        emitted += 1
        writer.getRow
      }
    }
}

/** Open-addressing (linear probing) token → count table. Slot values
  * are entry ids + 1 (0 = empty). Entry `i` is `Stride` longs of
  * `meta`: hash and length, the first 8 token bytes packed, the count
  * and the token's arena offset, so a probe that hits reads one entry
  * and touches the arena only for tokens longer than 8 bytes. It
  * starts small and doubles up to `cap` entries, at most half the
  * slots filled. */
private final class TokenTable(cap: Int) {
  import TokenTable.Stride
  private var slots = new Array[Int](1 << 11)
  private var meta = new Array[Long]((1 << 10) * Stride)
  private var arena = new Array[Byte](1 << 14)
  private var used = 0
  var size = 0

  def clear(): Unit = {
    java.util.Arrays.fill(slots, 0)
    size = 0
    used = 0
  }

  /** Counts one occurrence of the `len` bytes at `base`/`off`, whose
    * polynomial hash is `raw` and first 8 bytes packed are `key`;
    * false (nothing counted) when the token is new and the table is
    * full. */
  def add(base: AnyRef, off: Long, len: Int, raw: Int, key: Long): Boolean = {
    val h = mix(raw)
    val head = (h.toLong << 32) | len
    val mask = slots.length - 1
    var s = h & mask
    var e = slots(s)
    while (e != 0) {
      val m = (e - 1) * Stride
      if (meta(m) == head && meta(m + 1) == key && (len <= 8 ||
          ByteArrayMethods.arrayEquals(base, off + 8, arena,
            Platform.BYTE_ARRAY_OFFSET + meta(m + 3) + 8, len - 8))) {
        meta(m + 2) += 1
        return true
      }
      s = (s + 1) & mask
      e = slots(s)
    }
    if (size == cap || (size > 0 && used + len > TokenCounts.MaxArenaBytes)) return false
    if (size * Stride == meta.length) { grow(); return add(base, off, len, raw, key) }
    if (used + len > arena.length)
      arena = java.util.Arrays.copyOf(arena, math.max(arena.length * 2, used + len))
    Platform.copyMemory(base, off, arena, Platform.BYTE_ARRAY_OFFSET + used, len)
    val m = size * Stride
    meta(m) = head
    meta(m + 1) = key
    meta(m + 2) = 1
    meta(m + 3) = used
    used += len
    size += 1
    slots(s) = size
    true
  }

  /** Writes entry `i` as `(word, c)`. */
  def write(i: Int, w: UnsafeRowWriter): Unit = {
    val m = i * Stride
    w.write(0, arena, meta(m + 3).toInt, meta(m).toInt)
    w.write(1, meta(m + 2))
  }

  private def grow(): Unit = {
    meta = java.util.Arrays.copyOf(meta, meta.length * 2)
    slots = new Array[Int](slots.length * 2)
    val mask = slots.length - 1
    var i = 0
    while (i < size) {
      var s = (meta(i * Stride) >>> 32).toInt & mask
      while (slots(s) != 0) s = (s + 1) & mask
      slots(s) = i + 1
      i += 1
    }
  }

  // murmur3's finalizer: spreads the polynomial hash's low bits
  private def mix(raw: Int): Int = {
    var h = raw ^ (raw >>> 16)
    h *= 0x85ebca6b
    h ^= h >>> 13
    h *= 0xc2b2ae35
    h ^ (h >>> 16)
  }
}

private object TokenTable {
  final val Stride = 4
}

/** Logical node of [[TokenCounts]]: `(word, c)` partial counts of the
  * token runs of the string attribute `text` of `child`. */
case class TokenCount(text: Attribute, includeDigits: Boolean,
    output: Seq[Attribute], child: LogicalPlan) extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildInternal(newChild: LogicalPlan): TokenCount =
    copy(child = newChild)
}

object TokenCount {
  def apply(text: Attribute, includeDigits: Boolean, child: LogicalPlan): TokenCount =
    TokenCount(text, includeDigits, Seq(
      AttributeReference("word", StringType, nullable = false)(),
      AttributeReference("c", LongType, nullable = false)()), child)
}

/** Physical node of [[TokenCount]]: [[TokenCounts.count]] over each
  * partition of `child`. */
case class TokenCountExec(text: Attribute, includeDigits: Boolean,
    output: Seq[Attribute], child: SparkPlan) extends UnaryExecNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)

  protected override def doExecute(): RDD[InternalRow] = {
    val ordinal = child.output.indexWhere(_.exprId == text.exprId)
    val digits = includeDigits
    child.execute().mapPartitions(rows => TokenCounts.count(rows, ordinal, digits))
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TokenCountExec =
    copy(child = newChild)
}
