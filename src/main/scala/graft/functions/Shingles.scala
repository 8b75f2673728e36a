package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shingling + hash-family sketches for document dedup
  * (SURVEY.md §2 D). Everything is built from codegen'd built-ins
  * (split / transform / aggregate / xxhash64) — no UDFs — so the
  * sketch computation is one narrow projection per document and the
  * only shuffles in the dedup operators are the bucket-key joins.
  */
object Shingles {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** DuckDB twin of [[tokens]] over the SQL expression `text`. The
    * two-arg `trim(x, ' ')` strips ASCII spaces only, like Spark's
    * `trim`; DuckDB's one-arg `trim` also strips unicode whitespace. */
  def tokensSql(text: String): String =
    s"string_split_regex(trim($text, ' '), '\\s+')"

  /** Distinct word 3-gram shingles of a text column (codegen'd custom
    * expression — see [[NGramShingles]]). */
  def grams3(text: Column): Column =
    graft.functions.ShingleCol.nGramShingles(tokens(text), 3)

  /** DuckDB twin of [[ShingleCol.nGramShingles]] over the token-list
    * column `t` (`n` ≥ 2): the word n-grams in order, or the one
    * all-tokens shingle of a doc shorter than `n` tokens; the set of
    * them when `distinct`. */
  def nGramsSql(t: String, n: Int, distinct: Boolean): String = {
    val gram = (0 until n).map(k => if (k == 0) s"$t[i]" else s"$t[i+$k]")
      .mkString(" || ' ' || ")
    val last = if (n == 2) s"len($t)" else s"len($t) - ${n - 2}"
    val grams = s"list_transform(range(1, $last), i -> $gram)"
    s"""CASE WHEN len($t) < $n THEN [array_to_string($t, ' ')]
       ELSE ${if (distinct) s"list_distinct($grams)" else grams}
       END"""
  }

  /** DuckDB twin of [[grams3]]: the CTEs `toks(doc_id, t)`,
    * `g(doc_id, gs)` and `posts(doc_id, gram)` over `documents`, to
    * follow a `WITH`. */
  val grams3Cte: String =
    s"""toks AS (
           SELECT doc_id, ${tokensSql("text")} AS t
           FROM documents),
         g AS (
           SELECT doc_id, ${nGramsSql("t", 3, distinct = true)} AS gs
           FROM toks),
         posts AS (SELECT doc_id, unnest(gs) AS gram FROM g)"""

  /** HOF formulation of [[grams3]] — interpreted, kept as the
    * cross-check reference for ShinglesSpec. */
  def grams3Hof(text: Column): Column = {
    val t = tokens(text)
    array_distinct(
      when(size(t) < 3, array(array_join(t, " ")))
        .otherwise(transform(sequence(lit(0), size(t) - 3),
          i => concat_ws(" ",
            element_at(t, i + 1), element_at(t, i + 2), element_at(t, i + 3)))))
  }

  /** MinHash signature: k independent hash functions, each the min of
    * an affine-salted [[PortableHash.h60]] over the shingle set — the
    * declarative cross-check reference for
    * [[graft.functions.MinHashAgg]] (same salts, bit-identical;
    * SketchAggsSpec asserts). */
  def minhashSignature(grams: Column, k: Int): Column = {
    val (as, bs) = PortableHash.affineParams(k)
    array((0 until k).map(i =>
      array_min(transform(grams,
        g => PortableHash.salted(PortableHash.h60(g), as(i), bs(i))))): _*)
  }

  /** DuckDB twin of [[minhashSignature]] over the `posts` CTE of
    * [[grams3Cte]]: the CTEs `mh(doc_id, hp)` (base hash mod P) and
    * `sig(doc_id, s0 … s{k-1})`, to follow other CTEs. */
  def minhashSigCte(k: Int): String = {
    val (as, bs) = PortableHash.affineParams(k)
    val p = PortableHash.P
    val cols = (0 until k)
      .map(i => s"min((${as(i)} * hp + ${bs(i)}) % $p) AS s$i")
      .mkString(",\n                 ")
    s"""mh AS (SELECT doc_id,
                       ${PortableHash.h60Sql("gram")}
                         % $p AS hp
                FROM posts),
         sig AS (SELECT doc_id,
                 $cols
                 FROM mh GROUP BY doc_id)"""
  }

  /** Banded LSH keys from a minhash signature: `bands` substrings of
    * `rowsPerBand` signature entries each, concatenated to one bucket
    * key per band (entries are 31-bit, so plain decimal concat is a
    * collision-free key — and portable to the SQL oracle). Two docs
    * sharing any band key become a candidate pair. */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => concat(b.cast("string"), lit("#"),
        array_join(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))
          .cast("array<string>"), "_")))

  /** DuckDB twin of [[bandKeys]] over the `s0 …` columns of
    * [[minhashSigCte]]'s `sig`: a list literal of `bands` keys. */
  def bandKeysSql(bands: Int, rowsPerBand: Int): String =
    (0 until bands).map { b =>
      (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => s"CAST(s$i AS VARCHAR)").mkString(s"'$b#' || ", " || '_' || ", "")
    }.mkString("[\n                 ", ",\n                 ", "]")

  /** 64-bit SimHash over the shingle set: per-bit signed counts of the
    * shingles' [[PortableHash.h60]] bits, then the sign pattern packed
    * to a long (bits 60-63 are always 0 — the base hash is 60-bit). */
  def simhash64(grams: Column): Column =
    simhashImpl(transform(grams, g => PortableHash.h60(g)))

  private def simhashImpl(hashes: Column): Column =
    // Static 64-way expansion (shift amounts must be literals): bit j
    // of the result is the sign of the ±1 vote sum over shingle-hash
    // bit j. One wide projection, still fully codegen'd.
    (0 until 64).map { j =>
      val vote = aggregate(hashes, lit(0L), (acc, h) =>
        acc + when(shiftright(h, j).bitwiseAND(lit(1L)) === lit(1L), lit(1L))
          .otherwise(lit(-1L)))
      shiftleft(when(vote > 0, lit(1L)).otherwise(lit(0L)), j)
    }.reduce(_ bitwiseOR _)

  /** DuckDB twin of [[simhash64]] over the `posts` CTE of
    * [[grams3Cte]]: the CTEs `h(doc_id, h)`, `votes(doc_id, j, v)` (the
    * ±1 vote sum of hash bit j) and `sig(doc_id, sim)`, to follow
    * other CTEs. */
  val simhashCte: String =
    s"""h AS (SELECT doc_id,
                      ${PortableHash.h60Sql("gram")} AS h
               FROM posts),
         votes AS (SELECT doc_id, j,
                          sum(CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END) AS v
                   FROM h CROSS JOIN (SELECT unnest(range(0, 60)) AS j)
                   GROUP BY doc_id, j),
         sig AS (SELECT doc_id,
                        CAST(sum(CASE WHEN v > 0
                                 THEN CAST(1 AS BIGINT) << j
                                 ELSE 0 END) AS BIGINT) AS sim
                 FROM votes GROUP BY doc_id)"""

  /** Hamming distance between two longs (codegen'd bit_count). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Exact Jaccard similarity of two shingle-set columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")
}
