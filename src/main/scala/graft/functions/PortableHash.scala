package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-portable hash family for the sketch operators (minhash,
  * simhash). Spark's `xxhash64` has no DuckDB twin, which left the
  * hash-family dedup ops rows-only in round 1; this family is built
  * from primitives both engines share — `md5` and 63-bit-safe modular
  * arithmetic — so every sketch op gets a real value-level oracle.
  *
  * - [[h60]]: the top 60 bits of md5, as a non-negative BIGINT;
  *   DuckDB twin [[h60Sql]].
  * - [[affineParams]]: k pairwise-independent salt functions
  *   `h_i(x) = (a_i * (x mod P) + b_i) mod P` over the Mersenne prime
  *   P = 2³¹−1 — the classic universal-hashing construction for
  *   minhash. All intermediates stay < 2⁶², so neither Spark's ANSI
  *   mode nor DuckDB's checked INT64 arithmetic can overflow.
  *
  * The parameters come from a fixed-seed PRNG (deterministic across
  * JVMs) and are emitted as literals into the generated oracle SQL.
  */
object PortableHash {

  /** Mersenne prime 2³¹ − 1: salt outputs fit in 31 bits, products
    * a_i · (x mod P) fit in 62 bits. */
  val P: Long = 2147483647L

  /** Top 60 bits of md5 as a non-negative long: the first 15 hex
    * digits of the digest, read as a number. */
  def h60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** DuckDB twin of [[h60]] over the SQL expression `x`. A CAST call,
    * so `%` and `>>` applied to it bind to the whole hash. */
  def h60Sql(x: String): String =
    s"CAST(('0x' || substring(md5($x), 1, 15)) AS BIGINT)"

  /** k affine salt parameter pairs (a_i ∈ [1, P−1], b_i ∈ [0, P−1]),
    * fixed seed — same values on every executor, every run, and in
    * the generated oracle SQL. */
  def affineParams(k: Int): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(20260812L)
    val a = Array.fill(k)(1L + rnd.nextInt((P - 1).toInt).toLong)
    val b = Array.fill(k)(rnd.nextInt(P.toInt).toLong)
    (a, b)
  }

  /** The i-th salted hash of an [[h60]] column, as a Column
    * expression (used by the declarative cross-check formulation). */
  def salted(h: Column, a: Long, b: Long): Column =
    pmod(lit(a) * pmod(h, lit(P)) + lit(b), lit(P))
}
