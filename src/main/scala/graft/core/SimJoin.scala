package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{PortableHash, Shingles}

/** The pair kernel of the near-dup and linkage operators, split as
  * in V-SMART-Join: a candidate phase (bucket keys, a self-equi-join
  * on the key with `a.doc_id < b.doc_id`), a similarity phase (one
  * measure per candidate), then a τ gate or a bank of τ. Each piece
  * is written once, with its DuckDB twin beside it. The generators
  * that stay outside (LSH bands, prefix filter, q-gram and FastSS
  * blocks, blocked cosine, `Ann.knnJoin`) and why are listed in
  * ROADMAP's direction E audit. */
object SimJoin {

  /** `(d1, d2, hamming)` for every pair of `hashes` rows — columns
    * `(doc_id, hash)`, a long of which the low `bits` bits are used —
    * within Hamming distance `maxHamming`. The bits are split into
    * `maxHamming + 1` disjoint contiguous chunks, chunk c covering
    * `[c·bits/n, (c+1)·bits/n)`: two hashes within `maxHamming` differ
    * in at most `maxHamming` chunks, so they agree on one (pigeonhole),
    * and the self-join on `"c#value"` keys finds every such pair. Each
    * candidate is verified with one `bit_count(xor)`; no payload
    * shuffles. 4×16 bits at `(3, 64)`, 5×12 at `(4, 60)`. Unsorted. */
  def hammingPairs(hashes: DataFrame, maxHamming: Int, bits: Int): DataFrame = {
    val chunked = hashes.select(col("doc_id"), col("hash"),
      explode(array(chunks(maxHamming, bits).map { case (c, lo, mask) =>
        concat(lit(s"$c#"),
          shiftright(col("hash"), lo).bitwiseAND(lit(mask)).cast("string"))
      }: _*)).as("ck"))
    chunked.as("a")
      .join(chunked.as("b"),
        col("a.ck") === col("b.ck") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        Shingles.hamming(col("a.hash"), col("b.hash")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** DuckDB twin of [[hammingPairs]]: a statement over the relation
    * `hashes` (a table name or a parenthesized query with columns
    * `(doc_id, hash)`), to sit in a CTE body. */
  def hammingPairsSql(hashes: String, maxHamming: Int, bits: Int): String = {
    val keys = chunks(maxHamming, bits).map { case (c, lo, mask) =>
      s"'$c#' || CAST(((hash >> $lo) & $mask) AS VARCHAR)"
    }.mkString(", ")
    s"""WITH ck AS (SELECT doc_id, hash, unnest([$keys]) AS ck FROM $hashes)
         SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
                bit_count(xor(a.hash, b.hash)) AS hamming
         FROM ck a JOIN ck b ON a.ck = b.ck AND a.doc_id < b.doc_id
         WHERE bit_count(xor(a.hash, b.hash)) <= $maxHamming"""
  }

  /** `(c, lo, mask)` of each of the `maxHamming + 1` chunks. A chunk
    * may be 64 bits wide (`maxHamming = 0` over 64 bits), where
    * `(1L << 64) - 1` would be 0 in Java: its mask is all ones. */
  private def chunks(maxHamming: Int, bits: Int): Seq[(Int, Int, Long)] = {
    require(0 <= maxHamming && maxHamming < bits && bits <= 64,
      s"hammingPairs: need 0 <= maxHamming ($maxHamming) < bits ($bits) <= 64")
    val n = maxHamming + 1
    (0 until n).map { c =>
      val lo = c * bits / n
      val width = (c + 1) * bits / n - lo
      (c, lo, if (width == 64) -1L else (1L << width) - 1)
    }
  }

  /** `(d1, d2, inter, n1, n2)` for every pair of docs sharing at least
    * one posting: `inter` is the number of shared postings, `n1`/`n2`
    * the two docs' set sizes. `grams` is `(doc_id, grams)` with a set
    * per doc, `posts` its `(doc_id, gid)` postings (a shingle hash per
    * row, distinct within a doc). The join runs on fixed-width longs,
    * and its pair set is bounded by Σ df², never by docs². */
  def interPairs(grams: DataFrame, posts: DataFrame): DataFrame = {
    val sizes = grams.select(col("doc_id"), size(col("grams")).as("n"))
    posts.as("a")
      .join(posts.as("b"),
        col("a.gid") === col("b.gid") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.as("s1"), col("d1") === col("s1.doc_id"))
      .join(sizes.as("s2"), col("d2") === col("s2.doc_id"))
      .select(col("d1"), col("d2"), col("inter"),
        col("s1.n").as("n1"), col("s2.n").as("n2"))
  }

  /** DuckDB twin of [[interPairs]] over the documents' 3-gram sets, to
    * follow a `WITH`: [[Shingles.grams3Cte]], then `hp(doc_id, gid)`
    * (postings on the 60-bit portable hash, as on the Spark side, so a
    * collision, were one to exist, is identical on both engines),
    * `sizes(doc_id, n)` and `pairs(d1, d2, inter, n1, n2)`. */
  val interPairsCtes: String =
    s"""${Shingles.grams3Cte},
         hp AS (SELECT doc_id,
                       ${PortableHash.h60Sql("gram")} AS gid
                FROM posts),
         sizes AS (SELECT doc_id, len(gs) AS n FROM g),
         pairs AS (
           SELECT i.d1, i.d2, i.inter, s1.n AS n1, s2.n AS n2
           FROM (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
                 FROM hp a JOIN hp b
                   ON a.gid = b.gid AND a.doc_id < b.doc_id
                 GROUP BY a.doc_id, b.doc_id) i
           JOIN sizes s1 ON s1.doc_id = i.d1
           JOIN sizes s2 ON s2.doc_id = i.d2)"""

  /** `(d1, d2, inter, jaccard)` of an [[interPairs]]-shaped frame,
    * rounded to 6 places, where the Jaccard is ≥ `tau`. */
  def jaccardOf(pairs: DataFrame, tau: Double): DataFrame =
    pairs.select(col("d1"), col("d2"), col("inter"),
        round(col("inter") / (col("n1") + col("n2") - col("inter")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= tau)

  /** DuckDB twin of [[jaccardOf]]'s measure over `pairs`' columns. */
  val jaccardSql: String = "round(inter * 1.0 / (n1 + n2 - inter), 6)"

  /** `(d1, d2, inter, cont_d1_in_d2, cont_d2_in_d1)` of an
    * [[interPairs]]-shaped frame, rounded to 6 places, where the larger
    * containment is ≥ `tau`. */
  def containmentOf(pairs: DataFrame, tau: Double): DataFrame =
    pairs.select(col("d1"), col("d2"), col("inter"),
        round(col("inter") / col("n1"), 6).as("cont_d1_in_d2"),
        round(col("inter") / col("n2"), 6).as("cont_d2_in_d1"))
      .filter(greatest(col("cont_d1_in_d2"), col("cont_d2_in_d1")) >= tau)

  /** Per threshold `t` of `bank` (ascending, doubles or longs), the
    * `pairs` rows whose `measure` admits it — `measure ≤ t` when
    * `atMost` (a distance), `measure ≥ t` otherwise (a similarity) —
    * as `(key = t, n_pairs)`, plus `n_docs`, the distinct ids over the
    * `ends` columns, when `ends` is given. Every threshold has a row,
    * 0 where it admits no pair. The pairs are read once, at whatever
    * threshold produced them (the bank's loosest): each threshold is a
    * row-local slice, not a new pair pass. */
  def bankCounts(pairs: DataFrame, measure: String, key: String,
      bank: Seq[Any], atMost: Boolean, ends: Seq[String] = Nil): DataFrame = {
    val admits =
      if (atMost) col(measure) <= col(key) else col(measure) >= col(key)
    val tagged = pairs
      .select(ends.map(col) :+ col(measure) :+
        explode(array(bank.map(lit): _*)).as(key): _*)
      .filter(admits)
    // one aggregate: each pair explodes to one row per end, the first
    // of which counts the pair
    val counts: Seq[Column] =
      if (ends.isEmpty) Seq(count(lit(1)).as("n_pairs"))
      else Seq(count(when(col("i") === 0, lit(1))).as("n_pairs"),
        countDistinct(col("v")).as("n_docs"))
    val byKey = (if (ends.isEmpty) tagged
      else tagged.select(col(key),
        posexplode(array(ends.map(col): _*)).as(Seq("i", "v"))))
      .groupBy(col(key)).agg(counts.head, counts.tail: _*)
    pairs.sparkSession.range(1)
      .select(explode(array(bank.map(lit): _*)).as(key))
      .join(byKey, Seq(key), "left")
      .select(col(key) +: byKey.columns.tail.toSeq.map(c =>
        coalesce(col(c), lit(0L)).as(c)): _*)
      .orderBy(col(key))
  }

  /** DuckDB twin of [[bankCounts]] over the relation `pairs`: the CTEs
    * `bank`, `hits`, `np` (and `nd` with `ends`), then the final
    * statement — to follow the CTE that defines `pairs` and a comma. */
  def bankCountsSql(pairs: String, measure: String, key: String,
      bank: Seq[Any], atMost: Boolean, ends: Seq[String] = Nil): String = {
    val ty = if (bank.forall(_.isInstanceOf[Long])) "BIGINT" else "DOUBLE"
    val cmp = if (atMost) "<=" else ">="
    val (ndCte, ndCol, ndJoin) =
      if (ends.isEmpty) ("", "", "")
      else (s""",
         nd AS (SELECT $key, count(DISTINCT v) AS n
                FROM (SELECT $key, unnest([${ends.mkString(", ")}]) AS v
                      FROM hits)
                GROUP BY 1)""",
        ",\n                CAST(coalesce(nd.n, 0) AS BIGINT) AS n_docs",
        s"\n         LEFT JOIN nd ON nd.$key = bank.$key")
    s"""bank AS (SELECT CAST(unnest([${bank.mkString(", ")}]) AS $ty) AS $key),
         hits AS (SELECT bank.$key, p.* FROM bank
                  JOIN $pairs p ON p.$measure $cmp bank.$key),
         np AS (SELECT $key, count(*) AS n FROM hits GROUP BY 1)$ndCte
         SELECT bank.$key,
                CAST(coalesce(np.n, 0) AS BIGINT) AS n_pairs$ndCol
         FROM bank LEFT JOIN np ON np.$key = bank.$key$ndJoin
         ORDER BY bank.$key"""
  }
}
