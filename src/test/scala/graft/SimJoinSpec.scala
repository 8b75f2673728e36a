package graft

import org.apache.spark.sql.functions._

import graft.core.SimJoin
import graft.functions.{Shingles, SketchExprs}
import graft.operators.Dedup

/** The pair kernel against brute force: the Hamming chunk probe finds
  * exactly the all-pairs `bit_count(xor) ≤ k` set at every width and
  * radius, and a threshold bank reports 0 for a threshold that admits
  * no pair. */
class SimJoinSpec extends SparkSpecBase {
  import spark.implicits._

  private def bruteForce(hashes: Seq[(Long, Long)], k: Int): Set[(Long, Long, Int)] =
    (for {
      (i, a) <- hashes; (j, b) <- hashes if i < j
      d = java.lang.Long.bitCount(a ^ b) if d <= k
    } yield (i, j, d)).toSet

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("hammingPairs equals the brute-force scan at every width and radius") {
    for (bits <- Seq(56, 60, 63, 64)) {
      val rnd = new scala.util.Random(bits)
      val mask = if (bits == 64) -1L else (1L << bits) - 1
      // 20 random bases, each with planted copies 0..5 bits away
      val hashes = (0 until 20).flatMap { b =>
        val base = rnd.nextLong() & mask
        (b * 10L + 9, base) +: (0 to 5).map { d =>
          val flips = rnd.shuffle((0 until bits).toList).take(d)
          (b * 10L + d, flips.foldLeft(base)((h, f) => h ^ (1L << f)))
        }
      }
      val df = hashes.toDF("doc_id", "hash")
      for (k <- 0 to 4) {
        val want = bruteForce(hashes, k)
        assert(want.exists(_._3 == k), s"bits=$bits k=$k: no pair at the radius")
        assert(pairs(SimJoin.hammingPairs(df, k, bits)) == want, s"bits=$bits k=$k")
      }
    }
  }

  test("hammingPairs rejects a radius or width it cannot chunk") {
    val df = Seq((1L, 1L)).toDF("doc_id", "hash")
    for ((k, bits) <- Seq((-1, 64), (64, 64), (3, 65)))
      intercept[IllegalArgumentException](SimJoin.hammingPairs(df, k, bits))
  }

  test("simhashDf at maxHamming 4 equals brute force over the signatures") {
    // 12 base texts, each with 8 copies that swap 1-3 words: near
    // pairs land a few signature bits apart
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 300).map(i => s"w$i")
    val docs = (0 until 12).flatMap { b =>
      val base = Vector.fill(40)(vocab(rnd.nextInt(vocab.size)))
      (0 until 9).map { v =>
        val text = (0 until v % 4).foldLeft(base)((t, _) =>
          t.updated(rnd.nextInt(t.size), vocab(rnd.nextInt(vocab.size))))
        (b * 100L + v, text.mkString(" "))
      }
    }.toDF("doc_id", "text")
    val sigs = docs.select(col("doc_id"),
        SketchExprs.simhashSig(Shingles.grams3(col("text"))).as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = bruteForce(sigs, 4)
    // a pair 4 bits apart with one flip in each 16-bit quarter: a
    // fixed 4×16 chunking shares no chunk with it and loses it
    val sim = sigs.toMap
    assert(want.exists { case (a, b, d) =>
      d == 4 && (0 until 4).forall(c => ((sim(a) ^ sim(b)) >>> (16 * c) & 0xFFFFL) != 0)
    }, "the corpus plants no pair that only a 5-way chunking finds")
    assert(pairs(Dedup.simhashDf(docs, 4)) == want)
  }

  test("bankCounts emits a 0 row for a threshold that admits no pair") {
    val sims = Seq((1L, 2L, 0.9), (1L, 3L, 0.5), (2L, 3L, 0.45))
      .toDF("d1", "d2", "sim")
    val atLeast = SimJoin.bankCounts(sims, "sim", "threshold",
      Seq(0.4, 0.5, 0.95), atMost = false, ends = Seq("d1", "d2"))
    assert(atLeast.columns.toSeq == Seq("threshold", "n_pairs", "n_docs"))
    assert(atLeast.collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
      .toSeq == Seq((0.4, 3L, 3L), (0.5, 2L, 3L), (0.95, 0L, 0L)))
    val dists = Seq(1, 2, 2).toDF("dist")
    val atMost = SimJoin.bankCounts(dists, "dist", "tau", Seq(0L, 1L, 2L),
      atMost = true)
    assert(atMost.columns.toSeq == Seq("tau", "n_pairs"))
    assert(atMost.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 0L), (1L, 1L), (2L, 3L)))
  }
}
