package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.expr

/** The `functions` layer alone: each custom expression or aggregate,
  * called by its SQL name, over a generated frame cached in memory.
  * Reports rows per second, the median of three timed reps after one
  * warm rep. Aggregates return their sketch; scalar kernels are summed
  * through hash() so every row's value is computed. */
object Kernels {
  val Rows = 200000
  private val Words = ("join hash row batch scan column customer filter small " +
    "slow merge order vector line table data agg value key stream window a " +
    "spark part group big sort query fast the").split(" ").toSeq

  val Exprs: Seq[(String, String)] = Seq(
    "ascii_tokens" -> "sum(size(ascii_tokens(text)))",
    "ngram_shingles" -> "sum(size(ngram_shingles(toks, 3)))",
    "minhash_sig" -> "sum(hash(minhash_sig(grams, 64)))",
    "simhash_sig" -> "sum(hash(simhash_sig(grams)))",
    "cosine_sim" -> "sum(cosine_sim(v, w))",
    "countmin_agg" -> "hash(countmin_agg(h, 4, 64))",
    "topk_freq" -> "hash(topk_freq(word, 10))",
    "hll_agg" -> "hash(hll_agg(h))",
    "qsketch_agg" -> "hash(qsketch_agg(pmod(h, 1000000)))",
    "spacesaving_agg" -> "hash(spacesaving_agg(word, 64))")

  def run(spark: SparkSession, seed: Long): Map[String, Double] = {
    val words = Words.map(w => s"'$w'").mkString("array(", ",", ")")
    def pick(salt: String) = s"element_at($words, cast(pmod(hash(id, $salt, $seed), ${Words.size}) + 1 as int))"
    def vec(salt: Int) =
      s"transform(sequence(1, 64), i -> cast(pmod(hash(id, i, $salt, $seed), 2001) - 1000 as float) / 1000)"
    val frame = spark.range(Rows).selectExpr(
      s"concat_ws(' ', transform(sequence(1, 24), i -> ${pick("i")})) AS text",
      s"${pick("0")} AS word", s"xxhash64(id, $seed) AS h",
      s"${vec(1)} AS v", s"${vec(2)} AS w")
      .selectExpr("*", "ascii_tokens(text) AS toks")
      .selectExpr("*", "ngram_shingles(toks, 3) AS grams")
      .cache()
    frame.count()
    try Exprs.map { case (name, e) =>
      def once(): Double = Loop.cost(frame.select(expr(e)).collect()).wallS
      once()
      s"functions.${name}_rows_s" -> Rows / Stats.median(Seq.fill(3)(once()))
    }.toMap
    finally frame.unpersist()
  }
}
