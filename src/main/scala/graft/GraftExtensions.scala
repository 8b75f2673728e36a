package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{BooleanType, DoubleType, IntegerType, LongType}

import graft.functions.{AsciiTokens, AvroCodec, BottomKSampleAgg,
  CosineSimilarity, CountMinAgg, HllAgg, MinHashAgg, MinHashSignature,
  NGramShingles, NormalizeText, QSketchAgg, SimHashAgg, SimHashSignature,
  SpaceSavingAgg, TopKFreqAgg, TopKScoreAgg}

/** SQL surface for graft's custom Catalyst expressions.
  *
  * Config-based (cluster-wide):
  * {{{ spark.sql.extensions=graft.GraftExtensions }}}
  * or runtime on an existing session:
  * {{{ GraftFunctions.register(spark) }}}
  * after which `SELECT cosine_sim(a, b)`,
  * `SELECT ngram_shingles(tokens, 3)`, the sketch/top-k
  * aggregates (`minhash_agg`, `simhash_agg`, `countmin_agg`,
  * `hll_agg`, `topk_by_score`, `topk_freq`, `spacesaving_agg`),
  * and the Avro codecs
  * (`graft_to_avro`, `graft_from_avro`) work from plain SQL.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (ident, info, builder) =>
      e.injectFunction((ident, info, builder))
    }
}

object GraftFunctions {

  private def cosineBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "cosine_sim(vector, vector)")
    CosineSimilarity(exprs(0), exprs(1))
  }

  private def shinglesBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "ngram_shingles(tokens, n)")
    val n = exprs(1) match {
      case Literal(i: Int, IntegerType) => i
      case other => throw new IllegalArgumentException(
        s"ngram_shingles: n must be an integer literal, got $other")
    }
    NGramShingles(exprs(0), n)
  }

  private def tokensBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.nonEmpty && exprs.length <= 2,
      "ascii_tokens(text[, include_digits])")
    val digits = exprs.lift(1) match {
      case None => false
      case Some(Literal(b: Boolean, BooleanType)) => b
      case Some(other) => throw new IllegalArgumentException(
        s"ascii_tokens: include_digits must be a boolean literal, got $other")
    }
    AsciiTokens(exprs.head, digits)
  }

  private def intLit(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(i: Int, IntegerType) => i
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $other")
  }

  // Aggregate builders return the bare AggregateFunction — the
  // analyzer wraps it in an AggregateExpression, same as built-ins.
  private def minhashBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "minhash_agg(hash_col, k)")
    MinHashAgg(exprs(0), intLit(exprs(1), "minhash_agg", "k"))
  }

  private def simhashBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, "simhash_agg(hash_col)")
    SimHashAgg(exprs.head)
  }

  private def topkScoreBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3, "topk_by_score(score, id, k)")
    TopKScoreAgg(Cast(exprs(0), DoubleType), Cast(exprs(1), LongType),
      intLit(exprs(2), "topk_by_score", "k"))
  }

  private def countMinBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3, "countmin_agg(hash_col, depth, width)")
    CountMinAgg(exprs(0), intLit(exprs(1), "countmin_agg", "depth"),
      intLit(exprs(2), "countmin_agg", "width"))
  }

  private def topkFreqBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2 || exprs.length == 3,
      "topk_freq(item, k[, capacity])")
    val k = intLit(exprs(1), "topk_freq", "k")
    val cap = exprs.lift(2).map(intLit(_, "topk_freq", "capacity"))
      .getOrElse(4096)
    TopKFreqAgg(exprs(0), k, cap)
  }

  val all: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("minhash_agg"),
      new ExpressionInfo(classOf[MinHashAgg].getName, "minhash_agg"),
      minhashBuilder _),
    (FunctionIdentifier("simhash_agg"),
      new ExpressionInfo(classOf[SimHashAgg].getName, "simhash_agg"),
      simhashBuilder _),
    (FunctionIdentifier("topk_by_score"),
      new ExpressionInfo(classOf[TopKScoreAgg].getName, "topk_by_score"),
      topkScoreBuilder _),
    (FunctionIdentifier("topk_freq"),
      new ExpressionInfo(classOf[TopKFreqAgg].getName, "topk_freq"),
      topkFreqBuilder _),
    (FunctionIdentifier("countmin_agg"),
      new ExpressionInfo(classOf[CountMinAgg].getName, "countmin_agg"),
      countMinBuilder _),
    (FunctionIdentifier("spacesaving_agg"),
      new ExpressionInfo(classOf[SpaceSavingAgg].getName, "spacesaving_agg"),
      { exprs: Seq[Expression] =>
        require(exprs.length == 2, "spacesaving_agg(item, capacity)")
        SpaceSavingAgg(exprs.head,
          intLit(exprs(1), "spacesaving_agg", "capacity"))
      }),
    (FunctionIdentifier("hll_agg"),
      new ExpressionInfo(classOf[HllAgg].getName, "hll_agg"),
      { exprs: Seq[Expression] =>
        require(exprs.length == 1, "hll_agg(hash_col)")
        HllAgg(exprs.head)
      }),
    (FunctionIdentifier("qsketch_agg"),
      new ExpressionInfo(classOf[QSketchAgg].getName, "qsketch_agg"),
      { exprs: Seq[Expression] =>
        require(exprs.length == 1, "qsketch_agg(non_negative_bigint_col)")
        // NO implicit Cast here: QSketchAgg's analysis-time integral
        // check is the contract (a silent LongType cast would truncate
        // a decimal column to whole units and defeat the check for
        // every SQL caller while the DataFrame surface rejects it)
        QSketchAgg(exprs.head)
      }),
    (FunctionIdentifier("bottomk_sample"),
      new ExpressionInfo(classOf[BottomKSampleAgg].getName, "bottomk_sample"),
      { exprs: Seq[Expression] =>
        require(exprs.length == 3, "bottomk_sample(hash_col, value, k)")
        BottomKSampleAgg(Cast(exprs(0), LongType), Cast(exprs(1), DoubleType),
          intLit(exprs(2), "bottomk_sample", "k"))
      }),
    (FunctionIdentifier("ascii_tokens"),
      new ExpressionInfo(classOf[AsciiTokens].getName, "ascii_tokens"),
      tokensBuilder _),
    (FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      cosineBuilder _),
    (FunctionIdentifier("ngram_shingles"),
      new ExpressionInfo(classOf[NGramShingles].getName, "ngram_shingles"),
      shinglesBuilder _),
    // the one-loop signature kernels, so an SQL-only user can run the
    // whole LSH/simhash dedup pipeline from plain SQL (see
    // Dedup's dedup_minhash_lsh_sql — gated against the same
    // DuckDB oracle as the DataFrame twin)
    (FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_sig"),
      { exprs: Seq[Expression] =>
        require(exprs.length == 2, "minhash_sig(grams, k)")
        MinHashSignature(exprs.head, intLit(exprs(1), "minhash_sig", "k"))
      }),
    (FunctionIdentifier("simhash_sig"),
      new ExpressionInfo(classOf[SimHashSignature].getName, "simhash_sig"),
      { exprs: Seq[Expression] =>
        require(exprs.length == 1, "simhash_sig(grams)")
        SimHashSignature(exprs.head)
      }),
    (FunctionIdentifier("normalize_text"),
      new ExpressionInfo(classOf[NormalizeText].getName, "normalize_text"),
      { exprs: Seq[Expression] =>
        require(exprs.length == 1, "normalize_text(text_col)")
        NormalizeText(exprs.head)
      }),
    // graft_-prefixed: Spark reserves from_avro/to_avro for its own
    // (unresolvable-in-this-build) registrations, and shadowing a
    // built-in name would surprise anyone moving code between builds
    (FunctionIdentifier("graft_to_avro"),
      new ExpressionInfo(classOf[AvroCodec.AvroEncode].getName, "graft_to_avro"),
      { exprs: Seq[Expression] =>
        require(exprs.length == 1, "graft_to_avro(struct_col)")
        AvroCodec.AvroEncode(exprs.head)
      }),
    (FunctionIdentifier("graft_from_avro"),
      new ExpressionInfo(classOf[AvroCodec.AvroDecode].getName, "graft_from_avro"),
      { exprs: Seq[Expression] =>
        require(exprs.length == 2, "graft_from_avro(binary_col, json_schema)")
        val schema = exprs(1) match {
          case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) =>
            s.toString
          case other => throw new IllegalArgumentException(
            s"graft_from_avro: schema must be a string literal, got $other")
        }
        AvroCodec.AvroDecode(exprs.head, schema)
      }))

  /** Runtime registration on an already-created session. */
  def register(spark: SparkSession): Unit =
    all.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(ident, info, builder)
    }
}
