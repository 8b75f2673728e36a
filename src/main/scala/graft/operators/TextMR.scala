package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Query, Tables}
import graft.functions.{PortableHash, TokenCol}

/** The reference framework's own workload surface (SURVEY.md §2 A),
  * re-expressed as declarative plans.
  *
  * The reference runs word count through `mr_create`/`mr_produce`/
  * `mr_consume` (/root/reference/mapreduce.h:120-213, test.sh): N
  * mappers split the input, emit (word, 1), one reducer merges and
  * writes `word, count` sorted alphabetically. Here the same jobs are
  * explode → groupBy → agg DataFrame plans: the mapper fan-out is
  * input partitioning, the kv buffer hand-off is the shuffle (with
  * map-side partial aggregation the reference lacks), and the sorted
  * sink is an orderBy. A typed equivalent lives in
  * [[graft.core.MapReduce]].
  */
object TextMR {

  private def words(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      explode(TokenCol.letterTokens(col("text"))).as("word"))

  /** Word count over all documents — the reference's flagship job. */
  def wordcount(spark: SparkSession, dir: String): DataFrame =
    words(Tables(spark, dir).documents)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("word")

  /** Grep-count: map = filter lines matching a pattern, reduce =
    * count per source file (the per-input-file loop in test.sh). */
  def grepCount(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .filter(col("text").contains("join"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_match"))
      .orderBy("source")

  /** Top-k most frequent words per source through the bounded
    * heavy-hitters aggregate ([[graft.functions.TopKFreqAgg]]):
    * map-side truncated counting maps, ONE shuffle on source, ≤ k
    * rows out per group — the per-group reduce the reference's
    * single-thread reducer could never parallelize. Exact while
    * `capacity` covers the per-source vocabulary (it does here by
    * orders of magnitude; the driver's oracle hash-match against a
    * full wordcount + window is the proof). */
  def topWords(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    Tables(spark, dir).documents
      .select(col("source"),
        explode(TokenCol.letterTokens(col("text"))).as("w"))
      .groupBy(col("source"))
      .agg(graft.functions.TopKFreq.topkFreqAgg(col("w"), k).as("top"))
      .select(col("source"), posexplode(col("top")))
      .select(col("source"), (col("pos") + 1).cast("int").as("rank"),
        col("col.item").as("word"), col("col.cnt").as("cnt"))
      .orderBy("source", "rank")

  /** Heavy hitters with a DECLARED error bound — the canonical
    * (order-invariant) Misra-Gries summary of the corpus vocabulary
    * at capacity `c`: θ = the (c+1)-th largest exact count (0 when
    * vocabulary ≤ c), survivors = words with count > θ, each emitted
    * with its exact count, the MG lower bound `lo_bound = cnt − θ`,
    * and θ itself. Guarantee shape (strictly stronger than a
    * streaming Misra-Gries run): at most `c` survivors,
    * θ ≤ N/(c+1) — the (c+1)-th largest count can't exceed the mean
    * of the top c+1 — and every word with true count > θ survives.
    *
    * Because the summary is a pure MULTISET function (exact counts +
    * an order statistic), it is partition/merge-order invariant and
    * hash-gates against a window-rank DuckDB oracle — the property no
    * literal insertion-order MG stream can offer (its θ-sized tail
    * depends on arrival order). The scale shape is honest: exact
    * counts are one map-side-combined groupBy (shuffle ∝ vocabulary,
    * never token volume), θ is a limit-fed TakeOrdered over the
    * counts (per-partition top-(c+1), merged at the driver — bounded
    * state), and the survivor filter broadcasts the 1-row θ. The
    * single-pass bounded-state twin for streams is
    * [[graft.functions.SpaceSavingAgg]] (same bound contract,
    * spec-pinned on planted skew in SpaceSavingSpec). */
  def heavyHitters(spark: SparkSession, dir: String, c: Int = 8): DataFrame = {
    val counts = words(Tables(spark, dir).documents)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
    // (c+1)-th largest count via a limit-fed sort (TakeOrdered: each
    // partition keeps c+1 rows); word tiebreak only orders the limit's
    // contents — θ is the min COUNT among them either way
    val theta = counts.orderBy(col("cnt").desc, col("word")).limit(c + 1)
      .agg(when(count(lit(1)) <= c, lit(0L))
        .otherwise(min(col("cnt"))).as("theta"))
    counts.crossJoin(broadcast(theta))
      .filter(col("cnt") > col("theta"))
      .select(col("word"), col("cnt"),
        (col("cnt") - col("theta")).as("lo_bound"), col("theta"))
      // bounded output (≤ c rows): global presentation sort is free
      .orderBy(col("cnt").desc, col("word"))
  }

  /** The reference's own wordcount job, byte-for-byte: tokens are
    * `[A-Za-z0-9]+` runs (case-sensitive — `ta'en` → `ta`,`en`; digit
    * runs like `000` are distinct words), one `word, count` line per
    * word, sorted in byte order (C strcmp == Spark's UTF8String
    * binary compare). ReferenceParitySpec diffs this against
    * /root/reference/output_compare/mr-wordc/ for every shipped input
    * file, including the empty and no-trailing-newline edge cases. */
  def wordcountFile(spark: SparkSession, path: String): DataFrame =
    spark.read.textFile(path).toDF("line")
      .select(explode(TokenCol.alnumTokens(col("line"))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("word")

  /** Render [[wordcountFile]] in the reference's output format. */
  def referenceFormat(counts: DataFrame): DataFrame =
    counts.select(concat(col("word"), lit(", "), col("cnt")).as("line"))

  /** Count-Min frequency estimation over the corpus vocabulary: one
    * [[graft.functions.CountMinAgg]] builds the d×w counter matrix in
    * a single pass (map-side partial matrices, one fixed-size merge —
    * at 100 TB the sketch costs d·w longs per partition no matter how
    * many tokens stream through), then every word's estimate is the
    * min of its d counters, read from the broadcast matrix. The
    * exact count rides along: `est ≥ cnt` always (CMS never
    * under-counts), with equality whenever the word's d buckets are
    * collision-free — both facts spec-asserted, and the whole thing
    * oracle-checked because the counters are pure [[graft.functions.
    * PortableHash]] arithmetic a SQL engine can replay. */
  def cmsFreq(spark: SparkSession, dir: String,
      depth: Int = 4, width: Int = 64): DataFrame = {
    val (saltA, saltB) = graft.functions.PortableHash.affineParams(depth)
    val w = words(Tables(spark, dir).documents)
      .select(col("word"), graft.functions.PortableHash.h60(col("word")).as("h"))
    val cms = w.agg(
      graft.functions.SketchAggs.countMinAgg(col("h"), depth, width).as("cms"))
    // min, not first: h is functionally dependent on the group key
    // (same value in every row), but min is order-deterministic by
    // construction — no reliance on evaluation order
    val exact = w.groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"), min(col("h")).as("h"))
    val rowEsts = (0 until depth).map { i =>
      val bucket = pmod(graft.functions.PortableHash
        .salted(col("h"), saltA(i), saltB(i)), lit(width.toLong))
      element_at(col("cms"), (lit(i * width) + bucket + 1).cast("int"))
    }
    exact.crossJoin(broadcast(cms))
      .select(col("word"), col("cnt"), least(rowEsts: _*).as("est"))
      .orderBy("word")
  }

  /** Inverted index: word → document frequency + sorted posting list.
    * Postings are emitted as a comma-joined string so the result is a
    * flat, hash-comparable column. */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame =
    words(Tables(spark, dir).documents)
      .distinct()
      .groupBy(col("word"))
      .agg(count(lit(1)).as("df"),
        array_join(transform(array_sort(collect_list(col("doc_id"))),
          _.cast("string")), ",").as("postings"))
      .orderBy("word")

  /** This object's queries, each with its DuckDB oracle (see [[graft.core.Query]]). */
  lazy val queries: Seq[Query] = Seq(
    Query("mr_wordcount", wordcount,
      s"""SELECT word, count(*) AS cnt
         FROM (SELECT unnest(${TokenCol.letterTokensSql("text")}) AS word
               FROM documents)
         GROUP BY word ORDER BY word"""),
    Query("mr_grep_count", grepCount,
      """SELECT source, count(*) AS n_match FROM documents
         WHERE text LIKE '%join%' GROUP BY source ORDER BY source"""),
    Query("mr_inverted_index", invertedIndex,
      s"""WITH wd AS (
           SELECT DISTINCT word, doc_id
           FROM (SELECT unnest(${TokenCol.letterTokensSql("text")}) AS word,
                        doc_id FROM documents))
         SELECT word, count(*) AS df,
                string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
         FROM wd GROUP BY word ORDER BY word"""),
    // full per-source wordcount + window: the heavy-hitters aggregate
    // is exact while capacity >= per-source vocabulary, so the hash
    // must match the exhaustive computation
    Query("mr_topwords", (s, d) => topWords(s, d),
      s"""WITH w AS (
           SELECT source,
                  unnest(${TokenCol.letterTokensSql("text")}) AS word
           FROM documents),
         c AS (SELECT source, word, count(*) AS cnt FROM w
               GROUP BY source, word),
         r AS (SELECT source, word, cnt,
                      row_number() OVER (PARTITION BY source
                        ORDER BY cnt DESC, word) AS rank
               FROM c)
         SELECT source, rank, word, cnt FROM r
         WHERE rank <= 10 ORDER BY source, rank"""),
    Query("mr_cms_freq", (s, d) => cmsFreq(s, d), cmsFreqSql),
    // canonical Misra-Gries summary at capacity 8: theta = the 9th
    // largest exact count (0 if vocabulary <= 8), survivors = counts
    // above it with lower bound cnt - theta — a pure multiset function,
    // so the window-rank replay hash-matches at any partitioning
    Query("mr_heavyhitters", (s, d) => heavyHitters(s, d),
      s"""WITH w AS (SELECT unnest(${TokenCol.letterTokensSql("text")}) AS word
                    FROM documents),
         c AS (SELECT word, count(*) AS cnt FROM w GROUP BY word),
         r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, word) AS rk
               FROM c),
         t AS (SELECT CAST(coalesce(max(CASE WHEN rk = 9 THEN cnt END), 0)
                        AS BIGINT) AS theta FROM r)
         SELECT word, cnt, cnt - theta AS lo_bound, theta
         FROM c CROSS JOIN t WHERE cnt > theta
         ORDER BY cnt DESC, word"""),
  )

  /** mr_cms_freq oracle: a Count-Min counter's content is "sum of
    * counts of every token in the bucket", so DuckDB rebuilds the
    * d×w matrix with d group-bys over the same affine-salt
    * arithmetic (literals below) and takes the same min. */
  private lazy val cmsFreqSql: String = {
    val depth = 4
    val width = 64
    val (a, b) = graft.functions.PortableHash.affineParams(depth)
    val p = graft.functions.PortableHash.P
    val bucketCols = (0 until depth).map(i =>
      s"(((${a(i)} * hp + ${b(i)}) % $p) % $width) AS b$i").mkString(",\n                ")
    val counterCtes = (0 until depth).map(i =>
      s"c$i AS (SELECT b$i AS bk, CAST(sum(cnt) AS BIGINT) AS c FROM bkt GROUP BY b$i)")
      .mkString(",\n         ")
    val joins = (0 until depth).map(i => s"JOIN c$i ON bkt.b$i = c$i.bk")
      .mkString("\n           ")
    val least = (0 until depth).map(i => s"c$i.c").mkString(", ")
    s"""WITH w AS (SELECT unnest(${TokenCol.letterTokensSql("text")}) AS word
                   FROM documents),
         t AS (SELECT word, count(*) AS cnt FROM w GROUP BY word),
         h AS (SELECT word, cnt,
                      ${PortableHash.h60Sql("word")} % $p AS hp
               FROM t),
         bkt AS (SELECT word, cnt,
                $bucketCols
                 FROM h),
         $counterCtes
         SELECT word, cnt, least($least) AS est
         FROM bkt $joins
         ORDER BY word"""
  }
}
