package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Query, Tables, WorkingSet}
import graft.functions.PortableHash
import graft.functions.ShingleCol
import graft.functions.Shingles.{nGramsSql, tokens, tokensSql}
import graft.functions.TextAnalysis._

/** Corpus-curation operators — the document-level gates and sweeps a
  * large-scale training-data pipeline runs between raw ingest and
  * packing (SURVEY.md §2 F): repetition metrics, rule-based quality
  * gating, benchmark decontamination, stratified sampling.
  *
  * Scale shape: every operator is one codegen'd projection over the
  * corpus plus at most one shuffle on doc_id (repetition/gopher) or a
  * broadcast join against a small derived table (decontam's benchmark
  * gram set, sampling's per-stratum thresholds). Nothing here windows
  * over a global order or funnels the corpus through a driver.
  */
object Curation {

  /** Within-document repetition (the Gopher-style duplicate-n-gram
    * signal): fraction of a doc's word bigrams that are repeats —
    * high values mark boilerplate/spam that perplexity filters miss.
    *
    * Shape: the non-distinct shingle expression (codegen'd) explodes
    * to one row per bigram occurrence, then ONE partial-aggregating
    * groupBy on doc_id computes total vs distinct — no per-row HOF
    * interpretation and no per-doc window. */
  def textRepetition(spark: SparkSession, dir: String): DataFrame =
    textRepetitionDf(Tables(spark, dir).documents)

  def textRepetitionDf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(ShingleCol.nGramShingles(tokens(col("text")), 2,
          distinct = false)).as("bg"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        countDistinct(col("bg")).as("n_distinct"))
      .select(col("doc_id"), col("n_bigrams"), col("n_distinct"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_bigrams"), 6)
          .as("rep_ratio"))
      .sortWithinPartitions("doc_id")

  /** Rule-based quality gate (Gopher-rules shape): per-document
    * pass/fail flags for token count, mean word length, symbol ratio,
    * and stopword evidence, plus the conjunction `keep`. Emitting the
    * per-rule flags (not just the verdict) is deliberate — rule drift
    * at 100 TB is debugged by aggregating flags per source/shard.
    *
    * Flags compare against the 6dp-rounded metrics, so the gate is
    * reproducible across engines (a boundary doc can't flip on
    * accumulation order). */
  def textGopher(spark: SparkSession, dir: String): DataFrame =
    textGopherDf(Tables(spark, dir).documents)

  def textGopherDf(docs: DataFrame): DataFrame = {
    val perTok = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(length(col("tok"))).as("tok_chars"),
        countDistinct(when(col("tok").isin(StopWordList: _*), col("tok")))
          .as("n_stop"))
    docs.select(col("doc_id"), punctRatio(col("text")).as("punct_ratio"))
      .join(perTok, Seq("doc_id"))
      .withColumn("avg_word_len",
        round(col("tok_chars").cast("double") / col("n_tokens"), 6))
      .select(col("doc_id"), col("n_tokens"), col("avg_word_len"),
        col("punct_ratio"), col("n_stop"),
        col("n_tokens").between(20, 1000).as("ok_len"),
        col("avg_word_len").between(2.0, 10.0).as("ok_word_len"),
        (col("punct_ratio") <= 0.2).as("ok_symbol"),
        (col("n_stop") >= 2).as("ok_stop"))
      .withColumn("keep",
        col("ok_len") && col("ok_word_len") && col("ok_symbol") && col("ok_stop"))
      .sortWithinPartitions("doc_id")
  }

  /** Benchmark decontamination: flag corpus documents that share any
    * word 13-gram with a benchmark/eval set (here: the `benchSource`
    * documents stand in for the eval suite). The 13-gram-overlap rule
    * is the published decontamination standard (GPT-3 appendix C /
    * Gopher appendix): a window that long makes coincidental overlap
    * rare while catching verbatim leakage. `n` is a parameter for
    * pipelines that want a stricter/looser window.
    *
    * Shape: a PRODUCTION benchmark gram set is small (eval suites
    * are MBs, not TBs) and broadcasts — but this stand-in derives it
    * from a source-filtered slice of the corpus itself, which SCALES
    * with the corpus, so the join carries no explicit hint: AQE's
    * size gate broadcasts at test SF and degrades to a shuffled
    * semi-join instead of OOMing if the bench side ever grows (the
    * same discipline as the de-hinted customer/part/supplier joins).
    * The corpus side is one explode + semi-join + groupBy(doc_id).
    * Zero-hit docs are restored by a left join so the output is a
    * per-doc verdict table, not just the contaminated list. */
  def pipelineDecontam(spark: SparkSession, dir: String,
      benchSource: String = "src0", n: Int = 13): DataFrame =
    pipelineDecontamDf(Tables(spark, dir).documents, benchSource, n)

  def pipelineDecontamDf(docs: DataFrame, benchSource: String,
      n: Int = 13): DataFrame = {
    val grams = ShingleCol.nGramShingles(tokens(col("text")), n)
    val bench = docs.filter(col("source") === benchSource)
      .select(explode(grams).as("gram")).distinct()
    val corpus = docs.filter(col("source") =!= benchSource)
    val hits = corpus
      .select(col("doc_id"), explode(grams).as("gram"))
      .join(bench, Seq("gram"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
    corpus.select(col("doc_id"), col("source"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
      .sortWithinPartitions("doc_id")
  }

  /** The end-to-end curation FUNNEL — the composition readout every
    * training-data run publishes: how many documents survive each
    * stage of bench-split → quality gate → exact dedup → benchmark
    * decontamination, one row per stage. Every stage REUSES the
    * already-hash-proven operator fold (gopher keep rule, md5
    * representative selection, 13-gram decontam verdicts), so the
    * funnel's oracle is the same CTE chain composed — this surface
    * exists to prove the stages COMPOSE, the property a pipeline
    * user actually depends on and no per-operator gate shows.
    *
    * Shape: four 1-row aggregates over progressively-filtered frames
    * (semi/anti joins on doc_id — never a second text scan of a
    * prior stage's survivors beyond what the stage itself needs);
    * the union is driver-trivial. */
  def pipelineFunnel(spark: SparkSession, dir: String,
      benchSource: String = "src0"): DataFrame = {
    val docs = Tables(spark, dir).documents
    val corpus = docs.filter(col("source") =!= benchSource)
    // stage-survivor ID frames are cached: each feeds BOTH its own
    // 1-row count and the next stage's semi/anti join — uncached,
    // every reference re-runs the full upstream text pass (the plan
    // audit counted 12 corpus scans; ids are doc_id-only rows)
    val qualIds = WorkingSet(
      textGopherDf(corpus).filter(col("keep")).select("doc_id"))
    val qualDocs = corpus.join(qualIds, Seq("doc_id"), "left_semi")
    val reps = WorkingSet(qualDocs
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id"))
    val contaminated = pipelineDecontamDf(docs, benchSource)
      .filter(col("contaminated")).select("doc_id")
    val fin = reps.join(contaminated, Seq("doc_id"), "left_anti")
    def row(i: Long, nm: String, d: DataFrame): DataFrame =
      d.agg(count(lit(1)).cast("long").as("n_rows"))
        .select(lit(i).as("stage"), lit(nm).as("stage_name"), col("n_rows"))
    row(0L, "raw", corpus)
      .unionByName(row(1L, "quality", qualIds))
      .unionByName(row(2L, "dedup", reps))
      .unionByName(row(3L, "decontam", fin))
      .orderBy(col("stage"))
  }

  /** Generated DuckDB oracle for [[pipelineFunnel]] — the gopher,
    * dedup, and decontam oracle chains composed verbatim. */
  val funnelOracleSql: String =
    s"""WITH corpus AS (SELECT * FROM documents WHERE source <> 'src0'),
       tk AS (
         SELECT doc_id,
                unnest(${tokensSql("text")}) AS tok
         FROM corpus),
       per AS (
         SELECT doc_id, count(*) AS n_tokens,
                sum(length(tok)) AS tok_chars,
                count(DISTINCT CASE WHEN tok IN
                  ('the','a','of','and','to','in','is','on','for','with')
                  THEN tok END) AS n_stop
         FROM tk GROUP BY doc_id),
       m AS (
         SELECT d.doc_id, per.n_tokens,
                round(per.tok_chars * 1.0 / per.n_tokens, 6) AS avg_word_len,
                CASE WHEN length(d.text) = 0 THEN 0.0
                     ELSE round(CAST(length(d.text) - length(regexp_replace(d.text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
                                / length(d.text), 6) END AS punct_ratio,
                per.n_stop
         FROM corpus d JOIN per ON per.doc_id = d.doc_id),
       qual AS (
         SELECT doc_id FROM m
         WHERE n_tokens BETWEEN 20 AND 1000
           AND avg_word_len BETWEEN 2.0 AND 10.0
           AND punct_ratio <= 0.2 AND n_stop >= 2),
       reps AS (
         SELECT min(c.doc_id) AS doc_id
         FROM corpus c JOIN qual q ON q.doc_id = c.doc_id
         GROUP BY md5(c.text)),
       toks AS (
         SELECT doc_id, source, ${tokensSql("text")} AS t
         FROM documents),
       g AS (
         SELECT doc_id, source, ${nGramsSql("t", 13, distinct = true)} AS gs
         FROM toks),
       bench AS (SELECT DISTINCT unnest(gs) AS gram FROM g
                 WHERE source = 'src0'),
       bad AS (SELECT DISTINCT p.doc_id
               FROM (SELECT doc_id, unnest(gs) AS gram FROM g
                     WHERE source <> 'src0') p
               JOIN bench b ON p.gram = b.gram),
       fin AS (SELECT r.doc_id FROM reps r
               LEFT JOIN bad ON bad.doc_id = r.doc_id
               WHERE bad.doc_id IS NULL)
       SELECT * FROM (
         SELECT CAST(0 AS BIGINT) AS stage, 'raw' AS stage_name,
                CAST((SELECT count(*) FROM corpus) AS BIGINT) AS n_rows
         UNION ALL
         SELECT 1, 'quality', CAST((SELECT count(*) FROM qual) AS BIGINT)
         UNION ALL
         SELECT 2, 'dedup', CAST((SELECT count(*) FROM reps) AS BIGINT)
         UNION ALL
         SELECT 3, 'decontam', CAST((SELECT count(*) FROM fin) AS BIGINT))
       ORDER BY stage"""

  /** PII patterns shared by the Spark expressions and the generated
    * DuckDB oracle — restricted to the regex subset Java and RE2
    * interpret identically (no backrefs, no lookaround). Public so
    * the oracle SQL is built from the same strings. */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    // (name, pattern, replacement) — applied in this order
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ip", "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b", "[IP]"),
    ("phone", "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b", "[PHONE]"))

  /** PII scrub — the redaction gate a training-data pipeline runs
    * before anything ships: per-document match counts for email /
    * IPv4 / phone patterns plus the redacted text. One codegen'd
    * projection over the corpus (regexp_count + chained
    * regexp_replace), no shuffle at all — the 100 TB cost is exactly
    * one pass over the text bytes.
    *
    * The synthetic corpus contains no PII, so the oracle exercises
    * the (dominant, at scale) no-match path over every document;
    * CurationSpec carries the positive cases on crafted docs with
    * planted emails/IPs/phones. */
  def pipelinePii(spark: SparkSession, dir: String): DataFrame =
    pipelinePiiDf(Tables(spark, dir).documents)

  def pipelinePiiDf(docs: DataFrame): DataFrame = {
    // each pattern counts matches on the text AFTER the earlier
    // patterns' redactions, so n_<kind> is exactly the number of
    // [KIND] tokens in `clean` — on overlapping spans ("10.0.42.7@x
    // .org" is both email- and ip-shaped) only the winning (earlier)
    // pattern counts, matching what the redaction actually did
    val stages = PiiPatterns.scanLeft(col("text")) {
      case (acc, (_, p, repl)) => regexp_replace(acc, p, repl)
    }
    val counts = PiiPatterns.zipWithIndex.map { case ((n, p, _), i) =>
      regexp_count(stages(i), lit(p)).cast("long").as(s"n_$n")
    }
    val clean = stages.last
    docs.select(col("doc_id") +: counts :+ clean.as("clean"): _*)
      .withColumn("has_pii",
        PiiPatterns.map { case (n, _, _) => col(s"n_$n") > 0L }
          .reduce(_ || _))
      .sortWithinPartitions("doc_id")
  }

  /** Deterministic stratified sampling: downsample every language
    * stratum to the minority stratum's size (the language-rebalancing
    * step of a multilingual pipeline). Membership is a pure integer
    * function of doc_id — `portable_hash(doc_id) mod 2²⁰ <
    * ⌊min_n·2²⁰/n_lang⌋` — so the sample is identical on every
    * engine, every retry, and every partitioning; no rand(), no
    * global sort, no sampleBy approximation.
    *
    * Shape: per-stratum counts (one tiny aggregate) → per-stratum
    * integer thresholds broadcast back over the corpus; the corpus
    * pass is one projection + filter. */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame =
    sampleStratifiedDf(Tables(spark, dir).documents)

  /** Sample size per group for [[samplePerGroup]] — fixed so the
    * generated oracle shares it by construction. */
  val PerGroupN: Int = 16

  /** EXACT-SIZE per-group sample — "n examples per class", the
    * third sampling contract ([[sampleStratified]] equalizes RATES
    * to the minority, [[sampleWeighted]] follows a score; neither
    * can hit an exact per-group count): each language keeps its
    * [[PerGroupN]] lowest-portable-hash documents (all of them if
    * the group is smaller). Bottom-k by a uniform hash IS a uniform
    * sample, and the bounded [[graft.functions.BottomKSampleAgg]]
    * buffer makes it one aggregate with ≤ n entries per partition
    * per group on the wire — the distributed replacement for the
    * `row_number() OVER (PARTITION BY ...) <= n` window, which
    * funnels every group through one task. Deterministic across
    * engines/retries/partitionings; doc_ids ride the buffer as
    * DOUBLEs (exact below 2⁵³ — nine quadrillion documents of
    * headroom). */
  def samplePerGroup(spark: SparkSession, dir: String): DataFrame =
    samplePerGroupDf(Tables(spark, dir).documents)

  def samplePerGroupDf(docs: DataFrame, n: Int = PerGroupN): DataFrame =
    docs.groupBy(col("lang"))
      .agg(graft.functions.BottomKSampleAgg.bottomk(
        PortableHash.h60(concat(lit("spg#"), col("doc_id").cast("string"))),
        col("doc_id").cast("double"), n).as("sample"))
      .select(col("lang"), explode(col("sample")).as("d"))
      .select(col("lang"), col("d").cast("long").as("doc_id"))
      .orderBy("lang", "doc_id") // bounded: langs × n

  /** Generated DuckDB oracle for [[samplePerGroup]] — the same hash,
    * the same (hash, doc_id) order, the same cut. */
  def perGroupOracleSql: String =
    s"""WITH h AS (SELECT lang, doc_id,
             ${PortableHash.h60Sql("'spg#' || CAST(doc_id AS VARCHAR)")} AS hv
           FROM documents)
       SELECT lang, doc_id FROM h
       QUALIFY row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id)
               <= $PerGroupN
       ORDER BY lang, doc_id"""

  /** Weight-proportional deterministic sampling — the quality-aware
    * mixing step (upsample good documents, downsample boilerplate)
    * without `rand()`: doc d is kept iff
    * `portable_hash(d) mod 2²⁰ < ⌊w(d)·2²⁰⌋`, so P(keep) ≈ w(d)
    * exactly, per-doc, engine/retry/partitioning-invariant. The
    * weight here is a simple length-based quality proxy
    * (`min(1, n_chars/500)`); a real pipeline plugs in its quality
    * model's score column — the gate is the pattern.
    *
    * Shape: one projection + filter over the corpus; no shuffle,
    * no state, no coordination — the sampling decision is local to
    * the row, which is what survives 100 TB. */
  def sampleWeighted(spark: SparkSession, dir: String): DataFrame =
    sampleWeightedDf(Tables(spark, dir).documents)

  def sampleWeightedDf(docs: DataFrame): DataFrame = {
    val w = least(lit(1.0), length(col("text")).cast("double") / 500.0)
    val thresh = floor(w * 1048576).cast("long")
    val bucket = pmod(
      PortableHash.h60(concat(lit("wsmp#"), col("doc_id").cast("string"))),
      lit(1048576L))
    docs
      .filter(bucket < thresh)
      .select(col("doc_id"), round(w, 6).as("weight"))
      .sortWithinPartitions("doc_id")
  }

  /** Exact-size deterministic uniform sample — the fourth sampling
    * contract: [[sampleStratifiedDf]] equalizes rates,
    * [[sampleWeightedDf]] follows a score, [[samplePerGroupDf]] fixes
    * a per-group count; this fixes the TOTAL count `k`, exactly, in
    * one pass. The classic reservoir-sampling job, made
    * order-invariant and resumable: rank every row by the portable
    * 60-bit hash of its id (a fixed random permutation of the corpus,
    * independent of arrival/partition order) and keep the bottom k.
    *
    * Shape: `orderBy(h, id).limit(k)` plans as TakeOrderedAndProject
    * — a size-k bounded heap PER PARTITION, then a k-row merge on the
    * driver; no global sort, no full shuffle, identical at any
    * partitioning (the 5-CPU invariance pass covers it). That is
    * the distributed reservoir: same guarantee, no sequential scan. */
  def sampleUniformK(spark: SparkSession, dir: String,
      k: Int = 200): DataFrame =
    sampleUniformKDf(Tables(spark, dir).documents, k)

  def sampleUniformKDf(docs: DataFrame, k: Int): DataFrame = {
    val h = PortableHash.h60(concat(lit("unik#"),
      col("doc_id").cast("string")))
    docs.select(col("doc_id"), h.as("h"))
      .orderBy(col("h"), col("doc_id"))
      .limit(k)
  }

  /** Generated DuckDB oracle for [[sampleUniformK]] — same keyed
    * hash, same bottom-k. */
  def sampleUniformKSql(k: Int = 200): String =
    s"""SELECT doc_id,
              ${PortableHash.h60Sql("'unik#' || CAST(doc_id AS VARCHAR)")} AS h
       FROM documents ORDER BY h, doc_id LIMIT $k"""

  def sampleStratifiedDf(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"), col("lang"))
    val counts = d.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    val minN = counts.agg(min(col("n_lang")).as("min_n"))
    // integer threshold (floor div) — no float boundary to disagree on
    val thresholds = counts.crossJoin(broadcast(minN))
      .select(col("lang"), expr("(min_n * 1048576) div n_lang").as("thresh"))
    val bucket = pmod(
      PortableHash.h60(concat(lit("smp#"), col("doc_id").cast("string"))),
      lit(1048576L))
    d.join(broadcast(thresholds), Seq("lang"))
      .filter(bucket < col("thresh"))
      .select(col("doc_id"), col("lang"))
      .sortWithinPartitions("doc_id")
  }

  /** TEMPERATURE-scaled language sampling — the standard multilingual
    * rebalancing knob (mBERT/mT5/XLM-R exponentiated sampling): the
    * target language share is `q_l ∝ f_l^α` with α ∈ (0,1), flatter
    * than the raw distribution but not uniform, so high-resource
    * languages are tamed without starving them ([[sampleStratifiedDf]]
    * IS the α=0 endpoint — everything equalized to the minority;
    * α=1 is the identity). Realized by downsampling only: keep rate
    * `r_l = (n_min/n_l)^(1−α)` — the rarest language keeps
    * everything, a language K× larger keeps K^(α−1) of itself, and
    * the kept shares land ∝ f_l^α exactly.
    *
    * Determinism: with [[TempAlpha]] = 0.5 the rate is
    * `sqrt(n_min/n_l)` — DOUBLE division, `sqrt`, `· 2²⁰`, `floor`
    * are each IEEE-correctly-rounded, so the identical op order
    * yields the bit-identical integer threshold on both engines (the
    * sample_weighted forced-double discipline), and the keep gate is
    * the usual portable-hash compare: engine/retry/partitioning-
    * invariant, no `rand()`.
    *
    * Shape: one dictionary-sized aggregate (languages), a broadcast
    * threshold join, a map-side filter — no corpus-scale shuffle;
    * the decision is local to the row, which is what survives
    * 100 TB. */
  val TempAlpha: Double = 0.5

  def sampleTemperature(spark: SparkSession, dir: String): DataFrame =
    sampleTemperatureDf(Tables(spark, dir).documents)

  /** Per-language keep thresholds for [[sampleTemperatureDf]] — the
    * dictionary-sized derivation half, shared with the streaming
    * admission gate ([[graft.streaming.Streams.temperatureStream]])
    * so stream ≡ batch by construction. */
  private[graft] def temperatureThresholds(docs: DataFrame): DataFrame = {
    val counts = docs.select(col("lang"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    val minN = counts.agg(min(col("n_lang")).as("n_min"))
    // α = 0.5 ⇒ rate = sqrt(n_min/n_l); forced-DOUBLE chain in the
    // declared op order so both engines floor the same threshold
    counts.crossJoin(broadcast(minN))
      .select(col("lang"),
        floor(sqrt(col("n_min").cast("double") / col("n_lang").cast("double"))
          * lit(1048576.0)).cast("long").as("thresh"))
  }

  /** The row-local keep-gate half of the temperature sample. */
  private[graft] def temperatureBucket: Column = pmod(
    PortableHash.h60(concat(lit("tsmp#"), col("doc_id").cast("string"))),
    lit(1048576L))

  def sampleTemperatureDf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"))
      .join(broadcast(temperatureThresholds(docs)), Seq("lang"))
      .filter(temperatureBucket < col("thresh"))
      .select(col("doc_id"), col("lang"))
      .sortWithinPartitions("doc_id")

  /** Generated DuckDB oracle for [[sampleTemperature]] — identical
    * hash family, identical forced-double threshold chain. */
  def sampleTemperatureSql: String =
    s"""WITH counts AS (SELECT lang, count(*) AS n_lang
                       FROM documents GROUP BY lang),
       m AS (SELECT min(n_lang) AS n_min FROM counts),
       th AS (SELECT lang,
                CAST(floor(sqrt(CAST(n_min AS DOUBLE)
                                / CAST(n_lang AS DOUBLE)) * 1048576.0)
                     AS BIGINT) AS thresh
              FROM counts CROSS JOIN m),
       h AS (SELECT doc_id, lang,
                    ${PortableHash.h60Sql("'tsmp#' || CAST(doc_id AS VARCHAR)")}
                      % 1048576 AS b
             FROM documents)
       SELECT h.doc_id, h.lang FROM h JOIN th ON th.lang = h.lang
       WHERE h.b < th.thresh ORDER BY h.doc_id"""

  /** TEMPERATURE SWEEP — the α bank for [[sampleTemperatureDf]]
    * (what language mix does each temperature buy?): per
    * α ∈ {0.25, 0.5, 0.75} and language, the kept-document count —
    * the rebalanced-mix preview a data-mixing team reads before
    * committing a temperature. Every keep rate `(n_min/n_l)^(1−α)`
    * is built from COMPOSITIONS OF sqrt ONLY (α=0.75 → r^0.25 =
    * sqrt(sqrt(r)); α=0.5 → sqrt(r); α=0.25 → r^0.75 =
    * sqrt(r)·sqrt(sqrt(r))): sqrt and multiply are IEEE-correctly-
    * rounded, so the identical op order floors the identical integer
    * thresholds on both engines — a general `pow` is NOT correctly
    * rounded and would hash-diverge. ONE dictionary aggregate
    * derives all three thresholds, one pass with conditional counts
    * serves the bank; output ≤ 3 × languages rows. */
  val TempSweepBank: Seq[Int] = Seq(25, 50, 75) // α in percent

  def sampleTemperatureSweep(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents.select(col("doc_id"), col("lang"))
    val counts = d.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    val minN = counts.agg(min(col("n_lang")).as("n_min"))
    val r = col("n_min").cast("double") / col("n_lang").cast("double")
    def rate(alphaPct: Int) = alphaPct match {
      case 25 => sqrt(r) * sqrt(sqrt(r)) // (1−α) = 0.75
      case 50 => sqrt(r)
      case 75 => sqrt(sqrt(r))           // (1−α) = 0.25
      // the sqrt compositions exist ONLY on the quarter grid (pow is
      // not correctly rounded and would hash-diverge) — an off-grid
      // TempSweepBank edit must fail with an actionable message at
      // plan-build, not a bare MatchError
      case a => throw new IllegalArgumentException(
        s"TempSweepBank alpha $a%: only 25/50/75 have a sqrt-composed " +
          "(correctly-rounded) keep-rate; add the composition here AND " +
          "in sampleTemperatureSweepSql before extending the bank")
    }
    val th = counts.crossJoin(broadcast(minN))
      .select(col("lang") +: TempSweepBank.map(a =>
        floor(rate(a) * lit(1048576.0)).cast("long").as(s"t$a")): _*)
    val kept = d
      .select(col("doc_id"), col("lang"), temperatureBucket.as("b"))
      .join(broadcast(th), Seq("lang"))
    val arms = TempSweepBank.map(a =>
      sum(when(col("b") < col(s"t$a"), 1L).otherwise(0L)).as(s"k$a"))
    kept.groupBy(col("lang")).agg(arms.head, arms.tail: _*)
      .select(expr(s"stack(${TempSweepBank.length}, " +
        TempSweepBank.map(a => s"${a}L, k$a").mkString(", ") +
        ") as (alpha_pct, n_kept)"), col("lang"))
      .select(col("alpha_pct"), col("lang"), col("n_kept"))
      .orderBy(col("alpha_pct"), col("lang"))
  }

  /** Generated DuckDB oracle for [[sampleTemperatureSweep]]. */
  def sampleTemperatureSweepSql: String = {
    val rateSql = Map(
      25 -> "sqrt(r) * sqrt(sqrt(r))",
      50 -> "sqrt(r)",
      75 -> "sqrt(sqrt(r))")
    def rateOf(a: Int): String = rateSql.getOrElse(a,
      throw new IllegalArgumentException(
        s"TempSweepBank alpha $a%: no sqrt-composed oracle rate — keep " +
          "the bank on the 25/50/75 grid or add the composition in BOTH " +
          "rate() and rateSql"))
    val ths = TempSweepBank.map(a =>
      s"CAST(floor(${rateOf(a)} * 1048576.0) AS BIGINT) AS t$a")
      .mkString(",\n                ")
    val armsSel = TempSweepBank.map(a =>
      s"""SELECT $a AS alpha_pct, lang,
                 CAST(sum(CASE WHEN b < t$a THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept
          FROM kept GROUP BY lang""").mkString("\n         UNION ALL\n         ")
    s"""WITH counts AS (SELECT lang, count(*) AS n_lang
                       FROM documents GROUP BY lang),
       m AS (SELECT min(n_lang) AS n_min FROM counts),
       rr AS (SELECT lang,
                     CAST(n_min AS DOUBLE) / CAST(n_lang AS DOUBLE) AS r
              FROM counts CROSS JOIN m),
       th AS (SELECT lang,
                $ths
              FROM rr),
       kept AS (SELECT d.lang,
                       ${PortableHash.h60Sql("'tsmp#' || CAST(d.doc_id AS VARCHAR)")}
                         % 1048576 AS b,
                       th.t25, th.t50, th.t75
                FROM documents d JOIN th ON th.lang = d.lang)
       SELECT CAST(alpha_pct AS BIGINT) AS alpha_pct, lang, n_kept
       FROM ($armsSel)
       ORDER BY alpha_pct, lang"""
  }

  /** Hashed-feature buckets for [[sampleImportance]] — small enough
    * that the likelihood-ratio table is a broadcast literal, fixed so
    * the generated oracle shares it by construction. */
  val DsirBuckets: Int = 256

  /** DSIR-style IMPORTANCE RESAMPLING toward a target domain — the
    * data-mixing team's "make the crawl look like the target corpus"
    * step (Xie et al., Data Selection via Importance Resampling):
    * hashed word-unigram features, a per-bucket log likelihood ratio
    * `ln p̂_tgt(b) − ln p̂_prop(b)` between the target distribution
    * (here: the `lang = 'en'` sub-corpus) and the proposal (the whole
    * corpus), each document scored by the sum of its tokens' ratios,
    * and a keep decision with probability `min(1, exp(r̄_d))` where
    * r̄_d is the per-token average ratio (length-tempered — the
    * geometric-mean variant, so a long document can't win on bulk).
    *
    * Exactness discipline: both Laplace-smoothed distributions reduce
    * to integer counts, so each bucket's ratio quantizes ONCE to
    * BIGINT micro-nats (the [[graft.operators.TextOps]] collocations
    * rule) and every per-doc score is an exact integer sum. The keep
    * rule itself never computes exp: with u uniform from the
    * portable-hash bucket, `P(ln u < r̄) = min(1, e^r̄)`, and
    * `ln u · n_tok < lw` compares two exact BIGINTs —
    * `lnu_micro = lMicro(2·bu + 1) − lMicro(2²¹)` is integer-log
    * quantized like everything else. No transcendental ever meets a
    * float boundary, so the kept SET is engine/retry/partitioning-
    * invariant and the hash gate proves it.
    *
    * Scale shape: two map-side-combined bucket aggregates (shuffle ∝
    * [[DsirBuckets]]), the ratio table broadcast back over the token
    * stream, one partial-aggregating groupBy(doc_id), and a row-local
    * hash gate. Nothing scales with the corpus except the scans. */
  def sampleImportance(spark: SparkSession, dir: String): DataFrame =
    sampleImportanceDf(Tables(spark, dir).documents)

  def sampleImportanceDf(docs: DataFrame, targetLang: String = "en"): DataFrame = {
    val toks = docs.select(col("doc_id"), col("lang"),
        explode(tokens(col("text"))).as("w"))
      .select(col("doc_id"), col("lang"), dsirBucket(col("w")).as("b"))
    val scored = toks.join(broadcast(importanceRatios(docs, targetLang)),
        Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("lr_micro")).as("lw_micro"))
    docs.select(col("doc_id"), col("lang"))
      .join(scored, Seq("doc_id"))
      .filter(importanceKeep(col("doc_id"), col("n_tok"), col("lw_micro")))
      .select(col("doc_id"), col("lang"), col("n_tok"), col("lw_micro"))
      .sortWithinPartitions("doc_id")
  }

  private def dsirLMicro(c: org.apache.spark.sql.Column) =
    round(log(c.cast("double")) * 1e6, 0).cast("long")

  /** A token's hashed feature bucket — one half of the rule both the
    * batch sampler and the stream gate share. */
  private[graft] def dsirBucket(w: org.apache.spark.sql.Column) =
    pmod(PortableHash.h60(concat(lit("dsir#"), w)), lit(DsirBuckets.toLong))

  /** The per-bucket micro-nat likelihood-ratio table derived from a
    * standing corpus — COMPLETE over all [[DsirBuckets]] buckets
    * (spine left-join), so a consumer scoring documents the corpus
    * has never seen (the stream-static gate) still gets the smoothed
    * default ratio for unseen buckets. For corpus-internal scoring
    * the completion is value-neutral: a corpus token's bucket is
    * present by construction. */
  private[graft] def importanceRatios(corpus: DataFrame,
      targetLang: String = "en"): DataFrame = {
    val b = DsirBuckets.toLong
    val toks = corpus.select(col("lang"),
        explode(tokens(col("text"))).as("w"))
      .select(col("lang"), dsirBucket(col("w")).as("b"))
    val allCnt = toks.groupBy(col("b")).agg(count(lit(1)).as("c_all"))
    val tgtCnt = toks.filter(col("lang") === targetLang)
      .groupBy(col("b")).agg(count(lit(1)).as("c_tgt"))
    val nAll = allCnt.agg(coalesce(sum(col("c_all")), lit(0L)).as("n_all"))
    val nTgt = tgtCnt.agg(coalesce(sum(col("c_tgt")), lit(0L)).as("n_tgt"))
    corpus.sparkSession.range(DsirBuckets).select(col("id").as("b"))
      .join(allCnt, Seq("b"), "left")
      .join(tgtCnt, Seq("b"), "left")
      .crossJoin(broadcast(nAll)).crossJoin(broadcast(nTgt))
      .select(col("b"),
        (dsirLMicro(coalesce(col("c_tgt"), lit(0L)) + lit(1L))
          - dsirLMicro(col("n_tgt") + lit(b))
          - dsirLMicro(coalesce(col("c_all"), lit(0L)) + lit(1L))
          + dsirLMicro(col("n_all") + lit(b))).as("lr_micro"))
  }

  /** The row-local keep gate — the other shared half: `ln(u)·n_tok <
    * lw` with both sides exact BIGINT micro-nats (see
    * [[sampleImportance]]). */
  private[graft] def importanceKeep(docId: org.apache.spark.sql.Column,
      nTok: org.apache.spark.sql.Column,
      lwMicro: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val bu = pmod(
      PortableHash.h60(concat(lit("dsirk#"), docId.cast("string"))),
      lit(1048576L))
    (dsirLMicro(bu * 2 + 1) - dsirLMicro(lit(2097152L))) * nTok < lwMicro
  }

  /** Generated DuckDB oracle for [[sampleImportance]] — the same
    * tokenizer, hash buckets, smoothed micro-nat ratios, and the
    * integer log-u keep gate. */
  def importanceOracleSql: String = {
    def lm(x: String) = s"CAST(round(ln($x) * 1000000, 0) AS BIGINT)"
    val b = DsirBuckets
    s"""WITH toks AS (
          SELECT doc_id, lang,
                 ${PortableHash.h60Sql("'dsir#' || w")}
                   % $b AS b
          FROM (SELECT doc_id, lang,
                       unnest(${tokensSql("text")}) AS w
                FROM documents)),
        allc AS (SELECT b, count(*) AS c_all FROM toks GROUP BY b),
        tgtc AS (SELECT b, count(*) AS c_tgt FROM toks
                 WHERE lang = 'en' GROUP BY b),
        na AS (SELECT CAST(sum(c_all) AS BIGINT) AS n_all FROM allc),
        nt AS (SELECT CAST(coalesce(sum(c_tgt), 0) AS BIGINT) AS n_tgt FROM tgtc),
        lr AS (SELECT a.b,
                 ${lm("coalesce(t.c_tgt, 0) + 1")} - ${lm(s"n_tgt + $b")}
                 - ${lm("a.c_all + 1")} + ${lm(s"n_all + $b")} AS lr_micro
               FROM allc a LEFT JOIN tgtc t ON a.b = t.b
               CROSS JOIN na CROSS JOIN nt),
        scored AS (SELECT toks.doc_id, count(*) AS n_tok,
                          CAST(sum(lr.lr_micro) AS BIGINT) AS lw_micro
                   FROM toks JOIN lr ON toks.b = lr.b GROUP BY toks.doc_id),
        k AS (SELECT d.doc_id, d.lang, s.n_tok, s.lw_micro,
                ${PortableHash.h60Sql("'dsirk#' || CAST(d.doc_id AS VARCHAR)")}
                  % 1048576 AS bu
              FROM documents d JOIN scored s ON s.doc_id = d.doc_id)
        SELECT doc_id, lang, n_tok, lw_micro FROM k
        WHERE (${lm("bu * 2 + 1")} - ${lm("2097152")}) * n_tok < lw_micro
        ORDER BY doc_id"""
  }

  /** Target language mix for [[pipelineMix]], parts-per-million. The
    * operator's knob in production; fixed here so the generated
    * oracle shares it by construction. */
  val MixTargetsPpm: Seq[(String, Long)] = Seq(
    "en" -> 400000L, "de" -> 200000L, "fr" -> 150000L,
    "es" -> 150000L, "zh" -> 100000L)

  /** Largest per-lang count the BIGINT capacity `n·10⁶ div w` can
    * hold: Long.MaxValue / 10⁶. ~9.2·10¹² documents per language —
    * far above a 100 TB corpus (~10¹¹ docs at 1 KB/doc); raised
    * fail-fast (5-row projection), mirrored via error() in the
    * oracle. */
  val MixMaxLangCount: Long = Long.MaxValue / 1000000L

  /** Deterministic MIXTURE REBALANCING — the data-mixing step of a
    * training pipeline ("rebalance the corpus to 40% en / 20% de /
    * 15% fr / 15% es / 10% zh") with no rand(), no global sort, no
    * coordination. The kept total is water-line maximal: T = min over
    * targeted langs of the BIGINT capacity `n_lang·10⁶ div w_ppm` —
    * the largest total the corpus can supply at the target mix
    * without upsampling any language — and each lang keeps fraction
    * `w_ppm·T / (n_lang·10⁶)` of its documents (1 for the binding
    * lang; langs absent from [[MixTargetsPpm]] drop to weight 0).
    * Membership is the portable-hash gate (keep iff
    * `h60("mix#"+doc_id) mod 2²⁰ < thresh_lang`) with the threshold
    * derived in FORCED-DOUBLE arithmetic — the [[sampleWeighted]]
    * discipline: both engines execute the identical IEEE op sequence,
    * so the kept SET is engine/retry/partitioning-invariant and the
    * hash gate proves it.
    *
    * Scale shape: per-lang counts are one map-side-combined aggregate
    * (shuffle ∝ langs), thresholds broadcast back (≤ |targets| rows),
    * and the corpus pass is a stateless projection + filter — the
    * sampling decision is local to the row, which is what survives
    * 100 TB. */
  def pipelineMix(spark: SparkSession, dir: String): DataFrame =
    pipelineMixDf(Tables(spark, dir).documents)

  def pipelineMixDf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"))
      .join(broadcast(mixThresholds(docs)), Seq("lang"))
      .filter(mixBucket < col("thresh"))
      .select(col("doc_id"), col("lang"))
      .sortWithinPartitions("doc_id")

  /** The water-line thresholds alone, (lang, thresh): derived from a
    * standing corpus, broadcastable over any frame — the batch
    * sampler and the stream-static admission gate
    * ([[graft.streaming.Streams.mixStream]]) consume the SAME
    * derivation, so the membership rule cannot drift between the
    * twins. */
  private[graft] def mixThresholds(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val targets = MixTargetsPpm.toDF("lang", "w_ppm")
    // inner join: only targeted-AND-present langs contribute capacity
    val tc = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
      .join(broadcast(targets), Seq("lang"))
      .select(col("lang"), col("n_lang"), col("w_ppm"),
        when(col("n_lang") > MixMaxLangCount,
          raise_error(concat(
            lit(s"pipeline_mix: lang count exceeds the BIGINT capacity " +
              s"bound ($MixMaxLangCount) for "), col("lang")))
            .cast("long"))
          .otherwise(expr("(n_lang * 1000000) div w_ppm")).as("cap"))
    val tmax = tc.agg(min(col("cap")).as("t_total"))
    // forced-double fraction, identical op order in the oracle; the
    // least(1.0, …) guards the binding lang against a half-ulp
    // overshoot of exactly 1
    tc.crossJoin(broadcast(tmax))
      .select(col("lang"),
        floor(least(lit(1.0),
          (col("w_ppm").cast("double") * col("t_total").cast("double"))
            / (col("n_lang").cast("double") * lit(1000000.0)))
          * 1048576).cast("long").as("thresh"))
  }

  /** The row-local membership bucket — the other half of the rule
    * both twins share. */
  private[graft] def mixBucket: org.apache.spark.sql.Column = pmod(
    PortableHash.h60(concat(lit("mix#"), col("doc_id").cast("string"))),
    lit(1048576L))

  /** Generated DuckDB oracle for [[pipelineMix]] — targets inlined
    * from [[MixTargetsPpm]] so operator and oracle share the mix by
    * construction; capacity in BIGINT `//`, fraction in the same
    * forced-DOUBLE op order, the same fail-fast via error(). */
  def mixOracleSql: String = {
    val values = MixTargetsPpm
      .map { case (l, w) => s"('$l', CAST($w AS BIGINT))" }.mkString(", ")
    s"""WITH counts AS (SELECT lang, count(*) AS n_lang FROM documents
                        GROUP BY lang),
       t(lang, w_ppm) AS (VALUES $values),
       cap AS (SELECT c.lang, c.n_lang, t.w_ppm,
                      CASE WHEN c.n_lang > $MixMaxLangCount
                           THEN CAST(error('pipeline_mix: lang count exceeds capacity bound') AS BIGINT)
                           ELSE (c.n_lang * 1000000) // t.w_ppm END AS cap
               FROM counts c JOIN t ON c.lang = t.lang),
       m AS (SELECT min(cap) AS t_total FROM cap),
       th AS (SELECT lang,
                     CAST(floor(least(CAST(1.0 AS DOUBLE),
                       (CAST(w_ppm AS DOUBLE) * CAST(t_total AS DOUBLE))
                         / (CAST(n_lang AS DOUBLE) * 1000000.0))
                       * 1048576) AS BIGINT) AS thresh
              FROM cap CROSS JOIN m),
       h AS (SELECT doc_id, lang,
                    ${PortableHash.h60Sql("'mix#' || CAST(doc_id AS VARCHAR)")}
                      % 1048576 AS b
             FROM documents)
       SELECT h.doc_id, h.lang FROM h JOIN th ON th.lang = h.lang
       WHERE h.b < th.thresh ORDER BY h.doc_id"""
  }

  /** Shard count for [[pipelineShuffle]] — the operator's knob in
    * production (one shard per training-reader stream); fixed here so
    * the generated oracle shares it by construction. */
  val ShuffleShards: Int = 16

  /** Deterministic GLOBAL SHUFFLE assignment — the step a training
    * pipeline ends with ("write the curated corpus as N shards in a
    * reproducible pseudo-random order, reshuffled each epoch") with
    * no rand(), no global sort, no coordination. Each document gets a
    * 60-bit portable-hash key salted by the epoch
    * (`skey = h60("shuf#e{epoch}#" + doc_id)`) and a shard
    * (`skey mod N`): the key IS the position — readers consume a
    * shard in `(skey, doc_id)` order (doc_id breaks the rare 60-bit
    * collision), so the permutation is a pure row-local function of
    * (doc_id, epoch). A different epoch re-salts the hash and yields
    * an independent permutation; the same epoch is bit-stable across
    * engines, retries, and partitionings — resumable mid-epoch from
    * just (epoch, last skey).
    *
    * Scale shape: the assignment is MAP-ONLY — one codegen'd
    * projection, no exchange, no window. Dense per-shard positions
    * are deliberately NOT materialized: a row_number per shard would
    * funnel each shard through one task, serializing exactly the
    * corpus-sized path this operator exists to parallelize. The order
    * lives in the sort key; [[graft.sources.IO.writeShuffledShards]]
    * lays files out in that order (sorted runs per file — k sorted
    * files merge in O(n) at read), so no dense rank is ever needed. */
  def pipelineShuffle(spark: SparkSession, dir: String): DataFrame =
    pipelineShuffleDf(Tables(spark, dir).documents)

  def pipelineShuffleDf(docs: DataFrame, epoch: Int = 0): DataFrame =
    docs.select(col("doc_id"), shuffleKey(epoch).as("skey"))
      .withColumn("shard", pmod(col("skey"), lit(ShuffleShards.toLong)))
      .select(col("doc_id"), col("shard"), col("skey"))
      .sortWithinPartitions("doc_id")

  /** The epoch-salted shuffle key — shared by the batch assignment
    * and the shard writer so the two cannot drift. */
  private[graft] def shuffleKey(epoch: Int): org.apache.spark.sql.Column =
    PortableHash.h60(
      concat(lit(s"shuf#e$epoch#"), col("doc_id").cast("string")))

  /** Generated DuckDB oracle for [[pipelineShuffle]] — the same hash
    * expression and shard modulus inlined, epoch 0 (the query's
    * setting). */
  def shuffleOracleSql: String =
    s"""WITH h AS (SELECT doc_id,
             ${PortableHash.h60Sql("'shuf#e0#' || CAST(doc_id AS VARCHAR)")} AS skey
           FROM documents)
       SELECT doc_id, skey % $ShuffleShards AS shard, skey
       FROM h ORDER BY doc_id"""

  // --- curriculum staging ---------------------------------------------

  /** Bottom-k sample size for the curriculum's decile edges. */
  val CurriculumSampleK = 1000

  /** Curriculum staging: assign every document a quality DECILE stage
    * (0 = weakest tenth … 9) and emit the per-stage manifest (doc and
    * token budgets) a curriculum-ordered training run consumes. The
    * quality score is a declared integer composite —
    * `round(10⁶·distinct_ratio) + round(10⁶·stopword_ratio)` per
    * micro-unit, both ratios the proven text_quality expressions —
    * and the decile CUT POINTS come from the portable bottom-k-by-hash
    * sample ([[graft.functions.BottomKSampleAgg]], the
    * profile_quantiles rank rule at pct = 10·i), so the stage
    * assignment is reproducible across engines, runs, and
    * partitionings — no global sort, no NTILE window over the corpus.
    * Shape: one exploded token aggregate (the text_quality plan), one
    * k-bounded sample aggregate, a 1-row edge broadcast, one
    * stage groupBy — every stage map-side-combinable; output = ≤ 10
    * manifest rows at any corpus size. */
  def pipelineCurriculum(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val stopHits = StopWordList.map(w => when(col("tok") === w, 1L).otherwise(0L))
      .reduce(_ + _)
    val scored = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        countDistinct(col("tok")).as("n_distinct"),
        sum(stopHits).as("stop_hits"))
      .select(col("doc_id"), col("n_tok"),
        (round(lit(1e6) * col("n_distinct").cast("double") / col("n_tok"), 0)
          .cast("long") +
          round(lit(1e6) * col("stop_hits").cast("double") / col("n_tok"), 0)
            .cast("long")).as("q_micro"))
    val edgesRow = scored
      .agg(graft.functions.BottomKSampleAgg.bottomk(
        PortableHash.h60(concat(lit("cur#"), col("doc_id").cast("string"))),
        col("q_micro").cast("double"), CurriculumSampleK).as("s"))
      .select(array((1 to 9).map(i =>
        element_at(col("s"),
          (floor(lit(i * 10) / lit(100.0) * (size(col("s")) - 1)) + 1)
            .cast("int"))): _*).as("edges"))
    scored.crossJoin(broadcast(edgesRow))
      .select(col("n_tok"), col("q_micro"),
        size(filter(col("edges"),
          x => col("q_micro").cast("double") >= x)).as("stage"))
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("budget_tokens"),
        min(col("q_micro")).as("q_min"), max(col("q_micro")).as("q_max"))
      .orderBy(col("stage"))
  }

  /** Generated DuckDB oracle for [[pipelineCurriculum]]: same token
    * ratios, same bottom-k sample and pct = 10·i rank rule, same
    * edge-count stage fold. */
  def curriculumOracleSql: String = {
    val stops = StopWordList.map("'" + _ + "'").mkString(", ")
    s"""WITH toks AS (
           SELECT doc_id, ${tokensSql("text")} AS t
           FROM documents),
         q AS (
           SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tok,
                  CAST(round(1e6 * CAST(len(list_distinct(t)) AS DOUBLE)
                             / len(t), 0) AS BIGINT)
                  + CAST(round(1e6 * CAST(len(list_filter(t,
                               x -> x IN ($stops))) AS DOUBLE)
                               / len(t), 0) AS BIGINT) AS q_micro
           FROM toks),
         m AS (SELECT q_micro,
                      ${PortableHash.h60Sql("'cur#' || CAST(doc_id AS VARCHAR)")} AS h
               FROM q),
         r AS (SELECT q_micro,
                      row_number() OVER (ORDER BY h, q_micro) AS rn
               FROM m),
         s AS (SELECT CAST(q_micro AS DOUBLE) AS v,
                      row_number() OVER (ORDER BY q_micro) AS vr,
                      count(*) OVER () AS n
               FROM r WHERE rn <= $CurriculumSampleK),
         e AS (SELECT list(s.v ORDER BY p.i) AS ev
               FROM (SELECT unnest(range(1, 10)) AS i) p
               JOIN s ON s.vr = CAST(floor(p.i * 10 / 100.0 * (s.n - 1))
                                     AS BIGINT) + 1),
         st AS (SELECT q.n_tok, q.q_micro,
                       len(list_filter(e.ev,
                         x -> CAST(q.q_micro AS DOUBLE) >= x)) AS stage
                FROM q CROSS JOIN e)
         SELECT stage, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_tok) AS BIGINT) AS budget_tokens,
                min(q_micro) AS q_min, max(q_micro) AS q_max
         FROM st GROUP BY stage ORDER BY stage"""
  }

  /** This object's queries, each with its DuckDB oracle (see [[graft.core.Query]]). */
  lazy val queries: Seq[Query] = Seq(
    // Non-distinct bigram list (the duplicate count IS the signal);
    // same degenerate len<2 rule as the shingle expression.
    Query("text_repetition", textRepetition,
      s"""WITH toks AS (
           SELECT doc_id, ${tokensSql("text")} AS t
           FROM documents),
         g AS (
           SELECT doc_id, ${nGramsSql("t", 2, distinct = false)} AS bgs
           FROM toks)
         SELECT doc_id, len(bgs) AS n_bigrams,
                len(list_distinct(bgs)) AS n_distinct,
                round(1.0 - len(list_distinct(bgs)) * 1.0 / len(bgs), 6)
                  AS rep_ratio
         FROM g ORDER BY doc_id"""),
    // Flags compare against the 6dp-rounded metrics on both engines,
    // so gate decisions can't flip on accumulation order.
    Query("text_gopher", textGopher,
      s"""WITH tk AS (
           SELECT doc_id,
                  unnest(${tokensSql("text")}) AS tok
           FROM documents),
         per AS (
           SELECT doc_id, count(*) AS n_tokens,
                  sum(length(tok)) AS tok_chars,
                  count(DISTINCT CASE WHEN tok IN
                    ('the','a','of','and','to','in','is','on','for','with')
                    THEN tok END) AS n_stop
           FROM tk GROUP BY doc_id),
         m AS (
           SELECT d.doc_id, per.n_tokens,
                  round(per.tok_chars * 1.0 / per.n_tokens, 6) AS avg_word_len,
                  CASE WHEN length(d.text) = 0 THEN 0.0
                       ELSE round(CAST(length(d.text) - length(regexp_replace(d.text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
                                  / length(d.text), 6) END AS punct_ratio,
                  per.n_stop
           FROM documents d JOIN per ON per.doc_id = d.doc_id)
         SELECT doc_id, n_tokens, avg_word_len, punct_ratio, n_stop,
                n_tokens BETWEEN 20 AND 1000 AS ok_len,
                avg_word_len BETWEEN 2.0 AND 10.0 AS ok_word_len,
                punct_ratio <= 0.2 AS ok_symbol,
                n_stop >= 2 AS ok_stop,
                (n_tokens BETWEEN 20 AND 1000)
                  AND (avg_word_len BETWEEN 2.0 AND 10.0)
                  AND punct_ratio <= 0.2 AND n_stop >= 2 AS keep
         FROM m ORDER BY doc_id"""),
    // Distinct 13-gram overlap vs the src0 "benchmark" documents (the
    // GPT-3/Gopher decontamination window) — same shingle rule as the
    // Spark expression (degenerate len<13 → one all-tokens shingle).
    Query("pipeline_decontam", (s, d) => pipelineDecontam(s, d),
      s"""WITH toks AS (
           SELECT doc_id, source, ${tokensSql("text")} AS t
           FROM documents),
         g AS (
           SELECT doc_id, source, ${nGramsSql("t", 13, distinct = true)} AS gs
           FROM toks),
         bench AS (SELECT DISTINCT unnest(gs) AS gram FROM g
                   WHERE source = 'src0'),
         posts AS (SELECT doc_id, unnest(gs) AS gram FROM g
                   WHERE source <> 'src0'),
         hits AS (SELECT p.doc_id, count(*) AS n_hits
                  FROM posts p JOIN bench b ON p.gram = b.gram
                  GROUP BY p.doc_id)
         SELECT d.doc_id, d.source,
                coalesce(h.n_hits, 0) AS n_hits,
                coalesce(h.n_hits, 0) > 0 AS contaminated
         FROM (SELECT doc_id, source FROM documents WHERE source <> 'src0') d
         LEFT JOIN hits h ON h.doc_id = d.doc_id
         ORDER BY d.doc_id"""),
    // Integer thresholds (floor div) + the portable md5-60bit hash —
    // the sample membership is bit-identical across engines.
    Query("sample_stratified", sampleStratified,
      s"""WITH counts AS (SELECT lang, count(*) AS n_lang FROM documents
                         GROUP BY lang),
         m AS (SELECT min(n_lang) AS min_n FROM counts),
         th AS (SELECT lang, (min_n * 1048576) // n_lang AS thresh
                FROM counts CROSS JOIN m),
         h AS (SELECT doc_id, lang,
                      ${PortableHash.h60Sql("'smp#' || CAST(doc_id AS VARCHAR)")}
                        % 1048576 AS b
               FROM documents)
         SELECT h.doc_id, h.lang FROM h JOIN th ON th.lang = h.lang
         WHERE h.b < th.thresh ORDER BY h.doc_id"""),
    // α=0.5 temperature rebalance: forced-double sqrt threshold chain
    // (IEEE-correctly-rounded ops in declared order ⇒ identical
    // integer thresholds), then the portable-hash keep gate
    Query("sample_temperature", sampleTemperature, sampleTemperatureSql),
    // α bank from sqrt compositions only (general pow is not
    // correctly rounded and would hash-diverge); one pass, ≤3×langs
    Query("sample_temperature_sweep", sampleTemperatureSweep,
      sampleTemperatureSweepSql),
    // Weight-proportional hash gate: keep iff hash mod 2^20 is below
    // floor(w * 2^20) — DOUBLE forced before every division/floor so
    // both engines derive the identical integer threshold.
    Query("sample_weighted", sampleWeighted,
      s"""SELECT doc_id,
                round(least(CAST(1 AS DOUBLE), CAST(length(text) AS DOUBLE) / 500.0), 6) AS weight
         FROM documents
         WHERE ${PortableHash.h60Sql("'wsmp#' || CAST(doc_id AS VARCHAR)")} % 1048576
               < CAST(floor(least(CAST(1 AS DOUBLE), CAST(length(text) AS DOUBLE) / 500.0) * 1048576) AS BIGINT)
         ORDER BY doc_id"""),
    Query("sample_uniform_k", (s, d) => sampleUniformK(s, d), sampleUniformKSql()),
    // Generated from Curation.MixTargetsPpm (operator and oracle
    // share the mix by construction): BIGINT water-line capacity,
    // forced-DOUBLE fraction in the identical IEEE op order, the
    // same portable-hash membership gate.
    Query("pipeline_mix", pipelineMix, mixOracleSql),
    Query("pipeline_funnel", (s, d) => pipelineFunnel(s, d), funnelOracleSql),
    Query("pipeline_shuffle", pipelineShuffle, shuffleOracleSql),
    // decile stages from the portable bottom-k sample (the
    // profile_quantiles rank rule at pct = 10·i) over a declared
    // integer quality composite — no NTILE window over the corpus
    Query("pipeline_curriculum", pipelineCurriculum, curriculumOracleSql),
    // per-group bottom-k sample: same hash, same (hash, id) order,
    // same cut — the window formulation is the oracle, the bounded
    // aggregate is the plan
    Query("sample_per_group", samplePerGroup, perGroupOracleSql),
    // DSIR importance resampling: hashed-unigram likelihood ratios in
    // exact micro-nats, integer log-u keep gate (no exp/float
    // boundary anywhere) — generated from the same constants
    Query("sample_importance", sampleImportance, importanceOracleSql),
    // Generated from the same Curation.PiiPatterns strings, applied
    // in the same order; DuckDB needs the explicit 'g' flag to match
    // Spark's replace-all default.
    Query("pipeline_pii", pipelinePii, piiSql),
  )

  /** pipeline_pii oracle, generated from [[PiiPatterns]] so
    * the two sides can never drift. */
  private def piiSql: String = {
    // progressive counting mirror: pattern i counts on the text
    // already redacted by patterns 0..i-1, exactly like the Spark side
    val stages = PiiPatterns.scanLeft("text") {
      case (acc, (_, p, repl)) => s"regexp_replace($acc, '$p', '$repl', 'g')"
    }
    val counts = PiiPatterns.zipWithIndex.map { case ((n, p, _), i) =>
      s"len(regexp_extract_all(${stages(i)}, '$p')) AS n_$n"
    }.mkString(",\n                ")
    val clean = stages.last
    val hasPii = PiiPatterns
      .map { case (n, _, _) => s"n_$n > 0" }.mkString(" OR ")
    s"""WITH c AS (SELECT doc_id,
                $counts,
                $clean AS clean
         FROM documents)
       SELECT doc_id, n_email, n_ip, n_phone, clean, ($hasPii) AS has_pii
       FROM c ORDER BY doc_id"""
  }
}
