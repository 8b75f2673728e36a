package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Query, Tables}
import graft.functions.Shingles.{nGramsSql, tokens, tokensSql}
import graft.functions.TextAnalysis._

/** Text-analysis operator block over `documents` (SURVEY.md §2 F). */
object TextOps {

  /** Per-document quality metrics: length, token stats, stopword /
    * punctuation / lexical-diversity ratios.
    *
    * Exploded-aggregate shape: one tokenization per row, then one
    * partial-aggregating groupBy on doc_id. The naive column form
    * (metrics as array HOFs over a shared `toks` column) looks like
    * it tokenizes once, but Catalyst's projection collapse inlines
    * the split into every metric — 5 regex walks per document. The
    * column-level HOF metrics live on in [[graft.functions.TextAnalysis]]
    * and TextQualitySpec pins the two formulations equal. */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val stopHits = StopWordList.map(w => when(col("tok") === w, 1L).otherwise(0L))
      .reduce(_ + _)
    val perTok = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(length(col("tok"))).as("tok_chars"),
        sum(stopHits).as("stop_hits"),
        countDistinct(col("tok")).as("n_distinct"))
    docs.select(col("doc_id"), length(col("text")).as("n_chars_m"),
        punctRatio(col("text")).as("punct_ratio"))
      .join(perTok, Seq("doc_id"))
      .select(
        col("doc_id"),
        col("n_chars_m"),
        col("n_tokens").cast("int").as("n_tokens"),
        round(col("tok_chars").cast("double") / col("n_tokens"), 6)
          .as("avg_tok_len"),
        round(col("stop_hits").cast("double") / col("n_tokens"), 6)
          .as("stopword_ratio"),
        round(col("n_distinct").cast("double") / col("n_tokens"), 6)
          .as("distinct_ratio"),
        col("punct_ratio"))
      // per-doc outputs end in a within-partition presentation sort
      // ONLY: the gate re-sorts before hashing, and a trailing global
      // orderBy on a corpus-scaling frame is a full range exchange at
      // 100× (kept only where a limit/TakeOrdered or a genuinely
      // ordered contract follows — e.g. textCollocations, bm25Search)
      .sortWithinPartitions("doc_id")
  }

  /** Token counts: whitespace tokens vs BPE-ish pre-tokenizer runs. */
  def textTokens(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"),
        size(tokens(col("text"))).as("ws_tokens"),
        size(bpeTokens(col("text"))).as("re_tokens"))
      .sortWithinPartitions("doc_id")

  /** Readability profile — Flesch-reading-ease-shaped scoring in
    * exact fixed point. Sentences are `[.!?]+` runs, syllables the
    * classic vowel-group approximation (`[aeiouy]+` on lowercased
    * text), both counted with `regexp_count` (codegen'd, one pass
    * each — no explode). The score is the standard
    * `206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)`
    * but computed in milli-units with integer floor division, so the
    * order-independent integer result hash-matches across engines
    * (the float form would differ in the last ulp). Map-only: zero
    * shuffles before the presentation sort — at 100 TB this is a
    * pure scan-side projection. */
  def textReadability(spark: SparkSession, dir: String): DataFrame =
    textReadabilityDf(Tables(spark, dir).documents)

  def textReadabilityDf(docs: DataFrame): DataFrame = {
    val words = size(tokens(col("text")))
    // degenerate docs (no terminator at all) count as one sentence,
    // so the score is defined for every row
    val sentences = greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
    // asciiFold, not lower: locale-independent and engine-portable
    // (Java lower's one-to-many İ mapping would split a vowel run
    // differently than the oracle's utf8proc lower on unicode text)
    val syllables =
      regexp_count(asciiFold(col("text")), lit("[aeiouy]+"))
    docs
      .select(col("doc_id"),
        sentences.cast("long").as("n_sentences"),
        words.cast("long").as("n_words"),
        syllables.cast("long").as("n_syllables"))
      .select(col("doc_id"), col("n_sentences"), col("n_words"),
        col("n_syllables"),
        expr("CAST((1000 * n_words) DIV n_sentences AS BIGINT)")
          .as("wps_milli"),
        expr("CAST((1000 * n_syllables) DIV n_words AS BIGINT)")
          .as("spw_milli"),
        expr("""CAST(206835 - (1015 * n_words) DIV n_sentences
                - (84600 * n_syllables) DIV n_words AS BIGINT)""")
          .as("flesch_milli"))
      .sortWithinPartitions("doc_id")
  }

  /** Stable md5 fingerprint of normalized text. */
  def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .sortWithinPartitions("doc_id")

  /** Composite cleaning pipeline — the canonical training-data flow:
    * quality gate (length / lexical-diversity / punctuation) then
    * exact dedup by normalized fingerprint keeping the smallest
    * doc_id; at 100 TB this is the shape of the first cleaning pass.
    *
    * Same exploded-aggregate shape as [[textQuality]]: one
    * tokenization per row (explode → count / countDistinct with
    * map-side partials), instead of the interpreted `array_distinct`
    * HOF per document — measured ~4× faster on the same table. */
  def pipelineClean(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents.select(col("doc_id"), col("text"))
    val perTok = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("n_distinct"))
    docs
      .join(perTok, Seq("doc_id"))
      .filter(col("n_tokens") >= 20 &&
        round(col("n_distinct").cast("double") / col("n_tokens"), 6) >= 0.3 &&
        punctRatio(col("text")) <= 0.3)
      .groupBy(fingerprint(col("text")).as("fp"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"),
        min(col("n_tokens").cast("int")).as("n_tokens"))
      .select(col("keep_id"), col("fp"), col("n_dups"), col("n_tokens"))
      .sortWithinPartitions("keep_id")
  }

  /** Min-token thresholds the cleaning-gate sweep reads in ONE pass —
    * fixed literals so the generated oracle shares them. */
  val CleanSweepBank: Seq[Int] = Seq(10, 20, 40, 80)

  /** CLEANING-GATE TUNING SWEEP — the fourth member of the
    * parameter-bank family (Jaccard-τ, LSH (bands,rows), IVF nprobe;
    * this one tunes the quality gate itself): for every min-token
    * threshold in [[CleanSweepBank]] (diversity and punctuation
    * conditions held at [[pipelineClean]]'s values), the kept
    * document count, the post-dedup group count, and the keep rate
    * in exact ppm — the "how much corpus does each knob setting
    * cost" readout a curation team reads before committing a
    * threshold. ONE tokenization pass: per-fingerprint conditional
    * counts for all thresholds ride a single aggregate (no
    * per-threshold rescan, no multi-distinct expand), then a
    * bank-sized unpivot. */
  def pipelineCleanSweep(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents.select(col("doc_id"), col("text"))
    val perTok = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("n_distinct"))
    val flagged = docs.join(perTok, Seq("doc_id"))
      .select(fingerprint(col("text")).as("fp"), col("n_tokens"),
        (round(col("n_distinct").cast("double") / col("n_tokens"), 6) >= 0.3 &&
          punctRatio(col("text")) <= 0.3).as("base"))
    val bankCols = CleanSweepBank.map(t =>
      sum(when(col("base") && col("n_tokens") >= t, 1L).otherwise(0L))
        .as(s"c$t"))
    val perFp = flagged.groupBy(col("fp"))
      .agg(bankCols.head, bankCols.tail: _*)
    val stacked = perFp.select(expr(
      s"stack(${CleanSweepBank.length}, " +
        CleanSweepBank.map(t => s"${t}L, c$t").mkString(", ") +
        ") as (min_tokens, c)"))
    stacked
      .groupBy(col("min_tokens"))
      .agg(sum(col("c")).as("n_docs"),
        sum(when(col("c") > 0L, 1L).otherwise(0L)).as("n_groups"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_total"))))
      .select(col("min_tokens"), col("n_docs"), col("n_groups"),
        expr("(n_docs * 1000000) div n_total").as("keep_ppm"))
      .orderBy(col("min_tokens"))
  }

  /** Generated DuckDB oracle for [[pipelineCleanSweep]] — the
    * pipeline_clean oracle's exact gate/fingerprint fragments with
    * the conditional bank over one pass. */
  def pipelineCleanSweepSql: String = {
    val arms = CleanSweepBank.map(t =>
      s"""SELECT $t AS min_tokens,
                 CAST(sum(c$t) AS BIGINT) AS n_docs,
                 CAST(sum(CASE WHEN c$t > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_groups
          FROM perfp""").mkString("\n         UNION ALL\n         ")
    val cs = CleanSweepBank.map(t =>
      s"sum(CASE WHEN base AND n_tokens >= $t THEN 1 ELSE 0 END) AS c$t")
      .mkString(",\n                ")
    s"""WITH q AS (
         SELECT doc_id, text,
                len(${tokensSql("text")}) AS n_tokens,
                round(CAST(len(list_distinct(${tokensSql("text")})) AS DOUBLE)
                      / len(${tokensSql("text")}), 6) AS dr,
                round(CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
                      / length(text), 6) AS pr
         FROM documents),
       flagged AS (
         SELECT md5(translate(regexp_replace(trim(text, ' '), '\\s+', ' ', 'g'), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) AS fp,
                n_tokens, (dr >= 0.3 AND pr <= 0.3) AS base
         FROM q),
       perfp AS (
         SELECT fp,
                $cs
         FROM flagged GROUP BY fp),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents),
       bank AS (
         $arms)
       SELECT min_tokens, n_docs, n_groups,
              CAST((n_docs * 1000000) // n_total AS BIGINT) AS keep_ppm
       FROM bank CROSS JOIN tot
       ORDER BY min_tokens"""
  }

  /** Corpus-fraction checkpoints for [[profileVocabGrowth]] — fixed
    * so the generated oracle shares them. */
  val VocabGrowthPcts: Seq[Int] = Seq(25, 50, 75, 100)

  /** VOCABULARY GROWTH CURVE (Heaps' law readout) — the trainer-
    * sizing diagnostic behind [[bpeLearn]]'s cap and `minFreq`: how
    * many distinct word types exist after 25/50/75/100 % of the
    * corpus (in doc_id order — the deterministic stand-in for
    * arrival order). The curve's flattening rate is what decides
    * vocabulary budgets and whether a frequency cutoff is safe.
    *
    * Exact WITHOUT any cumulative-distinct machinery OR a corpus
    * sort: checkpoints are doc_id VALUE fractions
    * (`cut(p) = id_min + ((id_max − id_min)·p) div 100` — O(1) from
    * one min/max aggregate; a rank-based prefix would need a global
    * row_number sort), and a type is "in the vocabulary at p" iff
    * its FIRST occurrence (min doc_id over the type) is ≤ cut(p) —
    * one token aggregate to (type → first_doc), then a 4-arm
    * conditional count. Everything map-side combinable; output = 4
    * rows. */
  def profileVocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val bounds = docs.agg(min(col("doc_id")).as("id_min"),
      max(col("doc_id")).as("id_max"))
    val firstSeen = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(min(col("doc_id")).as("first_doc"))
      .crossJoin(broadcast(bounds))
    val banked = firstSeen
      .select(explode(array(VocabGrowthPcts.map(p => lit(p.toLong)): _*))
        .as("pct"), col("first_doc"), col("id_min"), col("id_max"))
      .filter(col("first_doc") <=
        expr("id_min + ((id_max - id_min) * pct) div 100"))
      .groupBy(col("pct")).agg(count(lit(1)).as("n_types"))
    val nDocs = docs.crossJoin(broadcast(bounds))
      .select(explode(array(VocabGrowthPcts.map(p => lit(p.toLong)): _*))
        .as("pct"), col("doc_id"), col("id_min"), col("id_max"))
      .filter(col("doc_id") <=
        expr("id_min + ((id_max - id_min) * pct) div 100"))
      .groupBy(col("pct")).agg(count(lit(1)).as("n_docs"))
    nDocs.join(banked, Seq("pct"))
      .select(col("pct"), col("n_docs"), col("n_types"))
      .orderBy(col("pct"))
  }

  /** Generated DuckDB oracle for [[profileVocabGrowth]]. */
  def vocabGrowthSql: String = {
    val pcts = VocabGrowthPcts.mkString(", ")
    s"""WITH fs AS (
         SELECT tk, min(doc_id) AS first_doc
         FROM (SELECT doc_id,
                      unnest(${tokensSql("text")}) AS tk
               FROM documents)
         WHERE tk <> '' GROUP BY tk),
       b AS (SELECT min(doc_id) AS id_min, max(doc_id) AS id_max
             FROM documents),
       ps AS (SELECT unnest([$pcts]) AS pct),
       cuts AS (SELECT pct,
                       id_min + ((id_max - id_min) * pct) // 100 AS cut_id
                FROM ps CROSS JOIN b),
       nt AS (SELECT c.pct, CAST(count(*) AS BIGINT) AS n_types
              FROM cuts c JOIN fs ON fs.first_doc <= c.cut_id
              GROUP BY c.pct),
       nd AS (SELECT c.pct, CAST(count(*) AS BIGINT) AS n_docs
              FROM cuts c JOIN documents d ON d.doc_id <= c.cut_id
              GROUP BY c.pct)
       SELECT CAST(nd.pct AS BIGINT) AS pct, nd.n_docs, nt.n_types
       FROM nd JOIN nt ON nt.pct = nd.pct
       ORDER BY pct"""
  }

  /** Rank depth the Zipf fit reads — the frequency head where the
    * power law lives (the long tail bends away from it). */
  val ZipfTopR: Int = 100

  /** ZIPF SLOPE — the power-law exponent of the corpus frequency
    * head (`freq ∝ rank^s`, natural text reads s ≈ −1): least-squares
    * fit of ln(freq) on ln(rank) over the top-[[ZipfTopR]] terms.
    * The [[profileVocabGrowth]] curve prices vocabulary SIZE; the
    * slope prices its SHAPE — together they decide whether a
    * frequency cutoff (BPE minFreq, stop-listing) is safe, and a
    * slope far from −1 flags boilerplate/template contamination.
    *
    * Exactness discipline: each ln is computed ONCE per row and
    * quantized to integer micro-nats (the text_entropy rule — raw
    * double sums are aggregation-order-sensitive), the regression
    * sums run exact in DECIMAL(38,0)/HUGEINT, and slope + intercept
    * are each ONE forced-double division over those integers,
    * rounded 6dp. Scale shape: one vocabulary aggregate, a global
    * top-R that compiles to TakeOrderedAndProject, and a ≤ R-row
    * local window for ranks — never a corpus sort. */
  def textZipf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val tf = docs.select(explode(tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
    val top = tf.orderBy(col("freq").desc, col("term")).limit(ZipfTopR)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("term")) // ≤ R rows: bounded
    val q = top
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("freq"),
        expr("cast(round(ln(cast(rank as double)) * 1000000, 0) as bigint)")
          .as("x_micro"),
        expr("cast(round(ln(cast(freq as double)) * 1000000, 0) as bigint)")
          .as("y_micro"))
    q.agg(count(lit(1)).as("n_terms"),
        sum(col("x_micro").cast("decimal(38,0)")).as("sx"),
        sum(col("y_micro").cast("decimal(38,0)")).as("sy"),
        sum(col("x_micro").cast("decimal(38,0)") * col("y_micro"))
          .as("sxy"),
        sum(col("x_micro").cast("decimal(38,0)") * col("x_micro"))
          .as("sxx"))
      .select(col("n_terms"),
        round((col("n_terms") * col("sxy") - col("sx") * col("sy"))
            .cast("double") /
          (col("n_terms") * col("sxx") - col("sx") * col("sx"))
            .cast("double"), 6).as("slope"),
        round((col("sxx") * col("sy") - col("sx") * col("sxy"))
            .cast("double") /
          (col("n_terms") * col("sxx") - col("sx") * col("sx"))
            .cast("double") / lit(1000000.0), 6).as("intercept"))
  }

  /** Generated DuckDB oracle for [[textZipf]] — the same micro-nat
    * quantization, HUGEINT regression sums, and forced-double tail. */
  def textZipfSql: String =
    s"""WITH tf AS (
         SELECT tk AS term, CAST(count(*) AS BIGINT) AS freq
         FROM (SELECT unnest(${tokensSql("text")}) AS tk
               FROM documents)
         WHERE tk <> '' GROUP BY tk),
       ranked AS (
         SELECT term, freq,
                row_number() OVER (ORDER BY freq DESC, term) AS rank
         FROM tf),
       q AS (SELECT CAST(rank AS BIGINT) AS rank, freq,
                    CAST(round(ln(CAST(rank AS DOUBLE)) * 1000000, 0)
                         AS BIGINT) AS x_micro,
                    CAST(round(ln(CAST(freq AS DOUBLE)) * 1000000, 0)
                         AS BIGINT) AS y_micro
             FROM ranked WHERE rank <= $ZipfTopR),
       s AS (SELECT CAST(count(*) AS BIGINT) AS n_terms,
                    CAST(sum(x_micro) AS HUGEINT) AS sx,
                    CAST(sum(y_micro) AS HUGEINT) AS sy,
                    CAST(sum(CAST(x_micro AS HUGEINT) * y_micro)
                         AS HUGEINT) AS sxy,
                    CAST(sum(CAST(x_micro AS HUGEINT) * x_micro)
                         AS HUGEINT) AS sxx
             FROM q)
       SELECT n_terms,
              round(CAST(n_terms * sxy - sx * sy AS DOUBLE)
                    / CAST(n_terms * sxx - sx * sx AS DOUBLE), 6) AS slope,
              round(CAST(sxx * sy - sx * sxy AS DOUBLE)
                    / CAST(n_terms * sxx - sx * sx AS DOUBLE)
                    / 1000000.0, 6) AS intercept
       FROM s"""

  /** text_normalize: unicode canonicalization of the corpus — NFC +
    * SIMPLE (1:1, locale-free) casefold via the fused
    * [[graft.functions.NormalizeText]] codegen kernel, then the
    * engine-portable ASCII `\s+` collapse and ASCII-space trim (the
    * one-arg-trim trap class: Spark's one-arg trim strips ' ' only;
    * the oracle says `trim(x, ' ')` explicitly). The step a pipeline
    * runs BEFORE any content keying, so decomposed accents, fullwidth
    * forms kept verbatim, and İ-dot hazards stop forking dedup keys.
    * Map-only at any corpus size: one projection, no exchange;
    * per-doc before/after code-point counts and a changed flag ride
    * along for the audit. */
  def textNormalize(spark: SparkSession, dir: String): DataFrame = {
    val norm = regexp_replace(
      trim(graft.functions.Normalize.normalizeText(col("text"))),
      "\\s+", " ")
    Tables(spark, dir).documents
      .select(col("doc_id"), col("text"), norm.as("norm_text"))
      .select(col("doc_id"), col("norm_text"),
        length(col("text")).as("n_before"),
        length(col("norm_text")).as("n_after"),
        (col("norm_text") =!= col("text")).cast("int").as("changed"))
      .sortWithinPartitions("doc_id")
  }

  /** Deterministic train/val/test split — the assignment must be a
    * pure function of the stable id (multiplicative Knuth hash), so
    * any executor, any retry, any engine derives the same split:
    * 80/10/10 over the hash space.
    *
    * The bucket is `(doc_id · 2654435761) mod 2³²`, computed in
    * 16-bit limbs so no intermediate exceeds 2⁴⁹ — a direct
    * `doc_id * 2654435761` overflows (and, under Spark 4's default
    * ANSI mode, throws) once doc_id ≥ ~3.5e9, which is exactly the
    * doc-count order of a 100 TB corpus. Same bucket values as the
    * direct product, so the split assignment is unchanged.
    * Returns per-split stats; the assignment column itself is what a
    * pipeline would join on. */
  def pipelineSplit(spark: SparkSession, dir: String): DataFrame = {
    val split = splitAssignment(col("doc_id"))
    Tables(spark, dir).documents
      .select(col("doc_id"), split.as("split"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n"), min("doc_id").as("min_id"),
        max("doc_id").as("max_id"))
      .orderBy("split")
  }

  /** Token-budget sequence packing — the step that turns a cleaned
    * corpus into fixed-budget training shards: docs are laid out in
    * stable (source, doc_id) order, a running token total assigns
    * each doc to the pack its *starting* offset falls in, and packs
    * report their doc count and token fill.
    *
    * Scale shape: the running sum windows by `source`, so shards pack
    * in parallel across sources (the unit real pipelines pack within
    * anyway — a global single-ordered window would serialize the
    * corpus through one task). Deterministic: (source, doc_id) is a
    * total order, so every engine and every retry derives identical
    * packs. */
  def pipelinePack(spark: SparkSession, dir: String,
      budget: Long = 2048): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
    Tables(spark, dir).documents
      .select(col("source"), col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("cum", sum("n_tok").over(w))
      // integer `div`, not floor(double /): a source's running token
      // total can pass 2^53 at 100 TB and double division would
      // misassign packs
      .withColumn("pack_id", expr(s"(cum - n_tok) div $budget"))
      .groupBy(col("source"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .sortWithinPartitions("source", "pack_id")
  }

  /** Context-length bank for [[pipelinePackSweep]] — fixed literals
    * so the generated oracle shares them. */
  val PackSweepBank: Seq[Long] = Seq(512L, 1024L, 2048L, 4096L)

  /** PACKING-EFFICIENCY SWEEP — the context-length decision readout
    * (what does each candidate sequence length cost in pad waste?):
    * for every budget in [[PackSweepBank]], the pack count, total
    * packed tokens, and UNDERFILL in exact ppm of capacity. ONE
    * tokenization + ONE per-source running-sum window (the
    * [[pipelinePack]] layout), then every budget is a map-side
    * derivation `pack_id = (cum − n_tok) div B` fanned from the same
    * cum column — the parameter-bank discipline on the knob training
    * teams actually argue about. */
  def pipelinePackSweep(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
    val base = Tables(spark, dir).documents
      .select(col("source"), col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("cum", sum("n_tok").over(w))
    base
      .select(col("source"), col("n_tok"), col("cum"),
        explode(array(PackSweepBank.map(lit): _*)).as("budget"))
      .withColumn("pack_id", expr("(cum - n_tok) div budget"))
      .groupBy(col("budget"), col("source"), col("pack_id"))
      .agg(sum(col("n_tok")).as("fill"))
      .groupBy(col("budget"))
      .agg(count(lit(1)).as("n_packs"),
        sum(col("fill")).as("total_tokens"),
        sum(greatest(col("budget") - col("fill"), lit(0L)))
          .as("underfill"))
      .select(col("budget"), col("n_packs"), col("total_tokens"),
        expr("(underfill * 1000000) div (n_packs * budget)")
          .as("underfill_ppm"))
      .orderBy(col("budget"))
  }

  /** Generated DuckDB oracle for [[pipelinePackSweep]]. */
  def pipelinePackSweepSql: String = {
    val budgets = PackSweepBank.mkString(", ")
    s"""WITH base AS (
         SELECT source, doc_id,
                CAST(len(${tokensSql("text")})
                     AS BIGINT) AS n_tok,
                CAST(sum(len(${tokensSql("text")}))
                  OVER (PARTITION BY source ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
         FROM documents),
       fan AS (SELECT b.source, b.n_tok, b.cum, bud.budget,
                      (b.cum - b.n_tok) // bud.budget AS pack_id
               FROM base b
               CROSS JOIN (SELECT unnest([$budgets]) AS budget) bud),
       packs AS (SELECT budget, source, pack_id,
                        CAST(sum(n_tok) AS BIGINT) AS fill
                 FROM fan GROUP BY 1, 2, 3)
       SELECT CAST(budget AS BIGINT) AS budget,
              CAST(count(*) AS BIGINT) AS n_packs,
              CAST(sum(fill) AS BIGINT) AS total_tokens,
              CAST((sum(greatest(budget - fill, 0)) * 1000000)
                   // (count(*) * budget) AS BIGINT) AS underfill_ppm
       FROM packs GROUP BY budget ORDER BY budget"""
  }

  /** Overflow-safe split bucket + assignment (see [[pipelineSplit]]).
    * `(A·id) mod 2³² = (A·lo) mod 2³²` where `lo = id mod 2³²`; with
    * `lo = l1·2¹⁶ + l0`, that is
    * `(A·l0 + ((A·l1) mod 2¹⁶)·2¹⁶) mod 2³²` — every product stays
    * under 2⁴⁹. */
  private[graft] def splitAssignment(id: Column): Column = {
    val A = 2654435761L
    val lo = pmod(id.cast("long"), lit(4294967296L))
    val l1 = shiftright(lo, 16)
    val l0 = lo.bitwiseAND(lit(0xFFFFL))
    val bucket = pmod(
      lit(A) * l0 + pmod(lit(A) * l1, lit(65536L)) * lit(65536L),
      lit(4294967296L))
    when(bucket < lit(3435973836L), "train")   // 0.8 * 2^32
      .when(bucket < lit(3865470565L), "val")  // 0.9 * 2^32
      .otherwise("test")
  }

  /** Self-trained bigram language-model score — the CCNet-style
    * perplexity quality signal, with the corpus itself as the
    * training set: P(w₂|w₁) = c(w₁w₂)/c(w₁·) from corpus bigram
    * counts, and each document scores the average log-probability of
    * its own bigram sequence. Documents whose word order is unusual
    * for the corpus (boilerplate, shuffled spam, wrong-language
    * fragments) sit in the low tail — the bucketing signal real
    * pipelines get from a KenLM model, built here from counts alone.
    *
    * Oracle-checkable FIXED-POINT formulation (the money-sum trick
    * applied to a transcendental): each model entry's ln(c₂/c₁) is
    * quantized ONCE to integer micro-nats, per-document scores are
    * exact BIGINT sums of those — order-independent, so any
    * aggregation order and both engines agree bit-for-bit. The only
    * cross-engine float risk is 1 ulp inside ln itself, ~10⁻¹⁰ of the
    * quantization step — measured 0 mismatches across every distinct
    * ratio in the corpus.
    *
    * Scale shape: the model is one corpus bigram count (vocab²-bounded
    * rows) plus a prefix-total window over the model table (tiny);
    * scoring is one equi-join of exploded bigrams against the model —
    * AQE size-gates the join (broadcast while the model is small,
    * shuffle join for a 100 TB-vocabulary corpus) — and one
    * partial-aggregating groupBy(doc_id). No driver-side state. */
  def textLmScore(spark: SparkSession, dir: String): DataFrame =
    textLmScoreDf(Tables(spark, dir).documents)

  def textLmScoreDf(docs: DataFrame): DataFrame = {
    val bg = docs.select(col("doc_id"),
      explode(graft.functions.ShingleCol.nGramShingles(
        tokens(col("text")), 2, distinct = false)).as("bg"))
      // a <2-token document's degenerate single-word shingle is not a
      // bigram; it must not count as one (nor match the model)
      .filter(col("bg").contains(" "))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(substring_index(col("bg"), " ", 1))
    val model = bg.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
      .withColumn("c1", sum("c2").over(w))
      .select(col("bg"),
        round(log(col("c2").cast("double") / col("c1").cast("double")) * 1e6, 0)
          .cast("long").as("lp_micro"))
    val scored = bg.join(model, Seq("bg"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum("lp_micro").as("nat_micro"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("nat_micro"), lit(0L)).as("nat_micro"),
        round(coalesce(col("nat_micro"), lit(0L)).cast("double") / 1e6 /
          greatest(coalesce(col("n_bigrams"), lit(0L)), lit(1L)), 6)
          .as("avg_logprob"))
      .sortWithinPartitions("doc_id")
  }

  /** Corpus collocations — the top-k bigrams by pointwise mutual
    * information, the classic "which word pairs belong together"
    * sweep (phrase mining, tokenizer-merge candidates). PMI
    * `ln(p(ab)/(p(a)p(b)))` decomposes into a LINEAR combination of
    * per-count logs, so the micro-nat trick applies cleanly: each
    * `ln(count)` quantizes once to an integer, the score is exact
    * BIGINT addition from there, and the (pmi, bigram) ranking is a
    * total order — engine-reproducible despite the transcendental.
    * Shape: unigram + bigram count aggregates (map-side combining),
    * two vocabulary-sized joins with NO broadcast hint (the
    * vocabulary scales with the corpus — AQE size-gates), and a
    * global top-k that plans as TakeOrdered, never a full sort. The
    * `minCount` gate drops the hapax tail before the joins — at
    * 100 TB that gate is what keeps the join input vocabulary-sized
    * rather than corpus-sized. */
  def textCollocations(spark: SparkSession, dir: String): DataFrame =
    collocationsDf(Tables(spark, dir).documents)

  def collocationsDf(docs: DataFrame, minCount: Int = 5,
      k: Int = 50): DataFrame = {
    def lMicro(c: Column) =
      round(log(c.cast("double")) * 1e6, 0).cast("long")
    val uni = docs.select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val n1df = uni.agg(sum("c1").as("n1"))
    val big = docs.select(explode(graft.functions.ShingleCol.nGramShingles(
        tokens(col("text")), 2, distinct = false)).as("bg"))
      // the degenerate <2-token shingle is not a bigram (lm-score rule)
      .filter(col("bg").contains(" "))
      .groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    val n2df = big.agg(sum("c2").as("n2"))
    big.filter(col("c2") >= minCount)
      .withColumn("wa", substring_index(col("bg"), " ", 1))
      .withColumn("wb", substring_index(col("bg"), " ", -1))
      .join(uni.select(col("w").as("wa"), col("c1").as("ca")), Seq("wa"))
      .join(uni.select(col("w").as("wb"), col("c1").as("cb")), Seq("wb"))
      .crossJoin(broadcast(n1df))
      .crossJoin(broadcast(n2df))
      .select(col("bg"), col("c2"),
        (lMicro(col("c2")) - lMicro(col("n2")) - lMicro(col("ca"))
          - lMicro(col("cb")) + lit(2L) * lMicro(col("n1")))
          .as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("bg"))
      .limit(k)
  }

  /** TF-IDF top terms per document — the classic retrieval weighting,
    * shaped for the oracle gate: the smooth idf `ln((N+1)/(df+1))` is
    * quantized ONCE per term to integer micro-nats, each (doc, term)
    * score is the exact product `tf · idf_micro` (BIGINT), and the
    * per-doc top-3 ranks on (score, term) — a total order, so the
    * selection is engine-reproducible. The per-doc window partitions
    * by doc_id: at 100 TB that is millions of tiny partitions, the
    * one shape where a ranking window is scale-correct.
    *
    * The df join carries no broadcast hint (term table is
    * vocabulary-sized — corpus-dependent); AQE size-gates it. */
  def textTfidf(spark: SparkSession, dir: String, k: Int = 3): DataFrame =
    textTfidfDf(Tables(spark, dir).documents, k)

  def textTfidfDf(docs: DataFrame, k: Int = 3): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val idfMicro = round(log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))) * 1e6, 0)
      .cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score_scaled").desc, col("term"))
    tf.join(dfT, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score_scaled", col("tf") * idfMicro)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        round(col("score_scaled").cast("double") / 1e6, 6).as("tfidf"),
        col("rn"))
      .sortWithinPartitions("doc_id", "rn")
  }

  /** BM25 ranked retrieval for a fixed query — the search surface
    * over the corpus: Okapi BM25 with k1=1.2, b=0.75, smooth idf.
    * Every per-(doc, term) score is computed from exact integers
    * (tf, dl) and the per-term micro-nat idf through deterministic
    * IEEE arithmetic, then quantized to micro-units so the per-doc
    * sum is exact BIGINT — aggregation-order-proof, hash-matching.
    *
    * Scale shape: the query-term tf table is a semi-filtered explode
    * (terms not in the query drop before any shuffle), one
    * groupBy(doc) sum, and a global top-20 that compiles to
    * TakeOrderedAndProject. avgdl is one tiny aggregate broadcast
    * back over the scoring join. */
  val Bm25Query: Seq[String] = Seq("spark", "join", "window")

  def textBm25(spark: SparkSession, dir: String, topK: Int = 20): DataFrame =
    textBm25Df(Tables(spark, dir).documents, topK)

  def textBm25Df(docs: DataFrame, topK: Int = 20): DataFrame = {
    val lens = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("dl"))
    val stats = lens.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .filter(col("term").isin(Bm25Query: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idfMicro = round(log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))) * 1e6, 0)
      .cast("long")
    val termScore = (idfMicro.cast("double") / 1e6) *
      (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    tf.join(dfT, Seq("term"))
      .join(lens, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("score_micro", round(termScore * 1e6, 0).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit_terms"),
        sum(col("score_micro")).as("total_micro"))
      .select(col("doc_id"), col("n_hit_terms"),
        round(col("total_micro").cast("double") / 1e6, 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(topK)
  }

  // --- language ID -------------------------------------------------

  /** Tiny per-language stopword profiles (public-knowledge function
    * words). Deliberately small: langid here is the n-gram/stopword
    * heuristic the pipeline needs, not a trained model. Public so the
    * DuckDB oracle SQL is generated from the same lexicon. */
  val Profiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it", "with", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "del", "las", "por"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "en", "un", "du", "que"),
    "de" -> Seq("der", "die", "und", "das", "von", "den", "im", "ein", "mit", "zu"),
    "zh" -> Seq("de", "shi", "bu", "le", "zai", "ren", "you", "wo", "ta", "zhe"))

  /** Score = fraction of tokens found in each language profile;
    * prediction = argmax (ties broken by language code). Built from
    * array ops only, so it's one narrow codegen'd projection. */
  def langidScores(text: Column): Column = {
    // ASCII case-fold (not lower): the lexicons are ASCII, so folding
    // A-Z is all membership needs — and it is locale-independent,
    // where Java lower under tr_TR would turn 'In' into 'ın' and miss
    val toks = tokens(asciiFold(text))
    val scored = Profiles.toSeq.sortBy(_._1).map { case (langCode, words) =>
      val hits = size(filter(toks, t => words.map(t === _).reduce(_ || _)))
      struct((hits.cast("double") / size(toks)).as("score"),
        lit(langCode).as("lang"))
    }
    // array_max on (score, lang) structs = argmax with lexicographic
    // tie-break on the language code.
    array_max(array(scored: _*))
  }

  /** Language-ID over documents (oracle-checked: the DuckDB twin is
    * generated from the same [[Profiles]] lexicon; the synthetic
    * corpus' lang labels are uncorrelated with its text, so accuracy
    * is additionally spec-tested on crafted samples — LangidSpec).
    *
    * Join-based scoring — explode tokens, equi-join the broadcast
    * lexicon, count hits per (doc, lang) — instead of the per-row
    * interpreted lambda of [[langidScores]]: everything stays in
    * codegen'd joins/aggregates (measured ~4× faster) and the lexicon
    * can grow to real dictionary size without touching the plan. The
    * two formulations agree (LangidSpec cross-checks). */
  def textLangid(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val docs = Tables(spark, dir).documents
      .select(col("doc_id"),
        tokens(asciiFold(col("text"))).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("n"),
        explode(col("toks")).as("tok"))
    val lexicon = spark.createDataFrame(
      Profiles.toSeq.flatMap { case (l, ws) => ws.map(w => (l, w)) })
      .toDF("lang", "word")
    val hits = docs
      .join(broadcast(lexicon), col("tok") === col("word"))
      .groupBy(col("doc_id"), col("lang"))
      .agg((count(lit(1)) / min(col("n"))).as("score"))
    val langs = spark.createDataFrame(
      Profiles.keys.toSeq.sorted.map(Tuple1(_))).toDF("lang")
    Tables(spark, dir).documents.select(col("doc_id"))
      .crossJoin(broadcast(langs))
      .join(hits, Seq("doc_id", "lang"), "left")
      .groupBy(col("doc_id"))
      .agg(max(struct(coalesce(col("score"), lit(0.0d)).as("score"),
        col("lang").as("lang"))).as("pred"))
      .select(col("doc_id"), col("pred.lang").as("pred_lang"),
        round(col("pred.score"), 6).as("score"))
      .sortWithinPartitions("doc_id")
  }

  /** Character-level Shannon entropy per document — the randomness
    * quality signal (near-zero = repeated filler, high = encrypted /
    * binary junk; both ends get filtered in a curation pass).
    * `H = ln n − (Σ cᵢ·ln cᵢ)/n` over character counts, with each
    * `ln` quantized ONCE to integer micro-nats (the [[textLmScore]]
    * trick) so the per-doc sum is exact integer arithmetic and the
    * order-dependent float total hash-matches across engines.
    *
    * Shape: the char explode is map-side; the (doc, char) partial
    * aggregate collapses each partition to ≤ |alphabet| rows per doc
    * before the shuffle, and the per-doc roll-up carries two longs.
    * Empty documents keep entropy 0 via the left join back. */
  def textEntropy(spark: SparkSession, dir: String): DataFrame =
    textEntropyDf(Tables(spark, dir).documents)

  /** Merge rounds for [[textBpeMerges]] — fixed so the generated
    * oracle unrolls the same trajectory by construction. 64 proves
    * the production shape: the learn loop is one Spark job + a local
    * incremental trajectory (cost per round is map maintenance, not
    * a cluster round-trip) and the encode side is ONE constant-size
    * expression, so neither side's plan or job count grows with the
    * round count. */
  val BpeRounds: Int = 64

  /** Fail-fast cap on the collected word-TYPE table (the learn
    * state). Word types are vocabulary-bounded (Heaps' law: ~millions
    * for a 100 TB crawl after any frequency cutoff), so the driver
    * holds them comfortably; a corpus that overflows the cap needs a
    * frequency cutoff ([[bpeLearn]]'s `minFreq` — the standard
    * trainer knob), and silently training on a truncated table would
    * be a wrong tokenizer — so raise instead. Byte bound at the cap:
    * 4M rows × (string ref + ~32-char word + long) ≈ 400–600 MB on
    * the driver — large but a one-shot allocation released when the
    * local trajectory finishes; size driver memory for it or lower
    * the cap alongside a higher `minFreq`. */
  val BpeMaxWordTypes: Int = 4000000

  /** BPE TOKENIZER-MERGE LEARNING — the iterative loop a tokenizer
    * team runs over the corpus: start from characters (plus an
    * end-of-word marker), repeatedly merge the most frequent adjacent
    * symbol pair, emit the learned merge table. [[collocationsDf]]
    * mines merge CANDIDATES; this is the loop itself.
    *
    * Exact-integer trajectory: pair counts are BIGINT sums of word
    * frequencies, ties break on the (cnt DESC, a ASC, b ASC) total
    * order, so every round's winner is engine-reproducible and the
    * whole trajectory sits under the hash gate — the oracle unrolls
    * the same [[BpeRounds]] rounds as a generated CTE chain (the
    * kmeans/pagerank discipline).
    *
    * The merge application is THREE literal `replace` calls — both
    * engines scan leftmost-first over non-overlapping occurrences,
    * and the double-space separator encoding makes every greedy
    * left-to-right merge (including adjacent occurrences, `a b a b`,
    * and overlapping runs, `a a a`) a disjoint match: each boundary
    * carries TWO spaces, a match consumes one from each side, so
    * consecutive pair sites never share a character.
    *
    * Scale shape: BPE over a corpus operates on the word-TYPE table
    * (freq-weighted), which is vocabulary-bounded — the corpus is
    * scanned ONCE for the type aggregate, the types come back to the
    * driver (capped: [[BpeMaxWordTypes]], fail-fast), and the whole
    * merge trajectory runs as a LOCAL incremental loop — the shape
    * every production tokenizer trainer uses, because a per-round
    * cluster aggregate would turn a 32k-merge vocabulary into 32k
    * jobs over state that fits in one process. Each round updates
    * pair counts only for the word types the winning merge touched
    * (an inverted pair→words index), so the loop is O(corpus symbols)
    * amortized, and the trajectory — (cnt DESC, a, b) tie order in
    * UTF-8 byte order, greedy left-to-right merge application — is
    * bit-identical to the distributed per-round aggregate it
    * replaces (BpeReferenceSpec pins both against a textbook
    * implementation). */
  def textBpeMerges(spark: SparkSession, dir: String): DataFrame =
    bpeMergesDf(spark, Tables(spark, dir).documents)

  def bpeMergesDf(spark: SparkSession, docs: DataFrame,
      rounds: Int = BpeRounds, minFreq: Long = 1L): DataFrame = {
    val merges = bpeLearn(docs, rounds, minFreq)
    import spark.implicits._
    merges.toDF("merge_idx", "pair_a", "pair_b", "cnt")
      .select(col("merge_idx"), col("pair_a"), col("pair_b"),
        concat(col("pair_a"), col("pair_b")).as("merged"), col("cnt"))
      .orderBy("merge_idx")
  }

  /** The corpus's word-TYPE frequency table — the learn state. */
  private def wordTypes(docs: DataFrame): DataFrame = docs
    .select(explode(tokens(col("text"))).as("word"))
    .filter(col("word") =!= "")
    .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** Learn the merge table: ONE Spark job (the word-type aggregate),
    * then the exact local trajectory ([[bpeLearnLocal]]).
    *
    * `minFreq` is the standard trainer frequency cutoff: word types
    * seen fewer than `minFreq` times are dropped BEFORE the collect,
    * so a long-tail corpus (web crawls: most types are hapax
    * typos/boilerplate fragments) trains within the driver cap
    * instead of hitting the fail-fast. The cutoff is applied to the
    * distributed aggregate — the executors never ship the tail — and
    * it is an explicit parameter, never an implicit truncation: with
    * the default 1 the table is exact and the cap still raises on
    * overflow. Dropping types whose pair contributions can't flip
    * any winning merge leaves the trajectory bit-identical
    * (BpeReferenceSpec pins cutoff ≡ full-table on such a corpus);
    * in general the cutoff is a declared approximation, same as
    * every production BPE trainer's. */
  private[graft] def bpeLearn(docs: DataFrame, rounds: Int,
      minFreq: Long = 1L,
      maxTypes: Int = BpeMaxWordTypes): Seq[(Int, String, String, Long)] = {
    val base = wordTypes(docs)
    val kept = if (minFreq > 1L) base.filter(col("freq") >= minFreq) else base
    // limit(cap+1) bounds the collect even on a pathological corpus;
    // the require still detects the overflow and raises
    val types = kept.limit(maxTypes + 1).collect()
    require(types.length <= maxTypes,
      s"bpeLearn: word-type table exceeds $maxTypes types" +
        (if (minFreq > 1L) s" even at minFreq=$minFreq; raise the cutoff"
         else "; pass minFreq (the standard trainer cutoff) to drop " +
           "the long tail instead of training on a silently " +
           "truncated vocabulary"))
    bpeLearnLocal(types.map(r => (r.getString(0), r.getLong(1))), rounds)
  }

  /** UTF-8 byte order — Spark's UTF8String / DuckDB binary collation
    * string order, NOT Java's UTF-16 `compareTo` (they disagree above
    * U+FFFF vs U+E000–U+FFFF; the unicode gate corpus has both). */
  private def utf8Lt(x: String, y: String): Boolean =
    java.util.Arrays.compareUnsigned(
      x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      y.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0

  /** The exact incremental merge trajectory over (word type, freq)
    * rows: maintain pair counts + an inverted pair→word-types index;
    * per round pick the (cnt DESC, a, b) winner and re-index only the
    * word types containing it (greedy left-to-right disjoint merge —
    * the same semantics as the generated oracle's triple-replace). */
  private[graft] def bpeLearnLocal(types: Array[(String, Long)],
      rounds: Int): Seq[(Int, String, String, Long)] = {
    import scala.collection.mutable
    val words = types.map { case (w, _) =>
      val buf = mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < w.length) {
        val n = Character.charCount(w.codePointAt(i))
        buf += w.substring(i, i + n)
        i += n
      }
      buf += "</w>"
      buf
    }
    val freq = types.map(_._2)
    val cnt = mutable.HashMap.empty[(String, String), Long]
    val where = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]
    def reindex(wi: Int, sign: Long): Unit = {
      val s = words(wi)
      var i = 0
      while (i < s.length - 1) {
        val p = (s(i), s(i + 1))
        val c = cnt.getOrElse(p, 0L) + sign * freq(wi)
        if (c == 0L) cnt.remove(p) else cnt(p) = c
        if (sign > 0L) where.getOrElseUpdate(p, mutable.HashSet.empty) += wi
        else where.get(p).foreach { set =>
          set -= wi
          if (set.isEmpty) where.remove(p)
        }
        i += 1
      }
    }
    words.indices.foreach(reindex(_, 1L))
    val merges = mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1
    while (r <= rounds && cnt.nonEmpty) {
      var bp: (String, String) = null
      var bc = 0L
      cnt.foreach { case (p, c) =>
        if (bp == null || c > bc || (c == bc &&
            (utf8Lt(p._1, bp._1) ||
              (p._1 == bp._1 && utf8Lt(p._2, bp._2))))) {
          bp = p; bc = c
        }
      }
      val (a, b) = bp
      merges += ((r, a, b, bc))
      val affected = where.getOrElse(bp, mutable.HashSet.empty).toArray
      affected.foreach { wi =>
        reindex(wi, -1L)
        val s = words(wi)
        var i = 0
        while (i < s.length - 1) {
          if (s(i) == a && s(i + 1) == b) {
            s(i) = a + b
            s.remove(i + 1)
          }
          i += 1
        }
        reindex(wi, 1L)
      }
      r += 1
    }
    merges.toSeq
  }

  /** BPE ENCODE of the corpus — the consumer side of
    * [[textBpeMerges]]: the post-merge symbol (subword) frequency
    * table, i.e. what the token stream would look like under the
    * learned merges. The word-type table is re-encoded DISTRIBUTED
    * through the [[graft.functions.BpeEncode]] kernel (one
    * constant-size expression over a broadcast merge table — plan
    * size independent of the round count). Bounded output (initial
    * alphabet + one symbol per merge); `(n DESC, sym)` is a total
    * order, so fully oracle-checked — the oracle unrolls the SAME
    * trajectory and explodes the final vocab state. */
  def textBpeVocab(spark: SparkSession, dir: String): DataFrame =
    bpeVocabDf(spark, Tables(spark, dir).documents)

  def bpeVocabDf(spark: SparkSession, docs: DataFrame,
      rounds: Int = BpeRounds): DataFrame = {
    val bc = spark.sparkContext.broadcast(
      bpeLearn(docs, rounds).map(m => (m._2, m._3)).toArray)
    wordTypes(docs)
      .select(explode(split(graft.functions.Bpe.encode(col("word"), bc),
        " ")).as("sym"), col("freq"))
      .groupBy(col("sym")).agg(sum(col("freq")).as("n"))
      .orderBy(col("n").desc, col("sym"))
  }

  /** TOKENIZER APPLICATION — the serving side of the BPE family:
    * learn the merge table ([[bpeLoop]]), then ENCODE every document
    * with it and report per-doc subword counts (the token-budget
    * number `pipeline_pack`-style budgeting actually needs under a
    * learned tokenizer, vs the whitespace proxy). Encoding is ONE
    * stateless codegen'd projection over the corpus through the
    * [[graft.functions.BpeEncode]] kernel: the learned pairs ride a
    * BROADCAST merge table, so the plan is constant-size no matter
    * how many merges were learned — at a production 32k-merge
    * vocabulary the old literal-`replace` fold was unplannable.
    * Empty tokens (blank docs) count zero subwords. The oracle
    * replays learn AND encode in one CTE chain: the trajectory CTEs
    * feed per-round corpus re-encodings through 1-row joins, so the
    * pairs are COMPUTED on the oracle side too — nothing is pinned
    * by hand, and the fold it unrolls is proven equivalent to the
    * kernel's rank-barrier algorithm by spec AND by this hash gate. */
  def textBpeTokens(spark: SparkSession, dir: String): DataFrame =
    bpeTokensDf(spark, Tables(spark, dir).documents)

  def bpeTokensDf(spark: SparkSession, docs: DataFrame,
      rounds: Int = BpeRounds): DataFrame = {
    val bc = spark.sparkContext.broadcast(
      bpeLearn(docs, rounds).map(m => (m._2, m._3)).toArray)
    docs
      .select(col("doc_id"), tokens(col("text")).as("ws"))
      .select(col("doc_id"),
        size(filter(col("ws"), w => w =!= "")).cast("long").as("n_words"),
        aggregate(col("ws"), lit(0L), (acc, w) =>
          acc + when(w === "", 0L)
            .otherwise(size(split(graft.functions.Bpe.encode(w, bc), " "))
              .cast("long")))
          .as("n_subwords"))
      .sortWithinPartitions("doc_id")
  }

  /** Pack documents by their LEARNED-TOKENIZER budget —
    * [[pipelinePack]] counts whitespace tokens, which is the proxy; a
    * training run fills sequence windows with SUBWORDS, so the real
    * packing unit is [[textBpeTokens]]'s count. Same deterministic
    * per-source running-total window over (source, doc_id), same
    * integer `div` pack assignment (a source's running subword total
    * passes 2⁵³ at 100 TB — double division would misassign packs);
    * the learn is one job + the local trajectory, the encode rides
    * the broadcast-kernel projection inside the window's input. The
    * oracle composes the generated learn+encode chain with the pack
    * chain — two proven families, one hash. */
  def pipelinePackBpe(spark: SparkSession, dir: String,
      budget: Long = 4096, rounds: Int = BpeRounds): DataFrame = {
    val docs = Tables(spark, dir).documents
    val bc = spark.sparkContext.broadcast(
      bpeLearn(docs, rounds).map(m => (m._2, m._3)).toArray)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
    docs
      .select(col("source"), col("doc_id"), tokens(col("text")).as("ws"))
      .select(col("source"), col("doc_id"),
        aggregate(col("ws"), lit(0L), (acc, t) =>
          acc + when(t === "", 0L)
            .otherwise(size(split(graft.functions.Bpe.encode(t, bc), " "))
              .cast("long")))
          .as("n_tok"))
      .withColumn("cum", sum("n_tok").over(w))
      .withColumn("pack_id", expr(s"(cum - n_tok) div $budget"))
      .groupBy(col("source"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .sortWithinPartitions("source", "pack_id")
  }

  /** Generated DuckDB oracle for [[pipelinePackBpe]] — the BPE
    * learn+encode chain feeding the pack chain. */
  def pipelinePackBpeOracleSql: String =
    s"""WITH ${bpeEncCtes(BpeRounds)},
         t AS (SELECT d.source, d.doc_id,
                      coalesce(c.n_subwords, CAST(0 AS BIGINT)) AS n_tok
               FROM documents d LEFT JOIN cnt c ON c.doc_id = d.doc_id),
         cu AS (SELECT source, doc_id, n_tok,
                  CAST(sum(n_tok) OVER (PARTITION BY source
                    ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum
                FROM t),
         p AS (SELECT source, doc_id, n_tok,
                      (cum - n_tok) // 4096 AS pack_id
               FROM cu)
         SELECT source, pack_id, count(*) AS n_docs,
                CAST(sum(n_tok) AS BIGINT) AS tokens,
                min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM p GROUP BY source, pack_id ORDER BY source, pack_id"""

  /** The literal-`replace` fold encode (the oracle's formulation) —
    * kept as the spec cross-check for [[graft.functions.BpeEncode]]'s
    * rank-barrier algorithm; NOT the production path (its plan grows
    * linearly with the merge count). */
  private[graft] def bpeFoldEncode(w: Column,
      merges: Seq[(String, String)]): Column = {
    val spaced = concat(trim(regexp_replace(w, "(.)", "$1 ")), lit(" </w>"))
    merges.foldLeft(spaced) { case (s, (a, b)) => bpeMergeCol(s, a, b) }
  }

  /** The learn chain + per-round corpus re-encodings + the final
    * per-doc count CTE (`cnt`) — the shared prefix of every oracle
    * that consumes BPE-encoded documents. */
  private def bpeEncCtes(rounds: Int): String = {
    val (chain, _) = bpeChain(rounds, applyLast = true)
    // LEFT JOIN ON true + CASE: when the trajectory exhausts before
    // `rounds` (t_i empty), the corpus passes through unchanged —
    // the same early stop the learn loop takes
    val enc = (1 to rounds).map { i =>
      s"""enc$i AS MATERIALIZED (
             SELECT doc_id, CASE WHEN t.a IS NULL THEN e.s
               ELSE trim(replace(replace(replace(
                 ' ' || e.s || ' ', ' ', '  '),
                 ' ' || t.a || '  ' || t.b || ' ', ' ' || t.a || t.b || ' '),
                 '  ', ' '), ' ') END AS s
               FROM enc${i - 1} e LEFT JOIN t$i t ON true)"""
    }.mkString(",\n         ")
    s"""$chain,
         tok AS (SELECT doc_id,
                   unnest(${tokensSql("text")}) AS w
                 FROM documents),
         enc0 AS (SELECT doc_id,
                    trim(regexp_replace(w, '(.)', '\\1 ', 'g'), ' ')
                      || ' </w>' AS s
                  FROM tok WHERE w <> ''),
         $enc,
         cnt AS (SELECT doc_id, count(*) AS n_words,
                   CAST(sum(len(string_split(s, ' '))) AS BIGINT) AS n_subwords
                 FROM enc$rounds GROUP BY doc_id)"""
  }

  /** Oracle for [[textBpeTokens]] — learn + encode in one generated
    * chain: per round the corpus token table is re-encoded through a
    * 1-row join with that round's computed winner. */
  def bpeTokensOracleSql: String =
    s"""WITH ${bpeEncCtes(BpeRounds)}
         SELECT d.doc_id, coalesce(c.n_words, 0) AS n_words,
                coalesce(c.n_subwords, 0) AS n_subwords
         FROM documents d LEFT JOIN cnt c ON c.doc_id = d.doc_id
         ORDER BY d.doc_id"""

  /** One greedy merge of pair (a, b) over a single-space-joined
    * symbol string — the double-space disjoint-match encoding. */
  private def bpeMergeCol(w: Column, a: String, b: String): Column =
    trim(replace(
      replace(
        replace(concat(lit(" "), w, lit(" ")), lit(" "), lit("  ")),
        lit(s" $a  $b "), lit(s" $a$b ")),
      lit("  "), lit(" ")))

  /** Generated DuckDB oracle for [[textBpeMerges]] — the identical
    * vocab carve and [[BpeRounds]]-round unrolled trajectory: per
    * round a pair-count CTE, a 1-row (cnt DESC, a, b) winner, and the
    * same triple-replace merge application. */
  def bpeOracleSql: String = bpeOracleSqlWith(BpeRounds)

  /** Trajectory oracle for [[textBpeVocab]] — the SAME generated
    * chain (merge application included for every round), final state
    * exploded to the symbol frequency table. */
  def bpeVocabOracleSql: String = {
    val (chain, _) = bpeChain(BpeRounds, applyLast = true)
    s"""WITH $chain
       SELECT sym, CAST(sum(freq) AS BIGINT) AS n
       FROM (SELECT unnest(string_split(w, ' ')) AS sym, freq FROM v$BpeRounds)
       GROUP BY sym ORDER BY n DESC, sym"""
  }

  private[graft] def bpeOracleSqlWith(rounds: Int): String = {
    val (chain, out) = bpeChain(rounds, applyLast = false)
    s"""WITH $chain
       SELECT * FROM ($out) ORDER BY merge_idx"""
  }

  /** The shared CTE-chain generator: vocab carve + per-round pair
    * count / winner / (optionally trailing) merge application, and
    * the merge-table UNION. One source of truth for both oracles. */
  private def bpeChain(rounds: Int, applyLast: Boolean): (String, String) = {
    // t/v are MATERIALIZED: the encode oracle references each round's
    // winner AND state a second time, and inlined CTEs would
    // re-evaluate the whole prefix per reference (the emb_pca lesson)
    def pairs(i: Int) =
      s"""p$i AS (SELECT s[i] AS a, s[i+1] AS b,
               CAST(sum(freq) AS BIGINT) AS cnt
             FROM (SELECT string_split(w, ' ') AS s, freq FROM v${i - 1}) t,
                  unnest(range(1, len(s))) AS r(i)
             GROUP BY s[i], s[i+1]),
         t$i AS MATERIALIZED (SELECT a, b, cnt FROM p$i
                 ORDER BY cnt DESC, a, b LIMIT 1)"""
    // trim MUST be the explicit-space form: DuckDB's one-arg trim is
    // unicode-aware and would strip a boundary U+3000 SYMBOL after
    // eating the separator spaces (caught by the unicode gate)
    // LEFT JOIN ON true + CASE keep the vocab state flowing when the
    // trajectory exhausts before `rounds` (t_i empty ⇒ v_i = v_{i-1},
    // and every later t_j stays empty — the learn loop's early stop)
    def applyMerge(i: Int) =
      s"""v$i AS MATERIALIZED (SELECT CASE WHEN t.a IS NULL THEN v.w
                 ELSE trim(replace(replace(replace(
                 ' ' || v.w || ' ', ' ', '  '),
                 ' ' || t.a || '  ' || t.b || ' ', ' ' || t.a || t.b || ' '),
                 '  ', ' '), ' ') END AS w, v.freq
               FROM v${i - 1} v LEFT JOIN t$i t ON true)"""
    val chain = (1 to rounds).map { i =>
      pairs(i) + (if (i < rounds || applyLast) ",\n         " + applyMerge(i)
        else "")
    }.mkString(",\n         ")
    val out = (1 to rounds).map { i =>
      s"SELECT $i AS merge_idx, a AS pair_a, b AS pair_b, a || b AS merged, cnt FROM t$i"
    }.mkString("\n         UNION ALL ")
    (s"""vw AS (
          SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
          FROM (SELECT unnest(${tokensSql("text")}) AS w
                FROM documents)
          WHERE w <> '' GROUP BY w),
         v0 AS (SELECT trim(regexp_replace(word, '(.)', '\\1 ', 'g'), ' ')
                         || ' </w>' AS w,
                       freq
                FROM vw),
         $chain""", out)
  }

  /** TEXTRANK keyword extraction (Mihalcea & Tarau 2004) — the
    * graph-ranking answer to "which words matter in this corpus",
    * composing two already-proven families: the word CO-OCCURRENCE
    * graph (adjacent-token pairs, unordered, count-weighted, pruned
    * by a min-co-occurrence gate that keeps the graph
    * vocabulary-bounded at 100 TB — the collocations minCount
    * discipline) feeds [[Graph.pagerankWeightedOf]]'s exact-integer
    * weighted PageRank trajectory, and the top-k words fall out of
    * the (pr DESC, word) total order. One corpus scan builds the
    * adjacency (map-side posexplode, no joins); everything after is
    * bounded by vocabulary. The oracle composes the adjacency CTEs
    * with the SAME unrolled integer round chain the
    * graph_pagerank_weighted oracle uses — a transcendental-free
    * fixed point, hash-exact end to end. */
  def textTextrank(spark: SparkSession, dir: String): DataFrame =
    textrankDf(Tables(spark, dir).documents)

  def textrankDf(docs: DataFrame, minCooc: Long = 3,
      topK: Int = 50): DataFrame = {
    val adj = docs
      .select(tokens(col("text")).as("ws"))
      .select(col("ws"), posexplode(col("ws")).as(Seq("i", "a")))
      // get() is 0-based and null past the end (the BPE pair rule)
      .withColumn("b", get(col("ws"), col("i") + 1))
      .filter(col("b").isNotNull && col("a") =!= "" && col("b") =!= "" &&
        col("a") =!= col("b"))
      .groupBy(least(col("a"), col("b")).as("wa"),
        greatest(col("a"), col("b")).as("wb"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= minCooc)
    val edges = adj.select(col("wa").as("src"), col("wb").as("dst"), col("w"))
      .unionAll(adj.select(col("wb").as("src"), col("wa").as("dst"), col("w")))
    Graph.pagerankWeightedOf(edges)
      .orderBy(col("pr").desc, col("node"))
      .limit(topK)
      .select(col("node").as("word"), col("pr"))
  }

  /** Generated DuckDB oracle for [[textTextrank]] — adjacency CTEs +
    * the unrolled weighted-PageRank integer chain (the
    * graph_pagerank_weighted formulation over the word graph). */
  def textrankOracleSql: String = {
    val iters = 5
    val chain = (1 to iters).map { i =>
      s"""pr$i AS (SELECT d.node, d.wout,
             (${Graph.Scale} * 15 // 100) // c.n
               + (${Graph.Damping} * sum((p.pr * e.w) // p.wout)) // 100 AS pr
           FROM pr${i - 1} p JOIN edges e ON p.node = e.src
             JOIN deg d ON e.dst = d.node
             CROSS JOIN const c
           GROUP BY d.node, d.wout, c.n)"""
    }.mkString(",\n         ")
    s"""WITH toks AS (
           SELECT ${tokensSql("text")} AS t
           FROM documents),
         adjraw AS (
           SELECT least(t[i], t[i+1]) AS wa, greatest(t[i], t[i+1]) AS wb
           FROM toks, unnest(range(1, len(t))) r(i)
           WHERE t[i] <> '' AND t[i+1] <> '' AND t[i] <> t[i+1]),
         adj AS (SELECT wa, wb, CAST(count(*) AS BIGINT) AS w
                 FROM adjraw GROUP BY 1, 2 HAVING count(*) >= 3),
         edges AS (SELECT wa AS src, wb AS dst, w FROM adj
                   UNION ALL SELECT wb AS src, wa AS dst, w FROM adj),
         deg AS (SELECT src AS node, sum(w) AS wout FROM edges GROUP BY src),
         const AS (SELECT count(*) AS n FROM deg),
         pr0 AS (SELECT node, wout, ${Graph.Scale} // n AS pr
                 FROM deg CROSS JOIN const),
         $chain
         SELECT node AS word, CAST(pr AS BIGINT) AS pr FROM pr$iters
         ORDER BY pr DESC, word LIMIT 50"""
  }

  def textEntropyDf(docs: DataFrame): DataFrame =
    // one fused map-side pass per row (CharMoments) — the exploded
    // per-character formulation shuffled the whole corpus's
    // characters twice to produce this per-doc scalar; the integers
    // (and therefore the hash) are identical, ~4× on the bench
    docs
      .select(col("doc_id"), charMoments(col("text")).as("m"))
      .select(col("doc_id"), col("m.n").as("n"), col("m.s_micro").as("s_micro"))
      .select(col("doc_id"),
        col("n").as("n_chars"),
        round(when(col("n") === 0, lit(0.0)).otherwise(
          (round(log(col("n").cast("double")) * 1e6, 0).cast("long") -
            col("s_micro").cast("double") / col("n")) / 1e6), 6)
          .as("entropy_nats"))
      .sortWithinPartitions("doc_id")

  /** RAKE keyword extraction (Rose, Engel, Cramer & Cowley 2010) —
    * the second, graph-free keyphrase method beside [[textTextrank]]:
    * candidate PHRASES are maximal stopword-free token runs; each
    * word scores `deg/freq` (deg = Σ lengths of phrases containing
    * it — co-occurrence degree including self; freq = occurrence
    * count), and a phrase scores the sum over its words. Multi-word
    * phrases win — exactly what TextRank's single-word ranking
    * cannot produce, and the cheaper of the two (zero iterations,
    * two groupBys).
    *
    * Exact-integer discipline: `score_micro(w) = (deg·10⁶) div freq`
    * (floor division of integers, no float anywhere until the
    * display column). Phrase segmentation is mirror-trivially
    * expressed in BOTH engines as: map stopword tokens to '|',
    * re-join with spaces, split on `' *\| *'`, drop empties — no
    * lookarounds, no engine-specific tokenizers. Top-k rides
    * orderBy+limit (TakeOrdered — bounded heap per partition). */
  def textRake(spark: SparkSession, dir: String, topK: Int = 30): DataFrame = {
    val stops = StopWordList.map(lit(_))
    // the shared NFC + simple-casefold kernel, NOT lower(): Java's
    // one-to-many Turkish İ → "i̇" diverges from utf8proc's 1:1 map,
    // and the multi-script gate catches exactly that
    val toks = tokens(graft.functions.Normalize.normalizeText(col("text")))
    val phraseStr = array_join(
      transform(toks, t =>
        when(stops.map(t === _).reduce(_ || _), lit("|")).otherwise(t)),
      " ")
    val phrases = Tables(spark, dir).documents
      .select(explode(split(phraseStr, " *\\| *")).as("phrase"))
      .filter(length(col("phrase")) > 0)
    val pw = phrases.select(col("phrase"),
      size(split(col("phrase"), " ")).cast("long").as("plen"))
      .select(col("phrase"), col("plen"),
        explode(split(col("phrase"), " ")).as("w"))
    val ws = pw.groupBy(col("w"))
      .agg(sum(col("plen")).as("deg"), count(lit(1)).as("freq"))
      .select(col("w"), expr("(deg * 1000000) div freq").as("s_micro"))
    val pd = phrases.groupBy(col("phrase")).agg(count(lit(1)).as("n_occur"))
    val scored = pd
      .select(col("phrase"), col("n_occur"),
        explode(split(col("phrase"), " ")).as("w"))
      .join(ws, Seq("w"))
      .groupBy(col("phrase"))
      .agg(max(col("n_occur")).as("n_occur"),
        sum(col("s_micro")).as("score_micro"))
    scored
      .select(col("phrase"), col("n_occur"), col("score_micro"),
        round(col("score_micro").cast("double") / 1e6, 6).as("score"))
      .orderBy(col("score_micro").desc, col("phrase"))
      .limit(topK)
  }

  /** Generated DuckDB oracle for [[textRake]] — same stopword
    * mapping, same split, same floor-divided micro scores. The phrase
    * split calls `regexp_split_to_array`, DuckDB's other name for
    * `string_split_regex`, which `tools/gate.sh` keeps for the token
    * twins. */
  def rakeOracleSql(topK: Int = 30): String = {
    val stops = StopWordList.map("'" + _ + "'").mkString(", ")
    s"""WITH toks AS (
         SELECT ${tokensSql("lower(nfc_normalize(text))")} AS t
         FROM documents),
       ph0 AS (
         SELECT unnest(regexp_split_to_array(
           array_to_string(list_transform(t,
             x -> CASE WHEN x IN ($stops) THEN '|' ELSE x END), ' '),
           ' *\\| *')) AS phrase
         FROM toks),
       phr AS (SELECT phrase FROM ph0 WHERE length(phrase) > 0),
       pw AS (SELECT phrase, len(string_split(phrase, ' ')) AS plen,
                     unnest(string_split(phrase, ' ')) AS w
              FROM phr),
       ws AS (SELECT w,
                     (CAST(sum(plen) AS BIGINT) * 1000000) // count(*)
                       AS s_micro
              FROM pw GROUP BY w),
       pd AS (SELECT phrase, CAST(count(*) AS BIGINT) AS n_occur
              FROM phr GROUP BY 1),
       pdw AS (SELECT phrase, n_occur,
                      unnest(string_split(phrase, ' ')) AS w
               FROM pd),
       scored AS (SELECT phrase, max(n_occur) AS n_occur,
                         CAST(sum(ws.s_micro) AS BIGINT) AS score_micro
                  FROM pdw JOIN ws USING (w) GROUP BY phrase)
       SELECT phrase, n_occur, score_micro,
              round(CAST(score_micro AS DOUBLE) / 1e6, 6) AS score
       FROM scored
       ORDER BY score_micro DESC, phrase LIMIT $topK"""
  }

  /** This object's queries, each with its DuckDB oracle (see [[graft.core.Query]]). */
  lazy val queries: Seq[Query] = Seq(
    // Heaps-law curve from (type → first_doc) + value-fraction cuts —
    // no corpus sort, no cumulative distinct
    Query("profile_vocab_growth", profileVocabGrowth, vocabGrowthSql),
    // micro-nat quantized log-log least squares over the top-100
    // frequency head; HUGEINT sums, one forced-double division per
    // coefficient
    Query("text_zipf", textZipf, textZipfSql),
    Query("text_quality", textQuality,
      s"""SELECT doc_id, length(text) AS n_chars_m,
                len(${tokensSql("text")}) AS n_tokens,
                round(CAST(list_sum(list_transform(${tokensSql("text")}, t -> length(t))) AS DOUBLE)
                      / len(${tokensSql("text")}), 6) AS avg_tok_len,
                round(CAST(len(list_filter(${tokensSql("text")},
                        t -> t IN ('the','a','of','and','to','in','is','on','for','with'))) AS DOUBLE)
                      / len(${tokensSql("text")}), 6) AS stopword_ratio,
                round(CAST(len(list_distinct(${tokensSql("text")})) AS DOUBLE)
                      / len(${tokensSql("text")}), 6) AS distinct_ratio,
                CASE WHEN length(text) = 0 THEN 0.0
                     ELSE round(CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
                                / length(text), 6) END AS punct_ratio
         FROM documents ORDER BY doc_id"""),
    // milli-unit integer Flesch: DuckDB // ≡ Spark DIV on the
    // non-negative counts, so the score column hash-matches exactly
    Query("text_readability", textReadability,
      s"""WITH c AS (
           SELECT doc_id,
                  greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
                  len(${tokensSql("text")}) AS n_words,
                  len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[aeiouy]+')) AS n_syllables
           FROM documents)
         SELECT doc_id,
                CAST(n_sentences AS BIGINT) AS n_sentences,
                CAST(n_words AS BIGINT) AS n_words,
                CAST(n_syllables AS BIGINT) AS n_syllables,
                CAST((1000 * n_words) // n_sentences AS BIGINT) AS wps_milli,
                CAST((1000 * n_syllables) // n_words AS BIGINT) AS spw_milli,
                CAST(206835 - (1015 * n_words) // n_sentences
                     - (84600 * n_syllables) // n_words AS BIGINT) AS flesch_milli
         FROM c ORDER BY doc_id"""),
    // PMI decomposes into a linear combination of per-count logs;
    // each ln quantizes once to micro-nats (counts ≥ 1 → ln ≥ 0, so
    // half-up and half-away rounding agree), then exact BIGINT adds
    Query("text_collocations", textCollocations,
      s"""WITH toks AS (
           SELECT doc_id, ${tokensSql("text")} AS t
           FROM documents),
         uni AS (SELECT w, count(*) AS c1
                 FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
         n1 AS (SELECT CAST(sum(c1) AS BIGINT) AS n1 FROM uni),
         g AS (SELECT ${nGramsSql("t", 2, distinct = false)} AS bgs
               FROM toks),
         b AS (SELECT bg, count(*) AS c2
               FROM (SELECT unnest(bgs) AS bg FROM g)
               WHERE bg LIKE '% %' GROUP BY bg),
         n2 AS (SELECT CAST(sum(c2) AS BIGINT) AS n2 FROM b),
         sel AS (SELECT b.bg, b.c2, ua.c1 AS ca, ub.c1 AS cb
                 FROM b
                 JOIN uni ua ON ua.w = string_split(b.bg, ' ')[1]
                 JOIN uni ub ON ub.w = string_split(b.bg, ' ')[2]
                 WHERE b.c2 >= 5)
         SELECT bg, c2,
                CAST(round(ln(CAST(c2 AS DOUBLE)) * 1000000, 0) AS BIGINT)
                - CAST(round(ln(CAST(n2 AS DOUBLE)) * 1000000, 0) AS BIGINT)
                - CAST(round(ln(CAST(ca AS DOUBLE)) * 1000000, 0) AS BIGINT)
                - CAST(round(ln(CAST(cb AS DOUBLE)) * 1000000, 0) AS BIGINT)
                + 2 * CAST(round(ln(CAST(n1 AS DOUBLE)) * 1000000, 0) AS BIGINT)
                  AS pmi_micro
         FROM sel CROSS JOIN n1 CROSS JOIN n2
         ORDER BY pmi_micro DESC, bg LIMIT 50"""),
    Query("text_tokens", textTokens,
      s"""SELECT doc_id,
                len(${tokensSql("text")}) AS ws_tokens,
                len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS re_tokens
         FROM documents ORDER BY doc_id"""),
    Query("text_fingerprint", textFingerprint,
      """SELECT doc_id,
                md5(translate(regexp_replace(trim(text, ' '), '\s+', ' ', 'g'), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) AS fp
         FROM documents ORDER BY doc_id"""),
    Query("pipeline_clean", pipelineClean,
      s"""WITH q AS (
           SELECT doc_id, text,
                  len(${tokensSql("text")}) AS n_tokens,
                  round(CAST(len(list_distinct(${tokensSql("text")})) AS DOUBLE)
                        / len(${tokensSql("text")}), 6) AS dr,
                  round(CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
                        / length(text), 6) AS pr
           FROM documents)
         SELECT min(doc_id) AS keep_id,
                md5(translate(regexp_replace(trim(text, ' '), '\\s+', ' ', 'g'), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) AS fp,
                count(*) AS n_dups, min(n_tokens) AS n_tokens
         FROM q WHERE n_tokens >= 20 AND dr >= 0.3 AND pr <= 0.3
         GROUP BY fp ORDER BY keep_id"""),
    // the cleaning gate's threshold bank: pipeline_clean's exact
    // gate/fingerprint fragments, all thresholds from one pass
    Query("pipeline_clean_sweep", pipelineCleanSweep,
      pipelineCleanSweepSql),
    // context-length bank: every budget derives map-side from ONE
    // per-source running-sum window
    Query("pipeline_pack_sweep", pipelinePackSweep,
      pipelinePackSweepSql),
    // NFC + SIMPLE casefold: utf8proc lower is the 1:1 UnicodeData
    // mapping, the same semantics as the Spark kernel's per-codepoint
    // Character.toLowerCase (İ → i, never i + combining dot); NFC
    // first on both sides; trim is explicit-ASCII (the one-arg trap)
    Query("text_normalize", textNormalize,
      """WITH n AS (
           SELECT doc_id, text,
                  regexp_replace(trim(lower(nfc_normalize(text)), ' '),
                                 '\s+', ' ', 'g') AS norm_text
           FROM documents)
         SELECT doc_id, norm_text,
                length(text) AS n_before,
                length(norm_text) AS n_after,
                CAST(norm_text <> text AS INT) AS changed
         FROM n ORDER BY doc_id"""),
    // Same 16-bit-limb bucket arithmetic as TextOps.splitAssignment —
    // equal to (doc_id * 2654435761) % 2^32 but overflow-free for
    // doc_id beyond ~3.5e9 on both engines.
    Query("pipeline_split", pipelineSplit,
      """WITH b AS (
           SELECT doc_id,
                  (2654435761 * ((doc_id % 4294967296) % 65536)
                   + ((2654435761 * ((doc_id % 4294967296) // 65536)) % 65536)
                     * 65536) % 4294967296 AS bucket
           FROM documents),
         s AS (
           SELECT doc_id,
                  CASE WHEN bucket < 3435973836 THEN 'train'
                       WHEN bucket < 3865470565 THEN 'val'
                       ELSE 'test' END AS split
           FROM b)
         SELECT split, count(*) AS n, min(doc_id) AS min_id,
                max(doc_id) AS max_id
         FROM s GROUP BY split ORDER BY split"""),
    // Running token total per source, pack = starting offset / budget.
    Query("pipeline_pack", (s, d) => pipelinePack(s, d),
      s"""WITH t AS (
           SELECT source, doc_id,
                  CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tok
           FROM documents),
         c AS (
           SELECT source, doc_id, n_tok,
                  CAST(sum(n_tok) OVER (PARTITION BY source
                    ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum
           FROM t),
         p AS (
           SELECT source, doc_id, n_tok,
                  (cum - n_tok) // 2048 AS pack_id
           FROM c)
         SELECT source, pack_id, count(*) AS n_docs,
                CAST(sum(n_tok) AS BIGINT) AS tokens,
                min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM p GROUP BY source, pack_id ORDER BY source, pack_id"""),
    Query("pipeline_pack_bpe", (s, d) => pipelinePackBpe(s, d), pipelinePackBpeOracleSql),
    Query("text_langid", textLangid, {
      val lexRows = Profiles.toSeq.sortBy(_._1)
        .flatMap { case (l, ws) => ws.map(w => s"('$l', '$w')") }
        .mkString(", ")
      s"""WITH lex(lang, word) AS (SELECT * FROM (VALUES $lexRows) AS v(lang, word)),
         toks AS (SELECT doc_id,
                         unnest(${tokensSql("translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')")}) AS tok
                  FROM documents),
         n AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
         hits AS (SELECT t.doc_id, l.lang, count(*) AS h
                  FROM toks t JOIN lex l ON t.tok = l.word
                  GROUP BY t.doc_id, l.lang),
         langs AS (SELECT DISTINCT lang FROM lex),
         scored AS (
           SELECT d.doc_id, langs.lang,
                  coalesce(h.h, 0) / CAST(n.n AS DOUBLE) AS score
           FROM (SELECT doc_id FROM documents) d
           CROSS JOIN langs
           JOIN n ON n.doc_id = d.doc_id
           LEFT JOIN hits h ON h.doc_id = d.doc_id AND h.lang = langs.lang),
         ranked AS (
           SELECT doc_id, lang, score,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY score DESC, lang DESC) AS rn
           FROM scored)
         SELECT doc_id, lang AS pred_lang, round(score, 6) AS score
         FROM ranked WHERE rn = 1 ORDER BY doc_id"""
    }),
    // word co-occurrence graph + the unrolled weighted-PageRank
    // integer chain (the graph_pagerank_weighted formulation)
    Query("text_textrank", textTextrank, textrankOracleSql),
    Query("text_lm_score", textLmScore,
      s"""WITH toks AS (
           SELECT doc_id, ${tokensSql("text")} AS t
           FROM documents),
         bg AS (SELECT doc_id, bg
                FROM (SELECT doc_id,
                             unnest(${nGramsSql("t", 2, distinct = false)}) AS bg
                      FROM toks)
                WHERE contains(bg, ' ')),
         cnt2 AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY bg),
         cnt1 AS (SELECT bg, c2,
                         sum(c2) OVER (PARTITION BY split_part(bg, ' ', 1)) AS c1
                  FROM cnt2),
         model AS (SELECT bg,
                          CAST(round(ln(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE)) * 1000000, 0) AS BIGINT) AS lp_micro
                   FROM cnt1),
         scored AS (SELECT b.doc_id, count(*) AS n_bigrams,
                           CAST(sum(m.lp_micro) AS BIGINT) AS nat_micro
                    FROM bg b JOIN model m ON m.bg = b.bg
                    GROUP BY b.doc_id)
         SELECT d.doc_id,
                coalesce(s.n_bigrams, 0) AS n_bigrams,
                coalesce(s.nat_micro, 0) AS nat_micro,
                round(CAST(coalesce(s.nat_micro, 0) AS DOUBLE) / 1000000.0
                      / greatest(coalesce(s.n_bigrams, 0), 1), 6) AS avg_logprob
         FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
         ORDER BY d.doc_id"""),
    Query("text_rake", (s, d) => textRake(s, d), rakeOracleSql()),
    // BPE merge learning: 8-round unrolled exact-integer trajectory,
    // (cnt DESC, a, b) tie order, triple-replace greedy merge — the
    // CTE chain is generated from the same constants as the operator
    Query("text_bpe_merges", textBpeMerges, bpeOracleSql),
    // the encode side: post-merge subword frequency table off the
    // same generated trajectory (final vocab state exploded)
    Query("text_bpe_vocab", textBpeVocab, bpeVocabOracleSql),
    // the apply side: per-doc subword counts under the learned
    // merges; the oracle replays learn AND encode (computed winners
    // feed per-round corpus re-encodings via 1-row cross joins)
    Query("text_bpe_tokens", textBpeTokens, bpeTokensOracleSql),
    // Same micro-nat fixed-point model as the Spark side: the bigram
    // model quantizes ln(c2/c1) ONCE per entry, per-doc sums are
    // exact BIGINT arithmetic (order-independent on both engines).
    // same micro-nat ln quantization: each ln computed once, rounded
    // to an integer, exact integer sums after that
    Query("text_entropy", textEntropy,
      """WITH docs AS (SELECT doc_id, text, length(text) AS len
                       FROM documents),
         ch AS (SELECT doc_id, substring(text, CAST(p AS INT), 1) AS c
                FROM docs, unnest(range(1, len + 1)) AS t(p)
                WHERE len > 0),
         cc AS (SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY 1, 2),
         agg AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n,
                        CAST(sum(cnt * CAST(round(ln(cnt) * 1000000, 0)
                                            AS BIGINT)) AS BIGINT) AS s_micro
                 FROM cc GROUP BY 1)
         SELECT d.doc_id, coalesce(a.n, 0) AS n_chars,
                round(CASE WHEN coalesce(a.n, 0) = 0 THEN 0.0
                      ELSE (CAST(round(ln(a.n) * 1000000, 0) AS BIGINT)
                            - a.s_micro * 1.0 / a.n) / 1000000.0
                      END, 6) AS entropy_nats
         FROM docs d LEFT JOIN agg a ON d.doc_id = a.doc_id
         ORDER BY d.doc_id"""),
    // Micro-nat idf quantized once per term; (doc, term) scores are
    // exact tf·idf_micro BIGINTs, so the top-3 selection on
    // (score, term) is engine-reproducible.
    Query("text_tfidf", (s, d) => textTfidf(s, d), TfidfOracleSql),
    // the SQL-surface twin is gated against the SAME oracle text
    Query("text_tfidf_sql", (s, d) => Tables.runSql(s, d, TfidfSparkSql), TfidfOracleSql),
    // Okapi BM25 (k1=1.2, b=0.75, smooth idf) for the fixed query —
    // every per-term score is deterministic IEEE arithmetic over
    // exact integers (DOUBLE forced early: DuckDB's exact DECIMAL
    // literals would otherwise diverge from Spark's double math),
    // quantized to micro-units so the per-doc sum is exact BIGINT.
    Query("text_bm25", (s, d) => textBm25(s, d), bm25Sql),
  )

  /** [[textTfidf]] in plain SQL: the same
    * whitespace tokenization (`split(trim(text), '\s+')` — the
    * [[graft.functions.Shingles.tokens]] kernel spelled out), the
    * same micro-nat idf quantized ONCE per term, per-doc top-3 by
    * (score desc, term). */
  private val TfidfSparkSql =
    """WITH toks AS (
           SELECT doc_id, explode(split(trim(text), '\\s+')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf
                FROM toks GROUP BY doc_id, term),
         dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         n AS (SELECT count(*) AS n_docs FROM documents),
         s AS (SELECT t.doc_id, t.term, t.tf, d.df,
                      t.tf * CAST(round(ln((n_docs + 1.0) / (d.df + 1.0))
                                        * 1000000, 0) AS BIGINT)
                        AS score_scaled
               FROM tf t JOIN dft d ON d.term = t.term CROSS JOIN n),
         r AS (SELECT doc_id, term, tf, df, score_scaled,
                      row_number() OVER (PARTITION BY doc_id
                        ORDER BY score_scaled DESC, term) AS rn
               FROM s)
       SELECT doc_id, term, tf, df,
              round(CAST(score_scaled AS DOUBLE) / 1000000.0, 6) AS tfidf,
              rn
       FROM r WHERE rn <= 3 ORDER BY doc_id, rn"""

  /** text_tfidf oracle (shared verbatim with the `_sql` twin). */
  private val TfidfOracleSql =
    s"""WITH toks AS (
           SELECT doc_id, unnest(${tokensSql("text")}) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf
                FROM toks GROUP BY doc_id, term),
         dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         n AS (SELECT count(*) AS n_docs FROM documents),
         s AS (SELECT t.doc_id, t.term, t.tf, d.df,
                      t.tf * CAST(round(ln(CAST(n_docs + 1 AS DOUBLE) / CAST(d.df + 1 AS DOUBLE)) * 1000000, 0) AS BIGINT) AS score_scaled
               FROM tf t JOIN dft d ON d.term = t.term CROSS JOIN n),
         r AS (SELECT doc_id, term, tf, df, score_scaled,
                      row_number() OVER (PARTITION BY doc_id
                        ORDER BY score_scaled DESC, term) AS rn
               FROM s)
         SELECT doc_id, term, tf, df,
                round(CAST(score_scaled AS DOUBLE) / 1000000.0, 6) AS tfidf, rn
         FROM r WHERE rn <= 3 ORDER BY doc_id, rn"""

  /** Shared BM25 CTE chain (generated from the same
    * [[Bm25Query]] term list; the arithmetic mirrors the
    * Spark expression tree operation-for-operation), ending at CTE
    * `bm` = top-`limit` (doc_id, n_hit_terms, bm25). Shared by the
    * text_bm25 oracle and the search_hybrid fusion oracle so the
    * ranking has one SQL statement of truth. */
  private[operators] def bm25Ctes(limit: Int): String = {
    val terms = Bm25Query.map("'" + _ + "'").mkString(", ")
    s"""toks AS (
           SELECT doc_id, unnest(${tokensSql("text")}) AS term
           FROM documents),
         lens AS (SELECT doc_id,
                         len(${tokensSql("text")}) AS dl
                  FROM documents),
         stats AS (SELECT count(*) AS n_docs,
                          CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
                   FROM lens),
         tf AS (SELECT doc_id, term, count(*) AS tf
                FROM toks WHERE term IN ($terms) GROUP BY doc_id, term),
         dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         s AS (SELECT t.doc_id,
                      CAST(round(
                        (CAST(CAST(round(ln(CAST(st.n_docs + 1 AS DOUBLE) / CAST(d.df + 1 AS DOUBLE)) * 1000000, 0) AS BIGINT) AS DOUBLE) / 1000000.0)
                        * (CAST(t.tf AS DOUBLE) * 2.2)
                        / (CAST(t.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(l.dl AS DOUBLE) / st.avgdl)))
                        * 1000000.0, 0) AS BIGINT) AS score_micro
               FROM tf t JOIN dft d ON d.term = t.term
               JOIN lens l ON l.doc_id = t.doc_id
               CROSS JOIN stats st),
         bm AS (SELECT doc_id, count(*) AS n_hit_terms,
                round(CAST(CAST(sum(score_micro) AS BIGINT) AS DOUBLE) / 1000000.0, 6) AS bm25
         FROM s GROUP BY doc_id
         ORDER BY bm25 DESC, doc_id LIMIT $limit)"""
  }

  private def bm25Sql: String =
    s"""WITH ${bm25Ctes(20)}
         SELECT doc_id, n_hit_terms, bm25 FROM bm
         ORDER BY bm25 DESC, doc_id"""
}
