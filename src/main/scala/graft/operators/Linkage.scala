package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Query, Tables}
import graft.functions.PortableHash

/** Record linkage: fuzzy (edit-distance) matching over a name
  * dictionary — the entity-resolution front door (SURVEY.md §2.F
  * extension; reference scope: the framework's grouping contract,
  * mapreduce.h:130-199, generalized from exact keys to approximate
  * ones).
  *
  * Shape: ER over an entity table runs at the DICTIONARY level —
  * `group by name` first (map-side combinable, output bounded by the
  * distinct-name count, not the row count), then a fuzzy self-join
  * over the dictionary, then counts map each matched name pair back
  * to its entity weight. At 100 TB the entity table is the corpus
  * but the dictionary is orders of magnitude smaller; the join below
  * never touches the corpus again.
  *
  * The fuzzy join itself is FastSS deletion-neighborhood blocking
  * (Bocek et al., "Fast Similarity Search in Large Dictionaries",
  * U. Zurich TR 2007): for threshold τ, every string emits its ≤τ
  * -deletion variants; an optimal alignment of a pair within edit
  * distance τ deletes ≤τ characters from EACH side (substitution →
  * drop both aligned chars, indel → drop the extra char), so any
  * true pair shares at least one variant key and the bucket join is
  * a COMPLETE candidate generator. Candidates then pass the exact
  * `levenshtein` filter — blocking affects cost, never the answer.
  * The oracle is the naive all-pairs join at the dictionary level
  * (ground truth by construction), so the hash match IS the
  * completeness proof, the same contract as q_salted_join's
  * plain-join oracle.
  *
  * Scale: variant fan-out is 1 + n + n·(n−1)/2 keys per name (≈120
  * for a 15-char name) — map-side, linear in dictionary size. Bucket
  * skew is the LSH-band shape: a popular subsequence's bucket of m
  * names yields m² candidates, the same bounded blow-up minhash
  * bands carry; the exact-verify filter keeps only true pairs.
  *
  * Dialect note (pinned in LinkageSpec): Spark's `levenshtein` is
  * codepoint-based; DuckDB's is byte-based ('café'→'cafe' is 1 vs
  * 2). The oracle-gated surface runs on the ASCII part-name
  * dictionary where the two agree; the spec pins the Spark
  * (codepoint) semantics as the operator's contract.
  */
object Linkage {

  /** Edit-distance threshold: pairs within 2 edits match. */
  val Tau = 2

  /** Fail-fast ceiling on name length. The deletion-variant fan-out
    * is O(len²/2) per name (a 100-char name ⇒ ~5k variant keys), so
    * an unguarded free-text column would quietly turn the blocking
    * index quadratic. Real entity names (products, people, vendors)
    * sit far below 64; anything longer is a mis-declared column —
    * raise instead of silently exploding. Word-level blocking is the
    * right operator for long strings ([[graft.operators.Dedup]]'s
    * shingle family). */
  val MaxNameLen = 64

  /** The length guard every linkage surface routes names through
    * ([[fuzzyPairsOf]] and the streaming
    * [[graft.streaming.Streams.fuzzyNameGate]]). */
  private[graft] def guardLen(c: Column): Column =
    when(length(c) > MaxNameLen,
      raise_error(concat(
        lit(s"linkage: name exceeds $MaxNameLen chars ('"),
        substring(c, 1, 24),
        lit("…') — deletion-variant blocking is quadratic in length; " +
          "use shingle-based dedup for long strings"))))
      .otherwise(c)

  /** All deletion variants of column `c` up to [[Tau]] deletions (the
    * FastSS key set U_τ): the string itself, every single-char
    * deletion, every unordered two-char deletion. Pure SQL
    * higher-order functions — codegen-friendly, no UDF. The `length`
    * guards keep `sequence` ascending (Spark's sequence(1, 0) counts
    * DOWN, not empty), so ""/1-char names degrade cleanly. */
  private[graft] def variants(c: String): Column = expr(
    s"""array_distinct(concat(
       |  array($c),
       |  if(length($c) < 1, cast(array() as array<string>),
       |    transform(sequence(1, length($c)), i ->
       |      concat(substring($c, 1, i - 1),
       |             substring($c, i + 1, length($c) - i)))),
       |  if(length($c) < 2, cast(array() as array<string>),
       |    flatten(transform(sequence(1, length($c) - 1), i ->
       |      transform(sequence(i + 1, length($c)), j ->
       |        concat(substring($c, 1, i - 1),
       |               substring($c, i + 1, j - i - 1),
       |               substring($c, j + 1, length($c) - j))))))
       |))""".stripMargin)

  /** Fuzzy self-join of a `(name, cnt)` dictionary: all unordered
    * pairs of DISTINCT names within [[Tau]] edits, with both entity
    * counts. Candidates come from the deletion-variant bucket join
    * (complete — see object doc); the exact filter runs once per
    * distinct candidate pair. Output is dictionary-bounded, so the
    * presentation sort is a bounded exchange, not a corpus sort. */
  def fuzzyPairsOf(names: DataFrame): DataFrame = {
    val keyed = names
      .select(guardLen(col("name")).as("name"), col("cnt"))
      .select(col("name"), col("cnt"), explode(variants("name")).as("v"))
    val a = keyed.select(col("v"),
      col("name").as("name_a"), col("cnt").as("cnt_a"))
    val b = keyed.select(col("v"),
      col("name").as("name_b"), col("cnt").as("cnt_b"))
    a.join(b, Seq("v"))
      .filter(col("name_a") < col("name_b"))
      .select(col("name_a"), col("name_b"), col("cnt_a"), col("cnt_b"))
      .distinct()
      .filter(levenshtein(col("name_a"), col("name_b")) <= Tau)
      .select(col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b")).cast("long").as("dist"),
        col("cnt_a"), col("cnt_b"))
      .orderBy(col("name_a"), col("name_b"))
  }

  /** The part-name dictionary fuzzy join: near-duplicate product
    * names (one-typo / one-word-swap apart) with how many parts
    * carry each spelling — the catalog-cleaning query. */
  def fuzzyNames(spark: SparkSession, dir: String): DataFrame =
    fuzzyPairsOf(Tables(spark, dir).part
      .groupBy(col("p_name").as("name"))
      .agg(count(lit(1)).as("cnt")))

  /** Positional q-gram size for [[qgramPairsOf]]. */
  val Q = 2

  /** Edit-distance join via POSITIONAL Q-GRAM count filtering — the
    * second blocking discipline beside FastSS ([[fuzzyPairsOf]]),
    * trading FastSS's O(len²) variant fan-out for O(len) gram
    * fan-out plus a count bound (the Ed-Join / Gravano et al.
    * VLDB 1998 approximate-join recipe). Same contract: candidates
    * then pass the exact `levenshtein` verify, so blocking affects
    * cost, never the answer — and the oracle is the SAME naive
    * all-pairs ground truth as er_fuzzy_names, so the hash match
    * proves THIS blocking complete too.
    *
    * The filters, each individually edit-distance-sound:
    *  - length: |len(a) − len(b)| ≤ τ (one edit moves length ≤ 1);
    *  - position: a surviving q-gram pair's offsets differ ≤ τ (τ
    *    indels shift positions by ≤ τ);
    *  - count: strings within τ edits share ≥ maxlen − Q + 1 − τ·Q
    *    matching positional grams (one edit destroys ≤ Q grams).
    *    The join's per-gram match count can only OVERCOUNT repeated
    *    grams vs the true matching — safe direction (more
    *    candidates, never fewer).
    * Names too short for a positive count bound (maxlen < Q·(τ+1))
    * can share zero q-grams while matching — they go to a
    * dictionary-bounded short-bucket cross join with the length
    * filter, never silently dropped.
    *
    * Scale: gram fan-out is len−Q+1 keys per name (linear — no
    * [[MaxNameLen]] guard needed), bucket skew is the same bounded
    * m² LSH-band shape, and the count filter runs map-side-combinably
    * on the (pair) aggregate before any levenshtein fires. */
  def qgramPairsOf(names: DataFrame, tau: Int = Tau): DataFrame = {
    val base = names.select(col("name"), col("cnt"), length(col("name"))
      .as("len"))
    // positional grams: (gram, pos), pos 1-based; len < Q names emit
    // the whole string at pos 1 so they still key the equi-join
    val grams = base.select(col("name"), col("len"), explode(expr(
      s"""if(len < $Q, array(struct(name as gram, 1 as pos)),
         |  transform(sequence(1, len - ${Q - 1}), i ->
         |    struct(substring(name, i, $Q) as gram, i as pos)))"""
        .stripMargin)).as("pg"))
      .select(col("name"), col("len"), col("pg.gram").as("gram"),
        col("pg.pos").as("pos"))
    val longEnough = col("a.len") >= lit(Q * (tau + 1)) ||
      col("b.len") >= lit(Q * (tau + 1))
    val counted = grams.as("a")
      .join(grams.as("b"),
        col("a.gram") === col("b.gram") &&
          col("a.name") < col("b.name") &&
          abs(col("a.pos") - col("b.pos")) <= tau &&
          abs(col("a.len") - col("b.len")) <= tau && longEnough)
      .groupBy(col("a.name").as("name_a"), col("b.name").as("name_b"),
        col("a.len").as("len_a"), col("b.len").as("len_b"))
      .agg(count(lit(1)).as("m"))
      .filter(col("m") >=
        greatest(col("len_a"), col("len_b")) - lit(Q - 1) - lit(tau * Q))
      .select(col("name_a"), col("name_b"))
    // short-name fallback: both sides below the count-bound floor —
    // the pair can share zero grams at distance ≤ τ, so candidate it
    // unconditionally (length-filtered; dictionary-bounded bucket)
    val short = base.filter(col("len") < Q * (tau + 1))
    val shortCand = short.as("a")
      .join(short.as("b"),
        col("a.name") < col("b.name") &&
          abs(col("a.len") - col("b.len")) <= tau)
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
    val cnts = names.select(col("name"), col("cnt"))
    counted.unionByName(shortCand).distinct()
      .filter(levenshtein(col("name_a"), col("name_b")) <= tau)
      .join(cnts.select(col("name").as("name_a"), col("cnt").as("cnt_a")),
        Seq("name_a"))
      .join(cnts.select(col("name").as("name_b"), col("cnt").as("cnt_b")),
        Seq("name_b"))
      .select(col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b")).cast("long").as("dist"),
        col("cnt_a"), col("cnt_b"))
      .orderBy(col("name_a"), col("name_b"))
  }

  /** Edit-distance tolerances the linkage sweep reads in one pass. */
  val TauSweepBank: Seq[Int] = Seq(1, 2, 3)

  /** LINKAGE TOLERANCE SWEEP — the τ bank for the fuzzy-name join
    * (how many near-match pairs does each edit budget admit?):
    * candidates are generated ONCE by the [[qgramPairsOf]] blocking
    * at the bank's LOOSEST τ (every filter is τ-monotone, so the
    * τ=max candidate set contains every pair any smaller τ accepts),
    * the exact `levenshtein` verify runs once, and every bank member
    * is a conditional count over the verified distances — the sweep
    * discipline (simhash radius, LSH bands, IVF nprobe) applied to
    * the record-linkage knob. Dictionary-bounded throughout. */
  def tauSweepOf(names: DataFrame,
      taus: Seq[Int] = TauSweepBank): DataFrame = {
    val spark0 = names.sparkSession
    import spark0.implicits._
    val pairs = qgramPairsOf(names, taus.max)
      .select(col("dist"))
    val counts = pairs
      .select(col("dist"),
        explode(array(taus.map(t => lit(t.toLong)): _*)).as("tau"))
      .filter(col("dist") <= col("tau"))
      .groupBy(col("tau")).agg(count(lit(1)).as("n_pairs"))
    taus.map(_.toLong).toDF("tau")
      .join(counts, Seq("tau"), "left")
      .select(col("tau"), coalesce(col("n_pairs"), lit(0L)).as("n_pairs"))
      .orderBy(col("tau"))
  }

  /** The part-name dictionary through the τ sweep. */
  def erTauSweep(spark: SparkSession, dir: String): DataFrame =
    tauSweepOf(Tables(spark, dir).part
      .groupBy(col("p_name").as("name"))
      .agg(count(lit(1)).as("cnt")))

  /** Generated DuckDB oracle for [[erTauSweep]] — the NAIVE all-pairs
    * ground truth bucketed per τ, so the hash match is ALSO the
    * completeness proof of the τ=max blocking at every smaller τ. */
  def tauSweepOracleSql: String = {
    val bank = TauSweepBank.mkString(", ")
    s"""WITH nm AS (SELECT p_name AS name, count(*) AS cnt
                   FROM part GROUP BY 1),
       pairs AS (SELECT levenshtein(a.name, b.name) AS dist
                 FROM nm a JOIN nm b ON a.name < b.name
                 WHERE levenshtein(a.name, b.name) <= ${TauSweepBank.max}),
       bank AS (SELECT unnest([$bank]) AS tau)
       SELECT CAST(bank.tau AS BIGINT) AS tau,
              CAST(count(p.dist) AS BIGINT) AS n_pairs
       FROM bank LEFT JOIN pairs p ON p.dist <= bank.tau
       GROUP BY bank.tau ORDER BY tau"""
  }

  /** The part-name dictionary through the q-gram blocking — same
    * output contract (and oracle) as [[fuzzyNames]]. */
  def qgramNames(spark: SparkSession, dir: String): DataFrame =
    qgramPairsOf(Tables(spark, dir).part
      .groupBy(col("p_name").as("name"))
      .agg(count(lit(1)).as("cnt")))

  /** CANONICALIZATION — the step after matching that closes the
    * entity-resolution arc (block → verify → CLUSTER → canonical
    * survivor): fuzzy-pair edges close into clusters via the proven
    * min-label propagation loop ([[graft.operators.Dedup.components]]
    * — names ride as their portable 60-bit hashes, the loop's
    * convergence sum needs numerics, and the oracle closes over THE
    * SAME hashes so a collision, were one to exist, merges
    * identically on both engines), then each cluster elects the
    * spelling with the highest entity count (ties → lexicographically
    * smallest). Output: every dictionary name with its canonical
    * form, cluster size, and total entity weight — the mapping table
    * a catalog-cleaning job publishes. Singleton names canonicalize
    * to themselves. All frames are dictionary-bounded; the election
    * window partitions by cluster (bounded groups). */
  def canonicalOf(names: DataFrame): DataFrame = {
    import graft.functions.PortableHash
    val nm = names.select(guardLen(col("name")).as("name"), col("cnt"),
      PortableHash.h60(col("name")).as("id"))
    val pairs = fuzzyPairsOf(names)
      .select(PortableHash.h60(col("name_a")).as("d1"),
        PortableHash.h60(col("name_b")).as("d2"))
    val labels = graft.operators.Dedup.components(pairs)
      .select(col("doc_id").as("id"), col("component"))
    // NOTE (r14): an eager localCheckpoint on `labeled` (3 consumers)
    // was MEASURED NEUTRAL (min-of-3 3.17 s → 3.17 s, jobs 36 → 38,
    // back-to-back JobProbe) — the components loop already truncates
    // its lineage per round, so the re-executed nm⋈labels join is
    // cheap and the query's driver-gap cost is per-round planning,
    // not this join. Left unmaterialized.
    val labeled = nm.join(labels, Seq("id"), "left")
      .select(col("name"), col("cnt"),
        coalesce(col("component"), col("id")).as("component"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(col("cnt").desc, col("name"))
    val best = labeled
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("component"), col("name").as("canonical"))
    val stats = labeled.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"), sum(col("cnt")).as("cluster_cnt"))
    labeled.join(best, Seq("component")).join(stats, Seq("component"))
      .select(col("name"), col("cnt"), col("canonical"),
        col("cluster_size"), col("cluster_cnt"))
      .orderBy(col("name"))
  }

  /** The part-name dictionary canonicalized. */
  def canonicalNames(spark: SparkSession, dir: String): DataFrame =
    canonicalOf(Tables(spark, dir).part
      .groupBy(col("p_name").as("name"))
      .agg(count(lit(1)).as("cnt")))

  /** Generated DuckDB oracle for [[canonicalNames]] — naive all-pairs
    * edges, recursive closure over the SAME md5-top-60 ids, same
    * (cnt desc, name) election. */
  val canonicalOracleSql: String =
    s"""WITH RECURSIVE nm AS (
         SELECT p_name AS name, count(*) AS cnt,
                ${PortableHash.h60Sql("p_name")} AS id
         FROM part GROUP BY 1),
       pr AS (SELECT a.id AS d1, b.id AS d2
              FROM nm a JOIN nm b ON a.name < b.name
              WHERE levenshtein(a.name, b.name) <= ${Linkage.Tau}),
       edges AS (SELECT d1 AS a, d2 AS b FROM pr UNION SELECT d2, d1 FROM pr),
       reach(a, b) AS (
         SELECT a, b FROM edges
         UNION
         SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       comp AS (SELECT a AS id, least(a, min(b)) AS component
                FROM reach GROUP BY a),
       lab AS (SELECT n.name, n.cnt,
                      coalesce(c.component, n.id) AS component
               FROM nm n LEFT JOIN comp c ON c.id = n.id),
       best AS (SELECT component, name AS canonical FROM (
                  SELECT component, name,
                         row_number() OVER (PARTITION BY component
                           ORDER BY cnt DESC, name) AS rn
                  FROM lab) WHERE rn = 1),
       st AS (SELECT component, CAST(count(*) AS BIGINT) AS cluster_size,
                     CAST(sum(cnt) AS BIGINT) AS cluster_cnt
              FROM lab GROUP BY 1)
       SELECT l.name, l.cnt, b.canonical, st.cluster_size, st.cluster_cnt
       FROM lab l JOIN best b ON b.component = l.component
                  JOIN st ON st.component = l.component
       ORDER BY l.name"""

  /** This object's queries, each with its DuckDB oracle (see [[graft.core.Query]]). */
  lazy val queries: Seq[Query] = Seq(
    // Naive all-pairs at the dictionary level IS the ground truth:
    // the Spark side only ever sees FastSS deletion-variant-blocked
    // candidates, so the hash match proves the blocking complete
    // (the q_salted_join contract). Dictionary-bounded: 64 distinct
    // part names at every SF.
    Query("er_fuzzy_names", fuzzyNames, FuzzyNamesSql),
    // SAME ground-truth oracle text: the q-gram-blocked surface must
    // land on the identical pair set, so the hash match proves the
    // positional count filter (+ short-name fallback) complete — the
    // dedup_components_resume shared-oracle contract
    Query("er_qgram_names", qgramNames, FuzzyNamesSql),
    // τ bank over the verified pair set, candidates once at τ=max;
    // the naive all-pairs oracle doubles as the completeness proof
    Query("er_tau_sweep", erTauSweep, tauSweepOracleSql),
    Query("er_canonical", canonicalNames, canonicalOracleSql),
  )

  /** Naive all-pairs levenshtein at the dictionary level — ground
    * truth by construction, shared by BOTH blocked linkage surfaces
    * (FastSS deletion variants and positional q-gram count filter):
    * each hash match proves that blocking complete. Dictionary-
    * bounded: 64 distinct part names at every SF. */
  private val FuzzyNamesSql =
    s"""WITH nm AS (SELECT p_name AS name, count(*) AS cnt
                   FROM part GROUP BY 1)
       SELECT a.name AS name_a, b.name AS name_b,
              CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
              a.cnt AS cnt_a, b.cnt AS cnt_b
       FROM nm a JOIN nm b ON a.name < b.name
       WHERE levenshtein(a.name, b.name) <= ${Tau}
       ORDER BY name_a, name_b"""
}
