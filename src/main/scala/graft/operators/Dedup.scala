package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Fixpoint, Query, Tables, WorkingSet}
import graft.functions.PortableHash
import graft.functions.Shingles._
import graft.functions.Vectors

/** Deduplication operator block (SURVEY.md §2 D).
  *
  * Scale shape: every operator here is *bucket-join* structured —
  * candidate pairs come from an equi-join on a bucket key (text hash,
  * shared shingle, LSH band, simhash chunk, blocking label), never
  * from a cross join. At 100 TB the only shuffles are those bucket-key
  * exchanges, and frequent-bucket skew is bounded (AQE skew split +
  * the shingle df cap in [[ngramJaccardDf]]).
  */
object Dedup {

  /** Exact dedup: group by content hash, keep the smallest doc_id.
    * The classic first pass of any pipeline — one shuffle on the
    * 128-bit hash, output is one row per distinct content. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
      // presentation order only (the gate re-sorts before hashing): a
      // within-partition sort keeps output deterministic per partition
      // without a corpus-wide range exchange — one row per distinct
      // content here, so a global sort would be a full extra shuffle
      // at 100× (the q_bloom_join pattern, Relational.scala)
      .sortWithinPartitions("h")

  /** Canonicalized exact dedup — [[exact]] after the
    * [[graft.functions.Normalize.normalizeText]] kernel (NFC + simple
    * casefold) and the engine-portable ASCII whitespace collapse:
    * catches the copies byte-exact dedup misses (case variants,
    * decomposed accents, fullwidth clones, whitespace jitter) while
    * staying one map-side projection + one groupBy. The normalization
    * step every production exact-dedup pass actually runs first. */
  /** Per-SOURCE duplication-rate report — the readout a dedup team
    * pins on the ingest dashboard ("which crawl source is most
    * duplicated?"): per source, document count, distinct-content
    * count (byte-exact md5 groups within the source), duplicate
    * count, and the rate in exact integer ppm. Two map-side-
    * combinable aggregates — (source, hash) then source — output one
    * row per source; nothing corpus-proportional leaves the second
    * shuffle. The actionable twin of [[exact]]: that one lists the
    * groups, this one scores the feeds. */
  def dedupReport(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .groupBy(col("source"), md5(col("text")).as("h"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_distinct"),
        (sum(col("n")) - count(lit(1))).as("n_dups"))
      .withColumn("dup_ppm",
        expr("(n_dups * 1000000) div n_docs"))
      .orderBy(col("source"))

  /** Generated DuckDB oracle for [[dedupReport]]. */
  val dedupReportSql: String =
    """WITH g AS (SELECT source, md5(text) AS h, count(*) AS n
                  FROM documents GROUP BY 1, 2)
       SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
              CAST(count(*) AS BIGINT) AS n_distinct,
              CAST(sum(n) - count(*) AS BIGINT) AS n_dups,
              CAST(((sum(n) - count(*)) * 1000000) // sum(n) AS BIGINT)
                AS dup_ppm
       FROM g GROUP BY source ORDER BY source"""

  /** CROSS-SOURCE duplication matrix — [[dedupReport]]'s pairwise
    * sibling ("which feeds copy each other", the dedup answer to
    * profile_kmv_overlap's sketch estimate, exact over the NEAR-dup
    * pair set): the verified [[ngramJaccard]] pairs (same τ and
    * df-cap as the gated query), each attributed to its UNORDERED
    * source pair via least/greatest — the diagonal (a = b) reads
    * within-feed duplication, off-diagonal reads feed-copies-feed.
    * Shape: the pair set is bucket-join bounded (never doc×doc), the
    * source attribution is two joins on doc_id, output ≤ sources².
    *
    * ASSUMPTION (the gate's contract, same as the dedup_ngram_jaccard
    * query-map note): maxDf = 1000 must be NON-BINDING at gate scale —
    * the oracle counts the uncapped all-pairs set, so on a corpus
    * where any shingle's document frequency exceeds the cap this
    * operator silently drops the pairs that shingle alone would have
    * generated (the cap is the 100 TB stop-list; the exact-duplicate
    * add-back inside [[ngramJaccard]] still covers identical texts).
    * Raise the cap or thread the same stop-list into the oracle before
    * gating on a heavier-tailed corpus. */
  def dedupCrossSource(spark: SparkSession, dir: String): DataFrame = {
    val pairs = ngramJaccard(spark, dir, maxDf = 1000)
      .select(col("d1"), col("d2"))
    val src = Tables(spark, dir).documents.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("d1"), col("source").as("sa")),
        Seq("d1"))
      .join(src.select(col("doc_id").as("d2"), col("source").as("sb")),
        Seq("d2"))
      .groupBy(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Hamming thresholds the simhash sweep reads in one pass. */
  val HammingSweepBank: Seq[Int] = Seq(1, 2, 3, 4)

  /** SIMHASH HAMMING-TOLERANCE SWEEP — the tuning bank for the
    * [[simhash]] near-dup gate (how many pairs does each tolerance
    * admit?): candidates are generated ONCE at the bank's LOOSEST
    * threshold — 5 disjoint 12-bit chunks of the 60-bit signature,
    * pigeonhole-complete for every Hamming distance ≤ 4 — and every
    * bank member is a conditional count over the same verified pair
    * set. The [[sweepLsh]]/nprobe discipline applied to the simhash
    * radius knob; a per-threshold re-chunking would pay the bucket
    * join #bank times for identical candidates. */
  def sweepHamming(spark: SparkSession, dir: String): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    val sigs = sharedGrams(spark, dir)
      .filter(size(col("grams")) > 0)
      .select(col("doc_id"),
        graft.functions.SketchExprs.simhashSig(col("grams")).as("sim"))
    val chunkCols = (0 until 5).map(c =>
      concat(lit(s"$c#"),
        shiftright(col("sim"), 12 * c).bitwiseAND(lit(0xFFFL))
          .cast("string")))
    val chunks = sigs.select(col("doc_id"), col("sim"),
      explode(array(chunkCols: _*)).as("ck"))
    val pairs = chunks.as("a")
      .join(chunks.as("b"),
        col("a.ck") === col("b.ck") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        graft.functions.Shingles.hamming(col("a.sim"), col("b.sim"))
          .as("hamming"))
      .distinct()
    val counts = pairs
      .select(col("hamming"),
        explode(array(HammingSweepBank.map(h => lit(h.toLong)): _*))
          .as("max_hamming"))
      .filter(col("hamming") <= col("max_hamming"))
      .groupBy(col("max_hamming")).agg(count(lit(1)).as("n_pairs"))
    // bank spine: a tolerance admitting zero pairs still emits its row
    HammingSweepBank.map(_.toLong).toDF("max_hamming")
      .join(counts, Seq("max_hamming"), "left")
      .select(col("max_hamming"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"))
      .orderBy(col("max_hamming"))
  }

  def exactNormalized(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .groupBy(md5(trim(regexp_replace(
        graft.functions.Normalize.normalizeText(col("text")),
        "\\s+", " "))).as("h"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
      .sortWithinPartitions("h")

  private def docGrams(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), grams3(col("text")).as("grams"))

  // ---- shared shingle derivations over the documents table ----
  // ngram-Jaccard, containment, components, and minhash all start
  // from the same full-text shingling pass, and the first three from
  // the same postings self-join — per-query evaluation would pay
  // that dominant cost once per consumer (measured 2.6-3.0 s each at
  // sf0.1). Memoized per (session, dir) and Spark-cached; results
  // are value-identical by construction (same frames, same ops).
  private val shared = new graft.core.PlanCache(12)

  private def sharedGrams(spark: SparkSession, dir: String): DataFrame =
    shared.getOrBuild(spark, s"$dir#grams") {
      docGrams(Tables(spark, dir).documents)
    }

  private def sharedPosts(spark: SparkSession, dir: String): DataFrame =
    shared.getOrBuild(spark, s"$dir#posts") {
      // hash the whole gram array in one per-doc kernel loop, THEN
      // explode: the postings stream carries fixed-width longs and
      // never pays the per-exploded-row md5→hex→conv string chain
      // (functions.GramHashes — value-identical to h60 per row)
      sharedGrams(spark, dir)
        .select(col("doc_id"),
          explode(graft.functions.SketchExprs.gramHashes(col("grams")))
            .as("gid"))
    }

  /** `(d1, d2, inter, n1, n2)` for every doc pair sharing ≥ 1
    * shingle — the inverted-index self-join ngram-Jaccard,
    * containment, and components ALL score from (only the final
    * scoring expression and τ-gate differ per operator). */
  private def sharedInterPairs(spark: SparkSession, dir: String): DataFrame =
    shared.getOrBuild(spark, s"$dir#inter") {
      val sizes = sharedGrams(spark, dir)
        .select(col("doc_id"), size(col("grams")).as("n"))
      val posts = sharedPosts(spark, dir)
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

  /** Unsorted Jaccard-gated pairs from the shared base — consumed by
    * [[ngramJaccard]] (sorted) and [[ngramComponents]] (loop input,
    * a presentation sort would be destroyed immediately). */
  private def sharedJaccardPairs(spark: SparkSession, dir: String,
      tau: Double): DataFrame =
    sharedInterPairs(spark, dir)
      .select(col("d1"), col("d2"), col("inter"),
        round(col("inter") / (col("n1") + col("n2") - col("inter")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= tau)

  /** N-gram Jaccard near-dup pairs via inverted-index self-join (see
    * [[ngramJaccardDf]]). `maxDf` is OPT-IN (0 = exact/uncapped): the
    * cap bounds the |postings|² blowup boilerplate shingles cause on
    * real 100 TB web text, and Jaccard values stay exact for every
    * emitted pair, but a τ-pair whose shared shingles are ALL over-cap
    * would be silently dropped — so exact-by-default, and the capped
    * path logs when the precondition is actually being relied on
    * (see [[ngramJaccardPairs]]). The driver's `dedup_ngram_jaccard`
    * entry passes `maxDf = 1000` explicitly — the 100 TB operating
    * configuration, bit-identical to uncapped on this corpus (max
    * shingle df 25 at sf0.1; DedupSpec proves equality both here and
    * on a crafted boilerplate corpus with real drops).
    *
    * CONTRACT: when `maxDf > 0`, *constructing* the returned frame
    * runs one bounded Spark job (a single aggregate over the cached
    * postings) to decide whether the cap actually bites — i.e. this
    * method is not purely lazy. The probe is what buys the shared
    * exact-pair fast path below; [[ngramJaccardDf]] is the direct
    * formulation without the shared base (its working sets
    * materialize at construction, like every [[WorkingSet]]). */
  def ngramJaccard(spark: SparkSession, dir: String, tau: Double = 0.1,
      maxDf: Long = 0): DataFrame = {
    // fast path through the shared pair base: when the cap doesn't
    // bite (no shingle's df exceeds maxDf — one aggregate over the
    // cached postings decides), the capped plan IS the exact plan,
    // so the shared frame is value-identical by construction. Only a
    // corpus where boilerplate actually exceeds the cap pays the
    // full capped formulation with its add-back joins.
    val capBites = maxDf > 0 && !sharedPosts(spark, dir)
      .groupBy(col("gid")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).isEmpty
    if (capBites)
      ngramJaccardDf(Tables(spark, dir).documents, tau, maxDf = maxDf)
    else sharedJaccardPairs(spark, dir, tau).sortWithinPartitions("d1", "d2")
  }

  /** Presentation-sorted wrapper over [[ngramJaccardPairs]]. */
  def ngramJaccardDf(docs: DataFrame, tau: Double,
      pruneSingletons: Boolean = false, maxDf: Long = 0): DataFrame =
    ngramJaccardPairs(docs, tau, pruneSingletons, maxDf)
      .sortWithinPartitions("d1", "d2")

  /** N-gram Jaccard near-dup pairs, unsorted (iterative consumers —
    * [[components]] — must not pay a global sort they immediately
    * destroy): explode distinct shingles, join docs sharing a shingle,
    * count shared shingles per pair, compute Jaccard from the per-doc
    * set sizes.
    *
    * Scale knobs, both exact on this corpus (DedupSpec):
    * - `pruneSingletons`: df=1 shingles can't contribute a pair;
    *   dropping them shrinks the self-join input. Always exact.
    * - `maxDf`: shingles in more than `maxDf` docs (boilerplate) are
    *   excluded from *candidate generation* — the |postings|² term the
    *   self-join pays per shingle — but still counted into `inter` for
    *   surviving candidates via a narrow add-back join, so Jaccard
    *   values are exact. A τ-pair can only be lost if ALL its shared
    *   shingles are over-cap; since inter ≥ τ·|union| ≥ τ·|doc set|,
    *   that is impossible whenever each doc has fewer than τ·|its
    *   gram set| over-cap shingles — the regime any sane cap targets
    *   (boilerplate ≪ content). */
  private[graft] def ngramJaccardPairs(docs: DataFrame, tau: Double,
      pruneSingletons: Boolean = false, maxDf: Long = 0): DataFrame = {
    val g = WorkingSet(docGrams(docs))
    val sizes = g.select(col("doc_id"), size(col("grams")).as("n"))
    // materialized before the self-join — otherwise the shingling
    // subtree executes once per join side. Postings carry the 60-bit
    // PORTABLE HASH of the shingle, not the string: the self-join
    // probes and the (d1, d2) aggregate run on fixed-width longs
    // (measured ~1.8× on the join stage), and exactness is preserved
    // because the oracle joins on the SAME hash — any collision (P ≈
    // |grams|²/2⁶¹) affects both engines identically, and within-doc
    // distinctness is taken before hashing. Hashing runs as one
    // per-doc kernel loop over the array BEFORE the explode
    // (functions.GramHashes), so no exploded row pays the
    // md5→hex→conv Column chain.
    val allPosts = g.select(col("doc_id"),
      explode(graft.functions.SketchExprs.gramHashes(col("grams"))).as("gid"))
    val needDfs = pruneSingletons || maxDf > 0
    val dfs = if (needDfs) {
      WorkingSet(allPosts.groupBy(col("gid")).agg(count(lit(1)).as("df")))
    } else null
    // One tiny job over the (cached, already-needed) df table decides
    // whether the cap actually bites. When it doesn't — the common
    // case on deduped shards — the capped plan collapses to the exact
    // one: no candidate-gen filter, no add-back joins, identical
    // results by construction. When it does, warn: callers are relying
    // on the "boilerplate ≪ content" exactness precondition below.
    val capBites = maxDf > 0 &&
      !dfs.filter(col("df") > maxDf).isEmpty
    if (capBites) {
      System.err.println(s"[graft] ngramJaccard: shingles with df > $maxDf " +
        "exist; capped candidate generation is exact only while no " +
        "qualifying pair shares over-cap shingles EXCLUSIVELY " +
        "(boilerplate ≪ content) — see Scaladoc")
    }
    val minDf = if (pruneSingletons) 1L else 0L
    val needFilter = pruneSingletons || capBites
    val posts = WorkingSet(if (needFilter) {
      val kept = dfs
        .filter(col("df") > minDf &&
          (if (capBites) col("df") <= maxDf else lit(true)))
        .select("gid")
      allPosts.join(kept, Seq("gid"), "left_semi")
    } else allPosts)
    val rawPairs = posts.as("a")
      .join(posts.as("b"),
        col("a.gid") === col("b.gid") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
    // add back the over-cap shingles' contribution to `inter`, for
    // candidate pairs only: dropped postings join the (small) pair set
    // on doc_id — never each other — so boilerplate can't reintroduce
    // the quadratic term. Empty (zero-cost under AQE) when no shingle
    // exceeds the cap, as on this corpus.
    val pairs = if (capBites) {
      val dropped = allPosts
        .join(dfs.filter(col("df") > maxDf).select("gid"), Seq("gid"), "left_semi")
      val extra = rawPairs.select(col("d1"), col("d2"))
        .join(dropped.as("da"), col("d1") === col("da.doc_id"))
        .join(dropped.as("db"),
          col("d2") === col("db.doc_id") && col("da.gid") === col("db.gid"))
        .groupBy(col("d1"), col("d2"))
        .agg(count(lit(1)).as("inter_over"))
      rawPairs.join(extra, Seq("d1", "d2"), "left")
        .select(col("d1"), col("d2"),
          (col("inter") + coalesce(col("inter_over"), lit(0L))).as("inter"))
    } else rawPairs
    pairs
      .join(sizes.as("s1"), col("d1") === col("s1.doc_id"))
      .join(sizes.as("s2"), col("d2") === col("s2.doc_id"))
      .select(col("d1"), col("d2"), col("inter"),
        round(col("inter") / (col("s1.n") + col("s2.n") - col("inter")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= tau)
  }

  /** MinHash + banded LSH near-dup pairs: k=32 minhashes, 8 bands of
    * 4 rows (candidate probability ≈ 1-(1-j⁴)⁸ — steep around j≈0.5).
    * Candidates come from one shuffle on band keys; exact Jaccard
    * verification joins the shingle sets back only for candidates.
    * The hash family is [[PortableHash]] (md5-60bit base + affine
    * salts), so the DuckDB oracle computes the identical signatures —
    * value-checked, not rows-only. Recall vs exact Jaccard is
    * additionally asserted in DedupSpec. */
  def minhashLsh(spark: SparkSession, dir: String, tau: Double = 0.5,
      k: Int = 32, bands: Int = 8): DataFrame =
    // rides the shared cached shingling pass — the corpus is
    // re-shingled zero extra times within a verify/bench run
    minhashFromGrams(sharedGrams(spark, dir), tau, k, bands)

  /** MinHash band buckets (doc_id, bk) of a gram table — the
    * signature + band-key derivation shared by the self-join dedup
    * ([[minhashLshDf]]) and the incremental gate ([[incrementalDf]]).
    *
    * One-loop kernel minhash: the whole k-entry signature from ONE
    * codegen'd expression over the per-doc shingle array
    * ([[graft.functions.MinHashSignature]] — same h60 base and affine
    * salts as the exploded-aggregate [[graft.functions.MinHashAgg]]
    * formulation, bit-identical by SketchAggsSpec). The signature is
    * therefore MAP-SIDE over the gram scan: no exploded shingle rows,
    * no partial-min aggregate, no doc_id exchange — the first shuffle
    * in the whole operator is the band-key candidate join itself.
    * (The aggregate form remains the right tool where input IS one
    * row per element — the SQL-function surface and streaming
    * micro-batch state.) The nested-HOF formulation
    * (Shingles.minhashSignature) is interpreted per element and
    * measured 20× slower still. Band key = plain "band#v1_v2_v3_v4"
    * concat — deterministic and portable to the SQL oracle (no
    * re-hash needed; the signature entries are already 31-bit).
    * `size(grams) > 0` keeps row coverage identical to the exploded
    * form (which emits no row for an empty array); grams3 never
    * produces one, so on the documents table the filter is
    * value-invisible. */
  private def bandBuckets(g: DataFrame, k: Int, bands: Int): DataFrame = {
    val r = k / bands
    val sig = g.filter(size(col("grams")) > 0)
      .select(col("doc_id"),
        graft.functions.SketchExprs.minhashSig(col("grams"), k).as("sig"))
    val bandKeyCols = (0 until bands).map(b =>
      concat(lit(s"$b#"),
        concat_ws("_", (b * r until (b + 1) * r).map(i =>
          element_at(col("sig"), i + 1).cast("string")): _*)))
    sig.select(col("doc_id"), explode(array(bandKeyCols: _*)).as("bk"))
  }

  def minhashLshDf(docs: DataFrame, tau: Double, k: Int = 32,
      bands: Int = 8): DataFrame =
    minhashFromGrams(WorkingSet(docGrams(docs)), tau, k, bands)

  private def minhashFromGrams(g: DataFrame, tau: Double, k: Int,
      bands: Int): DataFrame = {
    val buckets = WorkingSet(bandBuckets(g, k, bands))
    val cands = buckets.as("a")
      .join(buckets.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    cands
      .join(g.as("g1"), col("d1") === col("g1.doc_id"))
      .join(g.as("g2"), col("d2") === col("g2.doc_id"))
      .select(col("d1"), col("d2"),
        round(jaccard(col("g1.grams"), col("g2.grams")), 6).as("jaccard"))
      .filter(col("jaccard") >= tau)
      .sortWithinPartitions("d1", "d2")
  }

  /** Incremental dedup gate — the shape a 100 TB pipeline actually
    * runs: a NEW shard is checked against the EXISTING corpus without
    * ever re-pairing the corpus against itself. The existing side's
    * band buckets are the standing index (in production: persisted,
    * appended per shard); the fresh side probes it with an asymmetric
    * bucket join (fresh × existing only — no fresh×fresh, no
    * existing×existing), then exact Jaccard verifies candidates and
    * each fresh doc gets a verdict + its best match.
    *
    * Deterministic best-match: highest ROUNDED jaccard, ties to the
    * smallest existing doc_id (`max(struct(jaccard, -id))` ≡ ORDER BY
    * jaccard DESC, id ASC LIMIT 1 — both engines agree). Zero-match
    * docs are restored by a left join: verdict table, not match list. */
  def incremental(spark: SparkSession, dir: String,
      tau: Double = 0.5): DataFrame = {
    val docs = Tables(spark, dir).documents
    // deterministic stand-in for the shard boundary: every 10th doc
    // is "new", the rest are the standing corpus
    incrementalDf(docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(10)) === 0), tau)
  }

  def incrementalDf(existing: DataFrame, fresh: DataFrame,
      tau: Double, k: Int = 32, bands: Int = 8): DataFrame =
    probeIncremental(standingIndex(existing, k, bands), fresh, tau, k, bands)

  /** The standing near-dup index [[incrementalDf]] probes — the
    * existing corpus's gram sets and band buckets, cached: built
    * ONCE, probed by many shards (batch) or micro-batches
    * ([[graft.streaming.Streams.incrementalDedupStream]]). In
    * production this is persisted and appended per admitted shard. */
  private[graft] def standingIndex(existing: DataFrame, k: Int = 32,
      bands: Int = 8): (DataFrame, DataFrame) = {
    val ge = WorkingSet(docGrams(existing))
    (ge, WorkingSet(bandBuckets(ge, k, bands)))
  }

  /** Persist a [[standingIndex]] as two parquet tables — the
    * operational decoupling an ingest service needs: building the
    * index is one heavy batch job over the standing corpus; probing
    * is many cheap jobs (or stream restarts) that LOAD it instead of
    * re-deriving grams + buckets from 100 TB of text each time.
    *
    * Commit protocol (shared with [[appendToStandingIndex]]): each
    * shard lives in its own `shard-<id>/` directory holding BOTH
    * tables plus a `_COMMITTED` marker written LAST — a single atomic
    * file-create is the only visibility switch, so a failure between
    * the grams and buckets writes can never publish a half-shard
    * (docs present in grams but invisible to the bucket join would
    * silently miss their near-dups). [[loadStandingIndex]] reads only
    * committed shards.
    *
    * A save is a FULL REBUILD: it replaces the base shard AND removes
    * any previously appended `shard-<id>/` directories. (A rebuild is
    * always computed from a corpus that already absorbed the appended
    * docs — leaving the old append shards visible would double-count
    * those docs' grams and buckets on the next probe.) */
  def saveStandingIndex(index: (DataFrame, DataFrame), path: String): Unit = {
    val spark = index._1.sparkSession
    val root = new org.apache.hadoop.fs.Path(path)
    val hfs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (hfs.exists(root)) {
      hfs.listStatus(root)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("shard-") &&
          s.getPath.getName != "shard-base")
        .foreach(s => hfs.delete(s.getPath, true))
    }
    writeShard(index._1, index._2, path, "base", overwriteCommitted = true)
  }

  def loadStandingIndex(spark: SparkSession, path: String)
      : (DataFrame, DataFrame) = {
    val hfs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val shards = hfs.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(_.isDirectory).map(_.getPath)
      .filter(p => hfs.exists(new org.apache.hadoop.fs.Path(p, "_COMMITTED")))
      .map(_.toString).sorted
    require(shards.nonEmpty,
      s"loadStandingIndex($path): no committed shard directories found")
    (WorkingSet(spark.read.parquet(shards.map(s => s"$s/grams").toSeq: _*)),
      WorkingSet(spark.read.parquet(shards.map(s => s"$s/buckets").toSeq: _*)))
  }

  /** Fold admitted documents into a persisted index — the append
    * step that closes the ingest loop (probe → admit non-dups →
    * index them so the NEXT shard dedups against them too). Cost ∝
    * the admitted shard, never the standing corpus.
    *
    * `shardId` is the caller's STABLE ingest-batch identity, and with
    * the `_COMMITTED` protocol it makes the append exactly-once under
    * at-least-once execution: a retry of an already-committed shard is
    * a no-op (not a double-append), a retry of a half-written shard
    * deletes the leftover and rewrites, and nothing is visible to
    * [[loadStandingIndex]] until the marker lands after BOTH tables. */
  def appendToStandingIndex(docs: DataFrame, path: String, shardId: String,
      k: Int = 32, bands: Int = 8): Unit = WorkingSet.scope {
    require(shardId.nonEmpty && shardId != "base" &&
      shardId.matches("[A-Za-z0-9._-]+"),
      s"appendToStandingIndex: invalid shardId '$shardId'")
    val g = WorkingSet(docGrams(docs))
    writeShard(g, bandBuckets(g, k, bands), path, shardId,
      overwriteCommitted = false)
  }

  /** Write one shard's grams + buckets, then its `_COMMITTED` marker.
    * `overwriteCommitted = true` is the save path (a rebuild replaces
    * the base shard); `false` is the append path (a committed shard
    * id is already fully admitted — retry is a no-op). */
  private def writeShard(grams: DataFrame, buckets: DataFrame,
      path: String, shardId: String, overwriteCommitted: Boolean): Unit = {
    val spark = grams.sparkSession
    val hfs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val shardDir = new org.apache.hadoop.fs.Path(s"$path/shard-$shardId")
    val marker = new org.apache.hadoop.fs.Path(shardDir, "_COMMITTED")
    if (hfs.exists(marker) && !overwriteCommitted) return
    if (hfs.exists(shardDir)) hfs.delete(shardDir, true)
    grams.write.mode("overwrite").parquet(s"$shardDir/grams")
    buckets.write.mode("overwrite").parquet(s"$shardDir/buckets")
    hfs.create(marker, false).close()
  }

  /** One asymmetric probe of a [[standingIndex]]: fresh docs get a
    * verdict + deterministic best match against the index, never
    * against each other — which is exactly why any micro-batch split
    * of `fresh` yields the same verdicts as one shot. */
  private[graft] def probeIncremental(index: (DataFrame, DataFrame),
      fresh: DataFrame, tau: Double, k: Int = 32,
      bands: Int = 8): DataFrame = {
    val (ge, eBuckets) = index
    val gf = WorkingSet(docGrams(fresh))
    val cands = bandBuckets(gf, k, bands).as("f")
      .join(eBuckets.as("e"), col("f.bk") === col("e.bk"))
      .select(col("f.doc_id").as("dn"), col("e.doc_id").as("de"))
      .distinct()
    val scored = cands
      .join(gf.as("g1"), col("dn") === col("g1.doc_id"))
      .join(ge.as("g2"), col("de") === col("g2.doc_id"))
      .select(col("dn"), col("de"),
        round(jaccard(col("g1.grams"), col("g2.grams")), 6).as("jaccard"))
      .filter(col("jaccard") >= tau)
    val best = scored.groupBy(col("dn"))
      .agg(max(struct(col("jaccard"), (-col("de")).as("neg"))).as("m"))
      .select(col("dn"), (-col("m.neg")).as("best_match"),
        col("m.jaccard").as("best_jaccard"))
    fresh.select(col("doc_id"))
      .join(best, col("doc_id") === col("dn"), "left")
      .select(col("doc_id"),
        col("best_match").isNotNull.as("is_dup"),
        coalesce(col("best_match"), lit(-1L)).as("best_match"),
        coalesce(col("best_jaccard"), lit(0.0)).as("best_jaccard"))
      .sortWithinPartitions("doc_id")
  }

  /** SimHash near-dup pairs: 64-bit signature, 4×16-bit chunk
    * bucketing (pigeonhole-complete for Hamming ≤ 3), verify with
    * bit_count(xor). Signatures use the [[PortableHash]] md5-60bit
    * base (bits 60-63 vote to 0 on both engines), so the DuckDB
    * oracle reproduces them bit-for-bit — value-checked. */
  def simhash(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame =
    simhashDf(Tables(spark, dir).documents, maxHamming)

  def simhashDf(docs: DataFrame, maxHamming: Int): DataFrame = {
    // Same one-loop kernel shape as minhash: the 64-bit signature from
    // one codegen'd expression over the per-doc shingle array
    // (functions.SimHashSignature — bit-compatible with explode +
    // SimHashAgg and with the 64 sum-of-vote columns, see
    // SketchAggsSpec), so signature derivation is map-side and the
    // operator's first shuffle is the chunk-bucket candidate join.
    // one working set: both join sides read the chunks, only they read sigs
    val sigs = docGrams(docs)
      .filter(size(col("grams")) > 0)
      .select(col("doc_id"),
        graft.functions.SketchExprs.simhashSig(col("grams")).as("sim"))
    val chunks = WorkingSet(sigs.select(col("doc_id"), col("sim"),
      explode(simhashChunks(col("sim"))).as("ck")))
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.ck") === col("b.ck") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        hamming(col("a.sim"), col("b.sim")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .sortWithinPartitions("d1", "d2")
  }

  /** Connected components over near-dup pairs — the step that turns
    * pairwise similarity into dedup groups (keep the min doc_id per
    * component, drop the rest). Distributed min-label propagation:
    * each iteration joins labels across edges and keeps the minimum;
    * converges in O(component diameter) rounds (typically ≤ 5 for
    * near-dup clusters). Each round is one label join and one
    * union + groupBy-min (map-side partial mins); labels only
    * decrease, so Σcomp holding still is the convergence test
    * ([[graft.core.Fixpoint.untilStable]]). */
  def components(pairs: DataFrame, maxRounds: Int = 20,
      seed: DataFrame = null): DataFrame = WorkingSet.scope {
    // materialize the pair derivation once — the union below references
    // it twice, and without this the whole upstream (shingling +
    // self-join) executes per side
    val p = WorkingSet(pairs)
    // partitioned by src once: every round's SHUFFLE_HASH label join
    // reuses the layout (see graft.core.Fixpoint on joins)
    val edges = WorkingSet(p.select(col("d1").as("src"), col("d2").as("dst"))
      .unionAll(p.select(col("d2").as("src"), col("d1").as("dst")))
      .distinct().repartition(col("src")))
    // Round-0 labels: each node's own id, or (warm start) the caller's
    // prior (doc_id, component) labels — the daily-delta loop: when
    // yesterday's corpus grew by today's documents, seeding with
    // yesterday's converged labels means most components start already
    // labeled with their true minimum and propagation only has to walk
    // the NEW edges' neighborhoods instead of every component's full
    // diameter. least(node, seed) keeps the only invariant the loop
    // needs — labels start ≥ their component minimum and only ever
    // decrease — and the converged result is IDENTICAL to the cold
    // run's (spec-pinned and hash-gated via `dedup_components_resume`):
    // a seed label is the min doc_id of a prior component, i.e. a node
    // id inside the same (possibly now larger) component, so the
    // propagated minimum is unchanged. Valid for edge-ADDITIVE deltas
    // (the dedup corpus case: documents arrive, pairs only accumulate);
    // after edge REMOVAL a component can split and stale labels would
    // under-segment — recompute cold for compaction/deletion runs.
    val coldLabels = edges.select(col("src").as("node")).distinct()
    val init = if (seed == null) coldLabels.withColumn("comp", col("node"))
      else coldLabels
        .join(seed.select(col("doc_id").as("node"),
          col("component").as("seed_comp")), Seq("node"), "left")
        .select(col("node"),
          least(col("node"), coalesce(col("seed_comp"), col("node"))).as("comp"))
    // Round 1 always changes a label on a nonempty edge set (the edge
    // holding the globally-minimal endpoint propagates it to a larger
    // id), so the kernel's check from round 2 on loses nothing.
    val result = Fixpoint.untilStable("components", init, "comp", maxRounds) { labels =>
      // one round: each node keeps the min of its own label and its
      // neighbors' labels (union + groupBy-min, with map-side partial
      // mins)
      labels
        .unionAll(edges
          .join(labels.hint("shuffle_hash"), col("src") === col("node"))
          .select(col("dst").as("node"), col("comp")))
        .groupBy(col("node"))
        .agg(min("comp").as("comp"))
    }
    if (!result.converged) {
      // surfacing beats silently emitting partial components: labels
      // are still a valid refinement (over-segmented), but dedup built
      // on them would under-merge
      System.err.println(s"[graft] components: min-label propagation did not " +
        s"converge within $maxRounds rounds (labels still moving); " +
        s"raise maxRounds for graphs with diameter > $maxRounds")
    }
    // the final labels are a materialized localCheckpoint — they no
    // longer reference the pair/edge lineage, so this call's scope
    // releases the loop's working sets on return
    result.state.select(col("node").as("doc_id"), col("comp").as("component"))
      .sortWithinPartitions("doc_id")
  }

  /** Dedup groups from n-gram Jaccard pairs: every doc that has a
    * near-dup, labeled with its component (= min doc_id in the
    * cluster); `keep = doc_id == component`. Feeds the *unsorted*
    * pair set — the propagation loop would destroy a presentation
    * sort anyway. */
  def ngramComponents(spark: SparkSession, dir: String,
      tau: Double = 0.1): DataFrame =
    // shared (uncapped) pair derivation: the iterative loop is
    // latency-bound, and within a run the base pair set is already
    // cached for dedup_ngram_jaccard/dedup_containment
    components(sharedJaccardPairs(spark, dir, tau))

  /** Cluster-representative selection — the pipeline step AFTER
    * near-dup clustering: from each `ngramComponents` cluster keep
    * exactly ONE document (longest by UTF-8 BYTES — `octet_length` ≡
    * DuckDB `strlen`, sidestepping the codepoint/code-unit divergence
    * the unicode gate polices — tie broken by min doc_id);
    * un-clustered docs pass through as their own singleton
    * (`component` = own id, csize 1). Output is the KEPT corpus
    * manifest: (component, kept doc_id, blen, csize) — what a
    * curation pipeline joins against to materialize the deduped
    * shard. Shape: the shared (cached) pair base + propagation loop,
    * one left join to labels, one argmax-by-struct groupBy (map-side
    * combined; no per-cluster window), within-partition presentation
    * order. */
  def keepBest(spark: SparkSession, dir: String,
      tau: Double = 0.1): DataFrame =
    keepBestFrom(Tables(spark, dir).documents,
      ngramComponents(spark, dir, tau))

  /** [[keepBest]] over PRECOMPUTED component labels — the production
    * split: a pipeline that has already run (and persisted) the
    * clustering pass selects representatives without re-deriving the
    * pair base and re-converging the loop. The bench's `dedup_keep_best`
    * deliberately measures the full cold chain (pair base + loop +
    * selection — within a suite run the shared PlanCache base amortizes
    * it); this overload is the marginal-cost entry, and DedupSpec pins
    * overload ≡ full chain. */
  def keepBestFrom(documents: DataFrame, components: DataFrame): DataFrame = {
    val docs = documents
      .select(col("doc_id"), expr("CAST(octet_length(text) AS BIGINT)").as("blen"))
    val labeled = docs
      .join(components, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"), col("blen"))
    labeled.groupBy(col("component"))
      .agg(count(lit(1)).as("csize"),
        // struct max = (blen desc, -doc_id desc) ⇒ longest, then min id
        max(struct(col("blen"), (-col("doc_id")).as("nd"))).as("m"))
      .select(col("component"), (-col("m.nd")).as("doc_id"),
        col("m.blen").as("blen"), col("csize"))
      .sortWithinPartitions("component")
  }

  /** The `dedup_components_resume` query: warm-start label propagation
    * — converge a deterministic "yesterday" subset of the near-dup
    * pairs (those whose lower doc_id is even — an arbitrary but
    * engine-free split standing in for a prior day's corpus), then
    * converge the FULL pair set seeded with those labels. The DuckDB
    * oracle is the SAME recursive-CTE closure as `dedup_components`,
    * so the hash gate proves seeded-resume ≡ cold-run: stale labels
    * from the subset run (each the min doc_id of a prior, possibly
    * since-merged component) can only accelerate propagation, never
    * change its fixed point. */
  def ngramComponentsResumed(spark: SparkSession, dir: String,
      tau: Double = 0.1): DataFrame = {
    val pairs = sharedJaccardPairs(spark, dir, tau)
    val prior = components(pairs.filter(col("d1") % 2 === 0))
    components(pairs, seed = prior)
  }

  /** Asymmetric shingle-CONTAINMENT pairs — the measure Jaccard
    * misses: a short document quoted wholesale inside a long one has
    * C(A⊂B) = |A∩B|/|A| ≈ 1 while Jaccard ≈ |A|/|B| ≈ 0, so a
    * Jaccard gate never fires (DedupSpec plants exactly this case).
    * Same inverted-index pair derivation as [[ngramJaccardPairs]]
    * (postings on the 60-bit portable hash, one bucket self-join,
    * never N²); only the final scoring differs — both directions'
    * containment from the same `inter` count, gated on the max. */
  def containment(spark: SparkSession, dir: String,
      tau: Double = 0.6): DataFrame =
    sharedInterPairs(spark, dir)
      .select(col("d1"), col("d2"), col("inter"),
        round(col("inter") / col("n1"), 6).as("cont_d1_in_d2"),
        round(col("inter") / col("n2"), 6).as("cont_d2_in_d1"))
      .filter(greatest(col("cont_d1_in_d2"), col("cont_d2_in_d1")) >= tau)
      .sortWithinPartitions("d1", "d2")

  def containmentDf(docs: DataFrame, tau: Double = 0.6): DataFrame = {
    // cached: consumed by both the size projection and the postings
    // explode — without it the shingling subtree runs twice (same
    // discipline as ngramJaccardPairs)
    val g = WorkingSet(docGrams(docs))
    val sizes = g.select(col("doc_id"), size(col("grams")).as("n"))
    val posts = g.select(col("doc_id"),
      explode(graft.functions.SketchExprs.gramHashes(col("grams"))).as("gid"))
    posts.as("a")
      .join(posts.as("b"),
        col("a.gid") === col("b.gid") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.as("s1"), col("d1") === col("s1.doc_id"))
      .join(sizes.as("s2"), col("d2") === col("s2.doc_id"))
      .select(col("d1"), col("d2"), col("inter"),
        round(col("inter") / col("s1.n"), 6).as("cont_d1_in_d2"),
        round(col("inter") / col("s2.n"), 6).as("cont_d2_in_d1"))
      .filter(greatest(col("cont_d1_in_d2"), col("cont_d2_in_d1")) >= tau)
      .sortWithinPartitions("d1", "d2")
  }

  /** Exact duplicated-SPAN detection — the substring-level dedup pass
    * (the operation "Deduplicating Training Data Makes Language
    * Models Better" runs with suffix arrays): find fixed-width text
    * windows that recur VERBATIM across documents, e.g. shared
    * boilerplate, licenses, templated headers, without the documents
    * being near-duplicates as wholes.
    *
    * Alignment is CONTENT-DEFINED, not stride-defined: a window
    * starts wherever the 4-gram polynomial hash at its first position
    * ≡ 0 (mod `anchorMod`) — so two copies of the same region pick the
    * SAME anchor positions relative to the region's content regardless
    * of where it sits in each document (a fixed stride would only match
    * copies at equal offsets mod stride). The probe is a base-31
    * polynomial over the 4 code points (`ascii`, portable to the
    * oracle engine verbatim) — an earlier formulation md5-hashed the
    * 4-gram at EVERY position, which put a digest + hex + base
    * conversion inside the per-character HOF lambda and dominated the
    * whole operator (measured 2.5 s → ~1 s at sf0.1). The modulus
    * defaults to 17, COPRIME to the base: mod 16 the coefficients
    * collapse (29791 ≡ 15, 961 ≡ 1, 31 ≡ 15), and because 16 divides
    * 29791+961+31+1 = 30784, EVERY run of one repeated character
    * (whitespace padding, '====' rules) anchored at every position —
    * ~16× window density over such runs. Mod 17 the coefficients are
    * 7, 9, 14, 1 and a repeated-char run anchors only when 14·c ≡ 0
    * (mod 17), i.e. for ~1/17 of character values — the same odds any
    * other 4-gram gets. Code points are widened to BIGINT before the
    * polynomial: astral-plane characters (≥ 72 090) would overflow
    * INT32 under ANSI mode in both engines. Expected window density is
    * one per `anchorMod` chars; `win` = 64 chars is the minimum span
    * size detected.
    *
    * Scale shape: anchor selection and window hashing are MAP-SIDE
    * over the text scan (the per-position 4-gram probe is the honest
    * cost — the same full-text pass every shingling op makes); only
    * 128-bit window hashes cross the wire, never span text; the
    * group-by is exact, no pairwise compare anywhere. The distinct
    * count per hash is bounded by the duplication factor, not corpus
    * size. */
  def substringSpans(spark: SparkSession, dir: String, win: Int = 64,
      anchorMod: Int = 17): DataFrame =
    substringSpansDf(Tables(spark, dir).documents, win, anchorMod)

  def substringSpansDf(docs: DataFrame, win: Int = 64,
      anchorMod: Int = 17): DataFrame =
    docs
      .filter(length(col("text")) >= win)
      // one O(len) pass builds the code-point array; the per-position
      // probe is then 4 O(1) element_at lookups. Probing the text
      // directly (substring(text, p, _) — md5 or ascii alike) is an
      // O(p) UTF-8 scan per call inside the interpreted lambda, i.e.
      // O(len²) per document.
      .withColumn("codes", expr("transform(split(text, ''), c -> ascii(c))"))
      .select(col("doc_id"), col("text"), explode(expr(
        s"""filter(sequence(1, length(text) - $win + 1),
           |  p -> (CAST(element_at(codes, p) AS BIGINT) * 29791
           |      + element_at(codes, p + 1) * 961
           |      + element_at(codes, p + 2) * 31
           |      + element_at(codes, p + 3)) % $anchorMod = 0)"""
          .stripMargin)).as("p"))
      .select(col("doc_id"),
        md5(expr(s"substring(text, p, $win)")).as("h"))
      .groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("keep_id"))
      .filter(col("n_docs") > 1)
      .sortWithinPartitions("h")

  /** Embedding cosine near-dup pairs, blocked by the `label` column
    * (the pre-clustering blocking pattern: at 100 TB the block key is
    * a coarse quantizer cell; here the provided label plays that
    * role). Oracle-checked via DuckDB list_cosine_similarity over
    * DOUBLE[] casts; spec additionally pins the codegen expression to
    * the HOF cosine. */
  def embedding(spark: SparkSession, dir: String, tau: Double = 0.4): DataFrame =
    embeddingDf(Tables(spark, dir).embeddings, tau)

  def embeddingDf(embs: DataFrame, tau: Double): DataFrame = {
    val e = embs.select(col("vec_id"), col("embedding"), col("label"))
    e.as("a")
      .join(e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"),
        round(Vectors.cosineSim(col("a.embedding"), col("b.embedding")), 6)
          .as("cosine"))
      .filter(col("cosine") >= tau)
      .sortWithinPartitions("v1", "v2")
  }

  /** Threshold bank for [[sweep]] — ascending; the lowest bound is
    * the one pair-generation pass everything else slices from. */
  val SweepThresholds: Seq[Double] = Seq(0.3, 0.4, 0.5, 0.6, 0.7)

  /** Dedup THRESHOLD SWEEP — the tuning readout behind every "what τ
    * should we dedup at" decision: pair and affected-doc counts at a
    * whole bank of cosine thresholds from ONE pair-generation pass
    * (the [[embeddingDf]] blocked join at the bank's LOWEST bound;
    * tighter thresholds are row-local slices of those pairs — the
    * graph_communities_sweep discipline applied to dedup). Absent
    * thresholds report 0, not absence. Output = |bank| rows at any
    * corpus size; the sweep costs one blocked pair join + two
    * bounded aggregates more than a single-τ run. */
  def sweep(spark: SparkSession, dir: String): DataFrame =
    sweepDf(Tables(spark, dir).embeddings)

  def sweepDf(embs: DataFrame): DataFrame = {
    val bank = embs.sparkSession.range(1)
      .select(explode(array(SweepThresholds.map(lit): _*)).as("threshold"))
    val tagged = embeddingDf(embs, SweepThresholds.min)
      .select(col("v1"), col("v2"), col("cosine"),
        explode(array(SweepThresholds.map(lit): _*)).as("threshold"))
      .filter(col("cosine") >= col("threshold"))
    val nPairs = tagged.groupBy(col("threshold"))
      .agg(count(lit(1)).as("np"))
    val nDocs = tagged
      .select(col("threshold"), explode(array(col("v1"), col("v2"))).as("v"))
      .groupBy(col("threshold"))
      .agg(countDistinct(col("v")).as("nd"))
    bank.join(nPairs, Seq("threshold"), "left")
      .join(nDocs, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("np"), lit(0L)).as("n_pairs"),
        coalesce(col("nd"), lit(0L)).as("n_docs"))
      .orderBy(col("threshold"))
  }

  /** Generated DuckDB oracle for [[sweep]] — same pair construction
    * as dedup_embedding at the bank's lowest bound, same bank. */
  def sweepOracleSql: String = {
    val bank = SweepThresholds.mkString(", ")
    s"""WITH pr AS (
          SELECT a.vec_id AS v1, b.vec_id AS v2,
                 round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                       CAST(b.embedding AS DOUBLE[])), 6) AS cosine
          FROM embeddings a JOIN embeddings b
            ON a.label = b.label AND a.vec_id < b.vec_id
          WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                      CAST(b.embedding AS DOUBLE[])), 6) >= ${SweepThresholds.min}),
        tb AS (SELECT unnest([$bank]) AS threshold),
        tg AS (SELECT tb.threshold, pr.v1, pr.v2
               FROM pr JOIN tb ON pr.cosine >= tb.threshold),
        np AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs
               FROM tg GROUP BY 1),
        nd AS (SELECT threshold, CAST(count(DISTINCT v) AS BIGINT) AS n_docs
               FROM (SELECT threshold, v1 AS v FROM tg
                     UNION ALL SELECT threshold, v2 FROM tg)
               GROUP BY 1)
        SELECT tb.threshold,
               coalesce(np.n_pairs, 0) AS n_pairs,
               coalesce(nd.n_docs, 0) AS n_docs
        FROM tb LEFT JOIN np ON np.threshold = tb.threshold
        LEFT JOIN nd ON nd.threshold = tb.threshold
        ORDER BY tb.threshold"""
  }

  /** Threshold bank for [[sweepJaccard]] — ascending; the lowest
    * bound is the single pair-generation pass the bank slices. The
    * gated `dedup_ngram_jaccard` runs at 0.1 and the LSH family's τ
    * decision sits at 0.5, so the bank brackets both. */
  val JaccardSweepThresholds: Seq[Double] = Seq(0.1, 0.2, 0.3, 0.4, 0.5)

  /** The JACCARD-family threshold sweep — [[sweep]]'s twin for the
    * shingle operators (ngram/minhash both decide τ in Jaccard
    * space): pair and affected-doc counts at every bank threshold
    * from ONE [[ngramJaccardPairs]] pass at the lowest bound; tighter
    * thresholds are row-local slices of those pairs. Absent
    * thresholds report 0, not absence. Output = |bank| rows at any
    * corpus size; cost = one shingle pair join + two bounded
    * aggregates, shared across the whole bank. */
  def sweepJaccard(spark: SparkSession, dir: String): DataFrame =
    sweepJaccardDf(Tables(spark, dir).documents)

  def sweepJaccardDf(docs: DataFrame): DataFrame = {
    val bank = docs.sparkSession.range(1)
      .select(explode(array(JaccardSweepThresholds.map(lit): _*))
        .as("threshold"))
    val tagged = ngramJaccardPairs(docs, JaccardSweepThresholds.min)
      .select(col("d1"), col("d2"), col("jaccard"),
        explode(array(JaccardSweepThresholds.map(lit): _*)).as("threshold"))
      .filter(col("jaccard") >= col("threshold"))
    val nPairs = tagged.groupBy(col("threshold"))
      .agg(count(lit(1)).as("np"))
    val nDocs = tagged
      .select(col("threshold"), explode(array(col("d1"), col("d2"))).as("v"))
      .groupBy(col("threshold"))
      .agg(countDistinct(col("v")).as("nd"))
    bank.join(nPairs, Seq("threshold"), "left")
      .join(nDocs, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("np"), lit(0L)).as("n_pairs"),
        coalesce(col("nd"), lit(0L)).as("n_docs"))
      .orderBy(col("threshold"))
  }

  /** DuckDB twin of [[sharedInterPairs]], to follow a `WITH`:
    * [[grams3Cte]], then `hp(doc_id, gid)` (postings on the 60-bit
    * portable hash, as on the Spark side: collisions, were any to
    * exist, are identical on both engines), `sizes(doc_id, n)` and
    * `pairs(d1, d2, inter)` for every doc pair sharing a shingle. */
  private[graft] val interPairsCtes: String =
    s"""$grams3Cte,
         hp AS (SELECT doc_id,
                       ${PortableHash.h60Sql("gram")} AS gid
                FROM posts),
         sizes AS (SELECT doc_id, len(gs) AS n FROM g),
         pairs AS (
           SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
           FROM hp a JOIN hp b
             ON a.gid = b.gid AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id)"""

  /** Generated DuckDB oracle for [[sweepJaccard]] — the
    * dedup_ngram_jaccard pair chain at the bank's lowest bound, same
    * bank slices. */
  def sweepJaccardOracleSql: String = {
    val bank = JaccardSweepThresholds.mkString(", ")
    s"""WITH $interPairsCtes,
        pr AS (
          SELECT d1, d2, round(inter * 1.0 / (s1.n + s2.n - inter), 6) AS j
          FROM pairs
          JOIN sizes s1 ON s1.doc_id = d1
          JOIN sizes s2 ON s2.doc_id = d2
          WHERE round(inter * 1.0 / (s1.n + s2.n - inter), 6)
                  >= ${JaccardSweepThresholds.min}),
        tb AS (SELECT unnest([$bank]) AS threshold),
        tg AS (SELECT tb.threshold, pr.d1, pr.d2
               FROM pr JOIN tb ON pr.j >= tb.threshold),
        np AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs
               FROM tg GROUP BY 1),
        nd AS (SELECT threshold, CAST(count(DISTINCT v) AS BIGINT) AS n_docs
               FROM (SELECT threshold, d1 AS v FROM tg
                     UNION ALL SELECT threshold, d2 FROM tg)
               GROUP BY 1)
        SELECT tb.threshold,
               coalesce(np.n_pairs, 0) AS n_pairs,
               coalesce(nd.n_docs, 0) AS n_docs
        FROM tb LEFT JOIN np ON np.threshold = tb.threshold
        LEFT JOIN nd ON nd.threshold = tb.threshold
        ORDER BY tb.threshold"""
  }

  /** Banding bank for [[sweepLsh]] — k = 32 minhashes split as
    * (bands, rows) = (4,8) / (8,4) / (16,2): more bands ⇒ steeper
    * recall at lower similarity, more candidates. */
  val LshBandSweep: Seq[Int] = Seq(4, 8, 16)

  /** LSH BANDING SWEEP — the tuning readout behind "how many bands":
    * per (bands, rows) configuration, the candidate-pair volume (the
    * COST knob), the exact-verified ≥ τ pair count, the ground-truth
    * pair count, and recall — all from ONE signature pass (the 32
    * minhashes are computed once; each configuration's band keys are
    * a row-local regroup of the same entries, and the candidate join
    * runs once with the configuration in the key). Ground truth is
    * the exact shingle-Jaccard pair set at τ. Output = |bank| rows at
    * any corpus size; the sweep shares the corpus's one shingling
    * pass with every other dedup operator in the run. */
  def sweepLsh(spark: SparkSession, dir: String, tau: Double = 0.5,
      k: Int = 32): DataFrame = {
    val g = sharedGrams(spark, dir)
    val sig = g.filter(size(col("grams")) > 0)
      .select(col("doc_id"),
        graft.functions.SketchExprs.minhashSig(col("grams"), k).as("sig"))
    val arms = LshBandSweep.flatMap { bands =>
      val r = k / bands
      (0 until bands).map { b =>
        struct(lit(bands.toLong).as("bands"),
          concat(lit(s"$b#"),
            concat_ws("_", (b * r until (b + 1) * r).map(i =>
              element_at(col("sig"), i + 1).cast("string")): _*)).as("bk"))
      }
    }
    val keyed = sig
      .select(col("doc_id"), explode(array(arms: _*)).as("e"))
      .select(col("doc_id"), col("e.bands").as("bands"), col("e.bk").as("bk"))
    val cands = keyed.as("x")
      .join(keyed.as("y"),
        col("x.bands") === col("y.bands") && col("x.bk") === col("y.bk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.bands").as("bands"), col("x.doc_id").as("d1"),
        col("y.doc_id").as("d2"))
      .distinct()
    // ONE pass computes both counts: plans are trees, so separate
    // n_candidates / n_verified aggregates each re-executed the LSH
    // self-join + distinct above (r14). Counting candidates and
    // summing a verified FLAG off the same verify join is the
    // identical arithmetic (every candidate row appears exactly once
    // post-distinct, and the grams joins are key-preserving: d1/d2
    // each match exactly one dictionary row), halving the heavy scans.
    val nBoth = cands
      .join(g.select(col("doc_id").as("d1"), col("grams").as("g1")), Seq("d1"))
      .join(g.select(col("doc_id").as("d2"), col("grams").as("g2")), Seq("d2"))
      .select(col("bands"),
        (round(jaccard(col("g1"), col("g2")), 6) >= tau)
          .cast("long").as("ok"))
      .groupBy(col("bands")).agg(count(lit(1)).as("n_candidates"),
        sum(col("ok")).as("n_verified"))
    val nTruth = sharedJaccardPairs(spark, dir, tau)
      .agg(count(lit(1)).as("n_truth"))
    val bank = spark.range(1)
      .select(explode(array(LshBandSweep.map(b => lit(b.toLong)): _*))
        .as("bands"))
    bank.join(nBoth, Seq("bands"), "left")
      .crossJoin(broadcast(nTruth))
      .select(col("bands"), (lit(k.toLong) / col("bands")).cast("long")
          .as("rows_per_band"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_verified"), lit(0L)).as("n_verified"),
        col("n_truth"),
        when(col("n_truth") > 0,
          round(coalesce(col("n_verified"), lit(0L)).cast("double") /
            col("n_truth").cast("double"), 6)).otherwise(lit(0.0))
          .as("recall"))
      .orderBy(col("bands"))
  }

  /** Generated DuckDB oracle for [[sweepLsh]] — the minhash signature
    * SQL (same affine salts), every configuration's band keys from
    * the one signature table, candidate/verify/truth counts. */
  def sweepLshOracleSql(tau: Double = 0.5, k: Int = 32): String = {
    val armSelects = LshBandSweep.map { bands =>
      s"SELECT doc_id, CAST($bands AS BIGINT) AS bands, " +
        s"unnest(${bandKeysSql(bands, k / bands)}) AS bk FROM sig"
    }.mkString("\n         UNION ALL ")
    s"""WITH $grams3Cte,
         ${minhashSigCte(k)},
         bkall AS ($armSelects),
         cand AS (SELECT DISTINCT a.bands, a.doc_id AS d1, b.doc_id AS d2
                  FROM bkall a JOIN bkall b
                    ON a.bands = b.bands AND a.bk = b.bk
                       AND a.doc_id < b.doc_id),
         nc AS (SELECT bands, CAST(count(*) AS BIGINT) AS n_candidates
                FROM cand GROUP BY 1),
         sizes AS (SELECT doc_id, len(gs) AS n FROM g),
         cint AS (SELECT c.bands, c.d1, c.d2, count(*) AS inter
                  FROM cand c
                  JOIN posts p1 ON p1.doc_id = c.d1
                  JOIN posts p2 ON p2.doc_id = c.d2 AND p2.gram = p1.gram
                  GROUP BY 1, 2, 3),
         nv AS (SELECT i.bands, CAST(count(*) AS BIGINT) AS n_verified
                FROM cint i
                JOIN sizes s1 ON s1.doc_id = i.d1
                JOIN sizes s2 ON s2.doc_id = i.d2
                WHERE round(i.inter * 1.0 / (s1.n + s2.n - i.inter), 6)
                        >= $tau
                GROUP BY 1),
         tint AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
                  FROM posts a JOIN posts b
                    ON a.gram = b.gram AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
         nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth
                FROM tint i
                JOIN sizes s1 ON s1.doc_id = i.d1
                JOIN sizes s2 ON s2.doc_id = i.d2
                WHERE round(i.inter * 1.0 / (s1.n + s2.n - i.inter), 6)
                        >= $tau),
         tb AS (SELECT CAST(unnest([${LshBandSweep.mkString(", ")}])
                  AS BIGINT) AS bands)
         SELECT tb.bands, CAST($k // tb.bands AS BIGINT) AS rows_per_band,
                coalesce(nc.n_candidates, 0) AS n_candidates,
                coalesce(nv.n_verified, 0) AS n_verified,
                nt.n_truth,
                CASE WHEN nt.n_truth > 0
                     THEN round(CAST(coalesce(nv.n_verified, 0) AS DOUBLE)
                                / CAST(nt.n_truth AS DOUBLE), 6)
                     ELSE 0.0 END AS recall
         FROM tb LEFT JOIN nc ON nc.bands = tb.bands
                 LEFT JOIN nv ON nv.bands = tb.bands
                 CROSS JOIN nt
         ORDER BY tb.bands"""
  }

  /** Jaccard near-dup pairs via PREFIX FILTERING (AllPairs/PPJoin —
    * Bayardo, Ma & Srikant, WWW 2007; Chaudhuri, Ganti & Kaushik's
    * SSJoin primitive, ICDE 2006) — the third candidate-generation
    * discipline beside the inverted-index self-join
    * ([[ngramJaccard]]) and minhash banding ([[minhashLsh]]), and the
    * one that stays EXACT while pruning: order every doc's shingle
    * set by a global total order (df asc, gid asc — rarest first),
    * keep only the first `|s| − ⌈τ·|s|⌉ + 1` shingles as join keys.
    * Completeness: a pair with `J ≥ τ` shares `α ≥ ⌈τ·max(|A|,|B|)⌉`
    * shingles; the smallest shared shingle e₁ (global order) has at
    * least the other α−1 shared ones AFTER it in BOTH sets, so its
    * rank is ≤ |A|−α+1 and ≤ |B|−α+1 — inside both prefixes. The
    * oracle is the exact all-pairs postings join, so the hash match
    * IS the completeness proof (the er_fuzzy_names contract).
    *
    * Scale: at τ=0.5 the self-join input halves and — the real win —
    * boilerplate shingles are df-HIGH, so they sort to the suffix and
    * drop out of candidate generation entirely without the maxDf
    * cap's add-back machinery. Verification is row-local
    * (`array_intersect` on the two hashed-gram arrays after a
    * candidate-keyed join), never a second postings pass. */
  def prefixJaccard(spark: SparkSession, dir: String,
      tau: Double = 0.5): DataFrame =
    prefixJaccardOf(sharedGrams(spark, dir), Some(sharedPosts(spark, dir)),
      tau).sortWithinPartitions("d1", "d2")

  /** Spec surface over any raw `(doc_id, text)` frame. */
  def prefixJaccardDf(docs: DataFrame, tau: Double): DataFrame =
    prefixJaccardOf(docGrams(docs), None, tau)
      .sortWithinPartitions("d1", "d2")

  private def prefixJaccardOf(grams: DataFrame, posts: Option[DataFrame],
      tau: Double): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"prefixJaccard: tau $tau not in (0,1]")
    val g = grams.select(col("doc_id"),
      graft.functions.SketchExprs.gramHashes(col("grams")).as("gids"))
    val p = posts.getOrElse(g.select(col("doc_id"),
      explode(col("gids")).as("gid")))
    val dfs = p.groupBy(col("gid")).agg(count(lit(1)).as("df"))
    // per-doc prefix under the global (df, gid) order — one grouped
    // sort+slice kernel per doc, bounded by the doc's shingle count;
    // set size rides along for the AllPairs LENGTH filter below
    val prefix = p.join(dfs, Seq("gid"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("gid"))))
        .as("ord"))
      .select(col("doc_id"), size(col("ord")).as("n"), explode(expr(
        s"slice(ord, 1, size(ord) - cast(ceil($tau * size(ord)) as int) + 1)"))
        .as("pg"))
      .select(col("doc_id"), col("n"), col("pg.gid").as("gid"))
    // length filter (AllPairs): J >= τ forces |A∩B| >= τ·max(|A|,|B|)
    // and |A∩B| <= min(|A|,|B|), so τ·max <= min — prunes candidates
    // of incompatible sizes before the (heavier) intersection verify
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.gid") === col("b.gid") && col("a.doc_id") < col("b.doc_id") &&
          lit(tau) * greatest(col("a.n"), col("b.n")) <=
            least(col("a.n"), col("b.n")))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    cand
      .join(g.select(col("doc_id").as("d1"), col("gids").as("g1")), Seq("d1"))
      .join(g.select(col("doc_id").as("d2"), col("gids").as("g2")), Seq("d2"))
      .select(col("d1"), col("d2"),
        size(array_intersect(col("g1"), col("g2"))).cast("long").as("inter"),
        size(col("g1")).as("n1"), size(col("g2")).as("n2"))
      .select(col("d1"), col("d2"), col("inter"),
        round(col("inter") / (col("n1") + col("n2") - col("inter")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= tau)
  }

  /** SemDeDup-shaped semantic dedup: LEARNED blocking. Where
    * [[embeddingDf]] blocks on a given label column, here the blocks
    * are the integer-exact k-means clusters ([[Cluster.kmeansAssign]])
    * — the public SemDeDup recipe (cluster the embedding corpus, then
    * compare only within a cluster), which needs no labels and whose
    * block count/size is a tuning knob instead of a schema accident.
    * Pairing cost is Σ|cluster|², never corpus², and the pair join is
    * an equi-join on cid — the shape AQE can split if one cluster
    * runs hot. The deterministic clustering trajectory means even
    * this two-stage composition hash-matches its single-SQL oracle. */
  def semantic(spark: SparkSession, dir: String, tau: Double = 0.4,
      k: Int = 8, iters: Int = 3): DataFrame = {
    val embs = Tables(spark, dir).embeddings
    val assign = Cluster.kmeansAssign(embs, k, iters)
      .select(col("vec_id"), col("cid"))
    val ec = embs.select(col("vec_id"), col("embedding"))
      .join(assign, Seq("vec_id"))
    ec.as("a")
      .join(ec.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"),
        col("a.cid").cast("long").as("cluster"),
        round(Vectors.cosineSim(col("a.embedding"), col("b.embedding")), 6)
          .as("cosine"))
      .filter(col("cosine") >= tau)
      .sortWithinPartitions("v1", "v2")
  }

  /** This object's queries, each with its DuckDB oracle (see [[graft.core.Query]]). */
  lazy val queries: Seq[Query] = Seq(
    // per-source duplication ppm — two map-side aggregates
    Query("dedup_report", dedupReport, dedupReportSql),
    // the near-dup pair set attributed to unordered source pairs —
    // diagonal = within-feed dup, off-diagonal = feed copies feed
    Query("dedup_cross_source", dedupCrossSource,
      s"""WITH p AS ($NgramJaccardPairsSql)
         SELECT least(da.source, db.source) AS source_a,
                greatest(da.source, db.source) AS source_b,
                CAST(count(*) AS BIGINT) AS n_pairs
         FROM p JOIN documents da ON da.doc_id = p.d1
                JOIN documents db ON db.doc_id = p.d2
         GROUP BY 1, 2 ORDER BY 1, 2"""),
    Query("dedup_exact", exact,
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_dups
         FROM documents GROUP BY md5(text) ORDER BY h"""),
    // SQL-surface twins (see the *SparkSql vals): the same operator
    // semantics typed as plain SQL, gated against the SAME oracle text
    // as the DataFrame operator — twin drift hash-fails
    Query("dedup_exact_sql", (s, d) => Tables.runSql(s, d, DedupExactSparkSql),
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_dups
         FROM documents GROUP BY md5(text) ORDER BY h"""),
    Query("dedup_minhash_lsh_sql", (s, d) => Tables.runSql(s, d, MinhashLshSparkSql),
      minhashLshSql),
    Query("dedup_simhash_sql", (s, d) => Tables.runSql(s, d, SimhashSparkSql), simhashSql),
    // NFC + utf8proc-lower (the normalize_text twin) + ASCII \s+
    // collapse, then the same exact grouping
    Query("dedup_normalized", exactNormalized,
      """SELECT md5(trim(regexp_replace(lower(nfc_normalize(text)),
                '\s+', ' ', 'g'), ' ')) AS h,
                min(doc_id) AS keep_id, count(*) AS n_dups
         FROM documents
         GROUP BY 1 ORDER BY h"""),
    // maxDf passed explicitly: the 100 TB operating configuration of
    // the capped candidate generation (public default is exact/uncapped)
    Query("dedup_ngram_jaccard", (s, d) => ngramJaccard(s, d, maxDf = 1000), NgramJaccardPairsSql),
    // MinHash-LSH over the portable hash family: identical 32-entry
    // signatures (md5-60bit base, affine salts over 2³¹−1, literal
    // parameters below), identical "band#v_v_v_v" bucket keys, exact
    // Jaccard verify on candidates.
    Query("dedup_minhash_lsh", (s, d) => minhashLsh(s, d), minhashLshSql),
    Query("dedup_incremental", (s, d) => incremental(s, d), dedupIncrementalSql),
    // SimHash over the portable 60-bit base hash: bit-identical
    // signatures (votes per bit, sign-packed), 4×16-bit chunk
    // buckets, bit_count(xor) Hamming verify.
    Query("dedup_simhash", (s, d) => simhash(s, d), simhashSql),
    // one loosest-threshold candidate pass serves the whole radius bank
    Query("dedup_sweep_hamming", sweepHamming, sweepHammingSql),
    Query("dedup_embedding", (s, d) => embedding(s, d),
      """SELECT a.vec_id AS v1, b.vec_id AS v2,
                round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                      CAST(b.embedding AS DOUBLE[])), 6) AS cosine
         FROM embeddings a JOIN embeddings b
           ON a.label = b.label AND a.vec_id < b.vec_id
         WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                     CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
         ORDER BY v1, v2"""),
    // threshold-tuning readout: one pair pass at the bank's lowest
    // bound, tighter thresholds sliced row-locally; absent → 0
    Query("dedup_sweep", sweep, sweepOracleSql),
    Query("dedup_sweep_jaccard", sweepJaccard, sweepJaccardOracleSql),
    Query("dedup_sweep_lsh", (s, d) => sweepLsh(s, d), sweepLshOracleSql()),
    // the k-means CTE chain is the SAME statement the emb_kmeans
    // oracle uses — the clustering trajectory has one source of truth
    Query("dedup_semantic", (s, d) => semantic(s, d), {
      s"""WITH ${Cluster.kmeansAssignCtes()},
         ec AS (SELECT em.vec_id, em.embedding, a.cid
                FROM embeddings em JOIN a3 a ON em.vec_id = a.vec_id)
         SELECT a.vec_id AS v1, b.vec_id AS v2,
                CAST(a.cid AS BIGINT) AS cluster,
                round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                      CAST(b.embedding AS DOUBLE[])), 6) AS cosine
         FROM ec a JOIN ec b
           ON a.cid = b.cid AND a.vec_id < b.vec_id
         WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                     CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
         ORDER BY v1, v2"""
    }),
    // same content-defined anchors (base-31 polynomial of the 4-gram
    // at each position, mod 17 = 0 — coprime modulus, see
    // Dedup.substringSpans; first term widened to BIGINT so astral
    // code points can't overflow INT32) and the same 64-char window
    // hash
    Query("dedup_substring", (s, d) => substringSpans(s, d),
      """WITH docs AS (SELECT doc_id, text, length(text) AS len,
                       [ascii(x) FOR x IN string_split(text, '')] AS codes
                       FROM documents WHERE length(text) >= 64),
         a AS (SELECT doc_id, CAST(p AS INT) AS p, text
               FROM docs, unnest(range(1, len - 64 + 2)) AS t(p)
               WHERE (CAST(codes[CAST(p AS INT)] AS BIGINT) * 29791
                    + codes[CAST(p AS INT) + 1] * 961
                    + codes[CAST(p AS INT) + 2] * 31
                    + codes[CAST(p AS INT) + 3]) % 17 = 0),
         w AS (SELECT doc_id, md5(substring(text, p, 64)) AS h FROM a)
         SELECT h, count(DISTINCT doc_id) AS n_docs, min(doc_id) AS keep_id
         FROM w GROUP BY h HAVING count(DISTINCT doc_id) > 1
         ORDER BY h"""),
    // same postings-hash pair derivation as dedup_ngram_jaccard; only
    // the scoring differs (both per-side containments, max-gated)
    Query("dedup_containment", (s, d) => containment(s, d),
      s"""WITH ${interPairsCtes}
         SELECT d1, d2, inter,
                round(inter * 1.0 / s1.n, 6) AS cont_d1_in_d2,
                round(inter * 1.0 / s2.n, 6) AS cont_d2_in_d1
         FROM pairs
         JOIN sizes s1 ON s1.doc_id = d1
         JOIN sizes s2 ON s2.doc_id = d2
         WHERE greatest(round(inter * 1.0 / s1.n, 6),
                        round(inter * 1.0 / s2.n, 6)) >= 0.6
         ORDER BY d1, d2"""),
    // Recursive-CTE transitive closure over the same pair set the
    // Spark side derives (tiny clusters → closure stays small).
    Query("dedup_components", (s, d) => ngramComponents(s, d), dedupComponentsSql),
    Query("dedup_keep_best", (s, d) => keepBest(s, d), dedupKeepBestSql),
    // SAME oracle text as dedup_components: the resume query's
    // warm-started propagation must land on the identical fixed point
    // — the hash match IS the resume-correctness proof
    Query("dedup_components_resume", (s, d) => ngramComponentsResumed(s, d), dedupComponentsSql),
    // EXACT all-pairs ground truth at τ=0.5 — the Spark side only
    // ever sees prefix-filtered candidates (rarest-first global
    // order, first |s|−⌈τ|s|⌉+1 shingles), so the hash match IS the
    // prefix-bound completeness proof
    Query("dedup_prefix_filter", (s, d) => prefixJaccard(s, d),
      s"""WITH ${interPairsCtes}
         SELECT d1, d2, inter,
                round(inter * 1.0 / (s1.n + s2.n - inter), 6) AS jaccard
         FROM pairs
         JOIN sizes s1 ON s1.doc_id = d1
         JOIN sizes s2 ON s2.doc_id = d2
         WHERE round(inter * 1.0 / (s1.n + s2.n - inter), 6) >= 0.5
         ORDER BY d1, d2"""),
  )

  /** The dedup_ngram_jaccard oracle statement — shared verbatim by
    * the pair query and the cross-source attribution built on it. */
  private val NgramJaccardPairsSql: String =
    s"""WITH ${interPairsCtes}
         SELECT d1, d2, inter,
                round(inter * 1.0 / (s1.n + s2.n - inter), 6) AS jaccard
         FROM pairs
         JOIN sizes s1 ON s1.doc_id = d1
         JOIN sizes s2 ON s2.doc_id = d2
         WHERE inter * 1.0 / (s1.n + s2.n - inter) >= 0.1
         ORDER BY d1, d2"""

  /** dedup_minhash_lsh oracle, generated from the same affine salt
    * parameters as [[graft.functions.MinHashAgg]]. */
  private lazy val minhashLshSql: String =
    s"""WITH ${grams3Cte},
         ${minhashSigCte(32)},
         bk AS (SELECT doc_id, unnest(${bandKeysSql(8, 4)}) AS bk FROM sig),
         cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                  FROM bk a JOIN bk b
                    ON a.bk = b.bk AND a.doc_id < b.doc_id),
         sizes AS (SELECT doc_id, len(gs) AS n FROM g),
         inter AS (SELECT c.d1, c.d2, count(*) AS inter
                   FROM cand c
                   JOIN posts p1 ON p1.doc_id = c.d1
                   JOIN posts p2 ON p2.doc_id = c.d2 AND p2.gram = p1.gram
                   GROUP BY c.d1, c.d2)
         SELECT i.d1, i.d2,
                round(i.inter * 1.0 / (s1.n + s2.n - i.inter), 6) AS jaccard
         FROM inter i
         JOIN sizes s1 ON s1.doc_id = i.d1
         JOIN sizes s2 ON s2.doc_id = i.d2
         WHERE round(i.inter * 1.0 / (s1.n + s2.n - i.inter), 6) >= 0.5
         ORDER BY d1, d2"""

  /** dedup_incremental oracle: same generated signature/band-key
    * machinery as [[minhashLshSql]], with the asymmetric
    * fresh-probes-existing candidate join and a per-fresh-doc
    * best-match verdict. */
  private lazy val dedupIncrementalSql: String =
    s"""WITH ${grams3Cte},
         ${minhashSigCte(32)},
         bk AS (SELECT doc_id, unnest(${bandKeysSql(8, 4)}) AS bk FROM sig),
         cand AS (SELECT DISTINCT f.doc_id AS dn, e.doc_id AS de
                  FROM bk f JOIN bk e ON f.bk = e.bk
                  WHERE f.doc_id % 10 = 0 AND e.doc_id % 10 <> 0),
         sizes AS (SELECT doc_id, len(gs) AS n FROM g),
         inter AS (SELECT c.dn, c.de, count(*) AS inter
                   FROM cand c
                   JOIN posts p1 ON p1.doc_id = c.dn
                   JOIN posts p2 ON p2.doc_id = c.de AND p2.gram = p1.gram
                   GROUP BY c.dn, c.de),
         scored AS (SELECT i.dn, i.de,
                           round(i.inter * 1.0 / (s1.n + s2.n - i.inter), 6) AS j
                    FROM inter i
                    JOIN sizes s1 ON s1.doc_id = i.dn
                    JOIN sizes s2 ON s2.doc_id = i.de
                    WHERE round(i.inter * 1.0 / (s1.n + s2.n - i.inter), 6) >= 0.5),
         best AS (SELECT dn, de, j,
                         row_number() OVER (PARTITION BY dn
                           ORDER BY j DESC, de ASC) AS rn
                  FROM scored)
         SELECT d.doc_id,
                b.de IS NOT NULL AS is_dup,
                coalesce(b.de, -1) AS best_match,
                coalesce(b.j, 0.0) AS best_jaccard
         FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
         LEFT JOIN (SELECT dn, de, j FROM best WHERE rn = 1) b
           ON b.dn = d.doc_id
         ORDER BY d.doc_id"""

  /** dedup_simhash oracle: the portable 60-bit base hash makes the
    * signature pure SQL (votes per bit position, sign-packed). */
  private val simhashSql: String =
    s"""WITH ${grams3Cte},
         ${simhashCte},
         chunks AS (SELECT doc_id, sim,
                           CAST(c AS VARCHAR) || '#' ||
                             CAST(((sim >> (16 * c)) & 65535) AS VARCHAR) AS ck
                    FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS c)),
         pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
                          bit_count(xor(a.sim, b.sim)) AS hamming
                   FROM chunks a JOIN chunks b
                     ON a.ck = b.ck AND a.doc_id < b.doc_id)
         SELECT d1, d2, hamming FROM pairs
         WHERE hamming <= 3 ORDER BY d1, d2"""

  /** dedup_sweep_hamming oracle: the simhash sig chain, candidates
    * once at the loosest (5×12-bit pigeonhole) threshold, one
    * conditional arm per tolerance. */
  private lazy val sweepHammingSql: String =
    s"""WITH ${grams3Cte},
         ${simhashCte},
         chunks AS (SELECT doc_id, sim,
                           CAST(c AS VARCHAR) || '#' ||
                             CAST(((sim >> (12 * c)) & 4095) AS VARCHAR) AS ck
                    FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4]) AS c)),
         pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
                          bit_count(xor(a.sim, b.sim)) AS hamming
                   FROM chunks a JOIN chunks b
                     ON a.ck = b.ck AND a.doc_id < b.doc_id),
         bank AS (SELECT unnest([1, 2, 3, 4]) AS max_hamming)
       SELECT CAST(bank.max_hamming AS BIGINT) AS max_hamming,
              CAST(count(p.d1) AS BIGINT) AS n_pairs
       FROM bank LEFT JOIN pairs p ON p.hamming <= bank.max_hamming
       GROUP BY bank.max_hamming ORDER BY max_hamming"""

  /** The n-gram-LSH near-dup graph + transitive closure as a CTE
    * prefix ending at `comp` = (doc_id, component) — shared by the
    * components oracle and the keep-best oracle so the clustering
    * trajectory has one SQL statement of truth. */
  private lazy val dedupComponentsCtes: String =
    s"""WITH RECURSIVE ${interPairsCtes},
         near AS (
           SELECT d1, d2 FROM pairs
           JOIN sizes s1 ON s1.doc_id = d1
           JOIN sizes s2 ON s2.doc_id = d2
           WHERE round(inter * 1.0 / (s1.n + s2.n - inter), 6) >= 0.1),
         edges AS (SELECT d1 AS a, d2 AS b FROM near
                   UNION SELECT d2, d1 FROM near),
         reach(a, b) AS (
           SELECT a, b FROM edges
           UNION
           SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         comp AS (
           SELECT a AS doc_id, least(a, min(b)) AS component
           FROM reach GROUP BY a)"""

  /** dedup_components oracle: recursive-CTE transitive closure over
    * the same near-dup pair set the Spark side derives (tiny clusters
    * → closure stays small). Shared VERBATIM with
    * `dedup_components_resume`: the warm-started loop must land on
    * the identical fixed point, so one oracle text gates both. */
  private lazy val dedupComponentsSql: String =
    dedupComponentsCtes +
      "\n         SELECT doc_id, component FROM comp ORDER BY doc_id"

  /** Keep-best oracle: the same closure, then byte-length argmax per
    * cluster (strlen = UTF-8 BYTES in DuckDB ≡ Spark octet_length —
    * the codepoint/code-unit divergence the unicode gate exists to
    * catch is avoided by construction). */
  private lazy val dedupKeepBestSql: String =
    dedupComponentsCtes + """,
         base AS (SELECT doc_id, CAST(strlen(text) AS BIGINT) AS blen
                  FROM documents),
         lab AS (SELECT b.doc_id,
                        coalesce(c.component, b.doc_id) AS component,
                        b.blen
                 FROM base b LEFT JOIN comp c ON c.doc_id = b.doc_id),
         cs AS (SELECT component, CAST(count(*) AS BIGINT) AS csize
                FROM lab GROUP BY 1),
         keep AS (SELECT component, doc_id, blen FROM lab
                  QUALIFY row_number() OVER (PARTITION BY component
                    ORDER BY blen DESC, doc_id) = 1)
         SELECT k.component, k.doc_id, k.blen, cs.csize
         FROM keep k JOIN cs USING (component) ORDER BY component"""

  /** [[exact]] in plain SQL. */
  private val DedupExactSparkSql =
    """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_dups
       FROM documents GROUP BY md5(text)"""

  /** [[minhashLsh]] in plain SQL: the one-loop
    * signature kernel via the registered `minhash_sig`, the same
    * literal band layout (k=32, 8 bands × 4 rows, "band#v_v_v_v"
    * keys), bucket self-join, exact-Jaccard verify at τ=0.5. The
    * bucket join is the only corpus-scale shuffle, same as the
    * DataFrame plan. */
  private lazy val MinhashLshSparkSql: String = {
    val bandKeys = (0 until 8).map { b =>
      val parts = (b * 4 until (b + 1) * 4)
        .map(i => s"CAST(element_at(sig, ${i + 1}) AS STRING)")
        .mkString(", ")
      s"concat('$b#', concat_ws('_', $parts))"
    }.mkString(",\n                       ")
    s"""WITH g AS (SELECT doc_id,
                          ngram_shingles(split(trim(text), '\\\\s+'), 3)
                            AS grams
                   FROM documents),
         s AS (SELECT doc_id, minhash_sig(grams, 32) AS sig
               FROM g WHERE size(grams) > 0),
         bk AS (SELECT doc_id,
                       explode(array($bandKeys)) AS bk
                FROM s),
         cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                  FROM bk a JOIN bk b
                    ON a.bk = b.bk AND a.doc_id < b.doc_id),
         scored AS (SELECT c.d1, c.d2,
                           round(CAST(size(array_intersect(g1.grams, g2.grams)) AS DOUBLE)
                                 / CAST(size(array_union(g1.grams, g2.grams)) AS DOUBLE),
                                 6) AS jaccard
                    FROM cand c
                    JOIN g g1 ON c.d1 = g1.doc_id
                    JOIN g g2 ON c.d2 = g2.doc_id)
       SELECT d1, d2, jaccard FROM scored WHERE jaccard >= 0.5"""
  }

  /** [[simhash]] in plain SQL: the registered
    * one-loop `simhash_sig` kernel, the same 4×16-bit chunk buckets
    * (pigeonhole: any pair within Hamming 3 shares a chunk), and a
    * codegen'd `bit_count(xor)` verify. */
  private val SimhashSparkSql =
    """WITH g AS (SELECT doc_id,
                         ngram_shingles(split(trim(text), '\\s+'), 3) AS grams
                  FROM documents),
         s AS (SELECT doc_id, simhash_sig(grams) AS sim
               FROM g WHERE size(grams) > 0),
         ck AS (SELECT doc_id, sim,
                       explode(array(
                         concat('0#', CAST(shiftright(sim, 0) & 65535 AS STRING)),
                         concat('1#', CAST(shiftright(sim, 16) & 65535 AS STRING)),
                         concat('2#', CAST(shiftright(sim, 32) & 65535 AS STRING)),
                         concat('3#', CAST(shiftright(sim, 48) & 65535 AS STRING)))) AS ck
                FROM s),
         cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
                         bit_count(a.sim ^ b.sim) AS hamming
                  FROM ck a JOIN ck b
                    ON a.ck = b.ck AND a.doc_id < b.doc_id)
       SELECT d1, d2, hamming FROM cand WHERE hamming <= 3"""
}
