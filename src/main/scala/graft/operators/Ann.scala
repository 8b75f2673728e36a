package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Query, Tables, WorkingSet}
import graft.functions.{PortableHash, TopKScoreAgg, Vectors}

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (SURVEY.md §2 E). Query set = `vec_id < 10` (broadcast side).
  *
  * Scale shape: brute force is the correctness baseline — a broadcast
  * of the (small) query set against a full scan, no shuffle at all on
  * the corpus side except the per-qid top-k aggregate. The LSH and IVF
  * variants prune the scan to matching buckets/cells: at 100 TB the
  * corpus side is bucketed-by-cell on disk, so a probe touches only
  * its cells' files; here the cell assignment happens inline (same
  * plan shape, no pre-materialized index).
  *
  * Per-query top-k is a bounded-buffer [[graft.functions.TopKScoreAgg]]
  * — map-side partials shrink every partition to ≤ k rows per query
  * before the one shuffle on qid. The previous `row_number() OVER
  * (PARTITION BY qid)` formulation moved the *entire* scored corpus
  * through 10 reducer tasks: fine at sf0.1, a straggler at 100×, an
  * OOM at 100 TB.
  */
object Ann {

  private val NumQueries = 10
  // public: oracle generators (annSweepKSqlOver below) interpolate
  // the SAME constant, so a TopK edit moves both sides together
  // instead of silently diverging from a hard-coded literal bank
  val TopK = 5

  // Derived-corpus memo (the Graph/Dedup discipline): pq, pq_trained
  // and ivf_pq each consume a quantized/residual corpus frame; ad-hoc
  // caches here were never unpersisted, so a full-suite Verify run
  // accumulated three redundant cached corpora in executor memory.
  // LRU-bounded getOrBuild shares the frame across the family AND
  // releases evicted blocks.
  private val shared = new graft.core.PlanCache(6)

  private def emb(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).embeddings.select(col("vec_id"), col("embedding"))

  private def queriesDf(spark: SparkSession, dir: String): DataFrame =
    emb(spark, dir).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))

  /** Top-k rows per query by (cosine desc, vec_id asc) — bounded-heap
    * aggregate, then posexplode back to (qid, rank, vec_id, cosine).
    * Duplicate candidates (same vector via several buckets) are
    * dropped inside the aggregate, so callers need no `distinct()`. */
  private def topkPerQuery(scored: DataFrame, k: Int = TopK): DataFrame =
    scored.groupBy(col("qid"))
      .agg(TopKScoreAgg.topk(col("cosine"), col("vec_id"), k).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("vec_id"), col("col.score").as("cosine"))
      .orderBy("qid", "rank")

  /** Exact top-k cosine neighbors: broadcast queries × corpus scan.
    * (Self-match ranks first at cosine 1.0 — kept, it's the standard
    * sanity row.) Ranking uses the 6dp-rounded cosine + vec_id so the
    * order is reproducible on both sides of the oracle. */
  def bruteforce(spark: SparkSession, dir: String): DataFrame = {
    val scored = emb(spark, dir)
      .crossJoin(broadcast(queriesDf(spark, dir)))
      .select(col("qid"), col("vec_id"),
        round(Vectors.cosineSim(col("embedding"), col("qe")), 6).as("cosine"))
    topkPerQuery(scored)
  }

  /** FILTERED exact top-k — metadata-constrained vector search, the
    * shape production retrieval actually runs ("nearest neighbors
    * WHERE tenant/language/shard = X"): each query ranks only corpus
    * vectors sharing its `label`. The filter applies BEFORE scoring
    * (predicate on the scan — at 100 TB with label-partitioned or
    * label-bucketed layout this prunes files, not rows), so filtered
    * search is CHEAPER than unfiltered, never a post-filter that
    * starves top-k below k. The IVF-scale path is the same
    * composition — filter inside the probed cells before rerank —
    * which this exact surface is the correctness gate for. */
  def filtered(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
      .select(col("vec_id"), col("embedding"), col("label"))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("label").as("qlabel"))
    val scored = e.crossJoin(broadcast(q))
      .filter(col("label") === col("qlabel"))
      .select(col("qid"), col("vec_id"),
        round(Vectors.cosineSim(col("embedding"), col("qe")), 6).as("cosine"))
    topkPerQuery(scored)
  }

  /** FILTERED IVF — the [[filtered]] semantics on the [[ivf]] scale
    * path: candidates come from the probed nearest cells, the label
    * predicate applies INSIDE the cells before the rerank (at 100 TB
    * the cell files are additionally label-bucketed, so the filter
    * prunes file lists — never a post-rank filter that silently
    * starves a rare label below k; a query whose label is absent
    * from its probed cells honestly returns fewer rows, same as the
    * oracle). Bucket rule + filter ARE the semantics, hash-matched
    * cell-for-cell like ann_ivf. */
  def filteredIvf(spark: SparkSession, dir: String,
      nprobe: Int = NProbe): DataFrame = {
    val bc = bcast(spark, codebook(spark, dir))
    val e = Tables(spark, dir).embeddings
      .select(col("vec_id"), col("embedding"), col("label"))
    val cells = e.withColumn("cell", cellOf(col("embedding"), bc))
    val probes = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("label").as("qlabel"),
        explode(nearestCells(col("embedding"), bc, nprobe)).as("cell"))
    val scored = cells.join(broadcast(probes), Seq("cell"))
      .filter(col("label") === col("qlabel"))
      .select(col("qid"), col("vec_id"),
        round(Vectors.cosineSim(col("embedding"), col("qe")), 6).as("cosine"))
    topkPerQuery(scored)
  }

  /** Exact top-k MAXIMUM INNER PRODUCT search — the retrieval scoring
    * recommendation and reward models actually use (unnormalized
    * embeddings encode magnitude = confidence/popularity; cosine
    * deliberately erases it). Same broadcast×scan plan and
    * bounded-heap ranking as [[bruteforce]]; only the kernel differs
    * (the [[Vectors.dotHof]] zip_with/aggregate fold — codegen'd
    * builtins, summed in index order exactly like the oracle's
    * list_dot_product over the same DOUBLE-cast floats). This is also
    * the correctness baseline a FAISS-style MIPS-to-cosine reduction
    * (append √(M²−‖x‖²) as an extra dimension, then reuse the cosine
    * index family) would be gated against. */
  def mips(spark: SparkSession, dir: String): DataFrame = {
    val scored = emb(spark, dir)
      .crossJoin(broadcast(queriesDf(spark, dir)))
      .select(col("qid"), col("vec_id"),
        round(Vectors.dotHof(col("embedding"), col("qe")), 6).as("dot"))
    scored.groupBy(col("qid"))
      .agg(TopKScoreAgg.topk(col("dot"), col("vec_id"), TopK).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("vec_id"), col("col.score").as("dot"))
      .orderBy("qid", "rank")
  }

  /** Range similarity search: ALL corpus vectors within cosine ≥ τ of
    * each query (the "give me everything similar enough" contract —
    * top-k's complement; self-matches excluded). Same broadcast-
    * queries × corpus-scan shape as [[bruteforce]], but the threshold
    * is a plain filter INSIDE the scan stage — no per-query aggregate
    * at all, so the output is the only thing that scales with τ. At
    * 100 TB the corpus side prunes through the same LSH/IVF bucketing
    * as the top-k paths (a τ-range probe visits its buckets, not the
    * corpus); the exact scan here is the correctness baseline. */
  def rangeSearch(spark: SparkSession, dir: String,
      tau: Double = 0.15): DataFrame =
    emb(spark, dir)
      .crossJoin(broadcast(queriesDf(spark, dir)))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(Vectors.cosineSim(col("embedding"), col("qe")), 6).as("cosine"))
      .filter(col("cosine") >= tau)
      // range output scales with corpus hits — within-partition
      // presentation order only (top-k variants keep their global
      // sort: bounded k×|queries| rows feeding an ordered contract)
      .sortWithinPartitions("qid", "vec_id")

  // --- random-hyperplane LSH --------------------------------------

  private val Dim = 64
  private val NBits = 8  // bits per table
  private val NTables = 4

  /** Deterministic Gaussian-ish hyperplanes (fixed-seed PRNG — same
    * planes on every run and every executor; shipped as literals).
    * Package-visible so the DuckDB oracle SQL is generated from the
    * identical constants. */
  private[graft] lazy val planes: Array[Array[Float]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(NTables * NBits, Dim)(rnd.nextGaussian().toFloat)
  }

  /** Per-table probe masks: the bucket itself, all Hamming-1 flips,
    * and all Hamming-2 flips (sign-boundary flips dominate misses; the
    * Hamming-2 ring roughly doubles recall on near-uniform vectors).
    * Only the tiny broadcast query side fans out — corpus vectors
    * still land in exactly one bucket per table. */
  private[graft] lazy val probeMasks: Seq[Int] =
    0 +: (0 until NBits).map(1 << _) ++:
      (for { i <- 0 until NBits; j <- i + 1 until NBits } yield (1 << i) | (1 << j))

  /** sign(v·w) via the codegen'd cosine expression (norms are
    * positive, so the cosine's sign IS the dot's sign) — one fused
    * loop per plane instead of an interpreted zip_with/aggregate
    * lambda chain. */
  private def signBit(v: Column, w: Array[Float], bit: Int): Column =
    when(Vectors.cosineSim(v, typedlit(w)) > 0, lit(1 << bit)).otherwise(lit(0))

  private def tableBucket(v: Column, t: Int): Column =
    (0 until NBits).map(b => signBit(v, planes(t * NBits + b), b)).reduce(_ + _)

  /** Per-table bucket ints as named columns — one projection that
    * evaluates each table's 8 sign-bit cosines exactly once. Key
    * construction then references `b0..b3` as attributes; building
    * the 148-element probe-key array directly over [[tableBucket]]
    * expressions would inline the 8-cosine subtree into every key
    * (~1200 expression nodes) and the plan spends more time in
    * optimize/codegen than in execution. */
  private def withBuckets(df: DataFrame, v: String): DataFrame =
    df.select(col("*") +:
      (0 until NTables).map(t => tableBucket(col(v), t).as(s"b$t")): _*)

  /** Multi-table random-hyperplane LSH top-k: 4 independent 8-bit
    * tables; a corpus vector lands in one bucket per table, a query
    * probes its bucket + Hamming-≤2 neighbors in every table, and only
    * the union of candidates is scored. One shuffle on the bucket
    * key. Approximate — recall vs [[bruteforce]] asserted in AnnSpec
    * (the synthetic embeddings are near-uniform, the hardest case for
    * hyperplane LSH; clustered real embeddings fare far better). */
  def lsh(spark: SparkSession, dir: String): DataFrame = {
    val corpus = withBuckets(emb(spark, dir), "embedding")
      .select(col("vec_id"), col("embedding"),
        explode(array((0 until NTables).map(t =>
          concat(lit(s"$t#"), col(s"b$t").cast("string"))): _*)).as("bucket"))
    val probeKeyCols = for {
      t <- 0 until NTables
      m <- probeMasks
    } yield concat(lit(s"$t#"), col(s"b$t").bitwiseXOR(lit(m)).cast("string"))
    val probes = withBuckets(queriesDf(spark, dir), "qe")
      .select(col("qid"), col("qe"),
        explode(array(probeKeyCols: _*)).as("bucket"))
    val scored = corpus.join(broadcast(probes), Seq("bucket"))
      .select(col("qid"), col("vec_id"),
        round(Vectors.cosineSim(col("embedding"), col("qe")), 6).as("cosine"))
    topkPerQuery(scored)
  }

  /** LSH-bucketed KNN self-join: every corpus vector's top-k
    * neighbors among its bucket-mates — the all-corpus
    * neighbor-table build (embedding near-dup candidates, hard-negative
    * mining) WITHOUT the N² cross join: candidates only from the 4
    * per-table bucket equi-joins, ranked by the bounded top-k
    * aggregate. Deterministic given the planes, so fully
    * oracle-checked (unlike the query-set ops, no recall argument is
    * needed — the bucket rule IS the semantics). */
  def knnJoin(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val keyed = shared.getOrBuild(spark, s"$dir#lshkeyed") {
      withBuckets(emb(spark, dir), "embedding")
        .select(col("vec_id"), col("embedding"),
          explode(array((0 until NTables).map(t =>
            concat(lit(s"$t#"), col(s"b$t").cast("string"))): _*)).as("bucket")) }
    val scored = keyed.as("a")
      .join(keyed.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("qid"), col("b.vec_id").as("vec_id"),
        round(Vectors.cosineSim(col("a.embedding"), col("b.embedding")), 6)
          .as("cosine"))
    topkPerQuery(scored, k)
  }

  // --- IVF-style coarse quantizer ---------------------------------

  /** Coarse-codebook size — a DECLARED CONSTANT, never a function of
    * corpus size: the codebook is ≤ IvfK rows at ANY scale (64 at
    * test SFs; a production deployment raises the same knob to ~2¹⁴
    * for 100 TB — still a bounded, corpus-independent collect). The
    * previous rule (`vec_id % 29`) sized the codebook ∝ N: a
    * multi-GB driver collect and O(N²) total assignment at 10⁹⁺
    * vectors. */
  private[graft] val IvfK = 64
  // 8 probes ≈ same wall cost as 4 (scoring is cheap next to the scan)
  // at a production codebook size (2¹⁴ cells for 100 TB) nprobe=8 is
  // the standard operating point; on the clusterless spec vectors it
  // reads 8/64 cells (recall floor asserted in AnnSpec — real
  // clustered embeddings fare far better than the uniform worst case)
  private[graft] val NProbe = 8

  /** The coarse codebook: the [[IvfK]] lowest-portable-hash corpus
    * vectors (the [[pqCodebooks]] seed rule — deterministic, oracle-
    * replayable, and an unbiased sample under the hash ordering),
    * collected to the driver. Bounded by construction: TakeOrdered
    * ships ≤ IvfK rows regardless of corpus size — at 100 TB with
    * IvfK = 2¹⁴ that is KBs–MBs, never ∝ N. Sorted by cent_id so the
    * generated plan is deterministic. */
  private def codebook(spark: SparkSession, dir: String,
      k: Int = IvfK): Array[(Long, Array[Float])] =
    emb(spark, dir)
      .select(col("vec_id"), col("embedding"),
        graft.functions.PortableHash.h60(col("vec_id").cast("string")).as("h"))
      .orderBy(col("h"), col("vec_id")).limit(k)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)

  /** The codebook as a [[org.apache.spark.broadcast.Broadcast]]
    * handle for the [[cellOf]]/[[nearestCells]] kernels — the plan
    * carries a reference, executors fetch the cells once via block
    * manager (see [[graft.functions.NearestCells]]). */
  private def bcast(spark: SparkSession, cb: Array[(Long, Array[Float])])
      : org.apache.spark.broadcast.Broadcast[Array[(Long, Array[Float])]] =
    spark.sparkContext.broadcast(cb)

  private def centroidEntries(v: Column,
      cb: Array[(Long, Array[Float])]): Seq[Column] =
    cb.toSeq.map { case (cid, ce) =>
      // negated id: struct max/sort is (csim asc, field2 asc), so the
      // max entry is (max csim, MIN cent_id) — the window's tie-break
      struct(Vectors.cosineSim(v, typedlit(ce)).as("csim"),
        lit(-cid).as("nc"))
    }

  private type CbBc =
    org.apache.spark.broadcast.Broadcast[Array[(Long, Array[Float])]]

  /** Nearest-centroid cell id, computed per row against the broadcast
    * codebook — no row inflation, no exchange: the original
    * `crossJoin(centroids)` + `row_number() OVER (PARTITION BY
    * vec_id)` shuffled the full N×C blowup just to keep 1 row per
    * vector. Now the fused [[graft.functions.NearestCells]] kernel
    * over the broadcast HANDLE (a broadcast-join argmax would either
    * re-shuffle the corpus through a groupBy or inflate N×C rows; the
    * map-only kernel does neither): the composed struct-array form it
    * replaced (identical results — AnnSpec pins them) is kept below
    * as the cross-check. */
  private def cellOf(v: Column, bc: CbBc): Column =
    element_at(Vectors.nearestCells(v, bc, 1), 1)

  /** The `n` nearest centroid cells (csim desc, cent_id asc), for
    * query-side probes. */
  private def nearestCells(v: Column, bc: CbBc, n: Int): Column =
    Vectors.nearestCells(v, bc, n)

  /** Composed (built-ins only) formulations of [[cellOf]] /
    * [[nearestCells]] — the "compose existing ops" baseline, kept as
    * AnnSpec's semantic cross-check of the fused kernel. */
  private[graft] def cellOfComposed(v: Column,
      cb: Array[(Long, Array[Float])]): Column =
    -array_max(array(centroidEntries(v, cb): _*)).getField("nc")

  private[graft] def nearestCellsComposed(v: Column,
      cb: Array[(Long, Array[Float])], n: Int): Column =
    transform(slice(sort_array(array(centroidEntries(v, cb): _*), asc = false),
      1, n), e => -e.getField("nc"))

  private[graft] def codebookOf(spark: SparkSession, dir: String): Array[(Long, Array[Float])] =
    codebook(spark, dir)

  /** SQL twin of [[codebook]] over a `(vec_id, emb)` relation — the
    * hash-ordered limit-[[IvfK]] rule as ONE shared fragment, so every
    * IVF-family oracle derives its codebook identically to the
    * operator (and a rule edit moves all of them together). */
  private[graft] def codebookCteSql(src: String): String =
    s"""SELECT vec_id AS cent_id, emb AS ce FROM $src
               QUALIFY row_number() OVER (ORDER BY
                 ${PortableHash.h60Sql("CAST(vec_id AS VARCHAR)")},
                 vec_id) <= $IvfK"""

  /** IVF top-k: the [[IvfK]] lowest-hash corpus vectors act as the
    * coarse codebook; each vector is assigned to its nearest centroid
    * cell by a per-row argmax over the broadcast codebook, queries
    * probe their [[NProbe]] nearest cells. At 100 TB the cell
    * assignment is a write-time bucketing ([[buildIvfIndex]]); the
    * plan shape (broadcast codebook, cell-key join) is identical.
    * Recall asserted in AnnSpec; oracle-checked (the codebook, argmax
    * and probe rules are pure SQL — see `ivfCtes`). */
  def ivf(spark: SparkSession, dir: String, nprobe: Int = NProbe,
      k: Int = IvfK): DataFrame = {
    val bc = bcast(spark, codebook(spark, dir, k))
    val cells = emb(spark, dir)
      .withColumn("cell", cellOf(col("embedding"), bc))
    val probes = queriesDf(spark, dir)
      .select(col("qid"), col("qe"),
        explode(nearestCells(col("qe"), bc, nprobe)).as("cell"))
    val scored = cells.join(broadcast(probes), Seq("cell"))
      .select(col("qid"), col("vec_id"),
        round(Vectors.cosineSim(col("embedding"), col("qe")), 6).as("cosine"))
    topkPerQuery(scored)
  }

  /** Quantized search: int8-quantize the corpus (4× storage density —
    * the write-time representation at 100 TB), score candidates on
    * the dequantized codes, keep a 10× candidate margin via the same
    * bounded top-k aggregate (map-side, so the corpus×query score set
    * never crosses an exchange), then rerank exactly on the original
    * floats. Quantization noise (~1e-2 on cosine) only has to keep
    * true neighbors inside the margin, not rank them — AnnSpec asserts
    * recall vs [[bruteforce]]. */
  def quantized(spark: SparkSession, dir: String): DataFrame = {
    val rerankMargin = TopK * 10
    val corpus = shared.getOrBuild(spark, s"$dir#int8corp") {
      emb(spark, dir)
        .withColumn("scale", Vectors.quantScale(col("embedding")))
        .withColumn("codes", Vectors.quantize(col("embedding"), col("scale")))
        // real deployments persist codes+scale and drop the floats;
        // keep the floats here for the exact rerank join below
    }
    val q = queriesDf(spark, dir)
    val candidates = corpus
      .crossJoin(broadcast(q))
      .select(col("qid"), col("vec_id"),
        Vectors.cosineSim(
          Vectors.dequantize(col("codes"), col("scale")), col("qe")).as("qcos"))
      .groupBy(col("qid"))
      .agg(TopKScoreAgg.topk(col("qcos"), col("vec_id"), rerankMargin).as("top"))
      .select(col("qid"), explode(col("top")).as("e"))
      .select(col("qid"), col("e.id").as("vec_id"))
    val exact = candidates
      .join(corpus.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("vec_id"),
        round(Vectors.cosineSim(col("embedding"), col("qe")), 6).as("cosine"))
    topkPerQuery(exact)
  }

  // --- product quantization ----------------------------------------

  private[graft] val PqM = 8       // subspaces
  private[graft] val PqK = 16      // centroids per subspace (4-bit codes)
  private[graft] val PqDsub = 8    // dims per subspace (corpus dim 64)
  private val PqMargin = TopK * 10 // exact-rerank candidate margin
  // assignment rounds for the TRAINED variant: round-0 hash seeds +
  // 2 truncating-integer Lloyd updates (diminishing returns past 2 on
  // the near-uniform corpus; the knob is explicit for clustered data)
  private[graft] val PqTrainRounds = 3

  /** Product-quantization ANN — the memory tier below int8: each
    * vector stores [[PqM]] 4-bit codes (+ one shared [[PqK]]×dim
    * codebook) instead of d floats or d int8s — 4 bytes/vector here
    * vs 256 for the floats, the compression that lets a 100 TB
    * corpus' index live in RAM. Search is ADC (asymmetric distance):
    * the query stays unquantized-by-codes and scores against each
    * vector's RECONSTRUCTION (the concatenation of its codebook
    * entries — query-time math over the broadcast codebook, never
    * stored), then the exact-cosine rerank over a [[PqMargin]]
    * candidate margin restores ranking quality, the same
    * coarse-score → exact-rerank discipline as [[quantized]].
    *
    * Every step is EXACT INTEGER (the [[Cluster]] fixed-point
    * discipline): vectors quantize to `floor(x·2²⁰)`, the codebook is
    * hash-seeded (the [[Cluster]] kmeans seed rule — the [[PqK]]
    * lowest-portable-hash vectors, sliced per subspace; a production
    * deployment would refine it with the Lloyd loop next door, which
    * changes the codebook, not the mechanics), encoding is the fused
    * [[NearestCentroidSq]] argmin kernel per subspace (first-minimum
    * tie-break ≡ the oracle's ORDER BY dist, cid), and ADC distances
    * are integer sums — so the whole approximate pipeline
    * hash-matches a generated pure-SQL oracle by construction, not by
    * recall luck. Scale shape: codebook collect is PqK×dim driver
    * bytes (the bounded round-trip the IVF codebook already takes);
    * encode is map-only; candidate generation is the broadcast-query
    * scan with the bounded-heap top-k — no window, no corpus shuffle. */
  def pq(spark: SparkSession, dir: String): DataFrame =
    pqSearch(spark, dir, rounds = 1)

  /** [[pq]] with a Lloyd-REFINED codebook — the production codebook
    * the untrained variant's doc promises: [[PqTrainRounds]]−1
    * truncating-integer k-means updates per subspace before encoding,
    * all [[PqM]] subspaces trained in ONE grouped pass per round (the
    * per-(cell, dim) sums collapse map-side to ≤ PqK·dim rows — the
    * [[Cluster.kmeansLoop]] shuffle shape, shared across subspaces
    * instead of paid per subspace). The trajectory is exact-integer,
    * so the trained pipeline hash-matches its generated oracle (the
    * same unrolled-CTE rounds) exactly like the untrained one — and
    * `rounds = 1` IS the untrained query, bit-for-bit (AnnSpec pins
    * it), so the two surfaces cannot drift. */
  def pqTrained(spark: SparkSession, dir: String,
      rounds: Int = PqTrainRounds): DataFrame =
    pqSearch(spark, dir, rounds)

  /** Per-subspace 4-bit code columns `c0..c{M−1}` against an explicit
    * codebook — the encode step, shared by search and training. */
  private def pqEncode(qcorp: DataFrame,
      subCents: Array[Array[Array[Long]]]): DataFrame = {
    var coded = qcorp
    for (s <- 0 until PqM)
      coded = coded.withColumn(s"c$s",
        Cluster.assignCol(slice(col("q"), s * PqDsub + 1, PqDsub), subCents(s))
          .getField("cid"))
    coded
  }

  /** Subspace codebooks: hash-seeded round 0, then `rounds − 1`
    * truncating-integer Lloyd updates. One update = one encode pass +
    * one (cell, dim) grouped sum over ALL subspaces together (the
    * global dim index carries the subspace, so the k·dim update rows
    * come back from a single map-side-combined aggregate; ≤ PqK·dim
    * driver rows per round — the bounded codebook round-trip). Empty
    * cells keep their centroid, division truncates toward zero —
    * byte-for-byte the [[Cluster.kmeansLoop]] discipline, so the
    * generated oracle replays the identical trajectory. */
  private[graft] def pqCodebooks(qcorp: DataFrame,
      rounds: Int): Array[Array[Array[Long]]] = {
    val seedRows = qcorp
      .select(col("vec_id"), col("q"),
        graft.functions.PortableHash.h60(col("vec_id").cast("string")).as("h"))
      .orderBy(col("h"), col("vec_id")).limit(PqK)
      .select(col("q")).collect().map(_.getSeq[Long](0).toArray)
    val dim = seedRows.head.length
    require(dim == PqM * PqDsub,
      s"PQ codebook layout expects dim ${PqM * PqDsub}, got $dim")
    var subCents: Array[Array[Array[Long]]] = Array.tabulate(PqM)(s =>
      seedRows.map(v => v.slice(s * PqDsub, (s + 1) * PqDsub)))
    for (_ <- 1 until rounds) {
      val sums = pqEncode(qcorp, subCents)
        .select(array((0 until PqM).map(s => col(s"c$s")): _*).as("cids"),
          posexplode(col("q")).as(Seq("d", "v")))
        .select(
          element_at(col("cids"), (col("d") / PqDsub).cast("int") + 1).as("cid"),
          col("d"), col("v"))
        .groupBy(col("cid"), col("d"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = subCents.map(_.map(_.clone())) // empty cell keeps its centroid
      sums.foreach { row =>
        val d = row.getInt(1)
        next(d / PqDsub)(row.getInt(0))(d % PqDsub) =
          row.getLong(2) / row.getLong(3) // truncating ≡ DuckDB //
      }
      subCents = next
    }
    subCents
  }

  private def pqSearch(spark: SparkSession, dir: String,
      rounds: Int): DataFrame = {
    val qcorp = shared.getOrBuild(spark, s"$dir#qcorp") {
      Cluster.quantized(emb(spark, dir)) }
    val subCents = pqCodebooks(qcorp, rounds)
    val coded = pqEncode(qcorp, subCents)
    // ADC via per-query distance TABLES (the classic PQ serving
    // layout): the reconstruction distance decomposes exactly per
    // subspace — Σ_d (q_d − recon_d)² = Σ_s Σ_{d∈s} (q_d − cb_s[c][d])²
    // — so precompute, per (query, subspace, centroid), the partial
    // integer distance: NumQueries × PqM × PqK longs, a bounded
    // driver round-trip of the codebook-collect class. The
    // per-(query, vector) score then collapses from a dim-wide
    // interpreted zip_with/aggregate lambda over the materialized
    // reconstruction into PqM codegen'd element_at lookups (guide §4:
    // prefer codegen expressions over per-row lambda evaluation in
    // the hot path — measured 83-147 CPU-seconds per bench rep before
    // this change at sf0.1). Long addition is associative and the
    // partials are the same products in the same precision, so pqdist
    // is bit-identical and the generated oracle is untouched.
    val qRows = Cluster.quantized(queriesDf(spark, dir)
        .select(col("qid").as("vec_id"), col("qe").as("embedding")))
      .select(col("vec_id"), col("q")).collect()
    val qTabs: Seq[(Long, Seq[Seq[Long]])] = qRows.toSeq.map { r =>
      val qv = r.getSeq[Long](1).toArray
      val tabs: Seq[Seq[Long]] = (0 until PqM).map { s =>
        subCents(s).toSeq.map { c =>
          var acc = 0L
          var j = 0
          while (j < PqDsub) {
            val d = qv(s * PqDsub + j) - c(j); acc += d * d; j += 1
          }
          acc
        }
      }
      (r.getLong(0), tabs)
    }
    import spark.implicits._
    val qtab = qTabs.toDF("qid", "tabs")
    val pqdist = (0 until PqM).map(s =>
        element_at(element_at(col("tabs"), s + 1), col(s"c$s") + 1))
      .reduce(_ + _)
    val cand = coded
      .select(col("vec_id") +: (0 until PqM).map(s => col(s"c$s")): _*)
      .crossJoin(broadcast(qtab))
      .select(col("qid"), col("vec_id"), pqdist.as("pqdist"))
      .groupBy(col("qid"))
      .agg(TopKScoreAgg.topk(-col("pqdist").cast("double"), col("vec_id"),
        PqMargin).as("top"))
      .select(col("qid"), explode(col("top")).as("e"))
      .select(col("qid"), col("e.id").as("vec_id"))
    val exact = cand
      .join(emb(spark, dir), Seq("vec_id"))
      .join(broadcast(queriesDf(spark, dir)), Seq("qid"))
      .select(col("qid"), col("vec_id"),
        round(Vectors.cosineSim(col("embedding"), col("qe")), 6).as("cosine"))
    topkPerQuery(exact)
  }

  /** Generated DuckDB oracle for [[pq]]: the identical quantization,
    * seed rule, per-subspace argmin codes, reconstruction, integer
    * ADC, double-cast candidate cut, and exact-cosine rerank. */
  def pqOracleSql: String = pqOracleSqlWith(rounds = 1)

  /** Oracle for [[pqTrained]] — the SAME generator, so the trained
    * and untrained oracles cannot drift. */
  def pqTrainedOracleSql: String = pqOracleSqlWith(PqTrainRounds)

  /** The codebook-trajectory CTEs: cb0 = hash-seed slices, then per
    * round an assignment (per-(vec, subspace) argmin, first-minimum
    * tie-break ≡ ORDER BY dist, cid) and a truncating-mean update
    * with empty cells keeping their centroid (coalesce) — the
    * [[Cluster.kmeansAssignCtes]] shape with the global dim index
    * carrying the subspace. */
  private def pqOracleSqlWith(rounds: Int): String = {
    val updates = (1 until rounds).map { r =>
      s"""sd$r AS (SELECT x.vec_id, x.d // $PqDsub AS s, cb.cid,
                     CAST(sum((x.v - cb.v) * (x.v - cb.v)) AS BIGINT) AS dist
              FROM x JOIN cb${r - 1} cb ON x.d = cb.d GROUP BY 1, 2, 3),
       codes$r AS (SELECT vec_id, s, cid FROM sd$r
              QUALIFY row_number() OVER (PARTITION BY vec_id, s
                                         ORDER BY dist, cid) = 1),
       u$r AS (SELECT c.cid, x.d,
                     CAST(sum(x.v) // count(*) AS BIGINT) AS v
              FROM codes$r c JOIN x ON c.vec_id = x.vec_id
               AND x.d // $PqDsub = c.s GROUP BY 1, 2),
       cb$r AS (SELECT p.cid, p.d, coalesce(u.v, p.v) AS v
              FROM cb${r - 1} p LEFT JOIN u$r u
                ON p.cid = u.cid AND p.d = u.d),
       """
    }.mkString
    val fin = rounds - 1 // the codebook the final codes refer to
    s"""WITH e AS (SELECT vec_id,
               list_transform(CAST(embedding AS DOUBLE[]),
                 x -> CASE WHEN isnan(x) OR abs(x) >= 128
                      THEN CAST(error('pq: non-finite or out-of-range embedding component') AS BIGINT)
                      ELSE CAST(floor(x * ${Cluster.Scale}) AS BIGINT) END) AS q
             FROM embeddings),
       x AS (SELECT vec_id, unnest(q) AS v,
                    unnest(range(len(q))) AS d FROM e),
       seeds AS (SELECT vec_id, row_number() OVER (ORDER BY
                   ${PortableHash.h60Sql("CAST(vec_id AS VARCHAR)")},
                   vec_id) - 1 AS cid
                 FROM e QUALIFY cid < $PqK),
       cb0 AS (SELECT s.cid, x.d, x.v
              FROM seeds s JOIN x ON s.vec_id = x.vec_id),
       ${updates}sd AS (SELECT x.vec_id, x.d // $PqDsub AS s, cb.cid,
                     CAST(sum((x.v - cb.v) * (x.v - cb.v)) AS BIGINT) AS dist
              FROM x JOIN cb$fin cb ON x.d = cb.d GROUP BY 1, 2, 3),
       codes AS (SELECT vec_id, s, cid FROM sd
              QUALIFY row_number() OVER (PARTITION BY vec_id, s
                                         ORDER BY dist, cid) = 1),
       recon AS (SELECT c.vec_id, cb.d, cb.v
              FROM codes c JOIN cb$fin cb ON cb.cid = c.cid
               AND cb.d // $PqDsub = c.s),
       adc AS (SELECT xq.vec_id AS qid, r.vec_id,
                      CAST(sum((xq.v - r.v) * (xq.v - r.v)) AS BIGINT) AS pqdist
               FROM (SELECT * FROM x WHERE vec_id < $NumQueries) xq
               JOIN recon r ON xq.d = r.d GROUP BY 1, 2),
       cand AS (SELECT qid, vec_id FROM adc
              QUALIFY row_number() OVER (PARTITION BY qid
                ORDER BY CAST(pqdist AS DOUBLE), vec_id) <= $PqMargin),
       scored AS (SELECT c.qid, c.vec_id,
                    round(list_cosine_similarity(
                      CAST(e2.embedding AS DOUBLE[]),
                      CAST(q2.embedding AS DOUBLE[])), 6) AS cosine
              FROM cand c
              JOIN embeddings e2 ON e2.vec_id = c.vec_id
              JOIN embeddings q2 ON q2.vec_id = c.qid),
       ranked AS (SELECT qid, vec_id, cosine,
                    row_number() OVER (PARTITION BY qid
                      ORDER BY cosine DESC, vec_id) AS rank
              FROM scored)
       SELECT qid, rank, vec_id, cosine FROM ranked
       WHERE rank <= $TopK ORDER BY qid, rank"""
  }

  /** IVF-PQ: the two-level composition production ANN engines ship —
    * the coarse quantizer routes each vector to a cell ([[ivf]]'s
    * cosine argmax over the broadcast codebook), PQ codes the RESIDUAL
    * (vector − its cell centroid, where codes on raw vectors would
    * waste bits re-encoding the cell's position), and a probe scores
    * only the probed cells' members by residual ADC before the exact
    * rerank. Memory: 4 PQ bytes + 1 cell id per vector.
    *
    * Exactness: residuals are INTEGER (both the vector and its
    * centroid quantize through the same floor-2²⁰ rule — centroids
    * are corpus vectors, so their quantized forms already exist), the
    * subspace codebook is hash-seeded residual slices, encode is the
    * fused integer argmin kernel, ADC is integer sums — the whole
    * two-level pipeline hash-matches its generated oracle like [[pq]].
    * The centroid frame rides a broadcast JOIN (≤ |codebook| rows),
    * not expression literals — a 2¹⁴-cell production codebook as plan
    * literals would bloat the plan, and the join is the same
    * zero-corpus-shuffle shape. Residual components span ≤ 2× the
    * quantizer gate: still 2⁴⁰ per-dim headroom under the kernel's
    * Long bound at [[Cluster.MaxDim]]. */
  def ivfPq(spark: SparkSession, dir: String,
      nprobe: Int = NProbe): DataFrame = {
    val (codes, subCents) = ivfPqCoded(spark, dir)
    ivfPqSearch(spark, dir, codes, subCents, nprobe)
  }

  /** Build products of the IVF-PQ index: the per-vector
    * (vec_id, cell, c0..c{M−1}) code table and the subspace
    * codebooks. */
  /** The quantized coarse centroids as a broadcast-join frame —
    * floor-2²⁰ of the float codebook, the same rule the corpus rows
    * quantize through. */
  private def qcFrame(spark: SparkSession,
      cb: Array[(Long, Array[Float])]): DataFrame = {
    val qcSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cell",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("qc",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType))))
    val qcRows: Seq[org.apache.spark.sql.Row] = cb.toSeq.map { case (cid, v) =>
      org.apache.spark.sql.Row(cid,
        v.toSeq.map(x => math.floor(x.toDouble * Cluster.Scale).toLong))
    }
    spark.createDataFrame(java.util.Arrays.asList(qcRows: _*), qcSchema)
  }

  private def ivfPqCoded(spark: SparkSession,
      dir: String): (DataFrame, Array[Array[Array[Long]]]) = {
    val cb = codebook(spark, dir)
    val qcDf = qcFrame(spark, cb)
    val cells = emb(spark, dir)
      .select(col("vec_id"), cellOf(col("embedding"), bcast(spark, cb)).as("cell"))
    val corp = shared.getOrBuild(spark, s"$dir#ivfpqres") {
      Cluster.quantized(emb(spark, dir))
        .join(cells, "vec_id")
        .join(broadcast(qcDf), "cell")
        .withColumn("r", expr("zip_with(q, qc, (a, b) -> a - b)")) }
    val seedRes = corp
      .select(col("vec_id"), col("r"),
        graft.functions.PortableHash.h60(col("vec_id").cast("string")).as("h"))
      .orderBy(col("h"), col("vec_id")).limit(PqK)
      .select(col("r")).collect().map(_.getSeq[Long](0).toArray)
    require(seedRes.head.length == PqM * PqDsub,
      s"IVF-PQ layout expects dim ${PqM * PqDsub}, got ${seedRes.head.length}")
    val subCents: Array[Array[Array[Long]]] = Array.tabulate(PqM)(s =>
      seedRes.map(v => v.slice(s * PqDsub, (s + 1) * PqDsub)))
    var coded = corp
    for (s <- 0 until PqM)
      coded = coded.withColumn(s"c$s",
        Cluster.assignCol(slice(col("r"), s * PqDsub + 1, PqDsub), subCents(s))
          .getField("cid"))
    (coded.select(col("vec_id") +: col("cell") +:
      (0 until PqM).map(s => col(s"c$s")): _*), subCents)
  }

  /** The probe path over a (vec_id, cell, c0..c{M−1}) code table —
    * shared by the inline query and the pre-built index. ADC runs
    * through per-(query, probed-cell) distance TABLES exactly like
    * [[pqSearch]]: the residual reconstruction distance decomposes
    * per subspace, the (qid, cell, rq) probe set is NumQueries ×
    * nprobe rows (a bounded driver round-trip of the codebook-collect
    * class), and the per-(probe, vector) score is PqM codegen'd
    * element_at lookups instead of an interpreted dim-wide
    * zip_with/aggregate fold over a materialized reconstruction
    * column. Same Long products in the same precision ⇒ d2 is
    * bit-identical and the generated oracle is untouched. */
  private def ivfPqSearch(spark: SparkSession, dir: String,
      codes: DataFrame, subCents: Array[Array[Array[Long]]],
      nprobe: Int): DataFrame = {
    val cb = codebook(spark, dir)
    val qcDf = qcFrame(spark, cb)
    val qq = Cluster.quantized(queriesDf(spark, dir)
        .select(col("qid").as("vec_id"), col("qe").as("embedding")))
      .select(col("vec_id").as("qid"), col("q").as("qq"))
    val probeRows = queriesDf(spark, dir)
      .select(col("qid"),
        explode(nearestCells(col("qe"), bcast(spark, cb), nprobe)).as("cell"))
      .join(qq, "qid")
      .join(broadcast(qcDf), "cell")
      .select(col("qid"), col("cell"),
        expr("zip_with(qq, qc, (a, b) -> a - b)").as("rq"))
      .collect()
    val probeTabs: Seq[(Long, Long, Seq[Seq[Long]])] =
      probeRows.toSeq.map { r =>
        val rq = r.getSeq[Long](2).toArray
        val tabs: Seq[Seq[Long]] = (0 until PqM).map { s =>
          subCents(s).toSeq.map { c =>
            var acc = 0L
            var j = 0
            while (j < PqDsub) {
              val d = rq(s * PqDsub + j) - c(j); acc += d * d; j += 1
            }
            acc
          }
        }
        (r.getLong(0), r.getLong(1), tabs)
      }
    import spark.implicits._
    val ptab = probeTabs.toDF("qid", "cell", "tabs")
    val d2 = (0 until PqM).map(s =>
        element_at(element_at(col("tabs"), s + 1), col(s"c$s") + 1))
      .reduce(_ + _)
    val cand = codes.join(broadcast(ptab), Seq("cell"))
      .select(col("qid"), col("vec_id"), d2.as("d2"))
      .groupBy(col("qid"))
      .agg(TopKScoreAgg.topk(-col("d2").cast("double"), col("vec_id"),
        PqMargin).as("top"))
      .select(col("qid"), explode(col("top")).as("e"))
      .select(col("qid"), col("e.id").as("vec_id"))
    val exact = cand
      .join(emb(spark, dir), Seq("vec_id"))
      .join(broadcast(queriesDf(spark, dir)), Seq("qid"))
      .select(col("qid"), col("vec_id"),
        round(Vectors.cosineSim(col("embedding"), col("qe")), 6).as("cosine"))
    topkPerQuery(exact)
  }

  /** Write-time IVF-PQ index: the code table laid out PARTITIONED BY
    * CELL (a probe reads only its cells' files — dynamic partition
    * pruning through the broadcast probe join, like [[buildIvfIndex]])
    * plus the subspace codebooks as a tiny sidecar table. This is the
    * whole serving representation: M 4-bit codes + a cell id per
    * vector; the floats stay in the base corpus and are touched only
    * by the rerank's semi-join. */
  def buildIvfPqIndex(spark: SparkSession, dir: String,
      indexPath: String): Unit = {
    val (codes, subCents) = ivfPqCoded(spark, dir)
    codes.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$indexPath/codes")
    val rows: Seq[org.apache.spark.sql.Row] = for {
      s <- 0 until PqM; cid <- 0 until PqK
    } yield org.apache.spark.sql.Row(s, cid, subCents(s)(cid).toSeq)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("cid",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("vals",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType))))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/codebook")
  }

  /** Probe a pre-built IVF-PQ index: identical results to the inline
    * [[ivfPq]] (same codebooks by construction), but the corpus side
    * is a partition-pruned code read — no re-encode, no full scan. */
  def ivfPqIndexed(spark: SparkSession, dir: String,
      indexPath: String, nprobe: Int = NProbe): DataFrame = {
    val cbRows = spark.read.parquet(s"$indexPath/codebook").collect()
    // fail fast on a truncated sidecar: a missing (s, cid) entry
    // would otherwise decode through an empty centroid silently
    require(cbRows.length == PqM * PqK,
      s"IVF-PQ codebook at $indexPath is incomplete: " +
        s"${cbRows.length} of ${PqM * PqK} entries")
    val subCents = Array.fill(PqM, PqK)(Array.empty[Long])
    cbRows.foreach { r =>
      subCents(r.getInt(0))(r.getInt(1)) = r.getSeq[Long](2).toArray
    }
    val codes = spark.read.parquet(s"$indexPath/codes")
    ivfPqSearch(spark, dir, codes, subCents, nprobe)
  }

  /** Generated DuckDB oracle for [[ivfPq]] — the identical coarse
    * cells ([[ivf]]'s argmax rule), integer residuals (centroids are
    * corpus vectors, so their quantized components come from the same
    * `x` CTE), hash-seed residual codebook, per-subspace argmin
    * codes, probed-cell residual ADC, and exact-cosine rerank. */
  def ivfPqOracleSql: String =
    s"""WITH ef AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                    FROM embeddings),
       cf AS (${codebookCteSql("ef")}),
       cl AS (SELECT vec_id, cell FROM (
                SELECT ef.vec_id, cf.cent_id AS cell,
                       row_number() OVER (PARTITION BY ef.vec_id
                         ORDER BY list_cosine_similarity(ef.emb, cf.ce) DESC,
                                  cf.cent_id) AS rn
                FROM ef CROSS JOIN cf) WHERE rn = 1),
       e AS (SELECT vec_id,
               list_transform(CAST(embedding AS DOUBLE[]),
                 x -> CASE WHEN isnan(x) OR abs(x) >= 128
                      THEN CAST(error('ivfpq: non-finite or out-of-range embedding component') AS BIGINT)
                      ELSE CAST(floor(x * ${Cluster.Scale}) AS BIGINT) END) AS q
             FROM embeddings),
       x AS (SELECT vec_id, unnest(q) AS v,
                    unnest(range(len(q))) AS d FROM e),
       resid AS (SELECT x.vec_id, c.cell, x.d, x.v - qc.v AS rv
                 FROM x JOIN cl c ON c.vec_id = x.vec_id
                 JOIN x qc ON qc.vec_id = c.cell AND qc.d = x.d),
       seeds AS (SELECT vec_id, row_number() OVER (ORDER BY
                   ${PortableHash.h60Sql("CAST(vec_id AS VARCHAR)")},
                   vec_id) - 1 AS cid
                 FROM e QUALIFY cid < $PqK),
       cb AS (SELECT s.cid, r.d, r.rv AS v
              FROM seeds s JOIN resid r ON r.vec_id = s.vec_id),
       sd AS (SELECT r.vec_id, r.d // $PqDsub AS s, cb.cid,
                     CAST(sum((r.rv - cb.v) * (r.rv - cb.v)) AS BIGINT) AS dist
              FROM resid r JOIN cb ON r.d = cb.d GROUP BY 1, 2, 3),
       codes AS (SELECT vec_id, s, cid FROM sd
              QUALIFY row_number() OVER (PARTITION BY vec_id, s
                                         ORDER BY dist, cid) = 1),
       recon AS (SELECT c.vec_id, cb.d, cb.v
              FROM codes c JOIN cb ON cb.cid = c.cid
               AND cb.d // $PqDsub = c.s),
       qf AS (SELECT vec_id AS qid, emb AS qe FROM ef
              WHERE vec_id < $NumQueries),
       probes AS (SELECT qid, cell FROM (
                SELECT qf.qid, cf.cent_id AS cell,
                       row_number() OVER (PARTITION BY qf.qid
                         ORDER BY list_cosine_similarity(qf.qe, cf.ce) DESC,
                                  cf.cent_id) AS rn
                FROM qf CROSS JOIN cf) WHERE rn <= $NProbe),
       rq AS (SELECT p.qid, p.cell, x.d, x.v - qc.v AS rv
              FROM probes p JOIN x ON x.vec_id = p.qid
              JOIN x qc ON qc.vec_id = p.cell AND qc.d = x.d),
       adc AS (SELECT rq.qid, m.vec_id,
                      CAST(sum((rq.rv - re.v) * (rq.rv - re.v)) AS BIGINT) AS d2
               FROM rq JOIN cl m ON m.cell = rq.cell
               JOIN recon re ON re.vec_id = m.vec_id AND re.d = rq.d
               GROUP BY 1, 2),
       cand AS (SELECT qid, vec_id FROM adc
              QUALIFY row_number() OVER (PARTITION BY qid
                ORDER BY CAST(d2 AS DOUBLE), vec_id) <= $PqMargin),
       scored AS (SELECT c.qid, c.vec_id,
                    round(list_cosine_similarity(
                      CAST(e2.embedding AS DOUBLE[]),
                      CAST(q2.embedding AS DOUBLE[])), 6) AS cosine
              FROM cand c
              JOIN embeddings e2 ON e2.vec_id = c.vec_id
              JOIN embeddings q2 ON q2.vec_id = c.qid),
       ranked AS (SELECT qid, vec_id, cosine,
                    row_number() OVER (PARTITION BY qid
                      ORDER BY cosine DESC, vec_id) AS rank
              FROM scored)
       SELECT qid, rank, vec_id, cosine FROM ranked
       WHERE rank <= $TopK ORDER BY qid, rank"""

  /** Per-(label, dimension) embedding statistics — the input a coarse
    * quantizer / codebook trainer consumes (and the standard sanity
    * sweep over an embedding corpus: per-cluster means, coverage).
    * Exploded-aggregate shape: posexplode to (label, dim, value),
    * one partial-aggregating groupBy — no wide 64-column agg, and the
    * same plan works for any dimensionality. Oracle-checked. */
  def centroidStats(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).embeddings
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"), col("pos").as("dim"),
        col("col").cast("double").as("v"))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"), round(avg("v"), 6).as("mean_v"))
      .orderBy("label", "dim")

  /** Write-time IVF index: the corpus laid out partitioned by cell.
    * At 100 TB this is how ANN actually serves — cell assignment is
    * paid once at ingest (per-row broadcast-codebook argmax, no
    * exchange); a probe then reads only its cells' files (dynamic
    * partition pruning through the broadcast probe join, asserted in
    * AnnSpec).
    *
    * The index lives as ONE partitioned layout `shard=<id>/cell=<c>`
    * under the `_COMMITTED`-marker protocol
    * ([[Dedup.saveStandingIndex]]'s discipline, adapted to partition
    * discovery: shard is a partition COLUMN, so every probe stays one
    * pruned scan, and the per-shard marker is an underscore-prefixed
    * root file Spark's discovery ignores). A build is a FULL REBUILD
    * (replaces the whole layout), [[appendToIvfIndex]] folds admitted
    * vectors in per ingest batch via DYNAMIC partition overwrite
    * (exactly-once under at-least-once execution — a committed shard
    * id retries as a no-op, a half-written shard has no marker and is
    * invisible until rewritten), and [[loadIvfIndex]] filters to
    * committed shards — a partition-pruning filter, not a scan. */
  def buildIvfIndex(spark: SparkSession, dir: String, indexPath: String,
      k: Int = IvfK): Unit = {
    val cb = codebook(spark, dir, k)
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val hfs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (hfs.exists(root)) hfs.delete(root, true)
    writeIvfShard(assignCells(emb(spark, dir), cb), indexPath, "base",
      overwriteCommitted = true)
  }

  /** Fold admitted vectors into a persisted IVF index — the append
    * step an embedding-ingest loop runs after
    * [[graft.streaming.Streams.annProbeStream]] admits a batch (the
    * ANN twin of [[Dedup.appendToStandingIndex]]). Cost ∝ the batch;
    * the standing corpus is never re-assigned. The codebook must be
    * the index's own (cell geometry is the index identity). */
  def appendToIvfIndex(vectors: DataFrame, indexPath: String,
      cb: Array[(Long, Array[Float])], shardId: String): Unit = {
    require(shardId.nonEmpty && shardId != "base" &&
      shardId.matches("[A-Za-z0-9._-]+"),
      s"appendToIvfIndex: invalid shardId '$shardId'")
    writeIvfShard(
      assignCells(vectors.select(col("vec_id"), col("embedding")), cb),
      indexPath, shardId, overwriteCommitted = false)
  }

  /** All committed shards of a persisted IVF index, as one frame:
    * one partitioned scan, the shard filter prunes directories. */
  def loadIvfIndex(spark: SparkSession, indexPath: String): DataFrame = {
    val hfs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = hfs.listStatus(new org.apache.hadoop.fs.Path(indexPath))
      .map(_.getPath.getName)
      .filter(_.startsWith("_COMMITTED_"))
      .map(_.stripPrefix("_COMMITTED_")).sorted
    require(committed.nonEmpty,
      s"loadIvfIndex($indexPath): no committed shards found")
    spark.read.parquet(indexPath)
      .filter(col("shard").isin(committed.toSeq: _*))
  }

  private def assignCells(vectors: DataFrame,
      cb: Array[(Long, Array[Float])]): DataFrame =
    vectors.select(col("vec_id"), col("embedding"),
      cellOf(col("embedding"), bcast(vectors.sparkSession, cb)).as("cell"))

  /** One shard's (shard, cell)-partitioned vectors via dynamic
    * partition overwrite, then its root-level `_COMMITTED_<id>`
    * marker (the [[Dedup]] writeShard protocol, partition-discovery
    * flavored). */
  private def writeIvfShard(assigned: DataFrame, path: String,
      shardId: String, overwriteCommitted: Boolean): Unit = {
    val spark = assigned.sparkSession
    val hfs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(path, s"_COMMITTED_$shardId")
    if (hfs.exists(marker) && !overwriteCommitted) return
    if (hfs.exists(marker)) hfs.delete(marker, false)
    assigned.withColumn("shard", lit(shardId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("shard", "cell")
      .parquet(path)
    hfs.create(marker, false).close()
  }

  /** Probe a pre-built IVF index: identical results to the inline
    * [[ivf]] (same codebook), but the corpus side is a
    * partition-pruned read instead of a full scan + assignment. */
  def ivfIndexed(spark: SparkSession, dir: String, indexPath: String,
      k: Int = IvfK): DataFrame =
    probeIvfFrame(loadIvfIndex(spark, indexPath), codebook(spark, dir, k),
      queriesDf(spark, dir))

  /** The index probe over ANY (qid, qe) query frame — the serving
    * kernel [[ivfIndexed]] and the streaming admission gate
    * ([[graft.streaming.Streams.annProbeStream]]) share: each query's
    * ranking depends only on (query, index), which is exactly why any
    * micro-batch split of the query stream reproduces the one-shot
    * batch ranking. */
  private[graft] def probeIvfFrame(idx: DataFrame,
      cb: Array[(Long, Array[Float])], queries: DataFrame,
      nprobe: Int = NProbe): DataFrame = {
    val probes = queries.select(col("qid"), col("qe"),
      explode(nearestCells(col("qe"), bcast(idx.sparkSession, cb), nprobe))
        .as("cell"))
    val scored = idx.join(broadcast(probes), Seq("cell"))
      .select(col("qid"), col("vec_id"),
        round(Vectors.cosineSim(col("embedding"), col("qe")), 6).as("cosine"))
    topkPerQuery(scored)
  }

  // --- retrieval evaluation ------------------------------------------

  /** Probe-count bank for [[sweepNprobe]] — ascending; the single
    * candidate pass runs at the bank's LARGEST count. */
  val NProbeSweep: Seq[Int] = Seq(1, 2, 4, 8)

  /** NPROBE SWEEP — the tuning readout behind "how many cells must we
    * probe": recall@k and the MRR numerator at every probe count in
    * the bank, against the exact brute-force truth, from ONE
    * candidate-generation pass at the bank's largest count. Each
    * candidate is tagged with the probe rank of its cell (a corpus
    * vector lives in exactly one cell, so the tag is unique per
    * query); smaller probe counts are row-local slices, re-ranked by
    * the bounded per-(bank, query) top-k heap — the sweep discipline
    * ([[Dedup.sweep]]) applied to retrieval. A probe count that
    * reaches nothing for a query still counts in the denominator
    * (truth-spine rule, [[evalOf]]'s r10 lesson). Output = |bank|
    * rows at any corpus size. */
  /** RECALL@k CURVE for the LSH index from ONE pass per side — the
    * k-axis twin of [[sweepNprobe]]'s nprobe axis (ann_eval reads a
    * single operating point; a serving team sizes k from the whole
    * curve): join the LSH ranking to the exact truth once on
    * (qid, vec_id) keeping BOTH ranks, then every k ∈ 1..TopK is a
    * conditional count over the same joined frame — the
    * parameter-bank discipline (never k passes over the corpus).
    * `recall@k = |approx_topk ∩ truth_topk| / Σ_q min(k, k_truth)`;
    * the denominator derives from the truth ranks so short truth
    * lists can't inflate recall. Integer counts + ONE 6dp division
    * per row; output is TopK rows. */
  def sweepK(spark: SparkSession, dir: String): DataFrame =
    sweepKOver(bruteforce(spark, dir), lsh(spark, dir))

  /** The same recall@k curve over the SERVING-TIER IVF index
    * ([[evalIvf]]'s subject): one more approx leg over the shared
    * truth join, bank discipline unchanged — a serving team sizes k
    * against the index it actually deploys, not the LSH arm. */
  def sweepKIvf(spark: SparkSession, dir: String): DataFrame =
    sweepKOver(bruteforce(spark, dir), ivf(spark, dir))

  private def sweepKOver(truthR: DataFrame, approxR: DataFrame): DataFrame = {
    val truth = truthR
      .select(col("qid"), col("vec_id"), col("rank").cast("long").as("trank"))
    val approx = approxR
      .select(col("qid"), col("vec_id"), col("rank").cast("long").as("arank"))
    // the joined frame has exactly ONE consumer (the explode+groupBy
    // pass below) — no cache: the r11 cache here was never read a
    // second time and leaked storage blocks across a long session
    truth.join(approx, Seq("qid", "vec_id"), "left")
      .select(col("trank"), col("arank"),
        explode(expr(s"sequence(1, $TopK)")).as("k"))
      .groupBy(col("k"))
      .agg(
        sum(when(col("trank") <= col("k") && col("arank").isNotNull &&
          col("arank") <= col("k"), 1L).otherwise(0L)).as("n_hit"),
        sum(when(col("trank") <= col("k"), 1L).otherwise(0L)).as("n_truth"))
      .select(col("k").cast("long").as("k"), col("n_hit"), col("n_truth"),
        round(col("n_hit").cast("double") / col("n_truth").cast("double"), 6)
          .as("recall"))
      .orderBy(col("k"))
  }

  def sweepNprobe(spark: SparkSession, dir: String): DataFrame = {
    val bc = bcast(spark, codebook(spark, dir))
    val cells = emb(spark, dir)
      .withColumn("cell", cellOf(col("embedding"), bc))
    val probes = queriesDf(spark, dir)
      .select(col("qid"), col("qe"),
        posexplode(nearestCells(col("qe"), bc, NProbeSweep.max))
          .as(Seq("pi", "cell")))
    val scored = cells.join(broadcast(probes), Seq("cell"))
      .select(col("qid"), col("vec_id"), (col("pi") + 1).as("preach"),
        round(Vectors.cosineSim(col("embedding"), col("qe")), 6).as("cosine"))
    val approx = scored
      .select(col("qid"), col("vec_id"), col("cosine"), col("preach"),
        explode(array(NProbeSweep.map(k => lit(k.toLong)): _*)).as("nprobe"))
      .filter(col("nprobe") >= col("preach"))
      .groupBy(col("nprobe"), col("qid"))
      .agg(TopKScoreAgg.topk(col("cosine"), col("vec_id"), TopK).as("top"))
      .select(col("nprobe"), col("qid"), posexplode(col("top")))
      .select(col("nprobe"), col("qid"),
        (col("pos") + 1).cast("long").as("rank"), col("col.id").as("vec_id"))
    val truth = bruteforce(spark, dir)
      .select(col("qid"), col("rank"), col("vec_id"))
    val ksum = truth.agg(count(lit(1)).as("k_sum"))
    val ov = truth.select("qid", "vec_id")
      .join(approx.select("nprobe", "qid", "vec_id"), Seq("qid", "vec_id"))
      .groupBy(col("nprobe")).agg(count(lit(1)).as("n_overlap"))
    val nn2 = truth.filter(col("rank") === 2).select(col("qid"), col("vec_id"))
    val rr = nn2.join(approx, Seq("qid", "vec_id"))
      .groupBy(col("nprobe"))
      .agg(sum(round(lit(1e6) / col("rank"), 0).cast("long")).as("rr_micro"))
    val bank = spark.range(1)
      .select(explode(array(NProbeSweep.map(k => lit(k.toLong)): _*))
        .as("nprobe"))
    bank.join(ov, Seq("nprobe"), "left")
      .join(rr, Seq("nprobe"), "left")
      .crossJoin(broadcast(ksum))
      .select(col("nprobe"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        round(coalesce(col("n_overlap"), lit(0L)).cast("double") /
          col("k_sum").cast("double"), 6).as("recall"),
        coalesce(col("rr_micro"), lit(0L)).as("rr_micro"))
      .orderBy(col("nprobe"))
  }

  /** Generated DuckDB oracle for [[sweepNprobe]] — the ivf CTE chain
    * with probe-rank-tagged candidates, one unrolled metrics arm per
    * bank entry over the shared brute-force truth. */
  def sweepNprobeOracleSql: String = {
    val arms = NProbeSweep.map { k =>
      s"""SELECT CAST($k AS BIGINT) AS nprobe,
            (SELECT CAST(count(*) AS BIGINT)
             FROM t JOIN (SELECT qid, vec_id FROM
                 (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
                    ORDER BY cosine DESC, vec_id) AS rank
                  FROM scored_sw WHERE preach <= $k) WHERE rank <= 5) a
               ON a.qid = t.qid AND a.vec_id = t.vec_id) AS n_overlap,
            (SELECT CAST(coalesce(sum(CAST(round(1e6 / a.rank, 0)
                 AS BIGINT)), 0) AS BIGINT)
             FROM (SELECT qid, vec_id FROM t WHERE rank = 2) nn2
             JOIN (SELECT qid, vec_id, rank FROM
                 (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
                    ORDER BY cosine DESC, vec_id) AS rank
                  FROM scored_sw WHERE preach <= $k) WHERE rank <= 5) a
               ON a.qid = nn2.qid AND a.vec_id = nn2.vec_id) AS rr_micro"""
    }.mkString("\n         UNION ALL ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                    FROM embeddings),
         c AS (${codebookCteSql("e")}),
         cells AS (
           SELECT vec_id, emb, cell FROM (
             SELECT e.vec_id, e.emb, c.cent_id AS cell,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY list_cosine_similarity(e.emb, c.ce) DESC,
                               c.cent_id) AS rn
             FROM e CROSS JOIN c) WHERE rn = 1),
         q AS (SELECT vec_id AS qid, emb AS qe FROM e WHERE vec_id < 10),
         pr AS (
           SELECT qid, qe, cell, rn AS preach FROM (
             SELECT q.qid, q.qe, c.cent_id AS cell,
                    row_number() OVER (PARTITION BY q.qid
                      ORDER BY list_cosine_similarity(q.qe, c.ce) DESC,
                               c.cent_id) AS rn
             FROM q CROSS JOIN c) WHERE rn <= ${NProbeSweep.max}),
         scored_sw AS MATERIALIZED (
           SELECT p.qid, s.vec_id, p.preach,
                  round(list_cosine_similarity(s.emb, p.qe), 6) AS cosine
           FROM cells s JOIN pr p ON p.cell = s.cell),
         scored_b AS (
           SELECT q.qid, cc.vec_id,
                  round(list_cosine_similarity(cc.emb, q.qe), 6) AS cosine
           FROM e cc CROSS JOIN q),
         t AS MATERIALIZED (
           SELECT qid, vec_id, rank FROM (
             SELECT qid, vec_id,
                    row_number() OVER (PARTITION BY qid
                      ORDER BY cosine DESC, vec_id) AS rank
             FROM scored_b) WHERE rank <= 5),
         ks AS (SELECT CAST(count(*) AS BIGINT) AS k_sum FROM t),
         m AS ($arms)
         SELECT m.nprobe, m.n_overlap,
                round(CAST(m.n_overlap AS DOUBLE)
                      / CAST(ks.k_sum AS DOUBLE), 6) AS recall,
                m.rr_micro
         FROM m CROSS JOIN ks ORDER BY m.nprobe"""
  }

  /** ANN evaluation harness: score the LSH ranking against the
    * exact brute-force ground truth — the recall/MRR readout a
    * retrieval team runs before trusting an approximate index.
    * Per query: `n_overlap` (approx∩truth in the top-k), `recall`
    * (overlap/k), `nn_rank` (where the TRUE nearest non-self
    * neighbor — truth rank 2; rank 1 is the self-match every probe
    * trivially finds — lands in the approximate list, NULL if
    * missed), and `rr_micro` (its reciprocal rank quantized once to
    * micro-units — exact BIGINT, so the summary row's MRR numerator
    * is an order-proof integer sum). Summary row `qid = -1`: total
    * overlap, mean recall, Σ rr_micro (MRR = Σ/(10⁶·n_queries)).
    *
    * Both rankings are already oracle-proven surfaces; the eval is
    * bounded arithmetic over 2·k·|queries| rows (joins on ids, never
    * on floats), so the oracle composes the two proven CTE chains
    * and the metrics hash-match end to end. Scale: the readout costs
    * nothing beyond the two rankings it consumes. */
  def evalLsh(spark: SparkSession, dir: String): DataFrame =
    evalOf(lsh(spark, dir), bruteforce(spark, dir))

  /** The same harness over the IVF ranking — the eval is
    * ranking-agnostic: any (qid, rank, vec_id) surface scores
    * against the exact ground truth. */
  def evalIvf(spark: SparkSession, dir: String): DataFrame =
    evalOf(ivf(spark, dir), bruteforce(spark, dir))

  /** Score ANY approximate (qid, rank, vec_id) ranking against the
    * exact one (the metrics fold of [[evalLsh]]'s doc).
    *
    * The per-query rows are driven from the TRUTH query set, not the
    * overlap: a query whose approximate list shares nothing with the
    * truth (recall 0 — exactly the query a retrieval team most needs
    * to see) still appears, with `n_overlap = 0`, and still counts in
    * the summary denominator. `k` is derived per query from the truth
    * ranking itself rather than assumed, so a truncated truth list
    * (corpus smaller than the requested top-k) scores against the
    * rows it actually has. */
  def evalOf(approxRanking: DataFrame, truthRanking: DataFrame): DataFrame = {
    // Both rankings are working sets of the caller's scope. Spark
    // plans are trees, and this eval consumes `truth` three times
    // (kq / overlap / nn2) and `approx` twice (overlap / nnRank), all
    // of it under a 2-branch union — uncached, the full brute-force
    // scoring subtree re-executed up to 6× and the approximate
    // ranking up to 4× per eval (measured r14: ann_eval ≈ 2.4 s
    // against ~1.1 s for its two rankings run once).
    val truth = WorkingSet(
      truthRanking.select(col("qid"), col("rank"), col("vec_id")))
    val approx = WorkingSet(
      approxRanking.select(col("qid"), col("rank"), col("vec_id")))
    // every truth qid, with its own k — the spine every metric hangs off
    val kq = truth.groupBy(col("qid")).agg(count(lit(1)).as("k_truth"))
    val overlap = truth.select("qid", "vec_id")
      .join(approx.select("qid", "vec_id"), Seq("qid", "vec_id"))
      .groupBy(col("qid")).agg(count(lit(1)).as("n_overlap"))
    val nn2 = truth.filter(col("rank") === 2)
      .select(col("qid"), col("vec_id"))
    val nnRank = nn2.join(approx, Seq("qid", "vec_id"), "left")
      .select(col("qid"), col("rank").cast("long").as("nn_rank"))
    val perFull = kq.join(overlap, Seq("qid"), "left")
      .join(nnRank, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        round(coalesce(col("n_overlap"), lit(0L)).cast("double") /
          col("k_truth").cast("double"), 6).as("recall"),
        col("nn_rank"),
        coalesce(round(lit(1e6) / col("nn_rank"), 0).cast("long"), lit(0L))
          .as("rr_micro"),
        col("k_truth"))
    val per = perFull.drop("k_truth")
    val total = perFull.agg(sum(col("n_overlap")).as("n_overlap"),
        sum(col("k_truth")).as("k_sum"), sum(col("rr_micro")).as("rr_micro"))
      .select(lit(-1L).as("qid"), col("n_overlap"),
        round(col("n_overlap").cast("double") /
          col("k_sum").cast("double"), 6).as("recall"),
        lit(null).cast("long").as("nn_rank"), col("rr_micro"))
    per.unionByName(total).orderBy(col("qid"))
  }

  /** This object's queries, each with its DuckDB oracle (see [[graft.core.Query]]). */
  lazy val queries: Seq[Query] = Seq(
    Query("ann_bruteforce", bruteforce, BruteforceTopkSql),
    Query("ann_bruteforce_sql", (s, d) => Tables.runSql(s, d, BruteforceSparkSql),
      BruteforceTopkSql),
    // exact MIPS: same scan, dot-product kernel — both engines sum
    // the DOUBLE-cast float products in index order
    Query("ann_mips", mips,
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
                    FROM embeddings WHERE vec_id < 10),
         scored AS (
           SELECT q.qid, e.vec_id,
                  round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe),
                        6) AS dot
           FROM embeddings e CROSS JOIN q),
         ranked AS (
           SELECT qid, vec_id, dot,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY dot DESC, vec_id) AS rank
           FROM scored)
         SELECT qid, rank, vec_id, dot FROM ranked
         WHERE rank <= 5 ORDER BY qid, rank"""),
    // exact filtered search: the label predicate applies BEFORE
    // scoring on both sides, so top-k never starves below k
    Query("ann_filtered", filtered,
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS qlabel
                    FROM embeddings WHERE vec_id < 10),
         scored AS (
           SELECT q.qid, e.vec_id,
                  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                        CAST(q.qe AS DOUBLE[])), 6) AS cosine
           FROM embeddings e JOIN q ON e.label = q.qlabel),
         ranked AS (
           SELECT qid, vec_id, cosine,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY cosine DESC, vec_id) AS rank
           FROM scored)
         SELECT qid, rank, vec_id, cosine FROM ranked
         WHERE rank <= 5 ORDER BY qid, rank"""),
    // the ivf chain with the label predicate INSIDE the probed cells
    Query("ann_filtered_ivf", (s, d) => filteredIvf(s, d),
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label
                    FROM embeddings),
         c AS (${codebookCteSql("e")}),
         cells AS (
           SELECT vec_id, emb, label, cell FROM (
             SELECT e.vec_id, e.emb, e.label, c.cent_id AS cell,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY list_cosine_similarity(e.emb, c.ce) DESC,
                               c.cent_id) AS rn
             FROM e CROSS JOIN c) WHERE rn = 1),
         q AS (SELECT vec_id AS qid, emb AS qe, label AS qlabel
               FROM e WHERE vec_id < 10),
         probes AS (
           SELECT qid, qe, qlabel, cell FROM (
             SELECT q.qid, q.qe, q.qlabel, c.cent_id AS cell,
                    row_number() OVER (PARTITION BY q.qid
                      ORDER BY list_cosine_similarity(q.qe, c.ce) DESC,
                               c.cent_id) AS rn
             FROM q CROSS JOIN c) WHERE rn <= 8),
         scored AS (
           SELECT DISTINCT p.qid, s.vec_id,
                  round(list_cosine_similarity(s.emb, p.qe), 6) AS cosine
           FROM cells s JOIN probes p ON p.cell = s.cell
           WHERE s.label = p.qlabel),
         ranked AS (
           SELECT qid, vec_id, cosine,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY cosine DESC, vec_id) AS rank
           FROM scored)
         SELECT qid, rank, vec_id, cosine FROM ranked
         WHERE rank <= 5 ORDER BY qid, rank"""),
    // Random-hyperplane LSH with the hyperplanes inlined as DOUBLE
    // literals (the exact double values of Ann.planes' floats): same
    // sign bits, same buckets, same Hamming-≤2 multiprobe ring, same
    // candidate set, exact cosine top-5.
    Query("ann_lsh", lsh, annLshSql),
    // recall/MRR readout of ann_lsh vs the brute-force ground truth:
    // the two proven CTE chains composed; metrics are id-join
    // arithmetic with the reciprocal rank micro-quantized (exact
    // BIGINT summary sum)
    Query("ann_eval", evalLsh, annEvalSql),
    // the harness over the IVF ranking: same truth + metrics tail
    Query("ann_eval_ivf", evalIvf, annEvalIvfSql),
    // recall@k bank over ONE joined ranking frame (k = 1..5)
    Query("ann_sweep_k", sweepK, annSweepKSql),
    // the same recall@k bank over the serving-tier IVF ranking
    Query("ann_sweep_k_ivf", sweepKIvf, annSweepKIvfSql),
    Query("ann_sweep_nprobe", sweepNprobe, sweepNprobeOracleSql),
    // IVF is pure SQL end-to-end: deterministic codebook (the IvfK
    // lowest-portable-hash vectors), nearest-cell argmax (csim desc,
    // cent_id asc — the same tie-break as the Spark argmax over the
    // broadcast codebook), probes, exact cosine top-5 over the cells.
    Query("ann_ivf", (s, d) => ivf(s, d),
      s"""WITH $ivfCtes
         SELECT qid, rank, vec_id, cosine FROM ranked
         WHERE rank <= 5 ORDER BY qid, rank"""),
    // int8 quantization + 10× margin + exact float rerank provably
    // recovers the exact top-5 on this corpus (AnnSpec measures
    // recall@5 = 1.0; the margin dwarfs the ~1e-2 quantization noise
    // on cosine) — so the brute-force top-k IS its oracle.
    Query("ann_quantized", quantized, BruteforceTopkSql),
    // full-pipeline PQ oracle (not the bruteforce shortcut): the
    // approximate path is integer-exact end to end, so codes, ADC
    // ordering, and the rerank all hash-match by construction rather
    // than by recall luck
    Query("ann_pq", pq, pqOracleSql),
    // the trained twin comes from the SAME generator at PqTrainRounds,
    // so the two oracles replay one codebook-trajectory definition
    Query("ann_pq_trained", (s, d) => pqTrained(s, d), pqTrainedOracleSql),
    // two-level IVF-PQ: coarse cosine cells + integer residual codes,
    // probed-cell ADC, exact rerank — all integer-exact end to end
    Query("ann_ivf_pq", (s, d) => ivfPq(s, d), ivfPqOracleSql),
    // Per-(label, dim) means over the embedding corpus; DOUBLE[] cast
    // on both sides so the accumulation arithmetic matches.
    Query("emb_centroids", centroidStats,
      """SELECT label, i - 1 AS dim, count(*) AS n,
                round(avg(CAST(embedding AS DOUBLE[])[i]), 6) AS mean_v
         FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
         GROUP BY label, dim ORDER BY label, dim"""),
    // Bucketed KNN self-join: deterministic given the planes, so the
    // bucket rule is the semantics and the oracle checks it exactly.
    Query("ann_knn_join", (s, d) => knnJoin(s, d), annKnnJoinSql),
    Query("ann_range", (s, d) => rangeSearch(s, d),
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
                      WHERE vec_id < 10),
         scored AS (
           SELECT q.qid, e.vec_id,
                  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                        CAST(q.qe AS DOUBLE[])), 6) AS cosine
           FROM embeddings e CROSS JOIN q
           WHERE e.vec_id <> q.qid)
         SELECT qid, vec_id, cosine FROM scored
         WHERE cosine >= 0.15 ORDER BY qid, vec_id"""),
  )

  private val BruteforceTopkSql =
    """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
                    WHERE vec_id < 10),
         scored AS (
           SELECT q.qid, e.vec_id,
                  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                        CAST(q.qe AS DOUBLE[])), 6) AS cosine
           FROM embeddings e CROSS JOIN q),
         ranked AS (
           SELECT qid, vec_id, cosine,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY cosine DESC, vec_id) AS rank
           FROM scored)
         SELECT qid, rank, vec_id, cosine FROM ranked
         WHERE rank <= 5 ORDER BY qid, rank"""

  /** Shared LSH-bucket CTE prefix (`e`/`b`/`ck`), generated from the
    * same plane constants the Spark operators use: per-vector
    * DOUBLE[] cast, the 4 per-table 8-sign-bit bucket ints, and the
    * 4 "t#bucket" corpus keys. */
  private lazy val lshBucketCte: String = {
    def planeLit(p: Array[Float]): String =
      p.map(_.toDouble.toString).mkString("[", ", ", "]")
    def bucketExpr(t: Int): String =
      (0 until 8).map { b =>
        s"CASE WHEN list_cosine_similarity(emb, ${planeLit(planes(t * 8 + b))}) > 0 THEN ${1 << b} ELSE 0 END"
      }.mkString("\n                  + ")
    val bucketCols = (0 until 4)
      .map(t => s"${bucketExpr(t)} AS b$t").mkString(",\n                ")
    val corpusKeys = (0 until 4)
      .map(t => s"'$t#' || CAST(b$t AS VARCHAR)").mkString(", ")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                   FROM embeddings),
         b AS (SELECT vec_id,
                $bucketCols
               FROM e),
         ck AS (SELECT vec_id, unnest([$corpusKeys]) AS k FROM b)"""
  }

  /** ann_lsh oracle, generated from the same plane constants and probe
    * masks the Spark operator uses. */
  private lazy val annLshSql: String = {
    val probeKeys = (0 until 4)
      .map(t => s"'$t#' || CAST(xor(b$t, m) AS VARCHAR)").mkString(", ")
    val masks = probeMasks.mkString("[", ", ", "]")
    s"""WITH $lshBucketCte,
         pm AS (SELECT unnest($masks) AS m),
         pk AS (SELECT qid, unnest([$probeKeys]) AS k
                FROM (SELECT vec_id AS qid, b0, b1, b2, b3 FROM b
                      WHERE vec_id < 10)
                CROSS JOIN pm),
         cand AS (SELECT DISTINCT pk.qid, ck.vec_id
                  FROM ck JOIN pk ON ck.k = pk.k),
         scored AS (
           SELECT c.qid, c.vec_id,
                  round(list_cosine_similarity(ec.emb, eq.emb), 6) AS cosine
           FROM cand c
           JOIN e ec ON ec.vec_id = c.vec_id
           JOIN e eq ON eq.vec_id = c.qid),
         ranked AS (
           SELECT qid, vec_id, cosine,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY cosine DESC, vec_id) AS rank
           FROM scored)
         SELECT qid, rank, vec_id, cosine FROM ranked
         WHERE rank <= 5 ORDER BY qid, rank"""
  }

  /** The ann_ivf CTE chain ending at `ranked` — shared by the ann_ivf
    * oracle and the IVF eval oracle (one SQL statement of truth,
    * same constants as the Spark operator: hash-ordered codebook of
    * [[IvfK]] cells via the shared
    * [[codebookCteSql]] fragment, nprobe 8,
    * query set < 10). */
  private val ivfCtes: String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                    FROM embeddings),
         c AS (${codebookCteSql("e")}),
         cells AS (
           SELECT vec_id, emb, cell FROM (
             SELECT e.vec_id, e.emb, c.cent_id AS cell,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY list_cosine_similarity(e.emb, c.ce) DESC,
                               c.cent_id) AS rn
             FROM e CROSS JOIN c) WHERE rn = 1),
         q AS (SELECT vec_id AS qid, emb AS qe FROM e WHERE vec_id < 10),
         probes AS (
           SELECT qid, qe, cell FROM (
             SELECT q.qid, q.qe, c.cent_id AS cell,
                    row_number() OVER (PARTITION BY q.qid
                      ORDER BY list_cosine_similarity(q.qe, c.ce) DESC,
                               c.cent_id) AS rn
             FROM q CROSS JOIN c) WHERE rn <= 8),
         scored AS (
           SELECT DISTINCT p.qid, s.vec_id,
                  round(list_cosine_similarity(s.emb, p.qe), 6) AS cosine
           FROM cells s JOIN probes p ON p.cell = s.cell),
         ranked AS (
           SELECT qid, vec_id, cosine,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY cosine DESC, vec_id) AS rank
           FROM scored)"""

  /** Brute-force truth CTEs (`scored_b` + `t`) over an existing `e`
    * CTE — shared by every eval oracle. */
  private val bruteTruthCtes: String =
    """scored_b AS (
           SELECT q.qid, c.vec_id,
                  round(list_cosine_similarity(c.emb, q.emb), 6) AS cosine
           FROM e c CROSS JOIN
             (SELECT vec_id AS qid, emb FROM e WHERE vec_id < 10) q),
         t AS (
           SELECT qid, vec_id, rank FROM (
             SELECT qid, vec_id,
                    row_number() OVER (PARTITION BY qid
                      ORDER BY cosine DESC, vec_id) AS rank
             FROM scored_b) WHERE rank <= 5)"""

  /** Shared eval tail over CTEs `al` (approx top-5) and `t` (truth
    * top-5): overlap/recall/reciprocal-rank metrics — id joins only,
    * the reciprocal rank micro-quantized so the summary MRR
    * numerator is an exact BIGINT sum. ONE statement of truth for
    * every ranking the harness scores. */
  private val evalTailSql: String =
    """kq AS (SELECT qid, CAST(count(*) AS BIGINT) AS k_truth
                FROM t GROUP BY 1),
         ov AS (SELECT t.qid, CAST(count(*) AS BIGINT) AS n_overlap
                FROM t JOIN al ON al.qid = t.qid AND al.vec_id = t.vec_id
                GROUP BY 1),
         nn2 AS (SELECT qid, vec_id FROM t WHERE rank = 2),
         nr AS (SELECT nn2.qid, CAST(al.rank AS BIGINT) AS nn_rank
                FROM nn2 LEFT JOIN al
                  ON al.qid = nn2.qid AND al.vec_id = nn2.vec_id),
         per AS (
           SELECT kq.qid,
                  coalesce(ov.n_overlap, CAST(0 AS BIGINT)) AS n_overlap,
                  round(CAST(coalesce(ov.n_overlap, 0) AS DOUBLE)
                        / CAST(kq.k_truth AS DOUBLE), 6) AS recall,
                  nr.nn_rank,
                  coalesce(CAST(round(1e6 / nr.nn_rank, 0) AS BIGINT),
                           CAST(0 AS BIGINT)) AS rr_micro,
                  kq.k_truth
           FROM kq LEFT JOIN ov ON ov.qid = kq.qid
                   LEFT JOIN nr ON nr.qid = kq.qid)
         SELECT qid, n_overlap, recall, nn_rank, rr_micro FROM per
         UNION ALL
         SELECT CAST(-1 AS BIGINT), CAST(sum(n_overlap) AS BIGINT),
                round(CAST(sum(n_overlap) AS DOUBLE)
                      / CAST(sum(k_truth) AS DOUBLE), 6),
                CAST(NULL AS BIGINT), CAST(sum(rr_micro) AS BIGINT)
         FROM per
         ORDER BY qid"""

  /** ann_sweep_k oracle family: the truth chain + a caller-chosen
    * approx ranking composed as CTEs, one conditional-count arm per
    * k over the single joined frame — the same one-pass bank the
    * Spark side runs. The k bank interpolates [[TopK]]
    * (the constant the Spark side derives its sequence from), so a
    * TopK edit moves oracle and operator together. */
  private def annSweepKSqlOver(approxSql: String): String =
    s"""WITH truth_r AS ($BruteforceTopkSql),
         approx_r AS ($approxSql),
         j AS (SELECT t.qid, t.rank AS trank, a.rank AS arank
               FROM truth_r t LEFT JOIN approx_r a
                 ON a.qid = t.qid AND a.vec_id = t.vec_id),
         f AS (SELECT j.*, ks.k
               FROM j CROSS JOIN
                 (SELECT unnest(range(1, ${TopK + 1}))
                    AS k) ks)
       SELECT CAST(k AS BIGINT) AS k,
              CAST(sum(CASE WHEN trank <= k AND arank IS NOT NULL
                             AND arank <= k THEN 1 ELSE 0 END) AS BIGINT)
                AS n_hit,
              CAST(sum(CASE WHEN trank <= k THEN 1 ELSE 0 END) AS BIGINT)
                AS n_truth,
              round(CAST(sum(CASE WHEN trank <= k AND arank IS NOT NULL
                              AND arank <= k THEN 1 ELSE 0 END) AS DOUBLE)
                    / CAST(sum(CASE WHEN trank <= k THEN 1 ELSE 0 END)
                           AS DOUBLE), 6) AS recall
       FROM f GROUP BY k ORDER BY k"""

  private lazy val annSweepKSql: String = annSweepKSqlOver(annLshSql)

  /** ann_sweep_k_ivf oracle: the same bank over the SERVING-TIER ivf
    * ranking (the nested WITH scopes the ivf CTE names locally, so
    * they can't collide with the truth chain's). */
  private lazy val annSweepKIvfSql: String = annSweepKSqlOver(
    s"""WITH $ivfCtes
        SELECT qid, rank, vec_id, cosine FROM ranked
        WHERE rank <= ${TopK}""")

  /** ann_eval oracle: the ann_lsh chain, the brute-force chain, and
    * the shared metrics tail composed. */
  private lazy val annEvalSql: String = {
    val probeKeys = (0 until 4)
      .map(t => s"'$t#' || CAST(xor(b$t, m) AS VARCHAR)").mkString(", ")
    val masks = probeMasks.mkString("[", ", ", "]")
    s"""WITH $lshBucketCte,
         pm AS (SELECT unnest($masks) AS m),
         pk AS (SELECT qid, unnest([$probeKeys]) AS k
                FROM (SELECT vec_id AS qid, b0, b1, b2, b3 FROM b
                      WHERE vec_id < 10)
                CROSS JOIN pm),
         cand AS (SELECT DISTINCT pk.qid, ck.vec_id
                  FROM ck JOIN pk ON ck.k = pk.k),
         scored_l AS (
           SELECT c.qid, c.vec_id,
                  round(list_cosine_similarity(ec.emb, eq.emb), 6) AS cosine
           FROM cand c
           JOIN e ec ON ec.vec_id = c.vec_id
           JOIN e eq ON eq.vec_id = c.qid),
         al AS (
           SELECT qid, vec_id, rank FROM (
             SELECT qid, vec_id,
                    row_number() OVER (PARTITION BY qid
                      ORDER BY cosine DESC, vec_id) AS rank
             FROM scored_l) WHERE rank <= 5),
         $bruteTruthCtes,
         $evalTailSql"""
  }

  /** ann_eval_ivf oracle: the ann_ivf chain + the same truth and
    * metrics tail. */
  private lazy val annEvalIvfSql: String =
    s"""WITH $ivfCtes,
         al AS (SELECT qid, vec_id, rank FROM ranked WHERE rank <= 5),
         $bruteTruthCtes,
         $evalTailSql"""

  /** ann_knn_join oracle: same bucket CTE, self-joined. */
  private lazy val annKnnJoinSql: String =
    s"""WITH $lshBucketCte,
         cand AS (SELECT DISTINCT a.vec_id AS qid, b.vec_id AS vid
                  FROM ck a JOIN ck b
                    ON a.k = b.k AND a.vec_id <> b.vec_id),
         scored AS (
           SELECT c.qid, c.vid AS vec_id,
                  round(list_cosine_similarity(ea.emb, eb.emb), 6) AS cosine
           FROM cand c
           JOIN e ea ON ea.vec_id = c.qid
           JOIN e eb ON eb.vec_id = c.vid),
         ranked AS (
           SELECT qid, vec_id, cosine,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY cosine DESC, vec_id) AS rank
           FROM scored)
         SELECT qid, rank, vec_id, cosine FROM ranked
         WHERE rank <= 3 ORDER BY qid, rank"""

  /** [[bruteforce]] in plain SQL: broadcast the
    * 10-query side, score with the registered `cosine_sim`, keep
    * top-5 per query with the registered bounded-heap
    * `topk_by_score` aggregate — never a corpus-wide sort. */
  private val BruteforceSparkSql =
    """WITH q AS (SELECT vec_id AS qid, embedding AS qe
                  FROM embeddings WHERE vec_id < 10),
         scored AS (SELECT /*+ BROADCAST(q) */ q.qid, e.vec_id,
                           round(cosine_sim(e.embedding, q.qe), 6) AS cosine
                    FROM embeddings e CROSS JOIN q),
         tk AS (SELECT qid, topk_by_score(cosine, vec_id, 5) AS top
                FROM scored GROUP BY qid)
       SELECT qid, CAST(pos + 1 AS INT) AS rank,
              col.id AS vec_id, col.score AS cosine
       FROM tk LATERAL VIEW posexplode(top) t AS pos, col
       ORDER BY qid, rank"""
}
