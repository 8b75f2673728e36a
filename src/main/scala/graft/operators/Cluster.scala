package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.core.{Query, Tables, WorkingSet}
import graft.functions.PortableHash

/** Nearest-centroid assignment over QUANTIZED (integer) vectors as
  * one fused codegen'd kernel: squared-L2 distance to every centroid
  * of the driver-collected codebook, returning
  * `struct(cid, dist)` for the argmin (ties → lowest cid). All
  * arithmetic is BIGINT, so the assignment (and the reported
  * distance) is bit-identical regardless of partitioning, SIMD, or
  * engine — what makes an ITERATIVE clustering loop oracle-checkable.
  * Same design as [[graft.functions.NearestCells]]: the centroid
  * matrix rides along as one reference object instead of a
  * k×dim-literal expression tree. */
case class NearestCentroidSq(child: Expression, cents: Array[Array[Long]])
    extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("cid", IntegerType, nullable = false),
    StructField("dist", LongType, nullable = false)))
  override def prettyName: String = "nearest_centroid_sq"

  def compute(input: ArrayData): InternalRow = {
    val xs = input.toLongArray()
    var best = 0
    var bestDist = Long.MaxValue
    var k = 0
    while (k < cents.length) {
      val ys = cents(k)
      val m = math.min(xs.length, ys.length)
      var acc = 0L
      var i = 0
      while (i < m) {
        val diff = xs(i) - ys(i)
        acc += diff * diff
        i += 1
      }
      if (acc < bestDist) { bestDist = acc; best = k }
      k += 1
    }
    InternalRow(best, bestDist)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCentroid", this,
      classOf[NearestCentroidSq].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Distributed k-means (Lloyd's iterations) over the embedding
  * corpus — the clustering primitive behind corpus bucketing, IVF
  * coarse quantizers, and topic-shaped data curation.
  *
  * Everything is EXACT-INTEGER fixed point so the whole iterative
  * algorithm hash-matches a pure-SQL oracle (the PageRank
  * discipline applied to ML): vectors quantize once to
  * `floor(x·2²⁰)` BIGINTs (float→double→scale-by-power-of-two is
  * exact IEEE, floor is unambiguous), distances are integer squared
  * L2, and the centroid update is the element-wise integer mean
  * with TRUNCATING division — Java `/`, Spark `DIV` and DuckDB `//`
  * all truncate toward zero, so both engines walk the identical
  * centroid trajectory. Seeds are the k vectors with the smallest
  * portable hash (deterministic, uniformly spread).
  *
  * Scale shape, per iteration: one pass over the cached quantized
  * corpus through the fused [[NearestCentroidSq]] kernel (map-only),
  * then the centroid update aggregates (cid, dim) partial sums
  * map-side — the shuffle carries ≤ k·dim rows per partition no
  * matter the corpus size. The k×dim codebook is collected to the
  * driver each round (bytes, like the IVF codebook at
  * Ann.scala:173) and re-broadcast inside the next round's kernel.
  * At 100 TB nothing in the loop's data flow grows beyond k·dim
  * except the one corpus scan per round.
  */
object Cluster {

  private[graft] val Scale = 1048576L // 2^20 quantization

  /** Largest component magnitude the quantizer accepts: |q| ≤ 2²⁷,
    * so a squared-L2 diff is ≤ (2·2²⁷)² = 2⁵⁶ and a 64-dim sum stays
    * ≤ 2⁶², inside Long. Any real embedding is orders of magnitude
    * under this; rescale if yours is not. */
  private[graft] val MaxAbsComponent = 128f

  /** Largest embedding dimension the squared-distance kernel's Long
    * headroom covers: per-dimension diff² ≤ 2⁵⁶ under
    * [[MaxAbsComponent]], so a d-dim sum stays < 2⁶³ only while
    * d ≤ 2⁷. [[quantized]] enforces it fail-fast — the component
    * gate alone would admit a 1000-dim corpus whose gated-but-extreme
    * components still overflow the distance sum into garbage
    * assignments (silent, the corruption mode worse than a crash). */
  private[graft] val MaxDim = 128

  /** Quantize once to `floor(x·2²⁰)` BIGINTs. HARD INPUT CONTRACT,
    * enforced here: embedding non-NULL with dimension ≤ [[MaxDim]],
    * every component non-NULL, finite AND |x| < 128
    * ([[MaxAbsComponent]]). Spark's `floor` maps NaN to 0L silently
    * (dragging centroids toward the origin for the rest of the
    * trajectory), a finite component ≥ 2⁴³ would saturate the
    * long cast, and a > 128-dim vector would overflow the
    * squared-distance SUM even with every component in range — all
    * are the corruption mode worse than a crash, so training fails
    * fast with the offending vec_id. A NULL component likewise fails
    * here (it would quantize to a NULL q element and poison the
    * kernel) — deliberately the OPPOSITE of [[finiteVectors]]' skip,
    * see that doc for the fail-vs-skip split. (The cosine kernels
    * take the other branch of the same decision: scoring paths DEMOTE
    * non-finite vectors to 0.0 because a ranking must stay total.)
    * The DuckDB twin ([[quantizedCtes]]) carries the same
    * component gate via error(), so both engines refuse the same
    * inputs. */
  private[graft] def quantized(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"),
        when(col("embedding").isNull || size(col("embedding")) > MaxDim,
          raise_error(concat(
            lit(s"kmeans: NULL or over-$MaxDim-dim embedding (dim="),
            coalesce(size(col("embedding")).cast("string"), lit("NULL")),
            lit(") at vec_id="), col("vec_id").cast("string"),
            lit(" — the Long distance headroom requires dim <= 128")))
            .cast("array<long>"))
          .otherwise(transform(col("embedding"), x =>
            when(x.isNull || isnan(x) || abs(x) >= MaxAbsComponent,
              raise_error(concat(
                lit("kmeans: NULL, non-finite or out-of-range (|x| >= 128) " +
                  "embedding component "),
                coalesce(x.cast("string"), lit("NULL")), lit(" at vec_id="),
                col("vec_id").cast("string"),
                lit(" — gate or rescale corrupt vectors upstream"))).cast("long"))
              .otherwise(floor(x.cast("double") * Scale).cast("long"))))
          .as("q"))

  /** DuckDB twin of [[quantized]] with its input gate, to follow a
    * `WITH`: `e(vec_id, q)` over the `embeddings` table, and
    * `x(vec_id, v, d)`, one row per component. */
  private[graft] val quantizedCtes: String =
    s"""e AS (SELECT vec_id,
               CASE WHEN embedding IS NULL OR len(embedding) > $MaxDim
                 THEN CAST(error('quantizer: NULL or over-$MaxDim-dim embedding') AS BIGINT[])
                 ELSE list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CASE WHEN x IS NULL OR isnan(x) OR abs(x) >= $MaxAbsComponent
                        THEN CAST(error('quantizer: NULL, non-finite or out-of-range embedding component') AS BIGINT)
                        ELSE CAST(floor(x * $Scale) AS BIGINT) END) END AS q
             FROM embeddings),
         x AS (SELECT vec_id, unnest(q) AS v,
                      unnest(range(len(q))) AS d FROM e)"""

  /** Rows whose embedding is non-NULL, ≤ [[MaxDim]]-dimensional, and
    * entirely finite / NULL-free / inside the quantizer's range — the
    * SKIP-shaped twin of [[quantized]]'s fail-fast gate, for paths
    * that must make progress past corrupt rows (streaming ingest,
    * serving): a micro-batch that throws is replayed forever by the
    * engine, so a poisoned stream would crash-loop on one bad vector.
    * NULL handling is EXPLICIT and deliberate: a NULL embedding or a
    * NULL component is a corrupt row here and is skipped (where the
    * batch twin fails fast on the same input) — previously this fell
    * out of three-valued logic (forall over a NULL predicate yields
    * NULL, which filter discards); now the predicate says so. */
  private[graft] def finiteVectors(embeddings: DataFrame): DataFrame =
    embeddings.filter(
      col("embedding").isNotNull && size(col("embedding")) <= MaxDim &&
        forall(col("embedding"), x =>
          x.isNotNull && !isnan(x) && abs(x) < MaxAbsComponent))

  /** [[finiteVectors]] + a raise-FREE floor quantization — the whole
    * skip path as one composition. The skip paths must not compose
    * `quantized(finiteVectors(df))` themselves: the fail-fast
    * projection above a filter is an optimizer hazard — predicate
    * pushdown substitutes the raise-bearing CASE into a downstream
    * predicate, and codegen subexpression elimination can then
    * evaluate it EAGERLY, before the skip filter's conjunct
    * short-circuits (observed: ClusterSpec's poisoned-row batch
    * raising through StreamingKmeans after an innocuous quantizer
    * refactor). With no raise_error in the lenient projection there
    * is no evaluation order to get wrong: a corrupt row's expression
    * may compute garbage, but the row itself is filtered out of every
    * result regardless of when the optimizer evaluates what. */
  private[graft] def quantizedLenient(embeddings: DataFrame): DataFrame =
    finiteVectors(embeddings)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * Scale).cast("long")).as("q"))

  private[graft] def assignCol(q: Column, cents: Array[Array[Long]]): Column =
    ColumnBridge.column(NearestCentroidSq(ColumnBridge.expression(q), cents))

  /** DuckDB twin of [[assignCol]] over long-form components: `$d` is
    * the squared-L2 distance of every `$vecs(vec_id, d, v)` vector to
    * every `$cents(cid, d, v)` centroid — per subspace `s = d // dsub`
    * when `dsub > 0` (the PQ encode) — and `$a` keeps the first
    * minimum (`ORDER BY dist, cid` ≡ the kernel's strict `<`). */
  private[graft] def nearestCentroidCtes(d: String, a: String,
      vecs: String, cents: String, dsub: Int = 0): String = {
    val (key, part) =
      if (dsub > 0) (s"x.vec_id, x.d // $dsub AS s", "vec_id, s")
      else ("x.vec_id", "vec_id")
    s"""$d AS (SELECT $key, c.cid,
               CAST(sum((x.v - c.v) * (x.v - c.v)) AS BIGINT) AS dist
             FROM $vecs x JOIN $cents c ON x.d = c.d GROUP BY ALL),
         $a AS (SELECT * FROM $d
             QUALIFY row_number() OVER (PARTITION BY $part
                                        ORDER BY dist, cid) = 1)"""
  }

  def embKmeans(spark: SparkSession, dir: String,
      k: Int = 8, iters: Int = 3): DataFrame =
    kmeansDf(Tables(spark, dir).embeddings, k, iters)

  def kmeansDf(embeddings: DataFrame, k: Int, iters: Int): DataFrame =
    clusterSizes(kmeansAssign(embeddings, k, iters))

  /** Per-cluster size and inertia of an assignment, by cluster id. */
  private def clusterSizes(assigned: DataFrame): DataFrame = assigned
    .groupBy(col("cid").cast("long").as("cluster_id"))
    .agg(count(lit(1)).as("n"), sum(col("dist")).as("inertia"))
    .orderBy("cluster_id")

  /** The per-vector assignment after the Lloyd's rounds:
    * (vec_id, cid, dist) — the blocking input for semantic dedup
    * and any cluster-routed downstream. */
  def kmeansAssign(embeddings: DataFrame, k: Int, iters: Int): DataFrame = {
    val e = WorkingSet(quantized(embeddings))
    kmeansLoop(e, hashSeeds(e, k), iters)._1
  }

  /** THE seed rule: the `k` rows of `df` with the smallest portable
    * hash of `vec_id` (ties → lower vec_id), in that order — the
    * k-means seeds, the PQ subspace seeds, the IVF coarse codebook and
    * the streaming model's first centers are all this sample. ≤ k rows
    * reach the driver (TakeOrdered), never ∝ corpus. DuckDB twin:
    * [[hashSeedsSql]]. */
  private[graft] def hashSeedRows(df: DataFrame, k: Int): Array[Row] =
    df.withColumn("h", PortableHash.h60(col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id")).limit(k).drop("h").collect()

  /** [[hashSeedRows]]' integer vectors `q`, cid in seed order. */
  private[graft] def hashSeeds(df: DataFrame, k: Int): Array[Array[Long]] =
    hashSeedRows(df.select(col("vec_id"), col("q")), k)
      .map(_.getSeq[Long](1).toArray)

  /** DuckDB twin of [[hashSeedRows]]: `src`'s `k` lowest-hash rows,
    * `cid` = 0-based seed order. */
  private[graft] def hashSeedsSql(src: String, k: Int): String =
    s"""SELECT *, row_number() OVER (ORDER BY
                   ${PortableHash.h60Sql("CAST(vec_id AS VARCHAR)")},
                   vec_id) - 1 AS cid
               FROM $src QUALIFY cid < $k"""

  /** The Lloyd's rounds from an EXPLICIT round-0 codebook — the loop
    * body [[kmeansAssign]] and the warm-start resume share. Returns
    * the final assignment and the codebook the loop ENDED holding
    * (the post-update centroids of round iters−1 — the state a
    * resumed run continues from: seeding the next call with it makes
    * `cold(a) then warm(b)` assign-for-assign identical to
    * `cold(a+b−1)`, because the warm phase's first assignment replays
    * the cold run's last). Exact-integer arithmetic makes the whole
    * trajectory a pure function of (corpus, codebook), so resume is
    * BIT-exact — the pagerank warm-start argument applied to ML. */
  private[graft] def kmeansLoop(e: DataFrame, seed: Array[Array[Long]],
      iters: Int): (DataFrame, Array[Array[Long]]) = {
    var cents = seed
    var assigned: DataFrame = null
    for (r <- 1 to iters) {
      assigned = e.withColumn("a", assignCol(col("q"), cents))
        .select(col("vec_id"), col("q"),
          col("a.cid").as("cid"), col("a.dist").as("dist"))
      if (r < iters) {
        // (cid, dim) sums collapse map-side to ≤ k·dim rows per task
        val sums = assigned
          .select(col("cid"), posexplode(col("q")).as(Seq("d", "v")))
          .groupBy(col("cid"), col("d"))
          .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
          .collect()
        val next = cents.map(_.clone()) // empty cluster keeps its centroid
        sums.foreach { row =>
          next(row.getInt(0))(row.getInt(1)) =
            row.getLong(2) / row.getLong(3) // truncating ≡ DuckDB //
        }
        cents = next
      }
    }
    (assigned.select(col("vec_id"), col("cid"), col("dist")), cents)
  }

  /** WARM-START k-means — the third iterative loop to gain a resume
    * path (after pagerank and components): run `itersCold` rounds
    * from the canonical hash seeds, persist nothing but the k×dim
    * codebook, and resume `itersWarm` rounds from it. Because the
    * trajectory is exact-integer, the resumed run is BIT-identical
    * to the straight `itersCold + itersWarm − 1`-round run (the warm
    * phase's first assignment replays the cold run's last — the
    * overlap round is the price of restarting from a codebook rather
    * than a mid-round assignment), so the oracle is the SAME
    * generated unrolled CTE as the cold query at the combined round
    * count. The production read: yesterday's codebook seeds today's
    * run on the grown corpus and the clustering picks up where it
    * converged instead of re-walking from hash seeds. */
  def embKmeansResume(spark: SparkSession, dir: String, k: Int = 8,
      itersCold: Int = 2, itersWarm: Int = 2): DataFrame = {
    val e = WorkingSet(quantized(Tables(spark, dir).embeddings))
    val (_, codebook) = kmeansLoop(e, hashSeeds(e, k), itersCold)
    clusterSizes(kmeansLoop(e, codebook, itersWarm)._1)
  }

  /** The WITH-chain reproducing [[kmeansAssign]] in DuckDB, ending at
    * CTE `a<iters>` = (vec_id, cid, dist). Shared by the k-means
    * oracle and the semantic-dedup oracle so the clustering
    * trajectory has exactly ONE SQL statement of truth. */
  def kmeansAssignCtes(k: Int = 8, iters: Int = 3): String =
    s"""$quantizedCtes,
         ${lloydCtes(k, iters)}"""

  /** DuckDB twin of [[kmeansLoop]] from the [[hashSeeds]], to follow
    * [[quantizedCtes]]: `seeds` and their components `c0`, then per
    * round r the assignment `d<r>`/`a<r>` ([[nearestCentroidCtes]])
    * against `c<r−1>` and, before the last round, the truncating-mean
    * update `u<r>`/`c<r>` (an empty cell keeps its centroid). `vecs`
    * is the `(vec_id, d, v)` relation clustered; `dsub > 0` trains one
    * codebook per subspace ([[Ann.pqCodebooks]]). */
  private[graft] def lloydCtes(k: Int, iters: Int, vecs: String = "x",
      dsub: Int = 0): String = {
    val sub = if (dsub > 0) s" AND x.d // $dsub = a.s" else ""
    val rounds = (1 to iters).map { r =>
      val update = if (r < iters)
        s""",
         u$r AS (SELECT a.cid, x.d,
               CAST(sum(x.v) // count(*) AS BIGINT) AS v
             FROM a$r a JOIN $vecs x ON a.vec_id = x.vec_id$sub GROUP BY 1, 2),
         c$r AS (SELECT p.cid, p.d, coalesce(u.v, p.v) AS v
             FROM c${r - 1} p LEFT JOIN u$r u
               ON p.cid = u.cid AND p.d = u.d)"""
      else ""
      nearestCentroidCtes(s"d$r", s"a$r", vecs, s"c${r - 1}", dsub) + update
    }.mkString(",\n         ")
    s"""seeds AS (${hashSeedsSql("e", k)}),
         c0 AS (SELECT s.cid, x.d, x.v
                FROM seeds s JOIN $vecs x ON s.vec_id = x.vec_id),
         $rounds"""
  }

  /** CLUSTERING-QUALITY readout — what [[graft.operators.Ann.evalOf]]
    * is to the index family: per-cluster SIMPLIFIED SILHOUETTE
    * (Hruschka et al. — a = squared distance to the OWN centroid,
    * b = min squared distance to any OTHER centroid, s = (b−a)/max)
    * over the exact-integer k-means assignment, plus the `__total__`
    * (−1) row. a is the assignment minimum by construction, so
    * b ≥ a and s ∈ [0, 1] — quantized per ROW to exact integer
    * micro-units `((b−a)·10⁶) div max(a,b)` (DECIMAL/HUGEINT
    * intermediate), so the per-cluster means are integer-exact at
    * any partitioning — no order-sensitive float sums. The classic
    * full silhouette is O(n²) pairwise; the centroid-based variant
    * is the one that scales (one pass over n×k distances, k
    * centroid literals broadcast inside the expression). */
  def embKmeansEval(spark: SparkSession, dir: String,
      k: Int = 8, iters: Int = 3): DataFrame = {
    val e = WorkingSet(quantized(Tables(spark, dir).embeddings))
    val (assigned, cents) = kmeansLoop(e, hashSeeds(e, k), iters)
    def distTo(c: Array[Long]): Column =
      aggregate(
        zip_with(col("q"), typedlit(c.toSeq),
          (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, v) => acc + v)
    // the loop's public assignment drops q; rejoin the cached
    // quantized frame for the distance fan-out
    val withD = assigned
      .join(e.select(col("vec_id"), col("q")), Seq("vec_id"))
      .select(col("vec_id"), col("cid"),
        posexplode(array(cents.map(distTo).toIndexedSeq: _*))
          .as(Seq("ci", "dist2")))
    val sil = withD.groupBy(col("vec_id"), col("cid"))
      .agg(max(when(col("ci") === col("cid"), col("dist2"))).as("adist"),
        min(when(col("ci") =!= col("cid"), col("dist2"))).as("bdist"))
    val s = WorkingSet(sil.select(col("cid"),
      expr("""CASE WHEN greatest(adist, bdist) = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST((CAST(bdist - adist AS DECIMAL(38,0)) * 1000000)
                        div greatest(adist, bdist) AS BIGINT) END""")
        .as("s_micro")))
    val per = s.groupBy(col("cid").cast("long").as("cluster_id"))
      .agg(count(lit(1)).as("n"),
        expr("sum(s_micro) div count(*)").cast("long")
          .as("mean_sil_micro"))
    per.unionByName(
        s.agg(count(lit(1)).as("n"),
            expr("sum(s_micro) div count(*)").as("msm"))
          .select(lit(-1L).as("cluster_id"), col("n"),
            col("msm").cast("long").as("mean_sil_micro")))
      .orderBy("cluster_id")
  }

  /** Generated DuckDB oracle for [[embKmeansEval]] — the unrolled
    * k-means CTE chain (d\$iters already holds every vector×centroid
    * distance of the final round) + the same integer silhouette
    * tail. */
  def kmeansEvalOracleSql(k: Int = 8, iters: Int = 3): String =
    s"""WITH ${kmeansAssignCtes(k, iters)},
         sil AS (SELECT d.vec_id, a.cid,
                   max(CASE WHEN d.cid = a.cid THEN d.dist END) AS adist,
                   min(CASE WHEN d.cid != a.cid THEN d.dist END) AS bdist
                 FROM d$iters d JOIN a$iters a ON a.vec_id = d.vec_id
                 GROUP BY 1, 2),
         s AS (SELECT cid,
                 CASE WHEN greatest(adist, bdist) = 0 THEN 0
                      ELSE CAST((CAST(bdist - adist AS HUGEINT) * 1000000)
                                // greatest(adist, bdist) AS BIGINT) END
                   AS s_micro
               FROM sil),
         per AS (SELECT CAST(cid AS BIGINT) AS cluster_id,
                        CAST(count(*) AS BIGINT) AS n,
                        CAST(sum(s_micro) // count(*) AS BIGINT)
                          AS mean_sil_micro
                 FROM s GROUP BY 1)
       SELECT * FROM per
       UNION ALL
       SELECT -1, CAST(count(*) AS BIGINT),
              CAST(sum(s_micro) // count(*) AS BIGINT) FROM s
       ORDER BY cluster_id"""

  /** The DuckDB oracle: the SAME quantization, seeding, and
    * truncating-integer Lloyd's rounds unrolled as chained CTEs. */
  def kmeansOracleSql(k: Int = 8, iters: Int = 3): String =
    s"""WITH ${kmeansAssignCtes(k, iters)}
         SELECT CAST(cid AS BIGINT) AS cluster_id, count(*) AS n,
                CAST(sum(dist) AS BIGINT) AS inertia
         FROM a$iters GROUP BY 1 ORDER BY 1"""

  // --- coreset sampling --------------------------------------------

  /** Sample rows kept across all clusters (quota floors can push the
    * actual total a few rows either side — each cluster keeps ≥ 1). */
  val CoresetBudget = 64

  /** k-means coreset sampling (SURVEY §2 roadmap item): a small
    * weighted sample whose per-cluster share follows the cluster's
    * squared-distance mass — the sensitivity signal of lightweight
    * coreset constructions (Bachem et al., 2018): high-inertia
    * clusters are where a cluster-training pass needs resolution, so
    * they get proportionally more of the budget (every cluster keeps
    * at least one representative). Within a cluster the members are
    * chosen uniformly and deterministically: bottom-m by the 60-bit
    * portable hash — reproducible across engines, runs, partitionings
    * (the [[graft.functions.BottomKSampleAgg]] argument), so the
    * oracle can replay the exact sample. Each kept row carries weight
    * `n_c / m_c`, making the sample an unbiased estimator of
    * cluster-level totals: Σ weights ≡ N (before round-6).
    *
    * Scale shape: one assignment pass (fused codegen kernel against
    * the collected codebook), one tiny per-cluster stats aggregate
    * broadcast back, and per-cluster bottom-m selection through the
    * bounded-heap top-k aggregate — map-side partials cap every
    * partition's contribution at `budget` entries per cluster, so no
    * Window funnels a 100 TB cluster through one task. The quota
    * arithmetic runs in DOUBLE (not `budget·s_c` BIGINT, which
    * overflows ~2^73 at billions of vectors).
    *
    * [[kmeansAssign]]'s returned frame embeds the final centroids as
    * literals (the Lloyd's collects run once, at plan-build), so the
    * two consumers below cost two cheap scans, not two re-clusterings. */
  def embCoreset(spark: SparkSession, dir: String,
      budget: Int = CoresetBudget, k: Int = 8, iters: Int = 3): DataFrame =
    coresetDf(Tables(spark, dir).embeddings, budget, k, iters)

  def coresetDf(embeddings: DataFrame, budget: Int, k: Int,
      iters: Int): DataFrame = {
    val assigned = kmeansAssign(embeddings, k, iters)
    val st = assigned.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_c"), sum(col("dist")).as("s_c"))
    val tot = st.agg(sum(col("s_c")).as("s_tot"))
    val quota = st.crossJoin(broadcast(tot))
      .select(col("cid"), col("n_c"),
        least(
          when(col("s_tot") === 0, lit(1L)).otherwise(
            greatest(lit(1L),
              floor(lit(budget.toDouble) * col("s_c").cast("double") /
                col("s_tot").cast("double")).cast("long"))),
          col("n_c")).as("m_c"))
    val h = PortableHash.h60(concat(lit("cs#"), col("vec_id").cast("string")))
    val picked = assigned
      .withColumn("hneg", -h.cast("double"))
      .groupBy(col("cid"))
      .agg(graft.functions.TopKScoreAgg.topk(
        col("hneg"), col("vec_id"), budget).as("a"))
      .select(col("cid"), posexplode(col("a")).as(Seq("p", "e")))
      .select(col("cid"), col("e.id").as("vec_id"), (col("p") + 1).as("rnk"))
    picked.join(broadcast(quota), Seq("cid"))
      .filter(col("rnk") <= col("m_c"))
      .select(col("vec_id"), col("cid").cast("long").as("cluster"),
        round(col("n_c").cast("double") / col("m_c").cast("double"), 6)
          .as("weight"))
      .orderBy("vec_id")
  }

  /** The DuckDB coreset oracle: the k-means CTE chain plus the same
    * DOUBLE quota arithmetic and the same bottom-m-by-hash selection
    * (rank order `CAST(h AS DOUBLE) ASC, vec_id` ≡ the Spark side's
    * `(-h_double DESC, vec_id ASC)` heap order — IEEE negation is
    * exact). */
  def coresetOracleSql(budget: Int = CoresetBudget, k: Int = 8,
      iters: Int = 3): String =
    s"""WITH ${kmeansAssignCtes(k, iters)},
         st AS (SELECT cid, count(*) AS n_c, CAST(sum(dist) AS BIGINT) AS s_c
                FROM a$iters GROUP BY 1),
         tot AS (SELECT CAST(sum(s_c) AS BIGINT) AS s_tot FROM st),
         quota AS (SELECT cid, n_c,
                     least(CASE WHEN s_tot = 0 THEN 1
                           ELSE greatest(1, CAST(floor(
                             CAST($budget AS DOUBLE) * CAST(s_c AS DOUBLE)
                             / CAST(s_tot AS DOUBLE)) AS BIGINT)) END,
                           n_c) AS m_c
                   FROM st CROSS JOIN tot),
         hr AS (SELECT vec_id, cid,
                  row_number() OVER (PARTITION BY cid ORDER BY
                    CAST(${PortableHash.h60Sql("'cs#' || CAST(vec_id AS VARCHAR)")} AS DOUBLE),
                    vec_id) AS rnk
                FROM a$iters)
         SELECT h.vec_id, CAST(h.cid AS BIGINT) AS cluster,
                round(CAST(q.n_c AS DOUBLE) / CAST(q.m_c AS DOUBLE), 6) AS weight
         FROM hr h JOIN quota q ON h.cid = q.cid
         WHERE h.rnk <= q.m_c ORDER BY vec_id"""

  // --- dominant principal direction (power iteration) ---------------

  /** Power-iteration rounds for [[embPca]] — fixed so the generated
    * oracle unrolls the same trajectory by construction. */
  val PcaRounds: Int = 8

  /** Post-quantization downshift: `q div 2¹³` leaves 14-bit
    * components, so a second-moment cell `Σ x_j·x_k` stays a plain
    * BIGINT sum (≤ 2²⁸ per vector — headroom to 2³⁵ ≈ 34 billion
    * vectors) with no decimal widening anywhere. The shift IS the
    * spec: both engines aggregate the identical integers. */
  private val PcaShift = 8192L

  /** DOMINANT PRINCIPAL DIRECTION of the embedding corpus — the
    * dimensionality-reduction / whitening primitive (top singular
    * direction of the uncentered second-moment matrix `C = Σ x xᵀ`),
    * by power iteration in EXACT integer arithmetic, so an iterative
    * linear-algebra algorithm sits under the cross-engine hash gate
    * like kmeans/pagerank do.
    *
    * Scale shape: the data-scaling work is ONE pass that folds each
    * partition's vectors into a LOCAL d×d gram accumulator (a tight
    * per-partition loop — the genuine imperative-kernel case) and
    * emits d² partial rows PER PARTITION; the only exchange carries
    * partitions×d² partial cells, never a per-vector or per-pair row
    * (the exploded outer-product formulation re-evaluated the
    * quantization gate under the generator — 3.3 s → 0.6 s at sf0.1,
    * identical cells). C (d² ≤ 4096 values) is a codebook-scale
    * driver round-trip, and the iteration itself is d²-sized driver
    * arithmetic on exact BigInt — the kmeans codebook discipline:
    * collect what is bounded by construction, distribute what scales
    * with the corpus.
    *
    * Exactness: quantize → downshift are truncating integer ops
    * (Spark `div` ≡ DuckDB `//` ≡ Java/BigInt `/`, all toward zero);
    * each round is `w = C·v` (exact), then L∞ renormalization
    * `v' = (w·2²⁰) div max|w|` (truncating). Sign convention: the
    * largest-|component| dimension (ties → smallest index) is made
    * non-negative. The oracle walks the identical unrolled rounds in
    * HUGEINT. */
  def embPca(spark: SparkSession, dir: String): DataFrame =
    embPcaDf(graft.core.Tables(spark, dir).embeddings)

  def embPcaDf(embeddings: DataFrame, rounds: Int = PcaRounds): DataFrame = {
    val spark = embeddings.sparkSession
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("dim_idx",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType)))
    // per-partition gram accumulation: one corpus pass, d² partial
    // rows per partition on the wire, folded to the d² cell table
    import spark.implicits._
    val cells = quantized(embeddings)
      .select(expr(s"transform(q, x -> x div $PcaShift)").as("s"))
      .as[Array[Long]]
      .mapPartitions { it =>
        var acc: Array[Array[Long]] = null
        it.foreach { s =>
          if (acc == null) acc = Array.ofDim[Long](s.length, s.length)
          var j = 0
          while (j < s.length) {
            var k = 0
            while (k < s.length) { acc(j)(k) += s(j) * s(k); k += 1 }
            j += 1
          }
        }
        if (acc == null) Iterator.empty
        else acc.indices.iterator.flatMap(j =>
          acc.indices.iterator.map(k => (j, k, acc(j)(k))))
      }
      .toDF("j", "k", "p")
      .groupBy(col("j"), col("k"))
      .agg(sum(col("p")).as("c"))
      .collect()
    if (cells.isEmpty)
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), outSchema)
    val d = cells.map(_.getInt(0)).max + 1
    val c = Array.ofDim[BigInt](d, d)
    for (i <- 0 until d; k <- 0 until d) c(i)(k) = BigInt(0)
    cells.foreach(r => c(r.getInt(0))(r.getInt(1)) = BigInt(r.getLong(2)))
    var v = Array.fill(d)(BigInt(Scale))
    for (_ <- 1 to rounds) {
      val w = Array.tabulate(d)(j =>
        (0 until d).map(k => c(j)(k) * v(k)).sum)
      val m = w.map(_.abs).max
      if (m != 0) v = w.map(x => x * Scale / m) // BigInt / truncates
    }
    val jStar = (0 until d).minBy(j => (-v(j).abs, j))
    val sign = if (v(jStar) < 0) BigInt(-1) else BigInt(1)
    val rows: Seq[org.apache.spark.sql.Row] = (0 until d).map(j =>
      org.apache.spark.sql.Row(j, (v(j) * sign).toLong))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), outSchema)
      .orderBy("dim_idx") // bounded: d rows
  }

  /** The DuckDB oracle: identical quantize/downshift carve, C via a
    * vec_id self-join (value-identical to the engine's map-side outer
    * product), and [[PcaRounds]] unrolled matvec + L∞-renormalize
    * rounds in HUGEINT with the same truncating division. */
  def embPcaOracleSql(rounds: Int = PcaRounds): String = {
    // MATERIALIZED is load-bearing: every round references its
    // predecessor through BOTH the matvec and the max-abs scalar, so
    // plain (inlined) CTEs re-evaluate the whole prefix 2^rounds
    // times — the 8-round chain goes from minutes to milliseconds
    val chain = (1 to rounds).map { r =>
      s"""w$r AS MATERIALIZED (
             SELECT c.cj AS j, sum(CAST(c.c AS HUGEINT) * v.v) AS w
             FROM c JOIN v${r - 1} v ON c.ck = v.j GROUP BY c.cj),
         m$r AS (SELECT max(abs(w)) AS m FROM w$r),
         v$r AS MATERIALIZED (
                 SELECT j, CASE WHEN m = 0 THEN CAST(0 AS HUGEINT)
                                ELSE (w * $Scale) // m END AS v
                 FROM w$r, m$r)"""
    }.mkString(",\n         ")
    s"""WITH $quantizedCtes,
         xs AS (SELECT vec_id, d AS j, v // $PcaShift AS v FROM x),
         c AS MATERIALIZED (
               SELECT a.j AS cj, b.j AS ck, CAST(sum(a.v * b.v) AS BIGINT) AS c
               FROM xs a JOIN xs b ON a.vec_id = b.vec_id GROUP BY 1, 2),
         v0 AS (SELECT DISTINCT cj AS j, CAST($Scale AS HUGEINT) AS v FROM c),
         $chain,
         js AS (SELECT j FROM v$rounds ORDER BY abs(v) DESC, j LIMIT 1),
         sg AS (SELECT CASE WHEN (SELECT v FROM v$rounds
                                  WHERE j = (SELECT j FROM js)) < 0
                            THEN -1 ELSE 1 END AS s)
         SELECT CAST(f.j AS INT) AS dim_idx, CAST(f.v * sg.s AS BIGINT) AS v
         FROM v$rounds f, sg ORDER BY dim_idx"""
  }

  /** This object's queries, each with its DuckDB oracle (see [[graft.core.Query]]). */
  lazy val queries: Seq[Query] = Seq(
    // generated unrolled-CTE Lloyd's rounds (the PageRank trick):
    // same quantization, seeds, and truncating-integer updates
    Query("emb_kmeans", (s, d) => embKmeans(s, d), kmeansOracleSql()),
    // per-cluster simplified silhouette in integer micro-units over
    // the same unrolled Lloyd's chain (d3 already holds all n×k
    // final-round distances)
    Query("emb_kmeans_eval", (s, d) => embKmeansEval(s, d), kmeansEvalOracleSql()),
    // power iteration on the second-moment matrix: exact-integer
    // matvec + L-infinity renormalize rounds unrolled in HUGEINT
    Query("emb_pca", embPca, embPcaOracleSql()),
    // resume(2 cold + 2 warm) is BIT-identical to the straight 3-round
    // run (the warm phase's first assignment replays the cold run's
    // last), so the oracle IS the cold query's generated unroll at the
    // combined round count — the strongest possible resume statement
    Query("emb_kmeans_resume", (s, d) => embKmeansResume(s, d), kmeansOracleSql(8, 3)),
    // same CTE chain + DOUBLE quota arithmetic + bottom-m-by-hash
    Query("emb_coreset", (s, d) => embCoreset(s, d), coresetOracleSql()),
  )
}
