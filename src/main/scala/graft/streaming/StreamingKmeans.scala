package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import org.apache.spark.sql.DataFrame

import graft.operators.Cluster

/** Streaming incremental k-means (SURVEY §2 roadmap item): the
  * running-average ("online Lloyd's") variant of mini-batch k-means
  * (Sculley, WWW'10) over an embedding stream, in the repo's
  * exact-integer discipline so every centroid step is deterministic
  * and partitioning-invariant.
  *
  * Model state lives on the driver — a k×dim cumulative-sum matrix
  * plus per-center counts, a few KB like the batch Lloyd's codebook —
  * while ALL per-vector work is distributed: each micro-batch assigns
  * its vectors through the fused [[graft.operators.NearestCentroidSq]]
  * codegen kernel against the centroids frozen at batch start, then
  * collapses to (cid, dim) partial sums map-side, so the driver sees
  * ≤ k·dim rows per batch however large the batch. Update rule:
  * cumulative `S_cd += batch sums`, `N_c += batch counts`,
  * `centroid = S_cd / N_c` truncating — i.e. each vector is
  * permanently credited to the center nearest when it arrived, and
  * centers are exact integer means of their credited vectors. Per-step
  * learning rate is 1/N_c, the Sculley schedule, emerging from the
  * running mean rather than a float hyperparameter.
  *
  * Seeding is the batch discipline: the first micro-batch's k
  * smallest-portable-hash vectors (deterministic; a center that never
  * wins keeps its seed). The trajectory depends on how the stream is
  * batched — inherent to ANY mini-batch k-means — but given the same
  * batch boundaries it is bit-reproducible: within a batch everything
  * is order-independent integer arithmetic (StreamingSpec replays the
  * same split through a sequential reference fold and matches the
  * centroids exactly, and checks clustering quality against the
  * planted-blob corpus).
  */
final class StreamingKmeans(val k: Int) extends Serializable {

  private var sums: Array[Array[Long]] = _
  private var counts: Array[Long] = _
  private var cents: Array[Array[Long]] = _
  private var lastBatchId: Long = -1L

  /** Quantized (2^20 fixed-point) centroids; defined after the first
    * non-empty batch. */
  def centroids: Array[Array[Long]] = cents.map(_.clone())

  /** Centers that have won at least one vector. */
  def activeCenters: Int = counts.count(_ > 0L)

  /** Assign a (vec_id, embedding) frame against the CURRENT centroids
    * — the serving path; also usable on a static frame after the
    * stream drains. Corrupt rows (non-finite or out-of-range
    * components) are SKIPPED, not raised: one poisoned vector must
    * not fail a million-row serving job — the batch trainer
    * ([[graft.operators.Cluster.kmeansAssign]]) is the surface that
    * fails fast instead. */
  def assign(embeddings: DataFrame): DataFrame = {
    require(cents != null, "model not seeded yet")
    Cluster.quantizedLenient(embeddings)
      .withColumn("a", Cluster.assignCol(col("q"), cents))
      .select(col("vec_id"), col("a.cid").as("cid"), col("a.dist").as("dist"))
  }

  /** Replay-guarded mini-batch step for the foreachBatch sink: Spark
    * re-executes a micro-batch after a failure, and without the guard
    * its partial sums would be credited into the cumulative state
    * TWICE, silently corrupting every centroid (the same defect the
    * exactly-once landing sink dedups by batchId). Monotonic ids only
    * — a replayed or out-of-order id is a no-op. The id advances
    * AFTER the apply: a batch that throws mid-apply is retried, not
    * silently skipped (the residual caveat is partial double-credit
    * if the failure hit between per-partition sums landing — the
    * far rarer window; a skipped batch loses its vectors forever). */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    if (batchId <= lastBatchId) return
    processBatch(batch)
    lastBatchId = batchId
  }

  /** One mini-batch step, unguarded. The unit the spec's reference
    * fold replays; stream sinks go through the batchId overload.
    * Corrupt vectors are SKIPPED (see [[assign]]): a micro-batch
    * that throws is replayed verbatim by the engine on restart, so
    * the quantizer's fail-fast would wedge the whole stream on one
    * bad row — a crash-loop with no skip path. The filter makes the
    * dropped rows' absence the observable signal instead. */
  def processBatch(batch: DataFrame): Unit = {
    val q = Cluster.quantizedLenient(batch)
    if (cents == null) {
      val seeds = Cluster.hashSeeds(q, k)
      if (seeds.isEmpty) return // empty first batch: stay unseeded
      cents = seeds
      sums = Array.fill(k)(new Array[Long](seeds.head.length))
      counts = new Array[Long](k)
    } else if (cents.length < k) {
      // a first batch smaller than k would otherwise cap the model
      // below k forever: top up unseeded centers from later batches
      // until all k exist (their sums/counts slots are already sized
      // k and still zero). Candidates equal to an existing center
      // are skipped — assignment ties break to the lower cid, so a
      // duplicate seed could never win a vector and would leave a
      // permanently dead center. The fold threads `have` through the
      // candidate list itself: two identical quantized vectors inside
      // ONE top-up batch must not both seed (the second would be the
      // same dead duplicate the pre-existing check guards against).
      var have = cents.map(_.toSeq).toSet
      Cluster.hashSeeds(q, k - cents.length).foreach { c =>
        if (cents.length < k && !have.contains(c.toSeq)) {
          cents = cents :+ c
          have = have + c.toSeq
        }
      }
    }
    val parts = q
      .withColumn("a", Cluster.assignCol(col("q"), cents))
      .select(col("a.cid").as("cid"), posexplode(col("q")).as(Seq("d", "v")))
      .groupBy(col("cid"), col("d"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .collect()
    parts.foreach { r =>
      val c = r.getInt(0); val d = r.getInt(1)
      sums(c)(d) += r.getLong(2)
      if (d == 0) counts(c) += r.getLong(3)
    }
    var c = 0
    while (c < cents.length) {
      if (counts(c) > 0L) {
        var d = 0
        while (d < cents(c).length) {
          cents(c)(d) = sums(c)(d) / counts(c) // truncating, Lloyd's twin
          d += 1
        }
      }
      c += 1
    }
  }
}

object StreamingKmeans {

  /** The on-disk embeddings schema. */
  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** File-source stream over an embeddings parquet path. */
  def readEmbeddings(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.readStream.schema(embeddingsSchema).parquet(path)

  /** Attach a model to an embedding stream: each micro-batch is one
    * distributed assignment + one driver-side centroid step. */
  def fit(model: StreamingKmeans, embeddings: DataFrame): StreamingQuery =
    embeddings.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        model.processBatch(batch, batchId)
      }
      .start()
}
