package graft

import org.apache.spark.sql.functions._

/** IVF serving-tier pricing probe (r13): the persisted
  * cell-partitioned index at a production-SHAPED operating point.
  *
  * The inline `ann_ivf` row prices the 64-cell test codebook over the
  * 2000-vector sf0.1 corpus — correct, but not the serving shape.
  * This probe replicates the sf0.1 embeddings R× into disjoint vec_id
  * ranges (the dedup8 replication discipline: same distribution,
  * honest scale-up) and sizes the codebook at K cells with K ≫
  * nprobe, so a probe's pruned read touches nprobe/K of the corpus —
  * the ratio a production 2¹⁴-cell index lives on. Stamps:
  *  - `build_sec` — one-off ingest cost (assign + partitioned write),
  *  - `probe_sec_med` — the serving read (partition-pruned, median of
  *    reps),
  *  - `inline_sec_med` — the same ranking WITHOUT the index (full
  *    scan + assignment per query batch), the do-nothing baseline,
  *  - `pruned` — whether the executed probe plan shows dynamic
  *    partition pruning / partition filters,
  *  - steal/loadavg honesty fields (the Bench discipline).
  *
  * Env knobs: SPARK_GRAFT_SF_DIR (default sf0.1),
  * SPARK_GRAFT_IVF_REPL (default 32 ⇒ 64k vectors),
  * SPARK_GRAFT_IVF_K (default 2048), SPARK_GRAFT_IVF_OUT.
  */
object BenchIvf {
  private def timeNoop(df: => org.apache.spark.sql.DataFrame): Double =
    graft.core.WorkingSet.scope {
      val built = df
      val t0 = System.nanoTime()
      built.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repl = sys.env.getOrElse("SPARK_GRAFT_IVF_REPL", "32").toInt
    val k = sys.env.getOrElse("SPARK_GRAFT_IVF_K", "2048").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = graft.core.GraftSession()
    val la0 = Bench.loadavg1(); val st0 = Bench.stealJiffies()

    // stage the replicated corpus as a corpus dir (embeddings.parquet)
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val n = base.count()
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfprice").toString
    base.crossJoin(broadcast(
        spark.range(repl).select(col("id").as("rep"))))
      .select((col("vec_id") + col("rep") * n).as("vec_id"),
        col("embedding"), col("label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val corpusN = n * repl

    // one-off ingest: assign + cell-partitioned write
    val idx = s"$dir/ivf_idx"
    val tb = System.nanoTime()
    operators.Ann.buildIvfIndex(spark, dir, idx, k)
    val buildSec = (System.nanoTime() - tb) / 1e9

    // serving probe (partition-pruned read), cold per rep
    val probeSecs = (1 to reps).map { _ =>
      spark.catalog.clearCache()
      timeNoop(operators.Ann.ivfIndexed(spark, dir, idx, k))
    }.sorted
    val plan = operators.Ann.ivfIndexed(spark, dir, idx, k)
      .queryExecution.executedPlan.toString
    val pruned =
      plan.contains("dynamicpruning") || plan.contains("PartitionFilters")

    // no-index baseline: full scan + per-row assignment each batch
    val inlineSecs = (1 to reps).map { _ =>
      spark.catalog.clearCache()
      timeNoop(operators.Ann.ivf(spark, dir, operators.Ann.NProbe, k))
    }.sorted

    val la1 = Bench.loadavg1()
    val steal = (Bench.stealJiffies() - st0) / 100.0
    def r3(v: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", v)
    val json =
      s"""{"metric":"ivf_index_price","unit":"sec","sf":"$sfDir",""" +
        s""""repl":$repl,"corpus_vectors":$corpusN,"k_cells":$k,""" +
        s""""nprobe":${operators.Ann.NProbe},""" +
        s""""build_sec":${r3(buildSec)},""" +
        s""""probe_sec_med":${r3(probeSecs(probeSecs.length / 2))},""" +
        s""""probe_sec_min":${r3(probeSecs.head)},""" +
        s""""inline_sec_med":${r3(inlineSecs(inlineSecs.length / 2))},""" +
        s""""inline_sec_min":${r3(inlineSecs.head)},""" +
        s""""pruned":$pruned,"reps":$reps,""" +
        s""""steal_sec":${r3(steal)},"loadavg_start":$la0,"loadavg_end":$la1}"""
    val out = sys.env.get("SPARK_GRAFT_IVF_OUT")
    out.foreach(p => java.nio.file.Files.writeString(
      java.nio.file.Paths.get(p), json))
    println(json)
    spark.stop()
  }
}
