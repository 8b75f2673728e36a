package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.Streams

/** Streaming throughput micro-bench: sustained events/second for
  * representative streaming surfaces, measured by replaying the
  * `events` (and `documents`) tables through a multi-file parquet
  * stream with `Trigger.AvailableNow` + `maxFilesPerTrigger`, i.e. a
  * fixed micro-batch ladder ending in a clean drain. The correctness
  * of every surface is pinned by StreamingSpec (stream ≡ batch); this
  * main adds the missing PERFORMANCE evidence — prints ONE JSON line
  * and writes it to BENCH_STREAM.json (or SPARK_GRAFT_STREAM_OUT).
  *
  * The measured quantity is engine capacity, not source pacing: every
  * input file is already on disk when the query starts, so the run is
  * back-to-back micro-batches with no trigger idle time. `rows_per_sec`
  * = input rows / wall seconds across the whole drain, amortizing
  * per-batch planning overhead over [[BenchStream.NFiles]] batches —
  * the number a capacity planner actually needs (micro-batch cadence
  * at 100 TB/day is a config knob; per-row cost is the engine truth).
  *
  * Surfaces (one per streaming state family):
  *  - `window_counts`   — watermarked tumbling-window aggregate
  *  - `topk_window`     — bounded top-k aggregate per window
  *  - `spacesaving_win` — Misra-Gries heavy-hitter summary per window
  *  - `dedup_gate`      — dropDuplicatesWithinWatermark admission gate
  *  - `sessionize`      — flatMapGroupsWithState custom sessionizer
  *  - `wordcount`       — complete-mode global aggregate over documents
  *  - `funnel`/`funnel_rocksdb`, `sessionize_rocksdb` — the two
  *    grows-with-traffic state surfaces, each priced on the default
  *    and RocksDB providers
  *  - `window_counts_pt1s` — the same windowed aggregate driven at a
  *    REAL ProcessingTime(1 s) cadence: wall clock includes trigger
  *    idle, plus the median per-batch latency a capacity plan needs
  */
object BenchStream {

  /** Input files staged per table — also the micro-batch count (one
    * file per trigger), so every surface pays ~NFiles rounds of batch
    * planning, like a real 24/7 run does per day. */
  val NFiles = 8

  /** Stage a table as [[NFiles]] stream-input files. Tables with a
    * `ts` column are sliced into CONSECUTIVE TIME RANGES written in
    * order (increasing file mtimes → the file source replays them
    * oldest-first): a real event stream arrives roughly time-ordered
    * within the watermark tolerance, and the stateful surfaces'
    * event-time timeouts are only defined under that contract — a
    * random shuffle of history into micro-batches is not a stream,
    * it's a corrupted replay. */
  private def stage(spark: SparkSession, src: String, dst: String): Long = {
    import org.apache.spark.sql.functions.col
    val raw = spark.read.parquet(src)
    val n = raw.count()
    if (raw.columns.contains("ts")) {
      val df = graft.core.Tables.normalizeTs(raw, "ts")
        .withColumn("tsd", col("ts").cast("double"))
      val qs = df.stat.approxQuantile("tsd",
        (1 until NFiles).map(_.toDouble / NFiles).toArray, 0.001)
      val bounds = (Double.NegativeInfinity +: qs.toSeq) :+
        Double.PositiveInfinity
      bounds.sliding(2).zipWithIndex.foreach {
        case (Seq(lo, hi), i) =>
          df.filter(col("tsd") >= lo && col("tsd") < hi).drop("tsd")
            .coalesce(1).write
            .mode(if (i == 0) "overwrite" else "append").parquet(dst)
        case _ =>
      }
    } else raw.repartition(NFiles).write.mode("overwrite").parquet(dst)
    n
  }

  /** Drive a surface at a real trigger cadence until the staged rows
    * drain, returning (wall seconds, median busy-batch
    * triggerExecution ms, busy-batch count). Unlike [[time]]'s
    * AvailableNow drain the wall clock here INCLUDES trigger idle —
    * by design: that is the throughput a 24/7 run at this cadence
    * sustains. recentProgress (default 100 entries) comfortably holds
    * the ≈[[NFiles]] busy batches this ladder produces. */
  /** One cadence-driven run's readout: wall seconds (INCLUDING
    * trigger idle), median busy-batch triggerExecution ms, busy-batch
    * count, rows actually drained, and whether the staged input fully
    * drained before the 5-minute hard stop. `drained = false` rows
    * are explicit in the JSON (and rows/rows_per_sec reflect the
    * ACTUAL drained count) so a wedged source can never masquerade as
    * a throughput number. */
  private case class CadenceRun(wall: Double, batchMsMed: Double,
      busyBatches: Int, rows: Long, drained: Boolean)

  private def timeAtCadence(df: DataFrame, expectRows: Long,
      cadence: String = "1 second"): CadenceRun = {
    val q = df.writeStream.format("noop")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_bspt").toString)
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(cadence))
      .start()
    val t0 = System.nanoTime()
    try {
      var seen = 0L
      var drained = false
      // 5-minute hard stop: a wedged source must FAIL the row — the
      // drained flag and actual row count travel into the JSON
      while (!drained && (System.nanoTime() - t0) < 300e9) {
        Thread.sleep(200)
        seen = q.recentProgress.map(_.numInputRows).sum
        drained = seen >= expectRows
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val busy = q.recentProgress.filter(_.numInputRows > 0)
      val batchMs = busy
        .map(p => Option(p.durationMs.get("triggerExecution"))
          .map(_.toLong).getOrElse(0L))
        .sorted
      val med =
        if (batchMs.isEmpty) -1.0 else batchMs(batchMs.length / 2).toDouble
      CadenceRun(wall, med, busy.length, seen, drained)
    } finally q.stop()
  }

  private def time(df: DataFrame, mode: String = "append"): Double = {
    val q = df.writeStream.format("noop")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_bsck").toString)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    val t0 = System.nanoTime()
    try q.awaitTermination() finally q.stop()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.core.GraftSession.cores
    val spark = graft.core.GraftSession(cpus)
    val tmp = java.nio.file.Files.createTempDirectory("graft_bstream").toString
    val nEvents = stage(spark, s"$sfDir/events.parquet", s"$tmp/events")
    val nDocs = stage(spark, s"$sfDir/documents.parquet", s"$tmp/documents")
    // the [[Streams.readEvents]] schema/normalize discipline, plus the
    // per-trigger file cap that shapes the micro-batch ladder
    def eventsCapped() = graft.core.Tables.normalizeTs(
      spark.readStream
        .schema(spark.read.parquet(s"$tmp/events").schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$tmp/events"), "ts")
    def docsCapped() = spark.readStream
      .schema(spark.read.parquet(s"$tmp/documents").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$tmp/documents")
    val surfaces: Seq[(String, () => DataFrame, Long, String)] = Seq(
      ("window_counts",
        () => Streams.windowCounts(eventsCapped()), nEvents, "append"),
      ("topk_window",
        () => Streams.topkWindowSpend(eventsCapped()), nEvents, "append"),
      ("spacesaving_win",
        () => Streams.spaceSavingWindow(eventsCapped()), nEvents, "append"),
      ("dedup_gate",
        () => Streams.dedupEvents(eventsCapped()), nEvents, "append"),
      ("sessionize",
        () => Streams.sessionizeWithState(spark, eventsCapped()), nEvents,
        "append"),
      // r12: the funnel's per-user view/chain lists are the other
      // state shape that genuinely grows in production — priced here
      // and re-priced under RocksDB below (funnel_rocksdb)
      ("funnel",
        () => Streams.funnelStream(spark, eventsCapped()), nEvents,
        "append"),
      // r9 drift monitor: one bounded stateful aggregate per day window
      ("psi_window",
        () => Streams.psiWindow(eventsCapped(),
          Map("click" -> 2L, "view" -> 2L, "purchase" -> 2L,
            "signup" -> 2L, "error" -> 2L)), nEvents, "append"),
      // r10 data-quality gate: fixed counter set per day window
      ("checks_window",
        () => Streams.checksWindow(eventsCapped(),
          Seq("click", "view", "purchase", "signup")), nEvents, "append"),
      // the reference's flagship wordcount as a stream: complete-mode
      // global aggregate (the count table IS the state)
      ("wordcount",
        () => Streams.wordcountStream(docsCapped()), nDocs, "complete"),
      // update-mode twin: emits only keys whose counts CHANGED in the
      // micro-batch instead of re-emitting the whole vocabulary table
      // every trigger — the adjudication pair for the wordcount row's
      // apparent throughput gap. (The gap's main driver is units:
      // this surface's "row" is a whole document — hundreds of
      // tokens exploded per input row, ~20× nEvents' per-row work —
      // amortized over the same ~8-batch fixed planning cost. The
      // complete-vs-update delta isolates what re-emission adds on
      // top; at production vocab sizes update mode is the only shape
      // that survives, since complete-mode sink writes grow with the
      // whole distinct-key table, not the batch.)
      ("wordcount_update",
        () => Streams.wordcountStream(docsCapped()), nDocs, "update"),
      // a document ADMISSION gate (stream-static, zero state): the
      // throughput row for the mix/decontam/importance/temperature
      // family — thresholds derive once from the standing corpus,
      // each arriving doc is a row-local broadcast-join + filter
      ("temperature_gate",
        () => Streams.temperatureStream(docsCapped(),
          spark.read.parquet(s"$sfDir/documents.parquet")), nDocs,
        "append"))
    // one untimed warmup drain absorbs codegen + state-store setup
    time(Streams.windowCounts(eventsCapped()))
    def r1(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.1f", v)
    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", v)
    val results = surfaces.map { case (name, build, rows, mode) =>
      val sec = time(build(), mode)
      (name, rows, sec)
    }
    // the same sessionizer under the RocksDB state store — the
    // provider that survives production state sizes (state lives
    // off-heap/on-disk instead of the HDFS-backed in-memory map).
    // The before/after pair prices the provider swap on the most
    // state-heavy surface; RocksDbStateSpec pins its correctness.
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    def withRocks[T](body: => T): T = {
      val prev = spark.conf.getOption(providerKey)
      spark.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")
      try body
      finally prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
    val rocksSec =
      withRocks(time(Streams.sessionizeWithState(spark, eventsCapped()),
        "append"))
    // r12: the funnel's grows-with-traffic state under RocksDB — with
    // the plain `funnel` row above, the provider swap is priced on
    // BOTH production-state surfaces (RocksDbStateSpec pins that the
    // answers are identical)
    val funnelRocksSec =
      withRocks(time(Streams.funnelStream(spark, eventsCapped()), "append"))
    // stream-static ANN admission gate: every embedding arrives as a
    // query and probes the persisted IVF index (index build + codebook
    // load are untimed one-offs — the standing-serving split). Its
    // foreachBatch drain is synchronous with its own parquet sink, so
    // it is timed around the drain rather than through time().
    val nVecs = stage(spark, s"$sfDir/embeddings.parquet", s"$tmp/emb")
    val idxPath = s"$tmp/ivf_idx"
    graft.operators.Ann.buildIvfIndex(spark, sfDir, idxPath)
    val cb = graft.operators.Ann.codebookOf(spark, sfDir)
    def qCapped() = spark.readStream
      .schema(spark.read.parquet(s"$tmp/emb").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$tmp/emb")
      .select(org.apache.spark.sql.functions.col("vec_id").as("qid"),
        org.apache.spark.sql.functions.col("embedding").as("qe"))
    val tAnn = System.nanoTime()
    Streams.annProbeStream(qCapped(), idxPath, cb, s"$tmp/annprobe_out")
    val annSec = (System.nanoTime() - tAnn) / 1e9
    val all = results :+ (("sessionize_rocksdb", nEvents, rocksSec)) :+
      (("funnel_rocksdb", nEvents, funnelRocksSec)) :+
      (("ann_probe", nVecs, annSec))
    // r12/r13: surfaces at a REAL trigger cadence. Every other row
    // rides AvailableNow's fixed ~NFiles-batch floor with zero idle
    // time — engine capacity, but not the steady-state shape. These
    // rows drive ProcessingTime(1 s): rows_per_sec includes trigger
    // idle (the honest number at that cadence) and batch_ms_median
    // prices what each 1 s tick actually costs — a capacity plan
    // needs batch_ms ≪ cadence, not just rows/s. r13 completes the
    // capacity story with the two surfaces whose state actually
    // GROWS with traffic (sessionize, funnel), each re-priced under
    // the RocksDB provider (the production state store).
    val ptRuns: Seq[(String, CadenceRun)] = Seq(
      "window_counts_pt1s" ->
        timeAtCadence(Streams.windowCounts(eventsCapped()), nEvents),
      "sessionize_pt1s" ->
        timeAtCadence(Streams.sessionizeWithState(spark, eventsCapped()),
          nEvents),
      "funnel_pt1s" ->
        timeAtCadence(Streams.funnelStream(spark, eventsCapped()), nEvents),
      "sessionize_pt1s_rocksdb" ->
        withRocks(timeAtCadence(
          Streams.sessionizeWithState(spark, eventsCapped()), nEvents)),
      "funnel_pt1s_rocksdb" ->
        withRocks(timeAtCadence(
          Streams.funnelStream(spark, eventsCapped()), nEvents)))
    val body = all.map { case (name, rows, sec) =>
      s""""$name":{"rows":$rows,"sec":${r3(sec)},""" +
        s""""rows_per_sec":${r1(rows / sec)}}"""
    }.mkString(",") +
      ptRuns.map { case (name, r) =>
        s""","$name":{"rows":${r.rows},"sec":${r3(r.wall)},""" +
          s""""rows_per_sec":${r1(r.rows / r.wall)},"trigger":"1s",""" +
          s""""busy_batches":${r.busyBatches},""" +
          s""""batch_ms_median":${r1(r.batchMsMed)},""" +
          s""""drained":${r.drained}}"""
      }.mkString
    val json =
      s"""{"metric":"stream_throughput","unit":"rows_per_sec","files":$NFiles,""" +
        s""""cpus":$cpus,"sf":"$sfDir","surfaces":{$body}}"""
    val out = sys.env.getOrElse("SPARK_GRAFT_STREAM_OUT", "BENCH_STREAM.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
    println(json)
    spark.stop()
  }
}
