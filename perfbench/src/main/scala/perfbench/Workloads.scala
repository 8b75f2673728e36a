package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.SparkEntry
import graft.operators.{Events, TextMR}
import graft.streaming.Streams

private object Loop {
  /** Run rounds until `seconds` have passed and at least `minRounds`
    * ran, stopping early when the next round would overrun by more
    * than half a round. Returns each round's cost. */
  def rounds(seconds: Double, minRounds: Int)(round: Int => Unit): Seq[Cost] = {
    val t0 = System.nanoTime()
    val costs = mutable.ArrayBuffer.empty[Cost]
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (costs.size < minRounds ||
        elapsed + costs.map(_.wallS).sum / costs.size / 2 < seconds)
      costs += cost(round(costs.size))
    costs.toSeq
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean

  /** Wall, process CPU time (all threads) and JIT compile time of `body`. */
  def cost(body: => Unit): Cost = {
    val c0 = os.getProcessCpuTime
    val j0 = jit.getTotalCompilationTime
    val t0 = System.nanoTime()
    body
    Cost((System.nanoTime() - t0) / 1e9, (os.getProcessCpuTime - c0) / 1e9,
      (jit.getTotalCompilationTime - j0) / 1e3)
  }

  def listFiles(dir: String, suffix: String): Seq[Path] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(suffix))
      .toSeq.sortBy(_.getFileName.toString)
    finally s.close()
  }
}

/** `wordcount`: the reference's flagship job, repeated. Each op runs
  * `TextMR.wordcountFile` + `TextMR.referenceFormat` over one seeded
  * Zipfian corpus and writes one sorted text file, which must equal the
  * generator's reference byte for byte. A round is one job. */
final class WordCount(work: String) extends Workload {
  private val dir = s"$work/wc"
  private val corpus = Paths.get(s"$dir/corpus.txt")
  private var expected: Array[Byte] = Array.empty

  def prepare(spark: SparkSession): Unit =
    expected = Files.readAllBytes(Paths.get(s"$dir/expected.txt"))

  private def job(spark: SparkSession, input: Path, out: String, probe: Probe): Unit = {
    val lines = probe.build(
      TextMR.referenceFormat(TextMR.wordcountFile(spark, input.toString)))
    lines.coalesce(1).write.mode("overwrite").text(out)
  }

  def warmRounds: Int = 6

  def measure(spark: SparkSession, seconds: Double, minRounds: Int,
      probe: Probe): Measurement = {
    val out = s"$dir/out"
    val failures = mutable.ArrayBuffer.empty[String]
    val jobs = mutable.ArrayBuffer.empty[Cost]
    val rounds = Loop.rounds(seconds, minRounds) { r =>
      try {
        jobs += Loop.cost(probe.op(s"wc:$r")(job(spark, corpus, out, probe)))
        val got = Loop.listFiles(out, ".txt").map(p => Files.readAllBytes(p))
        if (got.size != 1 || !java.util.Arrays.equals(got.head, expected))
          failures += s"wordcount job $r: output differs from the reference"
      } catch { case e: Throwable => failures += s"wordcount job $r: $e" }
    }
    val mb = Files.size(corpus) / (1024.0 * 1024.0)
    Measurement(jobs.toSeq, rounds, jobs.size, failures.toSeq, Map(
      "wc_mb_s" -> mb / Stats.median(jobs.map(_.wallS).toSeq), "input_mb" -> mb))
  }
}

/** `query_mix`: one closed-loop client running a fixed list of
  * `SparkEntry.queries` over the generated tables, in seed-shuffled
  * order per pass. Caches are kept within a pass and cleared between
  * passes. An untimed pass at the end of set-up writes every result
  * for the DuckDB oracle compare that run.py makes. */
final class QueryMix(work: String, seed: Long, only: Option[String]) extends Workload {
  private val dir = s"$work/qm/tables"
  private val names: Seq[String] =
    only.map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(QueryMix.Queries)

  def prepare(spark: SparkSession): Unit = {
    val missing = names.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
  }

  def warmRounds: Int = 3

  override def validate(spark: SparkSession): (Int, Seq[String]) = {
    val out = s"$work/qm/out"
    val failures = names.flatMap { name =>
      try {
        SparkEntry.queries(name)(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(s"$out/$name")
        None
      } catch { case e: Throwable => Some(s"$name: $e") }
    }
    spark.catalog.clearCache()
    val oracle = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), Json.render(oracle))
    (names.size, failures)
  }

  def measure(spark: SparkSession, seconds: Double, minRounds: Int,
      probe: Probe): Measurement = {
    val ops = mutable.ArrayBuffer.empty[(String, Cost)]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    val passes = Loop.rounds(seconds, minRounds) { pass =>
      spark.catalog.clearCache()
      new scala.util.Random(seed * 1000 + pass).shuffle(names).foreach { name =>
        attempted += 1
        try ops += name -> Loop.cost(probe.op(name) {
          val df = probe.build(SparkEntry.queries(name)(spark, dir))
          df.write.format("noop").mode("overwrite").save()
        })
        catch { case e: Throwable => failures += s"$name: $e" }
      }
    }
    val sorted = ops.map(_._2.wallS).sorted.toSeq
    Measurement(ops.map(_._2).toSeq, passes, attempted, failures.toSeq, Map(
      "query_ms" -> ops.groupBy(_._1).map { case (n, xs) => n -> Stats.median(xs.map(_._2.wallS * 1e3).toSeq) },
      "query_p50_s" -> Stats.pct(sorted, 0.5),
      "query_p90_s" -> Stats.pct(sorted, 0.9),
      "mix_s" -> Stats.median(passes.map(_.wallS)), "passes" -> passes.size,
      "queries" -> names.size, "samples" -> ops.size))
  }
}

object EventStream {
  /** Files per micro-batch in the drain phase. */
  val DrainFilesPerTrigger = 8
  /** Open-loop lags of files due in the first WarmupS seconds are not
    * samples: those batches also pay the queries' first-batch set-up. */
  val WarmupS = 1.0
}

object QueryMix {
  /** Queries cheap enough at the generated scale that whole passes
    * fit a run; each costs a fixed amount (eager build jobs,
    * scheduling, planning). `profile_quantiles` and `profile_histogram`
    * share one `PlanCache` sample within a pass. The iterative loops
    * are left out: their round counts change with the seed's data, which
    * moved the pass time by 2x between seeds. */
  val Queries: Seq[String] = Seq(
    "mr_topwords", "q1_agg", "q3_join_topk", "q_window_rank", "q_sessionize",
    "profile_quantiles", "profile_histogram")
}

/** `event_stream`: the staged, time-ordered `events` files flow through
  * two streaming surfaces, `Streams.windowCounts` on the default state
  * store and `Streams.sessionizeWithState` on RocksDB. A round drains
  * the files through each surface in turn (all files present,
  * AvailableNow), then runs both as standing queries over one open-loop
  * source: a thread releases the files into an empty directory at
  * `rate` files per second, on a schedule that does not wait for the
  * engine. An op is one surface's drain; the open-loop lags, a file's
  * due time to the end of the micro-batch that consumed it (after
  * [[EventStream.WarmupS]]), are reported beside. */
final class EventStream(work: String, rate: Double) extends Workload {
  private val staged = s"$work/es/events.parquet"
  private var files: Seq[Path] = Nil
  private var rows: Seq[Long] = Nil
  private var runId = 0
  // (surface, rows, final watermark ms) of every phase, checked after measuring
  private val outputs = mutable.ArrayBuffer.empty[(String, Array[Row], Long)]

  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  override def minRounds: Int = 1
  def warmRounds: Int = 1

  private case class Surface(name: String, provider: Option[String],
      query: SparkSession => DataFrame => DataFrame)
  private val surfaces = Seq(
    Surface("window_counts", None, _ => Streams.windowCounts),
    Surface("sessionize_rocksdb", Some(RocksDb), s => Streams.sessionizeWithState(s, _)))

  def prepare(spark: SparkSession): Unit = {
    files = Loop.listFiles(staged, ".parquet")
    rows = Files.readAllLines(Paths.get(s"$work/es/rows.txt")).asScala.map(_.trim.toLong).toSeq
    require(files.size == rows.size, s"${files.size} files, ${rows.size} row counts")
  }

  /** Start every surface over `dir`; the provider conf is read when a
    * query starts. */
  private def start(spark: SparkSession, s: Surface, dir: String, trigger: Trigger,
      maxFiles: Option[Int]): StreamingQuery = {
    runId += 1
    s.provider match {
      case Some(p) => spark.conf.set(ProviderKey, p)
      case None => spark.conf.unset(ProviderKey)
    }
    val in = maxFiles.foldLeft(spark.readStream.schema(Streams.eventsSchema))(
      (r, n) => r.option("maxFilesPerTrigger", n.toString)).parquet(dir)
    s.query(spark)(in).writeStream
      .format("memory").queryName(s"${s.name}_$runId").outputMode("append")
      .option("checkpointLocation", s"$work/es/ckpt/$runId")
      .trigger(trigger).start()
  }

  private def busy(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.filter(_.numInputRows > 0).toSeq

  private def batchMs(q: StreamingQuery): Seq[Double] =
    busy(q).map(_.durationMs.get("triggerExecution").doubleValue)

  private def endUs(p: StreamingQueryProgress): Long = {
    val t = java.time.Instant.parse(p.timestamp)
    t.getEpochSecond * 1000000L + t.getNano / 1000 +
      p.durationMs.get("triggerExecution").longValue * 1000L
  }

  /** Stop the query, record its output and final watermark, and drop
    * the memory-sink view. */
  private def finish(spark: SparkSession, s: Surface, q: StreamingQuery): Unit = {
    q.stop()
    outputs += ((s.name, spark.table(q.name).collect(),
      q.recentProgress.flatMap(p => Option(p.eventTime.get("watermark")))
        .map(java.time.Instant.parse(_).toEpochMilli).foldLeft(0L)(math.max)))
    spark.sql(s"DROP VIEW IF EXISTS ${q.name}")
  }

  /** Every file of `dir` present from the start, [[DrainFilesPerTrigger]]
    * files per micro-batch; returns the busy batch ms. */
  private def drain(spark: SparkSession, s: Surface, dir: String): Seq[Double] = {
    val q = start(spark, s, dir, Trigger.AvailableNow(), Some(EventStream.DrainFilesPerTrigger))
    q.awaitTermination()
    finish(spark, s, q)
    batchMs(q)
  }

  /** Files released on a fixed schedule into an empty directory that
    * every surface watches, each micro-batch taking every file released
    * since the last; returns the lags ms of files due after the warm-up,
    * busy batch ms by surface, and generator lateness ms. */
  private def openLoop(spark: SparkSession): (Seq[Double], Seq[(String, Seq[Double])], Seq[Double]) = {
    val src = Paths.get(s"$work/es/open/$runId")
    val pending = Paths.get(s"$work/es/pending/$runId")
    Files.createDirectories(src)
    Files.createDirectories(pending)
    val copies = files.map { f =>
      val c = pending.resolve(f.getFileName)
      Files.copy(f, c, StandardCopyOption.REPLACE_EXISTING)
      c
    }
    val qs = surfaces.map(s => s -> start(spark, s, src.toString, Trigger.ProcessingTime(0L), None))
    val periodUs = (1e6 / rate).toLong
    val t0Us = Clock.nowUs() + 500000L
    val late = new Array[Double](copies.size)
    val releaser = new Thread(() => copies.zipWithIndex.foreach { case (c, i) =>
      val due = t0Us + i * periodUs
      val wait = due - Clock.nowUs()
      if (wait > 0) Thread.sleep(wait / 1000, ((wait % 1000) * 1000).toInt)
      // increasing mtimes make the file source take them in order
      Files.setLastModifiedTime(c, java.nio.file.attribute.FileTime.fromMillis(due / 1000))
      Files.move(c, src.resolve(c.getFileName), StandardCopyOption.ATOMIC_MOVE)
      late(i) = (Clock.nowUs() - due) / 1e3
    }, "perfbench-file-release")
    releaser.start()
    val deadline = System.nanoTime() + 120e9.toLong
    while (qs.exists { case (_, q) => busy(q).map(_.numInputRows).sum < rows.sum &&
        q.exception.isEmpty } && System.nanoTime() < deadline) Thread.sleep(20)
    releaser.join()
    qs.foreach { case (s, q) => finish(spark, s, q) }
    // the batch that consumed file i is the first whose cumulative rows cover it
    val cumFile = rows.scanLeft(0L)(_ + _).tail
    val skip = (EventStream.WarmupS * rate).toInt
    val lags = qs.map { case (_, q) =>
      val b = busy(q)
      val cumBatch = b.map(_.numInputRows).scanLeft(0L)(_ + _).tail
      cumFile.zipWithIndex.flatMap { case (need, i) =>
        val k = cumBatch.indexWhere(_ >= need)
        if (k < 0) None else Some((endUs(b(k)) - (t0Us + i * periodUs)) / 1e3)
      }
    }
    if (lags.exists(_.size != files.size))
      throw new IllegalStateException(s"open loop consumed ${lags.map(_.size).mkString("/")} of ${files.size} files")
    (lags.flatMap(_.drop(skip)), qs.map { case (s, q) => s.name -> batchMs(q) }, late.toSeq)
  }

  def measure(spark: SparkSession, seconds: Double, minRounds: Int,
      probe: Probe): Measurement = {
    val lags, late = mutable.ArrayBuffer.empty[Double]
    val drains = mutable.ArrayBuffer.empty[Cost]
    val batches = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    def addBatches(b: Seq[(String, Seq[Double])]): Unit =
      b.foreach { case (k, v) => batches.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v }
    val rounds = Loop.rounds(seconds, minRounds) { _ =>
      surfaces.foreach { s =>
        attempted += 1
        try {
          var b = Seq.empty[Double]
          drains += Loop.cost { b = drain(spark, s, staged) }
          addBatches(Seq(s.name -> b))
        } catch { case e: Throwable => failures += s"${s.name} drain: $e" }
      }
      attempted += surfaces.size
      try {
        val (l, b, g) = openLoop(spark)
        lags ++= l
        addBatches(b)
        late ++= g
      } catch { case e: Throwable => failures += s"open loop: $e" }
    }
    val allB = batches.values.flatten.toSeq.sorted
    val sortedL = lags.sorted.toSeq
    val drainS = drains.map(_.wallS).sum
    Measurement(drains.toSeq, rounds, attempted, failures.toSeq, Map(
      "stream_rows_s" -> (if (drainS > 0) rows.sum * drains.size / drainS else 0.0),
      "batch_p50_ms" -> Stats.pct(allB, 0.5), "batch_p90_ms" -> Stats.pct(allB, 0.9),
      "busy_batches" -> allB.size,
      "batch_p50_ms_by_surface" -> batches.map { case (k, v) => k -> Stats.median(v.toSeq) },
      "lag_p50_ms" -> Stats.pct(sortedL, 0.5), "lag_p90_ms" -> Stats.pct(sortedL, 0.9),
      "generator_late_p50_ms" -> Stats.median(late.toSeq),
      "generator_late_max_ms" -> (if (late.isEmpty) 0.0 else late.max),
      "offered_files_s" -> rate, "files" -> files.size, "rows" -> rows.sum))
  }

  /** Every phase's output equals its batch twin over the same rows:
    * the window counts are exactly the `Events.qEventWindow` windows
    * the phase's final watermark closed; the sessions are exactly the
    * `Events.qSessionize` sessions a later event closed, plus user tails
    * whose timeout that watermark passed. */
  override def check(spark: SparkSession): Seq[String] = {
    val dir = s"$work/es"
    lazy val windows = Events.qEventWindow(spark, dir).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2), r.getDouble(3)))
    lazy val sessions = Events.qSessionize(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val failures = outputs.toSeq.flatMap {
      case ("window_counts", got, wmMs) =>
        val g = got.map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2),
          r.getDouble(3))).toSet
        val want = windows.filter(_._1 + 3600000L <= wmMs).toSet
        if (g == want) None
        else Some(s"window_counts: ${(g -- want).size} extra, ${(want -- g).size} missing windows")
      case ("sessionize_rocksdb", got, wmMs) =>
        val g = got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        val last = sessions.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
        val want = sessions.filter(s => s._2 != last(s._1) || (s._5 + 1800) * 1000 < wmMs)
          .map(s => (s._1, s._3, s._4, s._5)).toSet
        if (g == want) None
        else Some(s"sessionize: ${(g -- want).size} extra, ${(want -- g).size} missing sessions")
      case (other, _, _) => Some(s"unknown surface output $other")
    }
    outputs.clear()
    failures
  }
}
