package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.operators.Events
import graft.streaming.{Streams, StreamingKmeans}

/** Streaming twins produce the same answers as their batch
  * formulations when driven from the same static parquet. */
class StreamingSpec extends SparkSpecBase {

  // the file source requires a directory: stage the single parquet
  // file into a temp dir
  private lazy val path: String = {
    import java.nio.file._
    val dir = Files.createTempDirectory("graft_stream")
    Files.copy(Paths.get(s"$Sf/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  test("streaming Count-Min sketch is bit-identical to the batch sketch") {
    val stream = Streams.runToMemory(
      Streams.cmsWindowSketch(Streams.readEvents(spark, path)), "cms_win")
    val got = stream.collect()
      .map(r => r.getTimestamp(0) -> r.getSeq[Long](1)).toMap
    val want = graft.core.Tables(spark, Sf).events
      .groupBy(window(col("ts"), "6 hours"))
      .agg(graft.functions.SketchAggs.countMinAgg(
        graft.functions.PortableHash.h60(col("user_id").cast("string")),
        4, 64).as("cms"))
      .select(col("window.start"), col("cms"))
      .collect().map(r => r.getTimestamp(0) -> r.getSeq[Long](1)).toMap
    assert(got == want)
    assert(want.nonEmpty)
    // sketch row mass per window = events in the window
    want.foreach { case (_, m) => assert(m.slice(0, 64).sum == m.slice(64, 128).sum) }
  }

  test("streaming quantile sketch is bit-identical to the batch sketch") {
    val stream = Streams.runToMemory(
      Streams.qsketchWindow(Streams.readEvents(spark, path)), "qs_win")
    val got = stream.collect()
      .map(r => r.getTimestamp(0) -> r.getSeq[Long](1)).toMap
    val want = graft.core.Tables(spark, Sf).events
      .groupBy(window(col("ts"), "6 hours"))
      .agg(graft.functions.QuantileSketch.qsketchAgg(
        expr("CAST(round(value * 100, 0) AS BIGINT)")).as("qs"))
      .select(col("window.start"), col("qs"))
      .collect().map(r => r.getTimestamp(0) -> r.getSeq[Long](1)).toMap
    assert(got == want)
    assert(want.nonEmpty)
    // per-window sketch mass = events in the window; decoded medians
    // are sane cents (the sketch is usable, not just identical)
    want.foreach { case (_, qs) =>
      assert(qs.sum > 0)
      val n = qs.sum
      var cum = 0L
      var i50 = -1
      qs.zipWithIndex.foreach { case (c, i) =>
        cum += c; if (i50 < 0 && cum >= (n + 1) / 2) i50 = i }
      val p50 = graft.functions.QuantileSketch.midpointOf(i50)
      assert(p50 >= 1 && p50 <= 49002, s"median $p50 outside value range")
    }
  }

  test("streaming quantile percentiles decode to the batch values") {
    // the decoded surface: a consumer reads p50/p90/p99 directly off
    // the stream; the decode projection is the SAME shared source
    // (rankFoldSql/midCaseSql) the batch profiler uses, applied to
    // the same bit-identical window sketches — so the decoded rows
    // must equal decoding the batch sketches
    val stream = Streams.runToMemory(
      Streams.qsketchWindowPercentiles(Streams.readEvents(spark, path)),
      "qs_pct_win")
    val got = stream.collect()
      .map(r => r.getTimestamp(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val batchSketches = graft.core.Tables(spark, Sf).events
      .groupBy(window(col("ts"), "6 hours"))
      .agg(graft.functions.QuantileSketch.qsketchAgg(
        expr("CAST(round(value * 100, 0) AS BIGINT)")).as("qs"))
      .select(col("window.start").as("win"), col("qs"))
    val want = Streams.decodeQsketch(batchSketches).collect()
      .map(r => r.getTimestamp(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == want)
    assert(want.nonEmpty)
    // decoded values are ordered percentiles of positive cents
    got.values.foreach { case (n, p50, p90, p99) =>
      assert(n > 0 && p50 >= 1 && p50 <= p90 && p90 <= p99)
    }
  }

  test("streaming heavy hitters: exact regime ≡ batch; MG bounds under compression") {
    import org.apache.spark.sql.Row
    def summarize(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getTimestamp(0) ->
        r.getSeq[Row](1).map(s =>
          (s.getString(0), s.getLong(1), s.getLong(2)))).toMap
    val batchEvents = graft.core.Tables(spark, Sf).events
    def batchAt(cap: Int) = summarize(batchEvents
      .groupBy(window(col("ts"), "6 hours"))
      .agg(graft.functions.SpaceSavingAgg.spaceSaving(
        col("user_id").cast("string"), cap).as("hh"))
      .select(col("window.start").as("win"), col("hh")))
    // exact regime: capacity >= distinct users per window, so no
    // compression ever fires, theta = 0, and the summary is the exact
    // deterministic (count desc, user asc) vector — the stream must
    // be BIT-identical to batch whatever the micro-batch split
    val exact = summarize(Streams.runToMemory(
      Streams.spaceSavingWindow(Streams.readEvents(spark, path), 4096),
      "ss_win_exact"))
    assert(exact == batchAt(4096) && exact.nonEmpty)
    assert(exact.values.forall(_.forall { case (_, lo, hi) => lo == hi }),
      "capacity 4096 must be the exact regime on this corpus")
    // compressed regime: per-window MG guarantees vs the exact counts
    // (content may legitimately differ from a batch run in the
    // theta-sized tail; the BOUNDS are the invariant)
    val cap = 4
    val compressed = summarize(Streams.runToMemory(
      Streams.spaceSavingWindow(Streams.readEvents(spark, path), cap),
      "ss_win_small"))
    val truth = batchEvents
      .groupBy(window(col("ts"), "6 hours"), col("user_id").cast("string").as("u"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("win"), col("u"), col("cnt"))
      .collect()
      .groupBy(_.getTimestamp(0))
      .view.mapValues(_.map(r => r.getString(1) -> r.getLong(2)).toMap).toMap
    assert(compressed.keySet == truth.keySet)
    compressed.foreach { case (win, entries) =>
      val t = truth(win)
      val n = t.values.sum
      assert(entries.size <= cap)
      if (entries.isEmpty) {
        // every counter was decremented away (possible under near-
        // uniform traffic): θ is unreadable from an empty summary but
        // still ≤ N/(cap+1), so the certificate an empty summary
        // gives is "no key's true count exceeds that ceiling"
        assert(t.values.max <= n / (cap + 1),
          s"$win: empty summary but a count exceeds N/(cap+1)")
      } else {
        val thetas = entries.map { case (_, lo, hi) => hi - lo }.distinct
        assert(thetas.size == 1 && thetas.head <= n / (cap + 1))
        entries.foreach { case (u, lo, hi) =>
          assert(lo <= t(u) && t(u) <= hi, s"$win/$u: [$lo,$hi] vs ${t(u)}")
        }
        val present = entries.map(_._1).toSet
        t.filter(_._2 > thetas.head).keys
          .foreach(u => assert(present.contains(u)))
      }
    }
  }

  test("streaming HLL sketch is bit-identical to the batch sketch") {
    val stream = Streams.runToMemory(
      Streams.hllWindowSketch(Streams.readEvents(spark, path)), "hll_win")
    val got = stream.collect()
      .map(r => r.getTimestamp(0) -> r.getSeq[Long](1)).toMap
    val want = graft.core.Tables(spark, Sf).events
      .groupBy(window(col("ts"), "6 hours"))
      .agg(graft.functions.Hll.hllAgg(graft.functions.PortableHash.h60(
        concat(lit("hll#"), col("user_id").cast("string")))).as("regs"))
      .select(col("window.start"), col("regs"))
      .collect().map(r => r.getTimestamp(0) -> r.getSeq[Long](1)).toMap
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("streaming bottom-k sample is identical to the batch sample (merge-exact)") {
    val stream = Streams.runToMemory(
      Streams.sampleWindowSketch(Streams.readEvents(spark, path)), "samp_win")
    val got = stream.collect()
      .map(r => r.getTimestamp(0) -> r.getSeq[Double](1)).toMap
    val want = graft.core.Tables(spark, Sf).events
      .groupBy(window(col("ts"), "6 hours"))
      .agg(graft.functions.BottomKSampleAgg.bottomk(
        graft.functions.PortableHash.h60(col("event_id").cast("string")),
        col("value"), 64).as("samp"))
      .select(col("window.start"), col("samp"))
      .collect().map(r => r.getTimestamp(0) -> r.getSeq[Double](1)).toMap
    assert(got == want)
    assert(want.nonEmpty)
    want.foreach { case (_, s) => assert(s.length <= 64 && s == s.sorted) }
  }

  test("streaming windowed top-k spend matches the batch aggregate") {
    val stream = Streams.runToMemory(
      Streams.topkWindowSpend(Streams.readEvents(spark, path)), "topk_win")
    val got = stream.collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSet
    val want = graft.core.Tables(spark, Sf).events
      .filter(col("event_type") === "purchase")
      .groupBy(window(col("ts"), "6 hours"))
      .agg(graft.functions.TopKScoreAgg.topk(
        round(col("value") * 100, 0).cast("long").cast("double"),
        col("event_id"), 3).as("top"))
      .select(col("window.start").as("win"), explode(col("top")).as("e"))
      .select(col("win"), col("e.id"), col("e.score") / 100.0)
      .collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want)
    assert(want.nonEmpty)
    // bounded state: never more than k rows per window
    assert(stream.groupBy("win").count().collect().forall(_.getLong(1) <= 3))
  }

  test("streaming hourly window counts match the batch q_event_window") {
    val stream = Streams.runToMemory(
      Streams.windowCounts(Streams.readEvents(spark, path)), "win_counts")
    val got = stream.select("hour", "event_type", "n", "total")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    val want = Events.qEventWindow(spark, Sf)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("streaming benford census equals the batch digit census per day") {
    import graft.operators.Profile
    val stream = Streams.runToMemory(
      Streams.benfordWindow(Streams.readEvents(spark, path)), "benford_win")
    val got = stream.collect()
      .map(r => (r.getTimestamp(0), r.getInt(1)) -> r.getLong(2)).toMap
    val want = graft.core.Tables(spark, Sf).events
      .select(window(col("ts"), "1 day").getField("start").as("day"),
        Profile.firstDigit(col("value")).as("digit"))
      .filter(col("digit").isNotNull)
      .groupBy("day", "digit").count()
      .collect()
      .map(r => (r.getTimestamp(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got == want)
    assert(want.nonEmpty)
    // every digit the law scores is a valid key; state <= 9 per window
    assert(got.keys.forall { case (_, d) => d >= 1 && d <= 9 })
    assert(stream.groupBy("day").count().collect()
      .forall(_.getLong(1) <= 9))
  }

  test("streaming fuzzy gate flags near-known names with their best match per day") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val arrivals = Seq(
      (t("2024-01-05 10:00:00"), "smal ring"),  // deletion of small ring
      (t("2024-01-05 11:00:00"), "red wdget"),  // deletion of red widget
      (t("2024-01-05 12:00:00"), "zzzz qqqq"),  // no match: silent pass
      (t("2024-01-06 09:00:00"), "small ring"), // exact: dist 0
      (t("2024-01-06 10:00:00"), "hot gearz"),  // insertion on hot gear
    ).toDF("ts", "name")
    val dict = Seq("small ring", "red widget", "blue bolt", "hot gear")
      .toDF("name")
    val dir = java.nio.file.Files.createTempDirectory("graft_fuzzy").toString
    arrivals.coalesce(1).write.mode("overwrite").parquet(s"$dir/names")
    val stream = spark.readStream.schema(arrivals.schema).parquet(s"$dir/names")
    val out = Streams.runToMemory(
      Streams.fuzzyNameGate(stream, dict), "fuzzy_gate").collect()
      .map(r => r.getString(1) -> (r.getString(2), r.getLong(3), r.getInt(4)))
      .toMap
    assert(out == Map(
      "smal ring" -> ("small ring", 1L, 1),
      "red wdget" -> ("red widget", 1L, 1),
      "small ring" -> ("small ring", 0L, 1),
      "hot gearz" -> ("hot gear", 1L, 1)),
      s"got $out")
  }

  test("streaming checks gate: per-day violation counters equal the batch fold") {
    // declare a strict subset of the real types so v_unknown_type
    // carries real nonzero signal through the gate
    val allTypes = graft.core.Tables(spark, Sf).events
      .select("event_type").distinct().collect().map(_.getString(0)).sorted
    assert(allTypes.length >= 2)
    val declared = allTypes.dropRight(1).toSeq
    val got = Streams.runToMemory(
      Streams.checksWindow(Streams.readEvents(spark, path), declared),
      "checks_win").collect()
      .map(r => r.getTimestamp(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6)))).toMap
    val want = graft.core.Tables(spark, Sf).events
      .select(window(col("ts"), "1 day").getField("start").as("day"),
        col("value"), col("event_type"), col("user_id"))
      .groupBy("day")
      .agg(count(lit(1)).as("n"),
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("a"),
        sum(when(col("value") < 0, 1L).otherwise(0L)).as("b"),
        sum(when(!col("event_type").isin(declared: _*), 1L).otherwise(0L)).as("c"),
        sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("d"))
      .collect()
      .map(r => r.getTimestamp(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5),
        r.getLong(2) + r.getLong(3) + r.getLong(4) + r.getLong(5) == 0L)))
      .toMap
    assert(got == want)
    assert(got.values.exists(v => v._4 > 0L && !v._6),
      "the withheld type must trip v_unknown_type and fail the window")
  }

  test("streaming PSI drift monitor equals the batch formula per day") {
    import graft.operators.Profile
    // declared reference: the corpus's own global mix (any constant
    // works; using real counts keeps psi near 0 and exercises signs)
    val ref = graft.core.Tables(spark, Sf).events
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val stream = Streams.runToMemory(
      Streams.psiWindow(Streams.readEvents(spark, path), ref), "psi_win")
    val got = stream.collect()
      .map(r => r.getTimestamp(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // batch replay of the identical formula over the same rows
    val types = ref.keys.toSeq.sorted
    val refTotal = ref.values.sum
    val days = graft.core.Tables(spark, Sf).events
      .select(window(col("ts"), "1 day").getField("start").as("day"),
        col("event_type"))
      .groupBy("day", "event_type").count().collect()
      .groupBy(_.getTimestamp(0))
    val want = days.map { case (day, rows) =>
      val n = rows.map(r => r.getString(1) -> r.getLong(2)).toMap
      val nTotal = types.map(t => n.getOrElse(t, 0L)).sum
      def r0(x: Double): Long = BigDecimal(x)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      val psiMicro = types.map { t =>
        val ni = n.getOrElse(t, 0L)
        if (ni == 0) 0L
        else {
          val lr = r0(math.log(
            ref(t).toDouble * nTotal / (ni.toDouble * refTotal)) * 1e6)
          r0((ref(t).toDouble / refTotal - ni.toDouble / nTotal) * lr)
        }
      }.sum
      day -> (nTotal,
        n.keys.count(!types.contains(_)).toLong + 0L, // no undeclared types here
        types.count(t => n.getOrElse(t, 0L) == 0).toLong, psiMicro)
    }
    assert(got.keySet == want.keySet)
    for ((day, (nt, _, nz, pm)) <- got) {
      val (wnt, _, wnz, wpm) = want(day)
      assert(nt == wnt, s"$day n_total")
      assert(nz == wnz, s"$day n_zero_types")
      assert(pm == wpm, s"$day psi_micro: stream $pm batch $wpm")
    }
    assert(got.nonEmpty)
  }

  test("streaming session_window counts match the batch sessionizer") {
    val stream = Streams.runToMemory(
      Streams.sessionCounts(Streams.readEvents(spark, path)), "sess_counts")
    // compare the per-user multiset of session sizes
    val got = stream.groupBy("user_id")
      .agg(sort_array(collect_list("n_events")).as("sizes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val want = Events.qSessionize(spark, Sf).groupBy("user_id")
      .agg(sort_array(collect_list("n_events")).as("sizes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got == want)
  }

  test("flatMapGroupsWithState sessionizer emits exactly the batch sessions minus each user's open tail") {
    val stream = Streams.runToMemory(
      Streams.sessionizeWithState(spark, Streams.readEvents(spark, path)),
      "fmgws_sessions", org.apache.spark.sql.streaming.OutputMode.Append())
    val got = stream.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = Events.qSessionize(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val all = batch.map(s => (s._1, s._3, s._4, s._5)).toSet
    val lastPerUser = batch.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val gapClosed = batch.filter(s => s._2 != lastPerUser(s._1))
      .map(s => (s._1, s._3, s._4, s._5)).toSet
    // every emitted session is a true batch session, and every
    // gap-closed session (non-tail) is emitted
    assert(got.subsetOf(all), s"spurious sessions: ${(got -- all).take(3)}")
    assert(gapClosed.subsetOf(got), s"missing: ${(gapClosed -- got).take(3)}")
    // anything beyond the gap-closed set must be a user-tail session
    // flushed by the event-time timeout once the watermark passed it
    val maxTsS = graft.core.Tables(spark, Sf).events
      .agg(org.apache.spark.sql.functions.max(col("ts").cast("double")))
      .head().getDouble(0)
    val tails = got -- gapClosed
    tails.foreach { t =>
      assert(t._4 + 1800.0 <= maxTsS - 7200.0 + 1.0,
        s"tail session $t emitted before its timeout horizon")
    }
    assert(gapClosed.nonEmpty)
  }

  test("sessionizer state survives a checkpointed restart (two-phase ingest)") {
    import java.nio.file._
    val raw = graft.core.Tables(spark, Sf).events // ts normalized to TimestampType
    val cutUs = raw.agg(expr("percentile(unix_micros(ts), 0.5)")).head().getDouble(0).toLong
    val watch = Files.createTempDirectory("graft_ckpt_in")
    val ckpt = Files.createTempDirectory("graft_ckpt_st").toString
    val outDir = Files.createTempDirectory("graft_ckpt_out").toString

    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft_half").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, watch.resolve(name))
    }

    def runPhase(): Unit = {
      val q = Streams.sessionizeWithState(spark,
          Streams.readEvents(spark, watch.toString))
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }

    stage(raw.filter(unix_micros(col("ts")) <= cutUs), "half1.parquet")
    runPhase()
    stage(raw.filter(unix_micros(col("ts")) > cutUs), "half2.parquet")
    runPhase() // restart from checkpoint: file-source offsets + session state recover

    val twoPhase = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // exactly-once: no session emitted twice, even those spanning the
    // ingest boundary
    assert(twoPhase.length == twoPhase.toSet.size, "duplicate sessions after restart")
    // same final answer as a single-pass run over the full input
    val single = Streams.runToMemory(
      Streams.sessionizeWithState(spark, Streams.readEvents(spark, path)),
      "ckpt_single", org.apache.spark.sql.streaming.OutputMode.Append())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(twoPhase.toSet == single,
      s"two-phase=${twoPhase.length} single=${single.size}")
  }

  test("gap-fill state survives a checkpointed restart (two-phase ingest)") {
    import java.nio.file._
    val raw = graft.core.Tables(spark, Sf).events // ts normalized to TimestampType
    val cutUs = raw.agg(expr("percentile(unix_micros(ts), 0.5)")).head().getDouble(0).toLong
    val watch = Files.createTempDirectory("graft_gf_ckpt_in")
    val ckpt = Files.createTempDirectory("graft_gf_ckpt_st").toString
    val outDir = Files.createTempDirectory("graft_gf_ckpt_out").toString

    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft_gf_half").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, watch.resolve(name))
    }

    def runPhase(): Unit = {
      val q = Streams.gapFillStream(spark,
          Streams.readEvents(spark, watch.toString))
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }

    stage(raw.filter(unix_micros(col("ts")) <= cutUs), "half1.parquet")
    runPhase()
    stage(raw.filter(unix_micros(col("ts")) > cutUs), "half2.parquet")
    runPhase() // restart: offsets + per-user day state recover

    val twoPhase = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    // exactly-once: phase 1 sealed early days, phase 2 must not
    // re-emit them (nextDayMs/carried recover from the checkpoint)
    assert(twoPhase.length == twoPhase.toSet.size,
      "duplicate filled days after restart")
    // same final answer as a single-pass run over the full input
    val single = Streams.runToMemory(
      Streams.gapFillStream(spark, Streams.readEvents(spark, path)),
      "gf_ckpt_single", OutputMode.Append())
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSet
    assert(twoPhase.toSet == single,
      s"two-phase=${twoPhase.length} single=${single.size}")
    assert(single.nonEmpty)
  }

  test("streaming gap-fill emits the batch rows for every watermark-sealed day") {
    val stream = Streams.runToMemory(
      Streams.gapFillStream(spark, Streams.readEvents(spark, path)),
      "gap_fill", OutputMode.Append())
    val got = stream.collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    val batch = Events.qGapFill(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    // every emitted row is exactly a batch row (day value, zero-fill,
    // and carried spend all agree)
    val batchSet = batch.toSet
    got.foreach(r => assert(batchSet.contains(r), s"not a batch row: $r"))
    // per user the emitted days are a contiguous PREFIX of the batch
    // calendar — only the open tail (watermark not yet past) is held
    val batchByUser = batch.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    got.groupBy(_._1).foreach { case (u, rows) =>
      val days = rows.map(_._2).sorted
      assert(days.sameElements(batchByUser(u).take(days.length)),
        s"user $u: emitted days are not the batch prefix")
    }
    // coverage: days sealed by the final watermark (max ts − 2 h,
    // with a 1 s guard against the ms-floor boundary) must all emit
    val maxTsMs = graft.core.Tables(spark, Sf).events
      .agg(max(col("ts"))).head().getTimestamp(0).getTime
    val sealedBefore = maxTsMs - 2L * 3600 * 1000 - 1000 - 86400000L
    val expectedSealed = batch.count(_._2.getTime <= sealedBefore)
    assert(got.length >= expectedSealed,
      s"emitted ${got.length} < sealed $expectedSealed")
    assert(got.exists(_._3 == 0L), "no zero-event gap day was emitted")
  }

  test("streaming as-of join emits the batch matches for every watermark-sealed error") {
    val stream = Streams.runToMemory(
      Streams.asofStream(spark, Streams.readEvents(spark, path)),
      "asof_stream", org.apache.spark.sql.streaming.OutputMode.Append())
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))
    val got = stream.collect().map(key).toSet
    val batch = Events.qAsofJoin(spark, Sf).collect().map(key)
    val batchSet = batch.toSet
    // every emitted match is exactly the batch match for that error
    got.foreach(r => assert(batchSet.contains(r), s"not a batch match: $r"))
    // no error matched twice with different purchases
    assert(got.toSeq.map(_._1).distinct.size == got.size,
      "an error_id emitted more than once")
    // coverage: every error sealed by the final watermark (max ts − 2 h,
    // 1 s guard for the ms floor) must have emitted
    val ev = graft.core.Tables(spark, Sf).events
    val maxTsMs = ev.agg(max(col("ts"))).head().getTimestamp(0).getTime
    val sealedBefore = maxTsMs - 2L * 3600 * 1000 - 1000
    val expectedSealed = ev.filter(col("event_type") === "error" &&
      col("ts").cast("long") * 1000 <= sealedBefore).count()
    assert(got.size >= expectedSealed,
      s"emitted ${got.size} < sealed $expectedSealed")
    assert(got.nonEmpty)
  }

  test("as-of join state survives a two-batch split with checkpointed restart") {
    import java.nio.file._
    val raw = graft.core.Tables(spark, Sf).events // ts normalized to TimestampType
    val cutUs = raw.agg(expr("percentile(unix_micros(ts), 0.5)")).head().getDouble(0).toLong
    val watch = Files.createTempDirectory("graft_asof_in")
    val ckpt = Files.createTempDirectory("graft_asof_st").toString
    val outDir = Files.createTempDirectory("graft_asof_out").toString

    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft_asof_half").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, watch.resolve(name))
    }

    def runPhase(): Unit = {
      val q = Streams.asofStream(spark,
          Streams.readEvents(spark, watch.toString))
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }

    stage(raw.filter(unix_micros(col("ts")) <= cutUs), "half1.parquet")
    runPhase()
    stage(raw.filter(unix_micros(col("ts")) > cutUs), "half2.parquet")
    runPhase() // restart: offsets + per-user pending/register recover

    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))
    val twoPhase = spark.read.parquet(outDir).collect().map(key)
    // exactly-once: the carried purchase register recovers, so no
    // error re-emits after the restart
    assert(twoPhase.length == twoPhase.toSet.size,
      "duplicate matches after restart")
    // same final answer as a single-pass run over the full input —
    // matches that SPAN the split (purchase in half 1, error in
    // half 2) only work if lastPurchase survived the restart
    val single = Streams.runToMemory(
      Streams.asofStream(spark, Streams.readEvents(spark, path)),
      "asof_single", org.apache.spark.sql.streaming.OutputMode.Append())
      .collect().map(key).toSet
    assert(twoPhase.toSet == single,
      s"two-phase=${twoPhase.length} single=${single.size}")
    assert(single.nonEmpty)
  }

  test("stream-stream interval join matches the batch range join") {
    val stream = Streams.runToMemory(
      Streams.purchaseErrorJoin(Streams.readEvents(spark, path)),
      "ssj", org.apache.spark.sql.streaming.OutputMode.Append())
    val got = stream.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = Events.qRangeJoin(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, s"got=${got.size} want=${want.size}")
    assert(want.nonEmpty)
  }

  test("foreachBatch lands the stream as hour-partitioned parquet") {
    val out = java.nio.file.Files.createTempDirectory("graft_land").toString
    Streams.landToParquet(Streams.readEvents(spark, path), out)
    val landed = spark.read.parquet(out)
    assert(landed.count() ==
      graft.core.Tables(spark, Sf).events.count())
    assert(new java.io.File(out).listFiles
      .count(_.getName.startsWith("hour=")) > 1,
      "expected hour-partitioned layout")
  }

  test("stream-static decontam gate matches the batch verdicts") {
    import java.nio.file._
    val dir = Files.createTempDirectory("graft_decontam_stream")
    Files.copy(Paths.get(s"$Sf/documents.parquet"),
      dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    // static side: the benchmark (src0) docs, batch-read
    val bench = graft.core.Tables(spark, Sf).documents
      .filter(col("source") === "src0")
    val stream = Streams.runToMemory(
      Streams.decontamStream(
        Streams.readDocuments(spark, dir.toString)
          .filter(col("source") =!= "src0"), bench),
      "decontam_stream", OutputMode.Append())
    val got = stream.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    val want = graft.operators.Curation.pipelineDecontam(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("stream-static mix gate admits exactly the batch kept set") {
    import java.nio.file._
    val dir = Files.createTempDirectory("graft_mix_stream")
    Files.copy(Paths.get(s"$Sf/documents.parquet"),
      dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    // static side: the standing corpus sets the water line; the
    // stream replays the same docs, so the admitted set must equal
    // the batch sampler's kept set row for row
    val corpus = graft.core.Tables(spark, Sf).documents
    val stream = Streams.runToMemory(
      Streams.mixStream(Streams.readDocuments(spark, dir.toString), corpus),
      "mix_stream", OutputMode.Append())
    val got = stream.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val want = graft.operators.Curation.pipelineMix(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("stream-static temperature gate admits exactly the batch sampled set") {
    import java.nio.file._
    val dir = Files.createTempDirectory("graft_temp_stream")
    Files.copy(Paths.get(s"$Sf/documents.parquet"),
      dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val corpus = graft.core.Tables(spark, Sf).documents
    val stream = Streams.runToMemory(
      Streams.temperatureStream(
        Streams.readDocuments(spark, dir.toString), corpus),
      "temp_stream", OutputMode.Append())
    val got = stream.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val want = graft.operators.Curation.sampleTemperature(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("stream-static importance gate admits exactly the batch resampled set") {
    import java.nio.file._
    val dir = Files.createTempDirectory("graft_dsir_stream")
    Files.copy(Paths.get(s"$Sf/documents.parquet"),
      dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    // static side derives the complete ratio table; the stream replays
    // the same docs through the row-local fold — the admitted rows
    // (including the exact integer scores) must equal the batch
    // sampler's explode+groupBy formulation row for row
    val corpus = graft.core.Tables(spark, Sf).documents
    val stream = Streams.runToMemory(
      Streams.importanceStream(Streams.readDocuments(spark, dir.toString),
        corpus),
      "dsir_stream", OutputMode.Append())
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))
    val got = stream.collect().map(key).toSet
    val want = graft.operators.Curation.sampleImportance(spark, Sf)
      .collect().map(key).toSet
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("streaming IVM: view refreshed over a split CDC feed equals the batch fold") {
    import java.nio.file._
    val cdc = graft.operators.Snapshot.cdcRows(spark, Sf)
    // two part-files + maxFilesPerTrigger=1 → two micro-batches: the
    // self-maintainability claim (any split folds to the same view)
    // is load-bearing, not vacuously one-shot
    val in = Files.createTempDirectory("graft_ivm_in").toString
    cdc.repartition(2).write.mode("overwrite").parquet(in)
    val out = Files.createTempDirectory("graft_ivm_out").toString + "/view"
    Streams.ivmStream(
      spark.readStream.schema(cdc.schema)
        .option("maxFilesPerTrigger", 1).parquet(in),
      graft.operators.Snapshot.standingView(spark, Sf), out)
    def key(r: org.apache.spark.sql.Row) =
      (r.getInt(0), r.getLong(1), r.getLong(2))
    val got = spark.read.parquet(out).collect().map(key).toSet
    val want = graft.operators.Snapshot.aggDelta(spark, Sf)
      .collect().map(key).toSet
    assert(got == want, "streamed view must equal the batch refresh")
    assert(want.nonEmpty)
  }

  test("streaming scd2: per-version merges land on the batch fold; replayed version converges") {
    import java.nio.file._
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val planted = Seq(
      (10L, 1, 100L), (10L, 2, 100L), (10L, 3, 100L),
      (20L, 1, 100L), (20L, 2, 200L), (20L, 3, 200L),
      (30L, 1, 100L),
      (40L, 2, 100L), (40L, 3, 100L),
      (50L, 1, 100L), (50L, 3, 100L),
      (60L, 1, 100L), (60L, 2, 200L), (60L, 3, 100L))
    val watch = Files.createTempDirectory("graft_scd2_in")
    val out = Files.createTempDirectory("graft_scd2_out").toString + "/hist"
    val cp = Files.createTempDirectory("graft_scd2_cp").toString
    val schema = planted.toDF("c_custkey", "ver", "cents").schema
    def stage(v: Int): Unit = {
      val tmp = Files.createTempDirectory("graft_scd2_v").toString
      planted.filter(_._2 == v).toDF("c_custkey", "ver", "cents")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = watch.resolve(s"v$v.parquet")
      Files.copy(part.toPath, dst)
      // distinct mod times pin the file source's oldest-first order
      dst.toFile.setLastModified(1000000000000L + v * 60000L)
    }
    def run(): Unit = Streams.scd2Stream(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(watch.toString),
      out, Some(cp))
    def hist(v: Int): Seq[(Long, Long, Long, Long, Int)] =
      spark.read.parquet(s"$out/ver=$v").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3), r.getInt(4)))
        .sortBy(t => (t._1, t._3)).toSeq
    stage(1); run(); stage(2); run(); stage(3); run()
    // final history == the batch gaps-and-islands fold, row for row
    val want = graft.operators.Snapshot
      .scd2Fold(planted.toDF("c_custkey", "ver", "cents"), maxVer = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getInt(4)))
      .sortBy(t => (t._1, t._3)).toSeq
    assert(hist(3) == want, "stream history must equal the batch fold")
    // replay convergence: re-running version 2's merge (at-least-once
    // redelivery) overwrites ver=2 with identical content and leaves
    // the ver=3 head untouched
    val before2 = hist(2)
    graft.operators.Snapshot.scd2Step(
        spark.read.parquet(s"$out/ver=1"),
        planted.filter(_._2 == 2).toDF("c_custkey", "ver", "cents"), 2L)
      .write.mode("overwrite").parquet(s"$out/ver=2")
    assert(hist(2) == before2, "replayed version must converge")
    assert(hist(3) == want)
    // a mixed-version batch is refused, not silently merged
    val boom = intercept[Exception] {
      Streams.scd2Stream(
        spark.readStream.schema(schema).parquet(watch.toString),
        out + "_mixed", None)
    }
    assert(boom.getMessage != null)
  }

  /** Run the stream-static near-dup gate over a forced 2-batch split
    * of the batch query's fresh shard; returns the output directory. */
  private def incrementalDedupSplit(): String = {
    import java.nio.file._
    val docs = graft.core.Tables(spark, Sf).documents
    // the batch query's own shard boundary: every 10th doc is fresh
    val existing = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val fresh = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
    // stage the fresh side as TWO files; maxFilesPerTrigger=1 forces
    // two micro-batches, so the union-over-splits contract is load-bearing
    val in = Files.createTempDirectory("graft_incdedup_in").toString
    fresh.filter(col("doc_id") % 20 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/a")
    fresh.filter(col("doc_id") % 20 =!= 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/b")
    val staged = Files.createTempDirectory("graft_incdedup_docs")
    var i = 0
    for (sub <- Seq("a", "b");
         f <- new java.io.File(s"$in/$sub").listFiles
           if f.getName.endsWith(".parquet")) {
      Files.copy(f.toPath, staged.resolve(s"part$i.parquet")); i += 1
    }
    assert(i == 2, s"expected 2 staged files, got $i")
    val out = Files.createTempDirectory("graft_incdedup_out").toString
    Streams.incrementalDedupStream(
      spark.readStream.schema(Streams.documentsSchema)
        .option("maxFilesPerTrigger", 1).parquet(staged.toString),
      existing, out)
    out
  }

  test("stream-static near-dup gate: 2-batch split equals one-shot batch") {
    val out = incrementalDedupSplit()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getBoolean(1), r.getLong(2), r.getDouble(3))
    val got = spark.read.parquet(out)
      .select("doc_id", "is_dup", "best_match", "best_jaccard")
      .collect().map(key).toSet
    val want = graft.operators.Dedup.incremental(spark, Sf).collect()
      .map(key).toSet
    assert(got == want)
    assert(want.exists(_._2), "planted corpus must contain near-dups")
  }

  test("stream-static near-dup gate leaves nothing cached: not the index, not any batch's grams") {
    spark.catalog.clearCache()
    incrementalDedupSplit()
    assert(spark.sharedState.cacheManager.isEmpty, "cached frames left behind")
  }

  test("streaming STL monitor: 2-batch split refreshes to the exact batch decomposition") {
    import java.nio.file._
    val ev = graft.core.Tables(spark, Sf).events
    // two time-ordered halves -> two micro-batches
    val split = ev.agg(expr("percentile_approx(cast(ts as long), 0.5)"))
      .head().getLong(0)
    val in = Files.createTempDirectory("graft_stl_in").toString
    ev.filter(col("ts").cast("long") <= split).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/a")
    ev.filter(col("ts").cast("long") > split).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/b")
    val staged = Files.createTempDirectory("graft_stl_q")
    var i = 0
    for (sub <- Seq("a", "b");
         f <- new java.io.File(s"$in/$sub").listFiles
           if f.getName.endsWith(".parquet")) {
      Files.copy(f.toPath, staged.resolve(s"part$i.parquet")); i += 1
    }
    assert(i == 2)
    val out = Files.createTempDirectory("graft_stl_out").toString
    Streams.stlStream(
      spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(staged.toString), out)
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    val want = graft.operators.Events.eventsStl(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got == want && want.nonEmpty)
  }

  test("streaming growth curve: 2-batch split refreshes to the exact batch curve") {
    import java.nio.file._
    val ev = graft.core.Tables(spark, Sf).events
    val split = ev.agg(expr("percentile_approx(cast(ts as long), 0.5)"))
      .head().getLong(0)
    val in = Files.createTempDirectory("graft_cum_in").toString
    ev.filter(col("ts").cast("long") <= split).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/a")
    ev.filter(col("ts").cast("long") > split).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/b")
    val staged = Files.createTempDirectory("graft_cum_q")
    var i = 0
    for (sub <- Seq("a", "b");
         f <- new java.io.File(s"$in/$sub").listFiles
           if f.getName.endsWith(".parquet")) {
      Files.copy(f.toPath, staged.resolve(s"part$i.parquet")); i += 1
    }
    assert(i == 2)
    val out = Files.createTempDirectory("graft_cum_out").toString
    Streams.cumulativeUsersStream(
      spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(staged.toString), out)
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = graft.operators.Events.cumulativeUsers(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want && want.nonEmpty)
  }

  test("streaming Holt monitor: 2-batch split refreshes to the exact batch smoothing") {
    import java.nio.file._
    val ev = graft.core.Tables(spark, Sf).events
    val split = ev.agg(expr("percentile_approx(cast(ts as long), 0.5)"))
      .head().getLong(0)
    val in = Files.createTempDirectory("graft_holt_in").toString
    ev.filter(col("ts").cast("long") <= split).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/a")
    ev.filter(col("ts").cast("long") > split).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/b")
    val staged = Files.createTempDirectory("graft_holt_q")
    var i = 0
    for (sub <- Seq("a", "b");
         f <- new java.io.File(s"$in/$sub").listFiles
           if f.getName.endsWith(".parquet")) {
      Files.copy(f.toPath, staged.resolve(s"part$i.parquet")); i += 1
    }
    assert(i == 2)
    val out = Files.createTempDirectory("graft_holt_out").toString
    Streams.holtStream(
      spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(staged.toString), out)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))
    val got = spark.read.parquet(out).collect().map(key).toSet
    val want = graft.operators.Events.eventsHolt(spark, Sf).collect()
      .map(key).toSet
    assert(got == want && want.nonEmpty)
  }

  test("streaming Holt-Winters monitor: 2-batch split refreshes to the exact batch fold") {
    import java.nio.file._
    val ev = graft.core.Tables(spark, Sf).events
    val split = ev.agg(expr("percentile_approx(cast(ts as long), 0.5)"))
      .head().getLong(0)
    val in = Files.createTempDirectory("graft_hw_in").toString
    ev.filter(col("ts").cast("long") <= split).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/a")
    ev.filter(col("ts").cast("long") > split).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/b")
    val staged = Files.createTempDirectory("graft_hw_q")
    var i = 0
    for (sub <- Seq("a", "b");
         f <- new java.io.File(s"$in/$sub").listFiles
           if f.getName.endsWith(".parquet")) {
      Files.copy(f.toPath, staged.resolve(s"part$i.parquet")); i += 1
    }
    assert(i == 2)
    val out = Files.createTempDirectory("graft_hw_out").toString
    Streams.holtWintersStream(
      spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(staged.toString), out)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), if (r.isNullAt(5)) -1L else r.getLong(5))
    val got = spark.read.parquet(out).collect().map(key).toSet
    val want = graft.operators.Events.eventsHoltWinters(spark, Sf).collect()
      .map(key).toSet
    assert(got == want && want.nonEmpty)
  }

  test("streaming ANN probe gate: 2-batch split equals the indexed batch ranking, novelty flagged") {
    import java.nio.file._
    val idxPath = Files.createTempDirectory("graft_annprobe_idx").toString
    graft.operators.Ann.buildIvfIndex(spark, Sf, idxPath)
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    val qs = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    // planted NOVEL arrival: the negation of vector 0 — anti-correlated
    // with its own region, near-orthogonal to the rest, so its best
    // cosine sits far below tau while every corpus self-query hits 1.0
    val novel = emb.filter(col("vec_id") === 0)
      .select(lit(1000L).as("qid"),
        transform(col("embedding"), x => -x).as("qe"))
    val all = qs.unionByName(novel)
    val in = Files.createTempDirectory("graft_annprobe_in").toString
    all.filter(col("qid") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/a")
    all.filter(col("qid") % 2 =!= 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/b")
    val staged = Files.createTempDirectory("graft_annprobe_q")
    var i = 0
    for (sub <- Seq("a", "b");
         f <- new java.io.File(s"$in/$sub").listFiles
           if f.getName.endsWith(".parquet")) {
      Files.copy(f.toPath, staged.resolve(s"part$i.parquet")); i += 1
    }
    assert(i == 2, s"expected 2 staged files, got $i")
    val out = Files.createTempDirectory("graft_annprobe_out").toString
    Streams.annProbeStream(
      spark.readStream.schema(all.schema)
        .option("maxFilesPerTrigger", 1).parquet(staged.toString),
      idxPath, graft.operators.Ann.codebookOf(spark, Sf), out)
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4)))
    // the union over both micro-batches reproduces the batch operator's
    // own ranking exactly (stream ≡ batch)
    val want = graft.operators.Ann.ivfIndexed(spark, Sf, idxPath).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got.filter(_._1 < 1000L).map(t => (t._1, t._2, t._3, t._4)).toSet
      == want)
    // corpus members self-match at cosine 1.0 -> not novel; the planted
    // negation has nothing like it -> novel on every emitted row
    assert(got.filter(_._1 < 1000L).forall(!_._5))
    val nv = got.filter(_._1 == 1000L)
    assert(nv.nonEmpty && nv.forall(_._5),
      s"planted arrival must flag novel: ${nv.toSeq}")
  }

  test("streaming wordcount matches the batch flagship job") {
    import java.nio.file._
    val dir = Files.createTempDirectory("graft_wc_stream")
    Files.copy(Paths.get(s"$Sf/documents.parquet"),
      dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val stream = Streams.runToMemory(
      Streams.wordcountStream(Streams.readDocuments(spark, dir.toString)),
      "wc_stream")
    val got = stream.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = graft.operators.TextMR.wordcount(spark, Sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("streaming exact dedup drops within-watermark duplicates") {
    import java.nio.file._
    // stage the same events file TWICE — every event arrives twice
    val dir = Files.createTempDirectory("graft_dedup_stream")
    Files.copy(Paths.get(s"$Sf/events.parquet"),
      dir.resolve("a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get(s"$Sf/events.parquet"),
      dir.resolve("b.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val deduped = Streams.runToMemory(
      Streams.dedupEvents(Streams.readEvents(spark, dir.toString)),
      "dedup_stream", OutputMode.Append())
    val want = graft.core.Tables(spark, Sf).events.count()
    assert(deduped.count() == want,
      s"expected $want unique events, got ${deduped.count()}")
    assert(deduped.select("event_id").distinct().count() == want)
  }

  test("idempotent sink: a replayed batch overwrites itself — no duplicates") {
    val out = java.nio.file.Files.createTempDirectory("graft_idem").toString
    val events = graft.core.Tables(spark, Sf).events
    val b0 = events.filter(col("event_id") % 2 === 0)
    val b1 = events.filter(col("event_id") % 2 === 1)
    Streams.landBatch(b0, 0L, out)
    Streams.landBatch(b1, 1L, out)
    val full = spark.read.parquet(out).count()
    assert(full == events.count())
    // exactly-once under replay: re-landing batch 1 (e.g. restart after
    // a crash between write and offset commit) must change nothing
    Streams.landBatch(b1, 1L, out)
    assert(spark.read.parquet(out).count() == full, "replay duplicated rows")
    // ...even a PARTIAL earlier attempt is healed: the replay replaces
    // the batch's partition wholesale
    Streams.landBatch(b1.limit(3), 1L, out)
    Streams.landBatch(b1, 1L, out)
    assert(spark.read.parquet(out).count() == full, "partial attempt not healed")
    // and the streaming wrapper lands everything through the same path
    val out2 = java.nio.file.Files.createTempDirectory("graft_idem2").toString
    Streams.landIdempotent(Streams.readEvents(spark, path), out2)
    assert(spark.read.parquet(out2).drop("_batch_id").count() == events.count())
  }

  test("mapGroupsWithState running spend matches a batch aggregate") {
    val stream = Streams.runToMemory(
      Streams.runningSpend(spark, Streams.readEvents(spark, path)),
      "spend", OutputMode.Update())
    val got = stream.collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 100)))
      .toSet
    val want = graft.core.Tables(spark, Sf).events
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("value").as("spend"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 100)))
      .toSet
    assert(got == want)
  }

  test("streaming funnel: completed instances equal batch; expiries sound and horizon-complete") {
    val ev = graft.core.Tables(spark, Sf).events
    def side(t: String) = ev.filter(col("event_type") === t)
      .select(col("user_id"), col("event_id"), col("ts").cast("double").as("s"))
    // independent re-derivation of the batch funnel instance sets
    val views = side("view").toDF("u", "vid", "v_s")
    val clicks = side("click").toDF("cu", "cid", "c_s")
    val purchases = side("purchase").toDF("pu", "pid", "p_s")
    val vc = views.join(clicks, col("u") === col("cu") &&
        col("c_s") > col("v_s") && col("c_s") <= col("v_s") + 1800.0)
      .groupBy(col("u"), col("vid"), col("v_s"))
      .agg(min(col("c_s")).as("click_s"))
    val vcp = vc.join(purchases, col("u") === col("pu") &&
        col("p_s") > col("click_s") && col("p_s") <= col("click_s") + 1800.0)
      .select(col("vid")).distinct()
    val fullSet = vcp.collect().map(_.getLong(0)).toSet
    val vcMap = vc.collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
    val allViews = views.collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    val clickedOnly = vcMap.keySet -- fullSet
    val viewOnly = allViews.keySet -- vcMap.keySet

    val got = Streams.runToMemory(
      Streams.funnelStream(spark, Streams.readEvents(spark, path)),
      "funnel_stream", OutputMode.Append())
      .collect().map(r => (r.getLong(1), r.getString(2)))
    assert(got.map(_._1).distinct.length == got.length,
      "each view resolves exactly once")
    val byStage = got.groupBy(_._2).view.mapValues(_.map(_._1).toSet)
      .toMap.withDefaultValue(Set.empty[Long])
    // completion needs no watermark: exact equality
    assert(byStage("full") == fullSet)
    // expiries: sound…
    assert(byStage("clicked").subsetOf(clickedOnly),
      s"spurious clicked: ${(byStage("clicked") -- clickedOnly).take(3)}")
    assert(byStage("view").subsetOf(viewOnly),
      s"spurious view-only: ${(byStage("view") -- viewOnly).take(3)}")
    // …and complete up to the final watermark horizon (delay 2 h)
    val maxS = ev.agg(max(col("ts").cast("double"))).head().getDouble(0)
    val wm = maxS - 7200.0
    clickedOnly.filter(v => vcMap(v) + 1800.0 <= wm - 1.0).foreach { v =>
      assert(byStage("clicked").contains(v), s"unemitted expired chain $v") }
    viewOnly.filter(v => allViews(v) + 1800.0 <= wm - 1.0).foreach { v =>
      assert(byStage("view").contains(v), s"unemitted expired view $v") }
    // sf0.001 has no completed chains (fullSet is empty — asserted
    // equal above); the crafted-stream test below exercises 'full'
    assert(byStage("view").nonEmpty)
  }

  test("streaming funnel: crafted chains resolve to the right stages") {
    import java.nio.file._
    import spark.implicits._
    def ns(min: Int): Long = // ts column is ns-precision LongType
      (java.sql.Timestamp.valueOf("2024-03-01 08:00:00").getTime +
        min * 60000L) * 1000000L
    val rows = Seq(
      // user 1: view → click(+10m) → purchase(+25m): full
      (101L, ns(0), 1L, "view"), (102L, ns(10), 1L, "click"),
      (103L, ns(25), 1L, "purchase"),
      // user 2: view, click arrives too late (+40m): view-only
      (201L, ns(0), 2L, "view"), (202L, ns(40), 2L, "click"),
      // user 3: view → click(+10m), purchase never comes: clicked
      (301L, ns(0), 3L, "view"), (302L, ns(10), 3L, "click"),
      // user 9: a far-future view pushes the watermark past every
      // deadline above, and itself stays an unresolved tail
      (901L, ns(300), 9L, "view"),
    ).map { case (id, t, u, ty) => (id, t, u, ty, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = Files.createTempDirectory("graft_funnel_craft")
    rows.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val got = Streams.runToMemory(
      Streams.funnelStream(spark, Streams.readEvents(spark, dir.toString)),
      "funnel_craft", OutputMode.Append())
      .collect().map(r => (r.getLong(1), r.getString(2))).toSet
    assert(got == Set((101L, "full"), (201L, "view"), (301L, "clicked")))
  }

  test("streaming markov transitions equal the batch lead window across a batch split") {
    import java.nio.file._
    val raw = graft.core.Tables(spark, Sf).events // ts normalized to TimestampType
    val cutUs = raw.agg(expr("percentile(unix_micros(ts), 0.5)")).head().getDouble(0).toLong
    val watch = Files.createTempDirectory("graft_mkv_in")

    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft_mkv_half").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, watch.resolve(name))
    }

    // two batches: the per-user LastEvent state must carry the
    // boundary so cross-batch adjacencies still emit
    stage(raw.filter(unix_micros(col("ts")) <= cutUs), "half1.parquet")
    val q = Streams.markovStream(spark,
        Streams.readEvents(spark, watch.toString))
      .writeStream.format("memory").queryName("mkv_split")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      stage(raw.filter(unix_micros(col("ts")) > cutUs), "half2.parquet")
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("mkv_split")
      .groupBy("from_type", "to_type").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val want = Events.qMarkov(spark, Sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == want, "drained transition multiset must equal batch lead window")
  }

  test("streaming changepoint: latest per-type verdict equals batch across a batch split") {
    import java.nio.file._
    val raw = graft.core.Tables(spark, Sf).events // ts normalized to TimestampType
    val cutUs = raw.agg(expr("percentile(unix_micros(ts), 0.5)")).head().getDouble(0).toLong
    val watch = Files.createTempDirectory("graft_cp_in")

    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft_cp_half").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, watch.resolve(name))
    }

    // two batches: the per-type daily-count state must carry over so
    // the second batch's verdict covers the whole series
    stage(raw.filter(unix_micros(col("ts")) <= cutUs), "half1.parquet")
    val q = Streams.changepointStream(spark,
        Streams.readEvents(spark, watch.toString))
      .writeStream.format("memory").queryName("cp_split")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      stage(raw.filter(unix_micros(col("ts")) > cutUs), "half2.parquet")
      q.processAllAvailable()
    } finally q.stop()
    // Update mode: the LATEST emission per type (the memory sink
    // keeps every refresh) is the standing verdict. n_days alone can
    // TIE when the second half only adds events to already-seen
    // calendar days, so ties break on emission order (collect index)
    // — the later refresh wins.
    val got = spark.table("cp_split").collect().zipWithIndex
      .map { case (r, i) => (r.getString(0),
        ((r.getTimestamp(1), r.getLong(2), r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) null else r.getLong(5)), (r.getLong(2), i))) }
      .groupBy(_._1)
      .map { case (t, rows) => t -> rows.map(_._2).maxBy(_._2)._1 }
    val want = Events.qChangepoint(spark, Sf).collect()
      .map(r => r.getString(0) ->
        (r.getTimestamp(1), r.getLong(2), r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) null else r.getLong(5))).toMap
    assert(got == want, s"streamed verdicts $got\nvs batch $want")
  }

  test("streaming rfm: scored drained states equal batch qRfm across a batch split") {
    import java.nio.file._
    val raw = graft.core.Tables(spark, Sf).events // ts normalized to TimestampType
    val cutUs = raw.agg(expr("percentile(unix_micros(ts), 0.5)")).head().getDouble(0).toLong
    val watch = Files.createTempDirectory("graft_rfm_in")

    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft_rfm_half").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, watch.resolve(name))
    }

    stage(raw.filter(unix_micros(col("ts")) <= cutUs), "half1.parquet")
    val q = Streams.rfmStream(spark,
        Streams.readEvents(spark, watch.toString))
      .writeStream.format("memory").queryName("rfm_split")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      stage(raw.filter(unix_micros(col("ts")) > cutUs), "half2.parquet")
      q.processAllAvailable()
    } finally q.stop()
    // latest emission per user = max f (f strictly grows per refresh)
    val state = spark.table("rfm_split").collect()
      .map(r => (r.getLong(0), (r.getTimestamp(1).getTime, r.getLong(2), r.getLong(3))))
      .groupBy(_._1).map { case (u, rows) => u -> rows.map(_._2).maxBy(_._2) }
    // the stateless scoring decoration over the drained states:
    // recency anchored on the global max day over ALL events
    val DayMs = 86400000L
    val maxDayMs =
      raw.agg(max(col("ts"))).head().getTimestamp(0).getTime / DayMs * DayMs
    def band(v: Long, cuts: Seq[(Long, Int)]): Int =
      cuts.find(v >= _._1).map(_._2).getOrElse(1)
    val got = state.map { case (u, (lastMs, f, m)) =>
      val rDays = (maxDayMs - lastMs) / DayMs
      val rs = if (rDays <= 0) 5 else if (rDays <= 2) 4
        else if (rDays <= 5) 3 else if (rDays <= 10) 2 else 1
      val fs = band(f, Seq(20L -> 5, 15L -> 4, 10L -> 3, 5L -> 2))
      val ms = band(m, Seq(100000L -> 5, 75000L -> 4, 50000L -> 3, 25000L -> 2))
      u -> (rDays, f, m, rs * 100 + fs * 10 + ms)
    }
    val want = Events.qRfm(spark, Sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(7))).toMap
    assert(got == want, "scored drained RFM states must equal the batch query")
  }

  test("streaming kmeans: centroids equal a sequential reference fold across a batch split") {
    import java.nio.file._
    val raw = spark.read.parquet(s"$Sf/embeddings.parquet")
    val watch = Files.createTempDirectory("graft_skm_in")

    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft_skm_half").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, watch.resolve(name))
    }

    val model = new StreamingKmeans(8)
    stage(raw.filter(col("vec_id") < 250), "half1.parquet")
    val q = StreamingKmeans.fit(model,
      StreamingKmeans.readEmbeddings(spark, watch.toString))
    try {
      q.processAllAvailable()
      stage(raw.filter(col("vec_id") >= 250), "half2.parquet")
      q.processAllAvailable()
    } finally q.stop()

    // sequential reference: same quantization, seeds, frozen-at-batch-
    // start assignment, cumulative truncating-mean update
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val vecs = raw.collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(f => math.floor(f.toDouble * 1048576L).toLong).toArray)
      .sortBy(_._1)
    val halves = Seq(vecs.filter(_._1 < 250), vecs.filter(_._1 >= 250))
    val k = 8
    var cents = halves.head.sortBy { case (id, _) => (h60(id.toString), id) }
      .take(k).map(_._2.map(identity))
    val dim = cents.head.length
    val sums = Array.fill(k)(new Array[Long](dim))
    val counts = new Array[Long](k)
    halves.foreach { half =>
      half.foreach { case (_, qv) =>
        var best = 0; var bestDist = Long.MaxValue
        for (c <- 0 until k) {
          var acc = 0L
          for (d <- 0 until dim) { val df = qv(d) - cents(c)(d); acc += df * df }
          if (acc < bestDist) { bestDist = acc; best = c }
        }
        for (d <- 0 until dim) sums(best)(d) += qv(d)
        counts(best) += 1L
      }
      cents = Array.tabulate(k)(c => if (counts(c) > 0L)
        Array.tabulate(dim)(d => sums(c)(d) / counts(c)) else cents(c))
    }
    assert(model.centroids.map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq,
      "streamed centroids must replay the sequential fold exactly")
    assert(model.activeCenters > 0)
  }

  test("streaming kmeans: recovers planted blobs; serving assignment splits them") {
    import java.nio.file._
    import spark.implicits._
    val rows = (0 until 20).map { i =>
      val base = if (i % 2 == 0) 10.0f else -10.0f
      val jitter = (i / 2) * 0.01f
      (i.toLong, Array(base + jitter, base - jitter, base, base), 0)
    }
    val dir = Files.createTempDirectory("graft_skm_blob")
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val model = new StreamingKmeans(2)
    val q = StreamingKmeans.fit(model,
      StreamingKmeans.readEmbeddings(spark, dir.toString))
    try q.processAllAvailable() finally q.stop()
    val split = model.assign(rows.toDF("vec_id", "embedding", "label"))
      .groupBy("cid").count().collect().map(_.getLong(1)).sorted
    assert(split.toSeq == Seq(10L, 10L), s"got ${split.toSeq}")
  }

  test("streaming kmeans: replayed batchIds are no-ops; under-k seeds top up") {
    import spark.implicits._
    def vecs(ids: Range, base: Float) = ids.map(i =>
      (i.toLong, Array(base, base, base, base), 0))
      .toDF("vec_id", "embedding", "label")
    // replay guard: applying the same batchId twice must not double-
    // credit the cumulative sums (failure-replay semantics)
    val m1 = new StreamingKmeans(2)
    m1.processBatch(vecs(0 until 4, 1.0f), batchId = 0L)
    val after = m1.centroids.map(_.toSeq).toSeq
    m1.processBatch(vecs(0 until 4, 1.0f), batchId = 0L) // replay
    assert(m1.centroids.map(_.toSeq).toSeq == after,
      "replayed batch changed the model")
    m1.processBatch(vecs(4 until 8, 3.0f), batchId = 1L) // new id applies
    assert(m1.centroids.map(_.toSeq).toSeq != after,
      "fresh batch did not apply")
    // seed top-up: a 1-vector first batch must not cap a k=2 model at
    // one center forever
    val m2 = new StreamingKmeans(2)
    m2.processBatch(vecs(0 until 1, -5.0f), batchId = 0L)
    assert(m2.centroids.length == 1, "under-k first batch seeds < k")
    m2.processBatch(vecs(1 until 3, 5.0f), batchId = 1L)
    assert(m2.centroids.length == 2, "second batch did not top up to k")
    val split = m2.assign(vecs(0 until 1, -5.0f)
        .unionAll(vecs(1 until 3, 5.0f)))
      .groupBy("cid").count().collect().map(_.getLong(1)).sorted
    assert(split.toSeq == Seq(1L, 2L), s"blobs not separated: ${split.toSeq}")
    // top-up dedupe WITHIN one batch: two identical quantized vectors
    // arriving in the same top-up batch must seed only one center —
    // assignment ties break to the lower cid, so a duplicate center
    // could never win a vector and would be a permanently dead slot
    val m3 = new StreamingKmeans(3)
    m3.processBatch(vecs(0 until 1, -5.0f), batchId = 0L)
    m3.processBatch(vecs(1 until 3, 5.0f), batchId = 1L) // identical pair
    assert(m3.centroids.map(_.toSeq).distinct.length == m3.centroids.length,
      s"duplicate centers seeded: ${m3.centroids.map(_.toSeq).toSeq}")
    assert(m3.centroids.length == 2,
      "identical top-up candidates must collapse to one center")
    m3.processBatch(vecs(3 until 4, 9.0f), batchId = 2L)
    assert(m3.centroids.length == 3,
      "a later distinct batch must finish the top-up to k")
  }
}
