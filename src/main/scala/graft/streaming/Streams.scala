package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.core.WorkingSet

/** Structured Streaming twins of the events operators (SURVEY.md §2 C).
  *
  * The batch queries in [[graft.operators.Events]] and these streams
  * share semantics: windowed aggregation over event time with
  * watermarking, and gap-based sessions via `session_window`. Specs
  * drive them from the same parquet through a memory sink and compare
  * against the batch results (StreamingSpec).
  *
  * Scale: watermark + append mode bounds state; session_window state
  * is per-open-session, evicted at watermark; shuffle partitioning is
  * the same groupBy-key exchange as the batch plan.
  */
object Streams {

  /** The events schema every stream op below consumes (`ts` already a
    * session-local timestamp) — and the declared schema
    * [[readEvents]] falls back to when its footer probe finds nothing
    * to probe (a watch directory created before the first file
    * lands). */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over an events parquet path. A file stream
    * needs its schema declared up front, and the driver's testdata has
    * encoded `ts` three ways across generations (int64 nanos, naive
    * timestamp[us] → NTZ, zoned timestamp[us] → LTZ) — so probe the
    * existing footers with a one-off batch read and normalize through
    * the SAME [[graft.core.Tables.normalizeTs]] switch the batch
    * accessors use (the two read paths cannot drift). The probe is a
    * footer/listing read only (no data scan), happens once at stream
    * construction, and an EMPTY or not-yet-existing watch directory —
    * the standard create-dir-then-stream pattern — falls back to
    * declaring [[eventsSchema]] directly (files that later land are
    * read with µs-timestamp `ts`, today's on-disk encoding). */
  def readEvents(spark: SparkSession, path: String): DataFrame = {
    val onDisk =
      try Some(spark.read.parquet(path).schema)
      catch {
        // ONLY the nothing-there-yet cases fall back to the declared
        // schema; any other analysis failure (corrupt files, a path
        // that isn't parquet) must stay loud at construction
        case e: org.apache.spark.sql.AnalysisException
            if Set("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")
              .contains(e.getCondition) => None
      }
    onDisk match {
      case Some(s) =>
        graft.core.Tables.normalizeTs(
          spark.readStream.schema(s).parquet(path), "ts")
      case None =>
        // one-line breadcrumb: if a later batch fails on an encoding
        // mismatch (e.g. legacy int64-nanos files landing in the
        // watched dir), the failure is traceable to this
        // declared-schema path rather than the probe+normalize one
        System.err.println(s"[graft] readEvents: '$path' is empty or " +
          "absent; declaring the µs-timestamp events schema directly " +
          "(files that later land are read through it un-normalized)")
        spark.readStream.schema(eventsSchema).parquet(path)
    }
  }

  /** Streaming twin of q_event_window: hourly tumbling windows with a
    * 2-hour watermark. */
  def windowCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("total"))

  /** Streaming Benford drift monitor: the per-day first-digit census
    * of the money stream — the fraud/quality screen
    * ([[graft.operators.Profile.benfordProfile]]) as a standing
    * monitor. The digit expression IS the batch profiler's own
    * ([[graft.operators.Profile.firstDigit]] — exact cents, canonical
    * decimal string), so the twins cannot drift; per-window state is
    * ≤ 9 counters regardless of traffic, a merge-exact aggregate
    * under any micro-batch split. A consumer compares the window's
    * shares against `Profile.BenfordPpm` to score drift. */
  def benfordWindow(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .select(col("ts"),
        graft.operators.Profile.firstDigit(col("value")).as("digit"))
      .filter(col("digit").isNotNull)
      .groupBy(window(col("ts"), "1 day"), col("digit"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("day"), col("digit"), col("n"))

  /** Streaming PSI drift monitor: each day's event-type mix scored
    * against a DECLARED reference distribution (the
    * [[graft.operators.Profile.psiProfile]] formula as a standing
    * monitor — a drift alert reads `psi` per window). The reference
    * is a design-time constant, so every per-type term is a
    * row-local expression over literals: ONE stateful aggregate with
    * |declared types|+1 counters per window however many events
    * stream through, and the per-type micro-nat terms sum in a fixed
    * literal order (exact BIGINT — micro-batch-split-proof). A
    * declared type absent from a window has no finite PSI term: it
    * is counted in `n_zero_types` and skipped, mirroring the batch
    * NULL contract; undeclared types land in `n_other` (they can't
    * enter PSI — the reference assigns them no mass). */
  def psiWindow(events: DataFrame, refCounts: Map[String, Long]): DataFrame = {
    require(refCounts.nonEmpty && refCounts.values.forall(_ > 0),
      "psiWindow: reference distribution must be non-empty with positive counts")
    val types = refCounts.keys.toSeq.sorted
    val refTotal = refCounts.values.sum
    val nCols = types.zipWithIndex.map { case (t, i) =>
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n_$i") }
    val nOther = sum(when(!col("event_type").isin(types: _*), 1L)
      .otherwise(0L)).as("n_other")
    val agged = events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 day"))
      .agg(nCols.head, (nCols.tail :+ nOther): _*)
      .withColumn("n_total", types.indices.map(i => col(s"n_$i")).reduce(_ + _))
    def term(i: Int): Column = {
      val rt = refCounts(types(i))
      val lr = round(log((lit(rt) * col("n_total")).cast("double") /
        (col(s"n_$i") * lit(refTotal)).cast("double")) * 1e6, 0).cast("long")
      val dpq = lit(rt).cast("double") / lit(refTotal).cast("double") -
        col(s"n_$i").cast("double") / col("n_total")
      when(col(s"n_$i") > 0, round(dpq * lr, 0).cast("long"))
    }
    val psiMicro = types.indices.map(i => coalesce(term(i), lit(0L))).reduce(_ + _)
    val nZero = types.indices.map(i =>
      when(col(s"n_$i") === 0, 1L).otherwise(0L)).reduce(_ + _)
    agged.select(col("window.start").as("day"), col("n_total"), col("n_other"),
      nZero.as("n_zero_types"), psiMicro.as("psi_micro"),
      round(psiMicro.cast("double") / 1e6, 6).as("psi"))
  }

  /** Streaming data-quality gate —
    * [[graft.operators.Profile.checksProfile]]'s standing monitor:
    * per event-time day, violation counters for the row-local event
    * checks (null/negative value, undeclared event_type, null
    * user_id) and a per-window `passed` verdict — the alert a 100
    * TB/day ingest wires to its pager. ONE stateful windowed
    * aggregate with a fixed counter set per window (state bounded by
    * the watermark, not the stream), every check a conditional sum —
    * adding a check = adding a counter, the batch suite's contract.
    * Checks are count-shaped (no division, no ordering), so any
    * micro-batch split sums to the identical window row. */
  def checksWindow(events: DataFrame, declaredTypes: Seq[String]): DataFrame = {
    require(declaredTypes.nonEmpty, "checksWindow: declared type set is empty")
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("v_null_value"),
        sum(when(col("value") < 0, 1L).otherwise(0L)).as("v_negative_value"),
        sum(when(!col("event_type").isin(declaredTypes: _*), 1L)
          .otherwise(0L)).as("v_unknown_type"),
        sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("v_null_user"))
      .select(col("window.start").as("day"), col("n_rows"),
        col("v_null_value"), col("v_negative_value"),
        col("v_unknown_type"), col("v_null_user"),
        (col("v_null_value") + col("v_negative_value") +
          col("v_unknown_type") + col("v_null_user") === 0L).as("passed"))
  }

  /** Streaming fuzzy-admission gate — the record-linkage
    * ([[graft.operators.Linkage]]) family's standing monitor: names
    * arriving on the stream are checked against a STATIC dictionary
    * by the same FastSS deletion-variant blocking + exact
    * `levenshtein` verify as the batch fuzzy join, and each day
    * window emits every arriving name that is within
    * [[graft.operators.Linkage.Tau]] edits of a known name, with its
    * best match ((dist, name) total order) and how many dictionary
    * names it collides with. Shape: the variant explode is
    * stream-side map-only; the dictionary's variant index is the
    * static join side (broadcast at dictionary scale); the only
    * state is the per-(window, name) best-match aggregate — bounded
    * by arriving distinct names per day, not by traffic. The
    * admission decision (block, merge, or enroll the new spelling)
    * is the consumer's; this surface is the evidence feed. */
  def fuzzyNameGate(names: DataFrame, dict: DataFrame): DataFrame = {
    import graft.operators.Linkage
    val keyed = dict
      .select(Linkage.guardLen(col("name")).as("name"))
      .select(col("name").as("dict_name"),
        explode(Linkage.variants("name")).as("v"))
    val probes = names
      .withWatermark("ts", "2 hours")
      .select(col("ts"), Linkage.guardLen(col("name")).as("name"))
      .select(col("ts"), col("name"), explode(Linkage.variants("name")).as("v"))
    val dist = levenshtein(col("name"), col("dict_name")).cast("long")
    probes.join(keyed, Seq("v"))
      .filter(dist <= Linkage.Tau)
      .groupBy(window(col("ts"), "1 day"), col("name"))
      .agg(min(struct(dist.as("dist"), col("dict_name").as("m"))).as("best"),
        size(collect_set(col("dict_name"))).as("n_matches"))
      .select(col("window.start").as("day"), col("name"),
        col("best.m").as("nearest"), col("best.dist").as("dist"),
        col("n_matches"))
  }

  /** Streaming Count-Min: a per-6-hour-window user-activity sketch,
    * built by the same [[graft.functions.CountMinAgg]] the batch
    * path uses — TypedImperativeAggregates merge partial buffers,
    * which is exactly what incremental micro-batch state needs, so
    * the streaming matrix is bit-identical to a batch sketch over
    * the same rows (StreamingSpec asserts). This is the streaming
    * sketch pattern for 100 TB/day telemetry: per-window state is a
    * fixed d×w matrix however many events stream through. */
  def cmsWindowSketch(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "6 hours"))
      .agg(graft.functions.SketchAggs.countMinAgg(
        graft.functions.PortableHash.h60(col("user_id").cast("string")),
        4, 64).as("cms"))
      .select(col("window.start").as("win"), col("cms"))

  /** Streaming heavy hitters: a per-6-hour-window Misra-Gries
    * summary of active users via [[graft.functions.SpaceSavingAgg]] —
    * the bounded-state frequent-items surface for streams. Per-window
    * state is ≤ 2·capacity counters plus one offset scalar however
    * many events stream through, and the declared sandwich bound
    * (`lo ≤ true ≤ hi`, `hi − lo = θ ≤ N/(capacity+1)`) survives ANY
    * micro-batch arrival order — the mergeable-summaries merge is
    * exactly what incremental state needs. In the exact regime
    * (capacity ≥ distinct keys in the window) no compression ever
    * fires, θ = 0, and the emitted summary is the exact
    * (count desc, key asc) vector — bit-identical to a batch run
    * (StreamingSpec pins that); under compression the θ-sized tail
    * may differ from batch in CONTENT while both carry the same
    * guarantees (SpaceSavingSpec pins the bounds on planted skew). */
  def spaceSavingWindow(events: DataFrame, capacity: Int = 16): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "6 hours"))
      .agg(graft.functions.SpaceSavingAgg.spaceSaving(
        col("user_id").cast("string"), capacity).as("hh"))
      .select(col("window.start").as("win"), col("hh"))

  /** Streaming quantile sketch: a per-6-hour-window mergeable
    * value-distribution sketch ([[graft.functions.QSketchAgg]] —
    * HDR-style exponential buckets over cent-scaled event values).
    * Bucket counts merge by elementwise sum, so incremental
    * micro-batch state is bit-identical to a batch sketch over the
    * same rows (StreamingSpec asserts), and any quantile is decoded
    * from the emitted array after the fact — the streaming
    * latency-percentile pattern for 100 TB/day telemetry: fixed
    * 15 KiB state per window however many events stream through. */
  def qsketchWindow(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "6 hours"))
      .agg(graft.functions.QuantileSketch.qsketchAgg(
        expr("CAST(round(value * 100, 0) AS BIGINT)")).as("qs"))
      .select(col("window.start").as("win"), col("qs"))

  /** [[qsketchWindow]] with the percentiles already decoded: each
    * emitted window carries n / p50 / p90 / p99 cents instead of the
    * raw 1888-bucket array, so a streaming consumer (a dashboard
    * sink, an alert rule) reads latency-style percentiles directly.
    * The decode is a STATELESS projection over the aggregated stream
    * (one `aggregate()` fold + the midpoint CASE per row) and both
    * pieces are the same shared source the batch profiler decodes
    * with ([[graft.functions.QuantileSketch.rankFoldSql]] /
    * `midCaseSql`), so stream ≡ batch extends from raw buckets to
    * decoded values for free (StreamingSpec pins both). */
  def qsketchWindowPercentiles(events: DataFrame): DataFrame =
    decodeQsketch(qsketchWindow(events))

  /** The decode projection alone — applied to a (win, qs) frame,
    * batch or streaming: the twins must share it VERBATIM for the
    * stream ≡ batch pin to mean anything. */
  private[graft] def decodeQsketch(sketches: DataFrame): DataFrame = {
    import graft.functions.{QuantileSketch => QS}
    sketches
      .withColumn("n", expr(QS.totalFoldSql("qs")))
      .withColumn("q", expr(QS.rankFoldSql("qs", "n")))
      .select(col("win"), col("n"),
        expr(QS.midCaseSql("q.i50")).cast("long").as("p50_cents"),
        expr(QS.midCaseSql("q.i90")).cast("long").as("p90_cents"),
        expr(QS.midCaseSql("q.i99")).cast("long").as("p99_cents"))
  }

  /** Streaming HLL: per-6-hour-window approximate distinct users via
    * the same [[graft.functions.HllAgg]] the batch profiler uses —
    * per-window state is a fixed 1 KiB register array however many
    * events stream through, and the registers are bit-identical to a
    * batch sketch over the same rows (StreamingSpec asserts). The
    * streaming cardinality pattern for 100 TB/day telemetry. */
  def hllWindowSketch(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "6 hours"))
      .agg(graft.functions.Hll.hllAgg(graft.functions.PortableHash.h60(
        concat(lit("hll#"), col("user_id").cast("string")))).as("regs"))
      .select(col("window.start").as("win"), col("regs"))

  /** Streaming top-k: the k highest-value purchases per event-time
    * window, via the same bounded-heap [[graft.functions.TopKScore]]
    * aggregate the batch ANN/top-k paths use — per-window state is
    * ≤ k entries however many events stream through (the
    * watermark-bounded analogue of the batch no-window-funnel rule).
    * StreamingSpec pins stream ≡ batch on the same rows. */
  def topkWindowSpend(events: DataFrame, k: Int = 3): DataFrame =
    events
      .filter(col("event_type") === "purchase")
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "6 hours"))
      .agg(graft.functions.TopKScoreAgg.topk(
        round(col("value") * 100, 0).cast("long").cast("double"),
        col("event_id"), k).as("top"))
      .select(col("window.start").as("win"), explode(col("top")).as("e"))
      .select(col("win"), col("e.id").as("event_id"),
        (col("e.score") / 100.0).as("value"))

  /** Streaming bottom-k sample: per-event-time-window deterministic
    * uniform sample of event values via the same
    * [[graft.functions.BottomKSampleAgg]] the batch quantile profiler
    * uses — per-window state is ≤ k (hash, value) entries however
    * many events stream through, and because bottom-k-by-hash is
    * merge-exact, the streamed sample is IDENTICAL to a batch sample
    * over the same rows (StreamingSpec pins it). The streaming
    * quantile pattern for 100 TB/day telemetry: emit the sample, pick
    * index quantiles downstream. */
  def sampleWindowSketch(events: DataFrame, k: Int = 64): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "6 hours"))
      .agg(graft.functions.BottomKSampleAgg.bottomk(
        graft.functions.PortableHash.h60(col("event_id").cast("string")),
        col("value"), k).as("samp"))
      .select(col("window.start").as("win"), col("samp"))

  /** Streaming twin of q_sessionize: built-in session_window with a
    * 30-minute gap. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("start"),
        col("n_events"))

  /** Custom keyed state (the mapGroupsWithState surface): per-user
    * running purchase count + spend, emitted per batch in update mode. */
  final case class UserSpend(user_id: Long, n_purchases: Long, spend: Double)

  def runningSpend(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("value")).as[(Long, Double)]
    purchases
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Double)], st: GroupState[UserSpend]) =>
          val prev = st.getOption.getOrElse(UserSpend(uid, 0L, 0.0))
          val batch = rows.toSeq
          val next = UserSpend(uid, prev.n_purchases + batch.size,
            prev.spend + batch.map(_._2).sum)
          st.update(next)
          next
      }
      .toDF()
  }

  /** Stream-stream interval join: errors within 30 minutes after a
    * purchase by the same user. Both sides watermarked so Spark can
    * bound the join state (purchase state is droppable once the
    * watermark passes its 30-minute window). Twin of the batch
    * [[graft.operators.Events.qRangeJoin]] — StreamingSpec asserts
    * equality. */
  def purchaseErrorJoin(events: DataFrame): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "2 hours")
    val e = events.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"),
        col("event_id").as("error_id"))
      .withWatermark("e_ts", "2 hours")
    p.join(e, col("p_user") === col("e_user") &&
        col("e_ts") >= col("p_ts") &&
        col("e_ts") <= col("p_ts") + expr("interval 30 minutes"))
      .select(col("purchase_id"), col("error_id"), col("p_user").as("user_id"))
  }

  /** A closed gap-session: same shape as the batch sessionizer's
    * output rows. */
  final case class ClosedSession(user_id: Long, n_events: Long,
      start_s: Long, end_s: Long)

  /** In-flight session state (public: the state encoder's generated
    * code instantiates it reflectively). */
  final case class OpenSession(startS: Double, endS: Double, n: Long)

  /** Custom stateful sessionizer via flatMapGroupsWithState +
    * event-time timeout: per-user open-session state, gap > 30 min
    * closes and EMITS the session (append mode), watermark-driven
    * timeout flushes sessions whose gap window has passed. This is
    * the full-control alternative to [[sessionCounts]]'s built-in
    * session_window — the API a pipeline needs when session logic
    * outgrows a gap predicate (e.g. cart/checkout semantics).
    * Gap arithmetic matches the batch sessionizer exactly (double
    * seconds, strict > 1800). */
  def sessionizeWithState(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val GapS = 1800.0
    val typed = events
      .withWatermark("ts", "2 hours")
      .select(col("user_id"), col("ts").cast("double").as("ts_s"),
        col("ts"))
      .as[(Long, Double, java.sql.Timestamp)]
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[(Long, Double, java.sql.Timestamp)],
            st: GroupState[OpenSession]) =>
          if (st.hasTimedOut) {
            val s = st.get
            st.remove()
            Iterator(ClosedSession(uid, s.n, s.startS.toLong, s.endS.toLong))
          } else {
            val ts = rows.map(_._2).toArray.sorted
            val closed = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
            var open = st.getOption
            ts.foreach { t =>
              open match {
                case Some(s) if t - s.endS > GapS =>
                  closed += ClosedSession(uid, s.n, s.startS.toLong, s.endS.toLong)
                  open = Some(OpenSession(t, t, 1L))
                case Some(s) =>
                  open = Some(OpenSession(s.startS, math.max(s.endS, t), s.n + 1L))
                case None =>
                  open = Some(OpenSession(t, t, 1L))
              }
            }
            open.foreach { s =>
              st.update(s)
              st.setTimeoutTimestamp(((s.endS + GapS) * 1000).toLong)
            }
            closed.iterator
          }
      }
      .toDF()
  }

  /** One emitted calendar day of the streaming gap-fill — same shape
    * as a batch [[graft.operators.Events.qGapFill]] row. */
  final case class FilledDay(user_id: Long, day: java.sql.Timestamp,
      n_events: Long, spent: Double, carried: Double)

  /** Streaming gap-fill state (public: the state encoder's generated
    * code instantiates it reflectively): the next calendar day to
    * emit (-1 = nothing emitted yet), the carried-forward spend, and
    * the not-yet-sealed per-day aggregates. `pending` is bounded by
    * the watermark horizon (≲ delay + 1 day of days per user), so
    * steady-state state is O(1) per user however long the stream. */
  final case class GapFillState(nextDayMs: Long, carriedCents: Long,
      pending: Map[Long, (Long, Long)])

  /** Streaming twin of q_gap_fill: per-user daily activity with
    * missing days materialized and spend carried forward. A day is
    * SEALED once the watermark passes its end (no more late events
    * can join it); sealed days emit in calendar order — including
    * zero-event gap days between them — and the final drain's
    * no-data batch fires the event-time timeout that flushes days
    * sealed by the last watermark advance. Each user's still-open
    * tail (days the watermark hasn't passed) stays in state, exactly
    * like the stateful sessionizer's open tail.
    *
    * This is the full-control stateful shape because no built-in
    * operator can EMIT rows for days that have no input rows — the
    * batch twin's calendar `sequence()` has no streaming counterpart. */
  def gapFillStream(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val DayMs = 86400000L
    // the watermarked ts column must survive into the stateful
    // operator's input or the event-time timeout is rejected (same
    // discipline as sessionizeWithState).
    //
    // Days are UTC fixed-24h buckets (`unix_millis div 86400000`),
    // NOT session-timezone date_trunc: the state machine advances its
    // cursor by a constant DayMs, and a DST-observing session
    // timezone would produce 23h/25h calendar days that desync the
    // cursor from the pending keys (an observed day would emit as a
    // gap and its real key would strand in state until the timeout
    // re-arm threw). Under a UTC session — the batch twin's tested
    // configuration — the two bucketings coincide exactly.
    val typed = events
      .withWatermark("ts", "2 hours")
      .select(col("user_id"),
        expr("(unix_millis(ts) div 86400000) * 86400000").as("day_ms"),
        round(col("value") * 100, 0).cast("long").as("cents"),
        col("ts"))
      .as[(Long, Long, Long, java.sql.Timestamp)]
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[(Long, Long, Long, java.sql.Timestamp)],
            st: GroupState[GapFillState]) =>
          var s = st.getOption.getOrElse(GapFillState(-1L, 0L, Map.empty))
          if (!st.hasTimedOut) {
            rows.foreach { case (_, dayMs, cents, _) =>
              val (n, c) = s.pending.getOrElse(dayMs, (0L, 0L))
              s = s.copy(pending = s.pending.updated(dayMs, (n + 1L, c + cents)))
            }
          }
          val wm = st.getCurrentWatermarkMs()
          val out = scala.collection.mutable.ArrayBuffer.empty[FilledDay]
          if (s.pending.nonEmpty) {
            val maxDay = s.pending.keys.max
            var d = if (s.nextDayMs < 0) s.pending.keys.min else s.nextDayMs
            var carried = s.carriedCents
            // gap days use the same sealing rule as observed days: the
            // wm condition stops the loop before any unsealed day, so
            // an unsealed pending day is never emitted early
            while (d + DayMs <= wm && d <= maxDay) {
              val (n, c) = s.pending.getOrElse(d, (0L, 0L))
              if (n > 0L) carried = c
              out += FilledDay(uid, new java.sql.Timestamp(d), n,
                c / 100.0, carried / 100.0)
              s = s.copy(pending = s.pending - d)
              d += DayMs
            }
            s = s.copy(nextDayMs = d, carriedCents = carried)
          }
          st.update(s)
          // re-arm on the EARLIEST unsealed day's end — the next
          // moment any pending day seals. (The latest day's end would
          // sit beyond the final watermark and never fire, leaving
          // every sealed-but-unflushed day stuck in state.) An
          // unsealed day's end is > the current watermark, which is
          // exactly what setTimeoutTimestamp requires.
          if (s.pending.nonEmpty)
            st.setTimeoutTimestamp(s.pending.keys.min + DayMs)
          out.iterator
      }
      .toDF()
  }

  /** The on-disk documents schema. */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-source stream over a documents parquet path. */
  def readDocuments(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(documentsSchema).parquet(path)

  /** Streaming decontamination — the stream–static surface: a
    * document stream is gated against a STATIC benchmark gram set
    * (built once, batch-side, from the eval suite) as it lands. The
    * static side collapses to ONE array row and broadcasts into every
    * micro-batch, so the verdict is a stateless per-row projection
    * (`array_intersect` against the doc's own distinct gram set) —
    * zero streaming state, append mode, unbounded-stream-safe. This
    * is the right shape for a gate table that is small and fixed
    * while the stream is not.
    *
    * Exact twin of [[graft.operators.Curation.pipelineDecontamDf]]'s
    * per-doc verdict: both count DISTINCT matching grams.
    * StreamingSpec pins stream ≡ batch rows. */
  def decontamStream(docs: DataFrame, benchDocs: DataFrame,
      n: Int = 13): DataFrame = {
    def grams(c: org.apache.spark.sql.Column) =
      graft.functions.ShingleCol.nGramShingles(
        graft.functions.Shingles.tokens(c), n)
    val benchSet = benchDocs
      .select(explode(grams(col("text"))).as("gram"))
      .agg(collect_set(col("gram")).as("bench_grams"))
    docs
      .crossJoin(broadcast(benchSet))
      .select(col("doc_id"), col("source"),
        size(array_intersect(grams(col("text")), col("bench_grams")))
          .cast("long").as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0L)
  }

  /** Stream–static MIXTURE admission gate: stream documents through
    * the water-line thresholds a batch
    * [[graft.operators.Curation.pipelineMix]] derives from the
    * standing corpus — the continuous-ingest shape: yesterday's
    * corpus sets the per-language water line, today's arrivals are
    * admitted statelessly (the membership rule is row-local: hash
    * bucket vs broadcast threshold — no aggregation state however
    * fast documents arrive; mix drift is absorbed by re-deriving
    * thresholds at the next batch run, exactly how the standing
    * benchmark set works in [[decontamStream]]). Both halves of the
    * rule — threshold derivation AND bucket — are the batch
    * operator's own private helpers, so stream ≡ batch on the same
    * rows by construction (StreamingSpec pins it). */
  def mixStream(docs: DataFrame, corpus: DataFrame): DataFrame = {
    import graft.operators.{Curation => C}
    docs.select(col("doc_id"), col("lang"))
      .join(broadcast(C.mixThresholds(corpus)), Seq("lang"))
      .filter(C.mixBucket < col("thresh"))
      .select(col("doc_id"), col("lang"))
  }

  /** Stream–static TEMPERATURE admission gate — the α=0.5 language
    * rebalance ([[graft.operators.Curation.sampleTemperatureDf]]) at
    * ingest time, the [[mixStream]] shape: the standing corpus
    * derives the per-language `sqrt(n_min/n_l)·2²⁰` thresholds, each
    * arriving document is admitted by the row-local portable-hash
    * compare — zero streaming state, append-mode, unbounded-safe.
    * Threshold derivation AND bucket are the batch operator's own
    * halves, so stream ≡ batch on the same rows by construction
    * (StreamingSpec pins it). */
  def temperatureStream(docs: DataFrame, corpus: DataFrame): DataFrame = {
    import graft.operators.{Curation => C}
    docs.select(col("doc_id"), col("lang"))
      .join(broadcast(C.temperatureThresholds(corpus)), Seq("lang"))
      .filter(C.temperatureBucket < col("thresh"))
      .select(col("doc_id"), col("lang"))
  }

  /** Stream–static IMPORTANCE-RESAMPLING admission gate — the DSIR
    * sampler ([[graft.operators.Curation.sampleImportance]]) at
    * ingest time: the standing corpus derives the per-bucket
    * micro-nat likelihood-ratio table ONCE (256 rows, collected and
    * shipped as an expression literal — the codebook-collect
    * discipline), and each arriving document scores itself with a
    * purely ROW-LOCAL fold over its own tokens — no explode, no
    * groupBy, ZERO streaming state however fast documents arrive.
    * The ratio table is COMPLETE over all buckets (the batch
    * helper's spine join), so tokens the standing corpus never saw
    * score the smoothed default instead of silently dropping out.
    * Bucket hash, ratio derivation, and keep gate are the batch
    * operator's own shared halves, and the row-local fold computes
    * the identical integer sum the batch explode+groupBy computes —
    * StreamingSpec pins stream ≡ batch on the same rows. */
  def importanceStream(docs: DataFrame, corpus: DataFrame): DataFrame = {
    import graft.operators.{Curation => C}
    val rows = C.importanceRatios(corpus).collect()
    require(rows.length == C.DsirBuckets && !rows.exists(_.isNullAt(1)),
      "importanceStream: standing corpus yields no ratio table " +
        "(empty corpus?) — the gate needs a derivable distribution")
    val arr = new Array[Long](C.DsirBuckets)
    rows.foreach(r => arr(r.getLong(0).toInt) = r.getLong(1))
    val lrLit = array(arr.map(lit(_)).toSeq: _*)
    val toks = graft.functions.Shingles.tokens(col("text"))
    val lw = aggregate(toks, lit(0L), (acc, w) =>
      acc + element_at(lrLit, (C.dsirBucket(w) + 1).cast("int")))
    docs
      .select(col("doc_id"), col("lang"),
        size(toks).cast("long").as("n_tok"), lw.as("lw_micro"))
      .filter(C.importanceKeep(col("doc_id"), col("n_tok"), col("lw_micro")))
  }

  /** Stream–static NEAR-DUP admission gate —
    * [[graft.operators.Dedup.incremental]]'s philosophy at ingest
    * time: arriving documents are MinHash-LSH probed against a
    * STANDING index built ONCE from the existing corpus
    * (`Dedup.standingIndex`: cached gram sets + band buckets; in
    * production, persisted and appended per admitted shard). Each
    * micro-batch runs the batch operator's own probe inside
    * foreachBatch — the stream-static reuse shape — so stream ≡
    * batch by construction: a doc's verdict depends only on (doc,
    * standing corpus), never on other arrivals, hence the union of
    * verdicts over ANY micro-batch split equals the one-shot batch
    * run (StreamingSpec pins a forced 2-batch split against
    * [[graft.operators.Dedup.incrementalDf]]). Zero streaming state:
    * the per-batch probe is bounded by the batch, the index by the
    * standing corpus. Drains synchronously. The call's scope owns the
    * standing index; each batch's own scope (the stream thread has no
    * outer one) releases that batch's gram set once it is written. */
  def incrementalDedupStream(docs: DataFrame, existing: DataFrame,
      outPath: String, tau: Double = 0.5): Unit = WorkingSet.scope {
    val index = graft.operators.Dedup.standingIndex(existing)
    val q = docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        WorkingSet.scope(graft.operators.Dedup.probeIncremental(index, batch, tau)
          .write.mode("append").parquet(outPath))
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Streaming SEASONAL-TREND monitor — the live twin of
    * [[graft.operators.Events.eventsStl]]: purchases stream in, a
    * complete-mode daily-revenue aggregate keeps ONE exact row per
    * calendar day (the only state an unbounded purchase feed needs —
    * bounded by the calendar, not traffic), and each trigger
    * refreshes the decomposition by running the batch operator's OWN
    * fold over the full daily table (the view-refresh sink shape,
    * [[ivmStream]]'s discipline). Because the complete-mode table
    * after draining IS the batch daily aggregate, stream ≡ batch
    * under any micro-batch split (StreamingSpec pins a forced
    * 2-batch split against [[graft.operators.Events.stlDf]]).
    * Drains synchronously. */
  /** Streaming Holt forecast monitor —
    * [[graft.operators.Events.eventsHolt]]'s standing twin, the
    * [[stlStream]] shape: the daily revenue aggregate runs as ONE
    * complete-mode stateful aggregate (state = days, bounded by the
    * calendar, not the stream), and each trigger refreshes the
    * level/trend/fitted table through the SAME batch smoothing fold
    * over the ≤ days-sized state — so stream ≡ batch by
    * construction, any micro-batch split. The latest one-step
    * forecast (last level + trend) is what an alerting job reads. */
  def holtStream(events: DataFrame, outPath: String): Unit = {
    val daily = events
      .filter(col("event_type") === "purchase")
      .select(expr("cast(ts as long) div 86400").as("day"),
        round(col("value") * 100, 0).cast("long").as("c"))
      .groupBy(col("day")).agg(sum(col("c")).as("cents"))
    val q = daily.writeStream
      .outputMode(OutputMode.Complete())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.operators.Events.holtOfDaily(batch)
          .write.mode("overwrite").parquet(outPath)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Streaming HOLT-WINTERS monitor — [[holtStream]] with the
    * period-7 seasonal register
    * ([[graft.operators.Events.eventsHoltWinters]]'s standing twin):
    * same calendar-bounded complete-mode daily state, each trigger
    * refreshes through the SAME batch triple-smoothing fold, so
    * stream ≡ batch under any micro-batch split by construction
    * (StreamingSpec pins a forced 2-batch split). The alerting read
    * is the last row's `level + trend + seasonal-due-next`. */
  def holtWintersStream(events: DataFrame, outPath: String): Unit = {
    val daily = events
      .filter(col("event_type") === "purchase")
      .select(expr("cast(ts as long) div 86400").as("day"),
        round(col("value") * 100, 0).cast("long").as("c"))
      .groupBy(col("day")).agg(sum(col("c")).as("cents"))
    val q = daily.writeStream
      .outputMode(OutputMode.Complete())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.operators.Events.holtWintersOfDaily(batch)
          .write.mode("overwrite").parquet(outPath)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Streaming growth-curve monitor —
    * [[graft.operators.Events.cumulativeUsers]]'s standing twin. The
    * streaming state is per-USER first-seen day (a complete-mode
    * min aggregate keyed by user — state bounded by the population,
    * not the event volume, the only distinct-over-all-history state
    * contract that survives 100 TB/day), and each trigger refreshes
    * the spine + cumulation through a batch fold over that
    * population-bounded frame — stream ≡ batch at any split. */
  def cumulativeUsersStream(events: DataFrame, outPath: String): Unit = {
    // per-user (first, last) seen day: the last-day half exists so the
    // refreshed spine covers the FULL event span — quiet tail days
    // (everyone acquired, activity continuing) must report flat rows,
    // exactly like the batch surface
    val firstDay = events
      .select(col("user_id"), expr("cast(ts as long) div 86400").as("d"))
      .groupBy(col("user_id"))
      .agg(min(col("d")).as("d0"), max(col("d")).as("dlast"))
    val q = firstDay.writeStream
      .outputMode(OutputMode.Complete())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val perDay = batch.groupBy(col("d0").as("day"))
          .agg(count(lit(1)).as("new_users"))
        val span = batch.agg(min(col("d0")).as("dmin"),
          max(col("dlast")).as("dmax"))
        val w = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        span.select(explode(expr("sequence(dmin, dmax)")).as("day"))
          .join(perDay, Seq("day"), "left")
          .select(col("day"),
            coalesce(col("new_users"), lit(0L)).as("new_users"))
          .withColumn("cum_users", sum(col("new_users")).over(w))
          .write.mode("overwrite").parquet(outPath)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  def stlStream(events: DataFrame, outPath: String): Unit = {
    val daily = events
      .filter(col("event_type") === "purchase")
      .select(expr("cast(ts as long) div 86400").as("day"),
        round(col("value") * 100, 0).cast("long").as("c"))
      .groupBy(col("day")).agg(sum(col("c")).as("cents"))
    val q = daily.writeStream
      .outputMode(OutputMode.Complete())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.operators.Events.stlOfDaily(batch)
          .write.mode("overwrite").parquet(outPath)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Streaming ANN admission/probe gate —
    * [[incrementalDedupStream]]'s philosophy applied to SIMILARITY:
    * arriving vectors probe the PERSISTED IVF index
    * ([[graft.operators.Ann.buildIvfIndex]]'s cell-partitioned
    * layout; the codebook is the caller's loaded copy, broadcast per
    * probe) and each query emits its top-k neighbors plus a NOVELTY
    * verdict (best cosine below `tau` ⇒ nothing like it in the
    * corpus — the signal an embedding-ingest gate admits on). Each
    * micro-batch runs the batch operator's OWN probe kernel
    * ([[graft.operators.Ann.probeIvfFrame]]) inside foreachBatch —
    * the stream-static reuse shape — so stream ≡ batch by
    * construction: a query's ranking depends only on (query, index),
    * never on other arrivals (StreamingSpec pins a forced 2-batch
    * split against [[graft.operators.Ann.ivfIndexed]]'s own ranking).
    * Zero streaming state; per-batch cost is bounded by the batch ×
    * probed cells (partition-pruned read, not a corpus scan). A
    * query whose probed cells are all empty still reports, as
    * maximally novel (rank 0, cosine 0). Drains synchronously. */
  def annProbeStream(queries: DataFrame, indexPath: String,
      codebook: Array[(Long, Array[Float])], outPath: String,
      tau: Double = 0.9): Unit = {
    val q = queries.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // committed shards only — an append landing mid-stream becomes
        // visible at the next micro-batch boundary, never half-written
        val idx = graft.operators.Ann.loadIvfIndex(
          batch.sparkSession, indexPath)
        val ranked = graft.operators.Ann.probeIvfFrame(idx, codebook, batch)
        val verdict = ranked.filter(col("rank") === 1)
          .select(col("qid"), col("cosine").as("best_cosine"))
        val out = batch.select(col("qid"))
          .join(ranked.join(verdict, Seq("qid")), Seq("qid"), "left")
          .select(col("qid"),
            coalesce(col("rank"), lit(0)).as("rank"),
            coalesce(col("vec_id"), lit(-1L)).as("vec_id"),
            coalesce(col("cosine"), lit(0.0)).as("cosine"),
            coalesce(col("best_cosine") < tau, lit(true)).as("is_novel"))
        out.write.mode("append").parquet(outPath)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Streaming incremental view maintenance — the stream twin of
    * [[graft.operators.Snapshot.aggDelta]]: CDC rows (insert/delete/
    * update with old/new payloads) arrive as a stream, a running
    * grouped sum folds their signed contributions (state = two longs
    * per group, bounded by group count — the only state contract an
    * unbounded CDC feed supports), and each trigger refreshes the
    * materialized view by folding the running delta into the standing
    * aggregate (complete-mode foreachBatch → overwrite, the
    * view-refresh sink shape). The contribution projection and the
    * fold are the batch operator's OWN private helpers, so the twins
    * cannot drift; because sum/count are self-maintainable, the view
    * after draining equals the batch refresh under ANY micro-batch
    * split of the feed (StreamingSpec pins a forced 2-batch split).
    * Drains synchronously. */
  def ivmStream(cdc: DataFrame, standing: DataFrame, outPath: String): Unit = {
    import graft.operators.{Snapshot => S}
    val deltaAgg = S.contributions(cdc)
      .groupBy(col("c_nationkey"))
      .agg(sum(col("d_cnt")).as("d_cnt"), sum(col("d_cents")).as("d_cents"))
    val q = deltaAgg.writeStream
      .outputMode(OutputMode.Complete())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        S.foldView(standing, batch).write.mode("overwrite").parquet(outPath)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Streaming twin of the reference's flagship wordcount: running
    * word counts over a document stream (complete-mode aggregation —
    * the state is the count table itself, exactly the reducer's
    * in-memory map in the reference, but partitioned and
    * fault-tolerant). StreamingSpec pins it to the batch wordcount. */
  /** STREAMING SCD-2 dimension maintenance — the CDC family's third
    * streaming surface: snapshot versions arrive as micro-batches
    * (one COMPLETE version per batch — deletion detection is absence,
    * which only a whole version can witness; a mixed batch fails
    * fast), and each batch runs the SHARED incremental merge
    * ([[graft.operators.Snapshot.scd2Step]] — the batch operator's
    * own fold, so the twins cannot drift) against the standing
    * history. The history lands under `outPath/ver=<v>` with
    * overwrite: a REPLAYED version re-reads its predecessor dirs
    * (all < v) and overwrites its own — the landIdempotent
    * discipline, so at-least-once delivery converges to the same
    * history. Readers take the max-version dir as current.
    *
    * Input schema: (c_custkey, ver, cents). */
  def scd2Stream(versions: DataFrame, outPath: String,
      checkpointPath: Option[String] = None): Unit = {
    val writer = versions.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val vr = batch
            .selectExpr("CAST(min(ver) AS BIGINT)", "CAST(max(ver) AS BIGINT)")
            .head()
          val (vLo, vHi) = (vr.getLong(0), vr.getLong(1))
          require(vLo == vHi,
            s"scd2Stream: micro-batch mixes versions $vLo..$vHi — " +
              "deletion is witnessed by absence, so each batch must " +
              "carry exactly one complete snapshot version")
          val dir = new org.apache.hadoop.fs.Path(outPath)
          val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val prior: Option[Long] =
            if (!fs.exists(dir)) None
            else fs.listStatus(dir).toSeq
              .map(_.getPath.getName)
              .filter(_.startsWith("ver="))
              .map(_.stripPrefix("ver=").toLong)
              .filter(_ < vLo)
              .sorted.lastOption
          // contiguity gate, same fail-fast contract as the mixed-batch
          // guard above: merging against ver = vLo−2 (a silently
          // dropped/skipped version) yields a history that diverges
          // from the batch gaps-and-islands fold — a version gap must
          // CLOSE unchanged-value runs, which a non-adjacent merge
          // cannot witness. A replay (prior == vLo−1 already landed)
          // passes; a gap raises instead of corrupting quietly.
          prior.foreach(p => require(p == vLo - 1,
            s"scd2Stream: version gap — batch carries ver=$vLo but the " +
              s"latest prior landed version is ver=$p (expected ver=${vLo - 1}); " +
              "replay the missing versions in order"))
          val hist = prior
            .map(p => spark.read.parquet(s"$outPath/ver=$p"))
            .getOrElse(graft.operators.Snapshot.emptyScd2(spark))
          graft.operators.Snapshot
            .scd2Step(hist, batch.toDF(), vLo)
            .write.mode("overwrite").parquet(s"$outPath/ver=$vLo")
        }
      }
    val q = checkpointPath
      .map(cp => writer.option("checkpointLocation", cp))
      .getOrElse(writer)
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  def wordcountStream(docs: DataFrame): DataFrame =
    docs
      .select(explode(graft.functions.TokenCol.letterTokens(col("text"))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))

  /** Streaming exact dedup — the streaming twin of
    * [[graft.operators.Dedup.exact]]'s first pass: drop duplicate
    * event_ids as they arrive, with state bounded by the watermark
    * (`dropDuplicatesWithinWatermark`: a duplicate arriving within
    * the watermark delay is dropped; state for older keys is evicted,
    * which is the only state contract that survives an unbounded
    * stream at 100 TB/day). */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** foreachBatch landing sink, plain-append flavor: each micro-batch
    * appends to an hour-partitioned parquet layout (the usual
    * time-bucketed lake landing zone). At-least-once: a retried batch
    * appends again — use [[landIdempotent]] when the landing zone must
    * survive replays without duplicates. Drains synchronously. */
  def landToParquet(events: DataFrame, outPath: String): Unit = {
    val q = events
      .withColumn("hour", date_trunc("hour", col("ts")))
      .writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.write.mode("append").partitionBy("hour").parquet(outPath)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** One micro-batch's exactly-once landing: the rows go under their
    * `_batch_id=<id>` partition with *dynamic* partition overwrite, so
    * a retried/replayed batch REPLACES its own previous (possibly
    * partial) output instead of appending a duplicate — the
    * kafka-offset-shaped idempotence contract, keyed by Structured
    * Streaming's replay-stable batchId. Factored out of the stream so
    * replay behavior is directly testable (StreamingSpec). */
  def landBatch(batch: DataFrame, batchId: Long, outPath: String): Unit = {
    val spark = batch.sparkSession
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      batch
        .withColumn("_batch_id", lit(batchId))
        .withColumn("hour", date_trunc("hour", col("ts")))
        .write.mode("overwrite")
        .partitionBy("_batch_id", "hour")
        .parquet(outPath)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
  }

  /** foreachBatch landing sink, exactly-once flavor: [[landBatch]] per
    * micro-batch. With a checkpoint location, a crash between "batch
    * written" and "offsets committed" replays the batch on restart —
    * and the dynamic overwrite of its `_batch_id` partition makes the
    * replay a no-op rather than a duplicate. Readers filter on data
    * columns; `_batch_id` is layout, not payload. */
  def landIdempotent(events: DataFrame, outPath: String,
      checkpointPath: Option[String] = None): Unit = {
    val writer = events
      .writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        landBatch(batch, batchId, outPath)
      }
    val q = checkpointPath
      .map(cp => writer.option("checkpointLocation", cp))
      .getOrElse(writer)
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** A resolved funnel instance (streaming funnel twin): every view
    * eventually resolves to exactly one stage — 'view' (no follow-up
    * click before its window expired), 'clicked' (click arrived, but
    * the purchase window expired), or 'full' (purchase completed the
    * chain). */
  final case class FunnelResolved(user_id: Long, view_id: Long,
      stage: String)

  /** Streaming funnel state: views awaiting a click and view→click
    * chains awaiting a purchase. Both lists are bounded by the 30 min
    * step window + watermark delay — entries past their deadline
    * leave at the next timeout/batch, so steady-state size is the
    * user's 30-minute activity, NOT their history. */
  final case class FunnelState(views: Seq[(Double, Long)],
      chains: Seq[(Long, Double)])

  /** Streaming twin of the batch conversion funnel
    * ([[graft.operators.Events.qFunnel]]): per-user state resolves
    * each view instance exactly once, append-only. Completion
    * ('full') emits the moment the qualifying purchase arrives — the
    * same strict `(prev, prev+30 min]` step windows as the batch
    * joins, applied to events processed in (ts, event_id) order, so
    * the first qualifying follow-up IS the batch join's min().
    * Expiry ('view' / 'clicked') emits once the event-time watermark
    * passes the instance's step deadline — an event-time timeout
    * rides the minimum open deadline, exactly the stateful
    * sessionizer's discipline. StreamingSpec pins: completed
    * instances equal the batch derivation EXACTLY; expired
    * instances are sound (subset) and complete up to the final
    * watermark horizon. */
  def funnelStream(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val StepS = 1800.0
    val typed = events
      .filter(col("event_type").isin("view", "click", "purchase"))
      .withWatermark("ts", "2 hours")
      // the watermark column itself must survive into the stateful
      // operator's input (same as the stateful sessionizer)
      .select(col("user_id"), col("ts").cast("double").as("ts_s"),
        col("event_id"), col("event_type"), col("ts"))
      .as[(Long, Double, Long, String, java.sql.Timestamp)]
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long,
            rows: Iterator[(Long, Double, Long, String, java.sql.Timestamp)],
            st: GroupState[FunnelState]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[FunnelResolved]
          var s = st.getOption.getOrElse(FunnelState(Nil, Nil))
          val wmS = st.getCurrentWatermarkMs() / 1000.0
          if (!st.hasTimedOut) {
            val sorted = rows.toArray.sortBy(r => (r._2, r._3))
            sorted.foreach { case (_, tsS, eid, etype, _) =>
              etype match {
                case "view" =>
                  s = s.copy(views = s.views :+ ((tsS, eid)))
                case "click" =>
                  val (hit, miss) = s.views.partition { case (vTs, _) =>
                    tsS > vTs && tsS <= vTs + StepS }
                  s = FunnelState(miss,
                    s.chains ++ hit.map { case (_, vid) => (vid, tsS) })
                case "purchase" =>
                  val (hit, miss) = s.chains.partition { case (_, cTs) =>
                    tsS > cTs && tsS <= cTs + StepS }
                  hit.foreach { case (vid, _) =>
                    out += FunnelResolved(uid, vid, "full") }
                  s = s.copy(chains = miss)
              }
            }
          }
          // expire everything whose step deadline the watermark passed
          // (on timeout AND opportunistically on data batches)
          val (deadViews, liveViews) =
            s.views.partition { case (vTs, _) => vTs + StepS <= wmS }
          val (deadChains, liveChains) =
            s.chains.partition { case (_, cTs) => cTs + StepS <= wmS }
          deadViews.foreach { case (_, vid) =>
            out += FunnelResolved(uid, vid, "view") }
          deadChains.foreach { case (vid, _) =>
            out += FunnelResolved(uid, vid, "clicked") }
          s = FunnelState(liveViews, liveChains)
          if (s.views.isEmpty && s.chains.isEmpty) st.remove()
          else {
            st.update(s)
            val next = (s.views.map { case (vTs, _) => vTs + StepS } ++
              s.chains.map { case (_, cTs) => cTs + StepS }).min
            // the timeout must sit strictly past the current watermark
            st.setTimeoutTimestamp(math.max(next, wmS + 1.0).toLong * 1000L)
          }
          out.iterator
      }
      .toDF()
  }

  /** An emitted next-event transition (streaming Markov twin). */
  final case class Transition(user_id: Long, from_type: String,
      to_type: String)

  /** The last event seen per user (streaming Markov state — O(1) per
    * user forever, the smallest possible stateful footprint). */
  final case class LastEvent(tsS: Double, eventId: Long, etype: String)

  /** Streaming twin of events_markov's transition extraction: the
    * per-user last event is the ONLY state, and each arriving event
    * emits one (from_type, to_type) transition against it. Within a
    * micro-batch rows sort by (ts, event_id) — the batch window's
    * order — and across batches the state carries the boundary, so
    * a drained stream's transition multiset equals the batch `lead`
    * window's (StreamingSpec asserts, including across a two-batch
    * split). Correctness premise, same as any per-key running-state
    * stream: per-user in-order delivery across batches (the
    * partition-by-key log guarantee); late cross-batch stragglers
    * would pair against the newer state. Downstream, the ppm
    * aggregation is the same groupBy the batch side runs. */
  def markovStream(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val typed = events
      .select(col("user_id"), col("ts").cast("double").as("ts_s"),
        col("event_id"), col("event_type"))
      .as[(Long, Double, Long, String)]
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[(Long, Double, Long, String)],
            st: GroupState[LastEvent]) =>
          val sorted = rows.toArray.sortBy(r => (r._2, r._3))
          val out = Array.newBuilder[Transition]
          var prev = st.getOption
          sorted.foreach { r =>
            prev.foreach(p => out += Transition(uid, p.etype, r._4))
            prev = Some(LastEvent(r._2, r._3, r._4))
          }
          prev.foreach(st.update)
          out.result().iterator
      }
      .toDF()
  }

  final case class ChangepointRow(event_type: String,
      split_day: java.sql.Timestamp, n_days: Long, dmax: Long,
      mean_before_milli: Long, mean_after_milli: Option[Long])

  /** Streaming twin of q_changepoint (events_changepoint): per-type
    * CUSUM changepoint, refreshed every micro-batch. State per
    * event_type is the daily-count map seen so far — one entry per
    * calendar day regardless of event volume, the same bounded-state
    * argument as the batch plan's one-row-per-day partitions — and
    * each batch that touches a type re-derives the exact-integer
    * statistic `D_i = n·S_i − i·S_n` over the accumulated days and
    * emits the refreshed verdict (Update mode: the answer for a type
    * REPLACES its previous one; a drained stream's latest row per
    * type equals the batch query — StreamingSpec asserts, including
    * across a two-batch split).
    *
    * Days are UTC fixed-24h buckets (`unix_millis div 86400000`),
    * the gapFillStream discipline — coincides with the batch
    * `date_trunc("day")` under the UTC session the suite pins. All
    * means use truncating division on non-negative sums, matching
    * the batch `DIV`. */
  def changepointStream(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val typed = events
      .select(col("event_type"),
        expr("(unix_millis(ts) div 86400000) * 86400000").as("day_ms"))
      .as[(String, Long)]
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) {
        (etype: String, rows: Iterator[(String, Long)],
            st: GroupState[Map[Long, Long]]) =>
          var days = st.getOption.getOrElse(Map.empty[Long, Long])
          rows.foreach { case (_, d) =>
            days = days.updated(d, days.getOrElse(d, 0L) + 1L)
          }
          st.update(days)
          val ds = days.toArray.sortBy(_._1)
          val n = ds.length.toLong
          val sn = ds.map(_._2).sum
          var s = 0L
          var best: ChangepointRow = null
          var bestAbs = -1L
          var i = 0L
          ds.foreach { case (dayMs, c) =>
            i += 1; s += c
            val d = n * s - i * sn
            val a = math.abs(d)
            if (a > bestAbs) { // first-by-day wins ties = batch's
              bestAbs = a     // (abs desc, day asc) rank order
              best = ChangepointRow(etype, new java.sql.Timestamp(dayMs),
                n, a, 1000L * s / i,
                if (i == n) None else Some(1000L * (sn - s) / (n - i)))
            }
          }
          Iterator.single(best)
      }
      .toDF()
  }

  final case class RfmState(lastDayMs: Long, f: Long, mCents: Long)
  final case class RfmRow(user_id: Long, last_day: java.sql.Timestamp,
      f: Long, m_cents: Long)

  /** Streaming twin of events_rfm's stateful core: per-user running
    * (recency, frequency, monetary) state — last purchase day, count,
    * exact cents — refreshed on every micro-batch that sees the user
    * (Update mode, the changepointStream contract: a user's row
    * REPLACES the previous one). State is three numbers per user,
    * the minimal-state argument at any event volume.
    *
    * The R/F/M band scores and the composite code are deliberately
    * NOT computed here: recency is relative to the corpus' global
    * max day — a cross-key quantity no per-key state can know — so
    * the scoring stays the stateless decoration it is in the batch
    * query, applied downstream of this state (StreamingSpec composes
    * it over the drained states and matches qRfm exactly). */
  def rfmStream(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val typed = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        expr("(unix_millis(ts) div 86400000) * 86400000").as("day_ms"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      .as[(Long, Long, Long)]
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[(Long, Long, Long)],
            st: GroupState[RfmState]) =>
          var s = st.getOption.getOrElse(RfmState(Long.MinValue, 0L, 0L))
          rows.foreach { case (_, d, c) =>
            s = RfmState(math.max(s.lastDayMs, d), s.f + 1L, s.mCents + c)
          }
          st.update(s)
          Iterator.single(RfmRow(uid, new java.sql.Timestamp(s.lastDayMs),
            s.f, s.mCents))
      }
      .toDF()
  }

  /** One matched error row — same shape as the batch
    * [[graft.operators.Events.qAsofJoin]] output. */
  final case class AsofMatch(error_id: Long, user_id: Long,
      last_purchase_id: Option[Long])

  /** Streaming as-of state (public: the state encoder's generated
    * code instantiates it reflectively): the id of the latest SEALED
    * purchase (-1 = none yet), plus the not-yet-sealed
    * (ts_us, side, id) rows. `pending` is bounded by the watermark
    * horizon (≲ 2 h of one user's purchase/error events), so
    * steady-state state is O(1) per user however long the stream. */
  final case class AsofState(lastPurchase: Long,
      pending: List[(Long, Int, Long)])

  /** Streaming twin of q_asof_join: each error enriched with the
    * user's most recent purchase at-or-before it. The batch shape is
    * a union + carry-forward window; no built-in streaming operator
    * expresses "latest earlier row from the other stream", so this is
    * the stateful tier: per-user buffered rows seal once the
    * watermark passes their event time (no earlier purchase can
    * still arrive under the watermark contract), and sealed rows
    * replay the EXACT batch order — (ts, side, id), purchases before
    * errors on ties — through the carried last-purchase register.
    * The final drain's no-data batch fires the event-time timeout
    * that seals rows reached by the last watermark advance; each
    * user's open tail stays in state, like the stateful sessionizer.
    */
  def asofStream(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val typed = events
      .filter(col("event_type").isin("purchase", "error"))
      .withWatermark("ts", "2 hours")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        when(col("event_type") === "purchase", 0).otherwise(1).as("side"),
        col("event_id"), col("ts"))
      .as[(Long, Long, Int, Long, java.sql.Timestamp)]
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[(Long, Long, Int, Long, java.sql.Timestamp)],
            st: GroupState[AsofState]) =>
          val wmMs = st.getCurrentWatermarkMs()
          val prev = st.getOption.getOrElse(AsofState(-1L, Nil))
          val all = prev.pending ++ rows.map(r => (r._2, r._3, r._4))
          // sealed ⇔ event time ≤ watermark: the watermark promises no
          // more rows at-or-before it, so the carry-forward register
          // over the sealed prefix is final. Compare in µs against the
          // ms watermark (ts_us ≤ wmMs·1000): ms-FLOORING the event
          // time instead would seal rows up to 999 µs PAST the
          // watermark, whose earlier same-millisecond neighbors are
          // not late yet and could still arrive.
          val (ripe, open) = all.partition(_._1 <= wmMs * 1000L)
          var last = prev.lastPurchase
          val out = scala.collection.mutable.ArrayBuffer.empty[AsofMatch]
          ripe.sorted.foreach { case (_, side, id) =>
            if (side == 0) last = id
            else out += AsofMatch(id, uid, if (last < 0) None else Some(last))
          }
          // lastPurchase persists even with nothing pending: a future
          // error still matches a long-ago purchase
          st.update(AsofState(last, open))
          if (open.nonEmpty)
            st.setTimeoutTimestamp(
              // ceil to the ms that COVERS the earliest open row —
              // flooring could fire a timeout whose watermark still
              // doesn't seal it, stalling until the next data batch
              math.max((open.map(_._1).min + 999L) / 1000L, wmMs + 1))
          out.iterator
      }
      .toDF()
  }

  /** Run any of the above to completion against a static input and
    * return the final answer via a memory sink (the spec/demo driver:
    * processAllAvailable drains the file source synchronously). */
  def runToMemory(df: DataFrame, name: String,
      mode: OutputMode = OutputMode.Complete()): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .start()
    try q.processAllAvailable() finally q.stop()
    df.sparkSession.table(name)
  }
}
