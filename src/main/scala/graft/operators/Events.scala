package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Query, Tables, WorkingSet}

/** Events / time-series operator block (SURVEY.md §2 C).
  *
  * Timestamps: the parquet `ts` column is nanosecond precision; Spark
  * truncates to microseconds while DuckDB keeps TIMESTAMP_NS, so no
  * query here outputs a raw `ts` — everything goes through
  * date_trunc / epoch-second casts that agree on both sides.
  */
object Events {

  /** Hourly tumbling-window counts + sums per event type. Uses the
    * streaming-compatible `window()` operator (its batch plan is the
    * same groupBy a date_trunc would give). */
  def qEventWindow(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .groupBy(window(col("ts"), "1 hour").getField("start").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col("value") * 100, 0).cast("long")) / 100.0).as("total"))
      // corpus/time-scaling outputs end in a within-partition
      // presentation sort only (the gate re-sorts before hashing); a
      // trailing global orderBy here is a pure extra range exchange
      // at 100×. Bounded outputs (markov types², retention day-pairs,
      // changepoint per-type) and limit-fed sorts keep global order.
      .sortWithinPartitions("hour", "event_type")

  /** Top-k users by purchase spend. */
  def qEventTopusers(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"),
        (sum(round(col("value") * 100, 0).cast("long")) / 100.0).as("spend"))
      .orderBy(col("spend").desc, col("user_id"))
      .limit(20)

  /** JSON field extraction from the props payload. */
  def qJsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(round(avg("k"), 6).as("avg_k"), max("k").as("max_k"))
      .orderBy("event_type")

  /** Gap-based sessionization: a >30 min silence starts a new session.
    * Two stacked windows (lag → cumulative sum) — the classic
    * shuffle-once formulation: both windows share the same
    * partitioning (user_id) so Spark plans a single exchange. */
  def qSessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val newSession =
      when(col("prev_ts").isNull, 1)
        .when(col("ts").cast("double") - col("prev_ts").cast("double") > 1800, 1)
        .otherwise(0)
    Tables(spark, dir).events
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_s", newSession)
      .withColumn("session_id", sum(col("new_s")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        floor(min(col("ts").cast("double"))).cast("long").as("start_s"),
        floor(max(col("ts").cast("double"))).cast("long").as("end_s"))
      .sortWithinPartitions("user_id", "session_id")
  }

  /** Interval (range) join: error events within 30 minutes AFTER a
    * purchase by the same user. Planned as an equi-join on user_id
    * with the range as residual condition — the shape that scales
    * (the range never drives the shuffle). Streaming twin:
    * [[graft.streaming.Streams.purchaseErrorJoin]]. */
  def qRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
    val e = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"),
        col("event_id").as("error_id"))
    p.join(e, col("p_user") === col("e_user") &&
        col("e_ts") >= col("p_ts") &&
        col("e_ts") <= col("p_ts") + expr("interval 30 minutes"))
      .select(col("purchase_id"), col("error_id"), col("p_user").as("user_id"))
      .sortWithinPartitions("purchase_id", "error_id")
  }

  /** Three-step conversion funnel (view → click → purchase, each step
    * within 30 minutes of the previous): per user, how many views got
    * a follow-up click, and how many of those chains completed with a
    * purchase. Each step is an equi-join on user_id with the time
    * bound as residual (like [[qRangeJoin]]) aggregated to the
    * EARLIEST qualifying next event per funnel head — so a burst of
    * clicks can't explode the row count, and the per-step output
    * stays one row per funnel instance at any scale. */
  def qFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    def step(t: String, names: (String, String)) =
      ev.filter(col("event_type") === t)
        .select(col("user_id").as(names._1), col("ts").as(names._2))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id"), col("ts"))
    val clicks = step("click", ("c_user", "c_ts"))
    val purchases = step("purchase", ("p_user", "p_ts"))
    val vc = views
      .join(clicks, col("user_id") === col("c_user") &&
        col("c_ts") > col("ts") &&
        col("c_ts") <= col("ts") + expr("interval 30 minutes"))
      .groupBy(col("user_id"), col("event_id"))
      .agg(min(col("c_ts")).as("click_ts"))
    val vcp = vc
      .join(purchases, col("user_id") === col("p_user") &&
        col("p_ts") > col("click_ts") &&
        col("p_ts") <= col("click_ts") + expr("interval 30 minutes"))
      .groupBy(col("user_id"), col("event_id"))
      .agg(min(col("p_ts")).as("purch_ts"))
    views.groupBy(col("user_id")).agg(count(lit(1)).as("n_views"))
      .join(vc.groupBy(col("user_id")).agg(count(lit(1)).as("n_clicked")),
        Seq("user_id"), "left")
      .join(vcp.groupBy(col("user_id")).agg(count(lit(1)).as("n_full")),
        Seq("user_id"), "left")
      .select(col("user_id"), col("n_views"),
        coalesce(col("n_clicked"), lit(0L)).as("n_clicked"),
        coalesce(col("n_full"), lit(0L)).as("n_full"))
      .sortWithinPartitions("user_id")
  }

  /** As-of join: for each error event, the most recent prior (or
    * simultaneous) purchase by the same user. Composed as
    * union + last_value-ignore-nulls over one user-partitioned window
    * — a single shuffle, no range explosion, which is the formulation
    * that survives 100 TB (a per-row range join would not).
    * At equal ts the purchase sorts first (side=0), matching the
    * usual ASOF `>=` semantics. */
  /** Calendar gap-fill + forward fill: each user's daily activity
    * series with missing days materialized — `sequence()` generates
    * each user's [first, last] day range (rows scale with users ×
    * span, never with a global calendar cross join), a left join
    * marks the gaps, and `last(_, ignoreNulls)` carries the most
    * recent observed daily spend forward across them. The fill
    * window partitions by user, so at 100 TB it shuffles once on
    * user_id and each partition sorts only its own ≤span rows —
    * there is no global sort and no single-reducer funnel. */
  def qGapFill(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).events
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100, 0).cast("long")).as("spent_cents"))
    val cal = daily.groupBy(col("user_id").as("cal_user"))
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("cal_user"),
        explode(sequence(col("d0"), col("d1"),
          expr("INTERVAL 1 DAY"))).as("cal_day"))
    val fill = Window.partitionBy(col("cal_user")).orderBy(col("cal_day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cal
      .join(daily,
        col("cal_user") === col("user_id") && col("cal_day") === col("day"),
        "left")
      .select(col("cal_user"), col("cal_day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        (coalesce(col("spent_cents"), lit(0L)) / 100.0).as("spent"),
        (last(col("spent_cents"), ignoreNulls = true).over(fill) / 100.0)
          .as("carried"))
      .withColumnRenamed("cal_user", "user_id")
      .withColumnRenamed("cal_day", "day")
      .sortWithinPartitions("user_id", "day")
  }

  /** Per-user daily-activity anomaly flags — the time-series outlier
    * sweep over telemetry: a user's day is anomalous when its event
    * count sits more than 3 population-σ above/below their own mean.
    * The z-score is derived from EXACT integer moments
    * (`z = (c·m − Σc) / √(m·Σc² − (Σc)²)` — the same
    * exact-co-moment trick as the correlation profiler), so an
    * order-dependent float statistic hash-matches across engines;
    * sqrt is IEEE-exact, the σ=0 constant-user case is guarded to
    * z=0. Shape: one groupBy to daily counts, one per-user moment
    * aggregate joined back — two shuffles on user_id total, both
    * partial-aggregating. */
  def qAnomalyDays(spark: SparkSession, dir: String): DataFrame =
    anomalyDaysDf(Tables(spark, dir).events)

  def anomalyDaysDf(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    // DECIMAL(38,0) moments: a decade × 10⁶-events-per-day user puts
    // m·Σc² past 2⁶³ — same overflow discipline as profile_corr
    val c19 = col("cnt").cast("decimal(19,0)")
    val moments = daily.groupBy(col("user_id").as("m_user"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("m"),
        sum(c19).as("sc"),
        sum(c19 * c19).as("scc"))
    val denom2 = col("m") * col("scc") - col("sc") * col("sc")
    val z = when(denom2 === 0, lit(0.0)).otherwise(
      round((col("cnt").cast("decimal(19,0)") * col("m") - col("sc")).cast("double") /
        sqrt(denom2.cast("double")), 4))
    daily.join(moments, col("user_id") === col("m_user"))
      .select(col("user_id"), col("day"), col("cnt"), z.as("z"))
      .withColumn("is_anomaly", abs(col("z")) > 3.0)
      .sortWithinPartitions("user_id", "day")
  }

  /** Cohort retention — the product-analytics staple: users grouped
    * by their first-active day, counted on each subsequent active
    * day offset. Plan shape is ONE primary shuffle: the per-user
    * active-day set aggregates with map-side partial `collect_set`
    * whose state is bounded by the CALENDAR (≤ span days per user),
    * not by event volume — a user with 10⁹ events still contributes
    * ≤ span entries per partition. Cohort day is then a free
    * `element_at(days, 1)` on the sorted set (no second pass, no
    * self-join back), and the (cohort, offset) roll-up shuffles only
    * |users| × ≤span rows. The exploded rows are distinct by
    * construction, so the final count is a plain `count(*)`, not a
    * `countDistinct` — no per-group distinct state. */
  def qRetention(spark: SparkSession, dir: String): DataFrame =
    retentionDf(Tables(spark, dir).events)

  def retentionDf(events: DataFrame): DataFrame = {
    val days = events
      .groupBy(col("user_id"))
      .agg(array_sort(collect_set(date_trunc("day", col("ts")))).as("days"))
    days
      .select(col("user_id"), element_at(col("days"), 1).as("cohort_day"),
        explode(col("days")).as("day"))
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("int").as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Rolling ACTIVE-USER counts — the DAU/WAU/MAU table every
    * product dashboard opens with: per day, EXACT distinct users
    * active that day, in the trailing 7 days, and in the trailing 30.
    * Distinct-over-a-sliding-window doesn't decompose into window
    * frames (distinct isn't subtractable), so the scalable exact
    * form is OBSERVATION FAN-OUT: each distinct (user, day) pair
    * announces itself to the ≤ 30 future days it keeps a user
    * active on (map-side explode of a bounded sequence — never a
    * per-day rescan of history). ONE fan-out serves EVERY horizon:
    * the observation carries its day offset, a (day, user) aggregate
    * keeps the smallest offset (the user's most recent activity at or
    * before that day), and one final per-day aggregate counts users
    * under each horizon with a conditional sum — the corpus is
    * scanned once no matter how many horizons are requested. Day is
    * exact epoch-day arithmetic (`cast div 86400` — no calendar
    * function), observed days clamp to the data's own span, and the
    * fan-out is hmax×|distinct user-days| rows — linear, shuffle on
    * (day, user). The output rides a synthesized dmin..dmax day
    * SPINE, so every in-span day gets a row — including days inside a
    * silent gap longer than the widest horizon, which report
    * (0,…,0). Output ∝ days. */
  def eventsActiveUsers(spark: SparkSession, dir: String): DataFrame =
    activeUsersDf(Tables(spark, dir).events)

  /** `horizons` = (trailing-window length in days, output column
    * name), strictly ascending, each ≥ 1 — the default is the classic
    * DAU/WAU/MAU triple. */
  def activeUsersDf(events: DataFrame,
      horizons: Seq[(Int, String)] =
        Seq(1 -> "dau", 7 -> "wau", 30 -> "mau")): DataFrame = {
    require(horizons.nonEmpty && horizons.forall(_._1 >= 1) &&
      horizons.map(_._1) == horizons.map(_._1).sorted.distinct,
      s"activeUsersDf: horizons must be ascending positive day counts, got $horizons")
    val hmax = horizons.map(_._1).max
    // cached: span and the fan-out both consume this frame — uncached,
    // each consumer re-scans the events corpus and re-runs the
    // distinct (the dedup-postings cache discipline; this is the
    // operator's working set)
    val ud = WorkingSet(events
      .select(expr("cast(ts as long) div 86400").as("d"), col("user_id"))
      .distinct())
    val span = ud.agg(min(col("d")).as("dmin"), max(col("d")).as("dmax"))
    // full day spine: every in-span day reports, even across a gap
    val spine = span.select(explode(expr("sequence(dmin, dmax)")).as("day"))
    // one fan-out, offset-tagged; per (day, user) keep the most
    // recent activity (smallest offset) so each horizon is a filter
    val obs = ud
      .select(col("user_id"), col("d"),
        explode(expr(s"sequence(d, d + ${hmax - 1})")).as("day"))
      .crossJoin(broadcast(span))
      .filter(col("day") <= col("dmax"))
      .groupBy(col("day"), col("user_id"))
      .agg(min(col("day") - col("d")).as("off"))
    val aggs = horizons.map { case (h, nm) =>
      sum(when(col("off") < h, 1L).otherwise(0L)).as(nm) }
    val counts = obs.groupBy(col("day")).agg(aggs.head, aggs.tail: _*)
    spine.join(counts, Seq("day"), "left")
      .select(col("day") +: horizons.map { case (_, nm) =>
        coalesce(col(nm), lit(0L)).as(nm) }: _*)
      .orderBy(col("day"))
  }

  /** Cohort LIFETIME-VALUE curves — [[qRetention]]'s revenue sibling
    * and the other half of the cohort dashboard: per (cohort day,
    * day offset), purchase revenue in exact cents, distinct buyers,
    * the cohort's cumulative revenue, and LTV per cohort member
    * (cumulative cents `div` cohort size — exact truncating integer
    * division, both engines). The cohort is the user's FIRST ACTIVE
    * day (any event type — the retention definition, so the two
    * tables join cell-for-cell). Shape: one per-user min-day
    * aggregate, one purchase-side join + (cohort, offset) groupBy,
    * then a per-cohort cumulative window over ≤ |days| offsets —
    * bounded partitions, the scd2 window argument; output ≤
    * cohorts × offsets rows. */
  def eventsLtv(spark: SparkSession, dir: String): DataFrame =
    ltvDf(Tables(spark, dir).events)

  def ltvDf(events: DataFrame): DataFrame = {
    val cohort = events.groupBy(col("user_id"))
      .agg(min(date_trunc("day", col("ts"))).as("cohort_day"))
    val sizes = cohort.groupBy(col("cohort_day"))
      .agg(count(lit(1)).as("cohort_size"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"),
        round(col("value") * 100, 0).cast("long").as("cents"))
    val rev = purchases.join(cohort, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("int").as("day_offset"))
      .agg(sum(col("cents")).as("rev_cents"),
        countDistinct(col("user_id")).as("n_buyers"))
    val w = Window.partitionBy(col("cohort_day")).orderBy(col("day_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev.join(sizes, "cohort_day")
      .withColumn("cum_rev_cents", sum(col("rev_cents")).over(w))
      .select(col("cohort_day"), col("day_offset"), col("n_buyers"),
        col("rev_cents"), col("cum_rev_cents"), col("cohort_size"),
        expr("cum_rev_cents div cohort_size").as("ltv_cents_per_user"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** Last-touch attribution — the marketing-analytics classic: each
    * purchase is credited to the user's most recent click/view within
    * a 24-hour lookback, or to "direct" if none. Same single-shuffle
    * union + `last(_, ignoreNulls)` running-state shape as
    * [[qAsofJoin]] (one exchange on user_id, per-user sort, no
    * touch×purchase join): the horizon is applied AFTER the as-of
    * resolution, so expired touches degrade to "direct" instead of
    * re-scanning for older candidates. Tie rule: a touch at the
    * purchase's exact timestamp counts (side ordering), later id wins
    * among same-instant touches — deterministic both engines. */
  def qAttribution(spark: SparkSession, dir: String): DataFrame =
    attributionDf(Tables(spark, dir).events)

  def attributionDf(ev: DataFrame): DataFrame = {
    val touches = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("ts"), lit(0).as("side"),
        col("event_id").as("touch_id"), col("event_type").as("touch_type"),
        lit(null).cast("long").as("purchase_id"),
        lit(null).cast("double").as("value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("side"),
        lit(null).cast("long").as("touch_id"),
        lit(null).cast("string").as("touch_type"),
        col("event_id").as("purchase_id"), col("value"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("side"), coalesce(col("touch_id"), col("purchase_id")))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    touches.unionAll(purchases)
      .withColumn("lt_id", last(col("touch_id"), ignoreNulls = true).over(w))
      .withColumn("lt_type", last(col("touch_type"), ignoreNulls = true).over(w))
      .withColumn("lt_ts",
        last(when(col("side") === 0, col("ts")), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .withColumn("fresh",
        col("lt_ts").isNotNull &&
          col("lt_ts") >= col("ts") - expr("INTERVAL 24 HOURS"))
      .select(col("purchase_id"), col("user_id"),
        when(col("fresh"), col("lt_id")).as("touch_id"),
        when(col("fresh"), col("lt_type")).otherwise("direct").as("channel"),
        when(col("fresh"),
          unix_timestamp(col("ts")) - unix_timestamp(col("lt_ts")))
          .as("secs_since_touch"),
        col("value"))
      .sortWithinPartitions("purchase_id")
  }

  /** First-order Markov transition matrix over each user's event
    * stream: how often does event type A immediately precede event
    * type B, and with what probability. One user-partitioned `lead`
    * window (a single shuffle on user_id — each user's history sorts
    * locally, so there's no global sort and per-partition work is
    * bounded by that user's events) feeds a tiny
    * (from_type, to_type) count aggregate; probabilities are exact
    * parts-per-million via integer floor division on the counts, so
    * the "float" ratio hash-matches across engines (same fixed-point
    * discipline as PageRank / the correlation profiler). The
    * transition matrix itself is |types|² rows — constant in the
    * corpus size, so the final aggregate is map-side-combining into
    * almost nothing at any scale. */
  def qMarkov(spark: SparkSession, dir: String): DataFrame =
    markovDf(Tables(spark, dir).events)

  def markovDf(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    // the per-state total rides a window over the (tiny) transition
    // matrix — same partitioning family as the groupBy, no self-join,
    // no second evaluation of the pair aggregate
    events
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(byUser))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("tot",
        sum(col("n")).over(Window.partitionBy(col("from_type"))))
      .select(col("from_type"), col("to_type"), col("n"),
        expr("CAST((n * 1000000) DIV tot AS BIGINT)").as("p_ppm"))
      .orderBy("from_type", "to_type")
  }

  /** Top user-journey openings: each user's first three events (by
    * event time) joined into a path string, counted across the
    * corpus — the Sankey/first-mile view that the Markov transition
    * matrix can't give (it loses position). One user-partitioned
    * ranking window (single shuffle; per-user work bounded by that
    * user's events) keeps rows 1-3, then the per-user path assembles
    * from a sorted struct collect — 3-element state per user, and
    * the path-count aggregate output is bounded by |types|³, a
    * constant in the corpus. Top-k plans as TakeOrdered. */
  def qPaths(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables(spark, dir).events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(byUser))
      .filter(col("rn") <= 3)
      .groupBy(col("user_id"))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("rn"), col("event_type")))),
        s => s.getField("event_type")), ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(k)
  }

  /** RFM segmentation (recency / frequency / monetary) of the
    * purchasing users — the classic value-segmentation sweep, scored
    * against FIXED business bands (not data-driven quantiles: a
    * global ntile would funnel every user through one sort
    * partition; fixed bands keep the whole operator map-shaped after
    * one per-user aggregate, which is the formulation that holds at
    * 100 TB — and band edges are what a real retention team pins
    * down anyway). Money in exact cents, recency in whole days
    * against the corpus's max activity day (one broadcast 1-row
    * cross join). Output: per-user scores 1-5 each plus the
    * composite RFM code. */
  def qRfm(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val maxDay = ev.agg(date_trunc("day", max(col("ts"))).as("max_day"))
    def band(c: Column, cuts: Seq[(Long, Int)], default: Int): Column =
      cuts.foldRight(lit(default): Column) { case ((cut, score), acc) =>
        when(c >= cut, score).otherwise(acc)
      }
    ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(date_trunc("day", max(col("ts"))).as("last_day"),
        count(lit(1)).as("f"),
        sum(round(col("value") * 100, 0).cast("long")).as("m_cents"))
      .crossJoin(broadcast(maxDay))
      .select(col("user_id"),
        datediff(col("max_day"), col("last_day")).cast("long").as("r_days"),
        col("f"), col("m_cents"))
      .withColumn("r_score",
        when(col("r_days") <= 0, 5).when(col("r_days") <= 2, 4)
          .when(col("r_days") <= 5, 3).when(col("r_days") <= 10, 2)
          .otherwise(1))
      .withColumn("f_score", band(col("f"),
        Seq(20L -> 5, 15L -> 4, 10L -> 3, 5L -> 2), 1))
      .withColumn("m_score", band(col("m_cents"),
        Seq(100000L -> 5, 75000L -> 4, 50000L -> 3, 25000L -> 2), 1))
      .withColumn("rfm",
        (col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
          .cast("int"))
      .sortWithinPartitions("user_id")
  }

  /** CUSUM changepoint detection per event type — where did the
    * daily-volume regime shift? The statistic is the classic maximum
    * cumulative-sum deviation, made EXACT integer by clearing the
    * denominators: `D_i = n·S_i − i·S_n` (instead of the float
    * `S_i − (i/n)·S_n`), so the argmax day and the reported means
    * (truncating milli-units) hash-match across engines. One shuffle
    * total: daily counts groupBy, then every window — cumsum, row
    * index, per-type totals, and the argmax rank — shares the same
    * event_type partitioning, and a partition holds at most one row
    * per calendar day regardless of event volume. */
  def qChangepoint(spark: SparkSession, dir: String): DataFrame =
    changepointDf(Tables(spark, dir).events)

  def changepointDf(events: DataFrame): DataFrame = {
    val byType = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val full = Window.partitionBy(col("event_type"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val run = byType.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = events
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
      .withColumn("i", row_number().over(byType))
      .withColumn("s", sum(col("c")).over(run))
      .withColumn("n", count(lit(1)).over(full))
      .withColumn("sn", sum(col("c")).over(full))
      .withColumn("d", col("n") * col("s") - col("i") * col("sn"))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("event_type"))
          .orderBy(abs(col("d")).desc, col("day"))))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("day").as("split_day"),
        col("n").as("n_days"), abs(col("d")).as("dmax"),
        expr("CAST((1000 * s) DIV i AS BIGINT)").as("mean_before_milli"),
        when(col("i") === col("n"), lit(null).cast("long"))
          .otherwise(expr("CAST((1000 * (sn - s)) DIV (n - i) AS BIGINT)"))
          .as("mean_after_milli"))
      .orderBy("event_type")
  }

  /** Seasonal-naive forecast baseline: per (event_type, day-of-week),
    * the mean daily event count in exact truncating milli-units — the
    * standard "predict next Monday with the average of past Mondays"
    * baseline every volume-forecasting pipeline starts from (and the
    * yardstick fancier models must beat). Day and weekday are derived
    * ENGINE-FREE from the epoch: day = epoch_seconds div 86400,
    * dow = day mod 7 (0 = Thursday — 1970-01-01 was one), so no
    * locale/week-start convention can diverge between engines. Means
    * are over days PRESENT for the type (the corpus has no silent
    * holes; a gap-filled variant would compose with q_gap_fill).
    * Scale shape: daily counts collapse map-side (shuffle ∝ types ×
    * days), the dow aggregate is ∝ types × 7, output bounded. */
  def qForecast(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .groupBy(col("event_type"),
        expr("CAST(ts AS BIGINT) div 86400").as("day"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("event_type"), expr("day % 7").as("dow"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("cnt")).as("total_events"),
        expr("CAST((1000 * sum(cnt)) div count(1) AS BIGINT)")
          .as("forecast_milli"))
      .orderBy("event_type", "dow") // bounded: types × 7

  /** [[qForecast]] with silent calendar holes filled: the mean
    * divides by EVERY day of that weekday inside the type's observed
    * [min_day, max_day] span — absent days count as explicit zeros,
    * so a type that skips weekends forecasts weekends near zero
    * instead of not at all, and a sparse type's mean is not inflated
    * by only-counting-active-days (the standard seasonal-naive bias).
    * The span count needs NO calendar explosion (q_gap_fill's
    * sequence-generate shape): days ≡ r (mod 7) in [a, b] has the
    * closed form `(b−r) div 7 − (a−r+6) div 7 + 1`, pure integer
    * `div` on both engines — per-(type, dow) it is one expression
    * over the min/max aggregate, O(types × 7) however long the span.
    * Weekdays with a zero-day span for the type (span < 7 days can
    * miss a weekday entirely) are emitted by the present-day rows
    * only — a dow with NO days in span and no events simply has no
    * row, same as the unfilled variant. */
  def qForecastFilled(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .groupBy(col("event_type"),
        expr("CAST(ts AS BIGINT) div 86400").as("day"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("event_type"))
      .agg(min(col("day")).as("a"), max(col("day")).as("b"),
        // per-dow present-day stats carried through one aggregate:
        // (dow, n_present, total) triples via conditional sums keep
        // the whole derivation in a single grouped pass
        array((0 to 6).map { r =>
          struct(lit(r.toLong).as("dow"),
            sum(when(col("day") % 7 === r, 1L).otherwise(0L)).as("n_present"),
            sum(when(col("day") % 7 === r, col("cnt")).otherwise(0L))
              .as("total"))
        }: _*).as("per_dow"))
      .select(col("event_type"), col("a"), col("b"),
        explode(col("per_dow")).as("pd"))
      .select(col("event_type"), col("pd.dow").as("dow"),
        col("pd.n_present").as("n_days_present"),
        col("pd.total").as("total_events"),
        expr("(b - dow) div 7 - (a - dow + 6) div 7 + 1").as("n_days_span"))
      .filter(col("n_days_span") > 0)
      .select(col("event_type"), col("dow"), col("n_days_present"),
        col("total_events"), col("n_days_span"),
        expr("CAST((1000 * total_events) div n_days_span AS BIGINT)")
          .as("forecast_milli"))
      .orderBy("event_type", "dow") // bounded: types × 7

  /** Backtest of the seasonal-naive forecast — the out-of-sample
    * evaluation that turns [[qForecast]] from a claim into a score:
    * hold out the trailing week, fit the per-(type, dow) mean on
    * everything before it, and report per type the test-day count,
    * total/mean absolute error and the signed total error, all in
    * exact milli-units. MAE divides a non-negative total
    * (truncating `div` ≡ `//` holds only on non-negatives — the
    * repo-wide dialect rule), while the SIGNED bias is reported as a
    * total, never divided, so no negative integer division can
    * diverge between engines. Evaluation rows are the observed test
    * (type, day) pairs inner-joined to the model — a type needs
    * training history to be scored (same presence convention as the
    * unfilled forecast).
    *
    * Scale shape: one daily-count aggregate (map-side collapse,
    * shuffle ∝ types × days) feeds BOTH the fit and the holdout via
    * one broadcast 1-row split day; the model is types × 7 rows; the
    * eval join and final fold are group-sized. */
  def qForecastEval(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).events
      .groupBy(col("event_type"),
        expr("CAST(ts AS BIGINT) div 86400").as("day"))
      .agg(count(lit(1)).as("cnt"))
    val split = daily.agg((max(col("day")) - 6).as("s"))
    val train = daily.crossJoin(broadcast(split)).filter(col("day") < col("s"))
    val model = train
      .groupBy(col("event_type"), expr("day % 7").as("dow"))
      .agg(expr("CAST((1000 * sum(cnt)) div count(1) AS BIGINT)")
        .as("forecast_milli"))
    daily.crossJoin(broadcast(split)).filter(col("day") >= col("s"))
      .withColumn("dow", expr("day % 7"))
      .join(model, Seq("event_type", "dow"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_test_days"),
        sum(abs(lit(1000L) * col("cnt") - col("forecast_milli")))
          .as("total_abs_err_milli"),
        sum(lit(1000L) * col("cnt") - col("forecast_milli"))
          .as("total_err_milli"))
      .select(col("event_type"), col("n_test_days"),
        col("total_abs_err_milli"),
        expr("total_abs_err_milli div n_test_days").as("mae_milli"),
        col("total_err_milli"))
      .orderBy("event_type") // bounded: one row per type
  }

  def qAsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(0).as("side"),
        col("event_id").as("purchase_id"), lit(null).cast("long").as("error_id"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"), lit(1).as("side"),
        lit(null).cast("long").as("purchase_id"), col("event_id").as("error_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("side"), coalesce(col("purchase_id"), col("error_id")))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    purchases.unionAll(errors)
      .withColumn("last_purchase_id",
        last(col("purchase_id"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("error_id"), col("user_id"), col("last_purchase_id"))
      .sortWithinPartitions("error_id")
  }

  /** NEAREST temporal join — [[qAsofJoin]]'s bidirectional sibling:
    * each error pairs with its temporally CLOSEST purchase by the
    * same user, looking both backward and forward (an as-of join
    * only looks back; root-causing wants the nearest context either
    * way). Same union+window shape: one per-user window pass carries
    * the last-purchase-so-far AND the first-purchase-ahead, then a
    * row-local |Δt| compare in exact integer MICROSECONDS picks the
    * side (tie → the earlier purchase, a declared total order).
    * Errors with no same-user purchase keep NULLs (honest, not
    * dropped). Windows partition per user (bounded rows — the scd2
    * argument); output ∝ errors ⇒ within-partition order. */
  def qNearestJoin(spark: SparkSession, dir: String): DataFrame =
    qNearestJoinDf(Tables(spark, dir).events)

  /** The nearest fold over ANY (event_id, user_id, event_type, ts)
    * frame (spec surface). */
  def qNearestJoinDf(ev: DataFrame): DataFrame = {
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(0).as("side"),
        col("event_id").as("purchase_id"), lit(null).cast("long").as("error_id"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"), lit(1).as("side"),
        lit(null).cast("long").as("purchase_id"), col("event_id").as("error_id"))
    val ordered = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("side"), coalesce(col("purchase_id"), col("error_id")))
    val wb = ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = ordered.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val pUs = when(col("purchase_id").isNotNull, col("us"))
    val both = purchases.unionAll(errors)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_pid", last(col("purchase_id"), ignoreNulls = true).over(wb))
      .withColumn("prev_us", last(pUs, ignoreNulls = true).over(wb))
      .withColumn("next_pid", first(col("purchase_id"), ignoreNulls = true).over(wf))
      .withColumn("next_us", first(pUs, ignoreNulls = true).over(wf))
    val takePrev = col("us") - col("prev_us") <= col("next_us") - col("us")
    both.filter(col("side") === 1)
      .select(col("error_id"), col("user_id"),
        when(col("prev_pid").isNull, col("next_pid"))
          .when(col("next_pid").isNull, col("prev_pid"))
          .when(takePrev, col("prev_pid"))
          .otherwise(col("next_pid")).as("nearest_purchase_id"),
        when(col("prev_pid").isNull, col("next_us") - col("us"))
          .when(col("next_pid").isNull, col("us") - col("prev_us"))
          .when(takePrev, col("us") - col("prev_us"))
          .otherwise(col("next_us") - col("us")).as("delta_us"))
      .sortWithinPartitions("error_id")
  }

  /** Day-of-week SEASONALITY index of the event stream — the
    * decomposition readout a capacity/anomaly pipeline consumes:
    * per ISO weekday, how that weekday's mean daily volume compares
    * to the overall mean daily volume, in exact micro-units
    * (`round(10⁶ · (s_dow·D) / (d_dow·S))` — integer products, ONE
    * double division, the micro-quantization discipline). The
    * weekday is pure arithmetic over epoch days
    * (`(days + 3) mod 7 + 1`, Monday = 1) — no engine calendar
    * function whose week-start convention could fork the oracle.
    * One scan → per-day counts (map-side combinable) → a 7-row
    * aggregate; bounded output. */
  def eventsSeasonality(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val daily = ev
      .select(expr("cast(ts as long) div 86400").as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("n"))
      .select(((col("d") + 3) % 7 + 1).as("dow_iso"), col("n"))
    val perDow = daily.groupBy(col("dow_iso"))
      .agg(count(lit(1)).as("n_days"), sum(col("n")).as("n_events"))
    val tot = perDow.agg(sum(col("n_days")).as("dd"), sum(col("n_events")).as("ss"))
    perDow.crossJoin(broadcast(tot))
      .select(col("dow_iso"), col("n_days"), col("n_events"),
        round(lit(1e6) * (col("n_events") * col("dd")).cast("double") /
          (col("n_days") * col("ss")).cast("double"), 0).cast("long")
          .as("index_micro"))
      .orderBy(col("dow_iso"))
  }

  /** GAPS-AND-ISLANDS — the classic SQL shape for "consecutive-day
    * activity streaks": per user, maximal runs of consecutive active
    * days (one missed day breaks the streak), via the day −
    * row_number() island key (consecutive days share it; any gap
    * shifts it). Exact epoch-day arithmetic; per-user windows are
    * day-count-bounded. Output: one row per streak with start/end/
    * length, the engagement-streak table a retention dashboard draws.
    * Scale: one distinct (user, day) aggregate, one partitioned
    * window, one grouped fold — all keyed on user, one shuffle
    * lineage. */
  def qIslands(spark: SparkSession, dir: String): DataFrame =
    islandsDf(Tables(spark, dir).events)

  def islandsDf(events: DataFrame): DataFrame = {
    val ud = events
      .select(col("user_id"), expr("cast(ts as long) div 86400").as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    ud.withColumn("island", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("day")).as("start_day"), max(col("day")).as("end_day"),
        count(lit(1)).as("len_days"))
      .select(col("user_id"), col("start_day"), col("end_day"),
        col("len_days"))
      .sortWithinPartitions("user_id", "start_day")
  }

  /** STL-shaped seasonal-trend DECOMPOSITION of the daily revenue
    * series — the classical split every time-series dashboard draws:
    * per day, TREND (centered 7-day moving average over a zero-filled
    * calendar spine — gaps are real zero-revenue days, not missing
    * rows), SEASONAL (day-of-week effect of the detrended series),
    * and RESIDUAL, all in exact integer units so the whole
    * decomposition sits under the hash gate.
    *
    * The integer discipline rules out one classical detail: means of
    * the (possibly negative) detrended values would hit the
    * truncate-vs-floor divergence between engines, so the seasonal
    * effect is DEFINED as mean(cents) − mean(trend) per weekday —
    * algebraically the same quantity, but both divisions run on
    * non-negative sums (milli-units, truncating div on both engines).
    * Residual is pure subtraction. Only days with a FULL centered
    * window report (the first/last 3 days have no honest trend).
    *
    * Scale shape: one daily aggregate (map-side combinable, shuffle ∝
    * days), a spine join, one global ordered window over |days| rows
    * — bounded by the calendar, the scd2-window argument — a 7-row
    * seasonal aggregate, and a broadcast join back. Output ∝ days. */
  def eventsStl(spark: SparkSession, dir: String): DataFrame =
    stlDf(Tables(spark, dir).events)

  /** STL-RESIDUAL anomaly flags — what [[qAnomalyDays]]'s raw z-score
    * cannot see: a day that is normal in absolute volume but abnormal
    * for its weekday and trend (or vice versa). Flags days whose
    * decomposition residual deviates from the residual MEDIAN by more
    * than `k`× the MAD — the robust outlier rule, fully integer:
    * median and MAD are rank SELECTIONS on the (value, day) total
    * order (lower median at rank ⌈n/2⌉ — deterministic under ties),
    * the threshold compare is `|resid − med| · 1 > k · mad` with no
    * division anywhere. Windows run over the days-bounded STL output
    * (the scd2-window argument). */
  def eventsAnomalyStl(spark: SparkSession, dir: String,
      k: Long = 3L): DataFrame = {
    val stl = stlDf(Tables(spark, dir).events)
      .select(col("day"), col("cents"), col("resid_milli"))
    val n1 = Window.orderBy(col("resid_milli"), col("day"))
    val withMed = stl
      .withColumn("rn", row_number().over(n1))
      .crossJoin(broadcast(stl.agg(((count(lit(1)) + 1) / 2)
        .cast("long").as("mrank"))))
    val med = withMed.filter(col("rn") === col("mrank"))
      .select(col("resid_milli").as("med_milli"))
    val dev = stl.crossJoin(broadcast(med))
      .withColumn("adev", abs(col("resid_milli") - col("med_milli")))
    val n2 = Window.orderBy(col("adev"), col("day"))
    val withMad = dev
      .withColumn("rn", row_number().over(n2))
      .crossJoin(broadcast(dev.agg(((count(lit(1)) + 1) / 2)
        .cast("long").as("mrank"))))
    val mad = withMad.filter(col("rn") === col("mrank"))
      .select(col("adev").as("mad_milli"))
    dev.crossJoin(broadcast(mad))
      .select(col("day"), col("cents"), col("resid_milli"),
        col("med_milli"), col("mad_milli"),
        (abs(col("resid_milli") - col("med_milli")) >
          lit(k) * col("mad_milli")).as("is_anomaly"))
      .orderBy(col("day"))
  }

  def stlDf(events: DataFrame): DataFrame =
    stlOfDaily(events.filter(col("event_type") === "purchase")
      .select(expr("cast(ts as long) div 86400").as("day"),
        round(col("value") * 100, 0).cast("long").as("c"))
      .groupBy(col("day")).agg(sum(col("c")).as("cents")))

  /** The decomposition fold over ANY (day, cents) daily table — the
    * half [[graft.streaming.Streams.stlStream]] re-runs per trigger
    * on its complete-mode running aggregate, so stream ≡ batch by
    * construction. */
  private[graft] def stlOfDaily(daily: DataFrame): DataFrame = {
    val span = daily.agg(min(col("day")).as("dmin"), max(col("day")).as("dmax"))
    val spine = span.select(explode(expr("sequence(dmin, dmax)")).as("day"))
    val filled = spine.join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("cents"), lit(0L)).as("cents"))
    // the spine is dense, so the ±3-day RANGE frame holds exactly 7
    // rows on every inner day — div 7 is the exact centered mean
    val w = Window.orderBy(col("day")).rangeBetween(-3, 3)
    val trended = filled
      .withColumn("wsum", sum(col("cents")).over(w))
      .crossJoin(broadcast(span))
      .filter(col("day") >= col("dmin") + 3 && col("day") <= col("dmax") - 3)
      .select(col("day"), col("cents"), expr("wsum div 7").as("trend_cents"),
        (col("day") % 7).as("dow"))
    val seasonal = trended.groupBy(col("dow"))
      .agg(expr("(1000 * sum(cents)) div count(1)").as("mc"),
        expr("(1000 * sum(trend_cents)) div count(1)").as("mt"))
      .select(col("dow"), (col("mc") - col("mt")).as("seasonal_milli"))
    trended.join(broadcast(seasonal), Seq("dow"))
      .select(col("day"), col("cents"), col("trend_cents"), col("dow"),
        col("seasonal_milli"),
        (lit(1000L) * col("cents") - lit(1000L) * col("trend_cents") -
          col("seasonal_milli")).as("resid_milli"))
      .orderBy(col("day"))
  }

  /** Autocorrelation of daily revenue at lags 0..`maxLag` — the
    * readout that tells a metrics team whether the series is
    * white-noise, weekly-periodic (a spike at lag 7 — which this
    * corpus shows), or trending, and the standard input to
    * forecasting-model selection next to [[eventsStl]].
    *
    * Exact-integer discipline: on the zero-filled day spine (the
    * [[stlOfDaily]] fill — a quiet day is revenue 0, not a missing
    * observation), deviations are pre-scaled to kill the mean
    * division — `dev_t = n·cents_t − Σcents` (exact BIGINT) — and
    * each lag's numerator `Σ dev_t · dev_{t+k}` runs in
    * DECIMAL(38,0) (dev² overflows int64 at ~3e9 daily cents; the
    * oracle mirrors with HUGEINT — both exact integers). The ONLY
    * float is the final `acf_k = num_k / num_0` division, rounded to
    * 6dp. The constant n²  that scaling introduces cancels in the
    * ratio, so these ARE the textbook ACF values.
    *
    * Shape: lag pairing is an EQUI-join — each day's deviation
    * fans out to (day+k, k) for the ≤ maxLag+1 lags and joins the
    * spine on day — never a non-equi range join the planner turns
    * into a nested loop. The frame is days-bounded (a century is
    * 36.5k rows), the fan-out ≤ 8×, the aggregate dictionary-sized. */
  def eventsAcf(spark: SparkSession, dir: String,
      maxLag: Int = 7): DataFrame = {
    // cached at the corpus→bounded boundary: span/fill/stats/dev/fan
    // all re-reference this frame lazily, and without the cache each
    // reference re-scans the events corpus (the plan audit counted 16
    // parquet scans) — one scan materializes the days-bounded table,
    // everything downstream recomputes from ≤ 36.5k rows
    val daily = WorkingSet(Tables(spark, dir).events
      .filter(col("event_type") === "purchase")
      .select(expr("cast(ts as long) div 86400").as("day"),
        round(col("value") * 100, 0).cast("long").as("c"))
      .groupBy(col("day")).agg(sum(col("c")).as("cents")))
    val span = daily.agg(min(col("day")).as("dmin"), max(col("day")).as("dmax"))
    val filled = span
      .select(explode(expr("sequence(dmin, dmax)")).as("day"))
      .join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("cents"), lit(0L)).as("cents"))
    val st = filled.agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
    val dev = filled.crossJoin(broadcast(st))
      .select(col("day"), (col("n") * col("cents") - col("s")).as("dv"),
        col("n"))
    val fan = dev.select(col("day"), col("dv"), col("n"),
      explode(expr(s"sequence(0, $maxLag)")).as("lag"))
      .select((col("day") + col("lag")).as("day"), col("lag"),
        col("dv").as("da"), col("n"))
    val nums = fan
      .join(dev.select(col("day"), col("dv").as("db")), Seq("day"))
      .groupBy(col("lag"))
      .agg(max(col("n")).as("n_days"),
        sum(col("da").cast("decimal(19,0)") * col("db").cast("decimal(19,0)"))
          .as("num"))
    val num0 = nums.filter(col("lag") === 0L)
      .select(col("num").as("num0"))
    nums.crossJoin(broadcast(num0))
      .select(col("lag").cast("long").as("lag"), col("n_days"),
        round(col("num").cast("double") / col("num0").cast("double"), 6)
          .as("acf"))
      .orderBy(col("lag"))
  }

  /** Session-distribution summary — the one-row readout product
    * teams pin next to [[qSessionize]]'s raw table: session count,
    * single-event (bounce) count, total events, exact lower-median
    * and p90 session duration, and median events-per-session. The
    * quantiles are RANK SELECTIONS on deterministic total orders
    * (value, user, session) — the [[eventsAnomalyStl]] median
    * discipline, exact at any partitioning, no interpolation to
    * disagree on. `ceil` ranks via integer arithmetic
    * ((n+1) div 2, (9n+9) div 10). Windows run over the
    * sessions-bounded frame (≈ |user-days|, not events). */
  def sessionStats(spark: SparkSession, dir: String): DataFrame = {
    // cached: the aggregate + three rank selections below each
    // re-reference this frame, and uncached each re-runs the full
    // sessionize window over the corpus (plan audit: 7 scans → 1);
    // the frame is sessions-bounded, not event-bounded
    val st = WorkingSet(qSessionize(spark, dir)
      .select(col("user_id"), col("session_id"), col("n_events"),
        (col("end_s") - col("start_s")).as("dur_s")))
    val agg = st.agg(count(lit(1)).cast("long").as("n_sessions"),
      sum(when(col("n_events") === 1L, 1L).otherwise(0L)).as("n_single"),
      sum(col("n_events")).as("total_events"))
    val n = st.agg(count(lit(1)).cast("long").as("n"))
    val wDur = Window.orderBy(col("dur_s"), col("user_id"), col("session_id"))
    val rDur = st.withColumn("rn", row_number().over(wDur))
      .crossJoin(broadcast(n))
    val med = rDur.filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("dur_s").as("med_dur_s"))
    val p90 = rDur.filter(col("rn") === expr("(9 * n + 9) div 10"))
      .select(col("dur_s").as("p90_dur_s"))
    val wEv = Window.orderBy(col("n_events"), col("user_id"),
      col("session_id"))
    val medEv = st.withColumn("rn", row_number().over(wEv))
      .crossJoin(broadcast(n))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("n_events").as("med_events"))
    agg.crossJoin(broadcast(med)).crossJoin(broadcast(p90))
      .crossJoin(broadcast(medEv))
      .select(col("n_sessions"), col("n_single"), col("total_events"),
        col("med_dur_s"), col("p90_dur_s"), col("med_events"))
  }

  /** Generated DuckDB oracle for [[sessionStats]] — the proven
    * sessionize chain + the same integer-rank selections. */
  val sessionStatsOracleSql: String =
    """WITH x AS (
         SELECT user_id, ts, event_id,
                lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
         FROM events),
       y AS (
         SELECT user_id, ts, event_id,
                CAST(sum(CASE WHEN prev_ts IS NULL
                         OR epoch(ts) - epoch(prev_ts) > 1800
                         THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_id
         FROM x),
       st AS (
         SELECT user_id, session_id, count(*) AS n_events,
                CAST(floor(max(epoch(ts))) AS BIGINT)
                  - CAST(floor(min(epoch(ts))) AS BIGINT) AS dur_s
         FROM y GROUP BY user_id, session_id),
       nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM st),
       rdur AS (SELECT dur_s, row_number() OVER
                  (ORDER BY dur_s, user_id, session_id) AS rn FROM st),
       rev AS (SELECT n_events, row_number() OVER
                 (ORDER BY n_events, user_id, session_id) AS rn FROM st)
       SELECT a.n_sessions, a.n_single, a.total_events,
              md.dur_s AS med_dur_s, p9.dur_s AS p90_dur_s,
              CAST(me.n_events AS BIGINT) AS med_events
       FROM (SELECT CAST(count(*) AS BIGINT) AS n_sessions,
                    CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_single,
                    CAST(sum(n_events) AS BIGINT) AS total_events
             FROM st) a
       CROSS JOIN nn
       JOIN rdur md ON md.rn = (nn.n + 1) // 2
       JOIN rdur p9 ON p9.rn = (9 * nn.n + 9) // 10
       JOIN rev me ON me.rn = (nn.n + 1) // 2"""

  /** Per-(user, active-day) FEATURE TABLE — the feature-store query
    * an ML training pipeline materializes next to the label join:
    * same-day activity (events, purchase cents), trailing 7- and
    * 30-day counts and revenue, days since previous activity, and
    * lifetime event count. Everything is an exact-integer windowed
    * aggregate over the per-user day series: RANGE frames on the
    * integer epoch day (so calendar gaps are handled by the frame,
    * not a spine join), partitioned BY USER — the scalable axis
    * (millions of partitions, each tiny; no global window anywhere).
    * One corpus scan → one (user, day) aggregate → one window pass. */
  def eventsFeatures(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables(spark, dir).events
      .select(col("user_id"), expr("cast(ts as long) div 86400").as("day"),
        when(col("event_type") === "purchase",
          round(col("value") * 100, 0).cast("long")).otherwise(0L).as("c"))
      .groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n_events"), sum(col("c")).as("rev_cents"))
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val w7 = byUser.rangeBetween(-6, 0)
    val w30 = byUser.rangeBetween(-29, 0)
    val life = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ud.select(col("user_id"), col("day"), col("n_events"), col("rev_cents"),
        sum(col("n_events")).over(w7).as("cnt_7"),
        sum(col("n_events")).over(w30).as("cnt_30"),
        sum(col("rev_cents")).over(w30).as("rev_30"),
        (col("day") - lag(col("day"), 1).over(byUser)).as("days_since_prev"),
        sum(col("n_events")).over(life).as("lifetime_events"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Generated DuckDB oracle for [[eventsFeatures]] — identical
    * integer-day RANGE frames. */
  val featuresOracleSql: String =
    """WITH ud AS (
         SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
                count(*) AS n_events,
                CAST(sum(CASE WHEN event_type = 'purchase'
                     THEN CAST(round(value * 100, 0) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS rev_cents
         FROM events GROUP BY 1, 2)
       SELECT user_id, day, CAST(n_events AS BIGINT) AS n_events, rev_cents,
              CAST(sum(n_events) OVER (PARTITION BY user_id ORDER BY day
                RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS cnt_7,
              CAST(sum(n_events) OVER (PARTITION BY user_id ORDER BY day
                RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS BIGINT) AS cnt_30,
              CAST(sum(rev_cents) OVER (PARTITION BY user_id ORDER BY day
                RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS BIGINT) AS rev_30,
              day - lag(day) OVER (PARTITION BY user_id ORDER BY day)
                AS days_since_prev,
              CAST(sum(n_events) OVER (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                AS lifetime_events
       FROM ud ORDER BY user_id, day"""

  /** Cumulative distinct users by day — the growth curve
    * ([[eventsActiveUsers]] reads engagement windows; this reads
    * lifetime acquisition). Distinct-over-all-history decomposes
    * exactly where windowed distinct doesn't: each user contributes
    * once at their FIRST active day (one groupBy(user) min), the
    * per-day new-user counts cumulate over the days-bounded spine
    * (quiet days report 0 new and a flat cumulative), so the corpus
    * is scanned once and no day ever re-reads history. */
  def cumulativeUsers(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables(spark, dir).events
      .select(col("user_id"), expr("cast(ts as long) div 86400").as("d"))
    val firstDay = ud.groupBy(col("user_id")).agg(min(col("d")).as("d0"))
    val perDay = firstDay.groupBy(col("d0").as("day"))
      .agg(count(lit(1)).as("new_users"))
    // spine over the EVENT span, not the first-day span — a mature
    // product acquires everyone early, and the flat tail of the
    // growth curve is exactly the signal this readout exists to show
    val span = ud.agg(min(col("d")).as("dmin"), max(col("d")).as("dmax"))
    val spine = span.select(explode(expr("sequence(dmin, dmax)")).as("day"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(perDay, Seq("day"), "left")
      .select(col("day"), coalesce(col("new_users"), lit(0L)).as("new_users"))
      .withColumn("cum_users", sum(col("new_users")).over(w))
      .orderBy(col("day"))
  }

  /** Generated DuckDB oracle for [[cumulativeUsers]]. */
  val cumulativeUsersOracleSql: String =
    """WITH ud AS (SELECT user_id,
                  CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d
           FROM events),
       fd AS (SELECT user_id, min(d) AS d0 FROM ud GROUP BY 1),
       pd AS (SELECT d0 AS day, CAST(count(*) AS BIGINT) AS new_users
              FROM fd GROUP BY 1),
       sp AS (SELECT min(d) AS dmin, max(d) AS dmax FROM ud),
       spine AS (SELECT unnest(range(dmin, dmax + 1)) AS day FROM sp)
       SELECT spine.day, coalesce(pd.new_users, 0) AS new_users,
              CAST(sum(coalesce(pd.new_users, 0))
                OVER (ORDER BY spine.day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_users
       FROM spine LEFT JOIN pd ON pd.day = spine.day
       ORDER BY spine.day"""

  /** Stickiness — the DAU/MAU engagement ratio per day, the product
    * metric sitting directly on [[activeUsersDf]]'s exact rolling
    * distincts (a habit-forming product trends toward 1, a
    * once-a-month one toward 1/30). Same one-fan-out plan; the ratio
    * is the ONLY float, rounded at 6dp, and a zero-MAU day (possible
    * only across a silent gap longer than the window) reports 0
    * rather than NULL so the day spine stays total. */
  def eventsStickiness(spark: SparkSession, dir: String): DataFrame =
    activeUsersDf(Tables(spark, dir).events)
      .select(col("day"), col("dau"), col("mau"),
        when(col("mau") === 0L, lit(0.0))
          .otherwise(round(col("dau").cast("double") / col("mau"), 6))
          .as("stickiness"))
      .orderBy(col("day"))

  /** Holt double-exponential smoothing of daily revenue — the
    * adaptive-forecast member of the family (the events_forecast
    * seasonal-naive baseline assumes a frozen weekly profile;
    * Holt tracks level AND trend as they move). α = β = 1/2 so
    * every smoothing step is ONE arithmetic right-shift — floor
    * semantics on negatives in BOTH engines (Spark `>>` and DuckDB
    * `>>` are arithmetic shifts; a `div`/`//` formulation would
    * diverge on odd negative trends: truncate-toward-zero vs floor).
    *   l_t = (y_t + l_{t−1} + b_{t−1}) >> 1
    *   b_t = (b_{t−1} + l_t − l_{t−1}) >> 1,  f_t = l_{t−1} + b_{t−1}
    * init l₀ = y₀, b₀ = y₁ − y₀ (0 on a 1-day series).
    *
    * The recurrence is inherently SEQUENTIAL (integer truncation
    * breaks the matrix-scan associativity that would parallelize a
    * float Holt), so this runs on the [[Skyline]] `mapPartitions`
    * tier: the zero-filled day spine is DAYS-BOUNDED (a century is
    * 36.5k rows), one partition, one ordered pass — the upstream
    * daily aggregate over the raw corpus is still fully distributed.
    * The oracle is DuckDB's native `WITH RECURSIVE` walk of the same
    * recurrence. Spec pins the closed form on an exactly-linear
    * series: l tracks y exactly and b stays the slope. */
  def eventsHolt(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).events
      .filter(col("event_type") === "purchase")
      .select(expr("cast(ts as long) div 86400").as("day"),
        round(col("value") * 100, 0).cast("long").as("c"))
      .groupBy(col("day")).agg(sum(col("c")).as("cents"))
    holtOfDaily(daily).orderBy(col("day"))
  }

  /** HOLT-WINTERS additive triple smoothing — [[eventsHolt]] plus a
    * period-7 seasonal state, completing the forecasting family
    * (naive/filled ≺ Holt level+trend ≺ HW level+trend+weekday):
    * `l_t = (y_t − s_{t−7} + l_{t−1} + b_{t−1}) >> 1`,
    * `b_t = (b_{t−1} + (l_t − l_{t−1})) >> 1`,
    * `s_t = (y_t − l_t + s_{t−7}) >> 1`, fitted
    * `f_t = l_{t−1} + b_{t−1} + s_{t−7}` — α=β=γ=½ as arithmetic
    * shifts (Java `>>` ≡ DuckDB `>>`, floor semantics on negatives),
    * the [[holtOfDaily]] exact-integer discipline. DECLARED init:
    * the seasonal register starts all-zero (s_{t−7} = 0 for t ≤ 7),
    * so the first week degrades to plain Holt and seasonality phases
    * in — deterministic on both engines, no seasonal-mean
    * bootstrapping to disagree on. Sequential by nature: one
    * single-partition pass over the days-BOUNDED spine (the
    * q_skyline mapPartitions tier); the oracle carries the 7-slot
    * register as a list column through a recursive CTE. */
  def eventsHoltWinters(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).events
      .filter(col("event_type") === "purchase")
      .select(expr("cast(ts as long) div 86400").as("day"),
        round(col("value") * 100, 0).cast("long").as("c"))
      .groupBy(col("day")).agg(sum(col("c")).as("cents"))
    holtWintersOfDaily(daily).orderBy(col("day"))
  }

  private[graft] def holtWintersOfDaily(daily: DataFrame): DataFrame = {
    val spark = daily.sparkSession
    import spark.implicits._
    val span = daily.agg(min(col("day")).as("dmin"), max(col("day")).as("dmax"))
    val filled = span.select(explode(expr("sequence(dmin, dmax)")).as("day"))
      .join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("cents"), lit(0L)).as("cents"))
    filled.as[(Long, Long)]
      .repartition(1).sortWithinPartitions("day")
      .mapPartitions { it =>
        val rows = it.toArray
        if (rows.isEmpty) Iterator.empty
        else {
          var l = rows(0)._2
          var b = if (rows.length > 1) rows(1)._2 - rows(0)._2 else 0L
          val s = new Array[Long](7) // s(i % 7) = s_{i}, 7 lags back
          val out = new scala.collection.mutable.ArrayBuffer[
            (Long, Long, Long, Long, Long, Option[Long])](rows.length)
          out += ((rows(0)._1, rows(0)._2, l, b, 0L, None))
          var i = 1
          while (i < rows.length) {
            val y = rows(i)._2
            val sLag = s(i % 7) // the slot written 7 steps ago (0 early)
            val f = l + b + sLag
            val l1 = (y - sLag + l + b) >> 1
            val b1 = (b + (l1 - l)) >> 1
            val s1 = (y - l1 + sLag) >> 1
            l = l1; b = b1; s(i % 7) = s1
            out += ((rows(i)._1, y, l, b, s1, Some(f)))
            i += 1
          }
          out.iterator
        }
      }
      .toDF("day", "cents", "level", "trend", "seasonal", "fitted")
  }

  /** The shared recursive-CTE body of the Holt-Winters oracles —
    * [[holtWintersOracleSql]] reads the fitted table off it,
    * [[forecastHwOracleSql]] the terminal state. */
  private val holtWintersRecSql: String =
    """daily AS (
         SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
                CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                     AS BIGINT) AS cents
         FROM events WHERE event_type = 'purchase' GROUP BY 1),
       sp AS (SELECT min(day) AS dmin, max(day) AS dmax FROM daily),
       spine AS (SELECT unnest(range(dmin, dmax + 1)) AS day FROM sp),
       filled AS (SELECT spine.day, coalesce(d.cents, 0) AS cents
                  FROM spine LEFT JOIN daily d ON d.day = spine.day),
       idx AS (SELECT day, cents,
                      row_number() OVER (ORDER BY day) AS i
               FROM filled),
       rec(i, day, cents, l, b, sl, s, f) AS (
         SELECT i, day, cents, cents,
                coalesce((SELECT cents FROM idx WHERE i = 2) - cents, 0),
                [CAST(0 AS BIGINT), 0, 0, 0, 0, 0, 0],
                CAST(0 AS BIGINT),
                CAST(NULL AS BIGINT)
         FROM idx WHERE i = 1
         UNION ALL
         SELECT x.i, x.day, x.cents,
                (x.cents - r.sl[1] + r.l + r.b) >> 1,
                (r.b + (((x.cents - r.sl[1] + r.l + r.b) >> 1) - r.l)) >> 1,
                list_append(r.sl[2:7],
                  (x.cents - ((x.cents - r.sl[1] + r.l + r.b) >> 1)
                   + r.sl[1]) >> 1),
                (x.cents - ((x.cents - r.sl[1] + r.l + r.b) >> 1)
                 + r.sl[1]) >> 1,
                r.l + r.b + r.sl[1]
         FROM rec r JOIN idx x ON x.i = r.i + 1)"""

  /** Generated DuckDB oracle for [[eventsHoltWinters]] — the same
    * shift recurrence with the 7-slot seasonal register carried as a
    * list column through the recursion. */
  val holtWintersOracleSql: String =
    s"""WITH RECURSIVE $holtWintersRecSql
       SELECT day, cents, CAST(l AS BIGINT) AS level,
              CAST(b AS BIGINT) AS trend, CAST(s AS BIGINT) AS seasonal,
              CAST(f AS BIGINT) AS fitted
       FROM rec ORDER BY day"""

  /** H-STEP-AHEAD Holt-Winters forecast — the forward read the
    * smoothing exists for: from the terminal state (l_T, b_T, last-7
    * seasonal register) project the next week,
    * `f_{T+h} = l_T + h·b_T + s_{T+h−7}` for h ∈ 1..7 — pure
    * integer, each forecast one expression over the days-bounded
    * fitted table. The seasonal-naive `events_forecast` answers
    * "what does a typical Tuesday look like"; this answers "what
    * will NEXT Tuesday be, given where level and trend are now". */
  def eventsForecastHw(spark: SparkSession, dir: String): DataFrame = {
    val hw = WorkingSet(eventsHoltWinters(spark, dir)
      .select(col("day"), col("level"), col("trend"), col("seasonal")))
    val last = hw.crossJoin(broadcast(hw.agg(max(col("day")).as("dmax"))))
      .filter(col("day") === col("dmax"))
      .select(col("dmax"), col("level").as("l"), col("trend").as("b"))
    hw.crossJoin(broadcast(last))
      .filter(col("day") > col("dmax") - 7)
      .select((col("day") + 7).as("day"),
        (col("day") + 7 - col("dmax")).as("h"),
        (col("l") + (col("day") + 7 - col("dmax")) * col("b") +
          col("seasonal")).as("forecast_cents"))
      .orderBy(col("day"))
  }

  /** Generated DuckDB oracle for [[eventsForecastHw]] — the shared
    * recursion + the same terminal-state projection. */
  val forecastHwOracleSql: String =
    s"""WITH RECURSIVE $holtWintersRecSql,
       hw AS (SELECT day, l, b, s FROM rec),
       mx AS (SELECT max(day) AS dmax FROM hw),
       lastlb AS (SELECT l AS lv, b AS tr FROM hw CROSS JOIN mx
                  WHERE day = dmax)
       SELECT hw.day + 7 AS day,
              CAST(hw.day + 7 - mx.dmax AS BIGINT) AS h,
              CAST(lv + (hw.day + 7 - mx.dmax) * tr + hw.s AS BIGINT)
                AS forecast_cents
       FROM hw CROSS JOIN mx CROSS JOIN lastlb
       WHERE hw.day > mx.dmax - 7
       ORDER BY day"""

  /** The smoothing fold over ANY (day, cents) daily table (spec
    * surface; gaps are zero-filled first). */
  private[graft] def holtOfDaily(daily: DataFrame): DataFrame = {
    val spark = daily.sparkSession
    import spark.implicits._
    val span = daily.agg(min(col("day")).as("dmin"), max(col("day")).as("dmax"))
    val filled = span.select(explode(expr("sequence(dmin, dmax)")).as("day"))
      .join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("cents"), lit(0L)).as("cents"))
    filled.as[(Long, Long)]
      .repartition(1).sortWithinPartitions("day")
      .mapPartitions { it =>
        val rows = it.toArray
        if (rows.isEmpty) Iterator.empty
        else {
          var l = rows(0)._2
          var b = if (rows.length > 1) rows(1)._2 - rows(0)._2 else 0L
          val out = new scala.collection.mutable.ArrayBuffer[
            (Long, Long, Long, Long, Option[Long])](rows.length)
          out += ((rows(0)._1, rows(0)._2, l, b, None))
          var i = 1
          while (i < rows.length) {
            val y = rows(i)._2
            val f = l + b
            val l1 = (y + l + b) >> 1
            val b1 = (b + (l1 - l)) >> 1
            l = l1; b = b1
            out += ((rows(i)._1, y, l, b, Some(f)))
            i += 1
          }
          out.iterator
        }
      }
      .toDF("day", "cents", "level", "trend", "fitted")
  }

  /** Generated DuckDB oracle for [[eventsHolt]] — the same shift
    * recurrence as a native recursive CTE. */
  val holtOracleSql: String =
    """WITH RECURSIVE daily AS (
         SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
                CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                     AS BIGINT) AS cents
         FROM events WHERE event_type = 'purchase' GROUP BY 1),
       sp AS (SELECT min(day) AS dmin, max(day) AS dmax FROM daily),
       spine AS (SELECT unnest(range(dmin, dmax + 1)) AS day FROM sp),
       filled AS (SELECT spine.day, coalesce(d.cents, 0) AS cents
                  FROM spine LEFT JOIN daily d ON d.day = spine.day),
       idx AS (SELECT day, cents,
                      row_number() OVER (ORDER BY day) AS i
               FROM filled),
       rec(i, day, cents, l, b, f) AS (
         SELECT i, day, cents, cents,
                coalesce((SELECT cents FROM idx WHERE i = 2) - cents, 0),
                CAST(NULL AS BIGINT)
         FROM idx WHERE i = 1
         UNION ALL
         SELECT x.i, x.day, x.cents,
                (x.cents + r.l + r.b) >> 1,
                (r.b + (((x.cents + r.l + r.b) >> 1) - r.l)) >> 1,
                r.l + r.b
         FROM rec r JOIN idx x ON x.i = r.i + 1)
       SELECT day, cents, CAST(l AS BIGINT) AS level,
              CAST(b AS BIGINT) AS trend, CAST(f AS BIGINT) AS fitted
       FROM rec ORDER BY day"""

  /** Generated DuckDB oracle for [[eventsAcf]] — same spine fill,
    * same pre-scaled integer deviations (HUGEINT products vs the
    * Spark side's DECIMAL(38,0); both exact), same single final
    * division. */
  /** USER-LIFETIME SURVIVAL CURVE — the churn readout next to
    * [[retentionDf]]'s cohort table: for each lifetime t (days
    * between a user's first and last event), the number still "at
    * risk" (lifetime ≥ t), the number churning exactly at t, and
    * survival S(t) = P(lifetime ≥ t) in exact integer ppm. The
    * no-censoring empirical survival function — with a fixed
    * observation window the Kaplan-Meier product telescopes to
    * exactly this ratio, so the curve is INTEGER-exact (a true
    * censored K-M needs an ordered float product, which no engine
    * pair reproduces bit-identically; the declared-window form is
    * the one that hash-gates). Shape: one per-user aggregate
    * (map-side combinable min/max), a lifetime histogram, and a
    * suffix-sum window over the days-BOUNDED lifetime spine —
    * nothing corpus-proportional past the first groupBy. */
  def eventsSurvival(spark: SparkSession, dir: String): DataFrame = {
    val durs = Tables(spark, dir).events
      .select(col("user_id"), expr("cast(ts as long) div 86400").as("day"))
      .groupBy(col("user_id"))
      .agg((max(col("day")) - min(col("day"))).as("dur"))
      .groupBy(col("dur")).agg(count(lit(1)).as("n_churn"))
    val spine = durs.agg(max(col("dur")).as("dmax"))
      .select(explode(expr("sequence(0, dmax)")).as("t"))
      .join(durs.withColumnRenamed("dur", "t"), Seq("t"), "left")
      .select(col("t"), coalesce(col("n_churn"), lit(0L)).as("n_churn"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("t").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    spine
      .withColumn("n_risk", sum(col("n_churn")).over(w))
      .crossJoin(broadcast(
        spine.agg(sum(col("n_churn")).as("n_total"))))
      .select(col("t"), col("n_risk"), col("n_churn"),
        expr("(n_risk * 1000000) div n_total").as("surv_ppm"))
      .orderBy(col("t"))
  }

  /** Generated DuckDB oracle for [[eventsSurvival]]. */
  val survivalOracleSql: String =
    """WITH durs AS (
         SELECT user_id,
                max(CAST(floor(epoch(ts)) AS BIGINT) // 86400)
                  - min(CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS dur
         FROM events GROUP BY 1),
       hist AS (SELECT dur, CAST(count(*) AS BIGINT) AS n_churn
                FROM durs GROUP BY 1),
       sp AS (SELECT unnest(range(0, (SELECT max(dur) + 1 FROM hist)))
                AS t),
       filled AS (SELECT sp.t, coalesce(h.n_churn, 0) AS n_churn
                  FROM sp LEFT JOIN hist h ON h.dur = sp.t),
       tot AS (SELECT CAST(sum(n_churn) AS BIGINT) AS n_total FROM filled)
       SELECT t,
              CAST(sum(n_churn) OVER (ORDER BY t DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_risk,
              n_churn,
              CAST((CAST(sum(n_churn) OVER (ORDER BY t DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) * 1000000) // n_total AS BIGINT) AS surv_ppm
       FROM filled CROSS JOIN tot
       ORDER BY t"""

  /** CROSS-correlation between daily purchase revenue (X) and daily
    * click counts (Y) at lags −`maxLag`..+`maxLag` — the
    * two-series readout next to [[eventsAcf]]: does engagement LEAD
    * revenue (peak at a positive lag: clicks today, purchases in k
    * days), LAG it, or move synchronously? The standard
    * marketing-mix / funnel-latency diagnostic.
    *
    * Exact-integer discipline (the [[eventsAcf]] scheme applied to
    * two series): both series live on the SHARED zero-filled day
    * spine (union span — a quiet day is 0 in either series),
    * deviations pre-scaled `dev_t = n·v_t − Σv` (exact BIGINT, kills
    * both mean divisions), every lag numerator
    * `Σ devx_t · devy_{t+k}` and both denominators `Σ dev²` run in
    * DECIMAL(38,0) (HUGEINT on the oracle side). The ONLY floats are
    * the final normalization `num_k / sqrt(denx · deny)` — forced
    * DOUBLE in the identical op order on both engines (IEEE sqrt /
    * mul / div are all correctly rounded, so the doubles are
    * bit-identical), rounded 6dp. The n² pre-scale cancels in the
    * ratio: these ARE the textbook CCF values.
    *
    * Shape: equi-join lag pairing on the days-bounded spine (≤
    * (2·maxLag+1)× fan-out), two bounded aggregates — nothing
    * corpus-proportional past the two daily rollups. */
  def eventsCcf(spark: SparkSession, dir: String,
      maxLag: Int = 7): DataFrame = {
    val ev = Tables(spark, dir).events
    val xd = ev.filter(col("event_type") === "purchase")
      .select(expr("cast(ts as long) div 86400").as("day"),
        round(col("value") * 100, 0).cast("long").as("c"))
      .groupBy(col("day")).agg(sum(col("c")).as("xv"))
    val yd = ev.filter(col("event_type") === "click")
      .select(expr("cast(ts as long) div 86400").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("yv"))
    // one bounded frame holds both series; cached at the
    // corpus→bounded boundary (the eventsAcf lazy-rescan lesson)
    val span = xd.select(col("day")).unionAll(yd.select(col("day")))
      .agg(min(col("day")).as("dmin"), max(col("day")).as("dmax"))
    val filled = WorkingSet(span
      .select(explode(expr("sequence(dmin, dmax)")).as("day"))
      .join(xd, Seq("day"), "left").join(yd, Seq("day"), "left")
      .select(col("day"), coalesce(col("xv"), lit(0L)).as("xv"),
        coalesce(col("yv"), lit(0L)).as("yv")))
    val st = filled.agg(count(lit(1)).as("n"),
      sum(col("xv")).as("sx"), sum(col("yv")).as("sy"))
    val dev = filled.crossJoin(broadcast(st))
      .select(col("day"),
        (col("n") * col("xv") - col("sx")).as("dx"),
        (col("n") * col("yv") - col("sy")).as("dy"), col("n"))
    val dens = dev.agg(
      sum(col("dx").cast("decimal(19,0)") * col("dx").cast("decimal(19,0)"))
        .as("denx"),
      sum(col("dy").cast("decimal(19,0)") * col("dy").cast("decimal(19,0)"))
        .as("deny"))
    val fan = dev.select(col("day"), col("dx"), col("n"),
      explode(expr(s"sequence(${-maxLag}, $maxLag)")).as("lag"))
      .select((col("day") + col("lag")).as("day"), col("lag"),
        col("dx").as("da"), col("n"))
    fan
      .join(dev.select(col("day"), col("dy").as("db")), Seq("day"))
      .groupBy(col("lag"))
      .agg(max(col("n")).as("n_days"),
        sum(col("da").cast("decimal(19,0)") * col("db").cast("decimal(19,0)"))
          .as("num"))
      .crossJoin(broadcast(dens))
      .select(col("lag").cast("long").as("lag"), col("n_days"),
        round(col("num").cast("double") /
          sqrt(col("denx").cast("double") * col("deny").cast("double")), 6)
          .as("ccf"))
      .orderBy(col("lag"))
  }

  /** Generated DuckDB oracle for [[eventsCcf]] — the identical
    * spine/deviation/HUGEINT/forced-double chain. */
  def ccfOracleSql(maxLag: Int = 7): String =
    s"""WITH xd AS (
         SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
                CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                     AS BIGINT) AS xv
         FROM events WHERE event_type = 'purchase' GROUP BY 1),
       yd AS (
         SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
                CAST(count(*) AS BIGINT) AS yv
         FROM events WHERE event_type = 'click' GROUP BY 1),
       sp AS (SELECT min(day) AS dmin, max(day) AS dmax
              FROM (SELECT day FROM xd UNION ALL SELECT day FROM yd)),
       spine AS (SELECT unnest(range(dmin, dmax + 1)) AS day FROM sp),
       filled AS (SELECT spine.day, coalesce(x.xv, 0) AS xv,
                         coalesce(y.yv, 0) AS yv
                  FROM spine LEFT JOIN xd x ON x.day = spine.day
                             LEFT JOIN yd y ON y.day = spine.day),
       st AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(xv) AS BIGINT) AS sx,
                     CAST(sum(yv) AS BIGINT) AS sy FROM filled),
       dev AS (SELECT day, n * xv - sx AS dx, n * yv - sy AS dy, n
               FROM filled CROSS JOIN st),
       dens AS (SELECT sum(CAST(dx AS HUGEINT) * dx) AS denx,
                       sum(CAST(dy AS HUGEINT) * dy) AS deny FROM dev),
       fan AS (SELECT a.day + l.lag AS day, l.lag, a.dx AS da, a.n
               FROM dev a
               CROSS JOIN (SELECT unnest(range(${-maxLag}, $maxLag + 1))
                             AS lag) l),
       nums AS (SELECT f.lag, max(f.n) AS n_days,
                       sum(CAST(f.da AS HUGEINT) * b.dy) AS num
                FROM fan f JOIN dev b ON b.day = f.day
                GROUP BY f.lag)
       SELECT CAST(lag AS BIGINT) AS lag, n_days,
              round(CAST(num AS DOUBLE)
                    / sqrt(CAST(denx AS DOUBLE) * CAST(deny AS DOUBLE)), 6)
                AS ccf
       FROM nums CROSS JOIN dens ORDER BY lag"""

  def acfOracleSql(maxLag: Int = 7): String =
    s"""WITH daily AS (
         SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
                CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                     AS BIGINT) AS cents
         FROM events WHERE event_type = 'purchase' GROUP BY 1),
       sp AS (SELECT min(day) AS dmin, max(day) AS dmax FROM daily),
       spine AS (SELECT unnest(range(dmin, dmax + 1)) AS day FROM sp),
       filled AS (SELECT spine.day, coalesce(d.cents, 0) AS cents
                  FROM spine LEFT JOIN daily d ON d.day = spine.day),
       st AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(cents) AS BIGINT) AS s FROM filled),
       dev AS (SELECT day, n * cents - s AS dv, n
               FROM filled CROSS JOIN st),
       fan AS (SELECT a.day + l.lag AS day, l.lag, a.dv AS da, a.n
               FROM dev a
               CROSS JOIN (SELECT unnest(range(0, $maxLag + 1)) AS lag) l),
       nums AS (SELECT f.lag, max(f.n) AS n_days,
                       sum(CAST(f.da AS HUGEINT) * b.dv) AS num
                FROM fan f JOIN dev b ON b.day = f.day
                GROUP BY f.lag)
       SELECT CAST(lag AS BIGINT) AS lag, n_days,
              round(CAST(num AS DOUBLE)
                    / CAST((SELECT num FROM nums WHERE lag = 0) AS DOUBLE), 6)
                AS acf
       FROM nums ORDER BY lag"""

  /** This object's queries, each with its DuckDB oracle (see [[graft.core.Query]]). */
  lazy val queries: Seq[Query] = Seq(
    Query("q_funnel", qFunnel,
      """WITH v AS (SELECT user_id, event_id, ts FROM events
                    WHERE event_type = 'view'),
         c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
         p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
         vc AS (SELECT v.user_id, v.event_id, min(c.ts) AS click_ts
                FROM v JOIN c ON c.user_id = v.user_id
                  AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
                GROUP BY v.user_id, v.event_id),
         vcp AS (SELECT vc.user_id, vc.event_id
                 FROM vc JOIN p ON p.user_id = vc.user_id
                   AND p.ts > vc.click_ts
                   AND p.ts <= vc.click_ts + INTERVAL 30 MINUTE
                 GROUP BY vc.user_id, vc.event_id),
         nv AS (SELECT user_id, count(*) AS n_views FROM v GROUP BY user_id),
         nc AS (SELECT user_id, count(*) AS n_clicked FROM vc GROUP BY user_id),
         nf AS (SELECT user_id, count(*) AS n_full FROM vcp GROUP BY user_id)
         SELECT nv.user_id, nv.n_views,
                coalesce(nc.n_clicked, 0) AS n_clicked,
                coalesce(nf.n_full, 0) AS n_full
         FROM nv LEFT JOIN nc ON nc.user_id = nv.user_id
                 LEFT JOIN nf ON nf.user_id = nv.user_id
         ORDER BY nv.user_id"""),
    Query("q_event_window", qEventWindow,
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
                count(*) AS n, sum(CAST(round((value) * 100, 0) AS BIGINT)) / 100.0 AS total
         FROM events GROUP BY hour, event_type ORDER BY hour, event_type"""),
    Query("q_event_topusers", qEventTopusers,
      """SELECT user_id, count(*) AS n_purchases,
                sum(CAST(round((value) * 100, 0) AS BIGINT)) / 100.0 AS spend
         FROM events WHERE event_type = 'purchase'
         GROUP BY user_id ORDER BY spend DESC, user_id LIMIT 20"""),
    Query("q_json_extract", qJsonExtract,
      """SELECT event_type,
                round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6) AS avg_k,
                max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
         FROM events GROUP BY event_type ORDER BY event_type"""),
    Query("q_sessionize", qSessionize, SessionizeOracleSql),
    // the SQL-surface twin is gated against the SAME oracle text
    Query("q_sessionize_sql", (s, d) => Tables.runSql(s, d, SessionizeSparkSql),
      SessionizeOracleSql),
    Query("q_asof_join", qAsofJoin,
      """SELECT e.event_id AS error_id, e.user_id,
                p.event_id AS last_purchase_id
         FROM (SELECT * FROM events WHERE event_type = 'error') e
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
           ON e.user_id = p.user_id AND e.ts >= p.ts
         ORDER BY error_id"""),
    // bidirectional nearest: the same union+window construction
    // evaluated by the second engine (DuckDB has no native nearest
    // join); exact integer-microsecond deltas, prev wins ties
    Query("q_nearest_join", qNearestJoin,
      """WITH b AS (
           SELECT user_id, ts, 0 AS side, event_id AS purchase_id,
                  CAST(NULL AS BIGINT) AS error_id
           FROM events WHERE event_type = 'purchase'
           UNION ALL
           SELECT user_id, ts, 1, CAST(NULL AS BIGINT), event_id
           FROM events WHERE event_type = 'error'),
         w AS (
           SELECT error_id, user_id, side, epoch_us(ts) AS us,
                  last_value(purchase_id IGNORE NULLS) OVER wb AS prev_pid,
                  last_value(CASE WHEN purchase_id IS NOT NULL
                             THEN epoch_us(ts) END IGNORE NULLS) OVER wb AS prev_us,
                  first_value(purchase_id IGNORE NULLS) OVER wf AS next_pid,
                  first_value(CASE WHEN purchase_id IS NOT NULL
                              THEN epoch_us(ts) END IGNORE NULLS) OVER wf AS next_us
           FROM b
           WINDOW
             wb AS (PARTITION BY user_id
                    ORDER BY ts, side, coalesce(purchase_id, error_id)
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY user_id
                    ORDER BY ts, side, coalesce(purchase_id, error_id)
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         SELECT error_id, user_id,
                CASE WHEN prev_pid IS NULL THEN next_pid
                     WHEN next_pid IS NULL THEN prev_pid
                     WHEN us - prev_us <= next_us - us THEN prev_pid
                     ELSE next_pid END AS nearest_purchase_id,
                CASE WHEN prev_pid IS NULL THEN next_us - us
                     WHEN next_pid IS NULL THEN us - prev_us
                     WHEN us - prev_us <= next_us - us THEN us - prev_us
                     ELSE next_us - us END AS delta_us
         FROM w WHERE side = 1 ORDER BY error_id"""),
    // weekday from pure epoch-day arithmetic ((d+3) mod 7 + 1,
    // Monday=1) — no engine calendar function whose week-start
    // convention could fork; index in exact micro-units
    Query("events_seasonality", eventsSeasonality,
      """WITH daily AS (
           SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
                  count(*) AS n
           FROM events GROUP BY 1),
         dw AS (SELECT (d + 3) % 7 + 1 AS dow_iso, n FROM daily),
         p AS (SELECT dow_iso, CAST(count(*) AS BIGINT) AS n_days,
                      CAST(sum(n) AS BIGINT) AS n_events
               FROM dw GROUP BY 1),
         t AS (SELECT CAST(sum(n_days) AS BIGINT) AS dd,
                      CAST(sum(n_events) AS BIGINT) AS ss FROM p)
         SELECT dow_iso, n_days, n_events,
                CAST(round(1e6 * CAST(n_events * dd AS DOUBLE)
                           / CAST(n_days * ss AS DOUBLE), 0) AS BIGINT)
                  AS index_micro
         FROM p CROSS JOIN t ORDER BY dow_iso"""),
    // STL decomposition of daily revenue: zero-filled spine, centered
    // 7-day integer trend, per-dow seasonal as mean(cents)-mean(trend)
    // (both divisions on non-negative milli sums — the truncate-vs-
    // floor rule), residual by subtraction; inner days only
    Query("events_stl", eventsStl,
      """WITH daily AS (
           SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
                  CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                       AS BIGINT) AS cents
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         sp AS (SELECT min(day) AS dmin, max(day) AS dmax FROM daily),
         spine AS (SELECT unnest(range(dmin, dmax + 1)) AS day FROM sp),
         filled AS (SELECT spine.day, coalesce(d.cents, 0) AS cents
                    FROM spine LEFT JOIN daily d ON d.day = spine.day),
         tr AS (SELECT day, cents,
                  CAST(sum(cents) OVER (ORDER BY day
                    RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT)
                    // 7 AS trend_cents
                FROM filled),
         inn AS (SELECT t.day, t.cents, t.trend_cents, t.day % 7 AS dow
                 FROM tr t CROSS JOIN sp
                 WHERE t.day >= sp.dmin + 3 AND t.day <= sp.dmax - 3),
         seas AS (SELECT dow,
                    CAST((1000 * sum(cents)) // count(*)
                      - (1000 * sum(trend_cents)) // count(*) AS BIGINT)
                      AS seasonal_milli
                  FROM inn GROUP BY 1)
         SELECT i.day, i.cents, i.trend_cents, i.dow, s.seasonal_milli,
                CAST(1000 * i.cents - 1000 * i.trend_cents
                     - s.seasonal_milli AS BIGINT) AS resid_milli
         FROM inn i JOIN seas s ON s.dow = i.dow
         ORDER BY i.day"""),
    // pre-scaled integer deviations, HUGEINT lag products (the Spark
    // side's DECIMAL(38,0) twin), one final double division
    Query("events_acf", (s, d) => eventsAcf(s, d), acfOracleSql()),
    // two-series CCF: same spine/deviation/HUGEINT chain, ONE forced-
    // double normalization num/sqrt(denx·deny) in identical op order
    Query("events_ccf", (s, d) => eventsCcf(s, d), ccfOracleSql()),
    // no-censoring empirical survival: the K-M product telescopes to
    // an exact integer ratio under a fixed observation window
    Query("events_survival", eventsSurvival, survivalOracleSql),
    // triple smoothing: the holt shift recurrence + a 7-slot seasonal
    // register carried as a list column through the recursive CTE
    Query("events_holt_winters", eventsHoltWinters, holtWintersOracleSql),
    // terminal-state projection: f_{T+h} = l + h·b + s_{T+h−7}
    Query("events_forecast_hw", eventsForecastHw, forecastHwOracleSql),
    // STL residuals vs median + k*MAD — both robust statistics are
    // rank SELECTIONS on (value, day), no division anywhere
    Query("events_anomaly_stl", (s, d) => eventsAnomalyStl(s, d),
      """WITH daily AS (
           SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
                  CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                       AS BIGINT) AS cents
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         sp AS (SELECT min(day) AS dmin, max(day) AS dmax FROM daily),
         spine AS (SELECT unnest(range(dmin, dmax + 1)) AS day FROM sp),
         filled AS (SELECT spine.day, coalesce(d.cents, 0) AS cents
                    FROM spine LEFT JOIN daily d ON d.day = spine.day),
         tr AS (SELECT day, cents,
                  CAST(sum(cents) OVER (ORDER BY day
                    RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT)
                    // 7 AS trend_cents
                FROM filled),
         inn AS (SELECT t.day, t.cents, t.trend_cents, t.day % 7 AS dow
                 FROM tr t CROSS JOIN sp
                 WHERE t.day >= sp.dmin + 3 AND t.day <= sp.dmax - 3),
         seas AS (SELECT dow,
                    CAST((1000 * sum(cents)) // count(*)
                      - (1000 * sum(trend_cents)) // count(*) AS BIGINT)
                      AS seasonal_milli
                  FROM inn GROUP BY 1),
         r AS (SELECT i.day, i.cents,
                      CAST(1000 * i.cents - 1000 * i.trend_cents
                           - s.seasonal_milli AS BIGINT) AS resid_milli
               FROM inn i JOIN seas s ON s.dow = i.dow),
         mr AS (SELECT (count(*) + 1) // 2 AS mrank FROM r),
         med AS (SELECT resid_milli AS med_milli FROM
                 (SELECT resid_milli,
                         row_number() OVER (ORDER BY resid_milli, day) AS rn
                  FROM r) CROSS JOIN mr WHERE rn = mrank),
         dev AS (SELECT r.day, r.cents, r.resid_milli, med.med_milli,
                        abs(r.resid_milli - med.med_milli) AS adev
                 FROM r CROSS JOIN med),
         mad AS (SELECT adev AS mad_milli FROM
                 (SELECT adev, day,
                         row_number() OVER (ORDER BY adev, day) AS rn
                  FROM dev) CROSS JOIN mr WHERE rn = mrank)
         SELECT d.day, d.cents, d.resid_milli, d.med_milli, mad.mad_milli,
                (abs(d.resid_milli - d.med_milli) > 3 * mad.mad_milli)
                  AS is_anomaly
         FROM dev d CROSS JOIN mad ORDER BY d.day"""),
    // gaps-and-islands: day - row_number() island key over distinct
    // (user, day); one missed day breaks the streak
    Query("q_islands", qIslands,
      """WITH ud AS (
           SELECT DISTINCT user_id,
                  CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
           FROM events),
         isl AS (SELECT user_id, day,
                        day - row_number() OVER (PARTITION BY user_id
                          ORDER BY day) AS island
                 FROM ud)
         SELECT user_id, min(day) AS start_day, max(day) AS end_day,
                CAST(count(*) AS BIGINT) AS len_days
         FROM isl GROUP BY user_id, island
         ORDER BY user_id, start_day"""),
    // the same union + last_value IGNORE NULLS formulation (not ASOF
    // JOIN: its equal-timestamp pick is unspecified; the window's
    // (ts, side, id) order is deterministic in both engines)
    Query("events_attribution", qAttribution,
      """WITH u AS (
           SELECT user_id, ts, 0 AS side, event_id AS touch_id,
                  event_type AS touch_type,
                  NULL::BIGINT AS purchase_id, NULL::DOUBLE AS value
           FROM events WHERE event_type IN ('click', 'view')
           UNION ALL
           SELECT user_id, ts, 1, NULL, NULL, event_id, value
           FROM events WHERE event_type = 'purchase'),
         x AS (
           SELECT *,
                  last_value(touch_id IGNORE NULLS) OVER w AS lt_id,
                  last_value(touch_type IGNORE NULLS) OVER w AS lt_type,
                  last_value(CASE WHEN side = 0 THEN ts END IGNORE NULLS)
                    OVER w AS lt_ts
           FROM u
           WINDOW w AS (PARTITION BY user_id
                        ORDER BY ts, side, coalesce(touch_id, purchase_id)
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         y AS (SELECT *, lt_ts IS NOT NULL
                          AND lt_ts >= ts - INTERVAL 24 HOUR AS fresh
               FROM x WHERE side = 1)
         SELECT purchase_id, user_id,
                CASE WHEN fresh THEN lt_id END AS touch_id,
                CASE WHEN fresh THEN lt_type ELSE 'direct' END AS channel,
                CASE WHEN fresh THEN CAST(floor(epoch(ts)) AS BIGINT)
                                     - CAST(floor(epoch(lt_ts)) AS BIGINT)
                END AS secs_since_touch,
                value
         FROM y ORDER BY purchase_id"""),
    Query("q_range_join", qRangeJoin,
      """SELECT p.event_id AS purchase_id, e.event_id AS error_id,
                p.user_id
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         JOIN (SELECT * FROM events WHERE event_type = 'error') e
           ON p.user_id = e.user_id
          AND e.ts >= p.ts
          AND e.ts <= p.ts + INTERVAL 30 MINUTE
         ORDER BY purchase_id, error_id"""),
    Query("q_gap_fill", qGapFill,
      """WITH daily AS (
           SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                  count(*) AS n_events,
                  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS spent_cents
           FROM events GROUP BY 1, 2),
         cal AS (SELECT user_id AS cal_user,
                        unnest(generate_series(min(day), max(day),
                                               INTERVAL 1 DAY)) AS day
                 FROM daily GROUP BY user_id)
         SELECT c.cal_user AS user_id, c.day,
                coalesce(d.n_events, 0) AS n_events,
                coalesce(d.spent_cents, 0) / 100.0 AS spent,
                (last_value(d.spent_cents IGNORE NULLS)
                   OVER (PARTITION BY c.cal_user ORDER BY c.day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                  / 100.0 AS carried
         FROM cal c LEFT JOIN daily d
           ON c.cal_user = d.user_id AND c.day = d.day
         ORDER BY 1, 2"""),
    // Same exact-moment z-score: (c·m − Σc) / √(m·Σc² − (Σc)²), all
    // inputs exact HUGEINT/DECIMAL integers, σ=0 guarded to z=0.
    Query("q_anomaly_days", qAnomalyDays,
      """WITH daily AS (
           SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                  count(*) AS cnt
           FROM events GROUP BY user_id, day),
         mo AS (SELECT user_id AS m_user,
                       CAST(count(*) AS HUGEINT) AS m,
                       sum(CAST(cnt AS HUGEINT)) AS sc,
                       sum(CAST(cnt AS HUGEINT) * CAST(cnt AS HUGEINT)) AS scc
                FROM daily GROUP BY user_id),
         z AS (SELECT d.user_id, d.day, d.cnt,
                      CASE WHEN mo.m * mo.scc - mo.sc * mo.sc = 0
                           THEN CAST(0 AS DOUBLE)
                           ELSE round(
                             CAST(CAST(d.cnt AS HUGEINT) * mo.m - mo.sc AS DOUBLE)
                             / sqrt(CAST(mo.m * mo.scc - mo.sc * mo.sc AS DOUBLE)), 4)
                      END AS z
               FROM daily d JOIN mo ON mo.m_user = d.user_id)
         SELECT user_id, day, cnt, z, abs(z) > 3.0 AS is_anomaly
         FROM z ORDER BY user_id, day"""),
    // distinct (user, day) + min-day cohort join ≡ the collect_set
    // formulation: exploded sets are distinct by construction
    Query("events_retention", qRetention, RetentionOracleSql),
    // the SQL-surface twin is gated against the SAME oracle text
    Query("events_retention_sql", (s, d) => Tables.runSql(s, d, RetentionSparkSql),
      RetentionOracleSql),
    // retention's revenue sibling: same first-active-day cohort,
    // exact cents, truncating integer LTV division on both engines
    Query("events_ltv", eventsLtv,
      """WITH c AS (SELECT user_id,
                           CAST(min(date_trunc('day', ts)) AS TIMESTAMP) AS cohort_day
                    FROM events GROUP BY 1),
         s AS (SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_size
               FROM c GROUP BY 1),
         p AS (SELECT e.user_id,
                      CAST(date_trunc('day', e.ts) AS TIMESTAMP) AS day,
                      CAST(round(e.value * 100, 0) AS BIGINT) AS cents
               FROM events e WHERE e.event_type = 'purchase'),
         r AS (SELECT c.cohort_day,
                      CAST(date_diff('day', c.cohort_day, p.day) AS INT) AS day_offset,
                      CAST(sum(p.cents) AS BIGINT) AS rev_cents,
                      CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_buyers
               FROM p JOIN c ON c.user_id = p.user_id GROUP BY 1, 2),
         cum AS (SELECT cohort_day, day_offset, n_buyers, rev_cents,
                        CAST(sum(rev_cents) OVER (PARTITION BY cohort_day
                          ORDER BY day_offset) AS BIGINT) AS cum_rev_cents
                 FROM r)
         SELECT cum.cohort_day, day_offset, n_buyers, rev_cents,
                cum_rev_cents, s.cohort_size,
                cum_rev_cents // s.cohort_size AS ltv_cents_per_user
         FROM cum JOIN s ON s.cohort_day = cum.cohort_day
         ORDER BY cum.cohort_day, day_offset"""),
    // DAU/WAU/MAU by ONE offset-tagged observation fan-out: each
    // distinct (user, day) announces itself to its <=30 future days
    // carrying the offset; per (day, user) keep the smallest offset,
    // then every horizon is a conditional count. Exact epoch-day
    // arithmetic; a dmin..dmax spine guarantees every in-span day a
    // row (quiet days — even inside a >30-day gap — report 0)
    Query("events_active_users", eventsActiveUsers,
      """WITH ud AS (
           SELECT DISTINCT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
                  user_id
           FROM events),
         sp AS (SELECT min(d) AS dmin, max(d) AS dmax FROM ud),
         spine AS (SELECT unnest(range(dmin, dmax + 1)) AS day FROM sp),
         obs AS (SELECT day, user_id, min(day - d) AS off
                 FROM (SELECT user_id, d, unnest(range(d, d + 30)) AS day
                       FROM ud)
                 CROSS JOIN sp WHERE day <= sp.dmax GROUP BY day, user_id),
         c AS (SELECT day,
                      CAST(sum(CASE WHEN off < 1 THEN 1 ELSE 0 END) AS BIGINT) AS dau,
                      CAST(sum(CASE WHEN off < 7 THEN 1 ELSE 0 END) AS BIGINT) AS wau,
                      CAST(sum(CASE WHEN off < 30 THEN 1 ELSE 0 END) AS BIGINT) AS mau
               FROM obs GROUP BY day)
         SELECT spine.day, coalesce(c.dau, 0) AS dau,
                coalesce(c.wau, 0) AS wau, coalesce(c.mau, 0) AS mau
         FROM spine LEFT JOIN c ON c.day = spine.day
         ORDER BY spine.day"""),
    // the DAU/MAU ratio on the same exact rolling distincts — one
    // final rounded division, zero-MAU days report 0
    Query("events_stickiness", eventsStickiness,
      """WITH ud AS (
           SELECT DISTINCT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
                  user_id
           FROM events),
         sp AS (SELECT min(d) AS dmin, max(d) AS dmax FROM ud),
         spine AS (SELECT unnest(range(dmin, dmax + 1)) AS day FROM sp),
         obs AS (SELECT day, user_id, min(day - d) AS off
                 FROM (SELECT user_id, d, unnest(range(d, d + 30)) AS day
                       FROM ud)
                 CROSS JOIN sp WHERE day <= sp.dmax GROUP BY day, user_id),
         c AS (SELECT day,
                      CAST(sum(CASE WHEN off < 1 THEN 1 ELSE 0 END) AS BIGINT) AS dau,
                      CAST(sum(CASE WHEN off < 30 THEN 1 ELSE 0 END) AS BIGINT) AS mau
               FROM obs GROUP BY day)
         SELECT spine.day, coalesce(c.dau, 0) AS dau,
                coalesce(c.mau, 0) AS mau,
                CASE WHEN coalesce(c.mau, 0) = 0 THEN 0.0
                     ELSE round(CAST(coalesce(c.dau, 0) AS DOUBLE)
                                / coalesce(c.mau, 0), 6) END AS stickiness
         FROM spine LEFT JOIN c ON c.day = spine.day
         ORDER BY spine.day"""),
    // sessionize chain + integer-rank quantile selections
    Query("events_session_stats", sessionStats,
      sessionStatsOracleSql),
    Query("events_cumulative_users", cumulativeUsers,
      cumulativeUsersOracleSql),
    // the shift-smoothing recurrence as a native recursive CTE vs the
    // Spark side's single-partition ordered fold over the bounded spine
    Query("events_holt", eventsHolt, holtOracleSql),
    // identical integer-day RANGE frames per user
    Query("events_features", eventsFeatures, featuresOracleSql),
    // integer ppm division keeps the probability column
    // hash-matchable (DuckDB `//` ≡ Spark `DIV` on non-negatives)
    Query("events_markov", qMarkov,
      """WITH x AS (
           SELECT user_id, event_type AS from_type,
                  lead(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS to_type
           FROM events),
         t AS (SELECT from_type, to_type, count(*) AS n
               FROM x WHERE to_type IS NOT NULL GROUP BY 1, 2),
         s AS (SELECT from_type AS t_from, sum(n) AS tot FROM t GROUP BY 1)
         SELECT t.from_type, t.to_type, t.n,
                CAST((t.n * 1000000) // s.tot AS BIGINT) AS p_ppm
         FROM t JOIN s ON t.from_type = s.t_from
         ORDER BY from_type, to_type"""),
    // denominators cleared (D_i = n*S_i - i*S_n) so the CUSUM argmax
    // and truncating milli-means are exact integers on both engines
    Query("events_changepoint", qChangepoint,
      """WITH daily AS (
           SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                  count(*) AS c
           FROM events GROUP BY 1, 2),
         scored AS (
           SELECT event_type, day, c,
                  row_number() OVER w AS i,
                  CAST(sum(c) OVER w AS BIGINT) AS s,
                  CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
                  CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS sn
           FROM daily
           WINDOW w AS (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         d AS (SELECT *, n * s - i * sn AS dd FROM scored)
         SELECT event_type, day AS split_day, n AS n_days,
                abs(dd) AS dmax,
                CAST((1000 * s) // i AS BIGINT) AS mean_before_milli,
                CASE WHEN i = n THEN NULL
                     ELSE CAST((1000 * (sn - s)) // (n - i) AS BIGINT)
                END AS mean_after_milli
         FROM d
         QUALIFY row_number() OVER (PARTITION BY event_type
                                    ORDER BY abs(dd) DESC, day) = 1
         ORDER BY event_type"""),
    // fixed scoring bands (not data-driven ntiles) keep the operator
    // map-shaped; exact cents and whole-day diffs on both engines
    Query("events_rfm", qRfm,
      """WITH mx AS (SELECT date_trunc('day', max(ts)) AS max_day FROM events),
         p AS (SELECT user_id, date_trunc('day', max(ts)) AS last_day,
                      count(*) AS f,
                      CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                           AS BIGINT) AS m_cents
               FROM events WHERE event_type = 'purchase' GROUP BY user_id),
         s AS (SELECT user_id,
                      CAST(date_diff('day', last_day, max_day) AS BIGINT)
                        AS r_days,
                      f, m_cents
               FROM p CROSS JOIN mx)
         SELECT user_id, r_days, f, m_cents,
                CASE WHEN r_days <= 0 THEN 5 WHEN r_days <= 2 THEN 4
                     WHEN r_days <= 5 THEN 3 WHEN r_days <= 10 THEN 2
                     ELSE 1 END AS r_score,
                CASE WHEN f >= 20 THEN 5 WHEN f >= 15 THEN 4
                     WHEN f >= 10 THEN 3 WHEN f >= 5 THEN 2
                     ELSE 1 END AS f_score,
                CASE WHEN m_cents >= 100000 THEN 5 WHEN m_cents >= 75000 THEN 4
                     WHEN m_cents >= 50000 THEN 3 WHEN m_cents >= 25000 THEN 2
                     ELSE 1 END AS m_score,
                CAST((CASE WHEN r_days <= 0 THEN 5 WHEN r_days <= 2 THEN 4
                           WHEN r_days <= 5 THEN 3 WHEN r_days <= 10 THEN 2
                           ELSE 1 END) * 100
                     + (CASE WHEN f >= 20 THEN 5 WHEN f >= 15 THEN 4
                             WHEN f >= 10 THEN 3 WHEN f >= 5 THEN 2
                             ELSE 1 END) * 10
                     + (CASE WHEN m_cents >= 100000 THEN 5
                             WHEN m_cents >= 75000 THEN 4
                             WHEN m_cents >= 50000 THEN 3
                             WHEN m_cents >= 25000 THEN 2
                             ELSE 1 END) AS INT) AS rfm
         FROM s ORDER BY user_id"""),
    // ordered string_agg ≡ the sorted-struct collect: both assemble
    // the first-3 path in (ts, event_id) order
    Query("events_paths", (s, d) => qPaths(s, d),
      """WITH r AS (
           SELECT user_id, event_type,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn
           FROM events),
         p AS (SELECT user_id,
                      string_agg(event_type, '>' ORDER BY rn) AS path
               FROM r WHERE rn <= 3 GROUP BY user_id)
         SELECT path, count(*) AS n_users
         FROM p GROUP BY path
         ORDER BY n_users DESC, path LIMIT 20"""),
    // engine-free weekday: day = epoch_s // 86400, dow = day % 7
    // (0 = Thursday) — no locale/week-start convention to diverge
    Query("events_forecast", qForecast,
      """WITH d AS (SELECT event_type,
                  CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
                  count(*) AS cnt
           FROM events GROUP BY 1, 2)
         SELECT event_type, day % 7 AS dow, count(*) AS n_days,
                CAST(sum(cnt) AS BIGINT) AS total_events,
                CAST((1000 * sum(cnt)) // count(*) AS BIGINT) AS forecast_milli
         FROM d GROUP BY 1, 2 ORDER BY 1, 2"""),
    // gap-filled twin: absent days count as zeros; days ≡ r (mod 7)
    // in [a, b] via the closed form (b−r)//7 − (a−r+6)//7 + 1 — no
    // calendar explosion on either engine
    Query("events_forecast_filled", qForecastFilled,
      """WITH d AS (SELECT event_type,
                  CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
                  count(*) AS cnt
           FROM events GROUP BY 1, 2),
         s AS (SELECT event_type, min(day) AS a, max(day) AS b
               FROM d GROUP BY 1),
         r AS (SELECT unnest(range(7)) AS dow),
         pd AS (SELECT s.event_type, r.dow,
                  (s.b - r.dow) // 7 - (s.a - r.dow + 6) // 7 + 1
                    AS n_days_span
                FROM s CROSS JOIN r),
         agg AS (SELECT event_type, day % 7 AS dow,
                   count(*) AS n_days_present,
                   CAST(sum(cnt) AS BIGINT) AS total_events
                 FROM d GROUP BY 1, 2)
         SELECT pd.event_type, pd.dow,
                coalesce(agg.n_days_present, 0) AS n_days_present,
                coalesce(agg.total_events, 0) AS total_events,
                pd.n_days_span,
                CAST((1000 * coalesce(agg.total_events, 0)) // pd.n_days_span
                  AS BIGINT) AS forecast_milli
         FROM pd LEFT JOIN agg
           ON pd.event_type = agg.event_type AND pd.dow = agg.dow
         WHERE pd.n_days_span > 0
         ORDER BY 1, 2"""),
    // backtest: trailing-week holdout, fit on the rest, per-type MAE
    // in exact milli-units; only the non-negative abs total is ever
    // divided (div ≡ // only on non-negatives), signed bias stays a
    // total
    Query("events_forecast_eval", qForecastEval,
      """WITH d AS (SELECT event_type,
                  CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
                  count(*) AS cnt
           FROM events GROUP BY 1, 2),
         g AS (SELECT max(day) - 6 AS s FROM d),
         f AS (SELECT event_type, day % 7 AS dow,
                      CAST((1000 * sum(cnt)) // count(*) AS BIGINT) AS forecast_milli
               FROM d, g WHERE day < s GROUP BY 1, 2),
         t AS (SELECT d.event_type, d.cnt, f.forecast_milli
               FROM d, g, f
               WHERE d.day >= g.s AND f.event_type = d.event_type
                 AND f.dow = d.day % 7)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_test_days,
                CAST(sum(abs(1000 * cnt - forecast_milli)) AS BIGINT)
                  AS total_abs_err_milli,
                CAST(sum(abs(1000 * cnt - forecast_milli)) AS BIGINT)
                  // count(*) AS mae_milli,
                CAST(sum(1000 * cnt - forecast_milli) AS BIGINT)
                  AS total_err_milli
         FROM t GROUP BY event_type ORDER BY event_type"""),
  )

  /** [[qSessionize]] in plain SQL: the lag +
    * running-sum session-boundary idiom over the identical
    * (ts, event_id) window order and the 1800 s gap. */
  private val SessionizeSparkSql =
    """WITH x AS (
           SELECT user_id, ts, event_id,
                  lag(ts) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS prev_ts
           FROM events),
         y AS (
           SELECT user_id, ts,
                  sum(CASE WHEN prev_ts IS NULL
                           OR CAST(ts AS DOUBLE) - CAST(prev_ts AS DOUBLE)
                              > 1800
                           THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS session_id
           FROM x)
       SELECT user_id, session_id, count(*) AS n_events,
              CAST(floor(min(CAST(ts AS DOUBLE))) AS BIGINT) AS start_s,
              CAST(floor(max(CAST(ts AS DOUBLE))) AS BIGINT) AS end_s
       FROM y GROUP BY user_id, session_id
       ORDER BY user_id, session_id"""

  /** [[qRetention]] in plain SQL: the cohort
    * self-join formulation an SQL user writes (the DataFrame twin's
    * sorted-set element_at is a library idiom; distinct (user, day)
    * → min-day cohort → (cohort, offset) roll-up is the same
    * algebra, and the rows must hash-match it exactly). */
  private val RetentionSparkSql =
    """WITH ud AS (SELECT DISTINCT user_id, date_trunc('DAY', ts) AS day
                   FROM events),
         c AS (SELECT user_id, min(day) AS cohort_day FROM ud GROUP BY 1)
       SELECT c.cohort_day,
              CAST(datediff(u.day, c.cohort_day) AS INT) AS day_offset,
              count(*) AS n_users
       FROM ud u JOIN c ON u.user_id = c.user_id
       GROUP BY 1, 2 ORDER BY 1, 2"""

  /** q_sessionize oracle (shared verbatim with the `_sql` twin). */
  private val SessionizeOracleSql =
    """WITH x AS (
           SELECT user_id, ts, event_id,
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM events),
         y AS (
           SELECT user_id, ts,
                  CAST(sum(CASE WHEN prev_ts IS NULL
                           OR epoch(ts) - epoch(prev_ts) > 1800
                           THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS session_id
           FROM x)
         SELECT user_id, session_id, count(*) AS n_events,
                CAST(floor(min(epoch(ts))) AS BIGINT) AS start_s,
                CAST(floor(max(epoch(ts))) AS BIGINT) AS end_s
         FROM y GROUP BY user_id, session_id ORDER BY user_id, session_id"""

  /** events_retention oracle (shared verbatim with the `_sql` twin). */
  private val RetentionOracleSql =
    """WITH ud AS (SELECT DISTINCT user_id,
                          CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
                   FROM events),
         c AS (SELECT user_id, min(day) AS cohort_day FROM ud GROUP BY 1)
         SELECT c.cohort_day,
                CAST(date_diff('day', c.cohort_day, u.day) AS INT) AS day_offset,
                count(*) AS n_users
         FROM ud u JOIN c ON u.user_id = c.user_id
         GROUP BY 1, 2 ORDER BY 1, 2"""
}
