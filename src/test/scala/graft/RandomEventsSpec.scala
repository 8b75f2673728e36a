package graft

import java.sql.Timestamp

import scala.util.Random

import graft.operators.Events

/** Reference cross-checks for the two event operators with the
  * subtlest ordering contracts — the as-of join and last-touch
  * attribution. Their same-instant tie rule (the matchable side
  * sorts BEFORE the consuming side at equal ts, so a same-instant
  * purchase/touch IS visible) and attribution's 24 h freshness
  * horizon are exactly the semantics a refactor can silently flip.
  * Checked two ways: against an in-memory fold over the REAL
  * sf0.001 corpus, and on seeded random streams engineered to hit
  * the tie and horizon boundaries far more often than real data
  * would. */
class RandomEventsSpec extends SparkSpecBase {
  import spark.implicits._

  /** Latest (ts, id)-ordered candidate at-or-before the consumer —
    * the shared as-of rule of both operators. */
  private def lastAtOrBefore(cands: Seq[(Long, Long)], // (epochMs, id)
      t: Long): Option[(Long, Long)] =
    cands.filter(_._1 <= t).sortBy(identity).lastOption

  test("as-of join matches an in-memory fold over the real corpus") {
    val evs = spark.read.parquet(s"$Sf/events.parquet")
      .select("event_id", "ts", "user_id", "event_type")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2),
        r.getString(3)))
    val byUser = evs.groupBy(_._3)
    val expected = evs.filter(_._4 == "error").map { e =>
      val purchases = byUser(e._3).filter(_._4 == "purchase")
        .map(p => (p._2, p._1)).toSeq
      e._1 -> lastAtOrBefore(purchases, e._2).map(_._2)
    }.toMap
    val got = Events.qAsofJoin(spark, Sf).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(got == expected)
  }

  test("attribution matches an in-memory fold over the real corpus") {
    val evs = spark.read.parquet(s"$Sf/events.parquet")
      .select("event_id", "ts", "user_id", "event_type")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2),
        r.getString(3)))
    val byUser = evs.groupBy(_._3)
    val expected = evs.filter(_._4 == "purchase").map { p =>
      val touches = byUser(p._3)
        .filter(t => t._4 == "click" || t._4 == "view")
      val hit = lastAtOrBefore(touches.map(t => (t._2, t._1)).toSeq, p._2)
        .map { case (ts, id) => (ts, id, touches.find(_._1 == id).get._4) }
      val fresh = hit.exists(_._1 >= p._2 - 24L * 3600 * 1000)
      // unix_timestamp truncates EACH side to epoch seconds before
      // subtracting — mirror that, not a delta-then-divide
      p._1 -> (if (fresh) (hit.map(_._2), hit.get._3,
          Some(p._2 / 1000 - hit.get._1 / 1000))
        else (None, "direct", None))
    }.toMap
    val got = Events.qAttribution(spark, Sf).collect().map { r =>
      r.getLong(0) -> ((if (r.isNullAt(2)) None else Some(r.getLong(2))),
        r.getString(3),
        (if (r.isNullAt(4)) None else Some(r.getLong(4))))
    }.toMap
    assert(got == expected)
  }

  test("sessionize matches an in-memory fold; the 30min boundary is inclusive") {
    // reference fold in exact epoch-microseconds (ts.cast(double) in
    // the operator carries the full microsecond fraction)
    def us(t: Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    def refSessions(evs: Seq[(Long, Long)]) // (epochUs, event_id)
        : Seq[(Long, Long, Long, Long)] = { // (session, n, start_s, end_s)
      val sorted = evs.sortBy(identity)
      val sessions = sorted.foldLeft(Vector.empty[Vector[(Long, Long)]]) {
        case (acc, e) =>
          // STRICT >: a gap of exactly 1800s stays in-session
          if (acc.nonEmpty && e._1 - acc.last.last._1 <= 1800000000L)
            acc.init :+ (acc.last :+ e)
          else acc :+ Vector(e)
      }
      sessions.zipWithIndex.map { case (s, i) =>
        ((i + 1).toLong, s.size.toLong,
          s.map(_._1).min / 1000000L, s.map(_._1).max / 1000000L)
      }
    }
    val evs = spark.read.parquet(s"$Sf/events.parquet")
      .select("user_id", "ts", "event_id").collect()
      .map(r => (r.getLong(0), us(r.getTimestamp(1)), r.getLong(2)))
    val expected = evs.groupBy(_._1).flatMap { case (u, es) =>
      refSessions(es.map(e => (e._2, e._3)).toSeq)
        .map { case (sid, n, a, b) => (u, sid) -> ((n, a, b)) }
    }
    val got = Events.qSessionize(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == expected)
  }

  test("gap-fill matches an in-memory calendar fold over the real corpus") {
    val DayMs = 86400000L
    def dayOf(ms: Long): Long = ms - java.lang.Math.floorMod(ms, DayMs)
    def cents(v: Double): Long =
      java.math.BigDecimal.valueOf(v * 100)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    val evs = spark.read.parquet(s"$Sf/events.parquet")
      .select("user_id", "ts", "value").collect()
      .map(r => (r.getLong(0), dayOf(r.getTimestamp(1).getTime),
        cents(r.getDouble(2))))
    val expected = evs.groupBy(_._1).flatMap { case (u, es) =>
      val daily = es.groupBy(_._2).view
        .mapValues(d => (d.size.toLong, d.map(_._3).sum)).toMap
      val d0 = daily.keys.min; val d1 = daily.keys.max
      var carriedCents = 0L
      (d0 to d1 by DayMs).map { day =>
        // Option, not a -1 sentinel: a negative daily sum (possible if
        // the generator ever emits negative values) must read as a
        // PRESENT day, not a missing one
        val present = daily.get(day)
        present.foreach { case (_, c) => carriedCents = c }
        (u, day) -> ((present.map(_._1).getOrElse(0L),
          present.map(_._2 / 100.0).getOrElse(0.0),
          carriedCents / 100.0))
      }
    }
    val got = Events.qGapFill(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got == expected)
  }

  test("retention matches an in-memory cohort fold over the real corpus") {
    val DayMs = 86400000L
    def dayOf(ms: Long): Long = ms - java.lang.Math.floorMod(ms, DayMs)
    val evs = spark.read.parquet(s"$Sf/events.parquet")
      .select("user_id", "ts").collect()
      .map(r => (r.getLong(0), dayOf(r.getTimestamp(1).getTime)))
    val expected = evs.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      val days = es.map(_._2).distinct.sorted
      days.map(d => (days.head, (d - days.head) / DayMs))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = Events.qRetention(spark, Sf).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getInt(1).toLong) ->
        r.getLong(2)).toMap
    assert(got == expected)
  }

  test("attribution boundaries on engineered random streams") {
    val rnd = new Random(90210)
    for (trial <- 1 to 3) {
      // coarse ts grid (hours) + exact 24h offsets: same-instant ties
      // and horizon-boundary purchases occur constantly by design
      val base = 1700000000000L
      val rows = (0 until 120).map { i =>
        val user = rnd.nextInt(4).toLong
        val t = base + rnd.nextInt(72).toLong * 3600 * 1000
        val tpe = Seq("click", "view", "purchase", "error")(rnd.nextInt(4))
        (i.toLong, new Timestamp(t), user, tpe, rnd.nextDouble())
      }
      val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      val evs = rows.map(r => (r._1, r._2.getTime, r._3, r._4))
      val byUser = evs.groupBy(_._3)
      val expected = evs.filter(_._4 == "purchase").map { p =>
        val touches = byUser(p._3)
          .filter(t => t._4 == "click" || t._4 == "view")
        val hit = lastAtOrBefore(touches.map(t => (t._2, t._1)), p._2)
          .map { case (ts, id) => (ts, id, touches.find(_._1 == id).get._4) }
        val fresh = hit.exists(_._1 >= p._2 - 24L * 3600 * 1000)
        p._1 -> (if (fresh) (hit.map(_._2), hit.get._3)
          else (None, "direct"))
      }.toMap
      val got = Events.attributionDf(df).collect().map { r =>
        r.getLong(0) -> ((if (r.isNullAt(2)) None else Some(r.getLong(2))),
          r.getString(3))
      }.toMap
      assert(got == expected, s"trial $trial")
    }
  }
}
