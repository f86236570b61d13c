package graft

import org.apache.spark.sql.functions._
import graft.operators.Temporal

class TemporalSpec extends SparkSpec {
  import spark.implicits._

  test("rateAnomalies: a planted burst is flagged, the steady baseline is not") {
    // one event type, 10 events per 10-minute window for 12 windows,
    // except a 100-event burst in window 9 (enough trailing history)
    val rows = (0 until 12).flatMap { wIdx =>
      val k = if (wIdx == 9) 100 else 10
      (0 until k).map(i => (wIdx.toLong * 600L * 1000000L + i * 1000L, "click"))
    }
    val ev = rows.toDF("us", "event_type")
      .select(timestamp_micros($"us").as("ts"), $"event_type")
    val out = Temporal.rateAnomalies(ev, "10 minutes", trail = 6).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getBoolean(4)))
    // first 3 windows lack the np >= 3 history and are absent
    assert(out.length == 12 - 3)
    val spikes = out.filter(_._3)
    assert(spikes.map(_._1).toSeq == Seq(9L * 600),
      s"exactly the burst window must flag: ${out.toSeq}")
    assert(spikes.head._2 == 100L)
    // the window AFTER the burst (count 10, mean pulled up by the burst)
    // is a dip, not a spike — the one-sided n > mean guard holds
    assert(!out.exists(t => t._1 == 10L * 600 && t._3))
  }

  test("rateAnomalies: zero-variance history never divides by zero or flags noise") {
    val rows = (0 until 8).flatMap(w =>
      (0 until 5).map(i => (w.toLong * 600L * 1000000L + i, "buy")))
    val ev = rows.toDF("us", "event_type")
      .select(timestamp_micros($"us").as("ts"), $"event_type")
    val out = Temporal.rateAnomalies(ev, "10 minutes", trail = 6).collect()
    // identical counts: var = 0, dev = 0 -> 0 > 0 false, no flags
    assert(out.nonEmpty && out.forall(!_.getBoolean(4)))
  }

  test("scoreRates composes with the streaming census (batch/stream parity)") {
    import java.nio.file._
    val dir = Files.createTempDirectory("graft_anom_stream")
    Files.createSymbolicLink(dir.resolve("events.parquet"),
      Paths.get(s"$sf0001/events.parquet"))
    val ev = graft.core.Tables.events(spark, sf0001)
    val stream = graft.streaming.EventStream.readEvents(spark, dir.toString)
    val census = graft.streaming.EventStream.runToMemory(spark,
      graft.streaming.EventStream.windowedCounts(stream), "anom_census")
      .select($"win_start", $"event_type", $"n")
    val streamed = Temporal.scoreRates(census).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getBoolean(4))).toSet
    // batch twin over the SAME 5-minute windows
    val batchCensus = ev
      .groupBy(window($"ts", "5 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp($"w.start").as("win_start"), $"event_type", $"n")
    val batch = Temporal.scoreRates(batchCensus).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getBoolean(4))).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("sessionPaths: paths never cross a session boundary") {
    // one user: [a b c] ... 40-minute gap ... [c a b]; length-3 paths
    // within sessions are exactly a>b>c and c>a>b — never b>c>c etc.
    val rows = Seq(
      (1L, 0L, "a"), (2L, 60L, "b"), (3L, 120L, "c"),
      (4L, 120L + 2400L, "c"), (5L, 120L + 2460L, "a"), (6L, 120L + 2520L, "b"))
      .map { case (id, sec, t) => (id, 7L, sec * 1000000L, t) }
    val ev = rows.toDF("event_id", "user_id", "us", "event_type")
      .select($"event_id", $"user_id", timestamp_micros($"us").as("ts"), $"event_type")
    val out = Temporal.sessionPaths(ev, pathLen = 3, topK = 10).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out.toSet == Set(("a>b>c", 1L), ("c>a>b", 1L)),
      s"cross-boundary paths leaked: $out")
  }

  test("stickiness: long-window distinct counts the union, not the sum") {
    // user 1 active in EVERY window (sticky); users 2..4 churn through
    // one window each
    val rows = (0 until 6).flatMap { w =>
      Seq((1L, w)) ++ (if (w < 3) Seq((2L + w, w)) else Nil)
    }.zipWithIndex.map { case ((u, w), i) =>
      (i.toLong, u, w.toLong * 600L * 1000000L + (u % 7) * 1000L)
    }
    val ev = rows.toDF("event_id", "user_id", "us")
      .select($"event_id", $"user_id", timestamp_micros($"us").as("ts"))
    val out = Temporal.stickiness(ev, shortMinutes = 10, factor = 7).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // TRAILING semantics (the week ENDING at the window): window 0 has
    // no history yet -> long == short -> stickiness 1.0
    val w0 = out.find(_._1 == 0L).get
    assert(w0._2 == 2 && w0._3 == 2 && w0._4 == 1.0, s"got $w0")
    // window 5's trailing span covers all six windows: long window is the
    // UNION {1, 2, 3, 4} = 4 (not the sum of per-window counts = 9),
    // short is the sticky user alone -> 1/4
    val w5 = out.find(_._1 == 5L * 600).get
    assert(w5._2 == 1 && w5._3 == 4 && w5._4 == 0.25, s"got $w5")
  }

  test("coEngagementLift: planted association scores above 1, anti-association below") {
    // users 0..9 do A; the SAME users do B (perfect association);
    // users 10..19 do C (B and C never co-occur)
    val rows = (0 until 10).flatMap(u => Seq((u.toLong, "A"), (u.toLong, "B"))) ++
      (10 until 20).map(u => (u.toLong, "C")) ++
      Seq((0L, "C")) // one bridge user so (A,C)/(B,C) pairs exist at all
    val ev = rows.zipWithIndex.map { case ((u, t), i) => (i.toLong, u, t) }
      .toDF("event_id", "user_id", "event_type")
      .select($"event_id", $"user_id", timestamp_micros($"event_id" * 1000000L).as("ts"),
        $"event_type")
    val out = Temporal.coEngagementLift(ev).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(3))).toMap
    // n_users = 20; A-B: 10*20/(10*10) = 2.0 (perfect association)
    assert(out(("A", "B")) == 2.0, s"got $out")
    // A-C: 1*20/(10*11) ~ 0.18 << 1 (near-disjoint audiences)
    assert(out(("A", "C")) < 0.5 && out(("B", "C")) < 0.5)
  }

  test("churnHazard: censoring removes users from the risk set without a churn event") {
    val dayUs = 86400000000L
    // horizon = day 10 (user B). A: days 0-2 (churned at k=2); B: days
    // 0-10 (alive at horizon -> censored); C: days 5-10 (censored);
    // D: day 0 only (churned at k=0)
    val rows = Seq(
      (1L, Seq(0L, 1L, 2L)), (2L, Seq(0L, 10L)),
      (3L, Seq(5L, 10L)), (4L, Seq(0L)))
    val ev = rows.flatMap { case (u, days) => days.map(d => (u, d)) }
      .toDF("user_id", "day")
      .select($"user_id", timestamp_micros($"day" * dayUs + $"user_id").as("ts"))
    val out = Temporal.churnHazard(ev).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // k=0: all 4 at risk, D churns -> hazard 1/4
    assert(out(0L) == ((4L, 1L, 0.25)), s"got $out")
    // k=2: A, B, C still at risk (D left at 0); A churns -> 1/3
    assert(out(2L)._1 == 3L && out(2L)._2 == 1L)
    // k=5: B and C at risk; C is CENSORED (last day == horizon) so it
    // exits without a churn event -> hazard 0, at_risk 2
    assert(out(5L) == ((2L, 0L, 0.0)), s"got $out")
    // k=10: only B, censored -> hazard 0
    assert(out(10L) == ((1L, 0L, 0.0)))
  }

  test("rateAutocorr: alternation scores -1, a trend scores +1, gapped series drop out") {
    val winUs = 600000000L
    // 'alt': counts 10,2,10,...,10 over 9 windows -> the 8 adjacent pairs
    // split 4/4 between (10,2) and (2,10), a perfectly balanced
    // anticorrelation -> exactly -1
    val alt = (0 until 9).flatMap { w =>
      val k = if (w % 2 == 0) 10 else 2
      (0 until k).map(i => (w.toLong * winUs + i, "alt"))
    }
    // 'trend': counts 1,2,...,8 -> adjacent pairs are affine -> exactly +1
    val trend = (0 until 8).flatMap(w =>
      (0 to w).map(i => (w.toLong * winUs + i, "trend")))
    // 'gap': observed windows 0,1,5,6 -> only 2 adjacent pairs < minPairs
    val gap = Seq(0, 1, 5, 6).flatMap(w =>
      (0 until 3).map(i => (w.toLong * winUs + i, "gap")))
    val ev = (alt ++ trend ++ gap).toDF("us", "event_type")
      .select(timestamp_micros($"us").as("ts"), $"event_type")
    val out = Temporal.rateAutocorr(ev).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(out("alt") == ((8L, -1.0)), s"got $out")
    assert(out("trend") == ((7L, 1.0)), s"got $out")
    assert(!out.contains("gap"), s"gapped series must not fabricate zeros: $out")
  }

  test("autocorrFromCensus composes with the streaming census (batch/stream parity)") {
    import java.nio.file._
    val dir = Files.createTempDirectory("graft_ac_stream")
    Files.createSymbolicLink(dir.resolve("events.parquet"),
      Paths.get(s"$sf0001/events.parquet"))
    val ev = graft.core.Tables.events(spark, sf0001)
    val stream = graft.streaming.EventStream.readEvents(spark, dir.toString)
    val census = graft.streaming.EventStream.runToMemory(spark,
      graft.streaming.EventStream.windowedCounts(stream), "ac_census")
      .select(($"win_start" / 300L).cast("long").as("win"), $"event_type", $"n")
    // r1 is NULL for zero-variance series — carry it as Option
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    val streamed = rows(Temporal.autocorrFromCensus(census, minPairs = 2))
    // batch twin over the SAME 5-minute grid
    val batch = rows(Temporal.rateAutocorr(ev, windowMinutes = 5, minPairs = 2))
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("ewmaFromCensus composes with the streaming census (batch/stream parity)") {
    import java.nio.file._
    val dir = Files.createTempDirectory("graft_ewma_stream")
    Files.createSymbolicLink(dir.resolve("events.parquet"),
      Paths.get(s"$sf0001/events.parquet"))
    val ev = graft.core.Tables.events(spark, sf0001)
    val stream = graft.streaming.EventStream.readEvents(spark, dir.toString)
    val census = graft.streaming.EventStream.runToMemory(spark,
      graft.streaming.EventStream.windowedCounts(stream), "ewma_census")
      .select(($"win_start" / 300L).cast("long").as("h"), $"event_type", $"n")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val streamed = rows(Temporal.ewmaFromCensus(census))
    // batch twin over the SAME 5-minute grid
    val batch = rows(Temporal.ewmaTrend(ev, gridUs = 300000000L))
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("valueTrend: exact OLS on a planted line; constant series has NULL r2") {
    val hourUs = 3600000000L
    // 'up': y = 2x + 1 at hours 0..9 -> slope 2, intercept 1, r2 1
    // 'flat': y = 5 -> slope 0, intercept 5, r2 undefined (NULL)
    val rows = (0 until 10).flatMap(x => Seq(
      ("up", x.toLong, 2.0 * x + 1.0), ("flat", x.toLong, 5.0)))
    val ev = rows.zipWithIndex.map { case ((ty, h, v), i) => (i.toLong, ty, h, v) }
      .toDF("event_id", "event_type", "h", "value")
      .select($"event_id", $"event_type", timestamp_micros($"h" * hourUs).as("ts"), $"value")
    val out = graft.operators.Temporal.valueTrend(ev).collect()
      .map(r => (r.getString(0), (r.getDouble(2), r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    assert(out("up") == ((2.0, 1.0, Some(1.0))), s"got $out")
    assert(out("flat") == ((0.0, 5.0, None)), s"got $out")
  }

  test("chiSquareTypeDow: proportional traffic scores chi2 = 0 with the right dof") {
    val dayUs = 86400000000L
    // days 3 (Sunday, dow 0) and 4 (dow 1); type B always 2x type A ->
    // perfectly independent margins -> chi2 exactly 0, dof 1
    val rows = Seq(("A", 3L, 10), ("A", 4L, 10), ("B", 3L, 20), ("B", 4L, 20))
    val ev = rows.zipWithIndex.flatMap { case ((ty, d, k), i) =>
      (0 until k).map(j => (i.toLong * 1000 + j, ty, d * dayUs + j)) }
      .toDF("event_id", "event_type", "us")
      .select($"event_id", $"event_type", timestamp_micros($"us").as("ts"))
    val out = graft.operators.Temporal.chiSquareTypeDow(ev).collect().head
    assert(out.getDouble(0) == 0.0 && out.getLong(1) == 1L, s"got ${out.toSeq}")
  }

  test("seasonalityProfile: integer dow/hour grid, shares sum to one") {
    val dayUs = 86400000000L
    val hourUs = 3600000000L
    // day 0 = Thursday (dow 4); day 3 = Sunday (dow 0); hours explicit
    val rows = Seq((0L * dayUs + 9L * hourUs, 3), (3L * dayUs + 15L * hourUs, 1))
    val ev = rows.zipWithIndex.flatMap { case ((t, k), i) =>
      (0 until k).map(j => (i.toLong * 100 + j, t + j)) }
      .toDF("event_id", "us")
      .select($"event_id", timestamp_micros($"us").as("ts"))
    val out = graft.operators.Temporal.seasonalityProfile(ev).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3)))).toMap
    assert(out == Map((4L, 9L) -> ((3L, 0.75)), (0L, 15L) -> ((1L, 0.25))),
      s"got $out")
  }

  test("abConversionZ: a perfect-split conversion difference scores the exact z") {
    // even users purchase, odd users only click -> p=1.0 vs 0.0,
    // pooled 0.5, z = 1/sqrt(0.5*0.5*(1/5+1/5)) = sqrt(10)
    val rows = (0 until 10).map(u =>
      (u.toLong, if (u % 2 == 0) "purchase" else "click"))
    val ev = rows.zipWithIndex.map { case ((u, ty), i) => (i.toLong, u, ty) }
      .toDF("event_id", "user_id", "event_type")
      .select($"event_id", $"user_id", timestamp_micros($"event_id").as("ts"), $"event_type")
    val out = graft.operators.Temporal.abConversionZ(ev).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((5L, 5L, 5L, 0L)), s"got ${r.toSeq}")
    val expected = math.floor(1.0 / math.sqrt(0.5 * 0.5 * (1.0 / 5 + 1.0 / 5)) * 1e6 + 0.5) / 1e6
    assert(r.getDouble(4) == expected && r.getBoolean(5), s"got ${r.toSeq}")
  }

  test("revenuePareto: p90 cutoff and top-decile share on hand-built spend") {
    // users 1..10 spend 1..10 dollars: p90 cutoff = 900 cents,
    // top = the single 1000-cent user, share = 1000/5500
    val rows = (1 to 10).map(u => (u.toLong, u.toDouble))
    val ev = rows.zipWithIndex.map { case ((u, v), i) => (i.toLong, u, v) }
      .toDF("event_id", "user_id", "value")
      .select($"event_id", $"user_id", timestamp_micros($"event_id").as("ts"), $"value")
    val out = graft.operators.Temporal.revenuePareto(ev).collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2),
      out.getLong(3), out.getLong(4)) == ((900L, 10L, 1L, 5500L, 1000L)),
      s"got ${out.toSeq}")
    assert(out.getDouble(5) == math.floor(1000.0 / 5500.0 * 1e6 + 0.5) / 1e6)
  }

  test("funnelTimeQuantiles: exact stage-gap quantiles; non-converters drop out") {
    // users 1..5 sign up at 0 and click at 10i µs (gaps 10..50);
    // users 1..2 purchase 100i µs after the click
    val rows = (1 to 5).flatMap { u =>
      Seq((u.toLong, "signup", 0L), (u.toLong, "click", u * 10L)) ++
        (if (u <= 2) Seq((u.toLong, "purchase", u * 10L + u * 100L)) else Nil)
    }
    val ev = rows.zipWithIndex.map { case ((u, ty, t), i) => (i.toLong, u, ty, t) }
      .toDF("event_id", "user_id", "event_type", "t")
      .select($"event_id", $"user_id", $"event_type", timestamp_micros($"t").as("ts"))
    val out = graft.operators.Temporal.funnelTimeQuantiles(ev).collect()
      .map(r => ((r.getString(0), r.getDouble(1)), r.getDouble(2))).toMap
    assert(out == Map(
      ("signup_to_click", 0.5) -> 30.0, ("signup_to_click", 0.9) -> 50.0,
      ("click_to_purchase", 0.5) -> 100.0, ("click_to_purchase", 0.9) -> 200.0),
      s"got $out")
  }

  test("bounceRate: single-event sessions count against their entry type") {
    val halfHourUs = 1800000000L
    val rows = Seq(
      (1L, "landing", 0L),                      // session 1: bounce
      (1L, "landing", 2L * halfHourUs),         // session 2: two events
      (1L, "click", 2L * halfHourUs + 1000L),
      (2L, "promo", 0L))                        // bounce
    val ev = rows.zipWithIndex.map { case ((u, ty, t), i) => (i.toLong, u, ty, t) }
      .toDF("event_id", "user_id", "event_type", "t")
      .select($"event_id", $"user_id", $"event_type", timestamp_micros($"t").as("ts"))
    val out = graft.operators.Temporal.bounceRate(ev).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out == Map("landing" -> ((2L, 1L, 0.5)), "promo" -> ((1L, 1L, 1.0))),
      s"got $out")
  }

  test("rfmSegments: hand-built medians split the 2x2x2 census exactly") {
    val dayUs = 86400000000L
    // (user, day, value): recencies 0,1,5,0; freqs 1,2,1,3; cents
    // 100,300,50,1000 -> medians rec 0, freq 1, mon 100
    val rows = Seq(
      (1L, 10L, 1.00), (2L, 8L, 1.50), (2L, 9L, 1.50), (3L, 5L, 0.50),
      (4L, 10L, 4.00), (4L, 10L, 3.00), (4L, 10L, 3.00))
    val ev = rows.zipWithIndex.map { case ((u, d, v), i) => (i.toLong, u, d, v) }
      .toDF("event_id", "user_id", "day", "value")
      .select($"event_id", $"user_id", timestamp_micros($"day" * dayUs + $"event_id").as("ts"),
        $"value")
    val out = graft.operators.Temporal.rfmSegments(ev).collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3))).toMap
    assert(out == Map(
      (0L, 0L, 0L) -> 1L,   // u1: recent, low freq, low spend
      (1L, 1L, 1L) -> 1L,   // u2: stale, high freq, high spend
      (1L, 0L, 0L) -> 1L,   // u3: stale, low, low
      (0L, 1L, 1L) -> 1L),  // u4: recent, high, high
      s"got $out")
  }

  test("gapQuantiles: exact k-th-smallest gaps per type, never across users") {
    // user 1, type A: events with gaps 1..9 µs -> p50 = 5, p90 = 9
    val tsA = Seq.iterate(0L, 10)(identity).zipWithIndex
      .map { case (_, i) => (1 to i).map(_.toLong).sum } // 0,1,3,6,...,45
    // user 2, type A: ONE event (no gap) placed far away — if gaps leaked
    // across users it would inject a huge outlier and shift p90
    val rows = tsA.map(t => (1L, "A", t)) :+ (2L, "A", 1000000L)
    val ev = rows.zipWithIndex.map { case ((u, ty, t), i) => (i.toLong, u, ty, t) }
      .toDF("event_id", "user_id", "event_type", "t")
      .select($"event_id", $"user_id", $"event_type", timestamp_micros($"t").as("ts"))
    val out = graft.operators.Temporal.gapQuantiles(ev).collect()
      .map(r => ((r.getString(0), r.getDouble(1)), r.getDouble(2))).toMap
    assert(out == Map(("A", 0.5) -> 5.0, ("A", 0.9) -> 9.0), s"got $out")
  }

  test("robustOutliers: median/MAD flags the planted extreme, MAD=0 flags nothing") {
    // type A values 1..8 and 100: median 5.00 (500c), MAD 200c, threshold
    // 600c -> only the 100.00 row (dev 9500c) flags. Type B is constant:
    // MAD 0, strict > keeps every row unflagged (no divide, no flood).
    val rows = ((1 to 8).map(_.toDouble) :+ 100.0).map(("A", _)) ++
      Seq(("B", 10.0), ("B", 10.0), ("B", 10.0))
    val ev = rows.zipWithIndex.map { case ((ty, v), i) => (i.toLong, ty, v) }
      .toDF("event_id", "event_type", "value")
      .select($"event_id", $"event_type", $"value",
        timestamp_micros($"event_id").as("ts"))
    val out = graft.operators.Temporal.robustOutliers(ev).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    assert(out("A") == ((500L, 200L, 9L, 1L, 0.111111)), s"got ${out("A")}")
    assert(out("B") == ((1000L, 0L, 3L, 0L, 0.0)), s"got ${out("B")}")
  }

  test("lastTouchAttribution: preceding touch wins, stale and missing go to none") {
    val dayUs = 86400000000L
    // u1 view->click->purchase: click wins. u2 bare purchase: none.
    // u3 click 8 days before purchase: stale -> none. u5 one click then
    // TWO purchases: both credit the click (running last, not a join).
    val rows = Seq(
      (1L, "view", 0L), (1L, "click", 10L), (1L, "purchase", 20L),
      (2L, "purchase", 0L),
      (3L, "click", 0L), (3L, "purchase", 8L * dayUs),
      (5L, "click", 0L), (5L, "purchase", 10L), (5L, "purchase", 20L))
    val ev = rows.zipWithIndex.map { case ((u, ty, t), i) => (i.toLong, u, ty, t) }
      .toDF("event_id", "user_id", "event_type", "t")
      .select($"event_id", $"user_id", $"event_type", timestamp_micros($"t").as("ts"))
    val out = graft.operators.Temporal.lastTouchAttribution(ev).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out == Map("click" -> ((3L, 0.6)), "none" -> ((2L, 0.4))), s"got $out")
  }

  test("valueDrift: a shifted distribution scores TV 1, a stable one 0") {
    // type A moves entirely (1.00 -> 9.00) across the midpoint; type B is
    // identical in both halves
    val rows =
      (0 to 3).map(t => ("A", t.toLong, 1.00)) ++
        (10 to 13).map(t => ("A", t.toLong, 9.00)) ++
        Seq(("B", 0L, 1.00), ("B", 1L, 2.00), ("B", 10L, 1.00), ("B", 11L, 2.00))
    val ev = rows.zipWithIndex.map { case ((ty, t, v), i) => (i.toLong, ty, t, v) }
      .toDF("event_id", "event_type", "t", "value")
      .select($"event_id", $"event_type", $"value", timestamp_micros($"t").as("ts"))
    val out = graft.operators.Temporal.valueDrift(ev).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out("A") == ((4L, 4L, 1.0)), s"got ${out("A")}")
    assert(out("B") == ((2L, 2L, 0.0)), s"got ${out("B")}")
  }

  test("weeklyGrowth: contiguous weeks score, gaps yield NULL") {
    val weekUs = 7L * 86400000000L
    // weeks 0 (2 events), 1 (3 events), 3 (6 events) — week 3 follows a gap
    val rows = (0 until 2).map(i => 0L * weekUs + i) ++
      (0 until 3).map(i => 1L * weekUs + i) ++
      (0 until 6).map(i => 3L * weekUs + i)
    val ev = rows.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("event_id", "t")
      .select($"event_id", lit("A").as("event_type"), timestamp_micros($"t").as("ts"))
    val out = graft.operators.Temporal.weeklyGrowth(ev).collect()
      .map(r => r.getLong(1) -> Option(r.get(3)).map(_.asInstanceOf[Double])).toMap
    assert(out == Map(0L -> None, 1L -> Some(0.5), 3L -> None), s"got $out")
  }

  test("multiTouchAttribution: even micro-credit split, remainder to the last touch, exact conservation") {
    // u1 view+click -> 500000 each; u2 bare purchase -> none 1e6;
    // u3 error,error,view -> 333333/333333/333334 (remainder on the last)
    val rows = Seq(
      (1L, "view", 0L), (1L, "click", 10L), (1L, "purchase", 20L),
      (2L, "purchase", 0L),
      (3L, "error", 0L), (3L, "error", 1L), (3L, "view", 2L), (3L, "purchase", 3L))
    val ev = rows.zipWithIndex.map { case ((u, ty, t), i) => (i.toLong, u, ty, t) }
      .toDF("event_id", "user_id", "event_type", "t")
      .select($"event_id", $"user_id", $"event_type", timestamp_micros($"t").as("ts"))
    val out = graft.operators.Temporal.multiTouchAttribution(ev).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("view" -> 833334L, "click" -> 500000L,
      "error" -> 666666L, "none" -> 1000000L), s"got $out")
    // per-purchase conservation: 3 purchases * 1e6 micro-credits
    assert(out.values.sum == 3000000L)
  }

  test("userDiversity: exact Gini-Simpson from integer censuses") {
    // u1: 2+2 of two types -> 1 - (4+4)/16 = 0.5; u2: single-type -> 0;
    // u3: 1+1+2 -> 1 - (1+1+4)/16 = 0.625
    val rows = Seq(
      (1L, "a"), (1L, "a"), (1L, "b"), (1L, "b"),
      (2L, "a"), (2L, "a"), (2L, "a"),
      (3L, "a"), (3L, "b"), (3L, "c"), (3L, "c"))
    val ev = rows.zipWithIndex.map { case ((u, ty), i) => (i.toLong, u, ty) }
      .toDF("event_id", "user_id", "event_type")
      .select($"event_id", $"user_id", $"event_type",
        timestamp_micros($"event_id").as("ts"))
    val out = graft.operators.Temporal.userDiversity(ev).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out(1L) == ((4L, 2L, 0.5)), s"got ${out(1L)}")
    assert(out(2L) == ((3L, 1L, 0.0)), s"got ${out(2L)}")
    assert(out(3L) == ((4L, 3L, 0.625)), s"got ${out(3L)}")
  }

  test("timeDecayAttribution: fresher touches weigh 2x per day, credit conserves") {
    val dayUs = 86400000000L
    // u1: click 1 day old (W 2^6=64), view fresh (W 2^7=128), SW 192:
    // click 333333, view 666666 + remainder 1 (last touch); u2: none
    val rows = Seq(
      (1L, "click", 0L), (1L, "view", dayUs - 1), (1L, "purchase", dayUs),
      (2L, "purchase", 0L))
    val ev = rows.zipWithIndex.map { case ((u, ty, t), i) => (i.toLong, u, ty, t) }
      .toDF("event_id", "user_id", "event_type", "t")
      .select($"event_id", $"user_id", $"event_type", timestamp_micros($"t").as("ts"))
    val out = graft.operators.Temporal.timeDecayAttribution(ev).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("click" -> 333333L, "view" -> 666667L, "none" -> 1000000L),
      s"got $out")
    assert(out.values.sum == 2000000L)
  }

  test("attribution: a 100k-event bot user stays window-bounded (RANGE frame)") {
    // One user owns 100k events spread over ~1000 days — under the old
    // unbounded rowsBetween frame every late purchase materialized the
    // FULL history (O(history²) work); the RANGE frame keeps each list
    // to the ~700 touches inside the 7-day horizon. The assertion is
    // correctness (conservation + per-window counts); the wall-clock
    // proof lived in AuditScale's bot mode (at 94bd464).
    val minuteUs = 60000000L
    val spacing = 864 * minuteUs / 60 // one event every 14.4 min -> 100/day
    val n = 100000
    val rows = (0 until n).map { i =>
      val ty = if (i % 1000 == 999) "purchase" else if (i % 2 == 0) "view" else "click"
      (i.toLong, 1L, ty, i * spacing)
    }
    val ev = rows.toDF("event_id", "user_id", "event_type", "t")
      .select($"event_id", $"user_id", $"event_type", timestamp_micros($"t").as("ts"))
      .repartition(8)
    val out = graft.operators.Temporal.multiTouchAttribution(ev).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 100 purchases, exact conservation of 10^6 micro-credits each
    assert(out.values.sum == 100L * 1000000L, s"got $out")
    assert(!out.contains("none"))
    val decay = graft.operators.Temporal.timeDecayAttribution(ev).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(decay.values.sum == 100L * 1000000L, s"got $decay")
  }

  test("attribution: maxDailyTouches caps an in-horizon bot burst") {
    val dayUs = 86400000000L
    // u1 fires 1000 touches inside one day, then purchases: uncapped the
    // split is across 1000; capped at 3/day only the 3 MOST RECENT
    // touches survive, so the split is 333333/333333/333334.
    val rows = (0 until 1000).map(i => (i.toLong, 1L, "view", i * 1000L)) :+
      (1000L, 1L, "purchase", dayUs - 1)
    val ev = rows.toDF("event_id", "user_id", "event_type", "t")
      .select($"event_id", $"user_id", $"event_type", timestamp_micros($"t").as("ts"))
    val uncapped = graft.operators.Temporal.multiTouchAttribution(ev).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(uncapped == Map("view" -> 1000000L), s"got $uncapped")
    val capped = graft.operators.Temporal
      .multiTouchAttribution(ev, maxDailyTouches = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(capped == Map("view" -> 1000000L), s"got $capped")
    // the cap is visible through decay weights: with 3 survivors all
    // age-0 the decay census equals the even split; with 1000 it also
    // does (same type) — so assert via a mixed-type burst instead
    val rows2 = (0 until 10).map(i =>
      (i.toLong, 2L, if (i < 9) "view" else "click", i * 1000L)) :+
      (10L, 2L, "purchase", 20000L)
    val ev2 = rows2.toDF("event_id", "user_id", "event_type", "t")
      .select($"event_id", $"user_id", $"event_type", timestamp_micros($"t").as("ts"))
    val capped2 = graft.operators.Temporal
      .multiTouchAttribution(ev2, maxDailyTouches = 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // survivors = 2 most recent touches: click(id9), view(id8) -> 500000 each
    assert(capped2 == Map("view" -> 500000L, "click" -> 500000L), s"got $capped2")
  }

  test("timeDecayAttribution: oversized window fails loudly, not wrapped") {
    val ev = Seq((0L, 1L, "purchase", 0L))
      .toDF("event_id", "user_id", "event_type", "t")
      .select($"event_id", $"user_id", $"event_type", timestamp_micros($"t").as("ts"))
    intercept[IllegalArgumentException] {
      graft.operators.Temporal.timeDecayAttribution(ev, windowDays = 63)
    }
  }

  test("cohortLtv: per-cohort cumulative cents and integer-division LTV") {
    val weekUs = 7L * 86400000000L
    // cohort 0: u1 (1.00 wk0, 2.00 wk1) + u2 (3.00 wk0); cohort 1: u3 (5.00)
    val rows = Seq(
      (1L, 0L, 1.00), (1L, 1L, 2.00), (2L, 0L, 3.00), (3L, 1L, 5.00))
    val ev = rows.zipWithIndex.map { case ((u, w, v), i) => (i.toLong, u, w, v) }
      .toDF("event_id", "user_id", "w", "value")
      .select($"event_id", $"user_id", $"value",
        timestamp_micros($"w" * weekUs + $"event_id").as("ts"))
    val out = graft.operators.Temporal.cohortLtv(ev).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out((0L, 0L)) == ((2L, 400L, 400L, 200L)), s"got $out")
    assert(out((0L, 1L)) == ((2L, 200L, 600L, 300L)), s"got $out")
    assert(out((1L, 0L)) == ((1L, 500L, 500L, 500L)), s"got $out")
  }

  test("ewmaTrend: exact halving weights, gaps contribute zero") {
    val hourUs = 3600000000L
    // type A: 2 events @h0, 4 @h1, 8 @h3 (h2 missing)
    val rows = Seq.fill(2)(0L) ++ Seq.fill(4)(1L) ++ Seq.fill(8)(3L)
    val ev = rows.zipWithIndex.map { case (h, i) => (i.toLong, h * hourUs) }
      .toDF("event_id", "t")
      .select($"event_id", lit("A").as("event_type"), timestamp_micros($"t").as("ts"))
    val out = graft.operators.Temporal.ewmaTrend(ev).collect()
      .map(r => r.getLong(1) -> r.getDouble(3)).toMap
    // h0: 2*128/256 = 1.0; h1: (4*128 + 2*64)/256 = 2.5;
    // h3: (8*128 + 4*32 + 2*16)/256 = 4.625 (the h2 hole adds nothing)
    assert(out == Map(0L -> 1.0, 1L -> 2.5, 3L -> 4.625), s"got $out")
  }

  test("fanoBurstiness: bursty types score high, steady types near zero") {
    val hourUs = 3600000000L
    // global grid hours 0..3 (m=4). A: counts 2,4,0,8 -> F = 2.5;
    // B: 1 per hour -> F = 0
    val rows =
      Seq.fill(2)(("A", 0L)) ++ Seq.fill(4)(("A", 1L)) ++ Seq.fill(8)(("A", 3L)) ++
        (0L to 3L).map(h => ("B", h))
    val ev = rows.zipWithIndex.map { case ((ty, h), i) => (i.toLong, ty, h * hourUs) }
      .toDF("event_id", "event_type", "t")
      .select($"event_id", $"event_type", timestamp_micros($"t").as("ts"))
    val out = graft.operators.Temporal.fanoBurstiness(ev).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // A: m=4, sc=14, scc=84 -> (336-196)/56 = 2.5
    assert(out("A") == ((3L, 2.5)), s"got $out")
    assert(out("B") == ((4L, 0.0)), s"got $out")
  }

  test("cusumChangePoint: a level shift scores at the shift's far edge, stable series ~0") {
    val hourUs = 3600000000L
    // A: counts 1,1,1,5,5,5 -> m1=3, s1=3, T_k = 3*run_k - 3k peaks at
    // k=6 (T=36) -> cusum 12.0 @ hour 5; B: constant 2 -> T=0, tie
    // resolves to the EARLIEST hour
    val rows =
      (0L to 2L).map(h => ("A", h, 1)) ++ (3L to 5L).map(h => ("A", h, 5)) ++
        (0L to 3L).map(h => ("B", h, 2))
    val ev = rows.flatMap { case (ty, h, c) => Seq.fill(c)((ty, h)) }
      .zipWithIndex.map { case ((ty, h), i) => (i.toLong, ty, h * hourUs) }
      .toDF("event_id", "event_type", "t")
      .select($"event_id", $"event_type", timestamp_micros($"t").as("ts"))
    val out = graft.operators.Temporal.cusumChangePoint(ev).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out("A") == ((6L, 5L, 12.0)), s"got $out")
    assert(out("B") == ((4L, 0L, 0.0)), s"got $out")
  }

  test("segmentMigration: per-half medians, arrivals and churners as 'absent'") {
    val dayUs = 86400000000L
    // span days 0..9 -> mid 5. h0: u1 (1 ev, $1), u2 (3 ev, $3) -> med
    // freq 1, med mon 100 -> u1 F-M-, u2 F+M+. h1: u2 (1 ev, $1),
    // u3 (2 ev, $5) -> u2 F-M-, u3 F+M+. u1 churns, u3 arrives.
    val rows = Seq(
      (1L, 0L, 1.00),
      (2L, 1L, 1.00), (2L, 2L, 1.00), (2L, 3L, 1.00),
      (2L, 6L, 1.00),
      (3L, 7L, 2.50), (3L, 9L, 2.50))
    val ev = rows.zipWithIndex.map { case ((u, d, v), i) => (i.toLong, u, d, v) }
      .toDF("event_id", "user_id", "d", "value")
      .select($"event_id", $"user_id", $"value",
        timestamp_micros($"d" * dayUs).as("ts"))
    val out = graft.operators.Temporal.segmentMigration(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out == Map(
      ("F-M-", "absent") -> 1L,
      ("F+M+", "F-M-") -> 1L,
      ("absent", "F+M+") -> 1L), s"got $out")
  }

  test("rateCorrelation: co-moving types score +1, opposing types -1, sparse pairs drop") {
    val hourUs = 3600000000L
    // A and B move together (1,2,3)/(2,4,6); C moves against A (3,2,1);
    // D shares only 2 hours with anyone -> every D pair drops (m < 3)
    def mk(ty: String, perHour: Seq[Int]) = perHour.zipWithIndex.flatMap {
      case (c, h) => Seq.fill(c)((ty, h.toLong))
    }
    val rows = mk("A", Seq(1, 2, 3)) ++ mk("B", Seq(2, 4, 6)) ++
      mk("C", Seq(3, 2, 1)) ++ mk("D", Seq(1, 1))
    val ev = rows.zipWithIndex.map { case ((ty, h), i) => (i.toLong, ty, h * hourUs) }
      .toDF("event_id", "event_type", "t")
      .select($"event_id", $"event_type", timestamp_micros($"t").as("ts"))
    val out = graft.operators.Temporal.rateCorrelation(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(out(("A", "B")) == 1.0, s"got $out")
    assert(out(("A", "C")) == -1.0, s"got $out")
    assert(!out.keySet.exists(p => p._1 == "D" || p._2 == "D"), s"got $out")
  }

  test("peakConcentration: a burst type concentrates, a steady type spreads") {
    val hourUs = 3600000000L
    // A: 10 in one hour + 1 in each of 9 others -> top3 = 12/19;
    // B: 1 per hour over 6 hours -> top3 = 3/6 = 0.5
    val rows = Seq.fill(10)(("A", 0L)) ++ (1L to 9L).map(h => ("A", h)) ++
      (0L to 5L).map(h => ("B", h))
    val ev = rows.zipWithIndex.map { case ((ty, h), i) => (i.toLong, ty, h * hourUs) }
      .toDF("event_id", "event_type", "t")
      .select($"event_id", $"event_type", timestamp_micros($"t").as("ts"))
    val out = graft.operators.Temporal.peakConcentration(ev).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out("A") == ((10L, math.floor(12.0 / 19.0 * 1e6 + 0.5) / 1e6)), s"got $out")
    assert(out("B") == ((6L, 0.5)), s"got $out")
  }

  test("growthAccounting: new/retained/resurrected/churned ledger telescopes") {
    val weekUs = 7L * 86400000000L
    // u1 active w0,w1,w3; u2 active w1; u3 active w3 (horizon w3)
    // w0: u1 new. w1: u1 retained, u2 new. w2: u1+u2 churn (nobody
    // active). w3: u1 resurrected, u3 new; no churn (w4 > horizon)
    val rows = Seq((1L, 0L), (1L, 1L), (1L, 3L), (2L, 1L), (3L, 3L))
    val ev = rows.zipWithIndex.map { case ((u, w), i) => (i.toLong, u, w * weekUs) }
      .toDF("event_id", "user_id", "t")
      .select($"event_id", $"user_id", lit("A").as("event_type"),
        timestamp_micros($"t").as("ts"))
    val out = graft.operators.Temporal.growthAccounting(ev).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(0L) == ((1L, 0L, 0L, 0L)), s"got $out")
    assert(out(1L) == ((1L, 1L, 0L, 0L)), s"got $out")
    assert(out(2L) == ((0L, 0L, 0L, 2L)), s"got $out")
    assert(out(3L) == ((1L, 0L, 1L, 0L)), s"got $out")
  }

  test("engagementGini: equality scores 0, a planted concentration matches the closed form") {
    val ev1 = (1L to 4L).flatMap(u => Seq.fill(3)(u)).zipWithIndex
      .map { case (u, i) => (i.toLong, u) }
      .toDF("event_id", "user_id")
      .select($"event_id", $"user_id", timestamp_micros($"event_id").as("ts"))
    val g1 = graft.operators.Temporal.engagementGini(ev1).head()
    assert(g1.getLong(0) == 4L && g1.getLong(1) == 12L && g1.getDouble(2) == 0.0)
    // counts (1,1,1,7): sorted ranks give S = 1+2+3+4*7 = 34;
    // G = (2*34 - 5*10) / (4*10) = 18/40 = 0.45
    val ev2 = (Seq.fill(1)(1L) ++ Seq.fill(1)(2L) ++ Seq.fill(1)(3L) ++
      Seq.fill(7)(4L)).zipWithIndex.map { case (u, i) => (i.toLong, u) }
      .toDF("event_id", "user_id")
      .select($"event_id", $"user_id", timestamp_micros($"event_id").as("ts"))
    val g2 = graft.operators.Temporal.engagementGini(ev2).head()
    assert(g2.getDouble(2) == 0.45, s"got $g2")
  }

  test("dowOutlierDays: a day is an outlier only against ITS weekday") {
    val dayUs = 86400000000L
    // Thursdays (epoch day 0, 7, 14): counts 10, 10, 16 -> median 10,
    // spike iff 2n > 30: day 14 (32 > 30) spikes; Fridays (1, 8): 2, 2
    // -> no spike even though Thursday counts dwarf them
    val rows = Seq((0L, 10), (7L, 10), (14L, 16), (1L, 2), (8L, 2))
    val ev = rows.flatMap { case (d, c) => Seq.fill(c)(d) }
      .zipWithIndex.map { case (d, i) => (i.toLong, d * dayUs) }
      .toDF("event_id", "t")
      .select($"event_id", lit("A").as("event_type"),
        timestamp_micros($"t").as("ts"))
    val out = graft.operators.Temporal.dowOutlierDays(ev).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getBoolean(4))))
      .toMap
    assert(out(0L) == ((10L, 10L, false)), s"got $out")
    assert(out(14L) == ((16L, 10L, true)), s"got $out")
    assert(out(1L) == ((2L, 2L, false)), s"got $out")
  }

  test("revenueDecomposition: volume and price effects telescope to the revenue delta") {
    val dayUs = 86400000000L
    // period 0: 10 units @ $1.00 = 1000c; period 1: 20 units @ $1.50 =
    // 3000c. vol = (20-10)*100 = 1000c; price = (150-100)*20 = 1000c;
    // d_rev = 2000c = vol + price exactly
    val li = Seq(
      (1L, 10.0, 10.00), (2L, 20.0, 30.00))
      .toDF("l_orderkey", "l_quantity", "l_extendedprice")
      .withColumn("l_discount", lit(0.0))
    val ord = Seq((1L, 0L), (2L, 35L)).toDF("o_orderkey", "d")
      .select($"o_orderkey", timestamp_micros($"d" * dayUs).as("o_orderdate"))
    val out = graft.operators.Temporal.revenueDecomposition(li, ord).collect()
      .map(r => r.getLong(0) -> r).toMap
    val p1 = out(1L)
    assert(p1.getLong(3) == 2000L, s"got $p1")
    assert(p1.getLong(4) == 1000L && p1.getLong(5) == 1000L, s"got $p1")
    assert(p1.getLong(4) + p1.getLong(5) == p1.getLong(3))
    assert(out(0L).isNullAt(3)) // first period has no predecessor
  }

  test("touchCoverage: last-touch ages land in the right horizon bands") {
    val hourUs = 3600000000L
    val dayUs = 86400000000L
    // u1: touch then purchase 30min later (within_1h); u2: touch then
    // purchase 2d later (within_7d); u3: bare purchase (no_touch);
    // u4: touch 30d stale (older)
    val rows = Seq(
      (1L, "view", 0L), (1L, "purchase", hourUs / 2),
      (2L, "view", 0L), (2L, "purchase", 2 * dayUs),
      (3L, "purchase", 0L),
      (4L, "view", 0L), (4L, "purchase", 30 * dayUs))
    val ev = rows.zipWithIndex.map { case ((u, ty, t), i) => (i.toLong, u, ty, t) }
      .toDF("event_id", "user_id", "event_type", "t")
      .select($"event_id", $"user_id", $"event_type", timestamp_micros($"t").as("ts"))
    val out = graft.operators.Temporal.touchCoverage(ev).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("within_1h" -> 1L, "within_7d" -> 1L,
      "no_touch" -> 1L, "older" -> 1L), s"got $out")
  }

  test("conversionByDecile: buyers concentrate in the planted high-activity decile") {
    // 20 users: activity 1..20; only the top-2 (19, 20 events) purchase
    val rows = (1L to 20L).flatMap { u =>
      (1L to u).map(i => (u, if (u >= 19 && i == 1) "purchase" else "view", u * 100 + i))
    }
    val ev = rows.zipWithIndex.map { case ((u, ty, t), i) => (i.toLong, u, ty, t) }
      .toDF("event_id", "user_id", "event_type", "t")
      .select($"event_id", $"user_id", $"event_type", timestamp_micros($"t").as("ts"))
    val out = graft.operators.Temporal.conversionByDecile(ev).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out.values.map(_._1).sum == 20L)
    assert(out.values.map(_._2).sum == 2L)
    // the top decile (9: n_events > 18) holds exactly the two buyers
    assert(out(9L) == ((2L, 2L, 1.0)), s"got $out")
    assert(out.filter(_._1 < 9L).values.forall(_._2 == 0L), s"got $out")
  }

  test("purchaseAbsorption: the geometric closed form on a two-state chain") {
    // u1: view -> purchase; u2: view -> view. P(view->purchase) = 0.5,
    // so 4-step absorption from view = 1 - 0.5^4 = 0.9375; purchase = 1
    val rows = Seq(
      (1L, "view", 0L), (1L, "purchase", 1L),
      (2L, "view", 0L), (2L, "view", 1L))
    val ev = rows.zipWithIndex.map { case ((u, ty, t), i) => (i.toLong, u, ty, t) }
      .toDF("event_id", "user_id", "event_type", "t")
      .select($"event_id", $"user_id", $"event_type", timestamp_micros($"t").as("ts"))
    val out = graft.operators.Temporal.purchaseAbsorption(ev).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out == Map("view" -> 0.9375, "purchase" -> 1.0), s"got $out")
  }

  test("purchaseAbsorption: null event types follow SQL join semantics (r14 driver-fold pin)") {
    // u1: view -> NULL -> purchase; u2: view -> view. The lag filter drops
    // the NULL->purchase transition (prev IS NULL is indistinguishable from
    // first-of-user), and view's mass into the NULL type matches no state
    // row (SQL null key), so NOTHING ever reaches purchase: every
    // non-purchase type must read 0. This pins the driver fold's
    // null-next skip and null-type v₀ against the old join spelling.
    val rows = Seq(
      (1L, "view", 0L), (1L, null.asInstanceOf[String], 1L), (1L, "purchase", 2L),
      (2L, "view", 0L), (2L, "view", 1L))
    val ev = rows.zipWithIndex.map { case ((u, ty, t), i) => (i.toLong, u, ty, t) }
      .toDF("event_id", "user_id", "event_type", "t")
      .select($"event_id", $"user_id", $"event_type", timestamp_micros($"t").as("ts"))
    val out = graft.operators.Temporal.purchaseAbsorption(ev).collect()
      .map(r => Option(r.getString(0)) -> r.getDouble(1)).toMap
    assert(out == Map(Option("view") -> 0.0, Option.empty[String] -> 0.0,
      Option("purchase") -> 1.0), s"got $out")
  }

  test("purchaseAbsorption releases superseded rounds: live handles O(1) in steps (r10 d4)") {
    // the r10 driver bench artifact showed 39–42 live RDD handles piling at
    // q217 (7 unreleased cuts per call × retry attempts, dead-awaiting-GC);
    // after the release fix a call must leave exactly ONE live handle (the
    // returned final round) regardless of the step count
    val rows = Seq(
      (1L, "view", 0L), (1L, "purchase", 1L),
      (2L, "view", 0L), (2L, "view", 1L))
    val ev = rows.zipWithIndex.map { case ((u, ty, t), i) => (i.toLong, u, ty, t) }
      .toDF("event_id", "user_id", "event_type", "t")
      .select($"event_id", $"user_id", $"event_type", timestamp_micros($"t").as("ts"))
    val before = spark.sparkContext.getPersistentRDDs.size
    graft.operators.Temporal.purchaseAbsorption(ev, steps = 12).collect()
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 1,
      s"expected <= 1 surviving handle (the final round), got ${after - before}")
  }

  test("shipLagQuantiles: exact day-gap order statistics per priority") {
    val dayUs = 86400000000L
    val orders = Seq((1L, 0L, "1-URGENT"))
      .toDF("o_orderkey", "t", "o_orderpriority")
      .select($"o_orderkey", timestamp_micros($"t").as("o_orderdate"),
        $"o_orderpriority")
    val li = (1L to 9L).map(d => (1L, d * dayUs)).toDF("l_orderkey", "t")
      .select($"l_orderkey", timestamp_micros($"t").as("l_shipdate"))
    import graft.core.Lineage.CutOps
    val gaps = orders.join(li, $"o_orderkey" === $"l_orderkey")
      .select($"o_orderpriority",
        expr(s"(unix_micros(cast(l_shipdate as timestamp)) - " +
          s"unix_micros(cast(o_orderdate as timestamp))) div $dayUs").as("lag_days"))
      .cutLineage()
    val out = graft.operators.Sketches
      .bisectQuantiles(gaps, "lag_days", "o_orderpriority", Seq(0.5, 0.9), scale = 1)
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    assert(out == Map(0.5 -> 5.0, 0.9 -> 9.0), s"got $out")
  }
}
