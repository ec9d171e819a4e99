package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{count, lit, sum}
import graft.operators.TemporalOps

/** Edge semantics of the composed as-of join: equal-timestamp inclusion,
  * no-match nulls, per-key isolation, latest-wins.
  */
class TemporalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(min: Long) = new java.sql.Timestamp(min * 60000)

  test("asofJoin picks latest right row at-or-before each left row, per key") {
    val left = Seq(
      (100L, 1L, ts(10)), // after r1, before r2 → r1
      (101L, 1L, ts(20)), // exactly at r2 → r2 (inclusive)
      (102L, 1L, ts(5)),  // before any right row → null
      (103L, 2L, ts(50)), // other key → its own right row only
      (104L, 3L, ts(50))  // key with no right rows → null
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (900L, 1L, ts(8)),
      (901L, 1L, ts(20)),
      (902L, 2L, ts(1))
    ).toDF("event_id", "user_id", "ts")
    val out = TemporalOps.asofJoin(left, right, "user_id", "ts", "ts",
        Map("event_id" -> "match_id"))
      .select($"event_id", $"match_id").as[(Long, Option[Long])]
      .collect().toMap
    assert(out(100L).contains(900L))
    assert(out(101L).contains(901L))
    assert(out(102L).isEmpty)
    assert(out(103L).contains(902L))
    assert(out(104L).isEmpty)
  }

  test("asofJoin carries the matched row atomically and tie-breaks duplicate right ts") {
    val left = Seq((1L, 1L, ts(30))).toDF("event_id", "user_id", "ts")
    // matched right row (latest, highest tie-break) has a NULL payload:
    // it must NOT be back-filled from the older non-null row
    val right = Seq(
      (10L, 1L, ts(10), Option("old")),
      (20L, 1L, ts(20), Option.empty[String]),
      (21L, 1L, ts(20), Option.empty[String]) // duplicate (key, ts)
    ).toDF("rid", "user_id", "ts", "payload")
    val out = TemporalOps.asofJoin(left, right, "user_id", "ts", "ts",
        Map("rid" -> "match_id", "payload" -> "match_payload"))
      .select($"match_id", $"match_payload").as[(Long, Option[String])]
      .collect().toSeq
    // deterministic winner: max struct among the ts(20) duplicates → rid 21,
    // and its NULL payload stays NULL (no back-fill from rid 10's "old")
    assert(out == Seq((21L, None)))
  }

  test("batch sessionization: exact 30-minute gap continues, a second more splits") {
    val dir = TestSpark.scratch("sessionize-batch")
    def ns(min: Long): Long = min * 60000L * 1000000L // driver fixtures carry nanos
    val rows = Seq(
      (1L, 7L, ns(0), 1.0),   // session 1
      (2L, 7L, ns(30), 2.0),  // exactly 30 min later → same session
      (3L, 7L, ns(61), 3.0),  // 31 min later → new session
      (4L, 8L, ns(5), 4.0)    // other user → own session
    ).toDF("event_id", "user_id", "ts", "value")
      .withColumn("event_type", lit("click"))
      .withColumn("props", lit("{}"))
    rows.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = TemporalOps.q46Sessionize(spark, dir)
      .select($"user_id", $"session_idx", $"n_events")
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((7L, 1L, 2L), (7L, 2L, 1L), (8L, 1L, 1L)))
  }

  test("banded range join plans as an equi hash join, never a nested loop") {
    val plan = TemporalOps.q44RangeJoin(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.linesIterator.take(5).mkString("\n"))
    assert(!plan.contains("CartesianProduct"))
    val rows = TemporalOps.q44RangeJoin(spark, TestSpark.sf)
    // band expansion must not duplicate signups
    assert(rows.groupBy("event_id").count().filter($"count" > 1).isEmpty)
  }

  test("q52 keeps the earliest event per user, type and 5-minute bucket") {
    // 300 s buckets: [0,300) and [300,600). user 1 has three clicks in
    // the first bucket (two tied at t=10) and one in the second; user 2's
    // click and user 1's view each sit alone in their own bucket.
    val dir = TestSpark.scratch("q52-events")
    def ns(s: Long): Long = s * 1000000000L
    Seq(
      (5L, 1L, ns(10), "click"),  // tie at t=10 → one of 4/5 kept
      (4L, 1L, ns(10), "click"),
      (6L, 1L, ns(299), "click"), // same bucket → dropped
      (7L, 1L, ns(300), "click"), // next bucket boundary → kept
      (8L, 2L, ns(10), "click"),  // other user → kept
      (9L, 1L, ns(20), "view"))   // other type → kept
      .toDF("event_id", "user_id", "ts", "event_type")
      .withColumn("value", lit(0.0)).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = TemporalOps.q52TemporalDedup(spark, dir)
      .as[(String, Long, Long, Double)].collect().toList
    assert(out === List(("click", 5L, 3L, 3.0 / 5), ("view", 1L, 1L, 1.0)))
  }

  test("funnel requires strictly increasing first-touch times per step") {
    val dir = TestSpark.scratch("funnel-events")
    def ns(min: Long): Long = min * 60000L * 1000000L
    // u1 fully ordered; u2 clicked BEFORE viewing (stops at view);
    // u3 never signed up (reaches nothing); u4 signup/view tie (strict >
    // fails → stops at signup)
    val rows = Seq(
      (1L, 1L, ns(0), "signup"), (2L, 1L, ns(10), "view"),
      (3L, 1L, ns(20), "click"), (4L, 1L, ns(30), "purchase"),
      (5L, 2L, ns(0), "signup"), (6L, 2L, ns(10), "view"),
      (7L, 2L, ns(5), "click"),
      (8L, 3L, ns(0), "view"),
      (9L, 4L, ns(0), "signup"), (10L, 4L, ns(0), "view"))
      .toDF("event_id", "user_id", "ts", "event_type")
      .withColumn("value", lit(0.0)).withColumn("props", lit("{}"))
    rows.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = TemporalOps.q80Funnel(spark, dir)
      .select($"step", $"event_type", $"n_reached", $"conversion")
      .as[(Long, String, Long, Option[Double])].collect().toList
    assert(out === List(
      (1L, "signup", 3L, Some(3.0 / 4)),
      (2L, "view", 2L, Some(2.0 / 3)),
      (3L, "click", 1L, Some(1.0 / 2)),
      (4L, "purchase", 1L, Some(1.0))))
  }

  test("anomaly z-scores against the trailing 24h with densified zero hours") {
    val dir = TestSpark.scratch("anomaly-events")
    def ns(hour: Long, i: Long): Long = (hour * 3600L + i) * 1000000000L
    // hours 0..23: one click each EXCEPT hour 7 (empty — must densify
    // to cnt 0); hour 24: 10 clicks. Baseline for hour 24: n=24,
    // sum=23, sumsq=23 → z = (24·10−23)/√(24·23−23²) = 217/√23
    val rows = ((0L to 23L).filter(_ != 7L).map(h => (h, 0L)) ++
      (0L until 10L).map(i => (24L, i))).zipWithIndex.map {
      case ((h, i), id) => (id.toLong, 1L, ns(h, i), "click")
    }
    rows.toDF("event_id", "user_id", "ts", "event_type")
      .withColumn("value", lit(0.0)).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = TemporalOps.q81Anomaly(spark, dir)
      .select($"hour_id", $"cnt", $"win_n", $"win_sum", $"win_sumsq",
        $"z", $"is_anomaly")
      .as[(Long, Long, Long, Long, Long, Option[Double], Boolean)]
      .collect().toList
    assert(out.size === 25) // hours 0..24, including the empty hour 7
    val h7 = out.find(_._1 == 7L).get
    assert(h7._2 === 0L && !h7._7)
    // warmup rows (window < 24) never score
    assert(out.filter(_._1 < 24L).forall(r => r._6.isEmpty && !r._7))
    val h24 = out.find(_._1 == 24L).get
    assert(h24 === ((24L, 10L, 24L, 23L, 23L,
      Some((24.0 * 10 - 23) / math.sqrt(24.0 * 23 - 23.0 * 23)), true)))
  }

  test("cohort retention: cells, sizes, and ratios from planted first-weeks") {
    val dir = TestSpark.scratch("cohort-events")
    def ns(week: Long, i: Long): Long = (week * 604800L + i) * 1000000000L
    // u1 joins week0, returns weeks 1 and 3 (twice in week1 — distinct
    // weeks must count once); u2 joins week0 and never returns; u3 joins
    // week1, returns week2
    val rows = Seq(
      (1L, ns(0, 1)), (1L, ns(1, 2)), (1L, ns(1, 3)), (1L, ns(3, 4)),
      (2L, ns(0, 5)),
      (3L, ns(1, 6)), (3L, ns(2, 7)))
    rows.zipWithIndex.map { case ((u, t), id) => (id.toLong, u, t, "view") }
      .toDF("event_id", "user_id", "ts", "event_type")
      .withColumn("value", lit(0.0)).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = TemporalOps.q83CohortRetention(spark, dir)
      .as[(Long, Long, Long, Long, Double)].collect().toList
    assert(out === List(
      (0L, 0L, 2L, 2L, 1.0), (0L, 1L, 1L, 2L, 0.5), (0L, 3L, 1L, 2L, 0.5),
      (1L, 0L, 1L, 1L, 1.0), (1L, 1L, 1L, 1L, 1.0)))
  }

  test("SCD2: runs collapse to validity intervals; re-adopted value opens a new version") {
    val dir = TestSpark.scratch("scd2-orders")
    def day(d: Int) = new java.sql.Timestamp(d * 86400000L)
    // customer 1: HIGH,HIGH,LOW,HIGH — the return to HIGH is version 3,
    // not a merge with version 1; customer 2: single open-ended run
    Seq(
      (10L, 1L, day(1), "HIGH"), (11L, 1L, day(2), "HIGH"),
      (12L, 1L, day(3), "LOW"), (13L, 1L, day(4), "HIGH"),
      (20L, 2L, day(1), "MED"))
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      .withColumn("o_orderstatus", lit("O"))
      .withColumn("o_totalprice", lit(1.0))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = TemporalOps.q84Scd2(spark, dir)
      .select($"o_custkey", $"version", $"priority", $"valid_from",
        $"valid_to", $"n_orders", $"is_current")
      .as[(Long, Long, String, java.sql.Timestamp, Option[java.sql.Timestamp], Long, Boolean)]
      .collect().toList
    assert(out === List(
      (1L, 1L, "HIGH", day(1), Some(day(3)), 2L, false),
      (1L, 2L, "LOW", day(3), Some(day(4)), 1L, false),
      (1L, 3L, "HIGH", day(4), None, 1L, true),
      (2L, 1L, "MED", day(1), None, 1L, true)))
  }

  test("session paths: trigrams never cross the 30-minute session boundary") {
    val dir = TestSpark.scratch("paths-events")
    def ns(min: Long): Long = min * 60000000000L
    // u1 session 1: a,b,c,d (trigrams a>b>c, b>c>d); 31-min gap; u1
    // session 2: a,b,c (trigram a>b>c). Cross-boundary c>d>a, d>a>b
    // must NOT appear. u2: a,b only — too short for any trigram.
    val rows = Seq(
      (1L, ns(0), "a"), (1L, ns(1), "b"), (1L, ns(2), "c"), (1L, ns(3), "d"),
      (1L, ns(35), "a"), (1L, ns(36), "b"), (1L, ns(37), "c"),
      (2L, ns(0), "a"), (2L, ns(1), "b"))
    rows.zipWithIndex.map { case ((u, t, ty), id) => (id.toLong, u, t, ty) }
      .toDF("event_id", "user_id", "ts", "event_type")
      .withColumn("value", lit(0.0)).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = TemporalOps.q88SessionPaths(spark, dir)
      .as[(String, Long)].collect().toList
    assert(out === List(("a>b>c", 2L), ("b>c>d", 1L)))
  }

  test("gap fill: per-user spine densifies only the user's own span and LOCF fills holes") {
    val dir = TestSpark.scratch("gapfill-events")
    def ns(day: Long): Long = day * 86400L * 1000000000L
    // u1 observed days 0 and 3 → days 1,2 are gaps carrying day-0's value;
    // u2 observed only day 5 → single-row spine (no global grid bleed);
    // u3 has two same-day events → daily v = max
    val rows = Seq(
      (1L, ns(0), 5.0), (1L, ns(3), 7.0),
      (2L, ns(5), 9.0),
      (3L, ns(2), 1.0), (3L, ns(2) + 1000L, 4.0))
    rows.zipWithIndex.map { case ((u, t, v), id) => (id.toLong, u, t, "e", v) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = TemporalOps.q96GapFill(spark, dir)
      .as[(Long, Long, Double, Boolean)].collect().toList
    assert(out === List(
      (1L, 0L, 5.0, false), (1L, 1L, 5.0, true), (1L, 2L, 5.0, true),
      (1L, 3L, 7.0, false),
      (2L, 5L, 9.0, false),
      (3L, 2L, 4.0, false)))
  }

  test("hopping window: each event lands in exactly windowLength/slide = 4 windows") {
    val dir = TestSpark.scratch("hopping-events")
    def ns(sec: Long): Long = sec * 1000000000L
    // one event at t=0 (u1), one at t=1800 (u2): the two fan-outs overlap
    // at window starts -900 and 0, where both users must be counted
    Seq((0L, 1L, ns(0), "e"), (1L, 2L, ns(1800), "e"))
      .toDF("event_id", "user_id", "ts", "event_type")
      .withColumn("value", lit(0.0)).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = TemporalOps.q97HoppingWindow(spark, dir)
      .as[(Long, Long, Long)].collect().toList
    assert(out === List(
      (-2700L, 1L, 1L), (-1800L, 1L, 1L), (-900L, 2L, 2L), (0L, 2L, 2L),
      (900L, 1L, 1L), (1800L, 1L, 1L)))
    assert(out.map(_._2).sum === 2L * 4L)
  }

  test("interval merge: running-max islands absorb nested intervals that a gap rule would split") {
    val dir = TestSpark.scratch("intmerge-events")
    def ns(sec: Long): Long = sec * 1000000000L
    // u1: [0,6060] (value 10 → 6000s+60s), then [100,220] NESTED inside
    // it (a lag-gap rule would see start gap 100s < span and still be
    // fine, but the third interval [5900,6080] starts AFTER the nested
    // one ENDS — only the running max over all prior ends keeps it in
    // island 1); [7000,7120] is disjoint → island 2
    Seq(
      (0L, 1L, ns(0), 10.0), (1L, 1L, ns(100), 0.1), (2L, 1L, ns(5900), 0.2),
      (3L, 1L, ns(7000), 0.1))
      .toDF("event_id", "user_id", "ts", "value")
      .withColumn("event_type", lit("e")).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = TemporalOps.q98IntervalMerge(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toList
    // islands: [0,6080] (max end of the three = 5900+0.2*600+60 = 6080
    // vs 6060 → 6080) and [7000,7120] → covered 6080 + 120
    assert(out === List((1L, 2L, 4L, 6200L)))
  }

  test("growth accounting: new/retained/resurrected classify per user, churn derives from adjacency") {
    val dir = TestSpark.scratch("growth-events")
    // weeks anchored to Mondays: 1970-01-05 is a Monday
    def ns(week: Int, day: Int): Long =
      ((4 + week * 7 + day).toLong * 86400L + 3600L) * 1000000000L
    def ev(id: Long, user: Long, week: Int) = (id, user, ns(week, 0), "click", 1.0, "{}")
    Seq(
      // u1: weeks 0,1,3 → new, retained, resurrected
      ev(1L, 1L, 0), ev(2L, 1L, 1), ev(3L, 1L, 3),
      // u2: weeks 0,1 → new, retained; absent week 2+ → churns in week 2?
      // week 2 has NO activity at all → not reported; week 3's previous
      // reported week is week 1 (not adjacent) → churn NULL there
      ev(4L, 2L, 0), ev(5L, 2L, 1),
      // u3: week 3 only → new
      ev(6L, 3L, 3))
      .toDF("event_id", "user_id", "ts", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = TemporalOps.q129GrowthAccounting(spark, dir)
      .as[(java.sql.Timestamp, Long, Long, Long, Long, Option[Long])]
      .collect().toList.map(r => (r._2, r._3, r._4, r._5, r._6))
    assert(out === List(
      (2L, 2L, 0L, 0L, None),        // week 0: both new
      (2L, 0L, 2L, 0L, Some(0L)),    // week 1: both retained, churn 0
      (2L, 1L, 0L, 1L, None)))       // week 3: u3 new, u1 resurrected, gap → null churn
  }

  test("rolling active: WAU is the trailing-7-day distinct, multi-event days count once") {
    val dir = TestSpark.scratch("wau-events")
    def ns(day: Int, hour: Int): Long =
      (day.toLong * 86400 + hour * 3600) * 1000000000L
    def ev(id: Long, user: Long, day: Int, hour: Int) =
      (id, user, ns(day, hour), "click", 1.0, "{}")
    Seq(
      // u1 active on day 0 (twice — must count once) and day 8
      ev(1L, 1L, 0, 1), ev(2L, 1L, 0, 5), ev(3L, 1L, 8, 1),
      // u2 active on day 6 only: visible in day-6 WAU alongside u1
      // (day 0 is within day 6's trailing week), and in day 8's too
      ev(4L, 2L, 6, 1))
      .toDF("event_id", "user_id", "ts", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = TemporalOps.q128RollingActive(spark, dir)
      .as[(java.sql.Timestamp, Long, Long, Double)].collect().toList
      .map(r => (r._1.toInstant.toString.take(10), r._2, r._3, r._4))
    assert(out === List(
      ("1970-01-01", 1L, 1L, 1.0),        // day 0: u1 only
      ("1970-01-07", 1L, 2L, 0.5),        // day 6: dau=u2, wau={u1,u2}
      ("1970-01-09", 1L, 2L, 0.5)))       // day 8: dau=u1, wau={u1,u2}
  }

  test("attribution: 24h lookback, last-touch wins, linear remainder goes to the last touch") {
    val dir = TestSpark.scratch("attr-events")
    def ns(min: Long): Long = min * 60L * 1000000000L
    def ev(id: Long, user: Long, min: Long, typ: String) =
      (id, user, ns(min), typ, 1.0, "{}")
    Seq(
      // user 1: purchase at 6000 with 2 in-window touches (view 5000,
      // click 5900=last), one outside 24h (4500), one AFTER (6010)
      ev(1L, 1L, 6000, "purchase"),
      ev(2L, 1L, 5000, "view"), ev(3L, 1L, 5900, "click"),
      ev(4L, 1L, 4500, "click"), ev(5L, 1L, 6010, "click"),
      // user 2: purchase with 3 view touches → 333/333/334, last=5800
      ev(6L, 2L, 6000, "purchase"),
      ev(7L, 2L, 5800, "view"), ev(8L, 2L, 5700, "view"), ev(9L, 2L, 5600, "view"),
      // user 3: touch with no purchase → never credited
      ev(10L, 3L, 5900, "click"))
      .toDF("event_id", "user_id", "ts", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = TemporalOps.q125Attribution(spark, dir)
      .as[(String, Long, Long, Long)].collect().toList
    assert(out === List(
      ("click", 1L, 500L, 1L),
      ("view", 1L, 1500L, 4L)))
  }

  test("CDC apply: latest change wins, trailing deletes drop the key, earlier deletes do not") {
    val dir = TestSpark.scratch("cdc-orders")
    def d(day: Int) = java.sql.Timestamp.valueOf(f"1995-01-$day%02d 00:00:00")
    Seq(
      // cust 1: upsert then DELETE ('F') last → key absent from snapshot
      (1L, 1L, d(1), 100.0, "O"), (2L, 1L, d(2), 200.0, "F"),
      // cust 2: delete then upsert → present (early delete must not kill it)
      (3L, 2L, d(1), 300.0, "F"), (4L, 2L, d(2), 400.0, "O"),
      // cust 3: single upsert
      (5L, 3L, d(1), 500.0, "O"),
      // cust 4: same-date tie → higher orderkey is the later change
      (6L, 4L, d(1), 600.0, "O"), (7L, 4L, d(1), 700.0, "O"))
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice",
        "o_orderstatus")
      .withColumn("o_orderpriority", lit("1-URGENT"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = TemporalOps.q118CdcApply(spark, dir)
      .as[(Long, Long, java.sql.Timestamp, Long)].collect().toList
    assert(out === List(
      (2L, 40000L, d(2), 2L),
      (3L, 50000L, d(1), 1L),
      (4L, 70000L, d(1), 2L)))
  }

  test("incremental MV refresh equals the full recompute on a hand-built delta") {
    val dir = TestSpark.scratch("viewdelta-orders")
    def d(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    // cust 1 straddles the 2000-01-01 cut (2 state + 1 delta orders),
    // cust 2 is state-only, cust 3 is delta-only — the three merge arms
    // (add, state-side null, delta-side null) all exercised
    Seq(
      (1L, 1L, d("1999-06-01"), 10.00), (2L, 1L, d("1999-07-01"), 20.00),
      (3L, 1L, d("2000-02-01"), 5.50),
      (4L, 2L, d("1998-01-01"), 7.25),
      (5L, 3L, d("2000-03-01"), 100.01), (6L, 3L, d("2000-04-01"), 100.01))
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      .withColumn("o_orderstatus", lit("O"))
      .withColumn("o_orderpriority", lit("1-URGENT"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = TemporalOps.q133ViewDelta(spark, dir)
      .as[(Long, Long, Long, Double)].collect().toList
    assert(out === List(
      (1L, 3L, 3550L, 3550.0 / 3 / 100.0),
      (2L, 1L, 725L, 7.25),
      (3L, 2L, 20002L, 100.01)))
    // delta-vs-recompute: the merged state must equal a one-shot groupBy
    // over the same table, bit for bit
    val recompute = spark.read.parquet(s"$dir/orders.parquet")
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(graft.operators.Relational.cents($"o_totalprice")).as("total_cents"))
      .withColumn("avg_dollars", $"total_cents".cast("double") / $"n_orders" / 100.0)
      .orderBy($"o_custkey")
      .as[(Long, Long, Long, Double)].collect().toList
    assert(out === recompute)
  }

  test("q142 periodicity: planted daily cycle scores high at its lag, missing hours drop terms") {
    // 72 hours, spike of 5 events at hours ≡ 0 (mod 24), 1 event
    // otherwise; hour 50 missing entirely. Expected sums hand-folded.
    val counts: Map[Long, Long] =
      (0L until 72L).filter(_ != 50L)
        .map(h => h -> (if (h % 24 == 0) 5L else 1L)).toMap
    val hours = counts.toSeq.flatMap { case (h, c) => Seq.fill(c.toInt)(h) }
      .toDF("h")
    def expected(lag: Long): (Long, Long) = {
      val terms = counts.keys.filter(h => counts.contains(h + lag)).toSeq
      (terms.size.toLong, terms.map(h => counts(h) * counts(h + lag)).sum)
    }
    val den = counts.values.map(x => x * x).sum.toDouble
    val out = TemporalOps.periodicityOf(hours, Seq(1L, 24L))
      .as[(Long, Long, Long, Double)].collect().toList
    val (n1, s1) = expected(1L)
    val (n24, s24) = expected(24L)
    assert(out == List((1L, n1, s1, s1 / den), (24L, n24, s24, s24 / den)))
    // the daily lag aligns spike·spike terms → strictly higher score
    assert(s24.toDouble / den > s1.toDouble / den)
  }

  test("q139 clamped balance: hand-folded fixture") {
    // supplier 1: +5 → 5, -3 → 2, -4 → 0 (2 lost, stockout), +10 → 10,
    //             -1 → 9.    end 9, peak 10, lost 2, stockouts 1
    // supplier 2: -4 → 0 (4 lost), -1 → 0 (1 lost) — two stockouts,
    //             peak stays 0, end 0, lost 5
    val li = Seq(
      (1L, 1, 1L, 1L, 5L), (1L, 2, 2L, 1L, -3L), (1L, 3, 3L, 1L, -4L),
      (1L, 4, 4L, 1L, 10L), (1L, 5, 5L, 1L, -1L),
      (2L, 1, 6L, 1L, -4L), (2L, 2, 7L, 1L, -1L)
    ).toDF("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber", "delta")
    val out = TemporalOps.clampedBalance(li)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toList
    assert(out == List(
      (1L, 5L, 9L, 10L, 2L, 1L),
      (2L, 2L, 0L, 0L, 5L, 2L)))
  }

  test("q139 clamped balance equals the sequential fold on random deltas") {
    val rnd = new scala.util.Random(7)
    val rows = for (s <- 1 to 3; i <- 1 to 40)
      yield (s.toLong, i, i.toLong, 1L, (rnd.nextInt(21) - 10).toLong)
    val li = rows.toDF("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber", "delta")
    val expected = rows.groupBy(_._1).map { case (s, evs) =>
      var bal = 0L; var peak = 0L; var lost = 0L; var stockouts = 0L
      evs.sortBy(_._2).foreach { e =>
        val raw = bal + e._5
        if (raw < 0) { lost += -raw; stockouts += 1 }
        bal = math.max(0L, raw)
        peak = math.max(peak, bal)
      }
      s -> ((evs.size.toLong, bal, peak, lost, stockouts))
    }
    val out = TemporalOps.clampedBalance(li)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(out.length == 3)
    out.foreach { case (s, n, end, peak, lost, so) =>
      assert((n, end, peak, lost, so) == expected(s), s"supplier $s")
    }
  }

  test("q155 changepoint: planted level shift found at the break day") {
    import graft.operators.TemporalOps
    def ts(day: Int, i: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d 0${i % 10}:0${i / 10}:00")
    // type "a": 5 days at 10/day then 5 days at 30/day -> break after day 5
    // type "b": constant 7/day -> cusum identically 0, earliest day wins
    val rows =
      (for (d <- 1 to 5; i <- 0 until 10) yield ("a", ts(d, i))) ++
      (for (d <- 6 to 10; i <- 0 until 30) yield ("a", ts(d, i))) ++
      (for (d <- 1 to 3; i <- 0 until 7) yield ("b", ts(d, i)))
    val out = TemporalOps.changepointOf(rows.toDF("event_type", "ts"))
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap
    val a = out("a")
    assert(a.getAs[String]("cp_date") == "2024-01-05")
    assert(a.getAs[Long]("days") == 10L && a.getAs[Long]("total") == 200L)
    assert(a.getAs[Long]("cusum_num") == 10L * 50 - 5L * 200) // -500
    assert(a.getAs[Double]("mean_before") == 10.0)
    assert(a.getAs[Double]("mean_after") == 30.0)
    val b = out("b")
    assert(b.getAs[Long]("cusum_num") == 0L)
    assert(b.getAs[String]("cp_date") == "2024-01-01")
  }
}
