package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.Ckpt.GraftCheckpoint

/** Temporal operators beyond the reference's surface: as-of join and
  * distribution statistics.
  *
  * As-of join strategy (custom-operator preference order: COMPOSE first):
  * Spark has no ASOF JOIN, but the semantics decompose exactly into
  * built-ins — tag both sides, union, and carry the most recent
  * right-side value forward with `last(ignoreNulls) over (partition key,
  * order time, rows unbounded preceding)`. One shuffle on the key, one
  * sort by time — the same cost profile a dedicated sort-merge AsOfExec
  * would have, with zero custom physical code to maintain. A range-join
  * (`l.ts between r.ts and r.ts + tol`) would explode row pairs; this
  * never materializes more than left+right rows.
  */
object TemporalOps {

  /** Generic as-of join: for each left row, the latest right row with
    * rightTime <= leftTime, per key. Left columns are preserved;
    * `rightVals` are the carried-forward right-side columns (renamed).
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String,
      rightVals: Map[String, String]): DataFrame = {
    val sideCol = "__graft_side"
    val valsCol = "__graft_rvals"
    val l = left.withColumn(sideCol, lit(1))
    // ALL right values travel as one struct: a single last() then carries
    // the matched row atomically — per-column last(ignoreNulls) would
    // back-fill a NULL field of the matched row from an older row.
    val r = right.select(
      col(key), col(rightTime).as(leftTime), lit(0).as(sideCol),
      struct(rightVals.map { case (from, to) => col(from).as(to) }.toSeq: _*).as(valsCol))
    val unioned = l.unionByName(r, allowMissingColumns = true)
    // right rows sort before left rows at equal timestamps → '<=' semantics;
    // the struct value is the deterministic tie-break among right rows
    // sharing (key, ts) (left rows all have a NULL struct there)
    val w = Window.partitionBy(col(key))
      .orderBy(col(leftTime), col(sideCol), col(valsCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = unioned.withColumn(valsCol, last(col(valsCol), ignoreNulls = true).over(w))
    val projected = rightVals.values.foldLeft(carried) { (df, v) =>
      df.withColumn(v, col(valsCol).getField(v))
    }
    projected.filter(col(sideCol) === 1).drop(sideCol, valsCol)
  }

  /** As-of join on the events stream: each click matched to the same
    * user's most recent signup at-or-before it. Oracle: DuckDB's native
    * ASOF LEFT JOIN.
    */
  def q36AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir).events
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id", $"user_id", $"ts")
    // pre-dedup to ONE signup per (user_id, µs): DuckDB's ASOF JOIN (the
    // oracle) leaves tie selection among equal timestamps unspecified,
    // and the µs truncation of the nanos fixture can land two signups on
    // the same instant — resolving the tie to max event_id BEFORE the
    // as-of join makes both engines deterministic by construction
    val signups = ev.filter($"event_type" === "signup")
      .groupBy($"user_id", $"ts").agg(max($"event_id").as("event_id"))
    asofJoin(clicks, signups, key = "user_id", leftTime = "ts", rightTime = "ts",
      rightVals = Map("event_id" -> "signup_id"))
      .select($"event_id", $"user_id", $"signup_id")
      .orderBy($"event_id")
  }

  // CAST(ts AS TIMESTAMP) floors the fixture's nanosecond timestamps to
  // microseconds — the SAME truncation Tables.events applies on the
  // Spark side — so boundary comparisons agree even when related events
  // land in the same microsecond (most fixture rows carry sub-µs nanos).
  val q36Sql: String =
    """WITH clicks AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events WHERE event_type = 'click'),
      |signups AS (
      |  SELECT max(event_id) AS signup_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events WHERE event_type = 'signup'
      |  GROUP BY user_id, CAST(ts AS TIMESTAMP))
      |SELECT c.event_id, c.user_id, s.signup_id
      |FROM clicks c ASOF LEFT JOIN signups s
      |  ON c.user_id = s.user_id AND c.ts >= s.ts
      |ORDER BY c.event_id""".stripMargin

  /** Distribution statistics: exact interpolated percentiles per group
    * (both engines implement linear interpolation over the sorted set).
    * All three quantiles come from ONE percentile buffer per group (an
    * array-percentage call) — three separate aggs would each collect the
    * full column.
    */
  def q37Quantiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.DistributedRank
    // the q124-class gate, aggregation-state edition: exact
    // `percentile()` is a TypedImperativeAggregate whose per-group
    // buffer holds EVERY value — with 3 return flags that is 1/3 of
    // the corpus in one aggregation buffer. Past the gate the exact
    // interpolated percentiles come from the per-(flag, price) count
    // frame: global sorted indexes via bucket offsets, the ≤ 8 boundary
    // VALUES per flag collect (bounded), and the driver replays
    // Percentile's own interpolation arithmetic on them
    // (row-identical: DistributedRankSpec pins both paths).
    val lineitem = Tables(spark, dir).lineitem
    if (DistributedRank.fitsSingleTask(lineitem))
      return lineitem
        .groupBy($"l_returnflag")
        .agg(
          expr("percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D))").as("ps"),
          round(min($"l_extendedprice"), 2).as("min_price"),
          round(max($"l_extendedprice"), 2).as("max_price"))
        .select(
          $"l_returnflag",
          round(element_at($"ps", 1), 4).as("p50"),
          round(element_at($"ps", 2), 4).as("p90"),
          round(element_at($"ps", 3), 4).as("p99"),
          $"min_price", $"max_price")
        .orderBy($"l_returnflag")
    val ps = Seq(0.5, 0.9, 0.99)
    val lookup = flagPriceIndex(lineitem, n =>
      ps.flatMap { p =>
        val pos = (n - 1) * p
        Seq(floor(pos), ceil(pos))
      } ++ Seq(lit(0L), n - 1))
    lookup.toSeq.map { case (f, (n, at)) =>
      (f, roundHalfUp(interpolate(n, 0.5, at), 4),
        roundHalfUp(interpolate(n, 0.9, at), 4),
        roundHalfUp(interpolate(n, 0.99, at), 4),
        roundHalfUp(at(0L), 2), roundHalfUp(at(n - 1), 2))
    }.toDF("l_returnflag", "p50", "p90", "p99", "min_price", "max_price")
      .orderBy($"l_returnflag")
  }

  /** Per-returnflag lookup of lineitem prices by GLOBAL sorted index,
    * distributed (the q115/q124 count-frame machinery): one
    * per-(flag, price) aggregate + its gated running counts give every
    * price group its exact rank interval; only the ≤ |wanted|
    * straddling VALUES per flag ever collect. `idxOf(n)` names, as
    * columns over the flag's row count n, the 0-based sorted indexes a
    * caller needs. Returns per flag: (n, index → value).
    */
  private def flagPriceIndex(lineitem: DataFrame,
      idxOf: Column => Seq[Column]): Map[String, (Long, Long => Double)] = {
    import lineitem.sparkSession.implicits._
    import graft.functions.DistributedRank
    val grouped = lineitem
      .groupBy($"l_returnflag", $"l_extendedprice")
      .agg(count(lit(1)).as("cnt"))
    val cum = DistributedRank.runningSums(grouped, Seq("l_returnflag"),
      Seq($"l_extendedprice"), $"l_extendedprice", "cnt")
    val rows = cum
      .filter(idxOf($"total_cnt")
        .map(i => $"cum_cnt" > i && $"cum_cnt" - $"cnt" <= i).reduce(_ || _))
      .select($"l_returnflag", $"l_extendedprice", $"cnt", $"cum_cnt",
        $"total_cnt").collect()
    rows.groupBy(_.getString(0)).map { case (f, rs) =>
      val at: Long => Double = i => rs.find(r =>
        r.getLong(3) - r.getLong(2) <= i && i < r.getLong(3)).get.getDouble(1)
      f -> ((rs.head.getLong(4), at))
    }
  }

  /** Spark Percentile's exact interpolation (linear between the floor
    * and ceil positions, short-circuit on integral position or equal
    * keys), replayed on the driver over looked-up values — the same
    * double arithmetic, so the result is bit-identical.
    */
  private def interpolate(n: Long, p: Double, at: Long => Double): Double = {
    val pos = (n - 1) * p
    val lower = math.floor(pos).toLong
    val higher = math.ceil(pos).toLong
    val vLo = at(lower)
    if (higher == lower) vLo
    else {
      val vHi = at(higher)
      if (vHi == vLo) vLo
      else (higher - pos) * vLo + (pos - lower) * vHi
    }
  }

  /** Spark Round's double path: HALF_UP on the shortest-decimal
    * (BigDecimal.valueOf) representation.
    */
  private def roundHalfUp(x: Double, scale: Int): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  val q37Sql: String =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
      |  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99,
      |  round(min(l_extendedprice), 2) AS min_price,
      |  round(max(l_extendedprice), 2) AS max_price
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Fixed-width histogram via floor-bucket arithmetic (portable — no
    * engine-specific width_bucket variants).
    */
  def q38Histogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).orders
      .groupBy(floor($"o_totalprice" / 50000).cast("long").as("bucket"))
      // exact long-cents mean (order-independent) — avg(double) merge
      // order varies run to run
      .agg(count(lit(1)).as("n"), Relational.moneyAvg($"o_totalprice").as("avg_price"))
      .orderBy($"bucket")
  }

  val q38Sql: String =
    """SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
      |  count(*) AS n,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
      |    / count(*) AS avg_price
      |FROM orders
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin

  /** Approximate aggregates: HLL distinct counts checked against their
    * exact counterparts. The raw HLL estimate is engine-specific, so the
    * query emits the portable facts instead: the exact counts plus a
    * within-15%-relative-error bound on each estimate (3σ of the HLL
    * default rsd 0.05; observed max ≈ 8.6% across SFs/groups here).
    * The oracle asserts the bounds as literal `true` — an
    * out-of-bound estimator FAILS the correctness gate instead of hiding
    * behind a rows-only check. HLL register merges are commutative/
    * associative → deterministic for fixed data regardless of
    * partitioning.
    */
  def q41ApproxDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).lineitem
      .groupBy($"l_returnflag")
      .agg(
        approx_count_distinct($"l_partkey").as("approx_parts"),
        countDistinct($"l_partkey").as("exact_parts"),
        approx_count_distinct($"l_orderkey").as("approx_orders"),
        countDistinct($"l_orderkey").as("exact_orders"))
      .select(
        $"l_returnflag", $"exact_parts", $"exact_orders",
        (abs($"approx_parts" - $"exact_parts") <= $"exact_parts" * 0.15)
          .as("parts_within_15pct"),
        (abs($"approx_orders" - $"exact_orders") <= $"exact_orders" * 0.15)
          .as("orders_within_15pct"))
      .orderBy($"l_returnflag")
  }

  val q41Sql: String =
    """SELECT l_returnflag,
      |  count(DISTINCT l_partkey) AS exact_parts,
      |  count(DISTINCT l_orderkey) AS exact_orders,
      |  true AS parts_within_15pct,
      |  true AS orders_within_15pct
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** q41's production twin (the q144→q164 / q160→q165 pattern, third
    * application): same output contract, Expand-free plan.
    *
    * q41's 18.5×/decade scaling is the `Expand` node Spark plans for
    * TWO exact countDistinct columns in one aggregate — every input row
    * replicated per distinct column before the partial dedup, a
    * row-count multiplier that at 100 TB doubles the heaviest shuffle
    * in the registry. This twin splits the work into plans that never
    * expand:
    *
    *   - production branch: one HLL-only aggregate
    *     (`approx_count_distinct` is a REGULAR aggregate — sketch
    *     buffers merge partial→final, the shuffle carries 3 rows of
    *     registers, no Expand). At 100 TB this branch alone is what a
    *     pipeline runs; its cost is one 2-column scan + a
    *     constant-size shuffle.
    *   - verification branches: each exact count planned as a SINGLE
    *     distinct aggregate (`select(key, col).distinct → count`),
    *     which Catalyst executes as partial dedup → dedup shuffle →
    *     count: the shuffle carries only surviving distinct pairs, not
    *     expanded rows, and each scan reads exactly 2 columns.
    *
    * The three 3-row aggregates broadcast-join back on the flag; the
    * oracle asserts the HLL ±rsd bound (15% = 3σ of the default rsd
    * 0.05) as literal `true` — an out-of-bound estimator fails the hash
    * gate. q41 stays registered as the exactness baseline whose Expand
    * cost is its contract as the HLL validation harness.
    */
  def q166DistinctTwin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables(spark, dir).lineitem
    val hll = li.groupBy($"l_returnflag").agg(
      approx_count_distinct($"l_partkey").as("approx_parts"),
      approx_count_distinct($"l_orderkey").as("approx_orders"))
    val exactParts = li.select($"l_returnflag", $"l_partkey").distinct()
      .groupBy($"l_returnflag").agg(count(lit(1)).as("exact_parts"))
    val exactOrders = li.select($"l_returnflag", $"l_orderkey").distinct()
      .groupBy($"l_returnflag").agg(count(lit(1)).as("exact_orders"))
    hll
      .join(broadcast(exactParts), Seq("l_returnflag"))
      .join(broadcast(exactOrders), Seq("l_returnflag"))
      .select(
        $"l_returnflag", $"exact_parts", $"exact_orders",
        (abs($"approx_parts" - $"exact_parts") <= $"exact_parts" * 0.15)
          .as("parts_within_15pct"),
        (abs($"approx_orders" - $"exact_orders") <= $"exact_orders" * 0.15)
          .as("orders_within_15pct"))
      .orderBy($"l_returnflag")
  }

  val q166Sql: String = q41Sql

  /** Banded range join: clicks within (signup, signup + 1h] per user,
    * counted per signup. Spark would plan the raw inequality join as a
    * broadcast-nested-loop; instead both sides bucket into hour-wide
    * bands and equi-join on (user, bucket) — a signup's window can only
    * span its own bucket and the next, so the left side explodes ×2 and
    * the exact range predicate filters inside the hash join. One
    * compound-key shuffle, no BNLJ/cartesian at any scale.
    */
  def q44RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir).events
    val signups = ev.filter($"event_type" === "signup")
      .select($"event_id", $"user_id", $"ts")
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts".as("cts"))
      .withColumn("bucket", floor(unix_timestamp($"cts") / 3600))
    val banded = signups
      .withColumn("b0", floor(unix_timestamp($"ts") / 3600))
      .withColumn("bucket", explode(array($"b0", $"b0" + 1)))
    val matched = banded.join(clicks, Seq("user_id", "bucket"))
      .filter($"cts" > $"ts" && $"cts" <= $"ts" + expr("INTERVAL 1 HOUR"))
      .groupBy($"event_id").agg(count(lit(1)).as("n_clicks_1h"))
    signups.join(matched, Seq("event_id"), "left")
      .select($"event_id", $"user_id",
        coalesce($"n_clicks_1h", lit(0L)).as("n_clicks_1h"))
      .orderBy($"event_id")
  }

  /** DuckDB twin: the band expansion is lossless (a window spans at most
    * its own hour bucket and the next), so the oracle states the plain
    * inequality join.
    */
  // micro-truncated ts on both sides — see q36Sql note
  val q44Sql: String =
    """WITH s AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events WHERE event_type = 'signup'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS cts
      |      FROM events WHERE event_type = 'click'),
      |m AS (
      |  SELECT s.event_id, count(*) AS n
      |  FROM s JOIN c ON s.user_id = c.user_id
      |    AND c.cts > s.ts AND c.cts <= s.ts + INTERVAL 1 HOUR
      |  GROUP BY s.event_id)
      |SELECT s.event_id, s.user_id, coalesce(m.n, 0) AS n_clicks_1h
      |FROM s LEFT JOIN m USING (event_id)
      |ORDER BY s.event_id""".stripMargin

  /** Misra–Gries heavy hitters, checked through its guarantee: every
    * item with true frequency > n/(k+1) MUST appear in the sketch, so
    * the query emits the exact heavy hitters with an `in_sketch` flag
    * the oracle asserts as literal true — a sketch that drops a heavy
    * hitter fails the gate. (Sketch counts themselves are merge-order-
    * dependent within the error bound, hence not emitted.)
    */
  def q45HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 10
    val ev = Tables(spark, dir).events
    val sketch = ev.select(
      graft.functions.HeavyHitters.heavyHitters($"event_type", k).as("mg"))
    val exact = ev.groupBy($"event_type").agg(count(lit(1)).as("cnt"))
      .withColumn("total", sum($"cnt").over())
    exact.crossJoin(broadcast(sketch))
      .filter($"cnt" * (k + 1) > $"total")
      .select($"event_type", $"cnt",
        array_contains(map_keys($"mg"), $"event_type").as("in_sketch"))
      .orderBy($"event_type")
  }

  /** Approximate percentile (KLL-style sketch, accuracy 1000 → rank error
    * ≤ 0.1%) checked against exact quantiles at ±1% rank — the same
    * bound-assertion pattern as q41/q45: the sketch's guarantee becomes
    * an oracle-checked literal, alongside the exact p90 (which parities
    * DuckDB's quantile_cont directly).
    */
  def q48ApproxQuantile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.DistributedRank
    // same gate as q37: the approx sketch's state is bounded (that is
    // its point), but the exact `percentile()` reference buffers 1/3 of
    // the corpus per group — past the gate the exact leg moves to the
    // count-frame machinery and broadcast-joins its 3-row literals onto
    // the (still distributed, still sketch-bounded) approx aggregate.
    val lineitem = Tables(spark, dir).lineitem
    if (DistributedRank.fitsSingleTask(lineitem))
      return lineitem
        .groupBy($"l_returnflag")
        .agg(
          percentile_approx($"l_extendedprice", lit(0.9), lit(1000)).as("approx"),
          expr("percentile(l_extendedprice, array(0.89D, 0.9D, 0.91D))").as("ex"))
        .select(
          $"l_returnflag",
          round(element_at($"ex", 2), 4).as("p90"),
          ($"approx" >= element_at($"ex", 1) && $"approx" <= element_at($"ex", 3))
            .as("approx_within_bounds"))
        .orderBy($"l_returnflag")
    val ps = Seq(0.89, 0.9, 0.91)
    val lookup = flagPriceIndex(lineitem, n =>
      ps.flatMap { p =>
        val pos = (n - 1) * p
        Seq(floor(pos), ceil(pos))
      })
    val exDf = broadcast(lookup.toSeq.map { case (f, (n, at)) =>
      (f, roundHalfUp(interpolate(n, 0.9, at), 4),
        interpolate(n, 0.89, at), interpolate(n, 0.91, at))
    }.toDF("l_returnflag", "p90", "__lo", "__hi"))
    Tables(spark, dir).lineitem
      .groupBy($"l_returnflag")
      .agg(percentile_approx($"l_extendedprice", lit(0.9), lit(1000)).as("approx"))
      .join(exDf, Seq("l_returnflag"))
      .select($"l_returnflag", $"p90",
        ($"approx" >= $"__lo" && $"approx" <= $"__hi").as("approx_within_bounds"))
      .orderBy($"l_returnflag")
  }

  val q48Sql: String =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
      |  true AS approx_within_bounds
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  val q45Sql: String =
    """WITH e AS (
      |  SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type),
      |t AS (SELECT sum(cnt) AS total FROM e)
      |SELECT event_type, cnt, true AS in_sketch
      |FROM e, t
      |WHERE cnt * 11 > total
      |ORDER BY event_type""".stripMargin

  /** Batch gap-sessionization — the batch twin of the streaming
    * flatMapGroupsWithState operator (EventsStreaming.sessionize, same
    * 30-minute inactivity gap): a session continues while the gap to the
    * previous event is ≤ 30 min. Composed from lag → flag → running sum
    * (the classic sessionization rewrite): one shuffle on user, one
    * sort — no stateful custom code needed in batch.
    */
  def q46Sessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables(spark, dir).events
      .select($"user_id", $"event_id", $"ts", $"value")
      .withColumn("prev", lag($"ts", 1).over(wOrd))
      .withColumn("is_new",
        when($"prev".isNull || $"ts" > $"prev" + expr("INTERVAL 30 MINUTES"), 1L)
          .otherwise(0L))
      .withColumn("session_idx",
        sum($"is_new").over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"session_idx")
      .agg(
        min($"ts").as("started"), max($"ts").as("ended"),
        count(lit(1)).as("n_events"),
        // event values are exact 2-decimal money (Relational.moneySum)
        Relational.moneySum($"value").as("total_value"))
      .orderBy($"user_id", $"session_idx")
  }

  // micro-truncated ts BEFORE the window — gap comparisons and tie-break
  // ordering must run at the same precision as the Spark side (q36Sql note)
  val q46Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      |f AS (
      |  SELECT user_id, event_id, ts, value,
      |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM e),
      |g AS (
      |  SELECT *, CASE WHEN prev IS NULL OR ts > prev + INTERVAL 30 MINUTE
      |                 THEN 1 ELSE 0 END AS is_new
      |  FROM f),
      |h AS (
      |  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      |  FROM g)
      |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
      |  min(ts) AS started, max(ts) AS ended,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
      |FROM h
      |GROUP BY user_id, session_idx
      |ORDER BY user_id, session_idx""".stripMargin

  /** Keep-first temporal dedup: within each (key..., tumbling window)
    * bucket, only the earliest row survives — the standard log/event
    * dedup of an ingestion pipeline (repeated beacons, retried posts).
    * One shuffle on (keys, bucket); per-bucket state is a row_number,
    * so partitions stay bounded by the window width no matter how long
    * the stream history is. The tie-break column makes the winner
    * deterministic when two rows share the key and timestamp.
    */
  def dedupFirstInWindow(df: DataFrame, keys: Seq[String], tsCol: String,
      tieBreak: String, windowSec: Long): DataFrame = {
    val bucket = floor(unix_timestamp(col(tsCol)) / windowSec)
    val w = Window
      .partitionBy(keys.map(col) :+ bucket.as("__bucket"): _*)
      .orderBy(col(tsCol), col(tieBreak))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Registered surface: dedup clicks per (user, event_type, 5-minute
    * bucket), reported as per-type kept/total counts. Sub-second
    * fractions can never flip a bucket (buckets are whole-second
    * aligned and the fraction is < the 1 s gap to the next boundary),
    * so Spark's integer unix_timestamp and DuckDB's fractional epoch()
    * agree on every assignment.
    */
  def q52TemporalDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir).events
      .select($"event_id", $"user_id", $"event_type", $"ts")
    val bucket = floor(unix_timestamp($"ts") / 300)
    val w = Window.partitionBy($"user_id", $"event_type", bucket)
      .orderBy($"ts", $"event_id")
    ev.withColumn("is_first", when(row_number().over(w) === 1, 1L).otherwise(0L))
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum($"is_first").as("n_kept"))
      .select($"event_type", $"n_events", $"n_kept",
        // unrounded exact-int ratio (identical doubles both engines)
        ($"n_kept".cast("double") / $"n_events").as("kept_ratio"))
      .orderBy($"event_type")
  }

  // micro-truncated ts for ordering ties (q36Sql note); epoch() keeps
  // sub-second fractions but those cannot cross a whole-second-aligned
  // bucket boundary, so the assignment matches unix_timestamp exactly
  val q52Sql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events),
      |f AS (
      |  SELECT event_type,
      |    CASE WHEN row_number() OVER (
      |      PARTITION BY user_id, event_type,
      |                   CAST(floor(epoch(ts) / 300) AS BIGINT)
      |      ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS is_first
      |  FROM e)
      |SELECT event_type, count(*) AS n_events,
      |  CAST(sum(is_first) AS BIGINT) AS n_kept,
      |  CAST(sum(is_first) AS DOUBLE) / count(*) AS kept_ratio
      |FROM f
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** RANGE-interval window frame: each order's trailing-7-day revenue
    * for its customer — the time-based sibling of q34's ROWS frame
    * (a ROWS frame counts rows; a RANGE frame bounds by VALUE distance,
    * here 7 days of epoch seconds, so gaps and same-instant neighbors
    * behave correctly). Money in exact long cents end to end; the frame
    * gives both engines the same summation order.
    */
  def q56RangeFrame(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sec = unix_timestamp($"o_orderdate")
    val w = Window.partitionBy($"o_custkey").orderBy(sec)
      .rangeBetween(-7L * 86400, 0)
    Tables(spark, dir).orders
      .filter($"o_custkey" <= 100)
      .select($"o_custkey", $"o_orderkey", $"o_orderdate",
        (sum(Relational.cents($"o_totalprice")).over(w).cast("double") / 100.0)
          .as("trailing_7d_revenue"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  // epoch() on a DATE-derived timestamp is whole seconds on both sides
  val q56Sql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
      |    PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
      |    RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    / 100.0 AS trailing_7d_revenue
      |FROM orders
      |WHERE o_custkey <= 100
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Ordered funnel analysis — the signup → view → click → purchase
    * conversion report, with STRICT event-time ordering: a user reaches
    * step k only if their earliest step-k event happened strictly after
    * their earliest step-(k−1) event (min-per-step, the standard
    * "first-touch" funnel; ties at identical micros do NOT convert —
    * deterministic in both engines).
    *
    * One shuffle: min-per-step is a conditional-min hash aggregate keyed
    * by user (partial+final — the event stream never moves raw), and the
    * funnel counts are a second single-row aggregate over |users| rows.
    * Conversion ratios are exact-int divisions. The oracle casts ts to
    * micros (q36/q52 precedent) so nanos can't split a tie differently.
    */
  def q80Funnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = Tables(spark, dir).events.groupBy($"user_id").agg(
      min(when($"event_type" === "signup", $"ts")).as("t1"),
      min(when($"event_type" === "view", $"ts")).as("t2"),
      min(when($"event_type" === "click", $"ts")).as("t3"),
      min(when($"event_type" === "purchase", $"ts")).as("t4"))
    val r2 = $"t1".isNotNull && $"t2" > $"t1"
    val r3 = r2 && $"t3" > $"t2"
    val f = m.agg(
      count(lit(1)).as("n_users"),
      sum(when($"t1".isNotNull, 1L).otherwise(0L)).as("s1"),
      sum(when(r2, 1L).otherwise(0L)).as("s2"),
      sum(when(r3, 1L).otherwise(0L)).as("s3"),
      sum(when(r3 && $"t4" > $"t3", 1L).otherwise(0L)).as("s4"))
    f.select(explode(array(
        struct(lit(1L).as("step"), lit("signup").as("event_type"),
          $"s1".as("n_reached"), $"n_users".as("n_prev")),
        struct(lit(2L).as("step"), lit("view").as("event_type"),
          $"s2".as("n_reached"), $"s1".as("n_prev")),
        struct(lit(3L).as("step"), lit("click").as("event_type"),
          $"s3".as("n_reached"), $"s2".as("n_prev")),
        struct(lit(4L).as("step"), lit("purchase").as("event_type"),
          $"s4".as("n_reached"), $"s3".as("n_prev")))).as("r"))
      .select($"r.step", $"r.event_type", $"r.n_reached",
        when($"r.n_prev" > 0,
          $"r.n_reached".cast("double") / $"r.n_prev").as("conversion"))
      .orderBy($"step")
  }

  val q80Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |m AS (
      |  SELECT user_id,
      |    min(ts) FILTER (WHERE event_type = 'signup') AS t1,
      |    min(ts) FILTER (WHERE event_type = 'view') AS t2,
      |    min(ts) FILTER (WHERE event_type = 'click') AS t3,
      |    min(ts) FILTER (WHERE event_type = 'purchase') AS t4
      |  FROM e GROUP BY user_id),
      |f AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_users,
      |    CAST(count(*) FILTER (WHERE t1 IS NOT NULL) AS BIGINT) AS s1,
      |    CAST(count(*) FILTER (WHERE t1 IS NOT NULL AND t2 > t1) AS BIGINT) AS s2,
      |    CAST(count(*) FILTER (WHERE t1 IS NOT NULL AND t2 > t1 AND t3 > t2)
      |      AS BIGINT) AS s3,
      |    CAST(count(*) FILTER (WHERE t1 IS NOT NULL AND t2 > t1 AND t3 > t2
      |      AND t4 > t3) AS BIGINT) AS s4
      |  FROM m)
      |SELECT step, event_type, n_reached,
      |  CASE WHEN n_prev > 0 THEN CAST(n_reached AS DOUBLE) / n_prev END AS conversion
      |FROM (
      |  SELECT 1 AS step, 'signup' AS event_type, s1 AS n_reached, n_users AS n_prev FROM f
      |  UNION ALL SELECT 2, 'view', s2, s1 FROM f
      |  UNION ALL SELECT 3, 'click', s3, s2 FROM f
      |  UNION ALL SELECT 4, 'purchase', s4, s3 FROM f)
      |ORDER BY step""".stripMargin

  /** Trailing-window anomaly detection over the hourly event stream:
    * each (event_type, hour) is z-scored against the PRECEDING 24 hours
    * (never itself — a detector that includes the point under test
    * dilutes its own signal). The hour grid is DENSIFIED first (missing
    * hours are real zero observations, not gaps — skipping them would
    * silently shrink the baseline window), which costs only
    * |types| × |hours| rows — invariant to event volume.
    *
    * The z-score is kept oracle-exact with the q79 discipline: numerator
    * n·x − Σx and variance term n·Σx² − (Σx)² are exact BIGINTs from
    * integer window sums, so z = (n·x − Σx)/√(n·Σx² − (Σx)²) (the
    * population-σ z-score, algebraically rearranged to a single sqrt of
    * an exact integer) is bit-identical in both engines. Warmup hours
    * (window < 24) and zero-variance windows report NULL, flagged false.
    *
    * Scale shape: one partial+final aggregate shuffles |type × hour|
    * rows; the sliding stats are a bounded 24-row frame per partition.
    */
  def q81Anomaly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir).events
    val hc = ev.groupBy($"event_type",
        floor(unix_timestamp($"ts") / 3600).cast("long").as("hour_id"))
      .agg(count(lit(1)).as("cnt"))
    val bounds = ev.agg(
      floor(min(unix_timestamp($"ts")) / 3600).cast("long").as("h0"),
      floor(max(unix_timestamp($"ts")) / 3600).cast("long").as("h1"))
    val grid = ev.select($"event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select($"event_type", explode(sequence($"h0", $"h1")).as("hour_id"))
    val dense = grid.join(hc, Seq("event_type", "hour_id"), "left")
      .select($"event_type", $"hour_id", coalesce($"cnt", lit(0L)).as("cnt"))
    val w = Window.partitionBy($"event_type").orderBy($"hour_id")
      .rowsBetween(-24, -1)
    val varTerm = $"win_n" * $"win_sumsq" - $"win_sum" * $"win_sum"
    dense
      .withColumn("win_n", count(lit(1)).over(w))
      // empty warmup frame: count is 0 but sums are NULL — pin to 0 so
      // the engines agree on the emitted baseline columns
      .withColumn("win_sum", coalesce(sum($"cnt").over(w), lit(0L)))
      .withColumn("win_sumsq", coalesce(sum($"cnt" * $"cnt").over(w), lit(0L)))
      .withColumn("z",
        when($"win_n" === 24 && varTerm > 0,
          ($"win_n" * $"cnt" - $"win_sum").cast("double")
            / sqrt(varTerm.cast("double"))))
      .withColumn("is_anomaly", coalesce(abs($"z") >= 3.0, lit(false)))
      .select($"event_type", $"hour_id", $"cnt",
        $"win_n", $"win_sum", $"win_sumsq", $"z", $"is_anomaly")
      .orderBy($"event_type", $"hour_id")
  }

  val q81Sql: String =
    """WITH e AS (
      |  SELECT event_type, CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) AS BIGINT)
      |           AS hour_id
      |  FROM events),
      |hc AS (SELECT event_type, hour_id, CAST(count(*) AS BIGINT) AS cnt
      |       FROM e GROUP BY event_type, hour_id),
      |bounds AS (SELECT min(hour_id) AS h0, max(hour_id) AS h1 FROM e),
      |grid AS (
      |  SELECT t.event_type, CAST(unnest(range(h0, h1 + 1)) AS BIGINT) AS hour_id
      |  FROM (SELECT DISTINCT event_type FROM e) t CROSS JOIN bounds),
      |dense AS (
      |  SELECT g.event_type, g.hour_id, coalesce(hc.cnt, 0) AS cnt
      |  FROM grid g LEFT JOIN hc ON g.event_type = hc.event_type
      |                          AND g.hour_id = hc.hour_id),
      |win AS (
      |  SELECT event_type, hour_id, cnt,
      |    CAST(count(*) OVER tw AS BIGINT) AS win_n,
      |    CAST(coalesce(sum(cnt) OVER tw, 0) AS BIGINT) AS win_sum,
      |    CAST(coalesce(sum(cnt * cnt) OVER tw, 0) AS BIGINT) AS win_sumsq
      |  FROM dense
      |  WINDOW tw AS (PARTITION BY event_type ORDER BY hour_id
      |                ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
      |z AS (
      |  SELECT event_type, hour_id, cnt, win_n, win_sum, win_sumsq,
      |    CASE WHEN win_n = 24 AND win_n * win_sumsq - win_sum * win_sum > 0
      |      THEN CAST(win_n * cnt - win_sum AS DOUBLE)
      |           / sqrt(CAST(win_n * win_sumsq - win_sum * win_sum AS DOUBLE))
      |    END AS z
      |  FROM win)
      |SELECT event_type, hour_id, cnt, win_n, win_sum, win_sumsq, z,
      |  coalesce(abs(z) >= 3, FALSE) AS is_anomaly
      |FROM z
      |ORDER BY event_type, hour_id""".stripMargin

  /** Weekly cohort retention over the event stream: users are cohorted
    * by the calendar week (epoch-week id — a pure integer bucket, no
    * engine-specific DATE_TRUNC semantics to reconcile) of their FIRST
    * event, and each (cohort, week-offset) cell counts how many of that
    * cohort were active offset weeks later.
    *
    * Scale shape: ONE user-keyed shuffle does all the per-user work —
    * `groupBy(user_id).agg(min(week), collect_set(week))` computes the
    * cohort and the distinct active weeks together, so the second
    * aggregate counts plain rows (each user contributes each week at
    * most once by construction — no COUNT DISTINCT re-shuffle of the
    * event stream). The collect_set state is bounded by the calendar
    * span (#weeks in the dataset), not by event volume — a year of data
    * is <=53 ints per user regardless of how many billions of events.
    * The cohort-size denominator rides a window over the final
    * |weeks x weeks| cell grid, which is calendar-bounded too.
    */
  def q83CohortRetention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wk = floor(unix_timestamp($"ts") / 604800).cast("long")
    val perUser = Tables(spark, dir).events
      .select($"user_id", wk.as("week_id"))
      .groupBy($"user_id")
      .agg(min($"week_id").as("cohort_week"),
        collect_set($"week_id").as("active_weeks"))
    val cells = perUser
      .select($"cohort_week", explode($"active_weeks").as("week_id"))
      .groupBy($"cohort_week", ($"week_id" - $"cohort_week").as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
    val wCohort = Window.partitionBy($"cohort_week")
    cells
      .withColumn("cohort_size",
        max(when($"week_offset" === 0, $"n_active")).over(wCohort))
      .withColumn("retention",
        $"n_active".cast("double") / $"cohort_size")
      .orderBy($"cohort_week", $"week_offset")
  }

  val q83Sql: String =
    """WITH e AS (
      |  SELECT user_id,
      |         CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 604800) AS BIGINT) AS week_id
      |  FROM events),
      |uw AS (SELECT DISTINCT user_id, week_id FROM e),
      |cohort AS (SELECT user_id, min(week_id) AS cohort_week FROM uw GROUP BY user_id),
      |cells AS (
      |  SELECT c.cohort_week, uw.week_id - c.cohort_week AS week_offset,
      |         CAST(count(*) AS BIGINT) AS n_active
      |  FROM uw JOIN cohort c ON uw.user_id = c.user_id
      |  GROUP BY 1, 2)
      |SELECT cohort_week, week_offset, n_active,
      |  max(CASE WHEN week_offset = 0 THEN n_active END)
      |    OVER (PARTITION BY cohort_week) AS cohort_size,
      |  CAST(n_active AS DOUBLE)
      |    / max(CASE WHEN week_offset = 0 THEN n_active END)
      |        OVER (PARTITION BY cohort_week) AS retention
      |FROM cells
      |ORDER BY cohort_week, week_offset""".stripMargin

  /** SCD type-2 dimension build from the order history: per customer,
    * collapse consecutive runs of the same o_orderpriority into validity
    * intervals [valid_from, valid_to) with an is_current flag — the
    * standard slowly-changing-dimension load a warehouse derives from a
    * change feed.
    *
    * Run-collapse is the lag -> change-flag -> running-sum pattern
    * (q46's sessionization skeleton applied to attribute changes): all
    * three windows share ONE customer-keyed sort, so the whole build is
    * a single shuffle + sort, then a run-keyed aggregate. Ties on the
    * same order date break by o_orderkey (deterministic in both
    * engines). valid_to of the last run is NULL (open-ended).
    */
  def q84Scd2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wOrd = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    val runs = Tables(spark, dir).orders
      .select($"o_custkey", $"o_orderkey", $"o_orderdate", $"o_orderpriority")
      .withColumn("chg",
        when(lag($"o_orderpriority", 1).over(wOrd).isNull ||
          lag($"o_orderpriority", 1).over(wOrd) =!= $"o_orderpriority", 1L)
          .otherwise(0L))
      .withColumn("run_id",
        sum($"chg").over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"o_custkey", $"run_id")
      .agg(min($"o_orderpriority").as("priority"), // constant within a run; min = deterministic pick
        min($"o_orderdate").as("valid_from"),
        count(lit(1)).as("n_orders"))
    val wRun = Window.partitionBy($"o_custkey").orderBy($"run_id")
    runs
      .withColumn("valid_to", lead($"valid_from", 1).over(wRun))
      .withColumn("is_current", $"valid_to".isNull)
      .select($"o_custkey", $"run_id".as("version"), $"priority",
        $"valid_from", $"valid_to", $"n_orders", $"is_current")
      .orderBy($"o_custkey", $"version")
  }

  val q84Sql: String =
    """WITH o AS (
      |  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
      |         o_orderpriority
      |  FROM orders),
      |f AS (
      |  SELECT *, CASE WHEN lag(o_orderpriority) OVER w IS NULL
      |                   OR lag(o_orderpriority) OVER w <> o_orderpriority
      |            THEN 1 ELSE 0 END AS chg
      |  FROM o
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
      |g AS (
      |  SELECT *, CAST(sum(chg) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id
      |  FROM f),
      |runs AS (
      |  SELECT o_custkey, run_id,
      |         min(o_orderpriority) AS priority,
      |         min(o_orderdate) AS valid_from,
      |         CAST(count(*) AS BIGINT) AS n_orders
      |  FROM g GROUP BY o_custkey, run_id)
      |SELECT o_custkey, run_id AS version, priority, valid_from,
      |  lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY run_id) AS valid_to,
      |  n_orders,
      |  lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY run_id) IS NULL
      |    AS is_current
      |FROM runs
      |ORDER BY o_custkey, version""".stripMargin

  /** Session path mining: the most common 3-step event-type sequences
    * users take WITHIN a session (q46's 30-minute gap rule) — the
    * "what do users actually do" report behind navigation analysis.
    *
    * All the sequencing work shares ONE user-keyed sort: the session
    * split (lag + running sum) and the two lookaheads (lead) run over
    * the same window spec, so Spark plans a single Exchange+Sort for
    * the whole query. Trigrams that would cross a session boundary are
    * dropped by comparing the led session ids — never by re-joining.
    * The final count is a partial+final aggregate over |distinct
    * trigram| keys, and the top-20 plans as TakeOrderedAndProject
    * (count desc, path asc tie-break — total order, both engines).
    */
  def q88SessionPaths(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables(spark, dir).events
      .select($"user_id", $"event_id", $"ts", $"event_type")
      .withColumn("prev", lag($"ts", 1).over(wOrd))
      .withColumn("is_new",
        when($"prev".isNull || $"ts" > $"prev" + expr("INTERVAL 30 MINUTES"), 1L)
          .otherwise(0L))
      .withColumn("session_idx",
        sum($"is_new").over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("t2", lead($"event_type", 1).over(wOrd))
      .withColumn("t3", lead($"event_type", 2).over(wOrd))
      .withColumn("s2", lead($"session_idx", 1).over(wOrd))
      .withColumn("s3", lead($"session_idx", 2).over(wOrd))
      .filter($"s3" === $"session_idx" && $"s2" === $"session_idx")
      .groupBy(concat_ws(">", $"event_type", $"t2", $"t3").as("path"))
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"path")
      .limit(20)
  }

  val q88Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
      |  FROM events),
      |f AS (
      |  SELECT *, lag(ts) OVER w AS prev
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |g AS (
      |  SELECT *, CASE WHEN prev IS NULL OR ts > prev + INTERVAL 30 MINUTE
      |            THEN 1 ELSE 0 END AS is_new
      |  FROM f),
      |s AS (
      |  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      |  FROM g),
      |tri AS (
      |  SELECT event_type || '>' || lead(event_type, 1) OVER w
      |           || '>' || lead(event_type, 2) OVER w AS path,
      |         session_idx,
      |         lead(session_idx, 1) OVER w AS s2,
      |         lead(session_idx, 2) OVER w AS s3
      |  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT path, CAST(count(*) AS BIGINT) AS n
      |FROM tri
      |WHERE s3 = session_idx AND s2 = session_idx
      |GROUP BY path
      |ORDER BY n DESC, path
      |LIMIT 20""".stripMargin

  /** Per-key time-series gap filling with last-observation-carried-forward.
    * Each user's daily metric series is densified over that user's OWN
    * [first, last] day span (not a global grid — q81 does that for the
    * zero-fill case) and holes inherit the most recent observed value.
    * This is the feature-engineering primitive for training-data joins:
    * models want a value for every (entity, day), not a sparse stream.
    *
    * LOCF is expressed engine-portably with the running-count trick:
    * `grp = count(observed) over (key order day)` is constant across a
    * gap run, so `max(v) over (key, grp)` broadcasts the run's single
    * observation — no IGNORE NULLS window support needed on either
    * engine. Cost: one shuffle to daily aggregates, one per-key spine
    * explode (output-sized), two windows over the same (key, day) sort —
    * Spark plans a single Exchange + Sort reused by both windows.
    */
  def q96GapFill(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir).events
      .filter($"user_id" < 10)
      .select($"user_id",
        floor(unix_timestamp($"ts") / 86400).cast("long").as("day_id"),
        $"value")
    val daily = ev.groupBy($"user_id", $"day_id")
      .agg(round(max($"value"), 4).as("v"))
    val spine = daily.groupBy($"user_id")
      .agg(min($"day_id").as("d0"), max($"day_id").as("d1"))
      .select($"user_id", explode(sequence($"d0", $"d1")).as("day_id"))
    val w = Window.partitionBy($"user_id").orderBy($"day_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("user_id", "day_id"), "left")
      .withColumn("grp", count($"v").over(w))
      .withColumn("v_filled",
        max($"v").over(Window.partitionBy($"user_id", $"grp")))
      .select($"user_id", $"day_id", $"v_filled", $"v".isNull.as("is_gap"))
      .orderBy($"user_id", $"day_id")
  }

  val q96Sql: String =
    """WITH e AS (
      |  SELECT user_id,
      |         CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT) AS day_id,
      |         value
      |  FROM events WHERE user_id < 10),
      |daily AS (
      |  SELECT user_id, day_id, round(max(value), 4) AS v
      |  FROM e GROUP BY user_id, day_id),
      |spine AS (
      |  SELECT user_id, CAST(unnest(range(d0, d1 + 1)) AS BIGINT) AS day_id
      |  FROM (SELECT user_id, min(day_id) AS d0, max(day_id) AS d1
      |        FROM daily GROUP BY user_id)),
      |j AS (
      |  SELECT s.user_id, s.day_id, d.v,
      |         count(d.v) OVER (PARTITION BY s.user_id ORDER BY s.day_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      |  FROM spine s LEFT JOIN daily d
      |    ON s.user_id = d.user_id AND s.day_id = d.day_id)
      |SELECT user_id, day_id,
      |  max(v) OVER (PARTITION BY user_id, grp) AS v_filled,
      |  v IS NULL AS is_gap
      |FROM j
      |ORDER BY user_id, day_id""".stripMargin

  /** Hopping (sliding) window aggregate: 1-hour windows advancing every
    * 15 minutes — the batch twin of a streaming hopping-window agg, via
    * Spark's built-in `window(ts, "1 hour", "15 minutes")`, which expands
    * each event into its windowLength/slide = 4 owning windows inside the
    * projection (row-local fan-out, no join) and aggregates once.
    *
    * Scale: the shuffle payload is 4× the tumbling equivalent — the
    * fan-out factor is the knob, chosen here, not a surprise — and the
    * aggregate is still partial+final. Exact distinct users adds a
    * second shuffle keyed by (window, user); at larger cardinalities the
    * q41 HLL path drops it to one.
    */
  def q97HoppingWindow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).events
      .select(window($"ts", "1 hour", "15 minutes").as("w"), $"user_id")
      .groupBy(unix_timestamp($"w.start").as("win_start"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"))
      .orderBy($"win_start")
  }

  val q97Sql: String =
    """WITH e AS (
      |  SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 900) AS BIGINT) * 900
      |           AS f15,
      |         user_id
      |  FROM events)
      |SELECT f15 - 900 * k AS win_start,
      |  count(*) AS n_events,
      |  count(DISTINCT user_id) AS n_users
      |FROM e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k)
      |GROUP BY win_start
      |ORDER BY win_start""".stripMargin

  /** Overlapping-interval union (merge) per key — the general form of
    * gap-sessionization: q46's "new session when gap > G" rule breaks
    * when intervals have VARIABLE lengths and can nest (a long interval
    * swallowing later short ones). The correct island test compares each
    * start against the running max of all PRIOR ends, which handles
    * nesting; islands then aggregate to merged spans.
    *
    * Used for: converting per-event validity intervals (cache leases,
    * content locks, speaker turns in audio) into disjoint coverage
    * spans + an overlap-compression ratio. One shuffle on the key, one
    * sort by start shared by both windows, island aggregate on the same
    * key — three stages, none carrying more than the interval rows.
    */
  def q98IntervalMerge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val iv = Tables(spark, dir).events
      .filter($"user_id" < 50)
      .select($"user_id",
        unix_timestamp($"ts").as("s"),
        (unix_timestamp($"ts") + round($"value" * 600).cast("long") + 60L).as("e"),
        $"event_id")
    val byU = Window.partitionBy($"user_id").orderBy($"s", $"event_id")
    val prior = byU.rowsBetween(Window.unboundedPreceding, -1)
    val islands = iv
      .withColumn("max_prior_end", max($"e").over(prior))
      .withColumn("is_new",
        when($"max_prior_end".isNull || $"s" > $"max_prior_end", 1L).otherwise(0L))
      .withColumn("island", sum($"is_new").over(byU))
    islands
      .groupBy($"user_id", $"island")
      .agg(min($"s").as("span_s"), max($"e").as("span_e"),
        count(lit(1)).as("n_merged"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_spans"),
        sum($"n_merged").as("n_intervals"),
        sum($"span_e" - $"span_s").as("covered_s"))
      .orderBy($"user_id")
  }

  val q98Sql: String =
    """WITH iv AS (
      |  SELECT user_id,
      |         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS s,
      |         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
      |           + CAST(round(value * 600) AS BIGINT) + 60 AS e,
      |         event_id
      |  FROM events WHERE user_id < 50),
      |m AS (
      |  SELECT *, max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_prior_end
      |  FROM iv),
      |isl AS (
      |  SELECT *, sum(CASE WHEN max_prior_end IS NULL OR s > max_prior_end
      |                     THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY user_id ORDER BY s, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM m),
      |spans AS (
      |  SELECT user_id, island, min(s) AS span_s, max(e) AS span_e,
      |         count(*) AS n_merged
      |  FROM isl GROUP BY user_id, island)
      |SELECT user_id, count(*) AS n_spans,
      |  CAST(sum(n_merged) AS BIGINT) AS n_intervals,
      |  CAST(sum(span_e - span_s) AS BIGINT) AS covered_s
      |FROM spans GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Per-key rate limiting / quota enforcement: each user keeps at most
    * K events per hour (first-come by event time, deterministic
    * event_id tie-break), the rest are shed. The ingestion-control
    * primitive in front of a pipeline — dedup bounds distinct content,
    * this bounds per-producer VOLUME (a runaway collector cannot flood
    * a partition). Reported as per-hour admission totals.
    *
    * One window over (user, hour) — the q7 latest-per-key sort shape
    * with a keep-K instead of keep-1 — then a per-hour aggregate of
    * admission flags. The streaming twin
    * (EventsStreaming.throttle) enforces the same quota incrementally
    * with one counter per open (user, hour) of state.
    */
  def q112RateLimit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val K = 3
    val ev = Tables(spark, dir).events
      .select($"event_id", $"user_id", unix_timestamp($"ts").as("sec"))
      .withColumn("hour_id", expr("sec div 3600"))
    val w = Window.partitionBy($"user_id", $"hour_id")
      .orderBy($"sec", $"event_id")
    ev.withColumn("rn", row_number().over(w))
      .withColumn("kept", $"rn" <= K)
      .groupBy($"hour_id")
      .agg(
        count(lit(1)).as("n_in"),
        sum(when($"kept", 1L).otherwise(0L)).as("n_kept"),
        sum(when($"kept", 0L).otherwise(1L)).as("n_dropped"),
        countDistinct(when(!$"kept", $"user_id")).as("n_users_throttled"))
      .orderBy($"hour_id")
  }

  val q112Sql: String =
    """WITH e AS (
      |  SELECT event_id, user_id,
      |         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec
      |  FROM events),
      |r AS (
      |  SELECT *, sec // 3600 AS hour_id,
      |         row_number() OVER (PARTITION BY user_id, sec // 3600
      |                            ORDER BY sec, event_id) AS rn
      |  FROM e)
      |SELECT hour_id,
      |  count(*) AS n_in,
      |  CAST(sum(CASE WHEN rn <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(sum(CASE WHEN rn <= 3 THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
      |  count(DISTINCT CASE WHEN rn > 3 THEN user_id END) AS n_users_throttled
      |FROM r GROUP BY hour_id ORDER BY hour_id""".stripMargin

  /** CDC log compaction: apply an ordered insert/update/delete change
    * feed to produce the current snapshot. Distinct from q6's upsert
    * (which only merges inserts/updates): a CDC apply must honor
    * per-key event ORDER and drop keys whose latest change is a
    * delete — the lakehouse "apply changes" primitive behind
    * merge-on-read compaction.
    *
    * The change feed here is the order history read as a log on
    * o_custkey: each order is one change event at (o_orderdate,
    * o_orderkey), a FINISHED status is a delete marker, anything else
    * upserts the price. Latest-change-wins is one row_number over a
    * single custkey-keyed sort — one shuffle, partial-free, and the
    * per-key state the streaming twin would carry is exactly the rn=1
    * row. Keys whose last event deletes them are filtered AFTER the
    * window (not before — an earlier upsert must not resurrect them).
    */
  def q118CdcApply(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wDesc = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".desc, $"o_orderkey".desc)
    Tables(spark, dir).orders
      .select($"o_custkey", $"o_orderkey", $"o_orderdate",
        when($"o_orderstatus" === "F", "D").otherwise("U").as("op"),
        round($"o_totalprice" * 100).cast("long").as("price_cents"))
      .withColumn("rn", row_number().over(wDesc))
      // full-frame count over the SAME ordered window spec — shares the
      // one custkey sort+exchange instead of adding a second window
      // exchange for an unordered partition count
      .withColumn("n_changes", count(lit(1)).over(
        wDesc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter($"rn" === 1 && $"op" =!= "D")
      .select($"o_custkey", $"price_cents".as("current_price_cents"),
        $"o_orderdate".as("as_of"), $"n_changes")
      .orderBy($"o_custkey")
  }

  val q118Sql: String =
    """WITH log AS (
      |  SELECT o_custkey, o_orderkey,
      |         CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
      |         CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      |  FROM orders),
      |r AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn,
      |    count(*) OVER (PARTITION BY o_custkey) AS n_changes
      |  FROM log)
      |SELECT o_custkey, price_cents AS current_price_cents,
      |  o_orderdate AS as_of, CAST(n_changes AS BIGINT) AS n_changes
      |FROM r WHERE rn = 1 AND op <> 'D'
      |ORDER BY o_custkey""".stripMargin

  /** Multi-touch attribution: every purchase credits the click/view
    * touches of the same user in the prior 24 hours, reported per
    * channel under two standard models — last-touch (the final touch
    * takes the conversion) and linear (the conversion's 1000 milli-
    * credits split evenly, integer remainder to the LAST touch so
    * every conversion's credits sum to exactly 1000).
    *
    * The touch↔purchase pairing is q44's lossless band trick at day
    * width: a 24 h lookback spans at most the purchase's own day bucket
    * and the previous one, so the purchase side explodes ×2 and the
    * exact range predicate filters inside a (user, bucket) HASH join —
    * no inequality BNLJ at any scale. Last-touch selection and the
    * per-conversion touch count share one purchase-keyed window sort.
    * Credits are integers end to end (order-independent sums).
    */
  def q125Attribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir).events
    val touches = ev.filter($"event_type".isin("click", "view"))
      .select($"user_id", $"event_type".as("channel"),
        $"ts".as("tts"), $"event_id".as("touch_id"))
      .withColumn("bucket", floor(unix_timestamp($"tts") / 86400))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("conv_id"), $"user_id", $"ts".as("pts"))
      .withColumn("b0", floor(unix_timestamp($"pts") / 86400))
      .withColumn("bucket", explode(array($"b0" - 1, $"b0")))
    val wLast = Window.partitionBy($"conv_id").orderBy($"tts".desc, $"touch_id".desc)
    val credited = purchases.join(touches, Seq("user_id", "bucket"))
      .filter($"tts" < $"pts" && $"tts" >= $"pts" - expr("INTERVAL 24 HOURS"))
      .withColumn("rn", row_number().over(wLast))
      // full-frame count on the same ordered spec — one conv_id
      // sort+exchange serves both the last-touch pick and the touch count
      .withColumn("k", count(lit(1)).over(
        wLast.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("linear_milli",
        expr("1000 div k") + when($"rn" === 1, expr("1000 % k")).otherwise(0L))
    credited
      .groupBy($"channel")
      .agg(count(when($"rn" === 1, 1)).as("last_touch_convs"),
        sum($"linear_milli").as("linear_credit_milli"),
        count(lit(1)).as("n_touches"))
      .orderBy($"channel")
  }

  // micro-truncated ts on both sides — see q36Sql note
  val q125Sql: String =
    """WITH t AS (
      |  SELECT user_id, event_type AS channel, CAST(ts AS TIMESTAMP) AS tts,
      |         event_id AS touch_id
      |  FROM events WHERE event_type IN ('click', 'view')),
      |p AS (
      |  SELECT event_id AS conv_id, user_id, CAST(ts AS TIMESTAMP) AS pts
      |  FROM events WHERE event_type = 'purchase'),
      |m AS (
      |  SELECT p.conv_id, t.channel, t.tts, t.touch_id
      |  FROM p JOIN t ON p.user_id = t.user_id
      |   AND t.tts < p.pts AND t.tts >= p.pts - INTERVAL 24 HOURS),
      |r AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY conv_id
      |                       ORDER BY tts DESC, touch_id DESC) AS rn,
      |    count(*) OVER (PARTITION BY conv_id) AS k
      |  FROM m)
      |SELECT channel,
      |  count(*) FILTER (rn = 1) AS last_touch_convs,
      |  CAST(sum(1000 // k + CASE WHEN rn = 1 THEN 1000 % k ELSE 0 END)
      |    AS BIGINT) AS linear_credit_milli,
      |  count(*) AS n_touches
      |FROM r GROUP BY channel ORDER BY channel""".stripMargin

  /** Rolling engagement: daily active users, trailing-7-day active users,
    * and the DAU/WAU stickiness ratio per day — the canonical product-
    * analytics report, and the canonical "distinct count over a sliding
    * window" trap. A windowed count(DISTINCT) cannot partial-aggregate
    * and re-scans every frame; the scalable rewrite is contribution
    * explosion: each distinct (user, day) row contributes to the 7
    * window-days it is visible in (explode ×7, row-local), then ONE
    * distinct on (user, window_day) and ONE count per day — two
    * bounded-fanout shuffles, no frame re-scans, partial aggregation
    * everywhere. Days with no activity of their own are not reported
    * (inner join with the DAU frame), matching the oracle.
    * Stickiness is an exact-integer ratio, emitted unrounded.
    */
  def q128RollingActive(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val days = Tables(spark, dir).events
      .select($"user_id", to_date($"ts").as("day")).distinct()
    val dau = days.groupBy($"day").agg(count(lit(1)).as("dau"))
    val wau = days
      .select($"user_id",
        explode(sequence($"day", date_add($"day", 6))).as("wday"))
      .distinct()
      .groupBy($"wday").agg(count(lit(1)).as("wau"))
    dau.join(wau, $"day" === $"wday")
      // DATE columns reach the gate as pandas objects on the Spark side
      // but datetime64 from DuckDB — emit midnight timestamps on both
      // sides instead (same lesson as q84's valid_from)
      .select($"day".cast("timestamp").as("day"), $"dau", $"wau",
        ($"dau".cast("double") / $"wau").as("stickiness"))
      .orderBy($"day")
  }

  val q128Sql: String =
    """WITH d AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |dau AS (SELECT day, count(*) AS dau FROM d GROUP BY day),
      |wd AS (
      |  SELECT DISTINCT user_id, day + CAST(i AS INTEGER) AS wday
      |  FROM d, range(0, 7) r(i)),
      |wau AS (SELECT wday, count(*) AS wau FROM wd GROUP BY wday)
      |SELECT CAST(day AS TIMESTAMP) AS day, dau, wau,
      |  CAST(dau AS DOUBLE) / wau AS stickiness
      |FROM dau JOIN wau ON day = wday
      |ORDER BY day""".stripMargin

  /** Growth accounting: each active (user, week) is classified NEW
    * (first week ever), RETAINED (also active the immediately previous
    * week) or RESURRECTED (returning after a gap), and each week's
    * CHURN is derived as last week's actives minus this week's
    * retained — the standard startup growth-decomposition report
    * (new + retained + resurrected − churned = Δactives).
    *
    * One user-keyed sort classifies every activity row (lag over the
    * distinct (user, week) frame); the weekly rollup is key-sized, and
    * churn falls out of a lag over the WEEK frame (5 rows per year) —
    * no user-level anti-join per week pair, which is the naive
    * quadratic formulation. Churn is NULL for a week not preceded by
    * an adjacent active week (nothing to churn from).
    */
  def q129GrowthAccounting(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val weeks = Tables(spark, dir).events
      .select($"user_id", date_trunc("week", $"ts").as("week")).distinct()
    val wUser = Window.partitionBy($"user_id").orderBy($"week")
    val classified = weeks
      .withColumn("prev", lag($"week", 1).over(wUser))
      .withColumn("status",
        when($"prev".isNull, "new")
          .when($"prev" === $"week" - expr("INTERVAL 7 DAYS"), "retained")
          .otherwise("resurrected"))
    val weekly = classified.groupBy($"week")
      .agg(count(lit(1)).as("n_active"),
        count(when($"status" === "new", 1)).as("n_new"),
        count(when($"status" === "retained", 1)).as("n_retained"),
        count(when($"status" === "resurrected", 1)).as("n_resurrected"))
    val wWeek = Window.orderBy($"week")
    weekly
      .withColumn("prev_week", lag($"week", 1).over(wWeek))
      .withColumn("prev_active", lag($"n_active", 1).over(wWeek))
      .withColumn("n_churned",
        when($"prev_week" === $"week" - expr("INTERVAL 7 DAYS"),
          $"prev_active" - $"n_retained"))
      .select($"week", $"n_active", $"n_new", $"n_retained",
        $"n_resurrected", $"n_churned")
      .orderBy($"week")
  }

  val q129Sql: String =
    """WITH w AS (
      |  SELECT DISTINCT user_id,
      |    CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS week
      |  FROM events),
      |c AS (
      |  SELECT *, lag(week) OVER (PARTITION BY user_id ORDER BY week) AS prev
      |  FROM w),
      |s AS (
      |  SELECT week,
      |    count(*) AS n_active,
      |    count(*) FILTER (prev IS NULL) AS n_new,
      |    count(*) FILTER (prev = week - INTERVAL 7 DAYS) AS n_retained,
      |    count(*) FILTER (prev IS NOT NULL
      |                     AND prev <> week - INTERVAL 7 DAYS) AS n_resurrected
      |  FROM c GROUP BY week)
      |SELECT week, n_active, n_new, n_retained, n_resurrected,
      |  CASE WHEN lag(week) OVER (ORDER BY week) = week - INTERVAL 7 DAYS
      |       THEN lag(n_active) OVER (ORDER BY week) - n_retained
      |  END AS n_churned
      |FROM s ORDER BY week""".stripMargin

  /** Incremental materialized-view refresh (delta maintenance): the
    * per-customer order-book aggregate is maintained as STATE
    * (everything before the cut date, the last materialization) plus a
    * DELTA (the new partition), merged algebraically — never by
    * re-aggregating the base table. (count, sum) is a commutative
    * monoid, so refreshed state = state ⊕ agg(delta): a full-outer
    * join of two key-sized relations with coalesce-add, after each
    * side has already collapsed to |keys| rows. avg is DERIVED from
    * the merged sums at read time — merging averages directly is the
    * classic MV bug this operator exists to not have.
    *
    * Scale shape: refresh cost is O(|delta| + |state|), independent of
    * the base table — the whole point at 100 TB, where the base is
    * historical partitions you never rescan. Both pre-aggregates
    * shuffle once on the same key, so AQE plans the merge join on
    * key-sized inputs; in production the state side is the previously
    * written parquet artifact, here it is derived from the same table
    * so the full-recompute oracle can pin merge == recompute exactly
    * (money in long cents; the avg division is performed identically
    * on both engines from the same exact integers).
    */
  def q133ViewDelta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cut = lit("2000-01-01").cast("date")
    def orderBook(df: DataFrame, nc: String, tc: String): DataFrame =
      df.groupBy($"o_custkey")
        .agg(count(lit(1)).as(nc),
          sum(Relational.cents($"o_totalprice")).as(tc))
    val orders = Tables(spark, dir).orders
    val state = orderBook(orders.filter($"o_orderdate" < cut), "n_s", "tc_s")
    val delta = orderBook(orders.filter($"o_orderdate" >= cut), "n_d", "tc_d")
    state.join(delta, Seq("o_custkey"), "full_outer")
      .select($"o_custkey",
        (coalesce($"n_s", lit(0L)) + coalesce($"n_d", lit(0L))).as("n_orders"),
        (coalesce($"tc_s", lit(0L)) + coalesce($"tc_d", lit(0L)))
          .as("total_cents"))
      .withColumn("avg_dollars",
        $"total_cents".cast("double") / $"n_orders" / 100.0)
      .orderBy($"o_custkey")
  }

  /** DuckDB twin: the full recompute the incremental path must equal. */
  val q133Sql: String =
    """SELECT o_custkey, count(*) AS n_orders,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS total_cents,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
      |    / count(*) / 100.0 AS avg_dollars
      |FROM orders
      |GROUP BY o_custkey
      |ORDER BY o_custkey""".stripMargin

  /** q139: clamped-at-zero running inventory balance per supplier — the
    * canonical NON-ASSOCIATIVE per-key sequential fold
    * (b_t = max(0, b_{t-1} + δ_t): a return restocks, a shipment
    * depletes, and demand against an empty shelf is LOST, not owed).
    * The naive expression is a per-key sequential scan — recursion (the
    * DuckDB twin of last resort), or flatMapGroups over a sorted
    * iterator, both of which abandon whole-stage codegen.
    *
    * The clamp has a closed form instead (Lindley's recursion /
    * reflection): with S_t the UNCLAMPED running sum and
    * m_t = min(0, min_{j≤t} S_j) its running floor,
    *   b_t = S_t − m_t,   lost_t = m_{t−1} − m_t,
    * so three window functions over ONE shared (supplier, time) sort —
    * running sum, running min, and the 1-row-lagged running min —
    * replace the sequential fold entirely. Everything stays in
    * whole-stage codegen, one exchange + one sort per key, exact long
    * arithmetic throughout; stockout events are the strict new lows
    * (S_t < m_{t−1}), and total lost demand is −m_T.  The ordering is
    * (shipdate, orderkey, linenumber, delta) — see the tie-policy note
    * in the core — and both engines pin ROWS frames explicitly (the
    * default ORDER BY frame is RANGE in both — ties would alias).
    */
  def q139ClampedBalance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    clampedBalance(Tables(spark, dir).lineitem
      .select($"l_suppkey", $"l_shipdate", $"l_orderkey", $"l_linenumber",
        when($"l_returnflag" === "R", $"l_quantity")
          .otherwise(-$"l_quantity").cast("long").as("delta")))
  }

  /** Frame-level core over (l_suppkey, l_shipdate, l_orderkey,
    * l_linenumber, delta) — the ordering key must be unique per supplier.
    */
  private[graft] def clampedBalance(li: DataFrame): DataFrame = {
    import li.sparkSession.implicits._
    // The fixture's (orderkey, linenumber) is NOT unique (sf0.1 ships a
    // same-key pair with different parts), so delta joins the ordering
    // as the last key: ties then consume before they restock — the
    // conservative policy for stockout accounting — and rows equal in
    // ALL ordering keys are interchangeable w.r.t. the fold, so the
    // result is deterministic even without a total order.
    val ord = Window.partitionBy($"l_suppkey")
      .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber", $"delta")
    val wRun = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPrev = ord.rowsBetween(Window.unboundedPreceding, -1)
    li.withColumn("s", sum($"delta").over(wRun))
      .withColumn("m", least(min($"s").over(wRun), lit(0L)))
      .withColumn("mprev", least(coalesce(min($"s").over(wPrev), lit(0L)), lit(0L)))
      .groupBy($"l_suppkey")
      .agg(
        count(lit(1)).as("n_events"),
        (sum($"delta") - least(min($"s"), lit(0L))).as("end_balance"),
        max($"s" - $"m").as("peak_balance"),
        (-least(min($"s"), lit(0L))).as("lost_demand"),
        sum(($"s" < $"mprev").cast("long")).as("stockouts"))
      .orderBy($"l_suppkey")
  }

  val q139Sql: String =
    """WITH d AS (
      |  SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber,
      |    CAST(CASE WHEN l_returnflag = 'R' THEN l_quantity
      |              ELSE -l_quantity END AS BIGINT) AS delta
      |  FROM lineitem),
      |r AS (
      |  SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber, delta,
      |    sum(delta) OVER w AS s
      |  FROM d
      |  WINDOW w AS (PARTITION BY l_suppkey
      |               ORDER BY l_shipdate, l_orderkey, l_linenumber, delta
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |r2 AS (
      |  SELECT l_suppkey, delta, s,
      |    least(min(s) OVER w2, 0) AS m,
      |    least(coalesce(min(s) OVER w3, 0), 0) AS mprev
      |  FROM r
      |  WINDOW
      |    w2 AS (PARTITION BY l_suppkey
      |           ORDER BY l_shipdate, l_orderkey, l_linenumber, delta
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    w3 AS (PARTITION BY l_suppkey
      |           ORDER BY l_shipdate, l_orderkey, l_linenumber, delta
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      |SELECT l_suppkey,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(delta) - least(min(s), 0) AS BIGINT) AS end_balance,
      |  CAST(max(s - m) AS BIGINT) AS peak_balance,
      |  CAST(-least(min(s), 0) AS BIGINT) AS lost_demand,
      |  CAST(sum(CASE WHEN s < mprev THEN 1 ELSE 0 END) AS BIGINT) AS stockouts
      |FROM r2
      |GROUP BY l_suppkey
      |ORDER BY l_suppkey""".stripMargin

  /** q142: seasonality detection via raw autocorrelation of the hourly
    * event-count series at the three lags that matter for operational
    * traffic (1h adjacency, 24h daily cycle, 168h weekly cycle). The
    * scores decide real pipeline knobs: a strong 24h component argues
    * for day-aligned partitions and day-boundary watermarks; a strong
    * weekly component argues for 7-day retention windows (q128's
    * trailing-7 choice) and week-aligned cohorts (q83/q129).
    *
    * Shape: the raw series collapses to per-hour counts FIRST (one
    * partial+final aggregate — the frame is |hours| rows, ~720 here and
    * bounded by calendar time at any corpus size, so everything after
    * the first aggregate is constant-cost). Each lag's term pairs come
    * from an equi-join of the hourly frame against itself on
    * h₂ = h₁ + lag — hash-joinable, no range scan, and missing hours
    * simply contribute no term (n_terms reports the coverage).
    * Σ x_t·x_{t+lag} and Σ x_t² are exact long sums; the score is their
    * unrounded exact-int-ratio double. The 3-row lag frame rides a
    * constant-size broadcast (the documented BNLJ exception class).
    */
  def q142Periodicity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    periodicityOf(Tables(spark, dir).events
      .select((unix_timestamp($"ts") / 3600).cast("long").as("h")),
      Seq(1L, 24L, 168L))
  }

  /** Frame-level core over per-event hour indices (col `h`). */
  private[graft] def periodicityOf(hours: DataFrame,
      lagHours: Seq[Long]): DataFrame = {
    import hours.sparkSession.implicits._
    val hourly = hours
      .groupBy($"h").agg(count(lit(1)).as("x"))
      .ckpt() // both join sides + the denominator re-read it
    val lags = lagHours.toDF("lag_h")
    val denom = hourly.agg(sum($"x" * $"x").as("den"))
    hourly.crossJoin(broadcast(lags))
      .join(hourly.select($"h".as("h2"), $"x".as("x2")),
        $"h2" === $"h" + $"lag_h")
      .groupBy($"lag_h")
      .agg(count(lit(1)).as("n_terms"),
        sum($"x" * $"x2").as("cross_sum"))
      .crossJoin(broadcast(denom))
      .select($"lag_h", $"n_terms", $"cross_sum",
        ($"cross_sum".cast("double") / $"den").as("score"))
      .orderBy($"lag_h")
  }

  val q142Sql: String =
    """WITH e AS (
      |  SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h FROM events),
      |hr AS (SELECT h, CAST(count(*) AS BIGINT) AS x FROM e GROUP BY 1),
      |den AS (SELECT sum(x * x) AS d FROM hr),
      |lags AS (SELECT unnest([1, 24, 168]) AS lag_h),
      |j AS (
      |  SELECT l.lag_h, CAST(count(*) AS BIGINT) AS n_terms,
      |         CAST(sum(a.x * b.x) AS BIGINT) AS cross_sum
      |  FROM lags l
      |  JOIN hr a ON true
      |  JOIN hr b ON b.h = a.h + l.lag_h
      |  GROUP BY 1)
      |SELECT CAST(lag_h AS BIGINT) AS lag_h, n_terms, cross_sum,
      |  CAST(cross_sum AS DOUBLE) / (SELECT d FROM den) AS score
      |FROM j
      |ORDER BY lag_h""".stripMargin

  /** q155: CUSUM changepoint detection per event type — WHERE did the
    * level of a daily count series shift? q81 flags pointwise outliers
    * and q105/q87 compare two fixed samples; CUSUM answers the
    * sequential question ("find the break date") that monitors data
    * freshness regressions, ingestion cliffs, and behavior shifts.
    *
    * Exactness: the classic statistic S_k = Σ_{i≤k}(n_i − mean) is a
    * running sum of FRACTIONS; scaled by the day count it becomes
    * S'_k = days·prefix_k − k·total — exact int64 end to end (one
    * per-type window prefix sum, row-local arithmetic after). The
    * break is argmax |S'_k| (ties → earliest day); before/after means
    * are exact-int ratios emitted unrounded. Observed days only — a
    * calendar gap-fill (q96) composes upstream if zero-days matter.
    *
    * Scale shape: events collapse to (type, day) counts first — the
    * windows run over days, not events — then one (type)-keyed sort
    * serves the prefix sum, the day index, and the argmax rank.
    */
  def q155Changepoint(spark: SparkSession, dir: String): DataFrame =
    changepointOf(Tables(spark, dir).events)

  private[graft] def changepointOf(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val daily = events
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("n"))
    val wOrd = Window.partitionBy($"event_type").orderBy($"day")
    val wAll = Window.partitionBy($"event_type")
    val cusum = daily
      .withColumn("k", row_number().over(wOrd).cast("long"))
      .withColumn("prefix", sum($"n").over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("days", count(lit(1)).over(wAll))
      .withColumn("total", sum($"n").over(wAll))
      .withColumn("s", $"days" * $"prefix" - $"k" * $"total")
    cusum
      .withColumn("rnk", row_number().over(
        wAll.orderBy(abs($"s").desc, $"day".asc)))
      .filter($"rnk" === 1)
      .select($"event_type",
        date_format($"day", "yyyy-MM-dd").as("cp_date"), $"days", $"total",
        $"s".as("cusum_num"),
        ($"prefix".cast("double") / $"k").as("mean_before"),
        when($"days" > $"k",
          ($"total" - $"prefix").cast("double") / ($"days" - $"k"))
          .as("mean_after"))
      .orderBy($"event_type")
  }

  val q155Sql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |c AS (
      |  SELECT event_type, day, n,
      |    CAST(row_number() OVER w AS BIGINT) AS k,
      |    CAST(sum(n) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |         AS BIGINT) AS prefix,
      |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS days,
      |    CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS total
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day)),
      |s AS (
      |  SELECT event_type, day, k, prefix, days, total,
      |         days * prefix - k * total AS s
      |  FROM c),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY event_type
      |                               ORDER BY abs(s) DESC, day) AS rnk
      |  FROM s)
      |SELECT event_type, strftime(day, '%Y-%m-%d') AS cp_date, days, total,
      |  s AS cusum_num,
      |  CAST(prefix AS DOUBLE) / k AS mean_before,
      |  CASE WHEN days > k
      |       THEN CAST(total - prefix AS DOUBLE) / (days - k) END AS mean_after
      |FROM r WHERE rnk = 1
      |ORDER BY event_type""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("q155_changepoint", q155Changepoint, Some(q155Sql),
      Seq("X-temporal", "X-stats", "Q2"),
      "CUSUM changepoint per event type: exact-integer break-date detection"),
    Q("q142_periodicity", q142Periodicity, Some(q142Sql),
      Seq("X-temporal", "X-stats"),
      "hourly-series autocorrelation at 1h/24h/168h: seasonality scores"),
    Q("q139_clamped_balance", q139ClampedBalance, Some(q139Sql),
      Seq("X-temporal", "X-scale"),
      "clamped running balance via Lindley reflection: windows, not recursion"),
    Q("q133_view_delta", q133ViewDelta, Some(q133Sql), Seq("X-temporal", "X-scale", "A1"),
      "incremental MV refresh: state ⊕ agg(delta) merge equals the full recompute"),
    Q("q36_asof_join", q36AsofJoin, Some(q36Sql), Seq("X-temporal"),
      "as-of join composed from union + last-over-window"),
    Q("q129_growth_accounting", q129GrowthAccounting, Some(q129Sql), Seq("X-temporal"),
      "new/retained/resurrected/churned weekly growth decomposition"),
    Q("q128_rolling_active", q128RollingActive, Some(q128Sql), Seq("X-temporal", "X-scale"),
      "DAU/WAU/stickiness via contribution explosion — no windowed count(DISTINCT)"),
    Q("q125_attribution", q125Attribution, Some(q125Sql), Seq("X-temporal", "X-scale"),
      "multi-touch attribution: last-touch + integer linear credits, banded join"),
    Q("q118_cdc_apply", q118CdcApply, Some(q118Sql), Seq("X-temporal", "S7"),
      "CDC log compaction: latest-change-wins with delete markers honored"),
    Q("q112_rate_limit", q112RateLimit, Some(q112Sql), Seq("X-temporal", "X-scale"),
      "per-user hourly admission quota: keep-K window, per-hour shed totals"),
    Q("q96_gap_fill", q96GapFill, Some(q96Sql), Seq("X-temporal"),
      "per-key daily spine densification with LOCF interpolation"),
    Q("q97_hopping_window", q97HoppingWindow, Some(q97Sql), Seq("X-temporal", "A6"),
      "hopping 1h/15min window aggregate via built-in window()"),
    Q("q98_interval_merge", q98IntervalMerge, Some(q98Sql), Seq("X-temporal"),
      "overlapping-interval union via running-max island detection"),
    Q("q88_session_paths", q88SessionPaths, Some(q88Sql), Seq("X-temporal", "O2"),
      "top within-session 3-step event paths over one user-keyed sort"),
    Q("q83_cohort_retention", q83CohortRetention, Some(q83Sql), Seq("X-temporal"),
      "weekly cohort retention grid from one user-keyed aggregate"),
    Q("q84_scd2", q84Scd2, Some(q84Sql), Seq("X-temporal", "W1"),
      "SCD type-2 validity intervals via run-collapse over one sort"),
    Q("q80_funnel", q80Funnel, Some(q80Sql), Seq("X-temporal"),
      "ordered funnel conversion with strict first-touch event-time steps"),
    Q("q81_anomaly", q81Anomaly, Some(q81Sql), Seq("X-temporal", "X-stats"),
      "trailing-24h z-score anomaly detection over densified hourly counts"),
    Q("q56_range_frame", q56RangeFrame, Some(q56Sql), Seq("W1", "X-temporal"),
      "RANGE-interval window frame: trailing 7-day revenue per customer"),
    Q("q52_temporal_dedup", q52TemporalDedup, Some(q52Sql), Seq("X-temporal", "X-dedup"),
      "keep-first dedup per key within tumbling time buckets"),
    Q("q44_range_join", q44RangeJoin, Some(q44Sql), Seq("X-temporal"),
      "banded range join: hour-bucket equi-join + exact band filter"),
    Q("q46_sessionize", q46Sessionize, Some(q46Sql), Seq("X-temporal"),
      "batch gap-sessionization: lag -> flag -> running sum"),
    Q("q45_heavy_hitters", q45HeavyHitters, Some(q45Sql), Seq("X-stats"),
      "Misra-Gries sketch checked through its containment guarantee"),
    Q("q48_approx_quantile", q48ApproxQuantile, Some(q48Sql), Seq("X-stats"),
      "approx percentile checked against exact rank-error bounds"),
    Q("q41_approx_distinct", q41ApproxDistinct, Some(q41Sql), Seq("X-stats"),
      "HLL approximate distinct bounded against exact"),
    Q("q166_distinct_twin", q166DistinctTwin, Some(q166Sql),
      Seq("X-stats", "X-scale"),
      "q41's Expand-free production twin: HLL aggregate + split single-distinct verify"),
    Q("q37_quantiles", q37Quantiles, Some(q37Sql), Seq("X-stats"),
      "exact interpolated percentiles per group"),
    Q("q38_histogram", q38Histogram, Some(q38Sql), Seq("X-stats"),
      "fixed-width histogram buckets"))
}
