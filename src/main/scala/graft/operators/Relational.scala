package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Relational operator surface (SURVEY.md §2.1–§2.6, §2.8).
  *
  * Each query is the idiomatic Spark expression of one operator family the
  * reference exercises (reference sites cited per query). Design rules, all
  * aimed at the 100 TB case:
  *   - filters/projections are declarative so Catalyst pushes them into the
  *     parquet scan (PushedFilters / ReadSchema pruning);
  *   - small dimensions (`region`, `nation`) are broadcast explicitly —
  *     they stay O(100s) of rows at any scale factor;
  *   - fact⋈fact joins shuffle on their natural keys and rely on AQE for
  *     skew/coalesce; aggregations are partial+final HashAggregate (map-side
  *     combine) by construction;
  *   - every oracle-checked query ends in a deterministic ORDER BY and
  *     rounds floating aggregates, so Spark-vs-DuckDB compares are stable.
  */
object Relational {

  import org.apache.spark.sql.Column

  /** Money aggregates in fixed-point LONG cents.
    *
    * Money columns in the fixtures are exact 2-decimal values, so
    * `round(c * 100)` recovers the integer cent count exactly (the true
    * value IS an integer; the double product sits within ~1e-10 of it,
    * never near a rounding boundary) on both engines. Summing longs keeps
    * the whole hot path in whole-stage-codegen primitives — a decimal sum
    * accumulates BigDecimal objects through the partial and final
    * aggregates, which measured ~0.6–1s of boxing on q1's 600k rows —
    * while staying exact and order-independent (the fix for cross-engine
    * fp drift at 1e9+ magnitudes; a cent sum overflows long only past
    * ~9e16 dollars).
    *
    * The final cents→double conversion (exact below 2^53 cents ≈ $90T)
    * matters for the gate: a DECIMAL output column keeps its scale
    * ("261914319.80") while the oracle harness reads DuckDB decimals as
    * float64 ("261914319.8") — value-equal, string-different. Both
    * engines convert the identical long and divide by 100.0, giving
    * bit-identical doubles and identical strings. Output schemas must
    * stay "pandas-stable": string / bigint / double / bool / timestamp
    * only — never decimal, and oracle SQL must CAST integer sums to
    * BIGINT (DuckDB's HUGEINT reads back as float64).
    */
  private[graft] def cents(c: Column): Column = round(c * 100).cast("long")

  private[graft] def moneySum(c: Column): Column =
    sum(cents(c)).cast("double") / 100.0

  /** Exact mean of a 2-decimal money column: exact cent sum → double →
    * /100 → divide by count. Order-independent, unlike avg(double) whose
    * partial-merge order varies run to run. Deliberately NOT rounded: both
    * engines divide bit-identical doubles, so the quotient is already
    * bit-identical — while round(x, 4) on a value that lands exactly on a
    * 4th-decimal half (common for money/count ratios, e.g. 227673.41875)
    * resolves differently in Spark (decimal-string HALF_UP) vs DuckDB
    * (binary rounding) and flips the last digit.
    */
  private[graft] def moneyAvg(c: Column): Column =
    (sum(cents(c)).cast("double") / 100.0) / count(lit(1))

  /** A1/A4/F1 — multi-aggregate hash group-by (the reference's city summary,
    * /root/reference/spark_jobs/transform_weather.py:151-163), expressed as
    * the classic pricing-summary shape over lineitem. One shuffle; partial
    * aggregation makes the exchange carry only |groups| rows per task.
    */
  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).lineitem
      .filter($"l_shipdate" <= lit("2001-09-02").cast("timestamp"))
      // price·(1−disc)[·(1+tax)] in integer cent units (×1e4 / ×1e6),
      // settled to cents PER LINE with integer `div` — never on a
      // double, where a true .xx50 value is unrepresentable and the
      // two engines round it differently. Line-level settling is both
      // the ledger semantic (each line is a monetary amount) and the
      // overflow-safe one: a settled line is ≤ ~1.3e7 cents, so the
      // long sum has ~7e11 rows of headroom PER GROUP, where summing
      // raw 1e-6-dollar units would overflow around 8e7 rows/group.
      .withColumn("pc", cents($"l_extendedprice"))
      .withColumn("disc_u4", $"pc" * (lit(100L) - cents($"l_discount")))
      .withColumn("disc_cents", expr("(disc_u4 + 50) div 100"))
      .withColumn("charge_cents",
        expr(s"(disc_u4 * (100 + CAST(round(l_tax * 100) AS BIGINT)) + 5000) div 10000"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        round(sum($"l_quantity"), 2).as("sum_qty"),
        moneySum($"l_extendedprice").as("sum_base_price"),
        (sum($"disc_cents").cast("double") / 100.0).as("sum_disc_price"),
        (sum($"charge_cents").cast("double") / 100.0).as("sum_charge"),
        moneyAvg($"l_quantity").as("avg_qty"),
        moneyAvg($"l_extendedprice").as("avg_price"),
        moneyAvg($"l_discount").as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val q1Sql: String =
    """WITH li AS (
      |  SELECT l_returnflag, l_linestatus, l_quantity, l_extendedprice, l_discount,
      |    CAST(round(l_extendedprice * 100) AS BIGINT)
      |      * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS disc_u4,
      |    CAST(round(l_tax * 100) AS BIGINT) AS t100
      |  FROM lineitem
      |  WHERE l_shipdate <= TIMESTAMP '2001-09-02')
      |SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
      |  CAST(sum((disc_u4 + 50) // 100) AS DOUBLE) / 100.0 AS sum_disc_price,
      |  CAST(sum((disc_u4 * (100 + t100) + 5000) // 10000) AS DOUBLE) / 100.0 AS sum_charge,
      |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 / count(*) AS avg_qty,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 / count(*) AS avg_price,
      |  CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) / 100.0 / count(*) AS avg_disc,
      |  count(*) AS count_order
      |FROM li
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** P1–P5/F2/F6/F7 — projection + rename, derived column, CASE-WHEN band,
    * coalesce default, range predicate (reference flatten/enrich surface,
    * /root/reference/spark_jobs/transform_weather.py:98-138). Both the
    * filter and the 6-column projection reach the parquet scan.
    */
  def q2ProjFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).lineitem
      .filter(
        $"l_shipdate" >= lit("1998-01-01").cast("timestamp") &&
          $"l_shipdate" < lit("1999-01-01").cast("timestamp") &&
          $"l_quantity" >= 45)
      .select(
        $"l_orderkey",
        $"l_linenumber",
        // raw IEEE products/differences — bit-identical in any engine;
        // rounding a per-row product invites decimal-vs-binary half-point
        // divergence (rounding belongs on aggregates only)
        ($"l_extendedprice" * (lit(1) - $"l_discount")).as("net_price"),
        when($"l_discount" >= 0.08, "deep")
          .when($"l_discount" >= 0.04, "mid")
          .otherwise("low").as("disc_band"),
        coalesce($"l_tax", lit(0.0)).as("tax"),
        ($"l_extendedprice" - $"l_quantity").as("price_minus_qty"))
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  val q2Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |  l_extendedprice * (1 - l_discount) AS net_price,
      |  CASE WHEN l_discount >= 0.08 THEN 'deep'
      |       WHEN l_discount >= 0.04 THEN 'mid'
      |       ELSE 'low' END AS disc_band,
      |  coalesce(l_tax, 0.0) AS tax,
      |  l_extendedprice - l_quantity AS price_minus_qty
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      |  AND l_shipdate < TIMESTAMP '1999-01-01'
      |  AND l_quantity >= 45
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** J1/J2 — star join: fact ⋈ mid dim ⋈ two broadcast dims (the reference's
    * dim_city / dim_weather_code star, /root/reference/sql/create_weather_tables.sql:42-57).
    * `region`/`nation` are broadcast (constant-size at any SF); orders⋈customer
    * shuffles on custkey and AQE picks the final strategy.
    */
  def q3StarJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    t.orders
      .join(t.customer, $"o_custkey" === $"c_custkey")
      .join(broadcast(t.nation), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(t.region), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(
        moneySum($"o_totalprice").as("revenue"),
        count(lit(1)).as("n_orders"),
        moneyAvg($"c_acctbal").as("avg_acctbal"))
      .orderBy($"r_name", $"n_name")
  }

  val q3Sql: String =
    """SELECT r_name, n_name,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
      |  count(*) AS n_orders,
      |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0 / count(*) AS avg_acctbal
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  /** Left-semi join (EXISTS): orders that contain a max-quantity line.
    * Semi joins ship only the join key of the probe side — at 100 TB this
    * beats a join+distinct by a full shuffle of the payload columns.
    */
  def q4SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val bigLines = t.lineitem.filter($"l_quantity" >= 49).select($"l_orderkey")
    t.orders
      .join(bigLines, $"o_orderkey" === $"l_orderkey", "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), moneySum($"o_totalprice").as("revenue"))
      .orderBy($"o_orderpriority")
  }

  val q4Sql: String =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** J4 — left-anti join (NOT EXISTS / insert-if-absent seed semantics,
    * /root/reference/sql/create_weather_tables.sql:82): customers that have
    * never placed an URGENT order. The probe side is restricted to
    * `o_orderpriority = '1-URGENT'` because the synthetic fixtures give
    * every customer at least one order of SOME priority — the
    * unrestricted anti-join returned the empty set at every SF, making
    * the oracle row a vacuous 0-rows-vs-0-rows match (r17 verdict). The
    * urgent restriction keeps genuine left-anti semantics (absent-from-
    * the-probe-set) while yielding 18 / 203 / 1986 rows at
    * sf0.001/0.01/0.1, so the per-round hash check proves something.
    */
  def q5AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val urgent = t.orders
      .filter($"o_orderpriority" === "1-URGENT").select($"o_custkey")
    t.customer
      .join(urgent, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name", round($"c_acctbal", 2).as("acctbal"))
      .orderBy($"c_custkey")
  }

  val q5Sql: String =
    """SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** S7/J3 — MERGE/upsert semantics (ON CONFLICT DO UPDATE,
    * /root/reference/dags/weather_etl_pipeline.py:172-192): new slice wins on
    * the natural key, everything else is retained. Implemented as
    * anti-join ∪ staging — the Spark-native decomposition (no JDBC upsert);
    * at warehouse scale the same plan lands on one date partition via
    * dynamic partition overwrite. Result is aggregated so the check hashes
    * the merge outcome, not 600k raw rows.
    */
  def q6MergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables(spark, dir).lineitem
    val cut = lit("2000-01-01").cast("timestamp")
    // prices are exact 2-decimal values: recover integer cents, apply
    // the ×1.1 uplift as ×11 in integer MILS (cents·11 = mils of the
    // uplifted price, exact in any engine) — multiplying the raw double
    // instead would round a binary value on a decimal half-point
    val staging = li.filter($"l_shipdate" >= cut)
      .withColumn("mils", cents($"l_extendedprice") * 11)
    val fact = li.filter($"l_shipdate" < cut)
      .withColumn("mils", cents($"l_extendedprice") * 10)
    val keys = Seq("l_orderkey", "l_linenumber")
    val merged = fact.join(staging.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(staging)
    merged.agg(
      count(lit(1)).as("n_rows"),
      // exact long mils sum → double (exact below 2^53 mils ≈ $9T)
      (sum($"mils").cast("double") / 1000.0).as("total_price"),
      countDistinct($"l_orderkey" * 8 + $"l_linenumber").as("n_keys"))
  }

  val q6Sql: String =
    """WITH staging AS (
      |  SELECT l_orderkey, l_linenumber,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) * 11 AS mils
      |  FROM lineitem WHERE l_shipdate >= TIMESTAMP '2000-01-01'),
      |fact AS (
      |  SELECT l_orderkey, l_linenumber,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) * 10 AS mils
      |  FROM lineitem WHERE l_shipdate < TIMESTAMP '2000-01-01'),
      |merged AS (
      |  SELECT * FROM fact f
      |  WHERE NOT EXISTS (SELECT 1 FROM staging s
      |                    WHERE s.l_orderkey = f.l_orderkey
      |                      AND s.l_linenumber = f.l_linenumber)
      |  UNION ALL SELECT * FROM staging)
      |SELECT count(*) AS n_rows,
      |  CAST(sum(mils) AS DOUBLE) / 1000.0 AS total_price,
      |  count(DISTINCT l_orderkey * 8 + l_linenumber) AS n_keys
      |FROM merged""".stripMargin

  /** W1/O1 — DISTINCT ON rewrite (latest row per group,
    * /root/reference/sql/create_weather_tables.sql:139-148): row_number over
    * (partition, order desc) + rn=1. Single shuffle on the partition key;
    * the full tie-break (orderdate desc, orderkey desc) makes it
    * deterministic — required for the oracle hash.
    */
  def q7LatestPerKey(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate".desc, $"o_orderkey".desc)
    Tables(spark, dir).orders
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"o_custkey", $"o_orderkey", $"o_orderdate", round($"o_totalprice", 2).as("totalprice"))
      .orderBy($"o_custkey")
  }

  val q7Sql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate, round(o_totalprice, 2) AS totalprice
      |FROM (SELECT *, row_number() OVER (
      |        PARTITION BY o_custkey
      |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |      FROM orders)
      |WHERE rn = 1
      |ORDER BY o_custkey""".stripMargin

  /** O2 — global top-k. Spark plans orderBy+limit as TakeOrderedAndProject:
    * each task keeps a k-row heap, the driver merges k·tasks rows — no full
    * sort, no full shuffle, scale-safe.
    */
  def q8TopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).orders
      .select($"o_orderkey", $"o_custkey", round($"o_totalprice", 2).as("totalprice"), $"o_orderpriority")
      .orderBy($"totalprice".desc, $"o_orderkey")
      .limit(10)
  }

  val q8Sql: String =
    """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS totalprice, o_orderpriority
      |FROM orders
      |ORDER BY totalprice DESC, o_orderkey
      |LIMIT 10""".stripMargin

  /** A6/A2 — monthly rollup with a conditional count (the reference's
    * agg_monthly_weather + rainy_days FILTER,
    * /root/reference/sql/create_weather_tables.sql:118-131,157).
    * year/month cast to long on both sides so the schemas hash-match.
    */
  def q9MonthlyRollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).orders
      .groupBy(
        year($"o_orderdate").cast("long").as("o_year"),
        month($"o_orderdate").cast("long").as("o_month"))
      .agg(
        count(lit(1)).as("n_orders"),
        moneySum($"o_totalprice").as("revenue"),
        moneyAvg($"o_totalprice").as("avg_price"),
        count(when($"o_orderstatus" === "F", 1)).as("n_finished"),
        round(max($"o_totalprice"), 2).as("max_price"))
      .orderBy($"o_year", $"o_month")
  }

  val q9Sql: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |  CAST(month(o_orderdate) AS BIGINT) AS o_month,
      |  count(*) AS n_orders,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 / count(*) AS avg_price,
      |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
      |  round(max(o_totalprice), 2) AS max_price
      |FROM orders
      |GROUP BY 1, 2
      |ORDER BY o_year, o_month""".stripMargin

  /** P7/P8/A2–A4 — the weekly-trends view shape
    * (/root/reference/sql/create_weather_tables.sql:151-160): fixed date-range
    * predicate + per-key aggregates with conditional count. The literal
    * range (vs CURRENT_DATE in the view) keeps the fixture check
    * deterministic; the library view uses the relative form.
    */
  def q10DateRange(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).events
      .filter(
        $"ts" >= lit("2024-01-10").cast("timestamp") &&
          $"ts" < lit("2024-01-17").cast("timestamp"))
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_events"),
        // event values are exact 2-decimal money: decimal sum → double
        // (order-independent; see moneySum scaladoc)
        moneySum($"value").as("total_value"),
        moneyAvg($"value").as("avg_value"),
        count(when($"value" > 100, 1)).as("n_big"))
      .orderBy($"event_type")
  }

  val q10Sql: String =
    """SELECT event_type, count(*) AS n_events,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 / count(*) AS avg_value,
      |  count(*) FILTER (WHERE value > 100) AS n_big
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-17'
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Tumbling hourly window aggregate per event type. */
  def q11EventsHourly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).events
      .groupBy(date_trunc("hour", $"ts").as("hour"), $"event_type")
      .agg(count(lit(1)).as("n_events"), moneySum($"value").as("total_value"))
      .orderBy($"hour", $"event_type")
  }

  val q11Sql: String =
    """SELECT date_trunc('hour', ts) AS hour, event_type,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY hour, event_type""".stripMargin

  /** Semi-structured extraction: JSON-path into the `props` payload column
    * (the engine's path for opaque metadata columns; multimodal metadata
    * uses the same pattern). get_json_object is codegen'd — no UDF.
    */
  def q12JsonExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).events
      // JSON parse projected once; the aggregate reuses the extracted column
      .select(get_json_object($"props", "$.k").cast("long").as("k"))
      .groupBy(($"k" % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n"), max($"k").as("max_k"))
      .orderBy($"k_bucket")
  }

  val q12Sql: String =
    """SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket,
      |  count(*) AS n, max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
      |FROM events
      |GROUP BY 1
      |ORDER BY k_bucket""".stripMargin

  /** Hierarchical rollup with grouping-set semantics: per (status,
    * priority) + per-status subtotals + grand total. NULL group markers
    * match ANSI, so the oracle compares directly.
    */
  def q31Rollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).orders
      .rollup($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), moneySum($"o_totalprice").as("revenue"))
      .orderBy($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
  }

  val q31Sql: String =
    """SELECT o_orderstatus, o_orderpriority,
      |  count(*) AS n_orders,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
      |FROM orders
      |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  /** Set operations: customers active early INTERSECT/EXCEPT customers
    * active late (distinct set semantics, like ANSI INTERSECT/EXCEPT).
    */
  def q32SetOps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables(spark, dir).orders
    val cut = lit("1999-01-01").cast("timestamp")
    val early = o.filter($"o_orderdate" < cut).select($"o_custkey")
    val late = o.filter($"o_orderdate" >= cut).select($"o_custkey")
    val both = early.intersect(late).withColumn("cohort", lit("both"))
    val earlyOnly = early.except(late).withColumn("cohort", lit("early_only"))
    both.unionByName(earlyOnly).orderBy($"cohort", $"o_custkey")
  }

  val q32Sql: String =
    """WITH early AS (SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'),
      |late AS (SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01'),
      |both_c AS (SELECT o_custkey, 'both' AS cohort FROM (SELECT * FROM early INTERSECT SELECT * FROM late)),
      |early_only AS (SELECT o_custkey, 'early_only' AS cohort FROM (SELECT * FROM early EXCEPT SELECT * FROM late))
      |SELECT * FROM both_c UNION ALL SELECT * FROM early_only
      |ORDER BY cohort, o_custkey""".stripMargin

  /** Pivot: per-linestatus quantity totals spread across returnflag
    * columns (fixed value list → static schema; the oracle mirrors with
    * FILTER'd aggregates).
    */
  def q33Pivot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).lineitem
      .groupBy($"l_linestatus")
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(round(sum($"l_quantity"), 2))
      .orderBy($"l_linestatus")
  }

  val q33Sql: String =
    """SELECT l_linestatus,
      |  round(sum(l_quantity) FILTER (WHERE l_returnflag = 'A'), 2) AS "A",
      |  round(sum(l_quantity) FILTER (WHERE l_returnflag = 'N'), 2) AS "N",
      |  round(sum(l_quantity) FILTER (WHERE l_returnflag = 'R'), 2) AS "R"
      |FROM lineitem
      |GROUP BY l_linestatus
      |ORDER BY l_linestatus""".stripMargin

  /** UNPIVOT (melt): q33's inverse — a wide per-group metrics row folded
    * into long (group, metric, value) form, the shape feature stores
    * and plotting layers want. Uses Spark's native `unpivot` (plans as
    * an Expand node: each input row emits one output row per metric,
    * row-local, no shuffle beyond the upstream aggregate). All melted
    * measures are exact longs (counts / cents) so the shared `value`
    * column needs no lossy common-type cast.
    */
  def q120Unpivot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).lineitem
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        sum(cents($"l_extendedprice")).as("revenue_cents"),
        sum($"l_quantity".cast("long")).as("sum_qty"))
      .unpivot(Array($"l_returnflag"),
        Array($"n_rows", $"revenue_cents", $"sum_qty"),
        "metric", "value")
      .orderBy($"l_returnflag", $"metric")
  }

  val q120Sql: String =
    """WITH wide AS (
      |  SELECT l_returnflag, count(*) AS n_rows,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |      AS revenue_cents,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, metric, value
      |FROM (UNPIVOT wide ON n_rows, revenue_cents, sum_qty
      |      INTO NAME metric VALUE value)
      |ORDER BY l_returnflag, metric""".stripMargin

  /** The full SQL rank family in one pass — rank / dense_rank /
    * percent_rank / cume_dist over VALUE ties (prices bucketed to
    * thousands so ties actually occur and the four functions genuinely
    * differ). Rank functions are deterministic under ties — they depend
    * only on key comparisons, never on physical row order — so the
    * value columns are engine-portable even though tied rows may arrive
    * in any order; the EMITTED row set is then pinned by a fully-keyed
    * row_number (top-5 per priority). percent_rank and cume_dist are
    * exact integer ratios ((rank−1)/(n−1), rows≤current/n): identical
    * doubles in both engines, emitted unrounded per the
    * exact-ratio policy. Both windows share one partition exchange.
    */
  def q124RankFamily(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // r20 scale shape (guide §2.4, the q115 family): the original ran
    // all four rank functions + the row_number pick as windows
    // partitioned by the 5-value priority — 1/5 of the orders table
    // sorted in ONE task each. But every rank function here depends
    // only on the per-(priority, price_k) COUNT distribution — a frame
    // bounded by the price DOMAIN (price_k = price div 1000, ≤ ~600
    // values), not the corpus: rank = cum − cnt + 1, dense = the
    // group's descending index, percent_rank/cume_dist are their exact
    // ratios (n=1 → 0.0, Spark's own PercentRank branch). The emitted
    // top-5 rows come from the bounded-heap TopKPerKey operator (no
    // sort, ≤ k rows per key per task cross the exchange), and their
    // row_number re-derives on the ≤ 25 survivors. No corpus-scale
    // window remains; both passes share the one scan's pushdown shape.
    val base = Tables(spark, dir).orders
      .select($"o_orderpriority", $"o_orderkey",
        expr("cast(round(o_totalprice) as bigint) div 1000").as("price_k"))
    val wDesc = Window.partitionBy($"o_orderpriority").orderBy($"price_k".desc)
    val stats = base.groupBy($"o_orderpriority", $"price_k")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum($"cnt").over(wDesc))
      .withColumn("dense", row_number().over(wDesc))
      .withColumn("n_p",
        sum($"cnt").over(Window.partitionBy($"o_orderpriority")))
      .withColumn("rnk", $"cum" - $"cnt" + 1L)
      // rank()/dense_rank() are IntegerType — keep the original schema
      .select($"o_orderpriority", $"price_k", $"rnk".cast("int").as("rnk"),
        $"dense".cast("int").as("dense"),
        when($"n_p" > 1, ($"rnk" - 1).cast("double") /
          ($"n_p" - 1).cast("double")).otherwise(0.0).as("pct_rank"),
        ($"cum".cast("double") / $"n_p".cast("double")).as("cume"))
    val pick = Window.partitionBy($"o_orderpriority")
      .orderBy($"price_k".desc, $"o_orderkey")
    graft.plans.TopKPerKey.topKPerKey(base, Seq("o_orderpriority"),
        Seq(graft.plans.TopKPerKey.SortSpec("price_k", desc = true),
          graft.plans.TopKPerKey.SortSpec("o_orderkey")), 5)
      .withColumn("rn", row_number().over(pick))
      .join(broadcast(stats), Seq("o_orderpriority", "price_k"))
      .select($"o_orderpriority", $"rn", $"o_orderkey", $"price_k",
        $"rnk", $"dense", $"pct_rank", $"cume")
      .orderBy($"o_orderpriority", $"rn")
  }

  val q124Sql: String =
    """WITH t AS (
      |  SELECT o_orderpriority, o_orderkey,
      |         CAST(round(o_totalprice) AS BIGINT) // 1000 AS price_k
      |  FROM orders),
      |r AS (
      |  SELECT o_orderpriority, o_orderkey, price_k,
      |    rank() OVER wb AS rnk,
      |    dense_rank() OVER wb AS dense,
      |    percent_rank() OVER wb AS pct_rank,
      |    cume_dist() OVER wb AS cume,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |                       ORDER BY price_k DESC, o_orderkey) AS rn
      |  FROM t
      |  WINDOW wb AS (PARTITION BY o_orderpriority ORDER BY price_k DESC))
      |SELECT o_orderpriority, rn, o_orderkey, price_k,
      |       rnk, dense, pct_rank, cume
      |FROM r WHERE rn <= 5
      |ORDER BY o_orderpriority, rn""".stripMargin

  /** Above-group-average filter — the classic correlated-subquery shape
    * ("parts priced above their brand's average"), decorrelated the way
    * Catalyst rewrites it: one partial+final aggregate per brand
    * broadcast back onto the scan, instead of re-evaluating a subquery
    * per row. The comparison price > avg is INTEGER cross-multiplied
    * (price_cents·n > sum_cents) so no floating-point average ever
    * exists to diverge between engines; premiums are exact cent·n
    * integers scaled back to avg-relative cents via floor division.
    */
  def q126AboveAvg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = Tables(spark, dir).part
      .select($"p_partkey", $"p_brand", cents($"p_retailprice").as("pc"))
    val brandSums = p.groupBy($"p_brand")
      .agg(sum($"pc").as("s"), count(lit(1)).as("n"))
    p.join(broadcast(brandSums), Seq("p_brand"))
      .groupBy($"p_brand")
      .agg(
        max($"n").as("n_parts"),
        sum(when($"pc" * $"n" > $"s", 1L).otherwise(0L)).as("n_above"),
        // max premium over the brand avg, in cents, floor-divided from
        // the exact (pc·n − s) numerator; max of a monotone transform =
        // transform of max, so this is deterministic
        max(when($"pc" * $"n" > $"s",
          expr("(pc * n - s) div n")).otherwise(null)).as("max_premium_cents"))
      .orderBy($"p_brand")
  }

  val q126Sql: String =
    """WITH p AS (
      |  SELECT p_partkey, p_brand,
      |         CAST(round(p_retailprice * 100) AS BIGINT) AS pc
      |  FROM part),
      |b AS (SELECT p_brand, CAST(sum(pc) AS BIGINT) AS s, count(*) AS n
      |      FROM p GROUP BY p_brand)
      |SELECT p.p_brand, max(n) AS n_parts,
      |  CAST(sum(CASE WHEN pc * n > s THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
      |  max(CASE WHEN pc * n > s THEN (pc * n - s) // n END)
      |    AS max_premium_cents
      |FROM p JOIN b USING (p_brand)
      |GROUP BY p.p_brand
      |ORDER BY p.p_brand""".stripMargin

  /** Ordered string aggregation (LISTAGG / string_agg): the top-5 order
    * keys per priority, price-descending, joined into one CSV cell — the
    * "give me the IDs inline" report shape. The danger in a naive
    * listagg is UNBOUNDED per-group state (collect_list of a whole
    * group) and nondeterministic element order; here the window top-5
    * bounds every group's list to ≤ 5 BEFORE the collect, and the
    * elements carry their rank so array_sort fixes the order
    * regardless of arrival — the same bounded-state discipline as
    * q112's keep-K. One window sort + one tiny aggregate.
    */
  def q127StringAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pick = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    // r20 (guide §2.4, the q115/q124 family): the row_number window
    // partitioned by the 5-value priority sorted 1/5 of the orders table
    // per task just to keep 5 rows. TopKPerKey's bounded heap emits the
    // SAME top-5 per priority — (price desc, o_orderkey) is a total
    // order — with ≤ 5·|priorities| rows per task crossing the
    // exchange and no sort anywhere; row_number then re-derives on the
    // ≤ 25 survivors. Output row-identical (DistributedRankSpec).
    graft.plans.TopKPerKey.topKPerKey(
        Tables(spark, dir).orders
          .select($"o_orderpriority", $"o_orderkey", $"o_totalprice"),
        Seq("o_orderpriority"),
        Seq(graft.plans.TopKPerKey.SortSpec("o_totalprice", desc = true),
          graft.plans.TopKPerKey.SortSpec("o_orderkey")), 5)
      .withColumn("rn", row_number().over(pick))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_in_list"),
        array_join(
          transform(
            array_sort(collect_list(struct($"rn", $"o_orderkey"))),
            s => s("o_orderkey").cast("string")),
          ",").as("top_keys_csv"))
      .orderBy($"o_orderpriority")
  }

  val q127Sql: String =
    """WITH r AS (
      |  SELECT o_orderpriority, o_orderkey,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders)
      |SELECT o_orderpriority, count(*) AS n_in_list,
      |  string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY rn)
      |    AS top_keys_csv
      |FROM r WHERE rn <= 5
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Revenue concentration ("whale analysis"): per market segment, the
    * share of order revenue contributed by the top decile of customers —
    * the Pareto check behind account-tiering and risk-of-concentration
    * reports. Two key-sized stages after one fact shuffle: orders
    * aggregate to per-customer cents (the only row-scaled shuffle),
    * customers rank into exact-count deciles per segment (ntile — q115's
    * integer cut, fully tie-broken), and the final rollup compares the
    * decile-1 sum against the segment total. All money stays in exact
    * long cents; the share is an exact-integer ratio emitted unrounded.
    */
  def q130RevenueConcentration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.DistributedRank
    val perCust = Tables(spark, dir).orders
      .groupBy($"o_custkey")
      .agg(sum(cents($"o_totalprice")).as("rev_cents"))
    val seg = Tables(spark, dir).customer
      .select($"c_custkey", $"c_mktsegment")
    // the q115/q55 family: the 5-value PARTITION BY ntile would put 1/5
    // of the customer base in one sort task each, so the decile comes
    // from the gated running row count (descending revenue: past the
    // gate, bucket the NEGATED value)
    val segd = perCust.join(seg, $"o_custkey" === $"c_custkey")
      .withColumn("custs", lit(1L))
    DistributedRank.runningSums(segd, Seq("c_mktsegment"),
        Seq($"rev_cents".desc, $"o_custkey"), -$"rev_cents", "custs")
      .withColumn("tile", DistributedRank.ntile($"cum_custs", $"total_custs", 10))
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        sum($"rev_cents").as("total_cents"),
        sum(when($"tile" === 1, $"rev_cents").otherwise(0L))
          .as("top_decile_cents"))
      .withColumn("top_decile_share",
        $"top_decile_cents".cast("double") / $"total_cents")
      .orderBy($"c_mktsegment")
  }

  val q130Sql: String =
    """WITH pc AS (
      |  SELECT o_custkey,
      |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |           AS rev_cents
      |  FROM orders GROUP BY o_custkey),
      |t AS (
      |  SELECT c_mktsegment, rev_cents,
      |    ntile(10) OVER (PARTITION BY c_mktsegment
      |                    ORDER BY rev_cents DESC, o_custkey) AS tile
      |  FROM pc JOIN customer ON o_custkey = c_custkey)
      |SELECT c_mktsegment, count(*) AS n_customers,
      |  CAST(sum(rev_cents) AS BIGINT) AS total_cents,
      |  CAST(sum(CASE WHEN tile = 1 THEN rev_cents ELSE 0 END) AS BIGINT)
      |    AS top_decile_cents,
      |  CAST(sum(CASE WHEN tile = 1 THEN rev_cents ELSE 0 END) AS DOUBLE)
      |    / sum(rev_cents) AS top_decile_share
      |FROM t GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** Window-frame running aggregate: per-supplier cumulative revenue in
    * shipdate order (rowsBetween frame; deterministic tie-break).
    */
  def q34RunningSum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"l_suppkey")
      .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(spark, dir).lineitem
      .filter($"l_suppkey" <= 2)
      .select($"l_suppkey", $"l_orderkey", $"l_linenumber",
        // exact long-cents running sum (moneySum policy): the frame
        // order makes both engines sum identically, so the old
        // round(, 2) was pure half-point risk on an exact value
        (sum(cents($"l_extendedprice")).over(w).cast("double") / 100.0)
          .as("running_revenue"),
        row_number().over(
          Window.partitionBy($"l_suppkey")
            .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber")).as("rn"))
      .orderBy($"l_suppkey", $"rn")
  }

  val q34Sql: String =
    """SELECT l_suppkey, l_orderkey, l_linenumber,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) OVER (
      |    PARTITION BY l_suppkey
      |    ORDER BY l_shipdate, l_orderkey, l_linenumber
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    / 100.0 AS running_revenue,
      |  row_number() OVER (
      |    PARTITION BY l_suppkey
      |    ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn
      |FROM lineitem
      |WHERE l_suppkey <= 2
      |ORDER BY l_suppkey, rn""".stripMargin

  /** lead/lag analytics: per-customer order-to-order gap in days. */
  def q35LeadLag(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    Tables(spark, dir).orders
      .select($"o_custkey", $"o_orderkey",
        datediff($"o_orderdate", lag($"o_orderdate", 1).over(w)).cast("long").as("days_since_prev"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  val q35Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(datediff('day', lag(o_orderdate, 1) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), o_orderdate) AS BIGINT)
      |    AS days_since_prev
      |FROM orders
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Group-wise top-k through the engine's custom physical operator
    * (graft.plans.TopKPerKey — bounded per-key heaps, partial pass before
    * the shuffle) instead of the window+filter rewrite. The DuckDB oracle
    * is the ANSI row_number formulation — the custom exec must reproduce
    * it row-for-row.
    */
  def q40TopKPerKey(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables(spark, dir).lineitem
    graft.plans.TopKPerKey.topKPerKey(
        li,
        keys = Seq("l_returnflag"),
        order = Seq(
          graft.plans.TopKPerKey.SortSpec("l_extendedprice", desc = true),
          graft.plans.TopKPerKey.SortSpec("l_orderkey"),
          graft.plans.TopKPerKey.SortSpec("l_linenumber")),
        k = 3)
      .select($"l_returnflag", $"l_orderkey", $"l_linenumber",
        round($"l_extendedprice", 2).as("price"))
      .orderBy($"l_returnflag", $"price".desc, $"l_orderkey", $"l_linenumber")
  }

  val q40Sql: String =
    """SELECT l_returnflag, l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
      |FROM (SELECT *, row_number() OVER (
      |        PARTITION BY l_returnflag
      |        ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC) AS rn
      |      FROM lineitem)
      |WHERE rn <= 3
      |ORDER BY l_returnflag, price DESC, l_orderkey, l_linenumber""".stripMargin

  /** Full CUBE over (status, priority): every grouping set including the
    * cross-slices q31's ROLLUP omits. NULL markers match ANSI on both
    * engines; revenue uses the long-cents path like every money
    * aggregate.
    */
  def q54Cube(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).orders
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), moneySum($"o_totalprice").as("revenue"))
      .orderBy($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
  }

  val q54Sql: String =
    """SELECT o_orderstatus, o_orderpriority,
      |  count(*) AS n_orders,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  /** ntile quartile bucketing per group — the stratification shape a
    * training pipeline uses to balance samples by a difficulty/size
    * score. ntile's deterministic tie handling needs a total order, so
    * the rank runs over (price, orderkey).
    *
    * Scale shape (the q115/q124 family): the 5-value PARTITION BY would
    * put 1/5 of the orders table in one sort task each, so the rank is
    * the gated running row count of
    * [[graft.functions.DistributedRank.runningSums]] (one window within
    * the gate, price-bucket offsets past it) and the quartile is ntile
    * arithmetic on the rank and the partition total.
    */
  def q55Ntile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.DistributedRank
    val base = Tables(spark, dir).orders
      .select($"o_orderpriority", $"o_totalprice", $"o_orderkey", lit(1L).as("rows"))
    DistributedRank.runningSums(base, Seq("o_orderpriority"),
        Seq($"o_totalprice", $"o_orderkey"), $"o_totalprice", "rows")
      .withColumn("quartile", DistributedRank.ntile($"cum_rows", $"total_rows", 4))
      .groupBy($"o_orderpriority", $"quartile")
      .agg(count(lit(1)).as("n"), moneyAvg($"o_totalprice").as("avg_price"))
      .orderBy($"o_orderpriority", $"quartile")
  }

  val q55Sql: String =
    """SELECT o_orderpriority, quartile, count(*) AS n,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
      |    / count(*) AS avg_price
      |FROM (SELECT o_orderpriority, o_totalprice,
      |        CAST(ntile(4) OVER (PARTITION BY o_orderpriority
      |                            ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS quartile
      |      FROM orders)
      |GROUP BY o_orderpriority, quartile
      |ORDER BY o_orderpriority, quartile""".stripMargin

  /** Hot-key mitigation surface: the same fact⋈dim join routed through
    * Skew.saltedJoin (deterministic row-hash salt spreads each key over 8
    * sub-partitions; the dim side replicates ×8). Results are identical
    * to the plain join BY CONSTRUCTION — the oracle states the plain
    * join, so the salting machinery itself is what the gate checks.
    */
  def q47SaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val orders = t.orders.select($"o_custkey".as("c_custkey"), $"o_totalprice")
    val cust = t.customer.select($"c_custkey", $"c_mktsegment")
    graft.functions.Skew.saltedJoin(orders, cust, "c_custkey", salt = 8)
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), moneySum($"o_totalprice").as("total_price"))
      .orderBy($"c_mktsegment")
  }

  val q47Sql: String =
    """SELECT c_mktsegment, count(*) AS n_orders,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** Bloom-pre-filtered semi join — the manual form of Spark's runtime
    * row-level filter (spark.sql.optimizer.runtime.bloomFilter), exposed
    * as an operator so a pipeline can build the filter once and push it
    * through an arbitrary dataflow: lineitem rows are probed against a
    * bloom of the high-value order keys BEFORE the shuffle, so only
    * might-match rows (true matches + the tiny false-positive tail)
    * enter the exact left-semi join that guarantees correctness.
    *
    * Why it matters at 100 TB: the semi join alone shuffles the full
    * fact table; the bloom cuts the shuffled volume to ~selectivity ×
    * |fact| at the cost of one broadcast of a fixed-size (here 1 MiB)
    * sketch aggregated distributedly (partial buffers OR-merge; nothing
    * key-sized moves, nothing is collected to the driver). No false
    * negatives → the result is EXACTLY the plain semi join, which is
    * what the oracle checks.
    */
  def q86BloomSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val hot = t.orders.filter($"o_totalprice" > 400000.0)
      .select($"o_orderkey")
    val bloom = hot.select(xxhash64($"o_orderkey").as("h"))
      .agg(graft.functions.Bloom.bloomAgg($"h", 100000L, 8L * 1024 * 1024).as("bf"))
    val survivors = t.lineitem
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
      .filter(graft.functions.Bloom.mightContain(bloom, xxhash64($"l_orderkey")))
    survivors
      .join(hot, $"l_orderkey" === $"o_orderkey", "left_semi")
      .groupBy($"l_orderkey")
      .agg(count(lit(1)).as("n_lines"),
        moneySum($"l_extendedprice").as("gross"))
      .orderBy($"l_orderkey")
  }

  val q86Sql: String =
    """SELECT l_orderkey, count(*) AS n_lines,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
      |    AS gross
      |FROM lineitem
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_orderkey = l_orderkey AND o_totalprice > 400000.0)
      |GROUP BY l_orderkey
      |ORDER BY l_orderkey""".stripMargin

  /** Explicit GROUPING SETS — the general form of q31's ROLLUP / q54's
    * CUBE: the caller names exactly which slices to materialize, here
    * (flag, status), (flag), and the grand total, skipping the
    * (status)-only slice a CUBE would also pay for. Spark expands the
    * sets in a single Expand + one hash aggregate — one scan, one
    * shuffle whose payload is |slices| × |groups| rows, never a re-scan
    * per slice (the naive UNION ALL formulation scans the fact N times,
    * which at 100 TB is N× the I/O bill).
    *
    * Per-column `grouping()` flags (not the packed grouping_id bitmask)
    * keep the output portable: Spark and DuckDB agree on 0/1 per column
    * but could disagree on bit order in the packed form.
    */
  def q93GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).lineitem
      .groupingSets(
        Seq(Seq($"l_returnflag", $"l_linestatus"), Seq($"l_returnflag"), Seq()),
        $"l_returnflag", $"l_linestatus")
      .agg(
        grouping($"l_returnflag").cast("long").as("g_flag"),
        grouping($"l_linestatus").cast("long").as("g_status"),
        count(lit(1)).as("n_lines"),
        sum($"l_quantity").cast("long").as("sum_qty"),
        moneySum($"l_extendedprice").as("revenue"))
      .orderBy($"g_flag", $"g_status",
        $"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
  }

  val q93Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
      |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
      |  count(*) AS n_lines,
      |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
      |    AS revenue
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      |ORDER BY g_flag, g_status,
      |  l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** Snapshot diff / data reconciliation: full-outer join two per-key
    * aggregates of the same table at different logical versions (here:
    * a customer's 1994 vs 1995 order book) and classify every key as
    * added / removed / changed / same. This is the validation primitive
    * behind backfill sign-off ("what did the rerun change?") and
    * cross-system migration checks.
    *
    * Scale shape: each snapshot aggregates down to |keys| rows BEFORE
    * the full-outer join, so the join input is two key-sized relations
    * shuffled on the same key (AQE picks SMJ/hash as sizes dictate) —
    * never fact ⋈ fact. The classification is a codegen'd CASE over the
    * joined row; no second pass.
    */
  def q94SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables(spark, dir).orders
    def snap(yr: Int) = orders
      .filter(year($"o_orderdate") === yr)
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n"), sum(cents($"o_totalprice")).as("rev_c"))
    val a = snap(1994).select($"o_custkey", $"n".as("n_a"), $"rev_c".as("rev_a"))
    val b = snap(1995).select($"o_custkey", $"n".as("n_b"), $"rev_c".as("rev_b"))
    a.join(b, Seq("o_custkey"), "full_outer")
      .select(
        $"o_custkey",
        coalesce($"n_a", lit(0L)).as("n_1994"),
        coalesce($"n_b", lit(0L)).as("n_1995"),
        (coalesce($"rev_a", lit(0L)).cast("double") / 100.0).as("rev_1994"),
        (coalesce($"rev_b", lit(0L)).cast("double") / 100.0).as("rev_1995"),
        when($"n_a".isNull, "added")
          .when($"n_b".isNull, "removed")
          .when($"n_a" =!= $"n_b" || $"rev_a" =!= $"rev_b", "changed")
          .otherwise("same").as("status"))
      .orderBy($"o_custkey")
  }

  val q94Sql: String =
    """WITH a AS (
      |  SELECT o_custkey, count(*) AS n,
      |         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_c
      |  FROM orders WHERE year(o_orderdate) = 1994 GROUP BY o_custkey),
      |b AS (
      |  SELECT o_custkey, count(*) AS n,
      |         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_c
      |  FROM orders WHERE year(o_orderdate) = 1995 GROUP BY o_custkey)
      |SELECT coalesce(a.o_custkey, b.o_custkey) AS o_custkey,
      |  coalesce(a.n, 0) AS n_1994,
      |  coalesce(b.n, 0) AS n_1995,
      |  CAST(coalesce(a.rev_c, 0) AS DOUBLE) / 100.0 AS rev_1994,
      |  CAST(coalesce(b.rev_c, 0) AS DOUBLE) / 100.0 AS rev_1995,
      |  CASE WHEN a.o_custkey IS NULL THEN 'added'
      |       WHEN b.o_custkey IS NULL THEN 'removed'
      |       WHEN a.n <> b.n OR a.rev_c <> b.rev_c THEN 'changed'
      |       ELSE 'same' END AS status
      |FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
      |ORDER BY o_custkey""".stripMargin

  /** Per-brand Pareto frontier (skyline): the parts not dominated on
    * (price, size) within their brand — for every kept part there is no
    * same-brand part that is both cheaper-or-equal and at-least-as-big
    * with strict improvement somewhere. The "efficient frontier" cut
    * behind best-value product pickers and multi-objective pruning.
    *
    * Scale shape: the textbook skyline is an all-pairs NOT EXISTS
    * (the oracle states exactly that — O(n²) per brand). With two
    * criteria a single sort eliminates the quadratic: order each brand
    * by price and keep a row iff (a) every STRICTLY cheaper row has a
    * strictly smaller size (max-size-over-cheaper window) and (b) no
    * price-peer beats its size (max-size-up-to-here window). Both
    * windows share one (brand, price) sort — one exchange, one sort,
    * O(n log n), and brands parallelize across partitions. Equal
    * (price, size) twins dominate neither direction and both survive,
    * matching the NOT EXISTS semantics exactly. Money compares in
    * exact long cents.
    */
  def q132Skyline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = Tables(spark, dir).part
      .select($"p_brand", $"p_partkey",
        cents($"p_retailprice").as("price_cents"),
        $"p_size".cast("long").as("size"))
    val byPrice = Window.partitionBy($"p_brand").orderBy($"price_cents")
    val cheaper = byPrice.rangeBetween(Window.unboundedPreceding, -1)
    val upTo = byPrice.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    p.withColumn("best_cheaper", max($"size").over(cheaper))
      .withColumn("best_up_to", max($"size").over(upTo))
      .filter(($"best_cheaper".isNull || $"best_cheaper" < $"size") &&
        $"best_up_to" === $"size")
      .select($"p_brand", $"p_partkey", $"price_cents", $"size")
      .orderBy($"p_brand", $"price_cents", $"p_partkey")
  }

  /** DuckDB twin: the quadratic dominance definition itself. */
  val q132Sql: String =
    """WITH p AS (
      |  SELECT p_brand, p_partkey,
      |         CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
      |         CAST(p_size AS BIGINT) AS size
      |  FROM part)
      |SELECT r.p_brand, r.p_partkey, r.price_cents, r.size
      |FROM p r
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM p q
      |  WHERE q.p_brand = r.p_brand
      |    AND q.price_cents <= r.price_cents AND q.size >= r.size
      |    AND (q.price_cents < r.price_cents OR q.size > r.size))
      |ORDER BY p_brand, price_cents, p_partkey""".stripMargin

  /** q154: bitmap-index set intersection — pairwise supplier overlap
    * between brands computed on PACKED BITMAPS instead of expanded
    * pairs. The naive plan self-joins the (brand, supplier) relation on
    * supplier — output volume Σ_s (#brands carrying s)², which explodes
    * exactly when suppliers are shared (the interesting case). Here
    * each brand's supplier set packs into ⌈|suppliers|/64⌉ bit_or'd
    * words; the pair comparison joins word-aligned bitmaps (brands² ×
    * words rows, independent of how many suppliers overlap) and counts
    * intersections with codegen'd bit_count(AND). The same layout
    * serves membership tests, unions, and difference — this is the
    * roaring-bitmap/bitmap-index trick on Spark primitives.
    *
    * Scale shape: one distinct shuffle on (brand, supplier), one
    * groupBy (brand, word) bit_or fold (partial+final, commutative),
    * then a word-equi-join over a frame sized brands × words. The
    * DuckDB oracle states the SEMANTICS via the naive distinct
    * intersection — equivalent by construction, quadratic only at
    * oracle scale.
    */
  def q154BitmapOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val bs = t.lineitem.join(t.part, $"p_partkey" === $"l_partkey")
      .select($"p_brand", $"l_suppkey").distinct()
    val words = bs
      .select($"p_brand", expr("l_suppkey div 64").as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(l_suppkey % 64 AS INT))").as("bit"))
      .groupBy($"p_brand", $"word")
      .agg(expr("bit_or(bit)").as("bits"))
    val sizes = words.groupBy($"p_brand")
      .agg(sum(expr("bit_count(bits)")).cast("long").as("n"))
    val overlaps = words.as("a")
      .join(words.as("b"),
        $"a.word" === $"b.word" && $"a.p_brand" < $"b.p_brand")
      .groupBy($"a.p_brand".as("brand_a"), $"b.p_brand".as("brand_b"))
      .agg(sum(expr("bit_count(a.bits & b.bits)")).cast("long").as("n_common"))
      .filter($"n_common" > 0)
    overlaps
      .join(sizes.select($"p_brand".as("brand_a"), $"n".as("n_a")), "brand_a")
      .join(sizes.select($"p_brand".as("brand_b"), $"n".as("n_b")), "brand_b")
      .select($"brand_a", $"brand_b", $"n_a", $"n_b", $"n_common",
        ($"n_common".cast("double") / ($"n_a" + $"n_b" - $"n_common")).as("jaccard"))
      .orderBy($"brand_a", $"brand_b")
  }

  val q154Sql: String =
    """WITH bs AS (
      |  SELECT DISTINCT p_brand, l_suppkey
      |  FROM lineitem JOIN part ON p_partkey = l_partkey),
      |sizes AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n FROM bs GROUP BY 1),
      |ov AS (
      |  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
      |         CAST(count(*) AS BIGINT) AS n_common
      |  FROM bs a JOIN bs b
      |    ON a.l_suppkey = b.l_suppkey AND a.p_brand < b.p_brand
      |  GROUP BY 1, 2)
      |SELECT brand_a, brand_b, sa.n AS n_a, sb.n AS n_b, n_common,
      |  CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
      |FROM ov
      |JOIN sizes sa ON sa.p_brand = brand_a
      |JOIN sizes sb ON sb.p_brand = brand_b
      |WHERE n_common > 0
      |ORDER BY brand_a, brand_b""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("q154_bitmap_overlap", q154BitmapOverlap, Some(q154Sql), Seq("X-scale", "J2"),
      "bitmap-index set intersection: packed-word bit_or/bit_count instead of pair expansion"),
    Q("q132_skyline", q132Skyline, Some(q132Sql), Seq("W1", "X-scale"),
      "per-brand Pareto frontier: two shared-sort windows replace the O(n²) dominance join"),
    Q("q1_agg", q1Agg, Some(q1Sql), Seq("A1", "A4", "A5", "F1", "F2"),
      "multi-aggregate hash group-by (pricing summary)"),
    Q("q86_bloom_semi_join", q86BloomSemiJoin, Some(q86Sql), Seq("J3", "X-scale"),
      "bloom-pre-filtered exact semi join (manual runtime row filter)"),
    Q("q2_proj_filter", q2ProjFilter, Some(q2Sql), Seq("P1", "P3", "P4", "P5", "F6", "F7"),
      "projection + derived cols + CASE band + coalesce + range filter"),
    Q("q3_star_join", q3StarJoin, Some(q3Sql), Seq("J1", "J2"),
      "star join with broadcast dims"),
    Q("q4_semi_join", q4SemiJoin, Some(q4Sql), Seq("J3"),
      "left-semi join (EXISTS)"),
    Q("q5_anti_join", q5AntiJoin, Some(q5Sql), Seq("J4"),
      "left-anti join (NOT EXISTS / insert-if-absent)"),
    Q("q6_merge_upsert", q6MergeUpsert, Some(q6Sql), Seq("S7", "J3", "Q5"),
      "MERGE/upsert via anti-join + union"),
    Q("q7_latest_per_key", q7LatestPerKey, Some(q7Sql), Seq("W1", "O1"),
      "DISTINCT ON rewrite: latest row per key via row_number"),
    Q("q8_topk", q8TopK, Some(q8Sql), Seq("O1", "O2"),
      "global top-k (TakeOrderedAndProject)"),
    Q("q9_monthly_rollup", q9MonthlyRollup, Some(q9Sql), Seq("A6", "A2", "F1"),
      "monthly rollup + conditional count"),
    Q("q10_date_range", q10DateRange, Some(q10Sql), Seq("P7", "P8", "A2", "A3", "A4", "F4", "F5"),
      "date-range filter + weekly-trends aggregates"),
    Q("q11_events_hourly", q11EventsHourly, Some(q11Sql), Seq("A1", "F3"),
      "tumbling hourly window aggregate"),
    Q("q12_json_extract", q12JsonExtract, Some(q12Sql), Seq("P2"),
      "JSON-path extraction from payload column"),
    Q("q31_rollup", q31Rollup, Some(q31Sql), Seq("A6"),
      "hierarchical ROLLUP with subtotals and grand total"),
    Q("q54_cube", q54Cube, Some(q54Sql), Seq("A6"),
      "full CUBE grouping sets incl. cross-slices"),
    Q("q55_ntile", q55Ntile, Some(q55Sql), Seq("W1", "X-sample"),
      "ntile quartile bucketing per group (stratification shape)"),
    Q("q32_setops", q32SetOps, Some(q32Sql), Seq("J3"),
      "INTERSECT/EXCEPT cohort analysis"),
    Q("q33_pivot", q33Pivot, Some(q33Sql), Seq("A1"),
      "pivot with fixed value list"),
    Q("q120_unpivot", q120Unpivot, Some(q120Sql), Seq("A1", "P1"),
      "UNPIVOT/melt: wide metrics row to long form via the Expand node"),
    Q("q124_rank_family", q124RankFamily, Some(q124Sql), Seq("W1"),
      "rank/dense_rank/percent_rank/cume_dist under real value ties"),
    Q("q126_above_avg", q126AboveAvg, Some(q126Sql), Seq("A1", "J1"),
      "decorrelated above-group-average filter, integer cross-multiplied"),
    Q("q127_string_agg", q127StringAgg, Some(q127Sql), Seq("A1", "O2"),
      "ordered LISTAGG bounded by a window top-5 before the collect"),
    Q("q130_revenue_concentration", q130RevenueConcentration, Some(q130Sql), Seq("A1", "W1"),
      "top-decile revenue share per segment, exact long cents end to end"),
    Q("q34_running_sum", q34RunningSum, Some(q34Sql), Seq("W1"),
      "window frame running aggregate"),
    Q("q35_lead_lag", q35LeadLag, Some(q35Sql), Seq("W1"),
      "lag analytics: order-to-order gaps"),
    Q("q40_topk_per_key", q40TopKPerKey, Some(q40Sql), Seq("O2", "X-custom"),
      "group-wise top-k via the custom TopKPerKeyExec operator"),
    Q("q47_salted_join", q47SaltedJoin, Some(q47Sql), Seq("J1", "X-scale"),
      "hot-key salted join: deterministic salt spread, plain-join oracle"),
    Q("q93_grouping_sets", q93GroupingSets, Some(q93Sql), Seq("A6"),
      "explicit GROUPING SETS: caller-chosen slices, one scan, one shuffle"),
    Q("q94_snapshot_diff", q94SnapshotDiff, Some(q94Sql), Seq("J1", "Q2"),
      "snapshot diff: full-outer reconciliation, added/removed/changed/same"))
}
