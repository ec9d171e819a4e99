package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Ckpt.GraftCheckpoint

/** Data-profiling operators — the diagnostics a pipeline runs BEFORE
  * committing a partition strategy at scale. The first question on a new
  * 100 TB table is "which join keys are skewed, and how badly": the
  * answer decides salting factors (graft.functions.Skew), AQE skew-join
  * thresholds, and bucketing column choices.
  *
  * Shape: per-key counts are a partial+final hash aggregate (one shuffle
  * whose payload is |distinct keys| rows, not |rows|); the second-level
  * statistics aggregate a frame that is already tiny. Nothing here
  * collects raw data to the driver.
  */
object Profiling {

  /** Key-distribution profile of one column: cardinality, hottest-key
    * count, exact p95 of the per-key counts, and the skew ratio
    * (hottest key's count over the mean count — 1.0 means perfectly
    * uniform). All portable arithmetic: exact counts, interpolated
    * percentile (q37 precedent), integer-ratio doubles.
    */
  def keySkew(df: DataFrame, keyCol: String, label: String): DataFrame = {
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
    counts.agg(
      lit(label).as("key_col"),
      sum(col("cnt")).as("n_rows"),
      count(lit(1)).as("n_keys"),
      max(col("cnt")).as("max_cnt"),
      round(expr("percentile(cnt, 0.95D)"), 4).as("p95_cnt"),
      // max/mean = max*n_keys/n_rows: exact ints in, one double division
      (max(col("cnt")).cast("double") * count(lit(1)) / sum(col("cnt")))
        .as("skew_ratio"))
  }

  /** Registered surface: profiles of the two natural fact join keys. */
  def q53SkewProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    keySkew(t.orders, "o_custkey", "orders.o_custkey")
      .unionByName(keySkew(t.lineitem, "l_suppkey", "lineitem.l_suppkey"))
      .orderBy($"key_col")
  }

  val q53Sql: String =
    """WITH oc AS (
      |  SELECT count(*) AS cnt FROM orders GROUP BY o_custkey),
      |ls AS (
      |  SELECT count(*) AS cnt FROM lineitem GROUP BY l_suppkey),
      |po AS (
      |  SELECT 'orders.o_custkey' AS key_col,
      |    CAST(sum(cnt) AS BIGINT) AS n_rows, count(*) AS n_keys,
      |    max(cnt) AS max_cnt,
      |    round(quantile_cont(cnt, 0.95), 4) AS p95_cnt,
      |    CAST(max(cnt) AS DOUBLE) * count(*) / sum(cnt) AS skew_ratio
      |  FROM oc),
      |pl AS (
      |  SELECT 'lineitem.l_suppkey' AS key_col,
      |    CAST(sum(cnt) AS BIGINT) AS n_rows, count(*) AS n_keys,
      |    max(cnt) AS max_cnt,
      |    round(quantile_cont(cnt, 0.95), 4) AS p95_cnt,
      |    CAST(max(cnt) AS DOUBLE) * count(*) / sum(cnt) AS skew_ratio
      |  FROM ls)
      |SELECT * FROM po UNION ALL SELECT * FROM pl
      |ORDER BY key_col""".stripMargin

  /** Per-group Pearson correlation by SUFFICIENT STATISTICS — the
    * one-pass distributed pattern for second-moment analytics: each
    * group reduces to six exact integer sums (n, Σx, Σy, Σxy, Σx², Σy²)
    * in a single partial+final aggregate, and the correlation is pure
    * arithmetic over them. That shape is why it scales: the shuffle
    * payload is six longs per group regardless of group size, and the
    * sums are mergeable across any partitioning (the same reason
    * count/sum sketches work). Here: corr(n_chars, word_count) per
    * source — a drift check between the stored length metadata and the
    * actual text.
    *
    * ORACLE-EXACT float: the covariance/variance terms are exact BIGINTs
    * (documented bound: n·Σx² < 2⁶³ — at larger scale promote the sums
    * to DECIMAL(38,0), same formula); each converts exactly to double
    * (< 2⁵³), and IEEE-754 sqrt/division are correctly rounded in both
    * engines, so the double is bit-identical, never approximated.
    * Degenerate variance (constant column) → NULL, not NaN.
    */
  def q79CorrStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables(spark, dir).documents.select($"source",
      $"n_chars".cast("long").as("x"),
      size(split($"text", " ")).cast("long").as("y"))
    val s = d.groupBy($"source").agg(
      count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
      sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"),
      sum($"y" * $"y").as("syy"))
    val dx = $"n" * $"sxx" - $"sx" * $"sx"
    val dy = $"n" * $"syy" - $"sy" * $"sy"
    s.select($"source", $"n", $"sx", $"sy", $"sxy", $"sxx", $"syy",
        when(dx > 0 && dy > 0,
          ($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
            (sqrt(dx.cast("double")) * sqrt(dy.cast("double"))))
          .as("corr"))
      .orderBy($"source")
  }

  val q79Sql: String =
    """WITH d AS (
      |  SELECT source, CAST(n_chars AS BIGINT) AS x,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS y
      |  FROM documents),
      |s AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM d GROUP BY source)
      |SELECT source, n, sx, sy, sxy, sxx, syy,
      |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
      |    CAST(n * sxy - sx * sy AS DOUBLE)
      |      / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      |         * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
      |  END AS corr
      |FROM s ORDER BY source""".stripMargin

  /** Deequ-style column profile of the fact table: per column — null
    * count, exact distinct count, min/max (numeric and string tracked
    * in typed slots), completeness ratio.
    *
    * Shape, chosen for the global (no-group-key) case: the null/min/max
    * stats ride ONE wide non-distinct aggregate (partial+final, tiny
    * payload), unpivoted with explode (q80's pattern). The exact
    * distinct counts deliberately do NOT use multi-countDistinct: with
    * no grouping key that plans as an Expand (×#columns row multiplier)
    * whose final aggregate collapses onto a single reducer — measured
    * 19s vs 1.4s at sf0.1. Instead each row explodes into (column,
    * value) pairs and a two-level aggregate counts distincts: level 1
    * groups by (column, value) — map-side combine collapses repeats
    * BEFORE the shuffle, so the exchanged payload is the per-partition
    * distinct set, not the row stream — and level 2 is a #columns-row
    * count. At 100 TB swap level 1+2 for approx_count_distinct per
    * column if the 1%-error trade is acceptable; the report schema is
    * unchanged (the oracle needs exact).
    */
  def q85ColumnProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val numCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val strCols = Seq("l_returnflag", "l_linestatus")
    val li = Tables(spark, dir).lineitem
    def distincts(cols: Seq[String], toPair: String => Column): DataFrame =
      li.select(explode(array(cols.map(toPair): _*)).as("p"))
        .filter($"p.v".isNotNull)
        .groupBy($"p.c".as("column_name"), $"p.v")
        .agg(count(lit(1)).as("occurrences"))
        .groupBy($"column_name")
        .agg(count(lit(1)).as("n_distinct"))
    val nd = distincts(numCols,
        c => struct(lit(c).as("c"), col(c).cast("double").as("v")))
      .unionByName(distincts(strCols,
        c => struct(lit(c).as("c"), col(c).cast("string").as("v"))))
    val aggs = Seq(count(lit(1)).as("n_rows")) ++
      (numCols ++ strCols).map { c =>
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nn")
      } ++
      numCols.flatMap(c => Seq(min(col(c)).as(s"${c}_mn"), max(col(c)).as(s"${c}_mx"))) ++
      strCols.flatMap(c => Seq(min(col(c)).as(s"${c}_mn"), max(col(c)).as(s"${c}_mx")))
    val one = li.agg(aggs.head, aggs.tail: _*)
    val rows = numCols.map { c =>
      struct(lit(c).as("column_name"), col(s"${c}_nn").as("n_null"),
        col(s"${c}_mn").cast("double").as("min_num"),
        col(s"${c}_mx").cast("double").as("max_num"),
        lit(null: String).as("min_str"), lit(null: String).as("max_str"))
    } ++ strCols.map { c =>
      struct(lit(c).as("column_name"), col(s"${c}_nn").as("n_null"),
        lit(null).cast("double").as("min_num"), lit(null).cast("double").as("max_num"),
        col(s"${c}_mn").as("min_str"), col(s"${c}_mx").as("max_str"))
    }
    one.select($"n_rows", explode(array(rows: _*)).as("r"))
      .select($"r.column_name", $"n_rows", $"r.n_null",
        $"r.min_num", $"r.max_num", $"r.min_str", $"r.max_str",
        (($"n_rows" - $"r.n_null").cast("double") / $"n_rows").as("completeness"))
      .join(broadcast(nd), Seq("column_name"), "left")
      .select($"column_name", $"n_rows", $"n_null",
        coalesce($"n_distinct", lit(0L)).as("n_distinct"),
        $"min_num", $"max_num", $"min_str", $"max_str", $"completeness")
      .orderBy($"column_name")
  }

  val q85Sql: String = {
    def num(c: String) =
      s"""SELECT '$c' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(*) - count($c) AS BIGINT) AS n_null,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(min($c) AS DOUBLE) AS min_num, CAST(max($c) AS DOUBLE) AS max_num,
         |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str,
         |  CAST(count($c) AS DOUBLE) / count(*) AS completeness
         |FROM lineitem""".stripMargin
    def str(c: String) =
      s"""SELECT '$c' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(*) - count($c) AS BIGINT) AS n_null,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
         |  min($c) AS min_str, max($c) AS max_str,
         |  CAST(count($c) AS DOUBLE) / count(*) AS completeness
         |FROM lineitem""".stripMargin
    (Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map(num) ++
      Seq("l_returnflag", "l_linestatus").map(str))
      .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  }

  /** Categorical drift detection between the two halves of the event
    * stream's time range: a 2×k contingency table of event_type counts,
    * reported as per-cell chi-square contributions and standardized
    * residuals — the check a pipeline runs when yesterday's ingest might
    * not look like last month's.
    *
    * The table is ONE partial+final aggregate over (type, half) — the
    * raw stream never re-shuffles — and the expected counts ride a
    * window over the k-row result. Float discipline (q79/q81): every
    * double here is a single correctly-rounded op chain over exact
    * integers (e = row·col/N one division; residual (o−e)/√e one sqrt,
    * one subtract, one divide), identical per-row in both engines, and
    * contributions are reported PER CELL, never summed in floating
    * point (a cross-row double sum would be partial-order-dependent).
    */
  def q87Drift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val ev = Tables(spark, dir).events
      .select($"event_type", unix_timestamp($"ts").as("sec"))
    // Column `/` is double division — floor+cast keeps mid an exact long
    // (epoch seconds ≪ 2^52, so the double quotient is exact pre-floor)
    val mid = ev.agg((min($"sec") +
      floor((max($"sec") - min($"sec") + 1) / 2).cast("long")).as("mid"))
    val cells = ev.crossJoin(broadcast(mid))
      .groupBy($"event_type")
      .agg(
        sum(when($"sec" < $"mid", 1L).otherwise(0L)).as("cnt_p0"),
        sum(when($"sec" >= $"mid", 1L).otherwise(0L)).as("cnt_p1"))
    val wAll = Window.partitionBy(lit(1))
    val n = ($"tot_p0" + $"tot_p1").cast("double")
    val e0 = (($"cnt_p0" + $"cnt_p1") * $"tot_p0").cast("double") / n
    val e1 = (($"cnt_p0" + $"cnt_p1") * $"tot_p1").cast("double") / n
    cells
      .withColumn("tot_p0", sum($"cnt_p0").over(wAll))
      .withColumn("tot_p1", sum($"cnt_p1").over(wAll))
      .select($"event_type", $"cnt_p0", $"cnt_p1",
        e0.as("exp_p0"), e1.as("exp_p1"),
        (($"cnt_p0" - e0) / sqrt(e0)).as("resid_p0"),
        (($"cnt_p1" - e1) / sqrt(e1)).as("resid_p1"))
      .orderBy($"event_type")
  }

  val q87Sql: String =
    """WITH e AS (
      |  SELECT event_type,
      |         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec
      |  FROM events),
      |m AS (SELECT min(sec) + (max(sec) - min(sec) + 1) // 2 AS mid FROM e),
      |cells AS (
      |  SELECT event_type,
      |    CAST(count(*) FILTER (WHERE sec < mid) AS BIGINT) AS cnt_p0,
      |    CAST(count(*) FILTER (WHERE sec >= mid) AS BIGINT) AS cnt_p1
      |  FROM e CROSS JOIN m GROUP BY event_type),
      |t AS (
      |  SELECT *, CAST(sum(cnt_p0) OVER () AS BIGINT) AS tot_p0,
      |            CAST(sum(cnt_p1) OVER () AS BIGINT) AS tot_p1
      |  FROM cells)
      |SELECT event_type, cnt_p0, cnt_p1,
      |  CAST((cnt_p0 + cnt_p1) * tot_p0 AS DOUBLE) / (tot_p0 + tot_p1) AS exp_p0,
      |  CAST((cnt_p0 + cnt_p1) * tot_p1 AS DOUBLE) / (tot_p0 + tot_p1) AS exp_p1,
      |  (cnt_p0 - CAST((cnt_p0 + cnt_p1) * tot_p0 AS DOUBLE) / (tot_p0 + tot_p1))
      |    / sqrt(CAST((cnt_p0 + cnt_p1) * tot_p0 AS DOUBLE) / (tot_p0 + tot_p1))
      |    AS resid_p0,
      |  (cnt_p1 - CAST((cnt_p0 + cnt_p1) * tot_p1 AS DOUBLE) / (tot_p0 + tot_p1))
      |    / sqrt(CAST((cnt_p0 + cnt_p1) * tot_p1 AS DOUBLE) / (tot_p0 + tot_p1))
      |    AS resid_p1
      |FROM t
      |ORDER BY event_type""".stripMargin

  /** Categorical distribution profile per group: mode (deterministic
    * tie-break), Shannon entropy in bits, distinct count, total. The
    * "is this column worth partitioning on / is this slice degenerate"
    * diagnostic: near-zero entropy means one value dominates (a useless
    * partition key and a red flag for event-collector bugs); entropy
    * near log2(distincts) means uniform spread.
    *
    * Shape: one partial+final aggregate to (group, value) counts — the
    * only shuffle whose payload scales with data — then windows over
    * the counts frame, which is |groups| × |values| rows (here 24 ×
    * |event types|) regardless of row count. Mode tie-break is (count
    * DESC, value ASC) so both engines pick the same winner.
    */
  def q95ModeEntropy(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val counts = Tables(spark, dir).events
      .select(hour($"ts").as("hr"), $"event_type")
      .groupBy($"hr", $"event_type")
      .agg(count(lit(1)).as("cnt"))
    val byHr = Window.partitionBy($"hr")
    val ranked = Window.partitionBy($"hr").orderBy($"cnt".desc, $"event_type".asc)
    val p = $"cnt".cast("double") / $"total".cast("double")
    counts
      .withColumn("total", sum($"cnt").over(byHr))
      .withColumn("rn", row_number().over(ranked))
      .withColumn("bits", -p * log2(p))
      .groupBy($"hr")
      .agg(
        max(when($"rn" === 1, $"event_type")).as("mode_type"),
        max(when($"rn" === 1, $"cnt")).as("mode_cnt"),
        // + 0.0 folds the degenerate group's −0.0 (−1·log2(1)) to +0.0
        // so both engines print "0.0"
        (round(sum($"bits"), 4) + lit(0.0)).as("entropy_bits"),
        count(lit(1)).as("n_types"),
        max($"total").as("total"))
      .orderBy($"hr")
  }

  val q95Sql: String =
    """WITH c AS (
      |  SELECT hour(CAST(ts AS TIMESTAMP)) AS hr, event_type, count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |w AS (
      |  SELECT *, sum(cnt) OVER (PARTITION BY hr) AS total,
      |         row_number() OVER (PARTITION BY hr
      |                            ORDER BY cnt DESC, event_type ASC) AS rn
      |  FROM c)
      |SELECT hr,
      |  max(CASE WHEN rn = 1 THEN event_type END) AS mode_type,
      |  max(CASE WHEN rn = 1 THEN cnt END) AS mode_cnt,
      |  round(sum(-(CAST(cnt AS DOUBLE) / total) *
      |            log2(CAST(cnt AS DOUBLE) / total)), 4) + 0.0 AS entropy_bits,
      |  count(*) AS n_types,
      |  CAST(max(total) AS BIGINT) AS total
      |FROM w GROUP BY hr ORDER BY hr""".stripMargin

  /** Robust outlier detection via median absolute deviation — the
    * heavy-tail-safe twin of q81's z-score: mean/stddev are themselves
    * dragged by the outliers they're meant to flag, while median/MAD
    * have a 50% breakdown point. Flags values beyond 3 robust sigmas
    * (MAD × 1.4826 ≈ σ under normality).
    *
    * Exact MAD is inherently two-pass (the second median is of
    * deviations FROM the first): two percentile aggregates + two
    * key-joins, each shuffle carrying (type)-keyed rows. At 100 TB the
    * one-pass variant swaps `percentile` for `approx_percentile` (the
    * q48 pattern) without changing shape.
    */
  def q104MadOutliers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables(spark, dir).events.select($"event_type", $"value")
    val med = e.groupBy($"event_type")
      .agg(expr("percentile(value, 0.5D)").as("med"))
    val dev = e.join(med, "event_type")
      .select($"event_type", $"value", $"med", abs($"value" - $"med").as("dv"))
    val mad = dev.groupBy($"event_type")
      .agg(expr("percentile(dv, 0.5D)").as("mad"))
    dev.join(mad, "event_type")
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        round(max($"med"), 4).as("med"),
        round(max($"mad"), 4).as("mad"),
        sum(when($"dv" > lit(4.4478) * $"mad", 1L).otherwise(0L))
          .as("n_outliers"))
      .orderBy($"event_type")
  }

  val q104Sql: String =
    """WITH med AS (
      |  SELECT event_type, quantile_cont(value, 0.5) AS med
      |  FROM events GROUP BY event_type),
      |dev AS (
      |  SELECT e.event_type, e.value, med.med, abs(e.value - med.med) AS dv
      |  FROM events e JOIN med USING (event_type)),
      |mad AS (
      |  SELECT event_type, quantile_cont(dv, 0.5) AS mad
      |  FROM dev GROUP BY event_type)
      |SELECT event_type, count(*) AS n,
      |  round(max(dev.med), 4) AS med,
      |  round(max(mad.mad), 4) AS mad,
      |  CAST(sum(CASE WHEN dv > CAST('4.4478' AS DOUBLE) * mad.mad
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM dev JOIN mad USING (event_type)
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Numeric distribution drift via the two-sample Kolmogorov–Smirnov
    * statistic — q87's chi-square handles CATEGORICAL columns; this is
    * its continuous twin: D = sup_x |F_early(x) − F_late(x)| between
    * the time halves of each event type's value distribution.
    *
    * Integer-exact across engines: with n early and m late samples, at
    * each distinct value D's numerator is |cumA·m − cumB·n| — pure
    * counts, no division until the single final quotient. One (type,
    * value) pre-aggregate (the only row-scaled shuffle), then running
    * sums over the compacted distinct-value frame per type.
    */
  def q105KsDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.DistributedRank
    val ev = Tables(spark, dir).events
      .select($"event_type", $"value", unix_timestamp($"ts").as("sec"))
    val mid = ev.agg((min($"sec") +
      floor((max($"sec") - min($"sec") + 1) / 2).cast("long")).as("mid"))
    val cells = ev.crossJoin(broadcast(mid))
      .groupBy($"event_type", $"value")
      .agg(
        sum(when($"sec" < $"mid", 1L).otherwise(0L)).as("ca"),
        sum(when($"sec" >= $"mid", 1L).otherwise(0L)).as("cb"))
    // the q124-class gate (see DistributedRank): the running-sum window
    // is partitioned by the handful of event types, but it runs over
    // the per-(type, value) frame, whose size is the DISTINCT-VALUE
    // count — corpus-scaled for a continuous measure. One gated call
    // carries both (early, late) running counts and their totals.
    DistributedRank.runningSums(cells, Seq("event_type"), Seq($"value"),
        $"value", "ca", "cb")
      .groupBy($"event_type")
      .agg(
        max($"total_ca").as("n"), max($"total_cb").as("m"),
        max(abs($"cum_ca" * $"total_cb" - $"cum_cb" * $"total_ca")).as("ks_num"))
      .filter($"n" > 0 && $"m" > 0)
      .select($"event_type", $"n", $"m", $"ks_num",
        round($"ks_num".cast("double") / ($"n" * $"m").cast("double"), 6)
          .as("ks"))
      .orderBy($"event_type")
  }

  val q105Sql: String =
    """WITH e AS (
      |  SELECT event_type, value,
      |         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec
      |  FROM events),
      |m AS (SELECT min(sec) + (max(sec) - min(sec) + 1) // 2 AS mid FROM e),
      |cells AS (
      |  SELECT event_type, value,
      |    CAST(count(*) FILTER (WHERE sec < mid) AS BIGINT) AS ca,
      |    CAST(count(*) FILTER (WHERE sec >= mid) AS BIGINT) AS cb
      |  FROM e CROSS JOIN m GROUP BY event_type, value),
      |w AS (
      |  SELECT event_type,
      |    sum(ca) OVER (PARTITION BY event_type ORDER BY value
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
      |    sum(cb) OVER (PARTITION BY event_type ORDER BY value
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b,
      |    sum(ca) OVER (PARTITION BY event_type) AS n,
      |    sum(cb) OVER (PARTITION BY event_type) AS m
      |  FROM cells)
      |SELECT event_type,
      |  CAST(max(n) AS BIGINT) AS n, CAST(max(m) AS BIGINT) AS m,
      |  CAST(max(abs(cum_a * m - cum_b * n)) AS BIGINT) AS ks_num,
      |  round(CAST(max(abs(cum_a * m - cum_b * n)) AS DOUBLE)
      |        / (CAST(max(n) AS DOUBLE) * max(m)), 6) AS ks
      |FROM w
      |GROUP BY event_type
      |HAVING max(n) > 0 AND max(m) > 0
      |ORDER BY event_type""".stripMargin

  /** Per-partition content digest: an order-independent XOR fold of
    * row-level md5 fingerprints, per ship-month. The migration/backfill
    * integrity primitive q94's snapshot diff drills into: two systems
    * (or two runs) agree on a partition iff count AND both digest words
    * match — computed WITHOUT sorting, collecting, or moving rows
    * (XOR is commutative/associative, so partial aggregates combine in
    * any order; one shuffle of (month, 2 longs) partials).
    *
    * Money enters the digest as exact long cents and the date as its
    * formatted day — every field integer/string-rendered, so the
    * row key is byte-identical cross-engine.
    */
  def q106TableDigest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def cents(c: Column): Column = round(c * 100).cast("long")
    val key = concat_ws("|",
      $"l_orderkey", $"l_linenumber",
      cents($"l_quantity"), cents($"l_extendedprice"),
      cents($"l_discount"), cents($"l_tax"),
      $"l_returnflag", $"l_linestatus",
      date_format($"l_shipdate", "yyyy-MM-dd"))
    Tables(spark, dir).lineitem
      .select(date_format($"l_shipdate", "yyyy-MM").as("month"),
        md5(key).as("h"))
      .select($"month",
        conv(substring($"h", 1, 8), 16, 10).cast("long").as("h1"),
        conv(substring($"h", 9, 8), 16, 10).cast("long").as("h2"))
      .groupBy($"month")
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(h1)").as("digest1"),
        expr("bit_xor(h2)").as("digest2"))
      .orderBy($"month")
  }

  val q106Sql: String = {
    def fold(start: Int): String = (0 until 8).map { j =>
      val mult = 1L << (4 * (7 - j))
      s"(strpos('0123456789abcdef', substr(h, ${start + j}, 1)) - 1) * $mult"
    }.mkString("(", " + ", ")")
    """WITH r AS (
      |  SELECT strftime(l_shipdate, '%Y-%m') AS month,
      |         md5(l_orderkey || '|' || l_linenumber || '|'
      |             || CAST(round(l_quantity * 100) AS BIGINT) || '|'
      |             || CAST(round(l_extendedprice * 100) AS BIGINT) || '|'
      |             || CAST(round(l_discount * 100) AS BIGINT) || '|'
      |             || CAST(round(l_tax * 100) AS BIGINT) || '|'
      |             || l_returnflag || '|' || l_linestatus || '|'
      |             || strftime(l_shipdate, '%Y-%m-%d')) AS h
      |  FROM lineitem)
      |SELECT month, count(*) AS n_rows,
      |  bit_xor(FOLD1) AS digest1,
      |  bit_xor(FOLD2) AS digest2
      |FROM r GROUP BY month ORDER BY month""".stripMargin
      .replace("FOLD1", fold(1)).replace("FOLD2", fold(9))
  }

  /** Join-output cardinality forecast: |A ⋈ B| = Σ_k cntA(k)·cntB(k),
    * computed from the two per-key count tables BEFORE running the
    * join — the "will this join explode?" pre-flight that decides
    * between plain shuffle, salting (q47), and redesign. Reported per
    * hash bucket of the key space (the same mod-16 partitioning a
    * 16-task shuffle would use), so a skewed bucket — the one that
    * would straggle — is visible in the forecast, with its hottest
    * key named.
    *
    * Cost: two key-sized aggregates + one key-sized join — never
    * touches the (potentially enormous) join output itself. The
    * forecast is EXACT for equi-joins (the spec asserts equality with
    * the materialized join's count), unlike NDV-based planner
    * estimates.
    */
  def q109JoinEstimate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val co = t.orders.groupBy($"o_custkey".as("k"))
      .agg(count(lit(1)).as("ca"))
    val cc = t.customer.groupBy($"c_custkey".as("k"))
      .agg(count(lit(1)).as("cb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"bucket").orderBy($"contrib".desc, $"k".desc)
    co.join(cc, "k")
      .select($"k", ($"k" % 16).as("bucket"), ($"ca" * $"cb").as("contrib"))
      .withColumn("rn", row_number().over(w))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_keys"),
        sum($"contrib").as("est_rows"),
        max($"contrib").as("max_key_rows"),
        max(when($"rn" === 1, $"k")).as("hottest_key"))
      .orderBy($"bucket")
  }

  val q109Sql: String =
    """WITH co AS (SELECT o_custkey AS k, count(*) AS ca
      |            FROM orders GROUP BY 1),
      |cc AS (SELECT c_custkey AS k, count(*) AS cb
      |       FROM customer GROUP BY 1),
      |j AS (SELECT co.k, co.k % 16 AS bucket, ca * cb AS contrib
      |      FROM co JOIN cc ON co.k = cc.k),
      |r AS (SELECT *, row_number() OVER (PARTITION BY bucket
      |        ORDER BY contrib DESC, k DESC) AS rn FROM j)
      |SELECT bucket, count(*) AS n_keys,
      |  CAST(sum(contrib) AS BIGINT) AS est_rows,
      |  CAST(max(contrib) AS BIGINT) AS max_key_rows,
      |  max(CASE WHEN rn = 1 THEN k END) AS hottest_key
      |FROM r GROUP BY bucket ORDER BY bucket""".stripMargin

  /** Time-decayed popularity with integer power-of-two half-life decay:
    * an order's weight halves every 365 days of age, expressed as
    * milli-weight = 1000 >> min(age_days div 365, 10) — pure integer
    * shifts, no exp()/libm, order-independent sums. The
    * recency-weighting primitive for trending-item stats and
    * freshness-aware sampling, where a plain count would let dead
    * history dominate. Age anchors at the corpus max date (derived, so
    * reruns are stable — never wall-clock now()).
    *
    * One broadcast of the 1-row anchor, one partial+final aggregate
    * keyed by priority bucket.
    */
  def q113DecayedCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables(spark, dir).orders
    val anchor = orders.agg(max(unix_timestamp($"o_orderdate")).as("t1"))
    orders
      .select($"o_orderpriority",
        unix_timestamp($"o_orderdate").as("t"))
      .crossJoin(broadcast(anchor))
      .withColumn("halvings",
        least(expr("(t1 - t) div (365 * 86400)"), lit(10L)))
      .withColumn("w_milli", expr("shiftright(1000L, cast(halvings AS int))"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum($"w_milli").as("decayed_milli"))
      .orderBy($"o_orderpriority")
  }

  val q113Sql: String =
    """WITH t AS (
      |  SELECT o_orderpriority,
      |         CAST(floor(epoch(o_orderdate)) AS BIGINT) AS t
      |  FROM orders),
      |a AS (SELECT max(t) AS t1 FROM t)
      |SELECT o_orderpriority,
      |  count(*) AS n_orders,
      |  CAST(sum(1000 >> CAST(least((t1 - t) // (365 * 86400), 10) AS INTEGER))
      |    AS BIGINT) AS decayed_milli
      |FROM t CROSS JOIN a
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Benford first-digit forensics on the money column: real
    * transactional amounts follow log10(1 + 1/d); fabricated, capped,
    * or unit-mangled data does not. Reported as per-digit observed vs
    * expected counts with chi-square contributions — the data-quality
    * tripwire a migration (q94/q106) runs on arrival.
    *
    * The digit extraction is string-based (first char of the cent
    * count) — integer-exact and engine-identical, no log10 on the data
    * path; only the nine expected-share CONSTANTS are doubles, emitted
    * as one rounded expectation per digit.
    */
  def q114Benford(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val cents = round($"o_totalprice" * 100).cast("long")
    val counts = Tables(spark, dir).orders
      .select(substring(cents.cast("string"), 1, 1).cast("long").as("digit"))
      .filter($"digit" >= 1)
      .groupBy($"digit").agg(count(lit(1)).as("observed"))
    val total = Window.partitionBy(lit(1))
    counts
      .withColumn("n", sum($"observed").over(total))
      .withColumn("expected",
        round($"n" * log(10.0, lit(1.0) + lit(1.0) / $"digit"), 4))
      .select($"digit", $"observed",
        $"expected",
        round(pow($"observed" - $"expected", 2) / $"expected", 4).as("chi2"))
      .orderBy($"digit")
  }

  val q114Sql: String =
    """WITH d AS (
      |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
      |           AS VARCHAR), 1, 1) AS BIGINT) AS digit
      |  FROM orders),
      |c AS (SELECT digit, count(*) AS observed FROM d WHERE digit >= 1
      |      GROUP BY digit),
      |w AS (SELECT *, CAST(sum(observed) OVER () AS BIGINT) AS n FROM c)
      |SELECT digit, observed,
      |  round(n * log10(1.0 + 1.0 / digit), 4) AS expected,
      |  round(pow(observed - round(n * log10(1.0 + 1.0 / digit), 4), 2)
      |        / round(n * log10(1.0 + 1.0 / digit), 4), 4) AS chi2
      |FROM w ORDER BY digit""".stripMargin

  /** Supervised decile binning with per-bin target rates (the
    * weight-of-evidence shape): order value is cut into 10 equal-count
    * bins and each bin reports its failure ('F' status) rate — the
    * feature-engineering primitive for monotonic-risk features and the
    * fastest answer to "does this feature separate the target at all".
    *
    * Exact integer equal-count cuts (ntile semantics — no percentile
    * interpolation on the bin boundary); rates are exact integer
    * ratios emitted as doubles.
    *
    * Scale shape (guide §2.4 — remove the shuffle-to-one-task outright):
    * `ntile(10) OVER (ORDER BY o_totalprice, o_orderkey)` is an
    * UNPARTITIONED window — Spark plans it as a single-partition sort of
    * the whole orders table (the "WindowExec: No Partition Defined"
    * warning); invisible at sf0.1, fatal at 100 TB. Here the rank is the
    * gated running row count of
    * [[graft.functions.DistributedRank.runningSums]] — that one window
    * within the gate, price-bucket offsets past it — and the bin is
    * ntile arithmetic on the rank and the row total
    * ([[graft.functions.DistributedRank.ntile]]). Row-identical to the
    * ntile form (oracle q115Sql; pinned by DistributedRankSpec at both
    * gate settings).
    */
  def q115WoeBins(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.DistributedRank
    val slim = Tables(spark, dir).orders
      .select($"o_orderkey", $"o_totalprice",
        ($"o_orderstatus" === "F").cast("long").as("is_f"), lit(1L).as("rows"))
    DistributedRank.runningSums(slim, Nil, Seq($"o_totalprice", $"o_orderkey"),
        $"o_totalprice", "rows")
      .withColumn("bin", DistributedRank.ntile($"cum_rows", $"total_rows", 10))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n"), sum($"is_f").as("n_f"),
        round(min($"o_totalprice"), 2).as("lo"),
        round(max($"o_totalprice"), 2).as("hi"))
      .select($"bin", $"n", $"n_f",
        ($"n_f".cast("double") / $"n").as("f_rate"), $"lo", $"hi")
      .orderBy($"bin")
  }

  val q115Sql: String =
    """WITH b AS (
      |  SELECT o_orderkey, o_totalprice,
      |         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS is_f,
      |         ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bin
      |  FROM orders)
      |SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n,
      |  CAST(sum(is_f) AS BIGINT) AS n_f,
      |  CAST(sum(is_f) AS DOUBLE) / count(*) AS f_rate,
      |  round(min(o_totalprice), 2) AS lo,
      |  round(max(o_totalprice), 2) AS hi
      |FROM b GROUP BY bin ORDER BY bin""".stripMargin

  /** Per-group least-squares trend: order-value drift over time for
    * each order priority — the "is this segment growing or shrinking"
    * regression a dashboard fits per series. Slope and intercept come
    * from the classic closed form over five sufficient statistics
    * (n, Σx, Σy, Σxy, Σx²) — q79's correlation machinery pointed at
    * the fitted-line coefficients instead of the normalized score.
    *
    * Determinism is the whole design: x is an ANCHORED day number
    * (days since 1995-01-01 — small integers) and y is whole dollars,
    * so all five statistics are exact long sums (order-independent, no
    * fp merge drift). Only the final slope/intercept division is
    * floating point, computed row-locally from identical exact
    * integers in both engines, so parity holds at any SF even once the
    * sums exceed double-exact range. A degenerate group (single date,
    * or n=1) has den=0; slope and intercept are NULLed rather than
    * letting ±Infinity/NaN semantics diverge between engines.
    * One partial+final aggregate — the
    * sufficient-statistics trick is also why this scales: no sort, no
    * window, five longs per group of state.
    */
  def q119RegrTrend(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stats = Tables(spark, dir).orders
      .select($"o_orderpriority",
        datediff($"o_orderdate", lit("1995-01-01")).cast("long").as("x"),
        round($"o_totalprice").cast("long").as("y"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"))
    stats
      .withColumn("den",
        $"n".cast("double") * $"sxx" - $"sx".cast("double") * $"sx")
      .withColumn("slope",
        when($"den" =!= 0d,
          ($"n".cast("double") * $"sxy" - $"sx".cast("double") * $"sy") /
            $"den"))
      .select($"o_orderpriority", $"n",
        round($"slope", 6).as("slope_per_day"),
        round(($"sy".cast("double") - $"slope" * $"sx") / $"n", 2)
          .as("intercept"))
      .orderBy($"o_orderpriority")
  }

  val q119Sql: String =
    """WITH t AS (
      |  SELECT o_orderpriority,
      |         CAST(datediff('day', DATE '1995-01-01',
      |                       CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
      |         CAST(round(o_totalprice) AS BIGINT) AS y
      |  FROM orders),
      |s AS (
      |  SELECT o_orderpriority, count(*) AS n,
      |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |         CAST(sum(x * y) AS BIGINT) AS sxy,
      |         CAST(sum(x * x) AS BIGINT) AS sxx
      |  FROM t GROUP BY o_orderpriority),
      |f AS (
      |  SELECT *,
      |    (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
      |      / NULLIF(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx, 0)
      |      AS slope
      |  FROM s)
      |SELECT o_orderpriority, n,
      |  round(slope, 6) AS slope_per_day,
      |  round((CAST(sy AS DOUBLE) - slope * sx) / n, 2) AS intercept
      |FROM f ORDER BY o_orderpriority""".stripMargin

  /** Count-min sketch point-frequency estimates, checked through the
    * sketch's own guarantees (q41/q45's bounded-sketch oracle pattern):
    * for the 10 hottest event users, the CMS estimate must (a) never
    * undercount — a structural property, every occurrence incremented
    * all Depth counters — and (b) stay within the (3/Width)·N collision
    * bound. The raw estimate is engine-specific (xxhash64 placement), so
    * the oracle asserts the two bounds as literal `true` over the exact
    * counts: an out-of-bound sketch FAILS the gate rather than hiding
    * behind a rows-only check.
    *
    * Scale shape: the sketch is one fixed 8 KiB buffer per task merged
    * associatively (partial+final); the probe side is 10 rows
    * cross-joined against the broadcast 1-row sketch, each estimate a
    * row-local codegen'd array read. Nothing here grows with key
    * cardinality — the whole point of CMS over an exact group-by when
    * only point queries are needed.
    */
  def q123Cms(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val keys = Tables(spark, dir).events.select($"user_id")
    val sketch = keys.agg(
      graft.functions.CountMin.countMin($"user_id").as("sk"),
      count(lit(1)).as("n_total"))
    val top = keys.groupBy($"user_id").agg(count(lit(1)).as("exact"))
      .orderBy($"exact".desc, $"user_id").limit(10)
    top.crossJoin(broadcast(sketch))
      .withColumn("est", graft.functions.CountMin.estimate($"sk", $"user_id"))
      .select($"user_id", $"exact",
        ($"est" >= $"exact").as("never_undercounts"),
        ($"est" <= $"exact" + expr(
          s"(3 * n_total + ${graft.functions.CountMin.Width - 1}) div " +
            s"${graft.functions.CountMin.Width}")).as("within_eps_bound"))
      .orderBy($"exact".desc, $"user_id")
  }

  val q123Sql: String =
    """SELECT user_id, count(*) AS exact,
      |  true AS never_undercounts, true AS within_eps_bound
      |FROM events
      |GROUP BY user_id
      |ORDER BY exact DESC, user_id
      |LIMIT 10""".stripMargin

  /** k-anonymity profile over the (nation, market-segment) quasi-
    * identifier pair: for each k in a standard ladder, how many QI
    * combinations have fewer than k members and how many PEOPLE sit in
    * those re-identifiable combinations — the data-governance pre-check
    * before releasing a "pseudonymized" extract. Reported as a profile
    * (risk curve) rather than a bare risky-combo list so the answer is
    * never vacuously empty on a well-populated table.
    *
    * One combo-keyed aggregate (the only row-scaled shuffle; QI combos
    * are key-sized after it), then the k-ladder fans out ×5 row-locally
    * and rolls up — cost independent of table size beyond the first
    * aggregate.
    */
  def q131KAnonymity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val combos = Tables(spark, dir).customer
      .groupBy($"c_nationkey", $"c_mktsegment")
      .agg(count(lit(1)).as("n"))
    combos
      .crossJoin(broadcast(Seq(2L, 5L, 10L, 20L, 50L).toDF("k")))
      .groupBy($"k")
      .agg(
        sum(when($"n" < $"k", 1L).otherwise(0L)).as("n_risky_combos"),
        sum(when($"n" < $"k", $"n").otherwise(0L)).as("n_exposed_people"),
        min($"n").as("smallest_group"))
      .orderBy($"k")
  }

  val q131Sql: String =
    """WITH combos AS (
      |  SELECT c_nationkey, c_mktsegment, count(*) AS n
      |  FROM customer GROUP BY 1, 2),
      |ks AS (SELECT unnest([2, 5, 10, 20, 50]) AS k)
      |SELECT CAST(k AS BIGINT) AS k,
      |  CAST(sum(CASE WHEN n < k THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_risky_combos,
      |  CAST(sum(CASE WHEN n < k THEN n ELSE 0 END) AS BIGINT)
      |    AS n_exposed_people,
      |  min(n) AS smallest_group
      |FROM combos CROSS JOIN ks
      |GROUP BY k ORDER BY k""".stripMargin

  /** Referential-integrity audit of one FK edge, at KEY granularity.
    *
    * The child collapses to its per-key counts first (one partial+final
    * hash aggregate — shuffle payload is |distinct keys| rows, never
    * |rows|), then left-joins the parent's distinct key set; orphan ROW
    * counts are recovered from the carried per-key counts. At 100 TB both
    * sides of the join are key-sized frames, AQE broadcasts whichever is
    * dimension-small, and the fact table is scanned exactly once with
    * only the key column read (ReadSchema pruning). NULL FKs are reported
    * separately — a NULL is "unknown parent", not an orphan, and lumping
    * the two is how integrity dashboards lie.
    */
  private[graft] def fkAudit(child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String, edge: String): DataFrame = {
    val keyCounts = child.groupBy(col(childKey).as("k"))
      .agg(count(lit(1)).as("cnt"))
    val parentKeys = parent.select(col(parentKey).as("k")).distinct()
      .withColumn("__p", lit(1))
    keyCounts.join(parentKeys, Seq("k"), "left")
      .agg(
        lit(edge).as("edge"),
        sum(col("cnt")).as("child_rows"),
        count(when(col("k").isNotNull, 1)).as("child_keys"),
        coalesce(sum(when(col("k").isNull, col("cnt"))), lit(0L)).as("null_rows"),
        coalesce(sum(when(col("k").isNotNull && col("__p").isNull, col("cnt"))), lit(0L))
          .as("orphan_rows"),
        count(when(col("k").isNotNull && col("__p").isNull, 1)).as("orphan_keys"))
  }

  /** Multi-edge variant of [[fkAudit]] for INTEGRAL-keyed FK edges that
    * share one child table (r19): the child is scanned ONCE and each row
    * explodes row-locally into its |edges| (edge-index, key) pairs; the
    * per-key aggregate, the per-edge parent key sets (tagged by the same
    * index, unioned), the left join and the per-edge finish then run over
    * the tagged stream. Aggregate volume is identical to |edges| separate
    * audits — what changes is the number of full passes over the child
    * (|edges| → 1), which is the dominant term when the child is the
    * 100 TB fact table and scans are IO-bound. Measured trade (r19): at
    * sf0.1 the fused form is ~0.45× (ABBA medians 1.70/2.16 s vs
    * 4.55/4.82 s) and far more rep-stable; at sf1 0.88×; at a
    * single-node PAGE-CACHED sf10 it is ~1.2× SLOWER (warm reps ~9.0 s
    * vs ~7.4 s) — with the 3 scans served from memory, the explode's
    * per-row struct cost exceeds the scan savings. The fusion is the
    * right call exactly when the child does not fit in page cache,
    * i.e. the regime the operator exists for; a deployment auditing a
    * RAM-resident table should prefer |edges| single-edge audits.
    * Keys ride as longs (injective widening for any
    * integral column, so every count is unchanged); per-audit outputs are
    * bit-identical to the single-edge form.
    */
  private[graft] def fkAuditMulti(child: DataFrame,
      edges: Seq[(String, DataFrame, String, String)]): DataFrame = {
    val spark = child.sparkSession
    import spark.implicits._
    // the long-widening below is injective ONLY for integral keys — a
    // string key would cast to NULL and reclassify orphans as null_rows
    // (wrong-but-plausible); enforce the documented contract (ADVICE r19)
    edges.foreach { case (ck, parent, pk, edge) =>
      def integral(df: DataFrame, c: String) = df.schema(c).dataType match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType => true
        case _ => false
      }
      require(integral(child, ck) && integral(parent, pk),
        s"fkAuditMulti($edge): child/parent key columns must be integral " +
          s"(got ${child.schema(ck).dataType.sql}, ${parent.schema(pk).dataType.sql})")
    }
    val exploded = child.select(explode(array(edges.zipWithIndex.map {
        case ((ck, _, _, _), i) =>
          struct(lit(i).as("eid"), col(ck).cast("long").as("k"))
      }: _*)).as("e"))
      .select($"e.eid", $"e.k")
    val keyCounts = exploded.groupBy($"eid", $"k")
      .agg(count(lit(1)).as("cnt"))
    val parentKeys = edges.zipWithIndex.map { case ((_, parent, pk, _), i) =>
        parent.select(col(pk).cast("long").as("k")).distinct()
          .select(lit(i).as("eid"), $"k")
      }.reduce(_.unionByName(_))
      .withColumn("__p", lit(1))
    val names = edges.zipWithIndex
      .map { case ((_, _, _, edge), i) => (i, edge) }.toDF("eid", "edge")
    // names-side outer join + coalesce so an EMPTY child still yields one
    // row per edge with the same values the single-edge global aggregate
    // produces on empty input (child_rows NULL, counts 0)
    names.join(
        broadcast(keyCounts.join(parentKeys, Seq("eid", "k"), "left")
          .groupBy($"eid")
          .agg(
            sum($"cnt").as("child_rows"),
            count(when($"k".isNotNull, 1)).as("child_keys"),
            coalesce(sum(when($"k".isNull, $"cnt")), lit(0L)).as("null_rows"),
            coalesce(sum(when($"k".isNotNull && $"__p".isNull, $"cnt")), lit(0L))
              .as("orphan_rows"),
            count(when($"k".isNotNull && $"__p".isNull, 1)).as("orphan_keys"))),
        Seq("eid"), "left")
      .select($"edge", $"child_rows",
        coalesce($"child_keys", lit(0L)).as("child_keys"),
        coalesce($"null_rows", lit(0L)).as("null_rows"),
        coalesce($"orphan_rows", lit(0L)).as("orphan_rows"),
        coalesce($"orphan_keys", lit(0L)).as("orphan_keys"))
  }

  /** q138: referential-integrity audit of every FK edge in the star
    * schema — the pre-flight a warehouse runs before trusting a join to
    * be lossless (an inner join silently DROPS orphan child rows; this
    * report is the difference between "the join is safe" and "we lost
    * 2% of revenue in the dashboard"). One row per edge: child volume,
    * distinct keys, NULL FKs, orphan rows/keys. The three lineitem
    * edges share one scan of the fact table ([[fkAuditMulti]], r19);
    * the dimension-child edges stay on the single-edge form.
    */
  def q138IntegrityAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    fkAuditMulti(t.lineitem, Seq(
        ("l_orderkey", t.orders, "o_orderkey", "lineitem.l_orderkey->orders"),
        ("l_partkey", t.part, "p_partkey", "lineitem.l_partkey->part"),
        ("l_suppkey", t.supplier, "s_suppkey", "lineitem.l_suppkey->supplier")))
      .unionByName(fkAudit(t.orders, "o_custkey", t.customer, "c_custkey", "orders.o_custkey->customer"))
      .unionByName(fkAudit(t.customer, "c_nationkey", t.nation, "n_nationkey", "customer.c_nationkey->nation"))
      .unionByName(fkAudit(t.supplier, "s_nationkey", t.nation, "n_nationkey", "supplier.s_nationkey->nation"))
      .unionByName(fkAudit(t.nation, "n_regionkey", t.region, "r_regionkey", "nation.n_regionkey->region"))
      .orderBy($"edge")
  }

  val q138Sql: String = {
    def edge(child: String, ck: String, parent: String, pk: String): String =
      s"""SELECT '$child.$ck->$parent' AS edge,
         |  CAST(count(*) AS BIGINT) AS child_rows,
         |  CAST(count(DISTINCT c.$ck) AS BIGINT) AS child_keys,
         |  CAST(count(*) FILTER (c.$ck IS NULL) AS BIGINT) AS null_rows,
         |  CAST(count(*) FILTER (c.$ck IS NOT NULL AND p.$pk IS NULL) AS BIGINT)
         |    AS orphan_rows,
         |  CAST(count(DISTINCT CASE WHEN p.$pk IS NULL THEN c.$ck END) AS BIGINT)
         |    AS orphan_keys
         |FROM $child c LEFT JOIN (SELECT DISTINCT $pk FROM $parent) p
         |  ON c.$ck = p.$pk""".stripMargin
    Seq(
      edge("lineitem", "l_orderkey", "orders", "o_orderkey"),
      edge("lineitem", "l_partkey", "part", "p_partkey"),
      edge("lineitem", "l_suppkey", "supplier", "s_suppkey"),
      edge("orders", "o_custkey", "customer", "c_custkey"),
      edge("customer", "c_nationkey", "nation", "n_nationkey"),
      edge("supplier", "s_nationkey", "nation", "n_nationkey"),
      edge("nation", "n_regionkey", "region", "r_regionkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY edge")
  }

  /** q146: Merkle-style bucket-digest reconciliation between two table
    * versions — the cross-system migration / replica-divergence check
    * that scales. q94 answers "what changed" row-by-row; at 100 TB you
    * first need "WHERE did anything change" without shipping either
    * side: hash every row's content into one of 4,096 key-buckets, fold
    * each bucket to (count, XOR-of-row-md5s), and compare the two
    * 4,096-row digest tables. Matching buckets are PROVEN identical in
    * content-multiset (up to md5 collision); only the differing
    * handful ever get a row-level drill-down (q94). Each side is one
    * scan + one (bucket, 3 longs) shuffle; the comparison is a
    * 4,096-row join.
    *
    * Version B is version A with deterministic planted drift: rows
    * dropped where o_orderkey % 997 = 0 (lost writes) and prices
    * shifted where o_orderkey % 991 = 0 (corruption) — so most buckets
    * match and the report names only the suspects, exactly the shape a
    * real reconciliation has. Output: the differing buckets, classified
    * count_diff vs content_diff (same count, different content — the
    * case row-counting reconcilers miss).
    */
  def q146BucketDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def cents(c: Column): Column = round(c * 100).cast("long")
    val orders = Tables(spark, dir).orders
    def digest(snap: DataFrame): DataFrame = {
      val key = concat_ws("|", $"o_orderkey", $"o_custkey", $"price_c",
        date_format($"o_orderdate", "yyyy-MM-dd"))
      snap
        .select(pmod($"o_orderkey", lit(4096)).as("bucket"), md5(key).as("h"))
        .select($"bucket",
          conv(substring($"h", 1, 8), 16, 10).cast("long").as("h1"),
          conv(substring($"h", 9, 8), 16, 10).cast("long").as("h2"))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n"),
          expr("bit_xor(h1)").as("d1"), expr("bit_xor(h2)").as("d2"))
    }
    val a = digest(orders.select($"o_orderkey", $"o_custkey",
      cents($"o_totalprice").as("price_c"), $"o_orderdate"))
    val b = digest(orders
      .filter($"o_orderkey" % 997 =!= 0)
      .select($"o_orderkey", $"o_custkey",
        when($"o_orderkey" % 991 === 0, cents($"o_totalprice") + 1)
          .otherwise(cents($"o_totalprice")).as("price_c"),
        $"o_orderdate"))
    a.as("a").join(b.as("b"), Seq("bucket"), "full_outer")
      .select($"bucket",
        coalesce($"a.n", lit(0L)).as("n_a"),
        coalesce($"b.n", lit(0L)).as("n_b"),
        when($"a.n".isNull || $"b.n".isNull || $"a.n" =!= $"b.n", "count_diff")
          .when($"a.d1" =!= $"b.d1" || $"a.d2" =!= $"b.d2", "content_diff")
          .otherwise("match").as("status"))
      .filter($"status" =!= "match")
      .orderBy($"bucket")
  }

  val q146Sql: String = {
    def fold(start: Int): String = (0 until 8).map { j =>
      val mult = 1L << (4 * (7 - j))
      s"(strpos('0123456789abcdef', substr(h, ${start + j}, 1)) - 1) * $mult"
    }.mkString("(", " + ", ")")
    """WITH rowsa AS (
      |  SELECT o_orderkey % 4096 AS bucket,
      |         md5(o_orderkey || '|' || o_custkey || '|'
      |             || CAST(round(o_totalprice * 100) AS BIGINT) || '|'
      |             || strftime(o_orderdate, '%Y-%m-%d')) AS h
      |  FROM orders),
      |rowsb AS (
      |  SELECT o_orderkey % 4096 AS bucket,
      |         md5(o_orderkey || '|' || o_custkey || '|'
      |             || (CAST(round(o_totalprice * 100) AS BIGINT)
      |                 + CASE WHEN o_orderkey % 991 = 0 THEN 1 ELSE 0 END) || '|'
      |             || strftime(o_orderdate, '%Y-%m-%d')) AS h
      |  FROM orders WHERE o_orderkey % 997 <> 0),
      |da AS (SELECT bucket, count(*) AS n, bit_xor(FOLD1) AS d1, bit_xor(FOLD2) AS d2
      |       FROM rowsa GROUP BY bucket),
      |db AS (SELECT bucket, count(*) AS n, bit_xor(FOLD1) AS d1, bit_xor(FOLD2) AS d2
      |       FROM rowsb GROUP BY bucket)
      |SELECT coalesce(da.bucket, db.bucket) AS bucket,
      |  coalesce(da.n, 0) AS n_a, coalesce(db.n, 0) AS n_b,
      |  CASE WHEN da.n IS NULL OR db.n IS NULL OR da.n <> db.n THEN 'count_diff'
      |       WHEN da.d1 <> db.d1 OR da.d2 <> db.d2 THEN 'content_diff'
      |       ELSE 'match' END AS status
      |FROM da FULL OUTER JOIN db ON da.bucket = db.bucket
      |WHERE CASE WHEN da.n IS NULL OR db.n IS NULL OR da.n <> db.n THEN 'count_diff'
      |           WHEN da.d1 <> db.d1 OR da.d2 <> db.d2 THEN 'content_diff'
      |           ELSE 'match' END <> 'match'
      |ORDER BY bucket""".stripMargin
      .replace("FOLD1", fold(1)).replace("FOLD2", fold(9))
  }

  /** Fixed-point base-2 logarithm of the ratio x/y, in 1/4096ths
    * (12 fractional bits), computed ENTIRELY in int64 — no libm.
    * Method: auto-pre-shift both operands so the long division fits,
    * take a 28-bit-scaled mantissa, normalize to [2^28, 2^29), then 12
    * rounds of square-and-extract-bit (the classic shift-and-square
    * binary logarithm). Every step is shifts/multiplies/divides of
    * exact longs, so the value is bit-identical cross-engine — unlike
    * `log2(double)`, which is NOT IEEE-correctly-rounded and can
    * differ in the last ulp between the JVM and another engine's libm
    * (the q67 lesson). Accuracy ≈ 2⁻¹² in log2, ample for a
    * dependence diagnostic.
    */
  private val Log2FracBits = 12

  /** Adds `log2_q12` = fixed-point log2(x/y) to a frame holding long
    * columns `x` and `y` (both ≥ 1), via named row-local steps (all
    * codegen'd integer arithmetic — see the q156 scaladoc for why no
    * libm log is allowed near a hash-compared output).
    */
  private[operators] def withLog2Q12(df: DataFrame): DataFrame = {
    val fracExpr = (0 until Log2FracBits)
      .map(k => s"b$k * ${1L << (Log2FracBits - 1 - k)}")
      .mkString(" + ")
    val steps = (0 until Log2FracBits).foldLeft(
      df
        .withColumn("sh", expr(
          "least(greatest(0, greatest(length(bin(x)), length(bin(y))) - 34), " +
            "length(bin(y)) - 1)"))
        .withColumn("x2", expr("shiftright(x, sh)"))
        .withColumn("y2", expr("shiftright(y, sh)"))
        // Operating-range guard: if the ratio is so extreme that the
        // 28-bit-scaled mantissa underflows to 0 (needs |log2(x/y)|
        // beyond what the pre-shift window covers — for q156's MI that
        // means total ≳ 2^33 rows against a near-empty cell), the result
        // would silently pin at -28*4096. Fail loudly instead; the
        // DuckDB twin has no guard, but the regimes where they could
        // diverge all throw here first.
        .withColumn("m_un_raw", expr(
          "shiftleft(x2 div y2, 28) + shiftleft(x2 % y2, 28) div y2"))
        .withColumn("m_un", expr(
          "CASE WHEN m_un_raw > 0 THEN m_un_raw ELSE " +
            "CAST(raise_error('log2_q12 operating range exceeded: mantissa underflow " +
            "(|log2(x/y)| too large for the 28-bit pre-shift window)') AS BIGINT) END"))
        .withColumn("e", expr("CAST(length(bin(m_un)) - 1 - 28 AS BIGINT)"))
        .withColumn("m0", expr(
          """CASE WHEN length(bin(m_un)) - 1 >= 28
            |     THEN shiftright(m_un, length(bin(m_un)) - 1 - 28)
            |     ELSE shiftleft(m_un, 28 - (length(bin(m_un)) - 1)) END""".stripMargin))
    ) { (acc, k) =>
      acc
        .withColumn(s"b$k", expr(
          s"CASE WHEN shiftright(m$k * m$k, 28) >= ${1L << 29} THEN 1 ELSE 0 END"))
        .withColumn(s"m${k + 1}", expr(s"shiftright(shiftright(m$k * m$k, 28), b$k)"))
    }
    steps.withColumn("log2_q12", expr(s"e * 4096 + $fracExpr"))
  }

  /** q156: mutual-information dependence profile between two
    * categorical columns — "are these columns independent, and which
    * cells carry the dependence?" The categorical complement to q79's
    * numeric Pearson: feature selection, leakage screening (a feature
    * that shares high MI with the label is a leak candidate), and
    * schema-redundancy detection all start from this table.
    *
    * Emits PER-CELL contributions rather than the folded scalar — the
    * q87 pattern: no cross-row double sum ever enters a shuffle. The
    * log2 itself is the fixed-point integer routine above, so
    * mi_q12 = n · log2_q12(n·N / (n_x·n_y)) is an exact long and the
    * human-readable mi_bits divides exact ints once, row-locally.
    *
    * Scale shape: one contingency aggregate on (x, y) — |cells| rows —
    * plus two broadcast-sized marginal re-aggregates OF THAT FRAME
    * (the fact table is scanned once).
    */
  def q156MutualInfo(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val base = t.customer
      .join(t.nation, $"c_nationkey" === $"n_nationkey")
      .join(t.region, $"n_regionkey" === $"r_regionkey")
      .select($"c_mktsegment".as("segment"), $"r_name".as("region"))
    mutualInfoOf(base, "segment", "region")
  }

  private[graft] def mutualInfoOf(base: DataFrame, xc: String, yc: String): DataFrame = {
    import base.sparkSession.implicits._
    val cells = base.groupBy(col(xc), col(yc))
      .agg(count(lit(1)).as("n")).ckpt()
    val mx = cells.groupBy(col(xc)).agg(sum($"n").as("n_x"))
    val my = cells.groupBy(col(yc)).agg(sum($"n").as("n_y"))
    val tot = cells.agg(sum($"n").as("total"))
    val joined = cells
      .join(broadcast(mx), xc)
      .join(broadcast(my), yc)
      .crossJoin(broadcast(tot))
      .withColumn("x", $"n" * $"total")
      .withColumn("y", $"n_x" * $"n_y")
    withLog2Q12(joined)
      .select(col(xc), col(yc), $"n", $"n_x", $"n_y", $"total",
        ($"n" * $"log2_q12").as("mi_q12"),
        (($"n" * $"log2_q12").cast("double") / ($"total" * lit(4096L)))
          .as("mi_bits"))
      .orderBy(col(xc), col(yc))
  }

  /** SQL twin of [[withLog2Q12]], shared by every fixed-point-log oracle
    * (q156, q168, q169): the CTE chain from `inCte` (long columns `x`,
    * `y`, both ≥ 1) through the shift-and-square steps. The final CTE is
    * [[log2Q12SqlOut]]; the log2(x/y) value inside it is
    * [[log2Q12SqlExpr]]. Reserves CTE names pre/d/mu/en/lin/l0..l11 —
    * callers must not use those, and the chain can appear once per
    * statement.
    */
  private[operators] def log2Q12SqlChain(inCte: String): String = {
    val steps = (0 until Log2FracBits).map { k =>
      s"""l$k AS (
         |  SELECT *, CASE WHEN (m$k * m$k) >> 28 >= ${1L << 29} THEN 1 ELSE 0 END AS b$k,
         |         ((m$k * m$k) >> 28)
         |           >> (CASE WHEN (m$k * m$k) >> 28 >= ${1L << 29} THEN 1 ELSE 0 END)
         |           AS m${k + 1}
         |  FROM l${if (k == 0) "in" else (k - 1).toString})""".stripMargin
    }.mkString(",\n")
    s"""pre AS (
       |  SELECT *, least(greatest(0, greatest(length(bin(x)), length(bin(y))) - 34),
       |                  length(bin(y)) - 1) AS sh
       |  FROM $inCte),
       |d AS (
       |  SELECT *, x >> sh AS x2, y >> sh AS y2 FROM pre),
       |mu AS (
       |  SELECT *, ((x2 // y2) << 28) + ((x2 % y2) << 28) // y2 AS m_un FROM d),
       |en AS (
       |  SELECT *, CAST(length(bin(m_un)) - 1 - 28 AS BIGINT) AS e,
       |         CASE WHEN length(bin(m_un)) - 1 >= 28
       |              THEN m_un >> (length(bin(m_un)) - 1 - 28)
       |              ELSE m_un << (28 - (length(bin(m_un)) - 1)) END AS m0
       |  FROM mu),
       |lin AS (SELECT * FROM en),
       |$steps""".stripMargin
  }

  private[operators] val log2Q12SqlExpr: String =
    "e * 4096 + " + (0 until Log2FracBits)
      .map(k => s"b$k * ${1L << (Log2FracBits - 1 - k)}").mkString(" + ")

  private[operators] val log2Q12SqlOut: String = s"l${Log2FracBits - 1}"

  /** q168: population-stability-index drift between the first and second
    * time-half of the events stream, per event type over 10 fixed-width
    * value bins — THE industry drift gate (credit scoring's PSI,
    * re-expressed in bits): PSI = Σ_bins (p1 − p0)·log(p1/p0), > 0.25
    * conventionally meaning "distribution moved, retrain". Completes the
    * drift triptych: q87 (χ²-style residuals, categorical), q105 (KS,
    * continuous ranks), q168 (PSI, binned with magnitude-weighted
    * log-ratio — the one that tells you WHICH bins moved and by how
    * much).
    *
    * Exactness: proportions are truncating-integer ppm (`div` / `//`,
    * +1 Laplace so no bin is empty on either side), the log is the
    * fixed-point integer log2 ([[withLog2Q12]]), and the per-type fold
    * is an integer window sum — every column is exact cross-engine; the
    * one double (psi_bits) is an integer divided by 4096e6, both
    * dyadic-exact steps of IEEE division.
    *
    * Scale shape: one scan → one (type, bin) aggregate with map-side
    * combine (50 cells regardless of row count); the min/max/mid frame
    * is a broadcast 1-row aggregate; windows run over the 50-cell
    * frame. Nothing row-scaled shuffles.
    */
  def q168PsiDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    psiOf(Tables(spark, dir).events
      .select($"event_type",
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
        unix_timestamp($"ts").as("sec")))
  }

  /** The PSI core over a (event_type, cents, sec) frame — q168's body,
    * factored so specs can feed planted distributions directly.
    */
  private[graft] def psiOf(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import ev.sparkSession.implicits._
    // same exact-long midpoint derivation as q87 (floor of a < 2^52
    // double quotient is exact); bin width w covers [cmin, cmax] in 10
    // equal integer-cent bins, the top bin clamped by least()
    val mm = ev.agg(
        min($"sec").as("smin"), max($"sec").as("smax"),
        min($"cents").as("cmin"), max($"cents").as("cmax"))
      .select(
        ($"smin" + floor(($"smax" - $"smin" + 1) / 2).cast("long")).as("mid"),
        $"cmin",
        expr("(cmax - cmin) div 10 + 1").as("w"))
    val cells = ev.crossJoin(broadcast(mm))
      .withColumn("bin", expr("least(9, (cents - cmin) div w)"))
      .groupBy($"event_type", $"bin")
      .agg(
        sum(when($"sec" < $"mid", 1L).otherwise(0L)).as("c0"),
        sum(when($"sec" >= $"mid", 1L).otherwise(0L)).as("c1"))
    val wt = Window.partitionBy($"event_type")
    val p = cells
      .withColumn("t0", sum($"c0").over(wt))
      .withColumn("t1", sum($"c1").over(wt))
      // Empty-HALF guard (fuzz-found: an event type wholly inside one
      // time-half has t=0 for the other): the +1-ppm empty-bin floor
      // extends to the whole absent half — every bin reads 1 ppm, PSI
      // saturates for that type instead of dividing by zero. The guard
      // is a no-op whenever t > 0, so non-degenerate outputs are
      // byte-identical to the unguarded form.
      .withColumn("p0_ppm", expr("CASE WHEN t0 = 0 THEN 1 ELSE c0 * 1000000 div t0 + 1 END"))
      .withColumn("p1_ppm", expr("CASE WHEN t1 = 0 THEN 1 ELSE c1 * 1000000 div t1 + 1 END"))
      .withColumn("x", $"p1_ppm")
      .withColumn("y", $"p0_ppm")
    withLog2Q12(p)
      .withColumn("psi_q12", ($"p1_ppm" - $"p0_ppm") * $"log2_q12")
      .withColumn("psi_total_q12", sum($"psi_q12").over(wt))
      .select($"event_type", $"bin", $"c0", $"c1", $"p0_ppm", $"p1_ppm",
        $"psi_q12", $"psi_total_q12",
        ($"psi_total_q12".cast("double") / lit(4.096e9)).as("psi_bits"))
      .orderBy($"event_type", $"bin")
  }

  val q168Sql: String =
    s"""WITH ev AS (
      |  SELECT event_type,
      |         CAST(round(value * 100) AS BIGINT) AS cents,
      |         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec
      |  FROM events),
      |mm AS (
      |  SELECT min(sec) + (max(sec) - min(sec) + 1) // 2 AS mid,
      |         min(cents) AS cmin,
      |         (max(cents) - min(cents)) // 10 + 1 AS w
      |  FROM ev),
      |cells AS (
      |  SELECT event_type, least(9, (cents - cmin) // w) AS bin,
      |    CAST(count(*) FILTER (WHERE sec < mid) AS BIGINT) AS c0,
      |    CAST(count(*) FILTER (WHERE sec >= mid) AS BIGINT) AS c1
      |  FROM ev CROSS JOIN mm GROUP BY 1, 2),
      |t AS (
      |  SELECT *, CAST(sum(c0) OVER (PARTITION BY event_type) AS BIGINT) AS t0,
      |            CAST(sum(c1) OVER (PARTITION BY event_type) AS BIGINT) AS t1
      |  FROM cells),
      |j AS (
      |  SELECT event_type, bin, c0, c1,
      |         CASE WHEN t0 = 0 THEN 1 ELSE c0 * 1000000 // t0 + 1 END AS p0_ppm,
      |         CASE WHEN t1 = 0 THEN 1 ELSE c1 * 1000000 // t1 + 1 END AS p1_ppm,
      |         CASE WHEN t1 = 0 THEN 1 ELSE c1 * 1000000 // t1 + 1 END AS x,
      |         CASE WHEN t0 = 0 THEN 1 ELSE c0 * 1000000 // t0 + 1 END AS y
      |  FROM t),
      |${log2Q12SqlChain("j")},
      |cell_psi AS (
      |  SELECT event_type, bin, c0, c1, p0_ppm, p1_ppm,
      |         CAST((p1_ppm - p0_ppm) * ($log2Q12SqlExpr) AS BIGINT) AS psi_q12
      |  FROM $log2Q12SqlOut)
      |SELECT event_type, bin, c0, c1, p0_ppm, p1_ppm, psi_q12,
      |  CAST(sum(psi_q12) OVER (PARTITION BY event_type) AS BIGINT)
      |    AS psi_total_q12,
      |  CAST(sum(psi_q12) OVER (PARTITION BY event_type) AS DOUBLE) / 4096000000
      |    AS psi_bits
      |FROM cell_psi
      |ORDER BY event_type, bin""".stripMargin

  val q156Sql: String = {
    val fracSum = (0 until Log2FracBits)
      .map(k => s"b$k * ${1L << (Log2FracBits - 1 - k)}").mkString(" + ")
    s"""WITH base AS (
      |  SELECT c_mktsegment AS segment, r_name AS region
      |  FROM customer
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey),
      |cells AS (
      |  SELECT segment, region, CAST(count(*) AS BIGINT) AS n
      |  FROM base GROUP BY 1, 2),
      |mx AS (SELECT segment, CAST(sum(n) AS BIGINT) AS n_x FROM cells GROUP BY 1),
      |my AS (SELECT region, CAST(sum(n) AS BIGINT) AS n_y FROM cells GROUP BY 1),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM cells),
      |j AS (
      |  SELECT segment, region, n, n_x, n_y, total,
      |         n * total AS x, n_x * n_y AS y
      |  FROM cells JOIN mx USING (segment) JOIN my USING (region)
      |  CROSS JOIN tot),
      |${log2Q12SqlChain("j")}
      |SELECT segment, region, n, n_x, n_y, total,
      |  CAST(n * (e * 4096 + $fracSum) AS BIGINT) AS mi_q12,
      |  CAST(n * (e * 4096 + $fracSum) AS DOUBLE) / (total * 4096) AS mi_bits
      |FROM $log2Q12SqlOut
      |ORDER BY segment, region""".stripMargin
  }

  /** q160: functional-dependency audit — for every ordered pair of
    * candidate columns, does A → B hold (each A value maps to exactly
    * one B value), and if not, how many A values violate? The
    * schema-discovery primitive behind key detection ("which columns
    * are keys"), normalization review, and denormalization-drift
    * tripwires (a dim attribute duplicated into a fact SHOULD be
    * functionally determined by the dim key — a violation count > 0 is
    * corruption, and this query names the column pair).
    *
    * Scale shape: ONE scan of the table explodes each row into its 20
    * (determinant, dependent) value pairs row-locally, then a two-level
    * aggregate: per (pair, det_value) count distinct dependents, then
    * per pair count the violating determinant values. Both shuffles
    * carry (pair-index, value) keys — the pair as a small int (see
    * fdExploded), integral columns as raw longs, others as strings (the
    * r19 dual-lane carrier, see fdLane) — and the second is |distinct
    * det values|-sized, never row-sized.
    */
  private val FdCols =
    Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "o_month")

  def q160FdAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    fdAuditOf(Tables(spark, dir).orders
      .withColumn("o_month", date_format($"o_orderdate", "yyyy-MM")), FdCols)
  }

  /** Dual-lane value carrier for the FD family's exploded pair stream
    * (r19): integral columns ride a LONG lane, everything else the
    * string lane it always had. The pair structs must share one schema,
    * so the old shape cast EVERY column to string — for the
    * high-cardinality integer keys (o_orderkey/o_custkey, 8 of the 20
    * pairs here) that priced each of the two stacked hash aggregates at
    * var-length UTF8 hashing/equality plus a per-row int→string
    * allocation ×|pairs|. Counting distinct longs is the same count as
    * counting their decimal strings (the cast is injective), so the
    * lane swap changes NO output. Null semantics are preserved
    * explicitly: a null source value keeps BOTH lanes null and the
    * dep-side count wraps the struct in a null guard (count(DISTINCT)
    * must keep ignoring it).
    */
  private def fdLane(df: DataFrame, c: String, l: String, s: String): Seq[Column] =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType =>
        Seq(col(c).cast("long").as(l), lit(null).cast("string").as(s))
      case _ =>
        Seq(lit(null).cast("long").as(l), col(c).cast("string").as(s))
    }

  /** The (pid, det_l, det_s, dep_l, dep_s) stream for a pair list — one
    * row-local explode, shared by q160 (all pairs) and q165 stage 2
    * (sketch survivors only). The pair is carried as its INDEX into `ps`
    * (r19): the previous shape put the two column-NAME strings on every
    * exploded row, so both stacked hash aggregates hashed and compared
    * ~20 bytes of constant UTF8 per row ×|pairs| — the names are a
    * bijection of the index, so grouping by the int is the same
    * grouping, and [[fdPairNames]] re-attaches them on the |pairs|-row
    * result, never per corpus row.
    */
  private def fdExploded(df: DataFrame, ps: Seq[(String, String)]): DataFrame = {
    import df.sparkSession.implicits._
    df.select(explode(array(ps.zipWithIndex.map { case ((a, b), i) =>
        struct((Seq(lit(i).as("pid")) ++
          fdLane(df, a, "det_l", "det_s") ++
          fdLane(df, b, "dep_l", "dep_s")): _*)
      }: _*)).as("p"))
      .select($"p.pid", $"p.det_l", $"p.det_s", $"p.dep_l", $"p.dep_s")
  }

  /** (pid, det, dep) names for a pair list — broadcast-joined onto the
    * |pairs|-row aggregate output to restore the reporting columns the
    * exploded stream no longer carries.
    */
  private def fdPairNames(spark: SparkSession,
      ps: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    ps.zipWithIndex.map { case ((a, b), i) => (i, a, b) }
      .toDF("pid", "det", "dep")
  }

  /** The two-level exact FD aggregate over a carrier stream: per
    * (pair, det value) count distinct dep values, then per pair count
    * values and violations. Violation detection stays countDistinct,
    * MEASURED against the min/max-fold alternative (nd only ever
    * compares against 1, so `min(dep) ≠ max(dep)` is the same exact
    * predicate): the single-distinct rewrite plans as two stacked HASH
    * aggregates (distinct collapse, then count), while min/max of
    * strings falls back to SortAggregate (var-length buffers), and the
    * sort costs more than the distinct state saves — same-host
    * single-shot: 3.3s vs 5.6s at sf0.1, 49.9s vs 46.6s at sf10.
    * (r10's recorded 297.8s sf10 point for this query was ~6× ambient
    * contention, not plan cost — see PERF.md r11.)
    */
  private def fdExact(exploded: DataFrame): DataFrame = {
    import exploded.sparkSession.implicits._
    exploded
      .groupBy($"pid", $"det_l", $"det_s")
      .agg(countDistinct(
        when($"dep_l".isNull && $"dep_s".isNull, lit(null))
          .otherwise(struct($"dep_l", $"dep_s"))).as("nd"))
      .groupBy($"pid")
      .agg(count(lit(1)).as("n_det_values"),
        sum(when($"nd" > 1, 1L).otherwise(0L)).as("n_violating"))
  }

  private[graft] def fdAuditOf(df: DataFrame, cols: Seq[String]): DataFrame = {
    import df.sparkSession.implicits._
    val pairs = for (a <- cols; b <- cols if a != b) yield (a, b)
    fdExact(fdExploded(df, pairs))
      .join(broadcast(fdPairNames(df.sparkSession, pairs)), "pid")
      .select($"det", $"dep", $"n_det_values", $"n_violating")
      .withColumn("holds", $"n_violating" === 0)
      .orderBy($"det", $"dep")
  }

  val q160Sql: String = {
    val subs = (for (a <- FdCols; b <- FdCols if a != b) yield {
      s"""SELECT '$a' AS det, '$b' AS dep,
         |  CAST(count(*) AS BIGINT) AS n_det_values,
         |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating
         |FROM (SELECT CAST($a AS VARCHAR) AS dv, count(DISTINCT CAST($b AS VARCHAR)) AS nd
         |      FROM o GROUP BY 1) GROUP BY 1, 2""".stripMargin
    }).mkString("\nUNION ALL\n")
    s"""WITH o AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
      |         strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS o_month
      |  FROM orders)
      |SELECT det, dep, n_det_values, n_violating, n_violating = 0 AS holds
      |FROM ($subs)
      |ORDER BY det, dep""".stripMargin
  }

  /** q165: production FD discovery — q160's answer at sketch cost (the
    * q164 pattern: keep the exhaustive query as the exactness baseline,
    * ship a prescreened variant for the 100 TB run). Two stages:
    *
    *  1. '''HLL prescreen''' (one pass): per ordered pair,
    *     `approx_count_distinct(det)` vs `approx_count_distinct((det,
    *     dep))`. A→B holds iff the two DISTINCT counts are EQUAL, so a
    *     pair whose sketch ratio exceeds 1.3 (≫ any plausible HLL error
    *     at rsd 0.05 — falsely refuting a true FD would need ~6σ of
    *     correlated sketch error) is refuted without ever shuffling
    *     row-level values: HLL state partial-aggregates map-side, the
    *     shuffle carries |pairs| sketches per partition, never rows.
    *  2. '''Exact verify, survivors only''': the exploded value stream
    *     semi-joins the broadcast ≤|cols|² survivor list BEFORE its
    *     shuffle, then the q160 two-level exact aggregate runs over the
    *     surviving ~20% of rows. Output rows are exact by construction
    *     (the sketch only ever PRUNES already-violating pairs), which is
    *     why the oracle below is plain exact SQL with no sketch mirror.
    *
    * EAGER ACTION CAVEAT (ADVICE r16): because the survivor list is
    * plan STRUCTURE, stage 1 (sketch aggregate + bounded collect) runs
    * as a Spark job at DataFrame-CONSTRUCTION time — building the q165
    * plan (explain, schema inspection) scans the input once, and an
    * input-side failure surfaces at construction, not first action.
    * This is the deliberate r15 perf tradeoff (survivors-only explode
    * needs the survivors before the plan exists); callers that must
    * stay lazy should use q160.
    *
    * Output: the pairs where the FD exactly holds, with exact
    * n_det_values. The ≤|cols|² survivor list is COLLECTED (bounded:
    * |cols|²−|cols| rows of two short strings — 20 rows here, the
    * bounded-literal contract) and stage 2's explode array is built
    * over SURVIVING pairs only (r15 verdict order 3): refuted pairs
    * never enter the exploded value stream at all, so the per-row
    * explode multiplier drops from |pairs| to |survivors| (20 → 4 on
    * this schema) — the map-side row inflation AND the row-level
    * shuffle both shrink ~5× vs q160's all-pairs stream, and the
    * broadcast semi-join disappears entirely. That beats the previous
    * explode-all-then-semi-join form, which still paid the full
    * |pairs|× explode before filtering. See PERF.md for measured
    * sf0.1/sf10 points of both and the crossover discussion.
    */
  def q165FdDiscover(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    fdDiscoverOf(Tables(spark, dir).orders
      .withColumn("o_month", date_format($"o_orderdate", "yyyy-MM")), FdCols)
  }

  private[graft] def fdDiscoverOf(df: DataFrame, cols: Seq[String]): DataFrame = {
    import df.sparkSession.implicits._
    val spark = df.sparkSession
    val pairs = for (a <- cols; b <- cols if a != b) yield (a, b)
    // ONE global aggregate computes every sketch the prescreen needs —
    // |cols| column sketches + |pairs| pair sketches as 25 aggregate
    // expressions over the RAW rows (r19): the former per-pair exploded
    // groupBy re-sketched each det column once per dep (4×) and paid
    // the 20× row explode before a 20-group shuffle; here each row
    // updates each sketch once, nothing explodes, and the "shuffle" is
    // 25 HLL partials per map task into one row. n_det for (a, b) is
    // approx_count_distinct(a) itself — the same value set, hashed from
    // the native column type (no carrier casting at all). The 1.3 prune
    // margin keeps its ~6σ headroom under any injective hash input, and
    // the exact verify stage guarantees output equality regardless.
    def nd(c: String) = s"__nd_$c"
    def np(a: String, b: String) = s"__np_${a}__$b"
    val sketchAggs =
      cols.map(c => approx_count_distinct(col(c), 0.05).as(nd(c))) ++
        pairs.map { case (a, b) =>
          approx_count_distinct(struct(col(a), col(b)), 0.05).as(np(a, b))
        }
    // bounded collect (ONE row of 25 longs): the survivor list becomes
    // plan STRUCTURE — stage 2 explodes surviving pairs only, so the
    // refuted ~80% never inflate the value stream (r15 verdict order 3)
    val row = df.agg(sketchAggs.head, sketchAggs.tail: _*).collect()(0)
    val surv = pairs.filter { case (a, b) =>
      row.getAs[Long](np(a, b)) <= row.getAs[Long](nd(a)) * 1.3
    }.sortBy(identity)
    if (surv.isEmpty)
      spark.range(0).select(
        lit(null).cast("string").as("det"),
        lit(null).cast("string").as("dep"),
        lit(null).cast("long").as("n_det_values"))
    else
      // Same aggregate shape as q160 (fdExact: stacked HASH aggregates
      // via the single-countDistinct rewrite, dual-lane carriers) — a
      // string min/max fold is the same exact predicate but plans as
      // SortAggregate and measured slower at every SF (see fdExact).
      fdExact(fdExploded(df, surv))
        .filter($"n_violating" === 0)
        .join(broadcast(fdPairNames(spark, surv)), "pid")
        .select($"det", $"dep", $"n_det_values")
        .orderBy($"det", $"dep")
  }

  /** Oracle: exact FD set — no sketch mirror needed (see q165 scaladoc:
    * the prescreen only prunes pairs the exact stage would refute
    * anyway, so the output IS the exact answer).
    */
  val q165Sql: String = {
    val subs = (for (a <- FdCols; b <- FdCols if a != b) yield {
      s"""SELECT '$a' AS det, '$b' AS dep,
         |  CAST(count(*) AS BIGINT) AS n_det_values,
         |  sum(CASE WHEN mn <> mx THEN 1 ELSE 0 END) AS nv
         |FROM (SELECT CAST($a AS VARCHAR) AS dv,
         |        min(CAST($b AS VARCHAR)) AS mn, max(CAST($b AS VARCHAR)) AS mx
         |      FROM o GROUP BY 1) GROUP BY 1, 2""".stripMargin
    }).mkString("\nUNION ALL\n")
    s"""WITH o AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
      |         strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS o_month
      |  FROM orders)
      |SELECT det, dep, n_det_values
      |FROM ($subs)
      |WHERE nv = 0
      |ORDER BY det, dep""".stripMargin
  }

  /** Top-K cut for the Zipf fit. The head of the frequency curve is
    * where the power law lives (the tail bends under finite-corpus
    * effects); 200 terms is the standard head window and caps every
    * post-TakeOrdered stage at driver-trivial size.
    */
  private val ZipfK = 200

  /** q173: Zipf power-law fit of the corpus token-frequency curve —
    * OLS slope of log2(freq) against log2(rank) over the top-{ZipfK}
    * terms. THE one-number sanity check on a text corpus's token
    * distribution (Zipf 1949: natural language ⇒ slope ≈ −1): a slope
    * near 0 means template/boilerplate-dominated text (uniform head), a
    * slope ≪ −1 means a few tokens swamp everything (log spam, OCR
    * noise). Complements q73 (the vocab table itself) and q18 (per-doc
    * quality) with a corpus-level distributional gate a 100 TB ingest
    * can cheaply re-run per source or per shard.
    *
    * Numeric policy: both logs go through the shared shift-and-square
    * fixed-point log2 (the q156/q168/q169 routine — exact longs, no
    * libm), so Σx, Σy, Σxy, Σx² are exact integer sums (order-free) and
    * slope = (nΣxy − ΣxΣy)/(nΣxx − (Σx)²) divides two exact longs, each
    * < 2⁵³ at any corpus size (|log2·4096| ≤ 2.6e5 even at 2⁶⁴ counts;
    * with K = 200 the numerator is ≤ K²·(2.6e5)² ≈ 2.7e14, well inside
    * both int64 and the double-exact window). The intercept
    * reuses the slope double in a fixed expression tree over
    * exactly-representable integers — deterministic IEEE arithmetic,
    * not a cross-row float fold.
    *
    * Scale shape: one token-count aggregate (partial+final, |vocab|-row
    * shuffle payload), a distributed TakeOrdered top-K, then every
    * remaining stage runs on ≤ K rows (the single-partition rank window
    * is over the K-row frame, not the corpus).
    */
  def q173ZipfFit(spark: SparkSession, dir: String): DataFrame =
    zipfFitOf(Tables(spark, dir).documents)

  private[graft] def zipfFitOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val logCols = Seq("sh", "x2", "y2", "m_un_raw", "m_un", "e", "m0") ++
      (0 until Log2FracBits).map(k => s"b$k") ++
      (0 to Log2FracBits).map(k => s"m$k")
    val terms = docs
      .select(explode(split($"text", " ")).as("term"))
      .filter(length($"term") > 0)
      .groupBy($"term").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"term".asc).limit(ZipfK)
    val ranked = terms.withColumn("rank",
      row_number().over(Window.orderBy($"cnt".desc, $"term".asc)).cast("long"))
    val lx = withLog2Q12(ranked.withColumn("x", $"rank").withColumn("y", lit(1L)))
      .withColumn("lx", $"log2_q12")
      .drop(logCols :+ "log2_q12" :+ "x" :+ "y": _*)
    val lxy = withLog2Q12(lx.withColumn("x", $"cnt").withColumn("y", lit(1L)))
      .withColumn("ly", $"log2_q12")
      .drop(logCols :+ "log2_q12" :+ "x" :+ "y": _*)
    lxy
      .agg(
        count(lit(1)).as("n_terms"),
        sum($"lx").as("sx"), sum($"ly").as("sy"),
        sum($"lx" * $"lx").as("sxx"), sum($"lx" * $"ly").as("sxy"))
      .select(
        $"n_terms",
        $"sx".as("sx_q12"), $"sy".as("sy_q12"),
        ($"n_terms" * $"sxy" - $"sx" * $"sy").as("num_q24"),
        ($"n_terms" * $"sxx" - $"sx" * $"sx").as("den_q24"))
      .withColumn("slope", $"num_q24".cast("double") / $"den_q24")
      .withColumn("intercept_bits",
        (($"sy_q12".cast("double") - $"slope" * $"sx_q12".cast("double"))
          / $"n_terms") / 4096.0)
  }

  /** DuckDB twin: the chain can appear once per statement, so both logs
    * ride ONE pass — the K ranked rows are stacked twice (leg 'r' with
    * x = rank, leg 'c' with x = cnt), logged together, and pivoted back
    * by term.
    */
  val q173Sql: String =
    s"""WITH tok AS (
      |  SELECT unnest(string_split(text, ' ')) AS term FROM documents),
      |tc AS (
      |  SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM tok
      |  WHERE len(term) > 0 GROUP BY term),
      |topk AS (
      |  SELECT term, cnt FROM tc ORDER BY cnt DESC, term LIMIT $ZipfK),
      |ranked AS (
      |  SELECT term, cnt,
      |    CAST(row_number() OVER (ORDER BY cnt DESC, term) AS BIGINT) AS rank
      |  FROM topk),
      |stacked AS (
      |  SELECT term, rank, cnt, 'r' AS leg, rank AS x, CAST(1 AS BIGINT) AS y
      |  FROM ranked
      |  UNION ALL
      |  SELECT term, rank, cnt, 'c' AS leg, cnt AS x, CAST(1 AS BIGINT) AS y
      |  FROM ranked),
      |${log2Q12SqlChain("stacked")},
      |logs AS (
      |  SELECT term, leg, CAST($log2Q12SqlExpr AS BIGINT) AS lg
      |  FROM $log2Q12SqlOut),
      |piv AS (
      |  SELECT r.term, lr.lg AS lx, lc.lg AS ly
      |  FROM ranked r
      |  JOIN logs lr ON lr.term = r.term AND lr.leg = 'r'
      |  JOIN logs lc ON lc.term = r.term AND lc.leg = 'c'),
      |s AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_terms,
      |    CAST(sum(lx) AS BIGINT) AS sx, CAST(sum(ly) AS BIGINT) AS sy,
      |    CAST(sum(lx * lx) AS BIGINT) AS sxx,
      |    CAST(sum(lx * ly) AS BIGINT) AS sxy
      |  FROM piv)
      |SELECT n_terms, sx AS sx_q12, sy AS sy_q12,
      |  n_terms * sxy - sx * sy AS num_q24,
      |  n_terms * sxx - sx * sx AS den_q24,
      |  CAST(n_terms * sxy - sx * sy AS DOUBLE) / (n_terms * sxx - sx * sx)
      |    AS slope,
      |  ((CAST(sy AS DOUBLE)
      |    - (CAST(n_terms * sxy - sx * sy AS DOUBLE) / (n_terms * sxx - sx * sx))
      |      * CAST(sx AS DOUBLE)) / n_terms) / 4096.0 AS intercept_bits
      |FROM s""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("q160_fd_audit", q160FdAudit, Some(q160Sql), Seq("X-stats", "Q2", "X-scale"),
      "functional-dependency audit: key discovery and denormalization-drift tripwire"),
    Q("q173_zipf_fit", q173ZipfFit, Some(q173Sql), Seq("X-stats", "X-text", "X-scale"),
      "Zipf power-law fit: fixed-point OLS slope of log-freq vs log-rank over the top-200 terms"),
    Q("q165_fd_discover", q165FdDiscover, Some(q165Sql), Seq("X-stats", "Q2", "X-scale"),
      "sketch-prescreened FD discovery: HLL refutes non-FDs in one pass, exact min/max verify on survivors"),
    Q("q156_mutual_info", q156MutualInfo, Some(q156Sql), Seq("X-stats"),
      "mutual-information dependence profile: per-cell contributions over one contingency pass"),
    Q("q146_bucket_diff", q146BucketDiff, Some(q146Sql), Seq("X-scale", "Q2"),
      "Merkle-style bucket-digest reconciliation: locate divergence without moving rows"),
    Q("q53_skew_profile", q53SkewProfile, Some(q53Sql), Seq("X-scale"),
      "join-key skew profiler: cardinality, hot-key count, p95, skew ratio"),
    Q("q138_integrity_audit", q138IntegrityAudit, Some(q138Sql), Seq("Q2", "X-scale"),
      "referential-integrity audit: per-FK-edge orphan and NULL-key report"),
    Q("q131_k_anonymity", q131KAnonymity, Some(q131Sql), Seq("X-stats", "Q2"),
      "k-anonymity risk curve over quasi-identifier combos"),
    Q("q123_cms", q123Cms, Some(q123Sql), Seq("X-stats", "X-scale"),
      "count-min sketch point frequencies, bound-asserted against exact"),
    Q("q119_regr_trend", q119RegrTrend, Some(q119Sql), Seq("X-stats"),
      "per-group least-squares trend from exact integer sufficient stats"),
    Q("q113_decayed_counts", q113DecayedCounts, Some(q113Sql), Seq("X-temporal", "X-stats"),
      "integer half-life decayed counts: power-of-two weights, no libm"),
    Q("q114_benford", q114Benford, Some(q114Sql), Seq("X-stats", "Q2"),
      "Benford first-digit forensics with chi-square contributions"),
    Q("q115_woe_bins", q115WoeBins, Some(q115Sql), Seq("X-stats"),
      "supervised decile binning with per-bin target rates (WOE shape)"),
    Q("q104_mad_outliers", q104MadOutliers, Some(q104Sql), Seq("X-stats"),
      "robust outliers: median/MAD with 3-robust-sigma flags, exact two-pass"),
    Q("q105_ks_drift", q105KsDrift, Some(q105Sql), Seq("X-stats", "X-scale"),
      "two-sample Kolmogorov-Smirnov drift, integer-exact numerator"),
    Q("q106_table_digest", q106TableDigest, Some(q106Sql), Seq("X-scale", "Q2"),
      "order-independent per-partition content digest (XOR of row md5s)"),
    Q("q109_join_estimate", q109JoinEstimate, Some(q109Sql), Seq("X-scale"),
      "exact join-output cardinality forecast from per-key count sketches"),
    Q("q95_mode_entropy", q95ModeEntropy, Some(q95Sql), Seq("X-stats", "X-scale"),
      "categorical profile: per-group mode + Shannon entropy + cardinality"),
    Q("q79_corr_stats", q79CorrStats, Some(q79Sql), Seq("X-scale"),
      "per-group Pearson correlation via exact sufficient statistics"),
    Q("q85_column_profile", q85ColumnProfile, Some(q85Sql), Seq("X-scale"),
      "one-scan per-column profile: nulls, exact distincts, min/max, completeness"),
    Q("q168_psi_drift", q168PsiDrift, Some(q168Sql), Seq("X-stats", "X-scale"),
      "PSI drift per event type over 10 value bins: integer-ppm proportions, fixed-point log2"),
    Q("q87_drift", q87Drift, Some(q87Sql), Seq("X-stats", "X-scale"),
      "categorical drift: chi-square contingency cells between time halves"))


}
