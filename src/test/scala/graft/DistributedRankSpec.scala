package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.DistributedRank

/** The q124-class battery. Every query whose corpus-scale window runs
  * through the gated [[DistributedRank.runningSums]] states its logic
  * once, so both gate settings share that one statement: each is pinned
  * at BOTH settings (`GateConf = 0` forces the distributed form) against
  * an inline reference — its original single-task window, rebuilt here —
  * on the fixture and on planted tie/boundary pathologies (all-one-price,
  * n < k, empty input). Queries that still carry two bodies (q37/q48/
  * q197) compare their two paths directly. Queries rewritten to
  * TopKPerKey (q42/q124/q127) are pinned against their window form.
  */
class DistributedRankSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = TestSpark.spark
  private val sf = TestSpark.sf

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  private def atGate[T](bytes: Option[String])(body: => T): T = {
    bytes.fold(spark.conf.unset(DistributedRank.GateConf))(
      spark.conf.set(DistributedRank.GateConf, _))
    try body finally spark.conf.unset(DistributedRank.GateConf)
  }

  /** Run a query on both sides of the gate. */
  private def bothPaths(dir: String,
      q: (SparkSession, String) => DataFrame): (Seq[String], Seq[String]) =
    (atGate(None)(rows(q(spark, dir))), atGate(Some("0"))(rows(q(spark, dir))))

  /** A gated query equals its reference at both gate settings. */
  private def pinned(name: String, dir: String,
      q: (SparkSession, String) => DataFrame,
      ref: (SparkSession, String) => DataFrame): Seq[String] = {
    val want = rows(ref(spark, dir))
    val (single, dist) = bothPaths(dir, q)
    assert(single == want, s"$name diverges from its window reference on $dir")
    assert(dist == want, s"$name distributed form diverges on $dir")
    want
  }

  private def win(parts: Column*) =
    org.apache.spark.sql.expressions.Window.partitionBy(parts: _*)

  // ---- the original single-task window statements ----

  private def q55Ref(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).orders
      .select($"o_orderpriority", $"o_totalprice",
        ntile(4).over(win($"o_orderpriority").orderBy($"o_totalprice", $"o_orderkey"))
          .cast("long").as("quartile"))
      .groupBy($"o_orderpriority", $"quartile")
      .agg(count(lit(1)).as("n"),
        operators.Relational.moneyAvg($"o_totalprice").as("avg_price"))
      .orderBy($"o_orderpriority", $"quartile")
  }

  private def q115Ref(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).orders
      .withColumn("bin", ntile(10).over(
        org.apache.spark.sql.expressions.Window
          .orderBy($"o_totalprice", $"o_orderkey")).cast("long"))
      .withColumn("is_f", ($"o_orderstatus" === "F").cast("long"))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n"), sum($"is_f").as("n_f"),
        round(min($"o_totalprice"), 2).as("lo"),
        round(max($"o_totalprice"), 2).as("hi"))
      .select($"bin", $"n", $"n_f",
        ($"n_f".cast("double") / $"n").as("f_rate"), $"lo", $"hi")
      .orderBy($"bin")
  }

  private def q130Ref(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perCust = Tables(spark, dir).orders.groupBy($"o_custkey")
      .agg(sum(operators.Relational.cents($"o_totalprice")).as("rev_cents"))
    perCust
      .join(Tables(spark, dir).customer, $"o_custkey" === $"c_custkey")
      .withColumn("tile", ntile(10).over(
        win($"c_mktsegment").orderBy($"rev_cents".desc, $"o_custkey")))
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        sum($"rev_cents").as("total_cents"),
        sum(when($"tile" === 1, $"rev_cents").otherwise(0L))
          .as("top_decile_cents"))
      .withColumn("top_decile_share",
        $"top_decile_cents".cast("double") / $"total_cents")
      .orderBy($"c_mktsegment")
  }

  private def q66Ref(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val before = win($"source").orderBy($"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    Tables(spark, dir).documents
      .withColumn("n_tokens", size(split($"text", " ")).cast("long"))
      .withColumn("start_off", coalesce(sum($"n_tokens").over(before), lit(0L)))
      .select($"source", $"doc_id", $"n_tokens", $"start_off",
        expr("start_off div 2048").as("window_start"),
        expr("(start_off + n_tokens - 1) div 2048").as("window_end"))
      .withColumn("n_windows", $"window_end" - $"window_start" + 1L)
      .orderBy($"source", $"doc_id")
  }

  private def q107Ref(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).documents
      .withColumn("__q", operators.TextOps.qualityCol)
      .withColumn("rank", row_number().over(
        win($"source").orderBy($"__q".desc, $"doc_id".asc)))
      .withColumn("n_source", count(lit(1)).over(win($"source")))
      .filter($"rank" * 10 <= $"n_source" * 3)
      .select($"source", $"doc_id", $"rank".cast("long").as("rank"),
        $"n_source", $"__q".as("quality"))
      .orderBy($"source", $"doc_id")
  }

  private def q150Ref(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).documents
      .select($"doc_id", $"source", $"n_chars")
      .withColumn("q", percent_rank().over(
        win($"source").orderBy($"n_chars", $"doc_id")))
      .withColumn("decile", least(floor($"q" * 10), lit(9.0)).cast("long"))
      .orderBy($"doc_id")
  }

  private def q187Ref(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir).documents
    val frags = operators.DedupOps.exciseFragIntervals(
      docs.select($"doc_id", split($"text", " ").as("t")))
    val before = win($"source").orderBy($"doc_id", $"start_pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    frags.join(docs.select($"doc_id", $"source"), Seq("doc_id"))
      .withColumn("start_off", coalesce(sum($"frag_tokens").over(before), lit(0L)))
      .select($"source", $"doc_id", $"start_pos", $"frag_tokens", $"start_off",
        expr("start_off div 2048").as("window_start"),
        expr("(start_off + frag_tokens - 1) div 2048").as("window_end"))
      .orderBy($"source", $"doc_id", $"start_pos")
  }

  private def q105Ref(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir).events
      .select($"event_type", $"value", unix_timestamp($"ts").as("sec"))
    val mid = ev.agg((min($"sec") +
      floor((max($"sec") - min($"sec") + 1) / 2).cast("long")).as("mid"))
    val cum = win($"event_type").orderBy($"value")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    ev.crossJoin(mid)
      .groupBy($"event_type", $"value")
      .agg(sum(when($"sec" < $"mid", 1L).otherwise(0L)).as("ca"),
        sum(when($"sec" >= $"mid", 1L).otherwise(0L)).as("cb"))
      .withColumn("cum_a", sum($"ca").over(cum))
      .withColumn("cum_b", sum($"cb").over(cum))
      .withColumn("n", sum($"ca").over(win($"event_type")))
      .withColumn("m", sum($"cb").over(win($"event_type")))
      .groupBy($"event_type")
      .agg(max($"n").as("n"), max($"m").as("m"),
        max(abs($"cum_a" * $"m" - $"cum_b" * $"n")).as("ks_num"))
      .filter($"n" > 0 && $"m" > 0)
      .select($"event_type", $"n", $"m", $"ks_num",
        round($"ks_num".cast("double") / ($"n" * $"m").cast("double"), 6)
          .as("ks"))
      .orderBy($"event_type")
  }

  private def writeOrders(name: String,
      rows: Seq[(Long, Double, String)]): String = {
    val dir = TestSpark.scratch(s"drank-$name")
    import spark.implicits._
    rows.toDF("o_orderkey", "o_totalprice", "o_orderstatus")
      .repartition(3)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    dir
  }

  // tie/boundary pathologies: every row one price (all 9 boundaries
  // inside one straddling group); n < bins; alternating status; a
  // two-price split where one group is exactly a bin
  private lazy val pathological: Seq[String] = Seq(
    writeOrders("ties", (1L to 37L).map(k =>
      (k, 100.0, if (k % 3 == 0) "F" else "O"))),
    writeOrders("tiny", Seq((1L, 5.0, "F"), (2L, 3.0, "O"), (3L, 5.0, "F"))),
    writeOrders("split", (1L to 40L).map(k =>
      (k, if (k <= 4) 10.0 else 20.0 + (k % 7), if (k % 2 == 0) "F" else "O")))
  )

  test("q115 deciles: distributed path == single-task ntile, fixture + pathologies") {
    (sf +: pathological).foreach { dir =>
      assert(pinned("q115", dir, operators.Profiling.q115WoeBins, q115Ref).nonEmpty)
    }
  }

  test("q115 empty input: both paths empty") {
    val dir = writeOrders("empty", Seq.empty)
    val (single, dist) = bothPaths(dir, operators.Profiling.q115WoeBins)
    assert(single.isEmpty && dist.isEmpty)
  }

  test("q55 quartiles: distributed path == single-task ntile, fixture + pathologies") {
    // pathological fixtures lack o_orderpriority; plant one
    val dir = TestSpark.scratch("drank-q55")
    import spark.implicits._
    (1L to 41L).map(k => (k, if (k % 5 == 0) 100.0 else (k % 11).toDouble + 0.5,
        "P" + (k % 3)))
      .toDF("o_orderkey", "o_totalprice", "o_orderpriority")
      .repartition(3)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq(sf, dir).foreach { d =>
      assert(pinned("q55", d, operators.Relational.q55Ntile, q55Ref).nonEmpty)
    }
  }

  test("q130 revenue concentration: distributed path == single-task ntile") {
    assert(pinned("q130", sf,
      operators.Relational.q130RevenueConcentration, q130Ref).nonEmpty)
  }

  test("q107/q150/q66/q187 per-source windows: distributed path == single-task") {
    Seq[(String, (SparkSession, String) => DataFrame,
        (SparkSession, String) => DataFrame)](
      ("q107", operators.CurationOps.q107PercentileGate, q107Ref),
      ("q150", operators.CurationOps.q150QuantileNormalize, q150Ref),
      ("q66", operators.CurationOps.q66SeqPack, q66Ref),
      ("q187", operators.CurationOps.q187ExcisedPack, q187Ref)
    ).foreach { case (name, q, ref) =>
      assert(pinned(name, sf, q, ref).nonEmpty, s"$name empty on fixture")
    }
  }

  test("q105/q37/q48 gated aggregates: distributed path == single-task") {
    assert(pinned("q105", sf, operators.Profiling.q105KsDrift, q105Ref).nonEmpty)
    Seq[(String, (SparkSession, String) => DataFrame)](
      ("q37", operators.TemporalOps.q37Quantiles),
      ("q48", operators.TemporalOps.q48ApproxQuantile)
    ).foreach { case (name, q) =>
      val (single, dist) = bothPaths(sf, q)
      assert(dist == single, s"$name paths diverge")
      assert(single.nonEmpty, s"$name empty on fixture")
    }
  }

  test("runningSums: both forms equal a plain window (ties, -0.0/0.0, one-row part, two weights, empty)") {
    import spark.implicits._
    val dir = TestSpark.scratch("drank-sums")
    // part a: -0.0/0.0 sort ties plus other ties; part b: every row one
    // value; part c: a single row
    val planted = Seq(
      ("a", -0.0, 1L, 10L), ("a", 0.0, 2L, 20L), ("a", -0.0, 3L, 30L),
      ("a", -1.5, 4L, 40L), ("a", 2.5, 5L, 50L), ("a", 2.5, 6L, 60L),
      ("b", 7.0, 1L, 1L), ("b", 7.0, 2L, 2L), ("b", 7.0, 3L, 3L),
      ("c", 1e300, 9L, 90L))
    Seq("full" -> planted, "empty" -> Seq.empty).foreach { case (name, data) =>
      data.toDF("p", "v", "w1", "w2").repartition(3)
        .write.mode("overwrite").parquet(s"$dir/$name")
      val df = spark.read.parquet(s"$dir/$name")
      val run = win($"p").orderBy($"v")
      val reference = df
        .withColumn("cum_w1", sum($"w1").over(run))
        .withColumn("total_w1", sum($"w1").over(win($"p")))
        .withColumn("cum_w2", sum($"w2").over(run))
        .withColumn("total_w2", sum($"w2").over(win($"p")))
      def sorted(d: DataFrame): Seq[String] = rows(d
        .select($"p", ($"v" + 0.0).as("v"), $"w1", $"w2", $"cum_w1",
          $"total_w1", $"cum_w2", $"total_w2")
        .orderBy($"p", $"v", $"w1"))
      val want = sorted(reference)
      Seq(None, Some("0")).foreach { gate =>
        val got = atGate(gate) {
          assert(DistributedRank.fitsSingleTask(df) == gate.isEmpty)
          val out = DistributedRank.runningSums(df, Seq("p"), Seq($"v"), $"v", "w1", "w2")
          // within the gate: exactly one window, no publish; past it the
          // bucketed frame is published once
          val published = out.queryExecution.analyzed.collect {
            case r: org.apache.spark.sql.execution.LogicalRDD => r
          }
          assert(published.isEmpty == gate.isEmpty)
          if (gate.isEmpty)
            assert(out.queryExecution.sparkPlan.collect {
              case w: org.apache.spark.sql.execution.window.WindowExec => w
            }.size == 1)
          sorted(out)
        }
        assert(got == want, s"$name diverges at gate $gate")
      }
      assert(want.size == data.size)
    }
  }
  test("q42 stratified sample / q197 label report: TopKPerKey == window form") {
    // both rewrites are unconditional (no gate); pin against the r19
    // window construction rebuilt inline
    import spark.implicits._
    val got42 = rows(operators.CorpusPipeline.q42Corpus(spark, sf))
    assert(got42.nonEmpty)
    // q42 reference: same pipeline, window-ranked sample
    val docs = Tables(spark, sf).documents
    val words = (length($"text") - length(translate($"text", " ", "")) + 1).cast("long")
    val quality = docs.select($"doc_id", $"lang", $"text", words.as("n_words"))
      .filter($"n_words" >= 20)
    val wFp = org.apache.spark.sql.expressions.Window
      .partitionBy($"fp").orderBy($"doc_id")
    val exact = quality.withColumn("fp", md5($"text"))
      .withColumn("rn", row_number().over(wFp)).filter($"rn" === 1)
      .drop("fp", "rn")
    val dropped = operators.DedupOps.jaccardPairs(exact, 0.5)
      .select($"doc_b".as("doc_id")).distinct()
    val survivors = exact.join(dropped, Seq("doc_id"), "left_anti")
    val wSample = org.apache.spark.sql.expressions.Window.partitionBy($"lang")
      .orderBy(md5(concat($"doc_id".cast("string"), lit(":"), $"text")), $"doc_id")
    val ref42 = survivors.withColumn("rk", row_number().over(wSample))
      .filter($"rk" <= 3)
      .select($"lang", $"rk".cast("long").as("rk"), $"doc_id", $"n_words")
      .orderBy($"lang", $"rk")
    assert(got42 == rows(ref42), "q42 sample diverges from the window form")

    // q197: both gate paths (window pair vs published aggregate +
    // TopKPerKey) must be row-identical
    val (single197, dist197) =
      bothPaths(sf, operators.SimilarityOps.q197EmbeddingTrust)
    assert(dist197 == single197, "q197 paths diverge")
    assert(single197.nonEmpty)
  }

  test("q124 rank family: count-frame ranks + TopKPerKey == window form") {
    import spark.implicits._
    val base = Tables(spark, sf).orders
      .select($"o_orderpriority", $"o_orderkey",
        expr("cast(round(o_totalprice) as bigint) div 1000").as("price_k"))
    val byBucket = org.apache.spark.sql.expressions.Window
      .partitionBy($"o_orderpriority").orderBy($"price_k".desc)
    val pick = org.apache.spark.sql.expressions.Window
      .partitionBy($"o_orderpriority").orderBy($"price_k".desc, $"o_orderkey")
    val reference = base
      .withColumn("rnk", rank().over(byBucket))
      .withColumn("dense", dense_rank().over(byBucket))
      .withColumn("pct_rank", percent_rank().over(byBucket))
      .withColumn("cume", cume_dist().over(byBucket))
      .withColumn("rn", row_number().over(pick))
      .filter($"rn" <= 5)
      .select($"o_orderpriority", $"rn", $"o_orderkey", $"price_k",
        $"rnk", $"dense", $"pct_rank", $"cume")
      .orderBy($"o_orderpriority", $"rn")
    val got = operators.Relational.q124RankFamily(spark, sf)
    // nullability flags don't survive the gate's parquet round trip —
    // names and data types are the schema contract
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      reference.schema.map(f => (f.name, f.dataType)))
    assert(rows(got) == rows(reference))
    assert(rows(got).nonEmpty)
  }

  test("q127 string agg: TopKPerKey top-5 == window top-5") {
    import spark.implicits._
    val pick = org.apache.spark.sql.expressions.Window
      .partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    val reference = Tables(spark, sf).orders
      .select($"o_orderpriority", $"o_orderkey", $"o_totalprice")
      .withColumn("rn", row_number().over(pick))
      .filter($"rn" <= 5)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_in_list"),
        array_join(
          transform(
            array_sort(collect_list(struct($"rn", $"o_orderkey"))),
            s => s("o_orderkey").cast("string")),
          ",").as("top_keys_csv"))
      .orderBy($"o_orderpriority")
    val got = operators.Relational.q127StringAgg(spark, sf)
    assert(got.schema == reference.schema)
    assert(rows(got) == rows(reference))
    assert(rows(got).nonEmpty)
  }

  test("orderBits is monotone over the double total order; bucket folds -0.0") {
    val vals = Seq(Double.NegativeInfinity, -1e300, -2.5, -1.0,
      -java.lang.Double.MIN_VALUE, -0.0, 0.0, java.lang.Double.MIN_VALUE,
      0.5, 1.0, 1.5, 1e300, Double.PositiveInfinity)
    val bits = vals.map(graft.plans.FloatVectorExpressions.orderBits)
    assert(bits == bits.sorted, "orderBits must be monotone")
    assert(bits.distinct.size == bits.size, "orderBits must be injective")
    import spark.implicits._
    val b = Seq(-0.0, 0.0).toDF("x")
      .select(DistributedRank.bucket($"x").as("b")).collect().map(_.getLong(0))
    assert(b(0) == b(1), "bucket must not split the -0.0/0.0 sort tie")
  }

  test("ntileEnd column arithmetic matches ntile bucket sizes") {
    import spark.implicits._
    val ks = Seq(4, 10)
    val grid = for (n <- 0L to 25L; k <- ks; b <- 0L to k) yield (n, k, b)
    def byK(f: Int => Column): Column =
      ks.foldLeft(lit(null).cast("long")) { (e, k) => when($"k" === k, f(k)).otherwise(e) }
    val got = grid.toDF("n", "k", "b")
      .select($"n", $"k", $"b", byK(k => DistributedRank.ntileEnd($"n", k, $"b")),
        byK(k => DistributedRank.ntile($"b", $"n", k)))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)) ->
        ((r.getLong(3), r.getLong(4)))).toMap
    for ((n, k, b) <- grid) {
      // simulate ntile: sizes n/k (+1 for first n%k buckets)
      val sizes = (1 to k).map(i => n / k + (if (i <= n % k) 1L else 0L))
      val ends = sizes.scanLeft(0L)(_ + _)
      assert(got((n, k, b))._1 == ends(b.toInt), s"end: n=$n k=$k b=$b")
      // read b as a rank: the bucket whose (R_{i-1}, R_i] holds it
      if (b >= 1 && b <= n)
        assert(got((n, k, b))._2 == (1 to k).find(i => b <= ends(i)).get,
          s"ntile: n=$n k=$k rank=$b")
    }
  }
}
