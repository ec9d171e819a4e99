package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import graft.etl.Warehouse
import graft.functions.Skew

/** Scale-mechanics specs: salting preserves join semantics while spreading
  * hot keys; bucketed layouts eliminate the join exchange entirely.
  */
class ScaleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("saltedJoin returns exactly the plain join's rows") {
    val t = Tables(spark, TestSpark.sf)
    val plain = t.orders.join(t.customer, $"o_custkey" === $"c_custkey")
      .groupBy($"c_nationkey").agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 2).as("rev"))
      .orderBy($"c_nationkey").collect().toSeq
    val salted = Skew.saltedJoin(
        t.orders.withColumnRenamed("o_custkey", "custkey"),
        t.customer.withColumnRenamed("c_custkey", "custkey"),
        "custkey", salt = 8)
      .groupBy($"c_nationkey").agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 2).as("rev"))
      .orderBy($"c_nationkey").collect().toSeq
    assert(salted == plain)
  }

  test("compaction reduces file count and preserves rows + partition layout") {
    val wh = Warehouse(spark, TestSpark.scratch("compact-wh"))
    val ev = Tables(spark, TestSpark.sf).events
      .withColumn("day", to_date($"ts"))
      .repartition(24) // simulate small-file accretion
    ev.write.partitionBy("day").parquet(wh.path("ev"))
    def files(p: String) = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(p)).count(_.getName.endsWith(".parquet"))
    }
    val before = files(wh.path("ev"))
    val rows = spark.read.parquet(wh.path("ev")).count()
    wh.compact("ev", targetMB = 128, partitionedBy = Seq("day"))
    assert(files(wh.path("ev")) < before)
    val after = spark.read.parquet(wh.path("ev"))
    assert(after.count() == rows)
    assert(after.columns.contains("day")) // partition layout preserved
    // crash-safe swap order (backup-rename → tmp-rename → delete-backup)
    // leaves neither scratch dir behind on success
    assert(!new java.io.File(wh.path("ev__bak")).exists())
    assert(!new java.io.File(wh.path("ev__compact")).exists())
  }

  test("GraftSession builder installs the SQL functions and optimizer rule") {
    // the shared test session is built by GraftSession.local
    val v = spark.sql(
      "SELECT norm_sq_f32(array(cast(3.0 as float), cast(4.0 as float))) AS n")
      .as[Double].head()
    assert(v == 25.0)
  }

  test("GraftSession builder sizes the codegen cache to the engine's working set") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheMaxEntries.toString)
  }

  test("a warm re-run of registered queries compiles no generated class") {
    // The six queries need ~290 generated classes at sf0.001, more than
    // Spark's default 100-entry codegen cache holds: at the default size
    // the second run recompiles evicted classes. AQE is off for the test
    // because its run-time choices (which side of a join becomes the
    // broadcast build side, the order query stages get their codegen
    // ids) vary from run to run, and each variant is a new class.
    val names = Seq("q171_label_prop", "q140_entity_resolution",
      "q167_bfs_reach", "q65_dup_clusters", "q68_cluster_reps",
      "q163_semdedup_scaled")
    def runAll(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      names.foreach { n =>
        operators.Registry.byName(n).run(spark, TestSpark.sf)
          .write.format("noop").mode("overwrite").save()
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      runAll(): Unit
      assert(runAll() == 0L)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("bucketed tables join without any exchange") {
    val wh = Warehouse(spark, TestSpark.scratch("bucketed-wh"))
    val t = Tables(spark, TestSpark.sf)
    wh.writeBucketed(t.orders, "b_orders", Seq("o_custkey"), 8)
    wh.writeBucketed(
      t.customer.withColumnRenamed("c_custkey", "o_custkey"), "b_customer",
      Seq("o_custkey"), 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
      val joined = spark.table("b_orders").join(spark.table("b_customer"), "o_custkey")
      val plan = {
        val out = new java.io.ByteArrayOutputStream()
        Console.withOut(new java.io.PrintStream(out)) { joined.explain("formatted") }
        out.toString
      }
      assert(!plan.contains("Exchange"), plan.take(3000))
      val o = t.orders
      val c = t.customer
      assert(joined.count() == o.join(c, o("o_custkey") === c("c_custkey")).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("k-means assignment plans join-free: no nested-loop centroid cross join") {
    // the sf10 regression this pins: assignment once crossJoined the
    // corpus against the centroid frame (plans as BNLJ, materializes
    // N·k rows). The literal-matrix argmin kernel must keep the whole
    // q99 chain free of nested-loop joins; q99's only join is the
    // k-row centroid-norm attach.
    val plan = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out)) {
        operators.SimilarityOps.q99Kmeans(spark, TestSpark.sf).explain("formatted")
      }
      out.toString
    }
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("argmin_sq_dist_i64"), plan.take(3000))
  }
}
