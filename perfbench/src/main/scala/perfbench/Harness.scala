package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

import graft.{GraftSession, Tables}
import graft.etl.{Checks, Pipeline, Transform, Views, Warehouse}
import graft.operators.Registry
import graft.sources.WeatherJson

/** One benchmark process: set up a `local[cpus]` session, run whole passes
  * over one workload's ops, and write every raw sample to a JSON file that
  * `run.py` turns into metrics.
  *
  * Untraced, an op is timed as a whole and nothing else is recorded.
  * Traced, each call into an engine module is a span (`op -> build | plan |
  * exec` for a query, `op(ds) -> pipeline step` for a daily load) whose
  * Spark jobs carry the description `<pass>:<op>/<layer>`, and the
  * [[Tracer]] listener attributes job, stage and task counters to it.
  *
  * Arguments are `--key value` pairs; see `run.py` for the full set.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val traced = a("trace") == "1"
    val cpus = a("cpus").toInt
    val etl = a("workload") == "weather_etl"
    val warm: SparkSession => Unit =
      if (etl) spark => warmPipeline(spark, a) else spark => warmTables(spark, a("fixture"))

    // set-up: process start until the first op can run, then the same
    // session set-up again in this process; the samples go out as-is
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark = newSession(cpus, warm)
    val setup = ArrayBuffer((System.currentTimeMillis() - jvmStart) / 1e3)
    for (_ <- 1 until a("setup-reps").toInt) {
      spark.stop()
      val t0 = System.nanoTime()
      spark = newSession(cpus, warm)
      setup += (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext
    val tracer = if (traced) Some(new Tracer(sc)) else None
    tracer.foreach(sc.addSparkListener)

    val run = new Run(spark, traced)
    val ops: Seq[(String, () => Unit)] =
      if (etl) etlOps(spark, a, run)
      else a("ops").split(",").toSeq.map { name =>
        val q = Registry.byName(name)
        name -> (() => run.query(name, q.run(spark, a("fixture"))))
      }
    val passes = a("passes").toInt
    val warehouse = a.get("warehouse")
    for (pass <- 0 until passes) {
      warehouse.foreach(deleteTree)
      run.pass(pass, ops)
    }
    val peakRssMb = procStatusKb("VmHWM") / 1024.0

    val fields = Seq(
      "workload" -> Json.str(a("workload")),
      "cpus" -> Json.num(cpus.toDouble),
      "nproc" -> Json.num(Runtime.getRuntime.availableProcessors().toDouble),
      "default_parallelism" -> Json.num(sc.defaultParallelism.toDouble),
      "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory() / 1048576.0),
      "spark_version" -> Json.str(spark.version),
      "setup_s" -> Json.arr(setup.toSeq.map(Json.num)),
      "peak_rss_mb" -> Json.num(peakRssMb),
    ) ++ run.json ++ tracer.map(t => "counters" -> t.json).toSeq ++
      warehouse.map(w => "fact_files" -> Json.num(countParquet(s"$w/fact_daily_weather"))).toSeq
    Files.writeString(Paths.get(a("out")), Json.obj(fields) + "\n")

    // correctness dump, after every timed pass: graft.Verify with its
    // name filter (it reuses this session and stops it)
    a.get("verify-out").foreach { out =>
      graft.Verify.main(Array(a("fixture"), out, a("verify")))
    }
    if (!spark.sparkContext.isStopped) spark.stop()
  }

  private def newSession(cpus: Int, warm: SparkSession => Unit): SparkSession = {
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    warm(spark)
    spark
  }

  /** Table-footer warm-up, as Bench does it: the first row of every
    * fixture table, so no timed op pays the one-off footer reads.
    */
  private def warmTables(spark: SparkSession, dir: String): Unit = {
    val t = Tables(spark, dir)
    Seq[() => DataFrame](
      () => t.region, () => t.nation, () => t.customer, () => t.supplier,
      () => t.part, () => t.orders, () => t.lineitem, () => t.events,
      () => t.documents, () => t.embeddings).foreach(mk => mk().limit(1).collect())
  }

  /** The ETL's counterpart: one daily load of a small extract into a
    * scratch warehouse, so the JSON reader and the parquet writers are
    * initialised before the first timed load.
    */
  private def warmPipeline(spark: SparkSession, a: Map[String, String]): Unit = {
    val root = a("warm-warehouse")
    Pipeline.run(spark, a("warm-raw"), root, a("warm-ds"), a("warm-cities").toInt)
    deleteTree(root)
  }

  /** The weather pipeline: one op per daily load into a fresh warehouse,
    * then the two analytical views over the loaded fact table. Traced,
    * a load is the sequence of public calls `Pipeline.run` makes, each
    * call its own span; keep it in step with `Pipeline.run`.
    */
  private def etlOps(spark: SparkSession, a: Map[String, String], run: Run)
      : Seq[(String, () => Unit)] = {
    val root = a("warehouse")
    val cities = a("cities").toInt
    val days = a("days").split(",").toSeq
    def raw(ds: String) = s"${a("raw-dir")}/$ds.json"
    val loads = days.map { ds =>
      s"load_$ds" -> (() => {
        if (!run.traced) Pipeline.run(spark, raw(ds), root, ds, cities): Unit
        else {
          val wh = Warehouse(spark, root)
          val rawDf = run.span("read_validate") {
            val df = WeatherJson.readRaw(spark, raw(ds))
            Checks.validateRaw(df, cities)
            df
          }
          val enriched = run.span("stage_write") {
            val e = Transform.addDerivedMetrics(Transform.flattenDaily(rawDf)).cache()
            wh.overwrite("staging_weather", e)
            e
          }
          run.span("aggregate")(
            wh.overwrite("staging_weather_summary", Transform.computeAggregates(enriched)))
          run.span("seed") { wh.seedWeatherCodes(); wh.seedCities(enriched) }
          run.span("upsert")(wh.upsertFacts(enriched, ds))
          run.span("aggregate")(
            wh.overwrite("agg_monthly_weather", Transform.monthlyRollup(enriched)))
          run.span("quality") {
            Checks.qualityCheck(wh.read("fact_daily_weather"), ds)
            wh.assertUniqueKeys()
            enriched.count()
            enriched.unpersist(): Unit
          }
        }
      }: Unit)
    }
    def fact = Warehouse(spark, root).read("fact_daily_weather")
    loads ++ Seq(
      "latest_weather" -> (() => run.query("latest_weather", Views.latestWeather(fact))),
      "weekly_trends" -> (() =>
        run.query("weekly_trends", Views.weeklyTrends(fact, Some(days.last)))))
  }

  private def procStatusKb(key: String): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith(key + ":") =>
        l.split("\\s+")(1).toDouble }
      .getOrElse(-1.0)

  private def countParquet(dir: String): Double = {
    val s = Files.walk(Paths.get(dir))
    try s.filter(_.toString.endsWith(".parquet")).count().toDouble finally s.close()
  }

  private def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }
}

/** Pass and op timing plus, when traced, the span records. */
final class Run(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val passWall = ArrayBuffer.empty[Double]
  private val passCpu = ArrayBuffer.empty[Double]
  private val opRows = ArrayBuffer.empty[String]
  private val spanRows = ArrayBuffer.empty[String]
  private val ckptRows = ArrayBuffer.empty[String]
  private var pass = 0
  private var op = ""

  def pass(p: Int, ops: Seq[(String, () => Unit)]): Unit = {
    pass = p
    var wall = 0.0
    var cpu = 0.0
    for ((name, body) <- ops) {
      op = name
      val c0 = cpuBean.getProcessCpuTime
      val t0 = System.nanoTime()
      val err =
        try { body(); None }
        catch { case t: Throwable => Some(t.toString) }
      val secs = (System.nanoTime() - t0) / 1e9
      wall += secs
      cpu += (cpuBean.getProcessCpuTime - c0) / 1e9
      val leaked = release()
      opRows += Json.obj(Seq("pass" -> Json.num(p.toDouble), "op" -> Json.str(name),
        "secs" -> Json.num(secs), "leaked" -> Json.num(leaked.toDouble)) ++
        err.map(e => "error" -> Json.str(e.take(300))).toSeq)
    }
    passWall += wall
    passCpu += cpu
  }

  /** A registered query or a view read: the frame is built by `build`,
    * planned, then executed in full (every output column of every row).
    */
  def query(name: String, build: => DataFrame): Unit = {
    val df = span("build")(build)
    if (traced) {
      val stored = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      ckptRows += Json.obj(Seq("pass" -> Json.num(pass.toDouble), "op" -> Json.str(name),
        "published" -> Json.num(sc.getPersistentRDDs.size.toDouble),
        "stored_bytes" -> Json.num(stored.toDouble)))
    }
    val qe = span("plan") { val qe = df.queryExecution; qe.executedPlan; qe }
    span("exec")(SQLExecution.withNewExecutionId(qe, Some(name))(qe.toRdd.foreach(_ => ())))
  }

  /** Runs one layer of the current op; traced, it is timed and its Spark
    * jobs are tagged `<pass>:<op>/<layer>`.
    */
  def span[T](layer: String)(body: => T): T =
    if (!traced) body
    else {
      val desc = s"$pass:$op/$layer"
      sc.setJobDescription(desc)
      val t0 = System.nanoTime()
      try body
      finally {
        spanRows += Json.obj(Seq("desc" -> Json.str(desc), "pass" -> Json.num(pass.toDouble),
          "op" -> Json.str(op), "layer" -> Json.str(layer),
          "secs" -> Json.num((System.nanoTime() - t0) / 1e9)))
        sc.setJobDescription(null)
      }
    }

  /** Frees what the op published (its checkpoint blocks and cached
    * frames) outside the timing, so no op runs next to another op's
    * blocks; returns the persistent RDDs still alive afterwards.
    */
  private def release(): Int = {
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    sc.getPersistentRDDs.size
  }

  def json: Seq[(String, String)] = Seq(
    "pass_wall_s" -> Json.arr(passWall.toSeq.map(Json.num)),
    "pass_cpu_s" -> Json.arr(passCpu.toSeq.map(Json.num)),
    "ops" -> Json.arr(opRows.toSeq),
  ) ++ (if (traced) Seq("spans" -> Json.arr(spanRows.toSeq), "ckpt" -> Json.arr(ckptRows.toSeq))
        else Nil)
}

/** Minimal JSON writer for the result file. */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
