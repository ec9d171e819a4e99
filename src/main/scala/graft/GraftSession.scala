package graft

import org.apache.spark.sql.SparkSession

/** The library's session entry point: a SparkSession with the engine's
  * recommended configuration and extensions (native SQL functions +
  * optimizer rules) pre-installed. Every engine main (`Verify`, `Bench`,
  * `ExplainAll`) and the test suites build through [[local]], so
  * the oracle, the benchmarks and the plan dumps all run the production
  * session.
  *
  * Cluster deployments pass `spark.sql.extensions=graft.plans.GraftExtensions`
  * and `spark.sql.codegen.cache.maxEntries=4096` ([[CodegenCacheMaxEntries]])
  * to spark-submit instead; this builder is the programmatic equivalent.
  *
  * '''Generated-code cache.''' Spark keeps compiled whole-stage and
  * expression classes in one JVM-wide cache whose default size is 100
  * entries. One pass of the whole query registry fills about 2,760
  * entries, at sf0.01 and at sf0.1 alike, so at the default every pass
  * evicts and recompiles most of them: Janino compiles each class again
  * and the JIT then compiles it again. [[CodegenCacheMaxEntries]] is the
  * next power of two above that working set. The cache is sized once, by
  * the first codegen in the JVM, from the conf of the session active at
  * that moment; a session built any other way first fixes the size for the
  * life of the JVM.
  */
object GraftSession {

  /** `spark.sql.codegen.cache.maxEntries`: the next power of two above the
    * distinct generated classes of one full registry pass.
    */
  val CodegenCacheMaxEntries = 4096

  def builder(appName: String = "graft", master: String = "local[*]",
      shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .withExtensions(new plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheMaxEntries.toString)

  /** Local session sized for this machine; registers the custom top-k
    * strategy too (idempotent).
    */
  def local(cpus: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = builder(master = s"local[$cpus]", shufflePartitions = cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    plans.TopKPerKey.register(spark)
    spark
  }
}
