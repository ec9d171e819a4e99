package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided parquet fixtures (TESTDATA.md).
  *
  * Every table is a plain parquet scan; Catalyst pushes filters and prunes
  * columns into the `FileSourceScanExec`, so callers should express
  * selection/projection declaratively and never pre-collect. At 100 TB these
  * become partitioned/bucketed warehouse tables — the loader is the single
  * seam where that swap happens.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame = Tables.relation(spark, dir, name)

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")
  /** events.parquet has shipped with two `ts` encodings across fixture
    * generations: TIMESTAMP(NANOS) (rejected by Spark's vectorized reader —
    * read nanos as long via the legacy flag and narrow with integer
    * division; `div`, not `/`, to keep precision at 1e18 ns magnitudes)
    * and plain TIMESTAMP(MICROS), which needs no conversion. Branch on the
    * actual file schema so either generation loads.
    */
  def events: DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t("events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // plain TIMESTAMP(MICROS) parquet surfaces as NTZ; present it as
        // TIMESTAMP (LTZ) like the legacy path did — the session runs in
        // UTC so the cast is value-preserving
        raw.withColumn("ts",
          raw("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

object Tables {
  /** Session-scoped RELATION cache (r19) — the metastore role a real
    * deployment's catalog plays. `spark.read.parquet` re-lists the path
    * and re-reads footers for schema on EVERY call: measured 57 ms per
    * table warm (~513 ms for all nine), paid per query invocation per
    * table touched — a fixed tax of tens of
    * seconds across a 198-query bench pass, and pure planner overhead at
    * any scale. The cache stores the LAZY relation (logical plan only —
    * no rows, no results; every action still scans parquet), keyed by
    * (session identity, dir, table, file-listing fingerprint). The
    * fingerprint (names, sizes, mtimes — the GraphOps edge-table rule)
    * means a fixture regenerated in place maps to a NEW key and is never
    * served stale; the session identity key means a fresh session never
    * sees another session's relation. Entries are evicted wholesale past
    * a bound so long-lived dev JVMs that churn sessions can't grow it
    * unboundedly.
    */
  private val relCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String, String), DataFrame]()

  /** Stable identity STRING per session, held weakly — the cache key must
    * not pin the session object itself (ADVICE r19).
    */
  private val sessionIds = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())
  private def idOf(spark: SparkSession): String =
    sessionIds.computeIfAbsent(spark,
      _ => java.util.UUID.randomUUID().toString)

  private def listingFingerprint(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) "absent"
    else {
      // fingerprint the path RELATIVE to the dataset root, not the bare
      // file name (ADVICE r19): a partitioned dataset whose partition
      // directory is renamed with file names/sizes/mtimes preserved must
      // map to a NEW key, never be served a stale relation with the old
      // partition values
      val rootUri = fs.makeQualified(p).toUri
      val it = fs.listFiles(p, true)
      val b = Seq.newBuilder[String]
      while (it.hasNext) {
        val st = it.next()
        val rel = rootUri.relativize(st.getPath.toUri).getPath
        b += s"$rel|${st.getLen}|${st.getModificationTime}"
      }
      b.result().sorted.mkString("\n")
    }
  }

  private def relation(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    // key on the session's identity STRING, not the session object
    // (ADVICE r19): the object key pinned stopped/churned sessions (and
    // their DataFrames) in memory until the wholesale clear
    val key = (idOf(spark), new java.io.File(dir).getAbsolutePath, name,
      listingFingerprint(spark, path))
    if (relCache.size > 512) {
      // overflow means session churn: evict OTHER sessions' entries
      // (keeping the live session's hot relations — ADVICE r19, the
      // wholesale clear() threw those away too); a single session
      // somehow holding >512 entries still falls back to clear()
      relCache.keySet.removeIf(_._1 != idOf(spark))
      if (relCache.size > 512) relCache.clear()
    }
    relCache.computeIfAbsent(key, _ => spark.read.parquet(path))
  }
}
