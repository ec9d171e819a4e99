package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet-native warehouse layer replacing the reference's Postgres tier
  * (/root/reference/sql/create_weather_tables.sql). Tables are parquet
  * directories under a warehouse root; the fact table is partitioned by
  * `date` so (a) the per-ds upsert rewrites exactly one partition and
  * (b) date predicates prune at the scan. At 100 TB this is the layout
  * that keeps daily loads O(day) instead of O(history).
  *
  * Reads of the tables a daily load reads back (`fact_daily_weather`,
  * `dim_city`, `dim_weather_code`) pass their declared schema from
  * [[Schemas.warehouse]], so Spark runs no footer-reading job to infer
  * one. `WeatherPipelineSpec` pins each declared schema to the one Spark
  * infers from the written files, so a change to a written column fails
  * the suite instead of reading back nulls. Every other table is read
  * with inference.
  */
final case class Warehouse(spark: SparkSession, root: String) {

  def path(table: String): String = s"$root/$table"

  def read(table: String): DataFrame =
    Schemas.warehouse.get(table).fold(spark.read)(spark.read.schema(_)).parquet(path(table))

  /** Existence via the Hadoop FileSystem of the warehouse root's scheme —
    * a java.io.File check would always say "no" on hdfs:// or s3:// roots
    * and silently turn every upsert into a partition truncate.
    */
  def exists(table: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path(table))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** S5 staging sink: overwrite-each-run
    * (/root/reference/spark_jobs/transform_weather.py:166-174).
    */
  def overwrite(table: String, df: DataFrame): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path(table))

  /** S5, relational flavor: the reference's actual load target is
    * Postgres over JDBC (/root/reference/spark_jobs/transform_weather.py:166-174).
    * The parquet warehouse is this engine's serving tier by design; this
    * thin adapter completes the migration story for deployments keeping
    * a relational serving copy — same overwrite-per-run semantics as the
    * reference's `.mode("overwrite").jdbc(...)`. Exercised offline against
    * embedded Derby (ExternalIoSpec), mirroring the reference's
    * live-Postgres CI job (.github/workflows/ci.yml:105-134).
    */
  def overwriteJdbc(table: String, df: DataFrame, url: String,
      props: java.util.Properties = new java.util.Properties()): Unit =
    df.write.mode(SaveMode.Overwrite).jdbc(url, table, props)

  /** S7/J3 — the ON CONFLICT (city_name,date) DO UPDATE load
    * (/root/reference/dags/weather_etl_pipeline.py:172-192), decomposed
    * Spark-natively: within the ds partition, keep every existing row
    * whose key is absent from the staging slice (left-anti), union the
    * slice, and dynamically overwrite ONLY that partition. The fact table
    * is partitioned by `date`, so the daily load reads and rewrites one
    * partition — O(day), never O(history) — and date predicates prune at
    * scan time. Idempotent: replaying the same ds converges (Q4).
    */
  def upsertFacts(staging: DataFrame, ds: String): Unit = {
    val table = "fact_daily_weather"
    // Faithful column surface of the reference load
    // (/root/reference/dags/weather_etl_pipeline.py:174-182 into DDL
    // sql/create_weather_tables.sql:90-105): temp_range is the GENERATED
    // column (P9 — unrounded, unlike P3's round-1 staging column),
    // weather_code narrows to INTEGER, and weather_category is NOT
    // populated by the load (stays NULL in the reference too — preserved,
    // not "fixed").
    val slice = staging
      .filter(col("date") === lit(ds))
      .select(
        col("city_name"), to_date(col("date")).as("date"),
        col("temp_max"), col("temp_min"),
        (col("temp_max") - col("temp_min")).as("temp_range"),
        coalesce(col("precipitation"), lit(0.0)).as("precipitation"),
        col("wind_speed_max"),
        col("weather_code").cast("int").as("weather_code"),
        lit(null).cast("string").as("weather_category"))
      .withColumn("loaded_at", current_timestamp())
    val dsDate = java.sql.Date.valueOf(ds)
    val merged =
      if (!exists(table)) slice
      else {
        // partition pruning limits the read side to the ds partition
        val factSlice = read(table).filter(col("date") === lit(dsDate))
        factSlice.join(broadcast(slice.select("city_name", "date")),
            Seq("city_name", "date"), "left_anti")
          .unionByName(slice)
      }
    // merged reads the partition it overwrites → materialize through a
    // staging dir first (parquet has no transactional MERGE; SURVEY §7.5).
    // The read-back knows its schema; the one-day slice is coalesced so the
    // date partition gets one file however many tasks wrote the tmp dir.
    val tmp = path(table + "__tmp")
    merged.write.mode(SaveMode.Overwrite).parquet(tmp)
    spark.read.schema(merged.schema).parquet(tmp).coalesce(1)
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("date")
      .parquet(path(table))
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true): Unit
  }

  /** Q6 scale substitute for the reference's Postgres indexes: bucketed
    * layout. Two tables bucketed (and sorted) on the same join key
    * co-locate matching rows — a subsequent join needs NO exchange (the
    * 100 TB equivalent of an indexed join path). Registered in the
    * session catalog; data lands under the warehouse root.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      numBuckets: Int): Unit =
    // repartition on the bucket cols into exactly numBuckets tasks:
    // repartition's hash is bucketBy's partitionIdExpression (Murmur3
    // pmod n), so each task holds exactly one bucket and writes ONE file.
    // With multiple files per bucket Spark must re-Sort the scan before a
    // merge join (sortBy is only per-file); one file per bucket lets the
    // scan report the sort order too, so a join on the bucket key plans
    // with neither Exchange nor Sort on this side.
    df.repartition(numBuckets, bucketCols.map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .option("path", path(table))
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)

  /** Small-file compaction: rewrite a table to ~targetMB output files
    * (repartition by size estimate), preserving a partition layout if
    * given. Daily partition-overwrite loads accrete small files; at
    * warehouse scale compaction keeps scan task counts and file-listing
    * pressure bounded. Run per-partition in production; whole-table here.
    */
  def compact(table: String, targetMB: Int = 128, partitionedBy: Seq[String] = Nil): Unit = {
    val src = path(table)
    val srcPath = new org.apache.hadoop.fs.Path(src)
    // FileSystem of the warehouse root's scheme, NOT the default FS —
    // same reasoning as exists()
    val fs = srcPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(srcPath).getLength
    val parts = math.max(1, (bytes / (targetMB.toLong * 1024 * 1024)).toInt)
    val tmp = path(table + "__compact")
    val repart =
      if (partitionedBy.isEmpty) spark.read.parquet(src).repartition(parts)
      else spark.read.parquet(src).repartition(parts, partitionedBy.map(col): _*)
    val writer = repart.write.mode(SaveMode.Overwrite)
    (if (partitionedBy.isEmpty) writer else writer.partitionBy(partitionedBy: _*))
      .parquet(tmp)
    // swap order matters: keep a live copy at every instant. A crash
    // between steps leaves either the backup or the new dir recoverable
    // by rename — never a window with no table at all. Hadoop rename
    // reports most failures by RETURNING FALSE, so every step is
    // checked: an unchecked false on the second rename followed by the
    // backup delete would destroy the only remaining copy.
    val bak = new org.apache.hadoop.fs.Path(src + "__bak")
    if (fs.exists(bak)) fs.delete(bak, true)
    require(fs.rename(srcPath, bak),
      s"compact $table: could not move live dir aside ($srcPath -> $bak); table untouched")
    if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), srcPath)) {
      // roll back: restore the live dir before failing
      fs.rename(bak, srcPath)
      throw new IllegalStateException(
        s"compact $table: could not swap in compacted dir ($tmp -> $srcPath); original restored")
    }
    fs.delete(bak, true): Unit
  }

  /** S9/J4 — insert-if-absent seed of the weather-code dimension
    * (ON CONFLICT DO NOTHING, /root/reference/sql/create_weather_tables.sql:60-82).
    */
  def seedWeatherCodes(): Unit = {
    import spark.implicits._
    val seed = Schemas.weatherCodeSeed
      .toDF("weather_code", "description", "category")
    val table = "dim_weather_code"
    if (!exists(table)) overwrite(table, seed)
    else {
      val missing = seed.join(read(table), Seq("weather_code"), "left_anti")
      if (!missing.isEmpty)
        missing.write.mode(SaveMode.Append).parquet(path(table))
    }
  }

  /** S6/S9 — dim_city (/root/reference/sql/create_weather_tables.sql:40-48):
    * insert-if-absent keyed on UNIQUE city_name, surrogate city_id
    * assigned SERIAL-style (max existing id + alphabetical rank among the
    * newcomers), created_at/updated_at stamps. The dim is one row per
    * city — the single-partition row_number window is not a scale
    * concern, and both reads of it downstream broadcast.
    */
  def seedCities(staging: DataFrame): Unit = {
    import org.apache.spark.sql.expressions.Window
    val table = "dim_city"
    // one row per city_name even if the batch carries drifted coords or
    // timezone for the same city (UNIQUE(city_name) is the dim contract);
    // deterministic winner = first by (lat, lon, tz)
    val wName = Window.partitionBy(col("city_name"))
      .orderBy(col("latitude"), col("longitude"), col("timezone"))
    val incoming = staging
      .select("city_name", "latitude", "longitude", "timezone").distinct()
      .withColumn("__rn", row_number().over(wName)).filter(col("__rn") === 1)
      .drop("__rn")
    val existed = exists(table)
    val fresh =
      if (!existed) incoming.withColumn("__base", lit(0L))
      else {
        val existing = read(table)
        // coalesce: an existing-but-empty table has NULL max(city_id)
        val base = existing.agg(coalesce(max(col("city_id")), lit(0L))).head().getLong(0)
        incoming.join(existing.select("city_name"), Seq("city_name"), "left_anti")
          .withColumn("__base", lit(base))
      }
    if (!fresh.isEmpty) {
      // unpartitioned window is deliberate: input is the DISTINCT city
      // list (the reference's 5 configured cities — scale-invariant, not
      // data-proportional), and surrogate ids must be globally dense. The
      // WindowExec single-partition warning is expected and harmless here.
      val w = Window.orderBy(col("city_name"))
      val rows = fresh
        .withColumn("city_id", col("__base") + row_number().over(w).cast("long"))
        .withColumn("created_at", current_timestamp())
        .withColumn("updated_at", current_timestamp())
        .select("city_id", "city_name", "latitude", "longitude", "timezone",
          "created_at", "updated_at")
      if (existed) rows.write.mode(SaveMode.Append).parquet(path(table))
      else overwrite(table, rows)
    }
  }

  /** Q5 — uniqueness assertion on the fact natural key, over the whole
    * table or, given a ds, over that date partition only. The scoped check
    * is enough after a daily load: `upsertFacts` rewrites only the ds
    * partition, and every other partition passed its own load's check. A
    * path that rewrites other partitions, such as `compact`, needs the full
    * check.
    */
  def assertUniqueKeys(ds: Option[String] = None): Unit = {
    val fact = read("fact_daily_weather")
    val scoped = ds.fold(fact)(d => fact.filter(col("date") === lit(java.sql.Date.valueOf(d))))
    val dups = scoped.groupBy("city_name", "date").count().filter(col("count") > 1)
    require(dups.isEmpty, "fact_daily_weather violates UNIQUE(city_name, date)" +
      ds.fold("")(d => s" in partition date=$d"))
  }
}

/** The two analytical views
  * (/root/reference/sql/create_weather_tables.sql:139-160), as DataFrame
  * transforms over the fact table.
  */
object Views {
  import org.apache.spark.sql.expressions.Window

  /** W1 — v_latest_weather: Postgres DISTINCT ON (city_name) … ORDER BY
    * city_name, date DESC, rewritten as row_number over
    * (partition city, date desc) + rn = 1.
    */
  def latestWeather(fact: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("city_name")).orderBy(col("date").desc)
    fact
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("city_name", "date", "temp_max", "temp_min", "precipitation", "weather_category")
  }

  /** Register both views in the session catalog under the reference's
    * names (S6 — CREATE OR REPLACE VIEW,
    * /root/reference/sql/create_weather_tables.sql:139-160), so SQL users
    * query `v_latest_weather` / `v_weekly_trends` directly.
    */
  def registerSql(fact: DataFrame): Unit = {
    latestWeather(fact).createOrReplaceTempView("v_latest_weather")
    weeklyTrends(fact).createOrReplaceTempView("v_weekly_trends")
  }

  /** P8 + A2–A4 — v_weekly_trends: trailing-7-day per-city aggregates with
    * a FILTER'd rainy-day count. `asOf` defaults to current_date (the
    * view's CURRENT_DATE); tests pin it for determinism.
    */
  def weeklyTrends(fact: DataFrame, asOf: Option[String] = None): DataFrame = {
    val anchor = asOf.map(d => to_date(lit(d))).getOrElse(current_date())
    fact
      .filter(col("date") >= date_sub(anchor, 7))
      .groupBy("city_name")
      .agg(
        round(avg("temp_max"), 1).as("avg_high"),
        round(avg("temp_min"), 1).as("avg_low"),
        round(sum("precipitation"), 2).as("total_precip"),
        count(when(col("weather_category") === "Rain", 1)).as("rainy_days"))
  }
}
