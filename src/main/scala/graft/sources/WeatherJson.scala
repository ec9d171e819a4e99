package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.etl.Schemas

/** S3/S4 — the JSON scan surface. The reference's raw extracts are
  * pretty-printed JSON *arrays* (json.dump(..., indent=2),
  * /root/reference/dags/weather_etl_pipeline.py:86-92), which Spark's
  * line-delimited default reader cannot parse — `multiLine=true` is
  * required. Its unit fixtures are compact single-line arrays, which parse
  * in either mode (SURVEY.md §1.2 gotcha); `readInferred` takes either.
  */
object WeatherJson {

  /** Schema-enforced scan of pretty-printed raw extracts (S3), spread over
    * the session's cores. A JSON array cannot be split, so the scan of one
    * file is one task; the round-robin repartition right after it lets
    * everything downstream (flatten, enrich, the cache fill, the writes)
    * run in `defaultParallelism` tasks instead of on one core.
    */
  def readRaw(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.raw).option("multiLine", value = true).json(path)
      .repartition(spark.sparkContext.defaultParallelism)

  /** Schema-inferred scan (S4 — the reference's test-only path). */
  def readInferred(spark: SparkSession, path: String, multiLine: Boolean = true): DataFrame =
    spark.read.option("multiLine", multiLine).json(path)
}
