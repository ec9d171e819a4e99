package graft.etl

import org.apache.spark.sql.types._

/** Explicit schemas for the weather pipeline — schema-on-read is always
  * declared, never inferred, in production paths (the reference does the
  * same: /root/reference/spark_jobs/transform_weather.py:35-59).
  *
  * Policy (SURVEY.md §7 risk 1): numeric weather fields are DOUBLE
  * end-to-end. The reference mixes Float32 staging with float8 warehouse
  * columns; we standardize on double so rounding is defined once.
  */
object Schemas {

  /** Typed row of the flattened staging frame (Transform.flattenDaily
    * output). `ds.as[StagingWeather]` gives the compile-time-checked core
    * where transformations benefit from field safety; the untyped
    * DataFrame path remains the default for dynamic-schema stages.
    */
  final case class StagingWeather(
      city_name: String,
      latitude: Double,
      longitude: Double,
      timezone: String,
      extracted_at: java.sql.Timestamp,
      date: String,
      temp_max: Double,
      temp_min: Double,
      precipitation: Option[Double],
      wind_speed_max: Double,
      weather_code: Double)

  /** Raw API payload: one record per city, daily struct of parallel arrays
    * (/root/reference/dags/weather_etl_pipeline.py:62-78).
    */
  val raw: StructType = StructType(Seq(
    StructField("city", StringType),
    StructField("latitude", DoubleType),
    StructField("longitude", DoubleType),
    StructField("timezone", StringType),
    StructField("extracted_at", StringType),
    StructField("daily", StructType(Seq(
      StructField("time", ArrayType(StringType)),
      StructField("temperature_2m_max", ArrayType(DoubleType)),
      StructField("temperature_2m_min", ArrayType(DoubleType)),
      StructField("precipitation_sum", ArrayType(DoubleType)),
      StructField("windspeed_10m_max", ArrayType(DoubleType)),
      StructField("weathercode", ArrayType(DoubleType)))))))

  /** Flattened staging row (staging_weather,
    * /root/reference/sql/create_weather_tables.sql:9-24). `date` is still a
    * string here — the string→DATE coercion happens at the staging→fact
    * boundary (SURVEY.md F8), matching the reference. `extracted_at` is
    * TIMESTAMP (F9), matching the reference staging DDL (line 14).
    */
  val staging: StructType = StructType(Seq(
    StructField("city_name", StringType),
    StructField("latitude", DoubleType),
    StructField("longitude", DoubleType),
    StructField("timezone", StringType),
    StructField("extracted_at", TimestampType),
    StructField("date", StringType),
    StructField("temp_max", DoubleType),
    StructField("temp_min", DoubleType),
    StructField("precipitation", DoubleType),
    StructField("wind_speed_max", DoubleType),
    StructField("weather_code", DoubleType)))

  /** fact_daily_weather as `Warehouse.upsertFacts` writes it
    * (the reference DDL, sql/create_weather_tables.sql:90-105). The partition
    * column `date` comes last, which is where Spark puts it on read.
    */
  val fact: StructType = StructType(Seq(
    StructField("city_name", StringType),
    StructField("temp_max", DoubleType),
    StructField("temp_min", DoubleType),
    StructField("temp_range", DoubleType),
    StructField("precipitation", DoubleType),
    StructField("wind_speed_max", DoubleType),
    StructField("weather_code", IntegerType),
    StructField("weather_category", StringType),
    StructField("loaded_at", TimestampType),
    StructField("date", DateType)))

  /** dim_city as `Warehouse.seedCities` writes it
    * (the reference DDL, sql/create_weather_tables.sql:40-48).
    */
  val dimCity: StructType = StructType(Seq(
    StructField("city_id", LongType),
    StructField("city_name", StringType),
    StructField("latitude", DoubleType),
    StructField("longitude", DoubleType),
    StructField("timezone", StringType),
    StructField("created_at", TimestampType),
    StructField("updated_at", TimestampType)))

  /** dim_weather_code as `Warehouse.seedWeatherCodes` writes it. */
  val dimWeatherCode: StructType = StructType(Seq(
    StructField("weather_code", IntegerType),
    StructField("description", StringType),
    StructField("category", StringType)))

  /** The warehouse tables a daily load reads back, by name. `Warehouse.read`
    * passes these instead of letting Spark infer a schema from a footer.
    */
  val warehouse: Map[String, StructType] = Map(
    "fact_daily_weather" -> fact,
    "dim_city" -> dimCity,
    "dim_weather_code" -> dimWeatherCode)

  /** The 21-row WMO weather-code dimension seed, verbatim from
    * /root/reference/sql/create_weather_tables.sql:60-82. NOTE: codes 80/81
    * are 'Rain' here but 'Severe' under the CASE chain in Enrich — the two
    * surfaces deliberately disagree, exactly as in the reference
    * (SURVEY.md §7 risk 4). Do not "fix".
    */
  val weatherCodeSeed: Seq[(Int, String, String)] = Seq(
    (0, "Clear sky", "Clear"),
    (1, "Mainly clear", "Clear"),
    (2, "Partly cloudy", "Clear"),
    (3, "Overcast", "Cloudy"),
    (45, "Fog", "Cloudy"),
    (48, "Depositing rime fog", "Cloudy"),
    (51, "Light drizzle", "Rain"),
    (53, "Moderate drizzle", "Rain"),
    (55, "Dense drizzle", "Rain"),
    (61, "Slight rain", "Rain"),
    (63, "Moderate rain", "Rain"),
    (65, "Heavy rain", "Rain"),
    (71, "Slight snow", "Snow"),
    (73, "Moderate snow", "Snow"),
    (75, "Heavy snow", "Snow"),
    (80, "Slight rain showers", "Rain"),
    (81, "Moderate rain showers", "Rain"),
    (82, "Violent rain showers", "Severe"),
    (95, "Thunderstorm", "Severe"),
    (96, "Thunderstorm with hail", "Severe"),
    (99, "Thunderstorm with heavy hail", "Severe"))
}
