package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.etl._
import graft.sources.WeatherJson

/** Parity specs for the reference's transform chain, mirroring the
  * reference's own unit tests (/root/reference/tests/test_spark_transform.py)
  * plus pipeline-level semantics (merge idempotency, seed-if-absent,
  * uniqueness) the reference enforces via Postgres constraints.
  */
class WeatherPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Pretty-printed JSON array — byte-shape of the reference's raw extract
    * (json.dump(..., indent=2), weather_etl_pipeline.py:86-92).
    */
  private val prettyJson =
    """[
      |  {
      |    "city": "New York",
      |    "latitude": 40.7128,
      |    "longitude": -74.006,
      |    "timezone": "America/New_York",
      |    "extracted_at": "2024-01-15T10:00:00",
      |    "daily": {
      |      "time": ["2024-01-14", "2024-01-15"],
      |      "temperature_2m_max": [45.2, 42.8],
      |      "temperature_2m_min": [32.1, 30.5],
      |      "precipitation_sum": [0.0, 0.25],
      |      "windspeed_10m_max": [15.3, 22.1],
      |      "weathercode": [1.0, 61.0]
      |    }
      |  },
      |  {
      |    "city": "Chicago",
      |    "latitude": 41.8781,
      |    "longitude": -87.6298,
      |    "timezone": "America/Chicago",
      |    "extracted_at": "2024-01-15T10:00:00",
      |    "daily": {
      |      "time": ["2024-01-14", "2024-01-15"],
      |      "temperature_2m_max": [38.5, 35.2],
      |      "temperature_2m_min": [25.3, 22.8],
      |      "precipitation_sum": [0.5, null],
      |      "windspeed_10m_max": [25.7, 28.3],
      |      "weathercode": [80.0, 75.0]
      |    }
      |  }
      |]""".stripMargin

  private def writeRaw(): String = {
    val dir = TestSpark.scratch("weather-raw")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/weather_raw.json"), prettyJson)
    s"$dir/weather_raw.json"
  }

  test("S3: multiLine JSON scan parses the pretty-printed array") {
    val df = WeatherJson.readRaw(spark, writeRaw())
    assert(df.count() == 2)
    assert(df.schema.fieldNames.contains("daily"))
  }

  test("S4: schema-inferred scan agrees on shape") {
    val df = WeatherJson.readInferred(spark, writeRaw())
    assert(df.count() == 2)
  }

  test("C1-C3: flatten produces one row per (city, day) with renamed columns") {
    val flat = Transform.flattenDaily(WeatherJson.readRaw(spark, writeRaw()))
    assert(flat.count() == 4) // 2 cities × 2 days, like the reference test
    assert(flat.columns.toSeq == Seq("city_name", "latitude", "longitude", "timezone",
      "extracted_at", "date", "temp_max", "temp_min", "precipitation",
      "wind_speed_max", "weather_code"))
    // F9: staging types extracted_at TIMESTAMP, like the reference DDL
    assert(flat.schema("extracted_at").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(flat.schema == Schemas.staging)
    val ny = flat.filter($"city_name" === "New York" && $"date" === "2024-01-14")
      .select($"temp_max").as[Double].head()
    assert(ny == 45.2)
  }

  test("P3: temp_range matches the reference's expected values") {
    val flat = Transform.flattenDaily(WeatherJson.readRaw(spark, writeRaw()))
    val enriched = Transform.addDerivedMetrics(flat, stamp = false)
    val ranges = enriched.filter($"city_name" === "New York")
      .orderBy($"date").select($"temp_range").as[Double].collect().toSeq
    assert(ranges == Seq(13.1, 12.3)) // 45.2-32.1, 42.8-30.5
  }

  test("P4: null precipitation defaults to 0.0") {
    val flat = Transform.flattenDaily(WeatherJson.readRaw(spark, writeRaw()))
    val enriched = Transform.addDerivedMetrics(flat, stamp = false)
    val chi = enriched.filter($"city_name" === "Chicago" && $"date" === "2024-01-15")
      .select($"precipitation").as[Double].head()
    assert(chi == 0.0)
  }

  test("P5: CASE categorization bands, including the 80-code disagreement with the dim") {
    val codes = Seq(1.0 -> "Clear", 45.0 -> "Cloudy", 61.0 -> "Rain",
      75.0 -> "Snow", 80.0 -> "Severe", 95.0 -> "Severe")
    val df = codes.map(_._1).toDF("weather_code")
      .withColumn("temp_max", lit(1.0)).withColumn("temp_min", lit(0.0))
      .withColumn("precipitation", lit(0.0))
    val out = Transform.addDerivedMetrics(df, stamp = false)
      .select($"weather_code", $"weather_category").as[(Double, String)].collect().toMap
    codes.foreach { case (c, want) => assert(out(c) == want, s"code $c") }
    // the seed dimension deliberately disagrees on 80/81 (SURVEY §7 risk 4)
    val dim = Schemas.weatherCodeSeed.map(s => s._1 -> s._3).toMap
    assert(dim(80) == "Rain" && out(80.0) == "Severe")
  }

  test("typed Dataset core: flatten output binds to StagingWeather") {
    val flat = Transform.flattenDaily(WeatherJson.readRaw(spark, writeRaw()))
    val ds = flat.as[Schemas.StagingWeather]
    val nulls = ds.filter(_.precipitation.isEmpty).count()
    assert(nulls == 1) // Chicago 2024-01-15
    assert(ds.map(r => r.temp_max - r.temp_min).collect().forall(_ > 0))
  }

  test("A1: city summary with the reference's exact rounding") {
    val flat = Transform.flattenDaily(WeatherJson.readRaw(spark, writeRaw()))
    val enriched = Transform.addDerivedMetrics(flat, stamp = false)
    val agg = Transform.computeAggregates(enriched, stamp = false)
    val ny = agg.filter($"city_name" === "New York").as[(String, Double, Double, Double, Double, Double)].head()
    assert(ny._2 == 44.0) // avg(45.2, 42.8)
    assert(ny._3 == 31.3) // avg(32.1, 30.5)
    assert(ny._4 == 0.13) // avg(0.0, 0.25) rounded 2
    assert(ny._5 == 22.1) // max wind
  }

  test("pipeline end-to-end: load, idempotent re-run, upsert-wins, unique keys, seed-if-absent") {
    val raw = writeRaw()
    val wh = TestSpark.scratch("weather-wh")
    val ds = "2024-01-15"
    Pipeline.run(spark, raw, wh, ds, expectedCities = 2)
    val w = Warehouse(spark, wh)
    val fact1 = w.read("fact_daily_weather")
    assert(fact1.count() == 2) // only the ds slice is loaded
    assert(fact1.select("weather_category").filter($"weather_category".isNotNull).count() == 0,
      "reference load leaves weather_category NULL — preserved")
    // idempotency (Q4): re-running the same ds converges
    Pipeline.run(spark, raw, wh, ds, expectedCities = 2)
    assert(w.read("fact_daily_weather").count() == 2)
    w.assertUniqueKeys()
    // seed-if-absent (S9/J4): second seeding adds nothing
    w.seedWeatherCodes()
    assert(w.read("dim_weather_code").count() == Schemas.weatherCodeSeed.size)
    // dim_city (S6): seeded from the payload, insert-if-absent, stable ids
    val cities = w.read("dim_city")
      .select($"city_id", $"city_name").as[(Long, String)].collect().toSet
    assert(cities == Set((1L, "Chicago"), (2L, "New York"))) // alphabetical ids
    assert(w.read("dim_city").columns.toSeq == Seq("city_id", "city_name",
      "latitude", "longitude", "timezone", "created_at", "updated_at"))
    // staging tables exist with expected shapes
    assert(w.read("staging_weather").count() == 4)
    assert(w.read("staging_weather_summary").count() == 2)
    assert(w.read("agg_monthly_weather").count() == 2)
  }

  test("S1/S2: extraction writes a pretty-printed array the multiLine reader round-trips") {
    import graft.sources.WeatherExtract
    val dataDir = TestSpark.scratch("weather-extract")
    // deterministic offline fetcher shaped like the Open-Meteo response
    val fetcher: WeatherExtract.Fetcher = c =>
      s"""{
         |  "latitude": ${c.lat}, "longitude": ${c.lon},
         |  "timezone": "America/New_York",
         |  "daily": {
         |    "time": ["2024-01-14", "2024-01-15"],
         |    "temperature_2m_max": [40.0, 41.0],
         |    "temperature_2m_min": [30.0, 31.0],
         |    "precipitation_sum": [0.1, null],
         |    "windspeed_10m_max": [12.0, 14.0],
         |    "weathercode": [2.0, 63.0]
         |  }
         |}""".stripMargin
    val path = WeatherExtract.extract(dataDir, "2024-01-15", fetcher,
      extractedAt = "2024-01-15T10:00:00")
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(path)).startsWith("[\n"))
    val raw = WeatherJson.readRaw(spark, path)
    Checks.validateRaw(raw, expectedCities = WeatherExtract.defaultCities.size)
    val flat = Transform.flattenDaily(raw)
    assert(flat.count() == WeatherExtract.defaultCities.size * 2)
    assert(flat.filter($"city_name" === "Phoenix").count() == 2)
  }

  test("W1/P8: views over the fact table") {
    val raw = writeRaw()
    val wh = TestSpark.scratch("weather-wh-views")
    Pipeline.run(spark, raw, wh, "2024-01-15", expectedCities = 2)
    val fact = Warehouse(spark, wh).read("fact_daily_weather")
    val latest = Views.latestWeather(fact)
    assert(latest.count() == 2)
    assert(latest.filter($"city_name" === "New York")
      .select($"date").as[java.sql.Date].head().toString == "2024-01-15")
    val trends = Views.weeklyTrends(fact, asOf = Some("2024-01-16"))
    assert(trends.count() == 2)
    val chi = trends.filter($"city_name" === "Chicago")
    assert(chi.select($"rainy_days").as[Long].head() == 0) // category is NULL on fact
    // SQL-catalog registration under the reference's view names
    Views.registerSql(fact)
    assert(spark.sql("SELECT * FROM v_latest_weather").count() == 2)
    assert(spark.sql("SELECT city_name FROM v_weekly_trends").columns.sameElements(Array("city_name")))
  }

  test("load shape: one JSON scan, a cache fill on every core, one file per fact partition") {
    import org.apache.spark.graft.LoadRecorder
    val raw = writeRaw()
    val wh = TestSpark.scratch("weather-wh-shape")
    val ds = "2024-01-15"
    val (_, rec) = LoadRecorder.record(spark)(Pipeline.run(spark, raw, wh, ds, expectedCities = 2))
    assert(rec.jsonScanJobs.size == 1, s"JSON-scan jobs: ${rec.jsonScanJobs}")
    val fill = rec.stages.map(_._2).filter(LoadRecorder.touchesCache).minBy(_.stageId)
    assert(fill.numTasks == spark.sparkContext.defaultParallelism,
      s"cache fill ran ${fill.numTasks} tasks")
    val factFiles = new java.io.File(s"$wh/fact_daily_weather/date=$ds").list()
    assert(factFiles.count(_.endsWith(".parquet")) == 1, factFiles.mkString(", "))
  }

  test("declared warehouse schemas equal the ones Spark infers from the written files") {
    val wh = TestSpark.scratch("weather-wh-schemas")
    Pipeline.run(spark, writeRaw(), wh, "2024-01-15", expectedCities = 2)
    val w = Warehouse(spark, wh)
    def nullable(s: org.apache.spark.sql.types.StructType) =
      org.apache.spark.sql.types.StructType(s.fields.map(_.copy(nullable = true)))
    Schemas.warehouse.foreach { case (table, declared) =>
      assert(nullable(spark.read.parquet(w.path(table)).schema) == nullable(declared), table)
      assert(w.read(table).schema.fieldNames.toSeq == declared.fieldNames.toSeq, table)
    }
  }

  test("a failed validation writes nothing and leaks no cache") {
    val wh = TestSpark.scratch("weather-wh-invalid")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val e = intercept[IllegalArgumentException] {
      Pipeline.run(spark, writeRaw(), wh, "2024-01-15", expectedCities = 3)
    }
    assert(e.getMessage.contains("expected 3 city records, got 2"))
    assert(sc.getPersistentRDDs.keySet == before)
    assert(new java.io.File(wh).list().isEmpty, "no table directory under the warehouse root")
  }

  test("a duplicate key in the load's ds partition fails the load") {
    val chicago = prettyJson.substring(prettyJson.indexOf("  {\n    \"city\": \"Chicago\""),
      prettyJson.lastIndexOf('}') + 1)
    val dir = TestSpark.scratch("weather-raw-dup")
    val raw = s"$dir/weather_raw.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(raw),
      prettyJson.stripSuffix("\n]") + ",\n" + chicago + "\n]")
    val wh = TestSpark.scratch("weather-wh-dup")
    val e = intercept[IllegalArgumentException] {
      Pipeline.run(spark, raw, wh, "2024-01-15", expectedCities = 3)
    }
    assert(e.getMessage.contains("violates UNIQUE(city_name, date) in partition date=2024-01-15"))
  }

  test("validateRaw fails on the record count and on an empty time series") {
    val df = WeatherJson.readRaw(spark, writeRaw())
    Checks.validateRaw(df, expectedCities = 2)
    val count = intercept[IllegalArgumentException](Checks.validateRaw(df, expectedCities = 5))
    assert(count.getMessage.contains("expected 5 city records, got 2"))
    val emptied = df.withColumn("daily",
      col("daily").withField("time", when($"city" === "Chicago", array().cast("array<string>"))
        .otherwise($"daily.time")))
    val empty = intercept[IllegalArgumentException](Checks.validateRaw(emptied, expectedCities = 2))
    assert(empty.getMessage.contains("1 city records have an empty time series"))
  }

  test("a daily load scans one fact partition, however long the history") {
    import org.apache.spark.graft.LoadRecorder
    val wh = TestSpark.scratch("weather-wh-history")
    val w = Warehouse(spark, wh)
    // 60 days of history ending on the load's ds, one small partitioned write
    spark.range(0, 60, 1, 1).select(
        lit("New York").as("city_name"),
        date_add(lit(java.sql.Date.valueOf("2023-11-17")), $"id".cast("int")).as("date"),
        lit(40.0).as("temp_max"), lit(30.0).as("temp_min"), lit(10.0).as("temp_range"),
        lit(0.0).as("precipitation"), lit(10.0).as("wind_speed_max"),
        lit(1).as("weather_code"), lit(null).cast("string").as("weather_category"),
        current_timestamp().as("loaded_at"))
      .write.partitionBy("date").parquet(w.path("fact_daily_weather"))
    val ds = "2024-01-15"
    val (_, rec) = LoadRecorder.record(spark)(Pipeline.run(spark, writeRaw(), wh, ds, expectedCities = 2))
    val factScans = rec.fileScans.filter(_.relation.location.rootPaths
      .exists(_.toString.endsWith("/fact_daily_weather")))
    assert(factScans.nonEmpty)
    val read = factScans.map(_.metrics("numPartitions").value)
    assert(read.forall(_ == 1), s"fact partitions read per scan: $read")
    // upsert-wins on the ds partition, every other partition untouched
    val fact = w.read("fact_daily_weather")
    assert(fact.count() == 61)
    assert(fact.filter($"date" === lit(java.sql.Date.valueOf(ds)) && $"city_name" === "New York")
      .select($"temp_max").as[Double].collect().toSeq == Seq(42.8))
    w.assertUniqueKeys()
  }
}
