package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Format conversion: the landing-zone → columnar step of an ingestion
  * pipeline (raw CSV/JSON drops rewritten as parquet/ORC for the query
  * tier).
  *
  * Scale notes:
  *   - conversion is a narrow scan→write (no shuffle) unless the caller
  *     asks for `repartitionTo`, which exists because raw drops are
  *     routinely thousands of small files — compacting AT the
  *     conversion is one shuffle now instead of a small-files tax on
  *     every downstream scan;
  *   - text sources take an enforced schema (same contract as
  *     DelimitedText/WeatherJson — inference double-scans and drifts);
  *   - columnar targets keep column pruning + predicate pushdown
  *     downstream, which raw text can never offer.
  */
object Convert {

  val TextFormats = Set("csv", "json")

  def read(spark: SparkSession, path: String, format: String,
      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.format(format)
    val withSchema = schema match {
      case Some(s) => r.schema(s)
      case None =>
        require(!TextFormats.contains(format),
          s"$format needs an enforced schema (inference double-scans and drifts)")
        r
    }
    val withOpts =
      if (format == "csv") withSchema.option("header", "true")
      else withSchema
    withOpts.load(path)
  }

  /** Convert `src` (format `from`) into `dst` (format `to`), optionally
    * compacting to a fixed partition count on the way.
    */
  def convert(spark: SparkSession, src: String, from: String,
      dst: String, to: String, schema: Option[StructType] = None,
      repartitionTo: Option[Int] = None): Unit = {
    val df = read(spark, src, from, schema)
    val shaped = repartitionTo.map(df.repartition).getOrElse(df)
    val w = shaped.write.mode(SaveMode.Overwrite).format(to)
    val withOpts = if (to == "csv") w.option("header", "true") else w
    withOpts.save(dst)
  }
}
