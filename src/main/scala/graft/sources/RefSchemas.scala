package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Explicit schemas + readers for the reference's input datasets
  * (SURVEY.md §1.3: we always declare schemas instead of inferSchema —
  * same semantics for the data in play, one scan instead of two).
  */
object RefSchemas {

  /** us-cities-demographics.csv — 12 `;`-separated columns, header
    * (ref: etl.py:161; FIXTURES.md §2). All strings at read, cast later
    * exactly like the reference does.
    */
  val demographics: StructType = StructType(Seq(
    "City", "State", "Median Age", "Male Population", "Female Population",
    "Total Population", "Number of Veterans", "Foreign-born",
    "Average Household Size", "State Code", "Race", "Count"
  ).map(StructField(_, StringType)))

  def readDemographics(spark: SparkSession, path: String): DataFrame =
    spark.read.option("sep", ";").option("header", "true")
      .schema(demographics).csv(path)

  /** I94CIT_I94RES.csv — country-code lookup (ref: etl.py:381;
    * FIXTURES.md §3).
    */
  val countryLookup: StructType = StructType(Seq(
    StructField("Code", IntegerType),
    StructField("I94CTRY", StringType)))

  def readCountryLookup(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(countryLookup).csv(path)

  /** GlobalLandTemperaturesByCity.csv shape (ref: etl.py:352; ipynb cell
    * 15). Not bundled with the reference — tests synthesize a stand-in.
    */
  val temperatures: StructType = StructType(Seq(
    StructField("dt", StringType),
    StructField("AverageTemperature", DoubleType),
    StructField("AverageTemperatureUncertainty", DoubleType),
    StructField("City", StringType),
    StructField("Country", StringType),
    StructField("Latitude", StringType),
    StructField("Longitude", StringType)))

  def readTemperatures(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(temperatures).csv(path)

  /** sas_data immigration parquet — self-describing 28-col schema
    * (FIXTURES.md §1); read as-is through [[Parquet.read]].
    */
  def readImmigration(spark: SparkSession, path: String): DataFrame =
    Parquet.read(spark, path)
}
