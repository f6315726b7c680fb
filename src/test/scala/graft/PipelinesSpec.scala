package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipelines.Pipelines

/** End-to-end runs of the three reference pipelines on the reference's own
  * bundled fixtures ([[TestSpark.refDir]], read-only). Each test skips when
  * a fixture it reads is absent.
  */
class PipelinesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  import TestSpark.refExists
  private val refDir = TestSpark.refDir
  private lazy val tmp = Files.createTempDirectory("graft-pipelines").toString

  test("demographics pipeline: one row per city, pivot cols, no nulls (ref etl.py:146-221)") {
    assume(refExists("us-cities-demographics.csv"))
    val out = Pipelines.demographics(spark, s"$refDir/us-cities-demographics.csv").cache()
    val n = out.count()
    assert(n > 0 && n < 2891)                      // fewer rows than input: city-grain
    assert(out.columns.contains("White") && out.columns.contains("HispanicOrLatino"))
    val keyDups = out.groupBy("City", "State", "StateCode").count().filter(col("count") > 1).count()
    assert(keyDups == 0)                           // city key is unique
    val nullCount = out.filter(col("White").isNull || col("MedianAge").isNull).count()
    assert(nullCount == 0)                         // fillna happened
    out.unpersist()
  }

  test("immigration fact pipeline: SAS dates converted, stay derived (ref etl.py:224-273)") {
    assume(refExists("sas_data"))
    val out = Pipelines.immigrationFact(spark, s"$refDir/sas_data")
    assert(!out.columns.contains("visapost") && !out.columns.contains("admnum"))
    val sample = out.select("arrdate", "depdate", "stay").filter(col("depdate").isNotNull).head
    assert(sample.getString(0).matches("\\d{4}-\\d{2}-\\d{2}"))
    // April 2016 file: arrivals all in 2016-04
    assert(sample.getString(0).startsWith("2016-0"))
    val bad = out.filter(col("stay") < 0).count()
    assert(bad >= 0)                               // column exists and is numeric
  }

  test("arrival date dimension: unique dates, season correct (ref etl.py:276-336)") {
    assume(refExists("sas_data"))
    val out = Pipelines.arrivalDate(spark, s"$refDir/sas_data").cache()
    val dates = out.select("arrival_iso_date", "date_season").distinct().collect()
    assert(dates.nonEmpty)
    dates.filter(_.get(0) != null).foreach { r =>
      val d = r.getDate(0).toLocalDate
      val season = r.getString(1)
      val want = d.getMonthValue match {
        case 12 | 1 | 2 => "winter"
        case 3 | 4 | 5  => "spring"
        case 6 | 7 | 8  => "summer"
        case _          => "autumn"
      }
      assert(season == want, s"$d")
    }
    // the falsy-zero guard: sasdate 0 must map to null iso date, never 1960-01-01
    assert(out.filter(col("arrival_iso_date") === "1960-01-01").count() == 0)
    out.unpersist()
  }

  test("partitioned write produces year/month hive layout (ref etl.py:336)") {
    assume(refExists("sas_data"))
    val out = Pipelines.arrivalDate(spark, s"$refDir/sas_data")
    val path = s"$tmp/arrival"
    Pipelines.writePartitionedByArrival(out, path)
    val back = spark.read.parquet(path)
    assert(back.count() == out.count())
    val parts = new java.io.File(path).listFiles().map(_.getName).filter(_.startsWith("arrival_year="))
    assert(parts.nonEmpty)
  }

  test("countries pipeline: lookup rows preserved, titlecase patch fills misses (ref etl.py:338-396)") {
    assume(refExists("I94CIT_I94RES.csv"))
    // synthesize a temperature stand-in: two countries present in the
    // lookup, one absent (FIXTURES.md §4)
    val tempsCsv = s"$tmp/temps.csv"
    val rows = Seq(
      "dt,AverageTemperature,AverageTemperatureUncertainty,City,Country,Latitude,Longitude",
      "1980-01-01,10.0,0.1,Tokyo,Japan,35.68N,139.69E",
      "1980-02-01,12.0,0.1,Tokyo,Japan,35.68N,139.69E",
      "1980-01-01,20.0,0.1,Cancun,Mexico,21.16N,86.85W")
    Files.write(java.nio.file.Paths.get(tempsCsv),
      rows.mkString("\n").getBytes("UTF-8"))

    val out = Pipelines.countries(spark, tempsCsv, s"$refDir/I94CIT_I94RES.csv").cache()
    val lookupRows = graft.sources.RefSchemas
      .readCountryLookup(spark, s"$refDir/I94CIT_I94RES.csv").count()
    assert(out.count() == lookupRows)              // every lookup row survives the left join
    val japan = out.filter(col("Country") === "Japan").head
    assert(math.abs(japan.getAs[Double]("Temperature") - 11.0) < 1e-9)  // avg(10, 12)
    // a country absent from temps gets the titlecased lookup name
    val argentina = out.filter(col("Country") === "Argentina")
    assert(argentina.count() == 1)
    assert(argentina.head.isNullAt(argentina.head.fieldIndex("Temperature")))
    out.unpersist()
  }

  test("SAS label vocabularies enrich the immigration fact as broadcast dims (ref I94_SAS_Labels_Descriptions.SAS)") {
    assume(refExists("I94_SAS_Labels_Descriptions.SAS") && refExists("sas_data"))
    val labels = s"$refDir/I94_SAS_Labels_Descriptions.SAS"
    val imm = graft.sources.RefSchemas.readImmigration(spark, s"$refDir/sas_data")
      .select(col("i94port"), col("i94mode").cast("int").cast("string").as("mode_code"))
    val ports = graft.sources.SasLabels.vocab(spark, labels, "i94prtl")
      .withColumnRenamed("label", "port_name")
    val modes = graft.sources.SasLabels.vocab(spark, labels, "i94model")
      .withColumnRenamed("label", "mode_name").withColumnRenamed("code", "mcode")
    val enriched = imm
      .join(ports, imm("i94port") === ports("code"), "left")
      .join(modes, col("mode_code") === col("mcode"), "left")
      .cache()
    // both vocab sides broadcast: the 3M-row fact never shuffles for a lookup
    val plan = enriched.queryExecution.sparkPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size == 2, plan)
    val total = enriched.count()
    // the bundled vocabulary actually covers the bundled data: nearly every
    // April-2016 arrival's port and mode code resolves to a label
    val portNamed = enriched.filter(col("port_name").isNotNull).count()
    val modeNamed = enriched.filter(col("mode_name").isNotNull).count()
    assert(portNamed > total * 95 / 100, s"$portNamed of $total ports resolved")
    assert(modeNamed > total * 95 / 100, s"$modeNamed of $total modes resolved")
    enriched.unpersist()
  }
}
