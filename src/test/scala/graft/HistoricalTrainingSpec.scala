package graft

import org.apache.spark.sql.functions._

import graft.pipelines.HistoricalTraining
import graft.sources.CsvSources

/** Golden-output tests against the shipped 2015 CSVs (SURVEY §5.1):
  * row counts, hour-24/negative-temp spot checks, join cardinality,
  * normalization bounds, split sizes.
  */
class HistoricalTrainingSpec extends SparkSpec {

  lazy val weatherRaw = CsvSources.weather(spark, HistoricalTraining.WeatherCsv)
  lazy val cleaned = HistoricalTraining.cleanWeather(weatherRaw)
  lazy val traffic = CsvSources.trafficCounts(spark, HistoricalTraining.TrafficCsv)
  lazy val joined = HistoricalTraining.joinTraffic(cleaned, traffic)
  lazy val features = HistoricalTraining.featureize(joined)

  test("golden: weather has 8,760 rows (365d x 24h), cleaned keeps all") {
    assumeRefData()
    assert(weatherRaw.count() == 8760L)
    assert(cleaned.count() == 8760L)
  }

  test("golden: hour 24 remapped to 0 on the SAME day") {
    assumeRefData()
    // raw row (20150101, H=24) must appear as Date=2015-01-01, Hour=0
    val h0 = cleaned.filter(col("Date") === "2015-01-01" && col("Hour") === 0)
    assert(h0.count() == 1L)
    // and no hour 24 anywhere
    assert(cleaned.filter(col("Hour") === 24).count() == 0L)
    assert(cleaned.filter(col("Hour") === 0).count() == 365L)
  }

  test("golden: negative temperature truncated toward zero") {
    assumeRefData()
    // KNMI T range includes negatives; int(T*0.1) keeps sign, trunc
    val mins = weatherRaw.agg(min("T")).first().getInt(0)
    assert(mins < 0)
    val gotMin = cleaned.agg(min("Temperature")).first().getInt(0)
    assert(gotMin == (mins * 0.1).toInt) // toward-zero semantic
  }

  test("golden: inner join yields exactly 8,596 rows") {
    assumeRefData()
    assert(joined.count() == 8596L)
  }

  test("golden: normalized Count spans exactly [0, 1]") {
    assumeRefData()
    val r = features.agg(min("Count"), max("Count")).first()
    assert(r.getDouble(0) == 0.0 && r.getDouble(1) == 1.0)
  }

  test("golden: feature schema matches cell-8 shape (9 cols + keys)") {
    assumeRefData()
    val cols = features.columns.toSeq
    assert(cols == Seq("Date", "Hour", "Month", "Day", "DayofWeek",
      "isHoliday", "Wind Speed", "Temperature", "Precipitation", "Count"))
  }

  test("golden: NL-2015 holidays flagged true in features") {
    assumeRefData()
    val flagged = features.filter(col("isHoliday"))
      .select("Date").distinct().collect().map(_.getString(0)).toSet
    assert(flagged.contains("2015-01-01"))
    assert(flagged.contains("2015-04-27"))
    assert(flagged.contains("2015-12-25"))
    assert(!flagged.contains("2015-03-02")) // arbitrary non-holiday
  }

  test("O3: temporal split is positional 7000/1596, ordered") {
    assumeRefData()
    val (train, test) = HistoricalTraining.temporalSplit(features, 7000)
    assert(train.count() == 7000L && test.count() == 1596L)
    // max train date <= min test date (temporal, not random)
    val maxTrain = train.agg(max("Date")).first().getString(0)
    val minTest = test.agg(min("Date")).first().getString(0)
    assert(maxTrain <= minTest)
  }
}
