package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.functions.{NLHolidays, ScalarOps}
import graft.sources.CsvSources

/** The notebook's historical-training dataflow (SURVEY §3.1), steps
  * 1–7 as one lazy Catalyst plan: scan → clean → project → join →
  * featureize → normalize → split.
  *
  * Reference: Traffic-Prediction-Modelling.ipynb cells 1–13.
  */
object HistoricalTraining {

  /** Where the reference's two static 2015 inputs live (SURVEY §0):
    * the KNMI hourly weather and the traffic counts.
    */
  val RefData = "/root/reference/data"
  val WeatherCsv = s"$RefData/weatherdata2015.csv"
  val TrafficCsv = s"$RefData/TrafficCounts2015.csv"

  /** Cells 2–3: clean the KNMI frame.
    *  - F1 date rebuild from YYYYMMDD (string, "yyyy-MM-dd");
    *  - P2 rename KNMI codes → names;
    *  - F2 RH sentinel −1→0 and hour 24→0 (same day — quirk kept);
    *  - F3 temperature 0.1 °C → truncated °C;
    *  - O1 sort (Date, Hour);
    *  - P1 final projection.
    */
  def cleanWeather(raw: DataFrame): DataFrame =
    raw
      .withColumn("Date", ScalarOps.yyyymmddToIsoString(col("YYYYMMDD")))
      .withColumn("Hour", ScalarOps.hour24ToZero(col("H")))
      .withColumn("RH_clean", ScalarOps.replaceValue(col("RH"), -1, 0))
      .withColumn("Temperature", ScalarOps.tenthsToUnit(col("T")))
      .withColumnRenamed("FH", "Wind Speed")
      .withColumnRenamed("R", "Precipitation")
      .select("Date", "Hour", "Wind Speed", "Temperature", "Precipitation")
      .orderBy("Date", "Hour")

  /** Cell 6: inner join on (Date, Hour) — weather hours without a
    * traffic row are dropped (8,760 → 8,596). Traffic side is the
    * smaller projection; broadcast it.
    */
  def joinTraffic(weather: DataFrame, traffic: DataFrame): DataFrame =
    weather.join(
      broadcast(traffic.select("Date", "Hour", "Count")),
      Seq("Date", "Hour"), "inner")

  /** Cell 6 featureize: calendar extraction with the pandas weekday
    * shim (F9), holiday flag (F10), boolean precipitation (F11),
    * global min-max normalization of Count (A2).
    */
  def featureize(joined: DataFrame): DataFrame = {
    val holidaySet = NLHolidays.isoStrings(1990, 2035)
    val withFeatures = joined
      .withColumn("d", to_date(col("Date")))
      .withColumn("Month", month(col("d")))
      .withColumn("Day", dayofmonth(col("d")))
      .withColumn("DayofWeek", ScalarOps.weekdayMon0(col("d")))
      .withColumn("isHoliday", ScalarOps.inDateList(col("d"), holidaySet))
      .withColumn("Precipitation", ScalarOps.toBool(col("Precipitation")))

    // A2: two-pass grand aggregate, broadcast back (never a global
    // window — that would single-partition the table at scale).
    val mm = withFeatures.agg(
      min("Count").as("mn"), max("Count").as("mx"))
    withFeatures
      .crossJoin(broadcast(mm))
      .withColumn("Count", (col("Count") - col("mn")) / (col("mx") - col("mn")))
      .select("Date", "Hour", "Month", "Day", "DayofWeek", "isHoliday",
        "Wind Speed", "Temperature", "Precipitation", "Count")
  }

  /** Cell 13 (O3): deterministic positional split — first `n` rows in
    * (Date, Hour) order train, rest test. NOT randomSplit: the
    * reference's iloc split is temporal and must stay so. Runs on
    * operators/PositionalSplit (boundary filter, no global window),
    * so the same call works unchanged on a 100 TB fact table.
    */
  def temporalSplit(features: DataFrame, n: Int): (DataFrame, DataFrame) =
    graft.operators.PositionalSplit.splitAt(features, "Date", "Hour", n.toLong)

  /** Full chain from the two 2015 CSVs. */
  def fullData(s: SparkSession, weatherCsv: String, trafficCsv: String): DataFrame = {
    GraftSession.tune(s)
    val weather = cleanWeather(CsvSources.weather(s, weatherCsv))
    val traffic = CsvSources.trafficCounts(s, trafficCsv)
    featureize(joinTraffic(weather, traffic))
  }
}
