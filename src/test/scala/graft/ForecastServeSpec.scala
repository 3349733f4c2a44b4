package graft

import org.apache.spark.sql.functions._

import graft.ml.TrafficModel
import graft.pipelines.{ForecastServe, HistoricalTraining}
import graft.streaming.ForecastStream

/** End-to-end serving pipeline over the AccuWeather-shaped fixture
  * (SURVEY §3.2): parse → featureize → score → idempotent star-schema
  * load; plus the Structured-Streaming landing-dir variant.
  */
class ForecastServeSpec extends SparkSpec {

  lazy val fixture = resource("forecast_fixture.json")
  lazy val fixtureOverlap = resource("forecast_fixture_overlap.json")

  /** Small RF trained on the real 2015 data (fast; quality gate lives
    * in MLQualitySpec).
    */
  lazy val modelPath: String = {
    val features = HistoricalTraining.fullData(spark,
      HistoricalTraining.WeatherCsv, HistoricalTraining.TrafficCsv)
    val (train, _) = HistoricalTraining.temporalSplit(features, 7000)
    val model = TrafficModel.fit(
      TrafficModel.randomForest(numTrees = 10, maxDepth = 8), train)
    val p = tmpDir("model") + "/rf"
    TrafficModel.save(model, p)
    p
  }

  test("S5/F6/F12: forecast parse — F->C only on Unit=F, nested access") {
    val parsed = ForecastServe.parseForecast(spark, fixture)
    assert(parsed.count() == 12L)
    val r0 = parsed.orderBy("DateTime").first()
    // record 0: 41.0 F -> int((41-32)*5/9) = 5 C
    assert(r0.getAs[Int]("Temperature") == 5)
    // record 1: 5.4 C stays (int cast)
    val r1 = parsed.orderBy("DateTime").collect()(1)
    assert(r1.getAs[Int]("Temperature") == 5)
    // local wall-clock features preserved (+01:00 offset)
    assert(r0.getAs[Int]("LocalHour") == 13)
  }

  test("serving run is idempotent; overlapping horizon appends only new") {
    assumeRefData()
    val wh = tmpDir("wh-serve")
    val (w1, t1) = ForecastServe.run(spark, fixture, modelPath, wh)
    assert(w1 == 12L && t1 == 12L)

    // same payload again -> ON CONFLICT parity, nothing appended
    val (w2, t2) = ForecastServe.run(spark, fixture, modelPath, wh)
    assert(w2 == 0L && t2 == 0L)

    // overlapping 12-hour horizon: 6 repeated + 6 new
    val (w3, t3) = ForecastServe.run(spark, fixtureOverlap, modelPath, wh)
    assert(w3 == 6L && t3 == 6L)

    val weather = graft.sinks.StarSchemaSink.readTable(spark, wh, "weather")
    assert(weather.count() == 18L)
    assert(weather.select("id").distinct().count() == 18L)
  }

  test("F13: stored Intensity = int(pred*10) within model range") {
    assumeRefData()
    val wh = tmpDir("wh-intensity")
    ForecastServe.run(spark, fixture, modelPath, wh)
    val traffic = graft.sinks.StarSchemaSink.readTable(spark, wh, "traffic")
    val vals = traffic.select("Intensity").collect().map(_.getInt(0))
    assert(vals.forall(v => v >= 0 && v <= 10))
  }

  test("streaming: AvailableNow drain of a landing dir, exactly-once") {
    assumeRefData()
    val landing = tmpDir("landing")
    val wh = tmpDir("wh-stream")
    val ckpt = tmpDir("ckpt")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(fixture),
      java.nio.file.Paths.get(s"$landing/poll1.json"))

    ForecastStream.runAvailableNow(spark, landing, modelPath, wh, ckpt)
    assert(graft.sinks.StarSchemaSink.readTable(spark, wh, "weather")
      .count() == 12L)

    // second poll lands (overlapping); drain again with same checkpoint
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(fixtureOverlap),
      java.nio.file.Paths.get(s"$landing/poll2.json"))
    ForecastStream.runAvailableNow(spark, landing, modelPath, wh, ckpt)
    val weather = graft.sinks.StarSchemaSink.readTable(spark, wh, "weather")
    assert(weather.count() == 18L) // 12 + 6 new, overlap deduped
  }
}
