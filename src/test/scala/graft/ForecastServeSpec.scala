package graft

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ml.TrafficModel
import graft.pipelines.{ForecastServe, HistoricalTraining}
import graft.sinks.StarSchemaSink
import graft.sources.CsvSources
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

  /** One forecast record of the API's shape, at `dateTime`. */
  private def record(dateTime: String, tempF: Double): String =
    s"""{"DateTime": "$dateTime", "HasPrecipitation": false,
       |"Temperature": {"Value": $tempF, "Unit": "F"},
       |"Wind": {"Speed": {"Value": 12.0}}}""".stripMargin.replace("\n", " ")

  /** The rows parseForecastFrame keeps from an in-memory payload, as
    * (UTC instant, local hour, temperature) by temperature.
    */
  private def parseInMemory(): Seq[(Timestamp, Int, Int)] = {
    import spark.implicits._
    val raw = spark.read.schema(CsvSources.forecastSchema).json(Seq(
      record("2024-03-01T07:00:00+01:00", 32.0),
      record("2024-03-01T07:00:00Z", 41.0),
      record("2024-03-01T07:00:00.000+01:00", 50.0),
      record("2024-03-01T07:00+01:00", 59.0),
      record("2024-03-01 garbage", 68.0)).toDS())
    ForecastServe.parseForecastFrame(raw)
      .select("DateTime", "LocalHour", "Temperature").collect()
      .map(r => (r.getTimestamp(0), r.getInt(1), r.getInt(2)))
      .sortBy(_._3).toSeq
  }

  private def checkParse(): Unit = {
    val utc = (hhmm: String) => new Timestamp(
      java.time.Instant.parse(s"2024-03-01T$hhmm:00Z").toEpochMilli)
    assert(parseInMemory() == Seq(
      (utc("06:00"), 7, 0), // with seconds and offset
      (utc("07:00"), 7, 5), // Z
      (utc("06:00"), 7, 10), // with milliseconds
      (utc("06:00"), 7, 15))) // without seconds; the garbage row is gone
  }

  test("parseForecastFrame: ISO-8601 with and without seconds parses " +
      "to the UTC instant; an unparseable DateTime drops its row") {
    GraftSession.tune(spark)
    assert(spark.conf.get("spark.sql.ansi.enabled") == "false")
    checkParse()
  }

  test("parseForecastFrame: the same rows under ANSI mode, without " +
      "an error on the unparseable DateTime") {
    sys.props(GraftSession.AnsiOverrideProp) = "true"
    try {
      GraftSession.tune(spark)
      assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
      checkParse()
    } finally {
      sys.props.remove(GraftSession.AnsiOverrideProp)
      GraftSession.tune(spark)
    }
  }

  /** A small forest on a synthetic frame of the 8 features; `rising`
    * picks whether Count rises or falls with the hour, so two models
    * score the same forecast differently.
    */
  private def syntheticModel(rising: Boolean): org.apache.spark.ml.PipelineModel = {
    val hourShare = col("Hour") / 23.0
    val train = spark.range(2000).select(
      (col("id") % 12 + 1).cast("int").as("Month"),
      (col("id") % 28 + 1).cast("int").as("Day"),
      (col("id") % 24).cast("int").as("Hour"),
      (col("id") % 7).cast("int").as("DayofWeek"),
      (col("id") % 50 === 0).as("isHoliday"),
      (col("id") % 31).cast("int").as("Wind Speed"),
      (col("id") % 35 - 5).cast("int").as("Temperature"),
      (col("id") % 3 === 0).as("Precipitation"))
      .withColumn("Count", if (rising) hourShare else lit(1.0) - hourShare)
    TrafficModel.fit(TrafficModel.randomForest(numTrees = 5, maxDepth = 4), train)
  }

  private object Jobs extends SparkListener {
    val started = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit =
      started.incrementAndGet()
  }

  /** `body`'s result and the Spark jobs it started. */
  private def countingJobs[T](body: => T): (T, Long) = {
    org.apache.spark.GraftSparkAccess.drainListenerBus(spark.sparkContext)
    val before = Jobs.started.get
    val r = body
    org.apache.spark.GraftSparkAccess.drainListenerBus(spark.sparkContext)
    (r, Jobs.started.get - before)
  }

  private def assertDenseIds(t: DataFrame, n: Long): Unit =
    assert(t.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to n), t.select("id").collect().toSeq)

  test("serving run without reference data: fresh (12, 12), replay " +
      "(0, 0), overlap (6, 6), dense ids, at most 24 Spark jobs a cycle") {
    val model = tmpDir("model-synth") + "/rf"
    TrafficModel.save(syntheticModel(rising = true), model)
    TrafficModel.load(model) // the first load reads the files; cycles reuse it
    val wh = tmpDir("wh-synth")
    spark.sparkContext.addSparkListener(Jobs)
    val cycles = try Seq(fixture, fixture, fixtureOverlap)
      .map(p => countingJobs(ForecastServe.run(spark, p, model, wh)))
    finally spark.sparkContext.removeSparkListener(Jobs)
    assert(cycles.map(_._1) == Seq((12L, 12L), (0L, 0L), (6L, 6L)))
    val jobs = cycles.map(_._2)
    assert(jobs.forall(_ <= 24L), s"Spark jobs per cycle: $jobs")

    val weather = StarSchemaSink.readTable(spark, wh, "weather")
    val traffic = StarSchemaSink.readTable(spark, wh, "traffic")
    assertDenseIds(weather, 18L)
    assertDenseIds(traffic, 18L)
    // every traffic row resolves to its own weather row
    assert(traffic.select("date_id").distinct()
      .join(weather.select(col("id").as("date_id")), Seq("date_id"))
      .count() == 18L)
    // a small append writes one file: per table, the empty file of
    // createTables plus one each from the fresh and the overlap cycle
    for (t <- Seq("weather", "traffic")) {
      val files = new java.io.File(s"$wh/$t").listFiles
        .count(_.getName.endsWith(".parquet"))
      assert(files == 3, s"$t: $files parquet files")
    }
  }

  test("a model re-saved at the same path is loaded again") {
    val model = tmpDir("model-resave") + "/rf"
    def intensities(rising: Boolean): Seq[Int] = {
      TrafficModel.save(syntheticModel(rising), model)
      val wh = tmpDir("wh-resave")
      assert(ForecastServe.run(spark, fixture, model, wh) == ((12L, 12L)))
      StarSchemaSink.readTable(spark, wh, "traffic")
        .orderBy("date_id").select("Intensity").collect().map(_.getInt(0)).toSeq
    }
    val rising = intensities(rising = true)
    assert(TrafficModel.load(model) eq TrafficModel.load(model),
      "an unchanged model is loaded once")
    val falling = intensities(rising = false)
    assert(rising != falling, s"$rising vs $falling")
    // the fixture's local hours run 13..23, 0: a rising model scores
    // the afternoon high, a falling one low
    assert(rising.take(11).sum > falling.take(11).sum, s"$rising vs $falling")
  }
}
