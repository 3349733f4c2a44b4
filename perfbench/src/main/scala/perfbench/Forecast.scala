package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ml.TrafficModel
import graft.pipelines.{ForecastServe, HistoricalTraining}
import graft.sinks.StarSchemaSink

/** forecast_pipeline: the reference's train-then-serve ETL.
  *
  * Set-up trains the serving model from the generated 2015 CSVs
  * (fullData -> temporalSplit -> fit -> predict/mae/pearson -> save)
  * and warms up with one fresh cycle and one seconds-less cycle. One op
  * is a serve triple on one 12-hour window, each cycle the public
  * `ForecastServe.run`: the fresh window (writes 12 rows per table),
  * its replay (reads and anti-joins, appends nothing) and the window
  * shifted by 6 h (half new). A round is one triple, served into a
  * fresh warehouse so every op does the same work, plus one cycle whose
  * DateTimes omit seconds, run against a fresh warehouse of its own;
  * that cycle is the known fault and fails every time.
  */
object Forecast {
  val Trees = 20
  val Depth = 8

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val m = ctx.manifest
    val t = ctx.trace
    val modelPath = s"${ctx.work}/model/rf"

    // ---- set-up: training, with its checks ------------------------
    val tTrain = System.nanoTime()
    val trainRows = m.get("train_rows").asInt
    val (train, test) = t.span("train.split", "pipelines")(
      HistoricalTraining.temporalSplit(HistoricalTraining.fullData(spark,
        m.get("weather_csv").asText, m.get("traffic_csv").asText), trainRows))
    val c0 = ctx.counters.snapshot()
    val model = t.span("train.fit", "ml")(
      TrafficModel.fit(TrafficModel.randomForest(Trees, Depth), train))
    val fitCounts = ctx.counters.snapshot() - c0
    val (mae, pearson) = t.span("train.eval", "ml") {
      val scored = TrafficModel.predict(model, test)
      (TrafficModel.mae(scored), TrafficModel.pearson(scored))
    }
    t.span("train.save", "ml")(TrafficModel.save(model, modelPath))
    ctx.extra("train_s") = (System.nanoTime() - tTrain) / 1e9
    ctx.extra("train.fit_cpu_s") = fitCounts.cpuS
    ctx.extra("train.fit_jobs") = fitCounts.jobs
    ctx.extra("train.mae") = mae
    ctx.extra("train.pearson") = pearson
    checkTraining(ctx, train, test, mae)

    // ---- set-up: a fresh cycle and the seconds-less one, each on a
    // warehouse of its own ------------------------------------------
    ctx.check("the warm-up serve cycle succeeded",
      triple(ctx, m.get("warmup").elements.asScala.toSeq, modelPath, s"${ctx.work}/wh/warm"))
    secondsless(ctx, modelPath, s"${ctx.work}/wh/warm-secondsless")
    ctx.endSetup()

    // ---- timed: whole rounds ----------------------------------------
    val windows = m.get("windows").elements.asScala.toVector
    var served = Vector.empty[(JsonNode, String)]
    var round = 0
    do {
      val wh = s"${ctx.work}/wh/round-$round"
      if (triple(ctx, windows(round).elements.asScala.toSeq, modelPath, wh))
        served :+= windows(round) -> wh
      secondsless(ctx, modelPath, s"${ctx.work}/wh/secondsless-$round")
      round += 1
    } while (ctx.timeLeft && round < windows.size - 1)
    ctx.endTimed()
    ctx.check("every serve triple succeeded", served.size == round,
      s"${served.size} of $round")
    ctx.extra("serve.table_files") = parquetFiles(s"${ctx.work}/wh/round-0")
    for ((w, wh) <- served) checkStarSchema(ctx, wh, Seq(w))
    if (ctx.trace.enabled) {
      val wh = s"${ctx.work}/wh/breakdown"
      breakdown(ctx, windows.last, modelPath, wh)
      checkStarSchema(ctx, wh, Seq(windows.last))
    }
  }

  /** Traced only, after the timed section: one more triple whose cycles
    * repeat `ForecastServe.run`'s steps one by one, each in a span of its
    * module's layer, for the per-step times. The ops above call the
    * public `ForecastServe.run` itself, so their job counts and
    * latencies are the program's own; this copy has to be kept in step
    * with it. Its spans carry op id -2. */
  private def breakdown(ctx: Ctx, window: JsonNode, modelPath: String, wh: String): Unit = {
    val s = ctx.spark
    val t = ctx.trace
    def steps(payload: String): (Long, Long) = {
      val forecast = t.span("serve.parse", "sources")(
        ForecastServe.parseForecast(s, payload).cache())
      t.span("serve.create_tables", "sinks")(StarSchemaSink.createTables(s, wh))
      val nWeather = t.span("serve.weather_append", "sinks")(
        StarSchemaSink.idempotentAppend(s, wh, "weather",
          forecast.select("DateTime", "WindSpeed", "Temperature", "Precipitation"),
          naturalKeys = Seq("DateTime")))
      val model = t.span("serve.model_load", "ml")(TrafficModel.load(modelPath))
      val preds = t.span("serve.score", "ml")(
        ForecastServe.score(model, ForecastServe.featureize(forecast)))
      val nTraffic = t.span("serve.traffic_append", "sinks")(
        StarSchemaSink.appendTraffic(s, wh, preds))
      forecast.unpersist()
      (nWeather, nTraffic)
    }
    t.op = -2
    val cycles = window.elements.asScala.toSeq
    val got = try cycles.map(c => t.span("serve." + c.get("kind").asText, "pipelines")(
      steps(c.get("payload").asText))) finally t.op = -1
    ctx.check("the step-by-step serve triple appends what ForecastServe.run does",
      got == cycles.map(expect), got.mkString(" "))
  }

  private def expect(c: JsonNode): (Long, Long) = {
    val e = c.get("expect")
    (e.get(0).asLong, e.get(1).asLong)
  }

  /** One op: fresh, replay and overlap cycles of one window. */
  private def triple(ctx: Ctx, cycles: Seq[JsonNode], modelPath: String,
      wh: String): Boolean = {
    ctx.op("serve_triple", Map("window" -> cycles.head.get("payload").asText)) {
      cycles.map(c => ctx.trace.span("serve." + c.get("kind").asText, "pipelines")(
        ForecastServe.run(ctx.spark, c.get("payload").asText, modelPath, wh)))
    } { got =>
      val want = cycles.map(expect)
      // the warehouse is the triple's own, so every file in it is new
      if (ctx.trace.enabled) ctx.note("files_written", parquetFiles(wh))
      if (got == want) None
      else Some(s"appended (weather, traffic) ${got.mkString(" ")}, expected ${want.mkString(" ")}")
    }
  }

  /** The seconds-less cycle, on a warehouse of its own. */
  private def secondsless(ctx: Ctx, modelPath: String, wh: String): Boolean = {
    val c = ctx.manifest.get("secondsless")
    ctx.op("serve_secondsless") {
      ForecastServe.run(ctx.spark, c.get("payload").asText, modelPath, wh)
    } { got =>
      if (got == expect(c)) None
      else Some(s"appended (weather, traffic) $got for 12 fresh hours, expected ${expect(c)}")
    }
  }

  private def parquetFiles(dir: String): Int = {
    def walk(f: File): Int =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0)
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(new File(dir))
  }

  private def checkTraining(ctx: Ctx, train: DataFrame, test: DataFrame,
      mae: Double): Unit = {
    val m = ctx.manifest
    val key = concat(col("Date"), lpad(col("Hour").cast("string"), 2, "0"))
    def summary(df: DataFrame) = df.agg(count(lit(1)), min(key), max(key),
      min("Count"), max("Count"), avg("Count")).first()
    val (tr, te) = (summary(train), summary(test))
    val (nTrain, nTest) = (tr.getLong(0), te.getLong(0))
    val joined = m.get("joined_rows").asLong
    val trainRows = m.get("train_rows").asLong
    ctx.check("joined rows equal the generator's (Date, Hour) intersection",
      nTrain + nTest == joined, s"${nTrain + nTest} vs $joined")
    ctx.check("split sizes", nTrain == trainRows, s"train $nTrain test $nTest")
    ctx.check("split boundary is temporal", tr.getString(2) < te.getString(1),
      s"last train ${tr.getString(2)}, first test ${te.getString(1)}")
    val (lo, hi) = (tr.getDouble(3) min te.getDouble(3), tr.getDouble(4) max te.getDouble(4))
    ctx.check("Count is min-max normalised to exactly [0, 1]", lo == 0.0 && hi == 1.0,
      s"[$lo, $hi]")
    // independent baseline: the training mean as a constant predictor
    val constMae = test.agg(avg(abs(col("Count") - lit(tr.getDouble(5)))))
      .first().getDouble(0)
    val noise = m.get("noise_mae").asDouble
    ctx.check("hold-out MAE clears the noise floor and beats a constant predictor",
      mae >= 0.8 * noise && mae <= 3.0 * noise && mae < 0.5 * constMae,
      f"mae $mae%.5f noise floor $noise%.5f constant $constMae%.5f")
  }

  /** Star schema against the benchmark's own row accounting: dense
    * unique ids, one traffic row per served hour whose date_id resolves
    * to that hour's weather row, and F->C values as generated. */
  private def checkStarSchema(ctx: Ctx, wh: String, served: Seq[JsonNode]): Unit = {
    val s = ctx.spark
    val weather = StarSchemaSink.readTable(s, wh, "weather")
      .select(col("id"), date_format(col("DateTime"), "yyyy-MM-dd HH:mm:ss"),
        col("Temperature"), col("WindSpeed"), col("Precipitation"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val traffic = StarSchemaSink.readTable(s, wh, "traffic")
      .select("id", "date_id", "Intensity").collect()
    val rows = ctx.manifest.get("rows")
    val expectedHours = served.flatMap { w =>
      w.elements.asScala.toSeq.filter(_.get("kind").asText != "replay")
        .flatMap(c => readStamps(ctx, c.get("payload").asText))
    }.toSet
    ctx.check("weather ids are dense and unique",
      weather.keySet == (1L to weather.size.toLong).toSet, s"${weather.size} rows")
    ctx.check("traffic ids are dense and unique",
      traffic.map(_.getLong(0)).toSet == (1L to traffic.length.toLong).toSet &&
        traffic.map(_.getLong(0)).distinct.length == traffic.length,
      s"${traffic.length} rows")
    val stamps = weather.values.map(_.getString(1)).toSeq
    ctx.check("weather holds each served hour once",
      stamps.size == expectedHours.size && stamps.toSet == expectedHours,
      s"${stamps.size} rows for ${expectedHours.size} hours")
    val dateIds = traffic.map(r => Option(r.get(1)).map(_.asInstanceOf[Long]))
    ctx.check("every date_id resolves to its hour's weather row, once",
      dateIds.forall(_.exists(weather.contains)) &&
        dateIds.flatten.distinct.length == dateIds.length &&
        dateIds.flatten.toSet == weather.keySet,
      s"${traffic.length} traffic rows")
    val badValues = weather.values.filter { r =>
      val want = rows.get(r.getString(1))
      want == null || r.getInt(2) != want.get("temperature").asInt ||
        r.getInt(3) != want.get("wind").asInt ||
        r.getBoolean(4) != want.get("precipitation").asBoolean
    }
    ctx.check("F->C, wind and precipitation values match the payloads",
      badValues.isEmpty, s"${badValues.size} rows differ")
  }

  /** The UTC instants of a payload's hours, parsed apart from Spark. */
  private def readStamps(ctx: Ctx, payload: String): Seq[String] = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    ctx.mapper.readTree(new File(payload)).elements.asScala.toSeq.map { r =>
      java.time.OffsetDateTime.parse(r.get("DateTime").asText)
        .atZoneSameInstant(java.time.ZoneOffset.UTC).format(fmt)
    }
  }
}
