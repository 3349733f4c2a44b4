package graft

import org.apache.spark.sql.functions._

import graft.ml.TrafficModel
import graft.pipelines.{ForecastServe, HistoricalTraining}
import graft.sinks.StarSchemaSink

/** End-to-end CLI for the two reference pipelines (the library's
  * equivalent of running the notebook + one serving DAG cycle,
  * SURVEY §3.1–3.2):
  *
  *   runMain graft.PipelineDemo <weatherCsv> <trafficCsv> \
  *     <forecastJson> <workDir>
  *
  * Trains on the historical CSVs, reports hold-out quality vs the
  * published baseline, persists the model, then runs the serving load
  * twice to demonstrate ON CONFLICT-parity idempotency.
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val Array(weatherCsv, trafficCsv, forecastJson, workDir) =
      if (args.length == 4) args
      else Array(
        HistoricalTraining.WeatherCsv,
        HistoricalTraining.TrafficCsv,
        "src/test/resources/forecast_fixture.json",
        java.nio.file.Files.createTempDirectory("graft-demo").toString)

    val spark = GraftSession.local("graft-demo")
    val modelPath = s"$workDir/model/rf"
    val warehouse = s"$workDir/warehouse"

    // §3.1 historical training
    val features = HistoricalTraining.fullData(spark, weatherCsv, trafficCsv)
    val (train, test) = HistoricalTraining.temporalSplit(features, 7000)
    val model = TrafficModel.fit(TrafficModel.randomForest(), train)
    val scored = TrafficModel.predict(model, test)
    println(f"[demo] train=${train.count()} test=${test.count()} " +
      f"MAE=${TrafficModel.mae(scored)}%.5f " +
      f"PearsonR=${TrafficModel.pearson(scored)}%.5f " +
      "(baseline gate: <=0.05 / >=0.90)")
    println("[demo] importances: " + TrafficModel.featureImportances(model)
      .toSeq.sortBy(-_._2).map { case (k, v) => f"$k=$v%.3f" }.mkString(", "))
    TrafficModel.save(model, modelPath)

    // §3.2 serving DAG cycle, twice (idempotency)
    val (w1, t1) = ForecastServe.run(spark, forecastJson, modelPath, warehouse)
    val (w2, t2) = ForecastServe.run(spark, forecastJson, modelPath, warehouse)
    println(s"[demo] serve run1 appended weather=$w1 traffic=$t1; " +
      s"run2 (same payload) appended weather=$w2 traffic=$t2")
    StarSchemaSink.readTable(spark, warehouse, "weather")
      .orderBy("id").show(5, truncate = false)
    StarSchemaSink.readTable(spark, warehouse, "traffic")
      .join(StarSchemaSink.readTable(spark, warehouse, "weather")
        .select(col("id").as("date_id"), col("DateTime")), Seq("date_id"), "left")
      .orderBy("id").show(5, truncate = false)
    spark.stop()
  }
}
