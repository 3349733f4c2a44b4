package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.sinks.StarSchemaSink

/** ON CONFLICT DO NOTHING parity (SURVEY §2 K2/K3, §5.5): append ∘
  * append = append; FK resolution with missing timestamp → null
  * date_id.
  */
class StarSchemaSinkSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("K2: re-appending the same weather batch appends zero rows") {
    val wh = tmpDir("wh-k2")
    StarSchemaSink.createTables(spark, wh)
    val batch = Seq(
      (ts("2022-01-25 12:00:00"), 12, 5, false),
      (ts("2022-01-25 13:00:00"), 14, 6, true))
      .toDF("DateTime", "WindSpeed", "Temperature", "Precipitation")

    val n1 = StarSchemaSink.idempotentAppend(
      spark, wh, "weather", batch, Seq("DateTime"))
    assert(n1 == 2L)
    val n2 = StarSchemaSink.idempotentAppend(
      spark, wh, "weather", batch, Seq("DateTime"))
    assert(n2 == 0L)
    assert(StarSchemaSink.readTable(spark, wh, "weather").count() == 2L)
  }

  test("K2: within-batch duplicates collapse before the anti-join") {
    val wh = tmpDir("wh-dup")
    StarSchemaSink.createTables(spark, wh)
    val batch = Seq(
      (ts("2022-01-25 12:00:00"), 12, 5, false),
      (ts("2022-01-25 12:00:00"), 99, 9, true)) // same natural key
      .toDF("DateTime", "WindSpeed", "Temperature", "Precipitation")
    val n = StarSchemaSink.idempotentAppend(
      spark, wh, "weather", batch, Seq("DateTime"))
    assert(n == 1L)
  }

  test("K2: surrogate ids are unique and continue past existing max") {
    val wh = tmpDir("wh-ids")
    StarSchemaSink.createTables(spark, wh)
    val b1 = Seq((ts("2022-01-25 12:00:00"), 1, 1, false))
      .toDF("DateTime", "WindSpeed", "Temperature", "Precipitation")
    val b2 = Seq(
      (ts("2022-01-25 13:00:00"), 2, 2, false),
      (ts("2022-01-25 14:00:00"), 3, 3, false))
      .toDF("DateTime", "WindSpeed", "Temperature", "Precipitation")
    StarSchemaSink.idempotentAppend(spark, wh, "weather", b1, Seq("DateTime"))
    StarSchemaSink.idempotentAppend(spark, wh, "weather", b2, Seq("DateTime"))
    val ids = StarSchemaSink.readTable(spark, wh, "weather")
      .select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L))
  }

  test("K3/J2: FK resolution; missing weather timestamp -> null date_id") {
    val wh = tmpDir("wh-k3")
    StarSchemaSink.createTables(spark, wh)
    val weather = Seq((ts("2022-01-25 12:00:00"), 12, 5, false))
      .toDF("DateTime", "WindSpeed", "Temperature", "Precipitation")
    StarSchemaSink.idempotentAppend(
      spark, wh, "weather", weather, Seq("DateTime"))

    val preds = Seq(
      (ts("2022-01-25 12:00:00"), 7),   // resolvable
      (ts("2099-01-01 00:00:00"), 3))   // no weather row -> null FK
      .toDF("DateTime", "Intensity")
    val n = StarSchemaSink.appendTraffic(spark, wh, preds)
    assert(n == 2L)
    val traffic = StarSchemaSink.readTable(spark, wh, "traffic")
    assert(traffic.filter(col("date_id").isNull).count() == 1L)
    assert(traffic.filter(col("date_id") === 1L && col("Intensity") === 7)
      .count() == 1L)
    // re-run: ON CONFLICT parity on date_id
    assert(StarSchemaSink.appendTraffic(spark, wh, preds) == 0L)
  }

  test("K3: TWO distinct unmatched DateTimes both insert null-FK rows " +
      "(no within-batch collapse; Postgres UNIQUE inserts each) and " +
      "the re-run stays idempotent") {
    val wh = tmpDir("wh-k3-null2")
    StarSchemaSink.createTables(spark, wh)
    val weather = Seq((ts("2022-01-25 12:00:00"), 12, 5, false))
      .toDF("DateTime", "WindSpeed", "Temperature", "Precipitation")
    StarSchemaSink.idempotentAppend(
      spark, wh, "weather", weather, Seq("DateTime"))

    val preds = Seq(
      (ts("2022-01-25 12:00:00"), 7), // resolvable
      (ts("2099-01-01 00:00:00"), 3), // unmatched #1
      (ts("2100-06-15 08:00:00"), 5)) // unmatched #2 - must NOT collapse
      .toDF("DateTime", "Intensity")
    assert(StarSchemaSink.appendTraffic(spark, wh, preds) == 3L)
    val traffic = StarSchemaSink.readTable(spark, wh, "traffic")
    assert(traffic.filter(col("date_id").isNull).count() == 2L,
      "both distinct unmatched predictions must survive as null-FK rows")
    assert(traffic.filter(col("date_id").isNull)
      .select("Intensity").as[Int].collect().sorted.toSeq == Seq(3, 5))
    // ids dense and unique across matched + unmatched
    assert(traffic.select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
    // re-run: documented null-as-key divergence keeps full idempotency
    assert(StarSchemaSink.appendTraffic(spark, wh, preds) == 0L)
    assert(StarSchemaSink.readTable(spark, wh, "traffic").count() == 3L)
  }

  test("a table other than weather or traffic is refused, even before " +
      "its first append") {
    val wh = tmpDir("wh-unknown")
    val batch = Seq((1L, "a")).toDF("k", "v")
    intercept[IllegalArgumentException](
      StarSchemaSink.idempotentAppend(spark, wh, "other", batch, Seq("k")))
    assert(!new java.io.File(s"$wh/other").exists)
    intercept[NoSuchElementException](
      StarSchemaSink.readTable(spark, wh, "other"))
  }
}
