package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame

import graft.sinks.{JdbcStarSink, StarSchemaSink}

/** Surrogate ids of a multi-partition append, in both star sinks, equal
  * `maxId + row_number()` over the `naturalKeys ++ rowKeys` order of the
  * rows that survive the within-batch dedup and the anti-join. The
  * expected ids are computed here in plain Scala.
  */
class SinkIdAssignmentSpec extends SparkSpec {
  import spark.implicits._

  private type Row3 = (Option[Long], Timestamp, Int) // date_id, DateTime, Intensity

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private def minute(i: Int) = new Timestamp(t0 + i * 60000L)

  /** 40 existing rows (date_ids 900000..900039), so maxId = 40. */
  private val seed: Seq[Row3] =
    (0 until 40).map(i => (Some(900000L + i), minute(i), 100000 + i))

  /** 5,000 rows: 4,000 whose date_ids repeat (distinct DateTimes), 300
    * with a null date_id, 200 whose date_id is already in the table,
    * and 500 exact copies of earlier rows.
    */
  private val batch: Seq[Row3] = {
    val rnd = new scala.util.Random(7)
    val distinct = (0 until 4500).map { i =>
      val dateId =
        if (i < 4000) Some(rnd.nextInt(2500).toLong)
        else if (i < 4300) None
        else Some(900000L + rnd.nextInt(40))
      (dateId, minute(1000 + i), i)
    }
    rnd.shuffle(distinct ++ Seq.fill(500)(distinct(rnd.nextInt(4500))))
  }

  /** (id, date_id, Intensity) the batch append must add after `seed`. */
  private val expected: Set[(Long, Option[Long], Int)] = {
    val existingKeys = seed.map(_._1).toSet
    batch.distinct.filterNot(r => existingKeys(r._1))
      .sortBy(r => (r._1.map(_ + 1).getOrElse(0L), r._2.getTime)) // nulls first
      .zipWithIndex
      .map { case ((dateId, _, intensity), i) => (seed.size + i + 1L, dateId, intensity) }
      .toSet
  }

  private def frame(rows: Seq[Row3]): DataFrame =
    rows.toDF("date_id", "DateTime", "Intensity").repartition(8)

  /** Appends the seed, then the batch, through `append`, and checks the
    * table `read` returns and that each append releases what it persists.
    */
  private def checkIds(append: DataFrame => Long, read: () => DataFrame): Unit = {
    // the context cleaner may drop other RDDs meanwhile; none may be added
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(key, "false") // keep all 8 range partitions
    try {
      assert(append(frame(seed)) == seed.size.toLong)
      assert(leaked.isEmpty, leaked)
      assert(append(frame(batch)) == expected.size.toLong)
      assert(leaked.isEmpty, leaked)
    } finally spark.conf.unset(key)
    val got = read().select("id", "date_id", "Intensity").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]), r.getInt(2)))
    assert(got.map(_._1).sorted.toSeq == (1L to (seed.size + expected.size).toLong))
    val added = got.filter(_._1 > seed.size).toSet
    assert(added.size == expected.size)
    assert(added == expected, (added -- expected).take(5))
  }

  test("parquet sink: ids of a multi-partition append equal maxId + " +
      "row_number() over (date_id, DateTime)") {
    val wh = tmpDir("wh-ids")
    StarSchemaSink.createTables(spark, wh)
    checkIds(
      StarSchemaSink.idempotentAppend(spark, wh, "traffic", _, Seq("date_id"),
        rowKeys = Seq("DateTime")),
      () => StarSchemaSink.readTable(spark, wh, "traffic"))
    val files = new java.io.File(s"$wh/traffic").listFiles
      .count(_.getName.endsWith(".parquet"))
    assert(files > 3, s"$files data files: the append did not span partitions")
  }

  test("JDBC sink: ids of a multi-partition append equal maxId + " +
      "row_number() over (date_id, DateTime)") {
    val url = s"jdbc:derby:${tmpDir("derby-ids")}/idsdb;create=true"
    JdbcStarSink.createTables(spark, url)
    checkIds(
      JdbcStarSink.idempotentAppend(spark, url, "traffic", _, Seq("date_id"),
        rowKeys = Seq("DateTime")),
      () => JdbcStarSink.readTable(spark, url, "traffic"))
  }
}
