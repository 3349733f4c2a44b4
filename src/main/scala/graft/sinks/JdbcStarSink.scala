package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Jdbc

/** The serving star schema over a LIVE JDBC database — the
  * reference's actual sink is Postgres (DDL at dags/utils.py:98-124,
  * row-at-a-time ON CONFLICT loads at :206-215/:267-276); this is the
  * same K1–K3 surface as [[StarSchemaSink]] with the storage swapped:
  * real CREATE TABLE DDL, batched JDBC appends, and the identical
  * set-based idempotency + surrogate-id logic (shared helpers — the
  * two sinks cannot drift). Tested against embedded Derby; the
  * dialect knobs are the same for Postgres.
  *
  * Scale shape: the anti-join scans only the natural-key PROJECTION
  * of the remote table (pushed down — the wire carries keys, not
  * rows), the id high-water mark is one top-1 over the id column, and
  * the append is batched inserts. The FK resolve broadcasts the
  * weather dimension exactly like the parquet sink.
  */
object JdbcStarSink {

  /** K1: CREATE TABLE (id + natural columns) if absent. Derby has no
    * IF NOT EXISTS — the already-exists SQLState is the exists check
    * (Derby X0Y32, Postgres 42P07), everything else propagates.
    * Note the DDL itself is Derby-flavored; Postgres parity covers
    * the append/anti-join/id logic (plain SQL over JDBC), not this
    * CREATE text — a Postgres deployment supplies its own DDL
    * (TIMESTAMPTZ, SERIAL) and the re-run no-op still holds via
    * 42P07.
    */
  def createTables(s: SparkSession, url: String): Unit = {
    val ddl = Seq(
      """CREATE TABLE weather (
        |  id BIGINT NOT NULL PRIMARY KEY,
        |  "DateTime" TIMESTAMP,
        |  "WindSpeed" INTEGER,
        |  "Temperature" INTEGER,
        |  "Precipitation" BOOLEAN)""".stripMargin,
      """CREATE TABLE traffic (
        |  id BIGINT NOT NULL PRIMARY KEY,
        |  date_id BIGINT,
        |  "Intensity" INTEGER)""".stripMargin)
    val conn = java.sql.DriverManager.getConnection(url)
    try ddl.foreach { stmt =>
      try { val st = conn.createStatement(); try st.execute(stmt)
            finally st.close() }
      catch {
        case e: java.sql.SQLException
            if Set("X0Y32", "42P07")(e.getSQLState) => ()
      }
    } finally conn.close()
  }

  /** K2 over JDBC with surrogate ids: same dedup + null-safe
    * anti-join + dense-sequential id assignment as the parquet sink
    * (shared [[StarSchemaSink.antiJoinExisting]] /
    * [[StarSchemaSink.appendWithIds]]), the write going out as
    * batched inserts. Returns rows actually appended — 0 on a re-run
    * of the same payload.
    */
  def idempotentAppend(
      s: SparkSession,
      url: String,
      table: String,
      batch: DataFrame,
      naturalKeys: Seq[String],
      batchSize: Int = 1000,
      rowKeys: Seq[String] = Nil): Long = {
    val existing = Jdbc.read(s, url, table)
    val fresh = StarSchemaSink.antiJoinExisting(
      batch, Some(existing), naturalKeys, rowKeys)
    val orderKeys = naturalKeys ++ rowKeys.filterNot(naturalKeys.contains)
    StarSchemaSink.appendWithIds(
        fresh, orderKeys, StarSchemaSink.maxId(existing)) { withIds =>
      Jdbc.append(
        withIds.select(existing.columns.map(col).toIndexedSeq: _*),
        url, table, batchSize)
    }
  }

  /** K3 over JDBC: FK-resolving traffic append — one broadcast left
    * join against the live weather dimension replaces the reference's
    * per-row correlated subquery (dags/utils.py:270), then K2
    * semantics on the date_id unique key with `DateTime` as the
    * within-batch row grain (distinct unmatched predictions each
    * keep their own null-FK row — see
    * [[StarSchemaSink.idempotentAppend]]).
    */
  def appendTraffic(
      s: SparkSession,
      url: String,
      predictions: DataFrame // columns: DateTime, Intensity
  ): Long = {
    val weatherDim = Jdbc.read(s, url, "weather")
      .select(col("id").as("date_id"), col("DateTime"))
    StarSchemaSink.withResolvedTraffic(predictions, weatherDim, "jdbc sink") {
      resolved =>
        idempotentAppend(s, url, "traffic", resolved, Seq("date_id"),
          rowKeys = Seq("DateTime"))
    }
  }

  def readTable(s: SparkSession, url: String, name: String): DataFrame =
    Jdbc.read(s, url, name)
}
