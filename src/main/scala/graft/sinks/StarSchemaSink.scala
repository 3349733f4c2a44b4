package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** The serving star schema (SURVEY §2 K1–K3; DDL at
  * dags/utils.py:98-124):
  *
  *   weather(id PK, DateTime, WindSpeed, Temperature, Precipitation)
  *   traffic(id PK, date_id UNIQUE → weather.id, Intensity)
  *
  * The reference loads Postgres row-at-a-time with
  * `INSERT ... ON CONFLICT DO NOTHING` (one commit per row,
  * dags/utils.py:206-215/267-276) and resolves the FK with a
  * correlated subquery per row (:270). Spark rendering: set-based —
  * within-batch dedup, anti-join against existing natural keys, one
  * append; FK resolution is a single left join (J2). Backed by
  * parquet tables; the same logic drives a JDBC sink unchanged.
  *
  * Surrogate ids: `max(existing) + position in natural-key order`,
  * computed scale-safe — range-partition by the key, sort within each
  * partition, add the driver-side prefix sum of the partition sizes
  * (never a global single-partition window). Same dense SERIAL-like
  * assignment at any batch size.
  *
  * Table existence is a Hadoop FileSystem probe and the two tables are
  * read with their declared schemas, so neither probing nor reading a
  * table runs a Spark job of its own.
  */
object StarSchemaSink {

  /** Declared schemas of the two tables (dags/utils.py:98-124). */
  private val Schemas: Map[String, StructType] = Map(
    "weather" -> StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("DateTime", TimestampType),
      StructField("WindSpeed", IntegerType),
      StructField("Temperature", IntegerType),
      StructField("Precipitation", BooleanType))),
    "traffic" -> StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("date_id", LongType),
      StructField("Intensity", IntegerType))))

  private def tablePath(warehouse: String, name: String) = s"$warehouse/$name"

  private def exists(s: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }

  /** `name` must be a declared table, whether or not it exists yet. */
  private def readIfExists(
      s: SparkSession, warehouse: String, name: String): Option[DataFrame] = {
    require(Schemas.contains(name), s"not a star-schema table: $name")
    if (exists(s, tablePath(warehouse, name))) Some(readTable(s, warehouse, name))
    else None
  }

  /** K1: create-if-not-exists — parquet tables materialize on first
    * append; this just pre-creates empty frames for introspection.
    */
  def createTables(s: SparkSession, warehouse: String): Unit =
    Schemas.foreach { case (name, schema) =>
      val path = tablePath(warehouse, name)
      if (!exists(s, path))
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
          .write.mode(SaveMode.Overwrite).parquet(path)
    }

  /** K2: idempotent append with ON CONFLICT DO NOTHING parity to
    * `table`, `weather` or `traffic`. `naturalKeys` mirror the DB
    * uniqueness constraints (weather.DateTime; traffic.date_id).
    * Returns rows actually appended.
    *
    * `rowKeys` (optional) is a FINER within-batch identity grain:
    * when the natural key is null for several genuinely distinct
    * rows (traffic.date_id after an unmatched FK resolve), deduping
    * on naturalKeys alone collapses them to one arbitrary survivor —
    * the reference's Postgres UNIQUE would insert each (NULLs never
    * conflict). With rowKeys set, within-batch dedup runs on
    * rowKeys, the anti-join stays on naturalKeys (null-safe — the
    * documented re-run idempotency divergence is unchanged), id
    * assignment orders by naturalKeys ++ rowKeys for determinism,
    * and rowKeys columns absent from the table schema drop before
    * the write.
    */
  def idempotentAppend(
      s: SparkSession,
      warehouse: String,
      table: String,
      batch: DataFrame,
      naturalKeys: Seq[String],
      rowKeys: Seq[String] = Nil): Long = {
    val path = tablePath(warehouse, table)
    val existing = readIfExists(s, warehouse, table)
    val fresh = antiJoinExisting(batch, existing, naturalKeys, rowKeys)
    val orderKeys = naturalKeys ++ rowKeys.filterNot(naturalKeys.contains)
    appendWithIds(fresh, orderKeys, existing.map(maxId).getOrElse(0L)) { withIds =>
      val outCols = existing.map(_.columns.toSeq)
        .getOrElse("id" +: batch.columns.toSeq
          .filterNot(c => c == "id" ||
            (rowKeys.contains(c) && !naturalKeys.contains(c))))
      withIds.select(outCols.map(col): _*)
        .write.mode(SaveMode.Append).parquet(path)
    }
  }

  /** The table's largest id, 0 when it is empty (shared by both
    * sinks). A top-1 is one job (each partition's best row, merged on
    * the driver); `agg(max)` would add a shuffle stage.
    */
  private[sinks] def maxId(existing: DataFrame): Long =
    existing.select("id").orderBy(col("id").desc).head(1)
      .headOption.map(_.getLong(0)).getOrElse(0L)

  /** Within-batch dedup + anti-join against the existing table's
    * natural keys (the ON CONFLICT DO NOTHING half of K2, shared by
    * the parquet and JDBC sinks). Null-safe key comparison
    * throughout: Postgres UNIQUE treats NULLs as non-conflicting (a
    * null-FK row would re-insert on every run); we deliberately
    * diverge and treat null as a key value so the sink is fully
    * idempotent. Within-batch identity is `rowKeys` when given (so
    * distinct rows sharing a null natural key all survive — see
    * [[idempotentAppend]]), else naturalKeys.
    */
  private[sinks] def antiJoinExisting(
      batch: DataFrame,
      existing: Option[DataFrame],
      naturalKeys: Seq[String],
      rowKeys: Seq[String] = Nil): DataFrame = {
    // within-batch dedup first (the DB constraint would reject the
    // second row of a duplicate pair; dropDuplicates keeps one).
    val deduped =
      batch.dropDuplicates(if (rowKeys.nonEmpty) rowKeys else naturalKeys)
    existing match {
      case Some(ex) =>
        val exKeys = broadcast(
          ex.select(naturalKeys.map(k => col(k).as(s"__ex_$k")): _*))
        val cond = naturalKeys
          .map(k => deduped(k) <=> exKeys(s"__ex_$k"))
          .reduce(_ && _)
        deduped.join(exKeys, cond, "left_anti")
      case None => deduped
    }
  }

  /** Low 33 bits of `monotonically_increasing_id()`: the row's
    * position within its partition (the upper bits hold the
    * partition id).
    */
  private val RowInPartition = (1L << 33) - 1

  /** Dense-sequential surrogate-id assignment + write (the SERIAL
    * half of K2, shared by the parquet and JDBC sinks): range-
    * partition by the order keys (partition i's keys all sort before
    * partition i+1's) and sort within each partition; the rows are
    * persisted once (released afterwards), so the size scan and the
    * write read the same partitions. One job counts each partition's
    * rows (O(#partitions) longs reach the driver, like any job's task
    * stats), and a row's id is `maxId` + its partition's prefix offset
    * (a literal array indexed by `spark_partition_id()`) + its position
    * within the partition + 1. No shuffle beyond the range partition
    * and never a global single-partition window; the assignment is
    * identical to `maxId + row_number()` over the order keys, which
    * must identify a row within `fresh`. The persisted rows keep their
    * lineage, so a partition lost with an executor is recomputed to
    * the same rows in the same order. Returns the appended row count;
    * `write` runs only when there is something to append.
    */
  private[sinks] def appendWithIds(
      fresh: DataFrame,
      orderKeys: Seq[String],
      maxId: Long)(write: DataFrame => Unit): Long = {
    val keyCols = orderKeys.map(col)
    val sorted = fresh.repartitionByRange(keyCols: _*)
      .sortWithinPartitions(keyCols: _*)
    // the executed plan's rows, not a cached plan: cached plans keep
    // every range partition (AQE may not coalesce them), so a small
    // batch would be written as one file per shuffle partition
    val rows = sorted.rdd.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val sizes = rows.mapPartitions(it => Iterator(it.size.toLong)).collect()
      val n = sizes.sum
      if (n > 0) {
        val offsets = sizes.scanLeft(maxId)(_ + _).init
        write(fresh.sparkSession.createDataFrame(rows, sorted.schema)
          .withColumn("id", typedLit(offsets).getItem(spark_partition_id()) +
            (monotonically_increasing_id().bitwiseAND(RowInPartition) + 1)))
      }
      n
    } finally rows.unpersist(blocking = false)
  }

  /** K3: FK-resolving traffic append — J2 left join replaces the
    * reference's per-row `(SELECT id FROM weather WHERE datetime=…)`;
    * a prediction whose DateTime has no weather row keeps a null
    * date_id (the reference would insert NULL too). Then K2 semantics
    * on the `date_id` unique key, with `DateTime` as the within-batch
    * row grain so DISTINCT unmatched predictions each insert their
    * own null-FK row instead of collapsing to one arbitrary survivor
    * (Postgres UNIQUE parity). Unmatched rows are reported on stderr
    * — a null FK in the fact table is a data-quality signal.
    */
  def appendTraffic(
      s: SparkSession,
      warehouse: String,
      predictions: DataFrame // columns: DateTime, Intensity
  ): Long = {
    val weatherDim = readTable(s, warehouse, "weather")
      .select(col("id").as("date_id"), col("DateTime"))
    withResolvedTraffic(predictions, weatherDim, "parquet sink") { resolved =>
      idempotentAppend(s, warehouse, "traffic", resolved, Seq("date_id"),
        rowKeys = Seq("DateTime"))
    }
  }

  /** Shared K3 resolve (parquet + JDBC sinks): dedup at the
    * prediction grain, broadcast-join the dim, warn on unmatched, then
    * `append` the resolved rows. They are cached for the duration, so
    * the predictions are scored once for the unmatched count and the
    * append together. Keeps `DateTime` in the output — the sinks pass
    * it as the `rowKeys` grain and it drops before the physical write.
    */
  private[sinks] def withResolvedTraffic(
      predictions: DataFrame,
      weatherDim: DataFrame,
      who: String)(append: DataFrame => Long): Long = {
    val resolved = predictions
      .dropDuplicates("DateTime")
      .join(broadcast(weatherDim), Seq("DateTime"), "left")
      .select("date_id", "Intensity", "DateTime")
      .cache()
    try {
      // Batch-sized count (predictions are serving batches, the join is
      // broadcast) — a null FK is a data-quality signal worth a line.
      val unmatched = resolved.filter(col("date_id").isNull).count()
      if (unmatched > 0)
        Console.err.println(
          s"[sink] appendTraffic ($who): $unmatched prediction(s) have no " +
            "weather row - inserting with null date_id (reference parity)")
      append(resolved)
    } finally resolved.unpersist()
  }

  /** A table of the star schema, read with its declared schema (no
    * inference job); a name other than `weather` or `traffic` fails.
    */
  def readTable(s: SparkSession, warehouse: String, name: String): DataFrame =
    s.read.schema(Schemas(name)).parquet(tablePath(warehouse, name))
}
