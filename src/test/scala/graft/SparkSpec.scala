package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session via
  * getOrCreate; suites must not stop it).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("graft-test", 8)

  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"

  /** The reference 2015 CSVs the pipelines read that are absent here. */
  def missingRefCsvs: Seq[String] = {
    import graft.pipelines.HistoricalTraining.{TrafficCsv, WeatherCsv}
    Seq(WeatherCsv, TrafficCsv)
      .filterNot(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
  }

  /** Cancels the calling test when the reference 2015 CSVs are absent:
    * the golden counts and quality gates hold only on that data.
    */
  def assumeRefData(): Unit = {
    val missing = missingRefCsvs
    assume(missing.isEmpty, s"reference data absent: ${missing.mkString(", ")}")
  }

  def resource(name: String): String =
    getClass.getClassLoader.getResource(name).getPath

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Drain-then-stop for transformWithState queries. TWS with a
    * ProcessingTime TimeMode runs a micro-batch EVERY trigger (Spark
    * cannot know no timers will fire), so `noNewData` is never
    * signalled: processAllAvailable hangs, Trigger.AvailableNow never
    * concludes its snapshot, and awaitTermination(timeout) burns the
    * full timeout — the r10 test-time audit found six suites paying
    * 120 s per drain exactly this way (2-6 MINUTES per test). The
    * reliable drain signal is the query's own progress stream: once
    * numInputRows reads 0 for a few consecutive progress events, every
    * source offset has been consumed (MemoryStream offsets are linear
    * — an empty batch cannot interleave while data remains), and the
    * query can stop. Exits ~1 s after the real work.
    */
  def drainTws(q: org.apache.spark.sql.streaming.StreamingQuery,
      maxWaitMs: Long = 120000L): Unit = {
    val t0 = System.currentTimeMillis()
    var idle = 0
    var lastBatch = -1L
    // also exits when the query terminates on its own (a
    // self-stopping AvailableNow run — e.g. foreachBatch sinks —
    // posts no further progress, so idle-counting alone would spin)
    while (q.isActive && idle < 3 &&
        System.currentTimeMillis() - t0 < maxWaitMs) {
      Thread.sleep(150)
      val p = q.lastProgress
      if (p != null && p.batchId != lastBatch) {
        lastBatch = p.batchId
        idle = if (p.numInputRows == 0) idle + 1 else 0
      }
    }
    if (q.isActive) q.stop()
  }
}
