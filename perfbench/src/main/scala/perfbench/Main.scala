package perfbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** Benchmark harness: one workload in one JVM.
  *
  *   perfbench.Main --workload W --inputs DIR --work DIR --out FILE
  *                  --seconds N --trace 0|1 --cores N
  *
  * Set-up (session, warm-up of every op kind) runs first; then whole
  * rounds of the workload's ops repeat until `--seconds` have passed.
  * Every op runs with its output check inside its own try: an op that
  * throws or fails its check is recorded as failed and contributes no
  * latency sample. The raw record (ops, checks, counters, spans) goes to
  * `--out` as JSON; perfbench/run.py turns it into the metrics.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = new Ctx(args)
    val workload: Ctx => Unit = args("workload") match {
      case "forecast_pipeline" => Forecast.run
      case "graph_fixpoint" => Graph.run
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    ctx.log("session ready")
    try workload(ctx)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.check("workload ran to its end", ok = false, e.toString)
    } finally {
      ctx.log("workload done")
      ctx.write()
      ctx.spark.stop()
      ctx.log("session stopped")
    }
  }
}

/** Per-run state shared by the workloads. */
final class Ctx(val args: Map[String, String]) {
  /** The JVM's own start instant, the origin of the phase log. */
  val jvmStartMs: Long =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  val seconds: Double = args("seconds").toDouble
  val trace = new Trace(args("trace") == "1")
  val inputs: String = args("inputs")
  val work: String = args("work")
  val mapper = new ObjectMapper()
  val manifest: JsonNode = mapper.readTree(new File(s"$inputs/manifest.json"))

  val spark: SparkSession = {
    val cores = args("cores")
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.default.parallelism", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(s"$work/checkpoints")
    graft.GraftSession.tune(s)
  }
  val counters = new Counters(spark.sparkContext)

  private val ops = ArrayBuffer[Map[String, Any]]()
  private val notes = mutable.LinkedHashMap[String, Any]()
  private val checks = ArrayBuffer[Map[String, Any]]()
  /** Per-layer figures measured outside ops (training, kernels, ...). */
  val extra = mutable.LinkedHashMap[String, Any]()
  private var nextOp = 0
  private var setupEndMs = 0L
  private var timedStartNs = 0L
  private var timedGc = 0.0

  /** Ends set-up: warm-up ops and their spans are dropped, set-up spans
    * outside ops are kept, and the timed section starts. */
  def endSetup(): Unit = {
    ops.clear()
    trace.spans.filterInPlace(_.op < 0)
    setupEndMs = System.currentTimeMillis()
    timedStartNs = System.nanoTime()
    timedGc = Counters.gcSeconds()
    log("set-up done")
  }

  def log(msg: String): Unit = System.err.println(
    f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1f s after JVM start: $msg")

  def timeLeft: Boolean = (System.nanoTime() - timedStartNs) / 1e9 < seconds

  def endTimed(): Unit = {
    extra("timed_s") = (System.nanoTime() - timedStartNs) / 1e9
    extra("timed_gc_s") = Counters.gcSeconds() - timedGc
    log("timed section done")
  }

  /** Runs one op: `work` is timed, `check` (untimed) returns None when
    * the output is right and a reason otherwise.
    */
  def op[A](kind: String, detail: Map[String, Any] = Map.empty)(work: => A)(
      check: A => Option[String]): Boolean = {
    val id = nextOp
    nextOp += 1
    trace.op = id
    val c0 = counters.snapshot()
    val t0 = System.nanoTime()
    val res: Either[String, (A, Double)] =
      try {
        val a = trace.span(kind, "op")(work)
        Right((a, (System.nanoTime() - t0) / 1e9))
      } catch { case e: Throwable => Left(s"threw: $e") }
    val c = counters.snapshot() - c0
    trace.op = -1
    val (ok, error, secs) = res match {
      case Left(err) => (false, err, (System.nanoTime() - t0) / 1e9)
      case Right((a, s)) =>
        val verdict =
          try check(a) catch { case e: Throwable => Some(s"check threw: $e") }
        (verdict.isEmpty, verdict.orNull, s)
    }
    val noted = notes.toMap
    notes.clear()
    if (!ok) System.err.println(s"[perfbench] op $id ($kind) failed: $error")
    ops += Map("id" -> id, "kind" -> kind, "seconds" -> secs, "ok" -> ok,
      "error" -> error, "counters" -> c.toMap, "detail" -> (detail ++ noted))
    ok
  }

  /** Records a per-op figure on the op now running. */
  def note(key: String, value: Any): Unit = notes(key) = value

  /** A span around one call into a graft module; traced, it also notes
    * the call's Spark jobs, tasks and CPU on the op now running. */
  def call[T](name: String, layer: String)(body: => T): T =
    if (!trace.enabled) body
    else {
      val c0 = counters.snapshot()
      val r = trace.span(name, layer)(body)
      val c = counters.snapshot() - c0
      note(s"$name.jobs", c.jobs); note(s"$name.tasks", c.tasks)
      note(s"$name.cpu_s", c.cpuS)
      r
    }

  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    if (!ok) System.err.println(s"[perfbench] check failed: $name: $detail")
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
  }

  def write(): Unit = {
    val spansOut = trace.spans.map(s => Map("id" -> s.id, "name" -> s.name,
      "layer" -> s.layer, "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9,
      "parent" -> s.parent, "op" -> s.op))
    val doc = Map(
      "jvm_start_ms" -> jvmStartMs,
      "setup_end_ms" -> setupEndMs,
      "ops" -> ops.toSeq,
      "checks" -> checks.toSeq,
      "extra" -> extra.toMap,
      "spans" -> spansOut.toSeq)
    mapper.writeValue(new File(args("out")), Ctx.toJava(doc))
  }
}

object Ctx {
  def toJava(v: Any): Any = v match {
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Seq[_] => s.map(toJava).asJava
    case o: Option[_] => o.map(toJava).orNull
    case x => x
  }
}

