package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed call into a graft module: `layer` is the module the call
  * enters (sources, functions, pipelines, ml, sinks, operators,
  * expressions, Queries); `op` is the benchmark op it belongs to (-1
  * outside ops, e.g. in set-up).
  */
final case class Span(id: Int, name: String, layer: String,
    startNs: Long, endNs: Long, parent: Int, op: Int)

/** In-memory span recorder. Disabled, `span` only runs its body, so the
  * untraced run pays nothing; enabled, it keeps every span until the
  * benchmark writes them out at exit.
  */
final class Trace(val enabled: Boolean) {
  val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op: Int = -1

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, layer, t0, System.nanoTime(), parent, op)
      }
    }
}

/** Listener-fed counters of the measured run: Spark jobs, tasks,
  * executor CPU and shuffle bytes written. Read through [[snapshot]], which
  * drains the listener bus first so a call's tail tasks are counted
  * with it.
  */
final class Counters(sc: SparkContext) extends SparkListener {
  private val jobs = new AtomicLong
  private val tasks = new AtomicLong
  private val cpuNs = new AtomicLong
  private val shuffleBytes = new AtomicLong
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  def snapshot(): Counts = {
    org.apache.spark.GraftSparkAccess.drainListenerBus(sc)
    Counts(jobs.get, tasks.get, cpuNs.get / 1e9, shuffleBytes.get / 1e6)
  }
}

object Counters {
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
}

final case class Counts(jobs: Long, tasks: Long, cpuS: Double, shuffleMb: Double) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, tasks - o.tasks,
    cpuS - o.cpuS, shuffleMb - o.shuffleMb)
  def toMap: Map[String, Any] = Map("jobs" -> jobs, "tasks" -> tasks,
    "cpu_s" -> cpuS, "shuffle_mb" -> shuffleMb)
}
