package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer, recorded from the benchmark's side of the
  * call. `request` groups the spans of one operation. */
final case class Span(id: Int, parent: Int, request: Int, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder. Disabled, `span` is a plain call; enabled, spans are
  * kept in memory and written out once, when the run ends. */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1
  var enabled = false
  var request = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, request, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    for (s <- spans)
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"request":${s.request},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""" + "\n"
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Spark-runtime counters for one traced window. Times are ms unless the
  * name says otherwise. */
final class SparkCounters {
  var jobs = 0L
  var tasks = 0L
  var emptyTasks = 0L
  var taskBusyMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var outputFiles = 0L
  var exchanges = 0L
  var analysisMs = 0L
  var optimizerMs = 0L
  var planningMs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** The benchmark's own SparkListener + QueryExecutionListener. It is
  * registered only around traced operations, so untraced operations pay
  * nothing for it. */
final class LayerListener extends SparkListener with QueryExecutionListener {
  @volatile var c = new SparkCounters
  private val jobStart = mutable.Map.empty[Int, Long]

  def reset(): Unit = synchronized { c = new SparkCounters; jobStart.clear() }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c.jobs += 1
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => c.jobIntervals += (t0 -> e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      val read = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      if (read == 0) c.emptyTasks += 1
      c.taskBusyMs += m.executorRunTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    val phases = qe.tracker.phases
    def phaseMs(p: String): Long =
      phases.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
    c.analysisMs += phaseMs("analysis")
    c.optimizerMs += phaseMs("optimization")
    c.planningMs += phaseMs("planning")
    walk(qe.executedPlan)
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Counts shuffle exchanges and written files in the final plan,
    * looking through adaptive wrappers and query stages. */
  private def walk(p: SparkPlan): Unit = {
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan); return
      case s: QueryStageExec => walk(s.plan); return
      case _: ShuffleExchangeLike => c.exchanges += 1
      case w: DataWritingCommandExec =>
        c.outputFiles += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case _ =>
    }
    p.children.foreach(walk)
    p.subqueries.foreach(walk)
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Host {
  /** (busy, steal, total) jiffies from the first line of /proc/stat, or
    * None where that file does not exist. */
  def cpuTimes(): Option[(Long, Long, Long)] =
    try {
      val line = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal [guest guest_nice]:
      // guest time is already counted in user, so it is left out
      val fields = f.take(8).padTo(8, 0L)
      val total = fields.sum
      val idle = fields(3) + fields(4)
      val steal = fields(7)
      Some((total - idle - steal, steal, total))
    } catch { case _: Exception => None }

  /** (steal share, busy share) of all CPU time between two samples. */
  def shares(a: Option[(Long, Long, Long)], b: Option[(Long, Long, Long)])
      : (Double, Double) = (a, b) match {
    case (Some((b0, s0, t0)), Some((b1, s1, t1))) if t1 > t0 =>
      ((s1 - s0).toDouble / (t1 - t0), (b1 - b0).toDouble / (t1 - t0))
    case _ => (0.0, 0.0)
  }

  /** CPU time used so far by this whole process (driver and executor
    * threads of the local session, JIT and GC included). */
  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  /** Peak resident set size of this process in MB (VmHWM). */
  def peakRssMb(): Double =
    try {
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
        .toArray(Array.empty[String]).find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    } catch { case _: Exception => 0.0 }
}
