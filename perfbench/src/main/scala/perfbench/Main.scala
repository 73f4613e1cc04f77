package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.SparkSession

/** What one run shares with its workload: the session, the seed, the
  * tracer, the failure log and the traced-window hooks. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: Path,
    val cores: Int, val tracer: Tracer, val listener: LayerListener) {
  /** True inside a traced operation: the workload may then also time
    * single calls into layers (compile, load, dry run) after its timed
    * parts. */
  var traced = false
  val failures = mutable.ArrayBuffer.empty[String]
  var checksRun = 0

  /** Records one output check; a false `ok` counts as a failure. */
  def check(what: String, ok: Boolean, detail: => String = ""): Boolean = {
    checksRun += 1
    if (!ok) failures += s"$what${if (detail.isEmpty) "" else s": $detail"}"
    ok
  }

  /** Spark jobs seen by the listener so far in this traced operation. */
  def jobsSoFar(): Long = {
    ListenerBusDrain(spark.sparkContext)
    listener.c.jobs
  }

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

/** One measured operation: its kind, its wall time and, when traced, the
  * Spark counters seen inside it. */
final case class OpSample(kind: String, ms: Double, cpuMs: Double,
    traced: Boolean, counters: Option[SparkCounters], startMs: Long,
    endMs: Long)

/** A workload generates its inputs from the seed, then runs operations
  * until the run's time is up. Each operation times its measured part
  * with `timed` and checks its output outside of it. */
abstract class Workload(val ctx: Ctx) {
  /** Writes the inputs under `dir` and returns an order-independent
    * checksum of them. Same seed, same checksum. */
  def generate(dir: Path): String
  /** Untimed preparation after generation, such as reference results. */
  def prepare(dir: Path): Unit = ()
  /** Runs operation `i`, timing its measured parts with `timed`. */
  def op(i: Int, timed: Timed): Unit
  /** Per-layer metrics this workload measures (names from [[Layers]]). */
  def layerMetrics(samples: Seq[OpSample]): Map[String, Double] = Map.empty
  /** Workload-specific end-to-end figures for the human summary. */
  def summary(samples: Seq[OpSample]): Seq[(String, Double, String)]
  /** Items per second, the workload's throughput. */
  def throughput(samples: Seq[OpSample]): Double
  /** The latency the workload reports as `latency_p50_ms`. */
  def latencyMs(samples: Seq[OpSample]): Double = Stats.median(samples.map(_.ms))
}

/** Brackets each measured part of one operation: wall time always, and in
  * a traced operation the listener and the tracer as well. */
final class Timed(ctx: Ctx, traced: Boolean) {
  val samples = mutable.ArrayBuffer.empty[OpSample]

  def apply[T](kind: String)(body: => T): T = {
    val sc = ctx.spark.sparkContext
    if (traced) {
      ListenerBusDrain(sc)
      ctx.listener.reset()
      ctx.listener.register(ctx.spark)
    }
    val wall0 = System.currentTimeMillis()
    val cpu0 = Host.processCpuNs()
    val t0 = System.nanoTime()
    val out =
      try ctx.span(s"op.$kind")(body)
      finally {
        val ms = (System.nanoTime() - t0) / 1e6
        val wall1 = System.currentTimeMillis()
        val counters = if (traced) {
          ListenerBusDrain(sc)
          ctx.listener.unregister(ctx.spark)
          Some(ctx.listener.c)
        } else None
        val cpuMs = (Host.processCpuNs() - cpu0) / 1e6
        samples += OpSample(kind, ms, cpuMs, traced, counters, wall0, wall1)
      }
    out
  }
}

object Main {
  val Workloads = Seq("migrate", "curate")
  /** The benchmark's directory; the JVM runs from the repository root. */
  val Base: Path = Paths.get("perfbench").toAbsolutePath

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "migrate" => new Migrate(ctx)
    case "curate" => new Curate(ctx)
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("selftest")) {
      System.exit(SelfTest.run(args.drop(1)))
    }
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val workload = opt("--workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toDouble
    val trace = opt("--trace") == "1"
    val work = Base.resolve("work")
      .resolve(s"$workload-$seed-${ProcessHandle.current().pid()}")
    val code =
      try run(workload, seed, seconds, trace, work)
      finally Io.deleteTree(work)
    System.exit(code)
  }

  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  def run(name: String, seed: Long, budgetS: Double, trace: Boolean,
      work: Path): Int = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    Files.createDirectories(work)
    val (spark, sessionS) = seconds {
      val s = session(cores, work)
      s.range(1000L).selectExpr("sum(id)").collect()
      s
    }
    try {
      val ctx = new Ctx(spark, seed, work, cores, new Tracer, new LayerListener)
      val w = workload(name, ctx)
      // set-up runs three times and reports the median; the three input
      // checksums must agree, since the seed alone defines the inputs
      val gens = (1 to 3).map { g =>
        val dir = work.resolve(s"inputs-$g")
        val (sum, s) = seconds(w.generate(dir))
        if (g < 3) Io.deleteTree(dir)
        (sum, s)
      }
      val inputs = work.resolve("inputs-3")
      ctx.check("inputs regenerate identically from the seed",
        gens.map(_._1).distinct.size == 1, gens.map(_._1).mkString(" "))
      w.prepare(inputs)
      // one untimed operation warms the code paths up; it is checked too
      val (_, warmS) = seconds(runOp(w, ctx, -1, traced = false))
      val setupS = sessionS + Stats.median(gens.map(_._2)) + warmS

      val samples = mutable.ArrayBuffer.empty[OpSample]
      val deadline = System.nanoTime() + (budgetS * 1e9).toLong
      val hostM0 = Host.cpuTimes()
      var i = 0
      // at least two operations, so a median has two samples; four when
      // traced, so both sides of the overhead comparison have two
      val minOps = if (trace) 4 else 2
      while (System.nanoTime() < deadline || i < minOps) {
        // in a traced run half the operations are traced, in the order
        // untraced, traced, traced, untraced, so that both sides share one
        // window, neither gets the later (warmer) operations, and their
        // gap is the tracing overhead
        val traced = trace && (i % 4 == 1 || i % 4 == 2)
        samples ++= runOp(w, ctx, i, traced)
        i += 1
      }
      val hostM1 = Host.cpuTimes()
      val (steal, util) = Host.shares(hostM0, hostM1)
      val rss = Host.peakRssMb()
      val untraced = samples.filterNot(_.traced).toSeq
      val tracedS = samples.filter(_.traced).toSeq

      // every operation and every output check is one attempt; a thrown
      // operation and a failed check are each one failure
      val attempted = 1 + i + ctx.checksRun
      val failed = ctx.failures.size
      ctx.failures.take(20).foreach(f => println(s"[perfbench] FAILED $f"))

      println(f"[perfbench] workload=$name seed=$seed cores=$cores " +
        f"ops=$i traced_samples=${tracedS.size} checks=${ctx.checksRun} " +
        f"failed=$failed")
      println(f"[perfbench] host.steal_frac=$steal%.4f host.cpu_util=$util%.4f")
      println("[perfbench] op_ms = " + samples.map(o => f"${o.ms}%.0f").mkString(" "))
      println("[perfbench] op_cpu_ms = " + samples.map(o => f"${o.cpuMs}%.0f").mkString(" "))
      // the spread of each untraced operation kind inside this one run
      for ((kind, ops) <- untraced.groupBy(_.kind).toSeq.sortBy(_._1)
          if ops.size >= 2) {
        val (q1, q2, q3) = Stats.quartiles(ops.map(_.ms))
        println(f"[perfbench] op_ms $kind: q1 $q1%.1f median $q2%.1f q3 $q3%.1f " +
          f"iqr/median ${(q3 - q1) / q2}%.3f (n=${ops.size})")
      }
      println(f"[perfbench] setup: session ${sessionS}%.2f s, inputs " +
        f"${gens.map(_._2).map(x => f"$x%.2f").mkString("/")} s, warm-up $warmS%.2f s")
      val metrics: Seq[(String, Double, String)] =
        if (!trace) {
          val e2e = Seq(
            ("setup_s", setupS, "s"),
            ("peak_rss_mb", rss, "MB"),
            ("throughput_per_s", w.throughput(untraced), "1/s"),
            ("latency_p50_ms", w.latencyMs(untraced), "ms"))
          (w.summary(untraced) :+ ("error_rate",
            failed.toDouble / attempted, "frac")).foreach { case (k, v, u) =>
            println(f"[perfbench] $k = $v%.4f $u")
          }
          e2e
        } else {
          val layer = mutable.Map.empty[String, Double]
          // spark.* describe a whole repetition; the short requests that
          // follow a migration get their own job count and driver gap
          layer ++= sparkLayer(tracedS.filter(_.kind == "rep"))
          val requests = sparkLayer(tracedS.filter(_.kind != "rep"))
          for ((from, to) <- Seq("spark.jobs" -> "db.jobs_per_request",
              "spark.driver_gap_frac" -> "db.driver_gap_frac"))
            requests.get(from).foreach(layer(to) = _)
          layer ++= w.layerMetrics(tracedS)
          layer("host.steal_frac") = steal
          layer("host.cpu_util") = util
          layer ++= overhead(untraced, tracedS)
          (w.summary(untraced).map { case (k, v, u) => (s"untraced $k", v, u) } ++
            w.summary(tracedS).map { case (k, v, u) => (s"traced $k", v, u) })
            .foreach { case (k, v, u) => println(f"[perfbench] $k = $v%.4f $u") }
          val out = Base.resolve("out")
          ctx.tracer.writeJsonl(out.resolve(s"spans-$name-seed$seed.jsonl"))
          val vals = Layers.all.map { case (k, u, _) =>
            (k, layer.getOrElse(k, 0.0), u) }
          Files.writeString(out.resolve(s"layers-$name-seed$seed.json"),
            vals.map { case (k, v, u) => s"""  "$k": {"value": ${Json.num(v)}, "unit": "$u"}""" }
              .mkString("{\n", ",\n", "\n}\n"))
          vals.foreach { case (k, v, u) => println(f"[perfbench] $k = $v%.4f $u") }
          vals
        }
      println(Json.result(failed == 0, attempted, failed, metrics))
      0
    } finally spark.stop()
  }

  /** Runs one operation; its measured parts, none when it threw. */
  private def runOp(w: Workload, ctx: Ctx, i: Int, traced: Boolean)
      : Seq[OpSample] = {
    val timed = new Timed(ctx, traced)
    ctx.traced = traced
    ctx.tracer.enabled = traced
    ctx.tracer.request = i
    try {
      w.op(i, timed)
      if (timed.samples.isEmpty) ctx.failures += s"op $i measured nothing"
      timed.samples.toSeq
    } catch {
      case e: Exception =>
        ctx.failures += s"op $i: ${e.getClass.getSimpleName}: ${e.getMessage}"
          .take(400)
        Nil
    } finally {
      ctx.traced = false
      ctx.tracer.enabled = false
    }
  }

  /** Spark-runtime metrics, per traced operation. */
  private def sparkLayer(ops: Seq[OpSample]): Map[String, Double] = {
    val cs = ops.flatMap(o => o.counters.map(o -> _))
    if (cs.isEmpty) return Map.empty
    val n = cs.size.toDouble
    def per(f: SparkCounters => Double): Double = cs.map(x => f(x._2)).sum / n
    val mb = 1024.0 * 1024.0
    val tasks = cs.map(_._2.tasks).sum
    // driver gap: the part of an operation's wall time in which no Spark
    // job was running
    val gaps = cs.map { case (o, c) =>
      val busy = Intervals.unionLength(
        c.jobIntervals.toSeq.map { case (a, b) =>
          (math.max(a, o.startMs), math.min(b, o.endMs)) })
      (math.max(0L, (o.endMs - o.startMs) - busy) / 1000.0,
        (o.endMs - o.startMs) / 1000.0)
    }
    Map(
      "spark.jobs" -> per(_.jobs.toDouble),
      "spark.tasks" -> per(_.tasks.toDouble),
      "spark.empty_task_frac" ->
        (if (tasks == 0) 0.0 else cs.map(_._2.emptyTasks).sum.toDouble / tasks),
      "spark.driver_gap_s" -> gaps.map(_._1).sum / n,
      "spark.driver_gap_frac" -> gaps.map(_._1).sum / math.max(1e-9, gaps.map(_._2).sum),
      "spark.analysis_ms" -> per(_.analysisMs.toDouble),
      "spark.optimizer_ms" -> per(_.optimizerMs.toDouble),
      "spark.planning_ms" -> per(_.planningMs.toDouble),
      "spark.exchanges" -> per(_.exchanges.toDouble),
      "spark.shuffle_write_mb" -> per(_.shuffleWriteBytes / mb),
      "spark.shuffle_read_mb" -> per(_.shuffleReadBytes / mb),
      "spark.spill_mb" -> per(_.spillBytes / mb),
      "spark.task_busy_s" -> per(_.taskBusyMs / 1000.0),
      "spark.output_mb" -> per(_.outputBytes / mb),
      "spark.output_files" -> per(_.outputFiles.toDouble))
  }

  /** Traced vs untraced operation time, per operation kind; the overhead
    * is the median over kinds of traced/untraced - 1. */
  private def overhead(untraced: Seq[OpSample], traced: Seq[OpSample])
      : Map[String, Double] = {
    val kinds = untraced.map(_.kind).toSet.intersect(traced.map(_.kind).toSet)
    if (kinds.isEmpty) return Map.empty
    def med(xs: Seq[OpSample], k: String) = Stats.median(xs.filter(_.kind == k).map(_.ms))
    val ratios = kinds.toSeq.map(k => med(traced, k) / med(untraced, k) - 1.0)
    Map(
      "trace.untraced_op_ms" -> Stats.median(untraced.map(_.ms)),
      "trace.traced_op_ms" -> Stats.median(traced.map(_.ms)),
      "trace.overhead_frac" -> Stats.median(ratios))
  }
}

object Intervals {
  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- xs.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": """ +
      metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
        .mkString("{", ", ", "}") + "}"
}

object Io {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t)
    } finally s.close()
  }

  def sizeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }
}
