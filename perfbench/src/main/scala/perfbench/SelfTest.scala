package perfbench

import java.nio.file.{Files, Paths}

/** Checks of the benchmark's own code: the order statistics, the
  * interval union, that layers.json maps every per-layer metric of
  * BENCHMARK.json, and that each workload's inputs depend on the seed and
  * on nothing else. Exit code 0 when all pass. */
object SelfTest {
  def run(args: Array[String]): Int = {
    var failed = 0
    def expect(what: String, ok: Boolean, detail: => String = ""): Unit = {
      println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $what" +
        (if (ok || detail.isEmpty) "" else s": $detail"))
      if (!ok) failed += 1
    }
    def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

    expect("median odd", Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    expect("median even", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    // statistics.quantiles(range(1, 11), n=4) == [2.75, 5.5, 8.25]
    val (q1, q2, q3) = Stats.quartiles((1 to 10).map(_.toDouble))
    expect("quartiles 1..10", close(q1, 2.75) && close(q2, 5.5) && close(q3, 8.25),
      s"$q1 $q2 $q3")
    // statistics.quantiles([1, 2, 4, 8, 16], n=4) == [1.5, 4.0, 12.0]
    val (r1, r2, r3) = Stats.quartiles(Seq(16.0, 1.0, 8.0, 2.0, 4.0))
    expect("quartiles 5 samples", close(r1, 1.5) && close(r2, 4.0) && close(r3, 12.0),
      s"$r1 $r2 $r3")
    // statistics.quantiles([1, 2], n=4) == [0.75, 1.5, 2.25]
    val (s1, s2, s3) = Stats.quartiles(Seq(1.0, 2.0))
    expect("quartiles 2 samples", close(s1, 0.75) && close(s2, 1.5) && close(s3, 2.25),
      s"$s1 $s2 $s3")
    val hundred = (1 to 200).map(_.toDouble)
    expect("tail of 200 is p95", Stats.tailPercentile(hundred) == Some((95, 190.0)),
      s"${Stats.tailPercentile(hundred)}")
    expect("tail of 100 is p90",
      Stats.tailPercentile(hundred.take(100)) == Some((90, 90.0)),
      s"${Stats.tailPercentile(hundred.take(100))}")
    expect("tail of 150 keeps 10 beyond",
      Stats.tailPercentile(hundred.take(150)).exists { case (p, v) =>
        hundred.take(150).count(_ > v) >= 10 && p == 93 },
      s"${Stats.tailPercentile(hundred.take(150))}")
    expect("no tail from 15 samples", Stats.tailPercentile(hundred.take(15)).isEmpty,
      s"${Stats.tailPercentile(hundred.take(15))}")
    expect("interval union", Intervals.unionLength(
      Seq((0L, 10L), (5L, 15L), (20L, 25L), (22L, 23L), (30L, 30L))) == 20L)

    val mapped = org.json4s.jackson.JsonMethods.parse(
      Files.readString(Paths.get("perfbench", "layers.json"))) \ "per_layer" \ "name" match {
      case org.json4s.JArray(xs) => xs.collect { case org.json4s.JString(n) => n }
      case _ => Nil
    }
    val names = Layers.all.map(_._1)
    expect("layers.json maps every per-layer metric of BENCHMARK.json", mapped == names,
      s"${mapped.diff(names)} / ${names.diff(mapped)}")

    val work = Main.Base.resolve("work").resolve(s"selftest-${ProcessHandle.current().pid()}")
    Files.createDirectories(work)
    val spark = Main.session(2, work)
    try {
      for (name <- Main.Workloads) {
        def sum(seed: Long, tag: String): String = {
          val ctx = new Ctx(spark, seed, work, 2, new Tracer, new LayerListener)
          val w = Main.workload(name, ctx)
          val dir = work.resolve(s"$name-$tag")
          try w.generate(dir) finally Io.deleteTree(dir)
        }
        val (a, b, c) = (sum(1, "a"), sum(1, "b"), sum(2, "c"))
        expect(s"$name: same seed, same inputs", a == b, s"$a vs $b")
        expect(s"$name: other seed, other inputs", a != c, s"$a vs $c")
      }
    } finally {
      spark.stop()
      Io.deleteTree(work)
    }
    println(s"[selftest] ${if (failed == 0) "all passed" else s"$failed failed"}")
    if (failed == 0) 0 else 1
  }
}
