package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Ad-hoc per-JOB profiler: runs the named queries once and prints every
  * Spark job's wall seconds with its call site — the decisive view at
  * bench scale, where per-query seconds are dominated by the NUMBER of
  * sequential actions (checkpoints, valve probes, store-parameter probes,
  * persists, writes) rather than data volume. Next to the job count it
  * prints the query's Janino compiles and their milliseconds: a query
  * whose generated classes overflow Spark's codegen cache recompiles
  * them on every run.
  * `runMain graft.ProfileProbe q253_embed_curate_incremental` */
object ProfileProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val qs = if (args.nonEmpty) args.toSeq else Seq("q50_dedup_clusters")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val live = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Double)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // callSite.short is empty under SQL executions; the last stage's
        // name carries the action call site ("collect at Dedup.scala:1210")
        val cs = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .filter(_.nonEmpty)
          .orElse(js.stageInfos.lastOption.map(si =>
            s"${si.name} [${js.stageInfos.size} stages]"))
          .getOrElse("")
        live.put(js.jobId, (js.time, cs))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val s = live.remove(je.jobId)
        if (s != null) done.add((je.jobId, s._2, (je.time - s._1) / 1000.0))
      }
    })
    spark.range(5000000L).selectExpr("sum(id)").collect()
    Thread.sleep(300)
    for (q <- qs) {
      done.clear()
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
      graft.ops.Dedup.releaseCaches()
      spark.catalog.clearCache()
      Thread.sleep(500)
      import scala.jdk.CollectionConverters._
      val ds = done.asScala.toSeq.sortBy(_._1)
      println(f"[profile] $q total $dt%.2f s, ${ds.size} jobs, " +
        f"$compiles compiles ($compileMs%.0f ms), " +
        f"job-sum ${ds.map(_._3).sum}%.2f s")
      ds.foreach { case (id, tag, s) =>
        println(f"  job $id%4d $s%7.3f s  $tag")
      }
    }
    spark.stop()
  }
}
