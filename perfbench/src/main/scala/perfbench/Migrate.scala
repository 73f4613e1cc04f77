package perfbench

import java.nio.file.Path

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.backup.Backup
import graft.model._
import graft.orchestrate.{MigrationApp, Registries}
import graft.query.QueryCompiler
import graft.sources.Tables
import graft.update.UpdateCompiler

/** anser's own job: back up a collection, then run a dependency DAG of
  * five migrations in three layers over it, each a bulk read, transform
  * and atomic swap recorded in the ledger; then a client reads the
  * migrated collection ([[Requests]]). One operation is one repetition on
  * a fresh copy of the generated collection: the DAG is timed as "rep",
  * each request under its own kind. */
final class Migrate(ctx: Ctx) extends Workload(ctx) {
  import Migrate._
  private val spark = ctx.spark
  private var inputs: Path = _
  private var inputBytes = 0L
  private var refMatched = Map.empty[String, Long]
  private var refChecksum = ""
  private var refSchema = ""
  private var requests: Requests = _
  private val jobsPerMigration = mutable.ArrayBuffer.empty[Double]

  private val ns = Namespace("bench", Requests.Collection)

  def generate(dir: Path): String = {
    val s = ctx.seed
    val df = spark.range(0, Rows, 1, ctx.cores).select(
      col("id").as("_id"),
      Gen.pick(s, 1, Seq("a", "b", "c", "d", "e")).as("status"),
      // quarter steps keep every value and sum exact in binary
      (Gen.uniform(s, 2, 400) / 4.0).as("score"),
      Gen.uniform(s, 3, 1000).as("qty"),
      Gen.pick(s, 4, Seq("x", "y", "z")).as("tag"),
      when(Gen.uniform(s, 5, 5) === 0, lit(null).cast("string"))
        .otherwise(concat(lit("L"), Gen.uniform(s, 6, 97).cast("string")))
        .as("legacy"))
    Gen.write(df, dir.resolve("docs.parquet"))
    Gen.checksum(Gen.read(spark, dir.resolve("docs.parquet")))
  }

  /** The expected outcome, from plain Spark SQL on the generated input:
    * no query or update compiler is involved. */
  override def prepare(dir: Path): Unit = {
    inputs = dir
    inputBytes = Io.sizeBytes(dir.resolve("docs.parquet"))
    val in = Gen.read(spark, dir.resolve("docs.parquet"))
    val matched = mutable.Map.empty[String, Long]
    def step(id: String, d: DataFrame, pred: org.apache.spark.sql.Column)(
        f: DataFrame => DataFrame): DataFrame = {
      matched(id) = d.where(pred).count()
      f(d)
    }
    val s1 = step("m_set", in, col("score") < 25.0)(d =>
      d.withColumn("tag", when(col("score") < 25.0, lit("low"))
        .otherwise(col("tag"))))
    val s2 = step("m_inc", s1, col("status") === "b")(d =>
      d.withColumn("qty", when(col("status") === "b", col("qty") + 5L)
        .otherwise(col("qty"))))
    // one update document with two operators: $rename then $unset
    val low = col("tag") === "low"
    val s3 = step("m_rename", s2, low)(d =>
      d.withColumn("note", when(low, col("legacy")))
        .withColumn("legacy", when(!low, col("legacy")))
        .withColumn("status", when(!low, col("status"))))
    val s4 = step("m_manual", s3, col("score") >= 90.0)(d =>
      d.withColumn("qty", when(col("score") >= 90.0, col("qty") * 2L)
        .otherwise(col("qty"))))
    // limit: the first LimitRows rows of status "a" by score desc, _id asc
    val top = s4.where(col("status") === "a")
      .orderBy(col("score").desc, col("_id").asc).limit(LimitRows)
      .select(col("_id"), lit(true).as("__top"))
    matched("m_limit") = top.count()
    val s5 = s4.join(top, Seq("_id"), "left_outer")
      .withColumn("tag", when(col("__top"), lit("top")).otherwise(col("tag")))
      .drop("__top")
    refMatched = matched.toMap
    refChecksum = Gen.checksum(s5)
    refSchema = Gen.schemaKey(s5)
    requests = new Requests(ctx, s5, in)
  }

  private def specs: Seq[MigrationSpec] = {
    def g(id: String, deps: Seq[String], q: Map[String, Any],
        limit: Int = 0, sortBy: Seq[String] = Nil) =
      GeneratorOptions(id, deps, ns, q, limit, sortBy, Some("_id"))
    Seq(
      SimpleMigration(g("m_set", Nil, Map("score" -> Map("$lt" -> 25.0))),
        Map("$set" -> Map("tag" -> "low"))),
      SimpleMigration(g("m_inc", Nil, Map("status" -> "b")),
        Map("$inc" -> Map("qty" -> 5L))),
      SimpleMigration(g("m_rename", Seq("m_set"), Map("tag" -> "low")),
        ListMap("$rename" -> Map("legacy" -> "note"),
          "$unset" -> Map("status" -> ""))),
      SimpleMigration(g("m_limit", Seq("m_rename", "m_manual"),
        Map("status" -> "a"), LimitRows, Seq("-score")),
        Map("$set" -> Map("tag" -> "top"))),
      ManualMigration(g("m_manual", Seq("m_inc"),
        Map("score" -> Map("$gte" -> 90.0))), "double_qty"))
  }

  private def registries: Registries = {
    val r = new Registries
    r.registerOperation("double_qty", row => {
      val i = row.fieldIndex("qty")
      Row.fromSeq(row.toSeq.updated(i, row.getLong(i) * 2L))
    })
    r
  }

  def op(i: Int, timed: Timed): Unit = {
    val root = ctx.work.resolve(s"rep-$i")
    try {
      Io.copyTree(inputs, root)
      val path = ns.path(root.toString)
      val migrations = specs
      val (rows, results, app) = timed("rep") {
        val rows = ctx.span("backup.collection") {
          Backup.collection(spark, Tables.load(spark, path),
            ns.copy(collection = Requests.BackupCollection).path(root.toString))
        }
        val app = ctx.span("orchestrate.setup") {
          new MigrationApp(spark, root.toString, ApplicationOptions(),
            registries).setup(migrations)
        }
        val jobs0 = if (ctx.traced) ctx.jobsSoFar() else 0L
        val results = ctx.span("orchestrate.run")(app.run())
        if (ctx.traced)
          jobsPerMigration += (ctx.jobsSoFar() - jobs0).toDouble / migrations.size
        (rows, results, app)
      }
      checkDag(path, rows, results, app)
      val session = new graft.db.GraftSession(spark, root.toString)
      val rq = requests
      val reqs = (0 until Requests.PerOp).map(rq.pick(i, _))
      for (r <- reqs) {
        val got = timed(r.kind)(r.run(session))
        ctx.check(s"${r.kind} result equals reference",
          got == r.expected, s"${got.take(3)} vs ${r.expected.take(3)}")
      }
      // the probes run after every timed part, so that no timed traced
      // request starts warmer than an untraced one
      if (ctx.traced) {
        probes(root, path, migrations)
        reqs.foreach(rq.probes(_, root))
      }
    } finally {
      graft.ops.Dedup.releaseCaches()
      Io.deleteTree(root)
    }
  }

  private def checkDag(path: String, rows: Long,
      results: Seq[graft.orchestrate.MigrationResult], app: MigrationApp): Unit = {
    ctx.check("backup row count equals input rows", rows == Rows, s"$rows")
    for (r <- results) {
      ctx.check(s"${r.id} error-free", !r.hasErrors, r.error.getOrElse(""))
      ctx.check(s"${r.id} satisfied in ledger", app.ledger.satisfied(r.id))
      ctx.check(s"${r.id} matched count", refMatched.get(r.id).contains(r.matched),
        s"${r.matched} vs ${refMatched.get(r.id)}")
    }
    ctx.check("every migration ran", results.map(_.id).toSet == refMatched.keySet)
    val out = Tables.load(spark, path)
    ctx.check("final schema", Gen.schemaKey(out) == refSchema,
      s"${Gen.schemaKey(out)} vs $refSchema")
    val sum = Gen.checksum(out)
    ctx.check("final table checksum", sum == refChecksum, s"$sum vs $refChecksum")
  }

  /** Traced operations also time single calls into the layers the DAG
    * goes through, after the measured repetition and requests. */
  private def probes(root: Path, path: String,
      migrations: Seq[MigrationSpec]): Unit = {
    val df = ctx.span("sources.load")(Tables.load(spark, path))
    for (m <- migrations) {
      val pred = ctx.span("query.compile")(QueryCompiler.compile(m.options.query))
      m match {
        case SimpleMigration(_, update) =>
          ctx.span("update.compile")(UpdateCompiler.applyUpdate(df, pred, update))
        case _ =>
      }
    }
    val dry = new MigrationApp(spark, root.toString,
      ApplicationOptions(dryRun = true), registries).setup(migrations)
    ctx.span("orchestrate.dry_run")(dry.run())
    for (m <- migrations)
      ctx.span("orchestrate.pending")(dry.pendingMigrationOperations(m))
  }

  override def layerMetrics(samples: Seq[OpSample]): Map[String, Double] = {
    def med(name: String, scale: Double): Double = {
      val xs = ctx.tracer.named(name).map(_.ms * scale)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val backupS = med("backup.collection", 1e-3)
    Map(
      "orchestrate.setup_ms" -> med("orchestrate.setup", 1),
      "orchestrate.run_s" -> med("orchestrate.run", 1e-3),
      "orchestrate.dry_run_s" -> med("orchestrate.dry_run", 1e-3),
      "orchestrate.pending_ms" -> med("orchestrate.pending", 1),
      "orchestrate.jobs_per_migration" ->
        (if (jobsPerMigration.isEmpty) 0.0 else Stats.median(jobsPerMigration.toSeq)),
      "backup.s" -> backupS,
      "backup.mb_per_s" ->
        (if (backupS > 0) inputBytes / 1048576.0 / backupS else 0.0),
      "sources.load_ms" -> med("sources.load", 1),
      "query.compile_us" -> med("query.compile", 1e3),
      "update.compile_us" -> med("update.compile", 1e3),
      "pipeline.compile_ms" -> med("pipeline.compile", 1),
      "db.count_ms" -> med("op.count", 1),
      "db.find_ms" -> med("op.find", 1),
      "db.aggregate_ms" -> med("op.aggregate", 1),
      "db.lookup_ms" -> med("op.lookup", 1),
      "db.update_ms" -> med("op.update", 1))
  }

  /** Collection rows through backup and the whole DAG, per second. */
  def throughput(samples: Seq[OpSample]): Double =
    Rows / (Stats.median(samples.filter(_.kind == "rep").map(_.ms)) / 1000.0)

  /** The median request after a migration. */
  override def latencyMs(samples: Seq[OpSample]): Double =
    Stats.median(samples.filter(_.kind != "rep").map(_.ms))

  def summary(samples: Seq[OpSample]): Seq[(String, Double, String)] = {
    val reps = samples.filter(_.kind == "rep").map(_.ms)
    val reqs = samples.filter(_.kind != "rep").map(_.ms)
    if (reps.isEmpty || reqs.isEmpty) return Nil
    Seq(("migrate_rows_per_s", throughput(samples), "rows/s"),
      ("migrate_rep_p50_ms", Stats.median(reps), "ms"),
      ("query_p50_ms", Stats.median(reqs), "ms")) ++
      Stats.tailPercentile(reqs).map { case (p, v) => (s"query_p${p}_ms", v, "ms") } :+
      ("query_samples", reqs.size.toDouble, "count")
  }
}

object Migrate {
  val Rows = 50000L
  val LimitRows = 1000
}
