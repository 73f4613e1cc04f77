package perfbench

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.db.{GraftSession, TableOps}
import graft.pipeline.PipelineCompiler
import graft.query.QueryCompiler
import graft.sources.Tables
import graft.update.UpdateCompiler

/** The reads a client sends once a migration has landed, one at a time,
  * each only after the previous one returned: find+count, find+sort+limit,
  * a $match/$group/$sort aggregate, a $lookup of each document's backup,
  * and a dry updateAll that only counts its matches. They pay the engine's
  * per-request fixed cost (load, compile, plan, a few small jobs).
  *
  * `after` is the expected migrated collection and `before` the
  * collection as it was backed up; both come from plain Spark SQL, and
  * every request's expected result is computed from them once, up front. */
final class Requests(ctx: Ctx, after: DataFrame, before: DataFrame) {
  import Requests._

  /** One request: how to run it through the engine, its expected result,
    * and the documents it compiles. */
  final class Req(val kind: String, val query: Map[String, Any],
      val run: GraftSession => Seq[String], reference: => Seq[String],
      val update: Map[String, Any] = Map.empty,
      val pipeline: Seq[Map[String, Any]] = Nil) {
    lazy val expected: Seq[String] = reference
  }

  /** Per kind, the seeded instances the client draws from. */
  val pool: IndexedSeq[IndexedSeq[Req]] = {
    val rnd = new scala.util.Random(ctx.seed)
    IndexedSeq.fill(PerKind)(requests(rnd)).transpose
  }
  pool.flatten.foreach(_.expected)

  /** The `j`-th request of operation `i`: kinds in turn, instances drawn
    * from the seed. */
  def pick(i: Int, j: Int): Req = {
    val rnd = new scala.util.Random(ctx.seed * 1000003L + i * 31L + j)
    pool(j % Kinds.size)(rnd.nextInt(PerKind))
  }

  private def coll(s: GraftSession) = s.db("bench").c(Collection)

  private def rows(df: DataFrame): Seq[String] = norm(df.collect().toSeq)

  /** Rows as text with every number as a double, so that a count typed
    * int by one side and long by the other still compares equal. */
  private def norm(rs: Seq[Row]): Seq[String] =
    rs.map(_.toSeq.map {
      case n: Number => n.doubleValue().toString
      case v => String.valueOf(v)
    }.mkString("|"))

  private def requests(rnd: scala.util.Random): IndexedSeq[Req] = {
    val tag = Seq("x", "y", "z", "low", "top")(rnd.nextInt(5))
    val qty = (rnd.nextInt(900)).toLong
    val status = Seq("a", "b", "c", "d", "e")(rnd.nextInt(5))
    val score = rnd.nextInt(90).toDouble
    val lo = rnd.nextInt(60).toDouble
    val hi = 80.0 + rnd.nextInt(15)
    val countQ = Map[String, Any]("tag" -> tag, "qty" -> Map("$gte" -> qty))
    val findQ = Map[String, Any]("status" -> status,
      "score" -> Map("$gt" -> score))
    val fields = Seq("_id", "status", "score", "qty", "tag")
    val aggP = Seq[Map[String, Any]](
      Map("$match" -> Map("score" -> ListMap("$gte" -> lo, "$lt" -> (lo + 20)))),
      Map("$group" -> ListMap("_id" -> "$tag", "n" -> Map("$sum" -> 1),
        "q" -> Map("$sum" -> "$qty"))),
      Map("$sort" -> Map("_id" -> 1)))
    val lookupP = Seq[Map[String, Any]](
      Map("$match" -> Map("score" -> Map("$gte" -> hi))),
      Map("$lookup" -> Map("from" -> BackupCollection, "localField" -> "_id",
        "foreignField" -> "_id", "as" -> "before")),
      Map("$unwind" -> "$before"),
      Map("$group" -> ListMap("_id" -> "$before.tag", "n" -> Map("$sum" -> 1),
        "q" -> Map("$sum" -> "$before.qty"))),
      Map("$sort" -> Map("_id" -> 1)))
    val updQ = Map[String, Any]("status" -> status)
    val updU = Map[String, Any]("$inc" -> Map("qty" -> 1L),
      "$set" -> Map("note" -> "seen"))
    IndexedSeq(
      new Req("count", countQ,
        s => Seq(coll(s).find(countQ).count().toString),
        Seq(after.where(col("tag") === tag && col("qty") >= qty).count().toString)),
      new Req("find", findQ,
        s => norm(coll(s).find(findQ).sort("-score", "_id").limit(20)
          .select(fields: _*).all()),
        rows(after.where(col("status") === status && col("score") > score)
          .orderBy(col("score").desc, col("_id").asc).limit(20)
          .select(fields.map(col): _*))),
      new Req("aggregate", Map("score" -> Map("$gte" -> lo)),
        s => norm(coll(s).pipe(aggP).collect().toSeq),
        rows(after.where(col("score") >= lo && col("score") < lo + 20)
          .groupBy(col("tag").as("_id"))
          .agg(count(lit(1)).as("n"), sum("qty").as("q")).orderBy("_id")),
        pipeline = aggP),
      new Req("lookup", Map("score" -> Map("$gte" -> hi)),
        s => norm(coll(s).pipe(lookupP).collect().toSeq),
        rows(after.where(col("score") >= hi).select("_id")
          .join(before, Seq("_id")).groupBy(col("tag").as("_id"))
          .agg(count(lit(1)).as("n"), sum("qty").as("q")).orderBy("_id")),
        pipeline = lookupP),
      new Req("update", updQ,
        s => Seq(TableOps.updateAll(coll(s).df, updQ, updU)._2.updated.toString),
        Seq(after.where(col("status") === status).count().toString),
        update = updU))
  }

  /** Times the single calls a request makes into the source, query,
    * update and pipeline layers, after the measured requests. */
  def probes(r: Req, root: java.nio.file.Path): Unit = {
    def path(name: String) = root.resolve(s"$name.parquet").toString
    val df = ctx.span("sources.load")(Tables.load(ctx.spark, path(Collection)))
    val pred = ctx.span("query.compile")(QueryCompiler.compile(r.query))
    if (r.update.nonEmpty)
      ctx.span("update.compile")(UpdateCompiler.applyUpdate(df, pred, r.update))
    if (r.pipeline.nonEmpty) ctx.span("pipeline.compile") {
      PipelineCompiler.compile(r.pipeline,
        tables = n => Tables.load(ctx.spark, path(n)))(df)
    }
  }
}

object Requests {
  val Collection = "docs"
  val BackupCollection = "docs_backup"
  val Kinds = Seq("count", "find", "aggregate", "lookup", "update")
  /** Seeded instances per request kind. */
  val PerKind = 3
  /** Requests after each migration: one of every kind. */
  val PerOp = Kinds.size
}
