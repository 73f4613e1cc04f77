package graft.db

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Namespace
import graft.query.QueryCompiler
import graft.update.UpdateCompiler

/** Fluent query facade mirroring the reference's `db.Session / Database /
  * Collection / Query` surface (/root/reference/db/interface.go:23-90,
  * db/wrapper.go:373-520) on top of DataFrames. The builder is lazy exactly
  * like the reference's: state accumulates until an action
  * (`all/one/iter/count`).
  */
final class GraftSession(val spark: SparkSession, val root: String,
    monitor: Option[graft.apm.OtelMonitor] = None) {
  /** Command tracing (reference wires apm.NewMonitor into the driver's
    * CommandMonitor hook, otel_monitor.go:272-287): when a monitor is
    * given, every command issued through this session emits
    * started/succeeded/failed events bracketing the action. */
  private[db] val tracer: Option[graft.apm.CommandTracer] = monitor.map(m =>
    new graft.apm.CommandTracer(m,
      s"localhost:4040[${spark.sparkContext.applicationId}]"))

  /** session.DB(name) — reference db/interface.go:16. */
  def db(name: String): GraftDatabase = new GraftDatabase(this, name)
  /** Catalog listing analog (client/wrapper.go:21-23): the root itself when
    * it holds tables (the flat single-db layout), plus any subdirectory
    * that holds parquet tables (multi-db layout). */
  def listDatabaseNames(): Seq[String] = {
    val rootFile = new java.io.File(root)
    val entries = Option(rootFile.listFiles()).getOrElse(Array.empty)
    def hasTables(d: java.io.File): Boolean =
      Option(d.listFiles()).getOrElse(Array.empty)
        .exists(_.getName.endsWith(".parquet"))
    val subs = entries
      .filter(f => f.isDirectory && !f.getName.endsWith(".parquet"))
      .filter(hasTables).map(_.getName).toSeq.sorted
    (if (entries.exists(_.getName.endsWith(".parquet")))
      Seq(rootFile.getName) else Nil) ++ subs
  }
  /** Raw SQL escape hatch — RunCommand analog (client/wrapper.go:32-40). */
  def runCommand(sql: String): DataFrame = spark.sql(sql)

  // Teardown-hook registry — reference environment.go:237-252
  // (RegisterCloser/Close): closers run in REGISTRATION order and every
  // failure is collected into one aggregated error (the reference's
  // grip catcher), carried here as suppressed exceptions.
  private val closers =
    new java.util.concurrent.ConcurrentLinkedDeque[(String, () => Unit)]()
  def registerCloser(name: String)(f: => Unit): Unit =
    closers.addLast((name, () => f))
  def close(): Unit = {
    val errs = scala.collection.mutable.ArrayBuffer.empty[(String, Throwable)]
    var entry = closers.pollFirst()
    while (entry != null) {
      try entry._2() catch {
        case e: Throwable => errs += ((entry._1, e))
      }
      entry = closers.pollFirst()
    }
    if (errs.nonEmpty) {
      val agg = new RuntimeException(
        s"${errs.size} closer(s) failed: ${errs.map(_._1).mkString(", ")}",
        errs.head._2)
      errs.tail.foreach { case (_, e) => agg.addSuppressed(e) }
      throw agg
    }
  }
}

/** The operation surface a [[GraftCollection]] exposes — the seam
  * downstream code should program against so tests can substitute
  * [[MockCollection]] (the reference's dominant test idiom,
  * mock/client.go:14-163). */
trait CollectionApi {
  def df: DataFrame
  def find(query: Map[String, Any] = Map.empty): GraftQuery
  def findId(id: Any, idCol: String = "_id"): GraftQuery
  def count(): Long
  def estimatedCount(): Long
  def insert(rows: DataFrame): Unit
  def pipe(pipeline: Seq[Map[String, Any]]): DataFrame
  /** `Aggregation.Hint` parity (reference db/interface.go:57,
    * db/wrapper.go:530): accepted and IGNORED — index hints have no
    * Spark analog (Catalyst owns access paths), same stance as
    * [[GraftQuery.hint]]. */
  def pipe(pipeline: Seq[Map[String, Any]], hint: String): DataFrame =
    pipe(pipeline)
  /** Aggregate with a `{collation: {locale, strength}}` option:
    * `$match` string comparisons and `$sort` string keys fold through
    * the collation key while the pipeline compiles (dynamic scope —
    * Column construction is eager). */
  def pipe(pipeline: Seq[Map[String, Any]],
      collation: Map[String, Any]): DataFrame =
    QueryCompiler.activeCollation.withValue(
      Some(graft.query.Collation.parse(collation)))(pipe(pipeline))
}

final class GraftDatabase(s: GraftSession, name: String) {
  def c(collection: String): GraftCollection =
    new GraftCollection(s, Namespace(name, collection))
  def collection(coll: String): GraftCollection = c(coll)

  /** DDL — reference CreateCollection (db/wrapper.go:63-72): materialize
    * an empty table with the given schema. */
  def createCollection(coll: String,
      schema: org.apache.spark.sql.types.StructType): GraftCollection = {
    val target = c(coll)
    s.spark.createDataFrame(
      new java.util.ArrayList[Row](), schema)
      .write.mode("errorifexists").parquet(Namespace(name, coll).path(s.root))
    target
  }

  /** reference DropDatabase (db/wrapper.go:61): drop every collection in
    * this database (single-root parquet layout — all tables under root). */
  def dropDatabase(): Unit = listCollections().foreach(dropCollection)

  /** reference DropCollection (db/wrapper.go:86). */
  def dropCollection(coll: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(Namespace(name, coll).path(s.root))
    val fs = org.apache.hadoop.fs.FileSystem.get(p.toUri,
      s.spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  def listCollections(): Seq[String] =
    Option(new java.io.File(s.root).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
      .map(_.getName.stripSuffix(".parquet")).toSeq.sorted
}

final class GraftCollection(s: GraftSession, val ns: Namespace)
    extends CollectionApi {
  require(ns.isValid, s"invalid namespace $ns")
  private def path: String = ns.path(s.root)

  private def traced[T](commandName: String, cmd: Map[String, Any])(
      body: => T)(replyBytes: T => Long): T =
    s.tracer match {
      case Some(t) => t.command(ns.db, commandName, cmd)(body)(replyBytes)
      case None => body
    }

  def df: DataFrame = graft.sources.Tables.load(s.spark, path)

  /** reference db/wrapper.go:96-102. */
  def find(query: Map[String, Any] = Map.empty): GraftQuery =
    new GraftQuery(df, QueryCompiler.compile(query),
      ctx = s.tracer.map(t => CommandContext(t, ns, query)),
      rawQuery = Some(query))
  /** reference db/wrapper.go:104-110. */
  def findId(id: Any, idCol: String = "_id"): GraftQuery =
    new GraftQuery(df, col(idCol) === QueryCompiler.toLit(id),
      ctx = s.tracer.map(t => CommandContext(t, ns, Map(idCol -> id))),
      rawQuery = Some(Map(idCol -> id)))
  /** reference db/wrapper.go:112-115. */
  def count(): Long =
    traced("count", Map("count" -> ns.collection))(df.count())(_ => 8L)
  /** Footer-metadata count, no scan — EstimatedDocumentCount analog
    * (backup/backup.go:91). */
  def estimatedCount(): Long =
    graft.sources.Tables.estimatedRowCount(s.spark, path)
  /** Append documents — reference db/wrapper.go:117-125. */
  def insert(rows: DataFrame): Unit =
    traced("insert",
      Map("insert" -> ns.collection, "ordered" -> true)) {
      rows.write.mode("append").parquet(path)
    }(_ => 0L)
  /** Aggregation pipeline — reference db/wrapper.go:88-94. A trailing
    * `$merge` stage upserts the result into the sibling collection (one
    * key-shuffle merge, tmp/bak rename swap) and returns the merged
    * table; a trailing `$out` REPLACES the sibling collection with the
    * result. */
  def pipe(pipeline: Seq[Map[String, Any]]): DataFrame =
    traced("aggregate",
      Map("aggregate" -> ns.collection, "pipeline" -> pipeline)) {
      import graft.pipeline.PipelineCompiler
      val (stages0, outOpt) = PipelineCompiler.splitOut(pipeline)
      val (stages, mergeOpt) = PipelineCompiler.splitMerge(stages0)
      val result = PipelineCompiler.compile(stages, tables =
        other => graft.sources.Tables.load(s.spark,
          Namespace(ns.db, other).path(s.root)))(df)
      if (outOpt.isDefined) {
        // doc form {$out: {db, coll}} may target a sibling DATABASE
        val out = outOpt.get
        val targetPath =
          Namespace(out.db.getOrElse(ns.db), out.coll).path(s.root)
        graft.sources.Tables.replace(result, targetPath)
        graft.sources.Tables.load(s.spark, targetPath)
      } else mergeOpt match {
        case None => result
        case Some(m) =>
          val targetPath = Namespace(ns.db, m.into).path(s.root)
          val fs = org.apache.hadoop.fs.FileSystem.get(
            new org.apache.hadoop.fs.Path(targetPath).toUri,
            s.spark.sparkContext.hadoopConfiguration)
          val exists = fs.exists(new org.apache.hadoop.fs.Path(targetPath))
          val base =
            if (exists) graft.sources.Tables.load(s.spark, targetPath)
            else result.limit(0)
          val keys = base.select(m.on.map(col): _*).distinct()
          // one pass shared by the matched/unmatched splits below;
          // unpersisted in the finally — a fail-mode throw or a failed
          // write must not pin the pipeline result in executor storage
          val res = result.persist()
          try {
            val matchedRes = res.join(keys, m.on, "left_semi")
            val newRes = res.join(keys, m.on, "left_anti")
            // fail modes are Mongo ERRORS, so they must act eagerly — a
            // limit-1 existence probe, not a full count
            if (m.whenMatched == "fail" && !matchedRes.isEmpty)
              throw new IllegalStateException(
                s"$$merge whenMatched:fail — result contains keys already " +
                  s"present in ${m.into}")
            if (m.whenNotMatched == "fail" && !newRes.isEmpty)
              throw new IllegalStateException(
                s"$$merge whenNotMatched:fail — result contains keys not " +
                  s"present in ${m.into}")
            val afterMatched = m.whenMatched match {
              case "replace" => TableOps.upsert(base, matchedRes, m.on)
              case "merge" => TableOps.mergeFields(base, matchedRes, m.on)
              case "pipeline" =>
                // update-pipeline form: join the matched pairs (one keyed
                // shuffle — existing doc columns + the incoming doc as a
                // struct), run the per-row update stages, then splice the
                // updated docs back over their base rows (anti-join +
                // union, tolerant of pipeline-added columns)
                val newStruct = "__graft_merge_new"
                require(!base.columns.contains(newStruct),
                  s"$$merge: target already has reserved column $newStruct")
                // Mongo raises on duplicate on-keys in the incoming result
                // (several source docs matching one target doc); a silent
                // join here would fan matched target rows out instead. The
                // guard rides the merge job in-plan: a count window over
                // the on-keys (same partitioning the join needs anyway)
                // feeding raise_error — no extra job, no driver collect.
                val onW = org.apache.spark.sql.expressions.Window
                  .partitionBy(m.on.map(col): _*)
                val cntCol = "__graft_on_cnt"
                // $merge let: variables evaluated against the INCOMING
                // doc (here, on the res frame where "$f" refs resolve to
                // its columns), packed as one struct riding the join
                val letStructCol = "__graft_merge_lets"
                val letCols: Seq[org.apache.spark.sql.Column] =
                  m.let.toSeq.map { ld =>
                    struct(ld.toSeq.map { case (k, e) =>
                      graft.pipeline.PipelineCompiler.expr2col(e).as(k)
                    }: _*).as(letStructCol)
                  }
                val resKeyed = res.select((m.on.map(col) :+
                    struct(res.columns.map(col).toSeq: _*).as(newStruct))
                    ++ letCols: _*)
                  .withColumn(cntCol,
                    org.apache.spark.sql.functions.count(lit(1)).over(onW))
                  .withColumn(newStruct, when(col(cntCol) > 1, raise_error(
                    concat(lit(s"$$merge whenMatched pipeline: duplicate " +
                      s"on-key (${m.on.mkString(",")}) in incoming result: "),
                      concat_ws(",", m.on.map(k => col(k).cast("string")): _*))))
                    .otherwise(col(newStruct)))
                  .drop(cntCol)
                val updated = graft.pipeline.PipelineCompiler
                  .applyMergeUpdatePipeline(base.join(resKeyed, m.on),
                    m.whenMatchedPipeline.get, newStruct,
                    m.let.map(ld => (letStructCol, ld.keys.toSeq)))
                require(m.on.forall(updated.columns.contains),
                  s"$$merge whenMatched pipeline must preserve on-keys " +
                    s"${m.on.mkString(",")}")
                base.join(res.select(m.on.map(col): _*).distinct(),
                    m.on, "left_anti")
                  .unionByName(updated, allowMissingColumns = true)
              case _ => base // keepExisting, or fail (verified empty above)
            }
            val merged =
              if (m.whenNotMatched == "insert")
                afterMatched.unionByName(newRes, allowMissingColumns = true)
              else afterMatched
            graft.sources.Tables.replace(merged, targetPath)
            graft.sources.Tables.load(s.spark, targetPath)
          } finally res.unpersist()
      }
    }(_ => 0L)
}

/** Carries what a [[GraftQuery]] needs to issue its `find` command at
  * action time (the wire moment in the reference driver). */
private[db] final case class CommandContext(
    tracer: graft.apm.CommandTracer, ns: Namespace,
    filter: Map[String, Any])

/** Lazy query builder — reference db/wrapper.go:373-520. Sort strings use
  * the reference's `±field` prefix convention (getSort,
  * db/wrapper.go:620-638). */
final class GraftQuery private[db] (
    base: DataFrame,
    pred: Column,
    projection: Seq[String] = Nil,
    sortKeys: Seq[String] = Nil,
    skipN: Int = 0,
    limitN: Int = -1,
    ctx: Option[CommandContext] = None,
    projectionDoc: Option[Map[String, Any]] = None,
    rawQuery: Option[Map[String, Any]] = None,
    collationSpec: Option[graft.query.Collation.Spec] = None) {

  private def copy(
      projection: Seq[String] = projection,
      sortKeys: Seq[String] = sortKeys,
      skipN: Int = skipN,
      limitN: Int = limitN,
      projectionDoc: Option[Map[String, Any]] = projectionDoc,
      pred: Column = pred,
      collationSpec: Option[graft.query.Collation.Spec] = collationSpec)
      : GraftQuery =
    new GraftQuery(base, pred, projection, sortKeys, skipN, limitN, ctx,
      projectionDoc, rawQuery, collationSpec)

  def select(fields: String*): GraftQuery =
    copy(projection = fields, projectionDoc = None)
  /** Projection DOCUMENT form — exclusion docs (`{f: 0}`), `$slice`,
    * `$elemMatch` (reference pass-through db/wrapper.go:386,463-465;
    * compiled by [[graft.query.ProjectionCompiler]]). */
  def select(doc: Map[String, Any]): GraftQuery =
    copy(projection = Nil, projectionDoc = Some(doc))
  def sort(keys: String*): GraftQuery = copy(sortKeys = keys)
  def skip(n: Int): GraftQuery = copy(skipN = n)
  def limit(n: Int): GraftQuery = copy(limitN = n)
  /** Accept-and-ignore, like index hints have no Spark analog
    * (SURVEY.md §4). */
  def hint(index: String): GraftQuery = this
  /** `{collation: {locale, strength}}` — case (strength 2) or
    * case+diacritic (strength 1) insensitive matching AND sorting: the
    * query predicate recompiles with both comparison sides folded
    * through the collation key, and string sort keys fold likewise.
    * Unsupported locales/strengths are rejected loudly
    * ([[graft.query.Collation]]). */
  def collation(doc: Map[String, Any]): GraftQuery = {
    val spec = graft.query.Collation.parse(doc)
    val raw = rawQuery.getOrElse(throw new IllegalStateException(
      "collation(): query document unavailable on this surface"))
    copy(pred = QueryCompiler.activeCollation.withValue(Some(spec))(
        QueryCompiler.compileFor(base, raw)),
      collationSpec = Some(spec))
  }

  private def isStringField(name: String): Boolean =
    try base.select(name).schema.head.dataType ==
      org.apache.spark.sql.types.StringType
    catch { case _: org.apache.spark.sql.AnalysisException => false }

  /** Compile accumulated state to a DataFrame (the exec() analog,
    * db/wrapper.go:452-481). Skip+limit compose as offset/limit. */
  def toDF: DataFrame = {
    var d = base.where(pred)
    if (sortKeys.nonEmpty) {
      val sortCols = collationSpec match {
        case Some(sp) => sortKeys.map { k =>
          val (name, desc) =
            if (k.startsWith("-")) (k.drop(1), true)
            else (k.stripPrefix("+"), false)
          val c = if (isStringField(name)) sp.key(col(name)) else col(name)
          if (desc) c.desc else c.asc
        }
        case None => GraftQuery.parseSort(sortKeys)
      }
      d = d.orderBy(sortCols: _*)
    }
    if (skipN > 0) d = d.offset(skipN)
    if (limitN >= 0) d = d.limit(limitN)
    if (projection.nonEmpty) d = d.select(projection.map(col): _*)
    projectionDoc.foreach { doc =>
      d = graft.query.ProjectionCompiler.project(d, doc)
    }
    d
  }

  /** The `find` wire command this query would issue — the dissectable
    * fields extractFind keeps (otel_monitor.go:381-396). */
  private def findCommand(c: CommandContext): Map[String, Any] = {
    var m: Map[String, Any] =
      Map("find" -> c.ns.collection, "filter" -> c.filter)
    if (sortKeys.nonEmpty)
      m += "sort" -> sortKeys.map {
        case k if k.startsWith("-") => k.drop(1) -> -1
        case k => k.stripPrefix("+") -> 1
      }.toMap
    if (limitN >= 0) m += "limit" -> limitN
    m
  }

  private def traced[T](commandName: String)(body: => T)(
      replyBytes: T => Long): T = ctx match {
    case Some(c) =>
      val cmd = if (commandName == "count")
        Map[String, Any]("count" -> c.ns.collection, "query" -> c.filter)
      else findCommand(c)
      c.tracer.command(c.ns.db, commandName, cmd)(body)(replyBytes)
    case None => body
  }

  /** reference db/wrapper.go:390-393. */
  def count(): Long = traced("count")(base.where(pred).count())(_ => 8L)
  /** Query.All — collect every matching row. */
  def all(): Seq[Row] = traced("find")(toDF.collect().toSeq)(
    rows => rows.iterator.map(_.mkString.length.toLong).sum)
  /** Query.One — exactly-one semantics; reference returns ErrNotFound on
    * empty (db/wrapper.go:589-591). */
  def one(): Row = traced("find") {
    toDF.limit(1).collect().headOption.getOrElse(
      throw new NoSuchElementException("not found"))
  }(_.mkString.length.toLong)
  /** Query.Iter — pull-based iteration (db/wrapper.go:485-520). */
  def iter(): Iterator[Row] = traced("find") {
    val it = toDF.toLocalIterator()
    new Iterator[Row] {
      def hasNext: Boolean = it.hasNext
      def next(): Row = it.next()
    }
  }(_ => 0L)
}

object GraftQuery {
  /** `±field` sort-string parser — reference getSort db/wrapper.go:620-638. */
  def parseSort(keys: Seq[String]): Seq[Column] = keys.map {
    case k if k.startsWith("-") => col(k.drop(1)).desc
    case k if k.startsWith("+") => col(k.drop(1)).asc
    case k                      => col(k).asc
  }
}

/** Before/after change counts — reference db.ChangeInfo
  * (db/interface.go ChangeInfo usage in wrapper.go:137-244). */
final case class ChangeInfo(updated: Long = 0, removed: Long = 0,
    upsertedCount: Long = 0)

/** Lazily-harvested [[ChangeInfo]]: the matched count is a CollectMetrics
  * observation embedded in the returned plan, so it rides along with
  * whatever action the caller runs (write/collect) — NO second scan of the
  * table per update, the reference's ChangeInfo-with-the-write shape
  * (db/wrapper.go:137-244). Reading a count before any action triggers one
  * counting pass. */
final class LazyChangeInfo private[db] (
    obs: org.apache.spark.sql.Observation, frame: DataFrame,
    mk: Long => ChangeInfo) {
  lazy val info: ChangeInfo = {
    if (!obs.future.isCompleted) frame.count() // no action has run yet
    mk(obs.get.get("matched") match {
      case Some(n: Number) => n.longValue()
      case _ => 0L
    })
  }
  def updated: Long = info.updated
  def removed: Long = info.removed
  def upsertedCount: Long = info.upsertedCount
}

/** Bulk/merge-shaped write operations over immutable DataFrames. The
  * reference's row-at-a-time UpdateOne/Upsert/Bulk (db/wrapper.go:117-344)
  * become whole-DataFrame MERGE transforms: deterministic last-wins per key,
  * resolved with one window — no driver-side loops, scales with the data.
  */
object TableOps {

  /** transformDocument analog (db/wrapper.go:599-610): typed value → raw
    * document. Rows become one raw JSON doc column (the bson.Raw of this
    * engine); codegen'd `to_json`, no UDF. */
  def toRawDocs(df: DataFrame, docCol: String = "doc"): DataFrame =
    df.select(to_json(struct(df.columns.map(col): _*)).as(docCol))

  /** Inverse: raw JSON docs back to typed rows under the given schema. */
  def fromRawDocs(df: DataFrame, docCol: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    df.select(from_json(col(docCol), schema).as("r")).select(col("r.*"))

  /** UpdateAll: apply a Mongo update doc to matching rows, preserve the
    * rest — reference db/wrapper.go:237-244. The match count is observed
    * inside the returned plan (see [[LazyChangeInfo]]) — one scan total. */
  def updateAll(df: DataFrame, query: Map[String, Any],
      update: Map[String, Any], idCol: String = "_id",
      arrayFilters: Seq[Map[String, Any]] = Nil)
      : (DataFrame, LazyChangeInfo) = {
    val pred = QueryCompiler.compile(query)
    val obs = org.apache.spark.sql.Observation()
    val observed = df.observe(obs,
      sum(when(pred, 1L).otherwise(0L)).as("matched"))
    val out = UpdateCompiler.applyUpdate(observed, pred, update, idCol,
      arrayFilters, queryDoc = query)
    (out, new LazyChangeInfo(obs, out, n => ChangeInfo(updated = n)))
  }

  /** UpdateAll with a pipeline-form update (Mongo 4.2
    * `update: [stage, …]`): stage expressions read the document (e.g.
    * `{$set: {total: {$multiply: ["$price", "$qty"]}}}`) — the form the
    * classic operators' literal values cannot express. Same one-scan
    * matched-count observation as the document form. */
  def updateAllPipeline(df: DataFrame, query: Map[String, Any],
      stages: Seq[Any], idCol: String = "_id")
      : (DataFrame, LazyChangeInfo) = {
    val pred = QueryCompiler.compile(query)
    val obs = org.apache.spark.sql.Observation()
    val observed = df.observe(obs,
      sum(when(pred, 1L).otherwise(0L)).as("matched"))
    val out = UpdateCompiler.applyUpdatePipeline(observed, pred, stages,
      idCol)
    (out, new LazyChangeInfo(obs, out, n => ChangeInfo(updated = n)))
  }

  /** RemoveAll: anti-filter — reference db/wrapper.go:137-144. */
  def removeAll(df: DataFrame, query: Map[String, Any])
      : (DataFrame, LazyChangeInfo) = {
    val pred = QueryCompiler.compile(query)
    val obs = org.apache.spark.sql.Observation()
    val out = df.observe(obs,
      sum(when(pred, 1L).otherwise(0L)).as("matched"))
      .where(!coalesce(pred, lit(false)))
    (out, new LazyChangeInfo(obs, out, n => ChangeInfo(removed = n)))
  }

  /** Upsert: update row with key if present, else insert — reference
    * db/wrapper.go:146-186. `updates` carries full replacement rows (same
    * schema); last-wins if `updates` itself has duplicate keys. Implemented
    * as a key-cogrouped merge: rows only shuffle by the key column, no
    * driver involvement, broadcast-able when `updates` is small. */
  def upsert(base: DataFrame, updates: DataFrame, keyCol: String): DataFrame =
    upsert(base, updates, Seq(keyCol))

  /** Composite-key form (Mongo `$merge on: [f1, f2]`). */
  def upsert(base: DataFrame, updates: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    val cols = base.columns.toSeq
    require(updates.columns.toSeq == cols,
      s"upsert schema mismatch: ${updates.columns.toSeq} vs $cols")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__src").desc, col("__seq").desc)
    base.withColumn("__src", lit(0)).withColumn("__seq", lit(0L))
      .unionByName(updates.withColumn("__src", lit(1))
        .withColumn("__seq", monotonically_increasing_id()))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__src", "__seq", "__rn")
  }

  /** `$merge whenMatched:"merge"` — field-wise merge of matched rows
    * (Mongo merge-objects semantics under the columnar reading of
    * "present": every column of `updates`' schema overwrites, nulls
    * included; base-only columns are kept; update-only columns appear as
    * null on unmatched base rows). Last-wins when `updates` repeats a key.
    * One key-shuffle left join — no driver involvement. */
  def mergeFields(base: DataFrame, updates: DataFrame,
      keyCol: String): DataFrame = mergeFields(base, updates, Seq(keyCol))

  /** Composite-key form (Mongo `$merge on: [f1, f2]`). */
  def mergeFields(base: DataFrame, updates: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    // collapse duplicate update keys first so the join stays 1:1
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__seq").desc)
    val latest = updates.withColumn("__seq", monotonically_increasing_id())
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__seq", "__rn")
    val b = base.alias("__mb")
    val u = latest.alias("__mu")
    val joined = b.join(u,
      keyCols.map(k => b(k) === u(k)).reduce(_ && _), "left")
    val updCols = latest.columns.toSet
    val hit = u(keyCols.head).isNotNull
    val outCols = (base.columns ++
      latest.columns.filterNot(base.columns.contains)).map { c =>
      if (keyCols.contains(c)) b(c).as(c)
      else if (updCols.contains(c) && base.columns.contains(c))
        when(hit, u(c)).otherwise(b(c)).as(c)
      else if (updCols.contains(c)) u(c).as(c) // update-only column
      else b(c).as(c) // base-only column
    }
    joined.select(outCols.toSeq: _*)
  }

  /** Upsert with an update-operator document (the reference's primary
    * Upsert form, db/wrapper.go:146-186): matching rows get the update
    * applied; when nothing matches, one new row is synthesized from the
    * query's equality fields plus the update's `$set` fields (Mongo upsert
    * semantics). The existence probe is a pushed-down limit-1 scan. */
  def upsertDoc(df: DataFrame, query: Map[String, Any],
      update: Map[String, Any], idCol: String = "_id"): DataFrame = {
    val pred = QueryCompiler.compile(query)
    val anyMatch = !df.where(pred).isEmpty
    if (anyMatch) UpdateCompiler.applyUpdate(df, pred, update, idCol)
    else {
      val eqFields = query.collect {
        case (k, v) if !k.startsWith("$") && !v.isInstanceOf[Map[_, _]] =>
          k -> v
      }
      val setFields =
        if (UpdateCompiler.hasDollarKey(update))
          update.getOrElse("$set", Map.empty).asInstanceOf[Map[String, Any]] ++
            update.getOrElse("$setOnInsert", Map.empty)
              .asInstanceOf[Map[String, Any]]
        else update // replacement doc inserts as-is
      val values = eqFields ++ setFields
      val newRow = values.foldLeft(
        df.sparkSession.range(1).select(df.columns.map(c =>
          lit(null).cast(df.schema(c).dataType).as(c)): _*)) {
        case (d, (k, v)) =>
          if (d.columns.contains(k))
            d.withColumn(k, QueryCompiler.toLit(v).cast(df.schema(k).dataType))
          else d
      }
      df.unionByName(newRow)
    }
  }

  /** One buffered mixed batch — reference Bulk (db/wrapper.go:246-344).
    * Ordered application: ops fold over the table in sequence, giving the
    * reference's ordered-bulk semantics; per-key last-wins falls out of the
    * fold order. */
  sealed trait BulkOp
  final case class BulkInsert(rows: DataFrame) extends BulkOp
  final case class BulkUpdate(query: Map[String, Any],
      update: Map[String, Any]) extends BulkOp
  /** Pipeline-form bulk update (Mongo 4.2 `update: [stage…]`). */
  final case class BulkUpdatePipeline(query: Map[String, Any],
      stages: Seq[Any]) extends BulkOp
  final case class BulkUpsert(key: Any, row: DataFrame) extends BulkOp
  final case class BulkRemove(query: Map[String, Any]) extends BulkOp

  /** @param unordered reference Bulk.Unordered (db/wrapper.go:335-344):
    *        drops the op-order guarantee, which lets the plan batch by op
    *        type — ONE union for all inserts, ONE merge window for all
    *        upserts, ONE anti-filter disjunction for all removes — instead
    *        of a plan layer per op. At scale that's the difference between
    *        N windows/shuffles and a constant number; prefer it whenever
    *        ops don't depend on each other, exactly like the reference. */
  def runBulk(base: DataFrame, ops: Seq[BulkOp], idCol: String = "_id",
      unordered: Boolean = false): DataFrame =
    if (!unordered)
      ops.foldLeft(base) { (df, op) =>
        op match {
          case BulkInsert(rows)     => df.unionByName(rows)
          case BulkUpdate(q, u)     =>
            UpdateCompiler.applyUpdate(df, QueryCompiler.compile(q), u, idCol)
          case BulkUpdatePipeline(q, st) =>
            UpdateCompiler.applyUpdatePipeline(df, QueryCompiler.compile(q),
              st, idCol)
          case BulkUpsert(key, row) =>
            upsert(df, row, idCol)
          case BulkRemove(q)        =>
            val p = QueryCompiler.compile(q)
            df.where(!coalesce(p, lit(false)))
        }
      }
    else {
      // type-batched, applied insert -> upsert -> update -> remove (the
      // driver batches adjacent same-type models the same way)
      val inserts = ops.collect { case BulkInsert(r) => r }
      val upserts = ops.collect { case BulkUpsert(_, r) => r }
      val updates = ops.collect { case BulkUpdate(q, u) => (q, u) }
      val pipeUpdates =
        ops.collect { case BulkUpdatePipeline(q, st) => (q, st) }
      val removes = ops.collect { case BulkRemove(q) => q }
      var df = base
      if (inserts.nonEmpty) df = df.unionByName(inserts.reduce(_ unionByName _))
      if (upserts.nonEmpty) df = upsert(df, upserts.reduce(_ unionByName _), idCol)
      df = updates.foldLeft(df) { case (d, (q, u)) =>
        UpdateCompiler.applyUpdate(d, QueryCompiler.compile(q), u, idCol) }
      df = pipeUpdates.foldLeft(df) { case (d, (q, st)) =>
        UpdateCompiler.applyUpdatePipeline(d, QueryCompiler.compile(q),
          st, idCol) }
      if (removes.nonEmpty) {
        val anyMatch = removes.map(q =>
          coalesce(QueryCompiler.compile(q), lit(false))).reduce(_ || _)
        df = df.where(!anyMatch)
      }
      df
    }

  /** findAndModify analog (Query.Apply, db/wrapper.go:395-450): applies the
    * change to the first sorted matching row and returns (newTable,
    * affectedRowImage). Not atomic (documented divergence, SURVEY.md §7).
    * @param returnNew reference Change.ReturnNew (db/data.go:19-26): return
    *        the post-update image instead of the pre-image (meaningless
    *        with remove, which always returns the removed pre-image). */
  def findAndModify(df: DataFrame, query: Map[String, Any],
      sortKeys: Seq[String], update: Map[String, Any], remove: Boolean,
      idCol: String = "_id", returnNew: Boolean = false)
      : (DataFrame, DataFrame) = {
    require(!(remove && update.nonEmpty),
      "cannot remove and update in one findAndModify") // db/data.go:19-26
    findAndModifyWith(df, query, sortKeys,
      (d, hit) => UpdateCompiler.applyUpdate(d, hit, update, idCol),
      remove, idCol, returnNew)
  }

  /** findAndModify with a pipeline-form update (Mongo 4.2). */
  def findAndModifyPipeline(df: DataFrame, query: Map[String, Any],
      sortKeys: Seq[String], stages: Seq[Any],
      idCol: String = "_id", returnNew: Boolean = false)
      : (DataFrame, DataFrame) =
    findAndModifyWith(df, query, sortKeys,
      (d, hit) => UpdateCompiler.applyUpdatePipeline(d, hit, stages, idCol),
      remove = false, idCol, returnNew)

  private def findAndModifyWith(df: DataFrame, query: Map[String, Any],
      sortKeys: Seq[String],
      applyFn: (DataFrame, Column) => DataFrame,
      remove: Boolean, idCol: String, returnNew: Boolean)
      : (DataFrame, DataFrame) = {
    val pred = QueryCompiler.compile(query)
    // the id tiebreak makes limit(1) DETERMINISTIC: the selected-row
    // subplan is embedded lazily in both returned frames, and without a
    // total order two executions could pick different rows — the mutated
    // row and the returned row image must be the same row
    val target = df.where(pred)
      .orderBy(GraftQuery.parseSort(sortKeys) :+ col(idCol).asc: _*)
    val first = target.limit(1).select(col(idCol))
    // the single selected id marks its row via a 1-row broadcast join —
    // no driver round-trip, the whole op stays one plan
    val mark = broadcast(first
      .select(col(idCol).as("__fam_id"), lit(1).as("__fam_hit")))
    val dfm = df.join(mark, df(idCol) === col("__fam_id"), "left_outer")
      .drop("__fam_id")
    val hit = col("__fam_hit").isNotNull
    if (remove)
      (dfm.where(!hit).drop("__fam_hit"), dfm.where(hit).drop("__fam_hit"))
    else {
      val updatedM = applyFn(dfm, hit)
      (updatedM.drop("__fam_hit"),
        (if (returnNew) updatedM.where(hit) else dfm.where(hit))
          .drop("__fam_hit"))
    }
  }
}
