package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.query.QueryCompiler

/** Compiles MongoDB aggregation pipelines to DataFrame transformations.
  *
  * The reference passes pipelines through to the server opaquely
  * (/root/reference/db/wrapper.go:88-94,522-575 — `Collection.Pipe` with
  * `AllowDiskUse(true)`; spill is free in Spark). Here each stage compiles to
  * the corresponding declarative Spark operator so Catalyst can fuse, push
  * down and reorder: `$match`→where, `$project`→select, `$group`→groupBy.agg,
  * `$sort`→orderBy, `$limit`/`$skip`→limit/offset, `$unwind`→explode,
  * `$count`→count, `$lookup`(+pipeline form)→join, `$addFields`/`$set`→
  * withColumn, `$unset`→drop, `$sortByCount`, `$replaceRoot`/`$replaceWith`→
  * select(doc.*), `$bucket`/`$bucketAuto`, `$sample`, `$facet`,
  * `$unionWith`, `$graphLookup` (iterated equi-join BFS),
  * `$setWindowFields`→Window, `$fill`, `$densify`, and the `$merge`/`$out`
  * sinks (split off by `GraftCollection.pipe`). 17 accumulators and a
  * 70+-operator expression sublanguage with `$$var` lambda binding
  * ([[expr2col]]). The ranked-retrieval stages (`$search`,
  * `$vectorSearch`, the fusion and `$score` stages) compile in
  * [[SearchStages]].
  *
  * Stage order in a `Seq[Map[String, Any]]` pipeline; `$sort` documents use
  * `Seq[(String, Int)]`-style ordering via insertion-ordered maps (pass
  * `scala.collection.immutable.ListMap` or the `$sort` value as
  * `Seq[(String, Any)]`).
  */
object PipelineCompiler {

  type TableResolver = String => DataFrame

  /** Sink for plan-time scale warnings — overridable so specs can assert a
    * warning fired (same seam style as Dedup's observation callback). */
  @volatile private[graft] var scaleWarnSink: String => Unit =
    msg => org.apache.log4j.Logger.getLogger(getClass).warn(msg)

  /** Guard for the one plan family that can silently serialize at scale:
    * a window compiled with empty `Window.partitionBy()`. Mongo semantics
    * genuinely require the global window, so the default is a plan-time
    * warning (SCALE.md documents the workaround per stage); under
    * `spark.graft.strictScale=true` the stage is rejected instead. */
  private[pipeline] def scaleGuard(df: DataFrame, msg: String): Unit = {
    val strict = df.sparkSession.conf
      .getOption("spark.graft.strictScale").exists(_.equalsIgnoreCase("true"))
    if (strict) throw new IllegalStateException(
      s"[spark.graft.strictScale] $msg")
    scaleWarnSink(msg)
  }

  /** Stages that only make sense against the raw collection (Mongo
    * enforces first position too): a mid-pipeline `$collStats` would
    * count the transformed frame while reporting storage sizes of the
    * scan — silently wrong, so reject like the server does. */
  private val firstOnly = Set("$collStats", "$indexStats", "$documents")

  def compile(pipeline: Seq[Map[String, Any]],
      tables: TableResolver = name =>
        throw new IllegalArgumentException(s"$$lookup: unknown table $name"))
      : DataFrame => DataFrame = {
    pipeline.zipWithIndex.drop(1).foreach { case (st, i) =>
      st.keys.find(firstOnly).foreach(k => throw new IllegalArgumentException(
        s"$k must be the first pipeline stage (found at position $i)"))
    }
    df => fuse(pipeline, tables).foldLeft(df)((acc, step) => step(acc))
  }

  /** Peephole rewrite: `$lookup(as: X)` immediately followed by
    * `$unwind: "$X"` is semantically a join — compile it to one,
    * skipping the collect_list → explode round-trip (array build + extra
    * shuffle). The classic Mongo idiom costs ~10× the join at scale.
    * Every `$lookup` spelling fuses: [[lookup]] keeps each form's
    * semantics in the [[Unwound]] shape. */
  private def fuse(pipeline: Seq[Map[String, Any]], tables: TableResolver)
      : Seq[DataFrame => DataFrame] =
    pipeline match {
      case lk +: uw +: rest
        if lk.keySet == Set("$lookup") && uw.keySet == Set("$unwind") =>
        val spec = doc(lk("$lookup"))
        fusableUnwind(uw("$unwind"), spec("as")) match {
          case Some(preserve) =>
            ((df: DataFrame) => lookup(df, spec, tables, Unwound(preserve))) +:
              fuse(rest, tables)
          case None =>
            ((df: DataFrame) => stage(df, lk, tables)) +: fuse(uw +: rest, tables)
        }
      case st +: rest =>
        ((df: DataFrame) => stage(df, st, tables)) +: fuse(rest, tables)
      case _ => Nil
    }

  /** Is this $unwind spec fusable with a preceding $lookup(as)? Returns
    * Some(preserveNullAndEmptyArrays) when it targets the lookup output
    * and asks for no array index (string form, or doc form without
    * includeArrayIndex — a requested index must see the real array). */
  private def fusableUnwind(spec: Any, as: Any): Option[Boolean] =
    spec match {
      case s: String if s == "$" + as => Some(false)
      case m: Map[_, _] =>
        val d = m.asInstanceOf[Map[String, Any]]
        if (d.get("path").contains("$" + as) &&
            !d.contains("includeArrayIndex"))
          Some(d.get("preserveNullAndEmptyArrays").contains(true))
        else None
      case _ => None
    }

  private def stage(df: DataFrame, st: Map[String, Any],
      tables: TableResolver): DataFrame = {
    require(st.size == 1, s"pipeline stage must have exactly one key: $st")
    val (name, spec) = st.head
    name match {
      case "$match" =>
        val q = doc(spec)
        // compileFor: the collation fold (if an aggregate-level collation
        // is active) gates on each field's resolved type being string
        val matched = df.where(QueryCompiler.compileFor(df, q))
        // Mongo's {$meta: "textScore"} is produced by a $text match: stash
        // a score (matched-term count over the `text` column — a simpler
        // weighting than Mongo's, documented; $search carries full BM25)
        // so a following $sort/$project {$meta} composes
        q.get("$text") match {
          case Some(t) =>
            // the SAME parser the predicate used — filter and score
            // analysis can never diverge
            val (search, cs, lang) = QueryCompiler.parseTextOptions(t)
            matched.withColumn("__searchScore",
              QueryCompiler.textScore(search, cs, lang))
          case None => matched
        }

      case "$project" =>
        val fields = doc(spec)
        // dotted paths ({"a.b": 1/0}) share find-projection semantics
        // (struct rebuild / dropFields) — delegate to the projection
        // compiler; dotted EXPRESSION values would need conditional
        // struct surgery and are rejected toward $set + a flat $project
        if (fields.keys.exists(_.contains('.'))) {
          val plain = fields.values.forall(v =>
            v == 0 || v == 1 || v == true || v == false)
          require(plain,
            "$project: dotted paths support the inclusion/exclusion form" +
              " (1/0); compute expression values with $set, then project")
          graft.query.ProjectionCompiler.project(df, fields)
        } else {
          val (includes, excludes) = fields.partition { case (_, v) =>
            v != 0 && v != false }
          if (includes.isEmpty) df.drop(excludes.keys.toSeq: _*)
          else {
            val env = rootEnv(df)
            val cols = includes.toSeq.map {
              case (as, 1) => col(as).as(as)
              case (as, true) => col(as).as(as)
              case (as, e) => expr2col(e, env).as(as)
            }
            df.select(cols: _*)
          }
        }

      case "$addFields" | "$set" =>
        val fields = doc(spec)
        // $$ROOT/$$CURRENT bind to the stage's INPUT document (Mongo
        // semantics). The sequential fold lets an earlier key overwrite a
        // column, so when the spec references the document variables the
        // input row is FROZEN into a hidden struct column first — a
        // rootEnv of bare column refs would silently re-resolve against
        // the partially-updated frame.
        if (usesDocVar(fields)) {
          val snap = "__graft_root_snapshot"
          require(!df.columns.contains(snap),
            s"$$addFields: input already has reserved column $snap")
          val rootCol = col(snap)
          val env = Map("ROOT" -> rootCol, "CURRENT" -> rootCol) ++
            searchMetaEnv(df)
          fields.foldLeft(df.withColumn(snap,
              struct(df.columns.map(col).toSeq: _*))) {
            // {f: "$$REMOVE"} drops the field in this branch too —
            // expr2col would map it to lit(null) and keep a null column
            case (d, (as, e)) if e == "$$REMOVE" =>
              if (!as.contains('.')) d.drop(as)
              else {
                val top = as.takeWhile(_ != '.')
                if (!d.columns.contains(top)) d
                else d.withColumn(top,
                  col(top).dropFields(as.drop(top.length + 1)))
              }
            case (d, (as, e)) => setNested(d, as, expr2col(e, env))
          }.drop(snap)
        } else {
          val env = searchMetaEnv(df)
          fields.foldLeft(df) {
            // direct {f: "$$REMOVE"} drops the field outright (nested
            // members via dropFields)
            case (d, (as, e)) if e == "$$REMOVE" =>
              if (!as.contains('.')) d.drop(as)
              else {
                val top = as.takeWhile(_ != '.')
                if (!d.columns.contains(top)) d
                else d.withColumn(top,
                  col(top).dropFields(as.drop(top.length + 1)))
              }
            case (d, (as, e)) => setNested(d, as, expr2col(e, env))
          }
        }

      case "$unset" =>
        val paths = spec match {
          case s: String => Seq(s)
          case s: Seq[_] => s.map(_.toString)
          case other =>
            throw new IllegalArgumentException(s"$$unset: $other")
        }
        // dotted paths remove a NESTED member (dropFields resolves the
        // dotted remainder inside the top-level struct); plain names drop
        // whole columns
        paths.foldLeft(df) { (d, p) =>
          if (p.contains('.')) {
            val top = p.takeWhile(_ != '.')
            if (!d.columns.contains(top)) d
            else d.withColumn(top,
              col(top).dropFields(p.drop(top.length + 1)))
          } else d.drop(p)
        }

      case "$group" =>
        val fields = doc(spec)
        val idSpec = fields.getOrElse("_id",
          throw new IllegalArgumentException("$group requires _id"))
        val groupEnv = rootEnv(df)
        val aggFields = (fields - "_id").toSeq
        val aggs = aggFields.map { case (as, accDoc) =>
          accumulator(doc(accDoc), groupEnv).as(as) }
        // spark.graft.skewSalt opt-in (> 1): two-stage salted aggregation
        // for hot group keys — stage 1 aggregates per (key, salt) so a
        // dominant key spreads over `salt` reducers, stage 2 combines the
        // ≤salt partials per key. Only DECOMPOSABLE accumulators
        // ($sum/$count/$min/$max — stage 1 IS the normal accumulator, so
        // semantics can't drift) take the salted path; anything else falls
        // through to the plain plan, where AQE + partial aggregation
        // remain the skew story.
        def saltedAgg(idCol: Column): Option[DataFrame] = {
          val combine = Map("$sum" -> "sum", "$count" -> "sum",
            "$min" -> "min", "$max" -> "max")
          val decomposable = aggFields.forall { case (_, accDoc) =>
            val m = doc(accDoc); m.size == 1 && combine.contains(m.head._1) }
          // "auto" = let the engine decide. For $group the measured
          // answer is ALWAYS the plain plan: the salted path is only
          // eligible for decomposable accumulators, and map-side partial
          // aggregation already collapses a hot key to one partial per
          // map task — the 90%-hot 16M-row harness (ScaleProbe
          // saltgroup) times 0.70 s unsalted vs 0.73 s at salt 8. The
          // integer knob remains for explicit override.
          val saltN = df.sparkSession.conf
            .getOption("spark.graft.skewSalt") match {
            case Some("auto") => 0
            case Some(s) => s.toInt
            case None => 0
          }
          if (saltN <= 1 || aggFields.isEmpty || !decomposable) None
          else Some {
            val stage1 = aggFields.zipWithIndex.map { case ((_, accDoc), i) =>
              accumulator(doc(accDoc), groupEnv).as(s"__sg$i") }
            // Deterministic salt: hash of the full row payload, NOT
            // monotonically_increasing_id — a shuffle-map retry after a
            // partial fetch must re-salt rows IDENTICALLY or partials
            // double-count/drop. Identical rows sharing a bucket is fine
            // (they combine map-side anyway).
            val part = df.groupBy(idCol,
                graft.ops.Skew.deterministicSalt(df, saltN).as("__salt"))
              .agg(stage1.head, stage1.tail: _*)
            val stage2 = aggFields.zipWithIndex.map { case ((as, accDoc), i) =>
              (combine(doc(accDoc).head._1) match {
                case "sum" => sum(col(s"__sg$i"))
                case "min" => min(col(s"__sg$i"))
                case "max" => max(col(s"__sg$i"))
              }).as(as) }
            part.groupBy(col("_id")).agg(stage2.head, stage2.tail: _*)
          }
        }
        // Aggregate-level collation applies to $group EQUALITY too
        // (Mongo: string keys compare under the collation). String-typed
        // keys group under the collation KEY; the emitted _id is the
        // MINIMUM original value of each group — Mongo surfaces
        // whichever document it met first (nondeterministic), so the
        // engine picks the deterministic representative an oracle can
        // reproduce. The fold is a scalar key expression, so the plan
        // stays one hash aggregate; the salted-skew path is skipped
        // (map-side partials + AQE carry collated skew).
        val collSpec = graft.query.QueryCompiler.activeCollation.value
        // fold one scalar key; None = collation does not apply
        def foldKey(c: Column): Option[Column] = collFold(df, c)
        def collGrouped(orig: Column, folded: Column): DataFrame = {
          // the folded grouping key rides an internal alias; an
          // accumulator of the same name would be silently dropped
          require(!aggFields.exists(_._1 == "__ck"),
            "$group under a collation: the accumulator name __ck is " +
              "reserved for the internal grouping key — rename it")
          val rep = min(orig).as("_id")
          if (aggs.isEmpty) df.groupBy(folded.as("__ck")).agg(rep)
            .select("_id")
          else df.groupBy(folded.as("__ck")).agg(rep, aggs: _*)
            .drop("__ck")
        }
        idSpec match {
          case null => // global aggregation, _id: null
            require(aggs.nonEmpty, "$group {_id: null} needs an accumulator")
            df.agg(aggs.head, aggs.tail: _*)
          case ref: String if ref.startsWith("$") =>
            val idCol = col(ref.drop(1))
            foldKey(idCol).map(collGrouped(idCol, _)).getOrElse {
              // _id-only $group is Mongo's distinct idiom
              if (aggs.isEmpty) df.select(idCol.as("_id")).distinct()
              else saltedAgg(idCol.as("_id"))
                .getOrElse(df.groupBy(idCol.as("_id"))
                  .agg(aggs.head, aggs.tail: _*))
            }
          case m: Map[_, _] if m.keys.exists(_.toString.startsWith("$")) =>
            // operator doc: _id is an EXPRESSION ({$month: "$d"}, $concat…)
            val idCol = expr2col(m, groupEnv)
            foldKey(idCol).map(collGrouped(idCol, _)).getOrElse {
              val key = idCol.as("_id")
              if (aggs.isEmpty) df.select(key).distinct()
              else saltedAgg(key).getOrElse(
                df.groupBy(key).agg(aggs.head, aggs.tail: _*))
            }
          case m: Map[_, _] => // compound key {k: "$f", ...} → struct _id
            val named = m.asInstanceOf[Map[String, Any]].toSeq.map {
              case (k, v) => (k, expr2col(v, groupEnv)) }
            val keys = named.map { case (k, c) => c.as(k) }
            val foldedMembers = collSpec.map(_ => named.map {
              case (_, c) => foldKey(c).getOrElse(c) })
            foldedMembers match {
              case Some(fm) if fm.zip(named).exists {
                  case (f, (_, c)) => f ne c } =>
                // at least one string member folds: group on the folded
                // struct, surface min(original struct) as _id
                collGrouped(struct(keys: _*), struct(fm: _*))
              case _ =>
                if (aggs.isEmpty)
                  df.select(struct(keys: _*).as("_id")).distinct()
                else saltedAgg(struct(keys: _*).as("_id")).getOrElse(
                  df.groupBy(struct(keys: _*).as("_id"))
                    .agg(aggs.head, aggs.tail: _*))
            }
          case other =>
            throw new IllegalArgumentException(s"$$group _id: $other")
        }

      case "$sort" =>
        val keys: Seq[(String, Any)] = spec match {
          case s: Seq[_] => s.map { case (k: String, v) => (k, v) }
          case m: Map[_, _] => m.asInstanceOf[Map[String, Any]].toSeq
          case other => throw new IllegalArgumentException(s"$$sort: $other")
        }
        // under an aggregate-level collation, string sort keys fold
        // through the collation key (case/diacritic-insensitive order)
        def sortCol(k: String): Column =
          collFold(df, col(k)).getOrElse(col(k))
        df.orderBy(keys.map {
          case (k, 1) => sortCol(k).asc
          case (k, -1) => sortCol(k).desc
          // {f: {$meta: "textScore"}} — Mongo sorts relevance DESCENDING;
          // the score carrier comes from the $search/$text stage
          case (_, m: Map[_, _]) if m.asInstanceOf[Map[String, Any]]
              .get("$meta").exists(v =>
                v == "textScore" || v == "searchScore" || v == "score") =>
            col("__searchScore").desc
          case (k, v) => throw new IllegalArgumentException(s"$$sort $k: $v")
        }: _*)

      case "$limit" => df.limit(int(spec))
      case "$skip"  => df.offset(int(spec))
      case "$count" => df.agg(count(lit(1)).as(spec.toString))

      case "$unwind" =>
        val (path, idxField, preserve) = spec match {
          case s: String => (s, None, false)
          case m: Map[_, _] =>
            val d = m.asInstanceOf[Map[String, Any]]
            (d("path").toString,
              d.get("includeArrayIndex").map(_.toString),
              d.get("preserveNullAndEmptyArrays").contains(true))
          case other => throw new IllegalArgumentException(s"$$unwind: $other")
        }
        require(path.startsWith("$"), s"$$unwind path must start with $$: $path")
        val f = path.drop(1)
        // Replace `name` (possibly dotted: a struct member) with `value` —
        // withColumn treats dots literally, so nested targets go through
        // withField on the top-level struct.
        def put(d: DataFrame, name: String, value: Column): DataFrame =
          if (!name.contains('.')) d.withColumn(name, value)
          else {
            val top = name.takeWhile(_ != '.')
            d.withColumn(top,
              col(top).withField(name.drop(top.length + 1), value))
          }
        // Mongo $unwind drops rows with empty/null arrays by default
        // (explode); preserveNullAndEmptyArrays keeps them with a null
        // element (explode_outer — Mongo leaves the field MISSING, which
        // has no columnar analog: documented null divergence, same stance
        // as predicated $unset). includeArrayIndex emits the 0-based
        // position (null on preserved empty rows), via posexplode so the
        // index costs no second pass.
        idxField match {
          case None if !f.contains('.') =>
            df.withColumn(f,
              if (preserve) explode_outer(col(f)) else explode(col(f)))
          case None =>
            val gen = if (preserve) explode_outer(col(f)) else explode(col(f))
            put(df.select(col("*"), gen.as("__uw_val")), f, col("__uw_val"))
              .drop("__uw_val")
          case Some(idx) =>
            val gen = if (preserve) posexplode_outer(col(f))
                      else posexplode(col(f))
            val st = df.select(col("*"), gen.as(Seq("__uw_pos", "__uw_val")))
            put(put(st, f, col("__uw_val")),
              idx, col("__uw_pos").cast("long"))
              .drop("__uw_pos", "__uw_val")
        }

      case "$lookup" => lookup(df, doc(spec), tables, Grouped)

      case "$sortByCount" =>
        val ref = spec.toString
        require(ref.startsWith("$"), s"$$sortByCount: $ref")
        val sbcCol = col(ref.drop(1))
        // aggregate-level collation applies here too ($sortByCount IS
        // $group + $sort): string keys group under the collation key,
        // min(original) is the deterministic _id representative
        collFold(df, sbcCol) match {
          case Some(folded) =>
            df.groupBy(folded.as("__ck"))
              .agg(min(sbcCol).as("_id"), count(lit(1)).as("count"))
              .orderBy(col("count").desc, col("__ck").asc)
              .drop("__ck")
          case None =>
            df.groupBy(sbcCol.as("_id")).agg(count(lit(1)).as("count"))
              .orderBy(col("count").desc, col("_id").asc)
        }

      case "$replaceRoot" =>
        val ref = doc(spec)("newRoot").toString
        require(ref.startsWith("$"), s"$$replaceRoot: $ref")
        df.select(col(ref.drop(1) + ".*"))

      case "$replaceWith" => // Mongo 4.2 alias: spec IS the newRoot expr
        val ref = spec.toString
        require(ref.startsWith("$"), s"$$replaceWith: $ref")
        df.select(col(ref.drop(1) + ".*"))

      case "$bucket" =>
        // group rows into explicit boundary buckets: _id = lower bound of
        // the bucket, rows outside the boundaries go to `default`
        val d = doc(spec)
        val groupExpr = expr2col(d("groupBy"))
        val bounds = d("boundaries") match {
          case s: Seq[_] => s.map {
            case n: Number => n.doubleValue()
            case other => throw new IllegalArgumentException(s"$$bucket: $other")
          }
          case other => throw new IllegalArgumentException(s"$$bucket: $other")
        }
        require(bounds.size >= 2, "$bucket needs >= 2 boundaries")
        val defaultId = d.get("default").map(v => lit(
          graft.query.QueryCompiler.toScalaLit(v)))
        // Mongo allows a non-numeric default bucket id; Spark columns are
        // typed, so a string default makes the whole _id column string
        val stringy = d.get("default").exists(_.isInstanceOf[String])
        def idLit(lo: Double): Column =
          if (stringy) lit(lo).cast("string") else lit(lo)
        val bucketCol = bounds.sliding(2).zipWithIndex.foldRight(
          defaultId.getOrElse(lit(null))) { case ((Seq(lo, hi), _), els) =>
          when(groupExpr >= lo && groupExpr < hi, idLit(lo)).otherwise(els)
        }
        val aggs = (d - "groupBy" - "boundaries" - "default").toSeq
          .map { case (as, accDoc) => accumulator(doc(accDoc)).as(as) }
        val withCount =
          if (aggs.isEmpty) Seq(count(lit(1)).as("count")) else aggs
        df.groupBy(bucketCol.as("_id"))
          .agg(withCount.head, withCount.tail: _*)

      case "$sample" =>
        // Mongo $sample is random; here seeded (deterministic) rand so
        // pipelines stay reproducible: order by rand(seed), take size.
        val d = doc(spec)
        val n = int(d.getOrElse("size",
          throw new IllegalArgumentException("$sample requires size")))
        val seed = d.get("seed").map(s => int(s).toLong).getOrElse(42L)
        df.orderBy(rand(seed)).limit(n)

      case n if SearchStages.names(n) => SearchStages.stage(df, n, spec, tables)

      case "$geoNear" =>
        // Mongo $geoNear (reference pass-through db/wrapper.go:88-94):
        // distance from `near` to the `key` column — a 2-element
        // [lon, lat] array, or a GeoJSON Point struct whose `coordinates`
        // field is that array. `spherical: true` uses the haversine
        // great-circle distance in meters on the IUGG mean earth radius
        // (6371008.8 m); planar (default) is Euclidean in coordinate
        // units. `query` pre-filters (pushed into the scan), min/
        // maxDistance bound the RAW distance, `distanceMultiplier`
        // scales only the emitted `distanceField`, `includeLocs` copies
        // the matched point. Everything is scan-fused scalar math — no
        // join; the only exchange is the required distance ordering,
        // which Spark range-partitions (and collapses to
        // TakeOrderedAndProject under a following $limit), so the plan
        // stays fully parallel at 100 TB.
        val d = doc(spec)
        def dbl(v: Any): Double =
          PipelineCompiler.dbl(v, "$geoNear: expected number")
        val (nearLon, nearLat) = (d.getOrElse("near",
          throw new IllegalArgumentException("$geoNear requires near")) match {
          case s: Seq[_] => s
          case m: Map[_, _] => doc(m).getOrElse("coordinates",
            throw new IllegalArgumentException(
              "$geoNear: GeoJSON near needs coordinates")) match {
            case s: Seq[_] => s
            case other =>
              throw new IllegalArgumentException(s"$$geoNear near: $other")
          }
          case other =>
            throw new IllegalArgumentException(s"$$geoNear near: $other")
        }) match {
          case Seq(lo, la) => (dbl(lo), dbl(la))
          case other =>
            throw new IllegalArgumentException(
              s"$$geoNear near must be [lon, lat]: $other")
        }
        val keyName = d.getOrElse("key",
          throw new IllegalArgumentException(
            "$geoNear requires key (no index to infer the field from)"))
          .toString
        val distField = d.getOrElse("distanceField",
          throw new IllegalArgumentException(
            "$geoNear requires distanceField")).toString
        // struct key (GeoJSON Point column) → use its coordinates array
        val rawKey = col(keyName)
        val keyIsStruct = df.select(rawKey).schema.head.dataType
          .isInstanceOf[org.apache.spark.sql.types.StructType]
        val coords = if (keyIsStruct) rawKey.getField("coordinates") else rawKey
        val lonC = coords.getItem(0).cast("double")
        val latC = coords.getItem(1).cast("double")
        // a GeoJSON near point ALWAYS means spherical meters in Mongo,
        // with or without the spherical flag; legacy [x, y] is planar
        // unless spherical: true
        val spherical = d("near").isInstanceOf[Map[_, _]] ||
          d.get("spherical").contains(true)
        val dist: Column =
          if (spherical)
            graft.functions.Geo.haversineMeters(lonC, latC, nearLon, nearLat)
          else
            graft.functions.Geo.planarDistance(lonC, latC, nearLon, nearLat)
        val prefiltered = d.get("query")
          .map(q => df.where(QueryCompiler.compile(doc(q)))).getOrElse(df)
        val withDist = prefiltered.withColumn(distField, dist)
        val bounded = Seq(
          d.get("minDistance").map(n => col(distField) >= dbl(n)),
          d.get("maxDistance").map(n => col(distField) <= dbl(n)))
          .flatten.foldLeft(withDist)(_ where _)
        val withLocs = d.get("includeLocs") match {
          case Some(f) => bounded.withColumn(f.toString, rawKey)
          case None    => bounded
        }
        val mult = d.get("distanceMultiplier").map(dbl).getOrElse(1.0)
        val scaled = if (mult == 1.0) withLocs
          else withLocs.withColumn(distField, col(distField) * mult)
        scaled.orderBy(col(distField).asc)

      case "$documents" =>
        // literal-documents source (db-level aggregate in Mongo): replaces
        // the input frame. Values go through the expression language, so
        // computed literals work; missing keys null-fill across documents
        // (Mongo documents just lack the fields). Intended for the small
        // inline sets the stage exists for (tests, seed rows, lookup
        // tables) — each document is one plan-side row, and the result is
        // broadcast-sized by construction.
        val ds = spec match {
          case s: Seq[_] => s.map(doc)
          case other =>
            throw new IllegalArgumentException(s"$$documents: $other")
        }
        require(ds.nonEmpty, "$documents: empty array")
        val frames = ds.map { d =>
          require(d.nonEmpty, "$documents: empty document")
          df.sparkSession.range(1).select(
            d.toSeq.map { case (k, v) => expr2col(v).as(k) }: _*)
        }
        frames.reduce(_.unionByName(_, allowMissingColumns = true))

      case "$redact" =>
        // document-level access control: the expression resolves to
        // $$KEEP / $$PRUNE / $$DESCEND per document; PRUNE drops the row.
        // Columnar semantics are root-level only — $$DESCEND does not
        // recurse into subdocuments (equivalent to Mongo whenever the
        // decision depends on top-level fields, the usual access-control
        // idiom); per-subdocument descent would need a schema-recursive
        // rewrite that no current caller needs.
        val decision = expr2col(spec, Map(
          "DESCEND" -> lit("__descend"),
          "PRUNE" -> lit("__prune"),
          "KEEP" -> lit("__keep")))
        df.where(decision =!= lit("__prune"))

      case "$indexStats" =>
        // Mongo emits one doc per index. Parquet-backed collections have
        // no secondary indexes (scans prune via statistics instead), so
        // the honest answer is the empty frame — in Mongo's output shape,
        // so downstream stages ($match on name, $project) still compile.
        val session = df.sparkSession
        import org.apache.spark.sql.types._
        session.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          StructType(Seq(
            StructField("name", StringType),
            StructField("key", MapType(StringType, IntegerType)),
            StructField("accesses", StructType(Seq(
              StructField("ops", LongType),
              StructField("since", TimestampType)))))))

      case "$collStats" =>
        // collection statistics as a 1-row frame. Must be the first stage
        // (Mongo's rule too): `count` is an in-plan aggregate; the
        // storageStats sizes come from the scan's file listing — driver-
        // side metadata only, same class of access as
        // EstimatedDocumentCount's parquet footers.
        val d = doc(spec)
        val agg = df.agg(count(lit(1)).as("__count"))
        var cols = Seq.empty[Column]
        if (d.contains("count")) cols :+= col("__count").as("count")
        if (d.contains("storageStats")) {
          val files = df.inputFiles
          val conf = df.sparkSession.sparkContext.hadoopConfiguration
          // scheme-aware: inputFiles are fully-qualified URIs that may not
          // live on the default filesystem (same convention as
          // Tables.estimatedRowCount)
          val bytes = files.map { f =>
            val p = new org.apache.hadoop.fs.Path(f)
            org.apache.hadoop.fs.FileSystem.get(p.toUri, conf)
              .getFileStatus(p).getLen
          }.sum
          cols :+= struct(
            lit(bytes).as("storageSize"),
            col("__count").as("count"),
            when(col("__count") > 0, (lit(bytes) / col("__count"))
              .cast("long")).as("avgObjSize"),
            lit(0).as("nindexes")).as("storageStats")
        }
        require(cols.nonEmpty,
          "$collStats: nothing requested (count/storageStats)")
        agg.select(cols: _*)

      case "$facet" =>
        // Mongo $facet: every sub-pipeline consumes the same input; the
        // output is ONE row with one array-of-docs column per facet. Each
        // facet is an independent aggregation (its own scan) — at scale,
        // persist the input frame before piping when facet count is high.
        val facets = doc(spec).toSeq
        require(facets.nonEmpty, "$facet needs at least one facet")
        val frames = facets.map { case (as, sub) =>
          val out = compile(pipelineSeq(sub), tables)(df)
          out.agg(collect_list(struct(out.columns.map(col).toSeq: _*)).as(as))
        }
        // every facet frame is exactly one row: chained cross joins are
        // 1×1×…; Spark broadcasts them — no shuffle
        frames.reduce(_.crossJoin(_))

      case "$unionWith" =>
        // union with another collection, optionally pre-piped. Missing
        // columns null-fill (Mongo documents just lack the fields).
        val (collName, sub) = spec match {
          case s: String => (s, Nil)
          case m: Map[_, _] =>
            val d = doc(m)
            (d("coll").toString,
              d.get("pipeline").map(pipelineSeq).getOrElse(Nil))
          case other =>
            throw new IllegalArgumentException(s"$$unionWith: $other")
        }
        val other = compile(sub, tables)(tables(collName))
        df.unionByName(other, allowMissingColumns = true)

      case "$fill" =>
        // {$fill: {partitionBy?, sortBy?, output: {f: {method: "locf"} |
        //  {value: expr}}}} — locf = last non-null over the ordered window
        // (one shuffle on the partition key); value = per-row coalesce.
        val d = doc(spec)
        // partition equality folds under an aggregate-level collation
        // (internal key only — output fields untouched)
        val partCols = d.get("partitionBy").toSeq.map(expr2col)
          .map(c => collFold(df, c).getOrElse(c))
        val sortCols: Seq[Column] = d.get("sortBy").map(s => doc(s).toSeq.map {
          case (k, 1) => collFold(df, col(k)).getOrElse(col(k)).asc
          case (k, -1) => collFold(df, col(k)).getOrElse(col(k)).desc
          case (k, v) =>
            throw new IllegalArgumentException(s"$$fill sortBy $k: $v")
        }).getOrElse(Nil)
        if (partCols.isEmpty && doc(d("output")).values
              .exists(o => doc(o).contains("method")))
          scaleGuard(df, "$fill with a locf/linear method and no " +
            "partitionBy compiles to a single-partition global window " +
            "(correct Mongo semantics, but serializes at scale) — add " +
            "partitionBy to distribute")
        def baseW = {
          val p = if (partCols.nonEmpty)
            org.apache.spark.sql.expressions.Window.partitionBy(partCols: _*)
          else org.apache.spark.sql.expressions.Window.partitionBy()
          p.orderBy(sortCols: _*)
        }
        val W = org.apache.spark.sql.expressions.Window
        doc(d("output")).toSeq.foldLeft(df) { case (acc, (field, spec0)) =>
          doc(spec0).toSeq match {
            case Seq(("value", v)) =>
              setNested(acc, field, coalesce(col(field), expr2col(v)))
            case Seq(("method", "locf")) =>
              require(sortCols.nonEmpty, "$fill locf requires sortBy")
              val w = baseW.rowsBetween(W.unboundedPreceding, W.currentRow)
              setNested(acc, field,
                last(col(field), ignoreNulls = true).over(w))
            case Seq(("method", "linear")) =>
              // interpolate between the surrounding non-null values,
              // proportional to the (single, ascending, numeric) sortBy
              // field distance — Mongo linear-fill semantics; leading/
              // trailing nulls stay null
              val sortDoc = doc(d.getOrElse("sortBy",
                throw new IllegalArgumentException(
                  "$fill linear requires sortBy")))
              require(sortDoc.size == 1 && sortDoc.head._2 == 1,
                "$fill linear requires a single ascending sortBy field")
              setNested(acc, field, linearInterp(baseW,
                col(sortDoc.head._1).cast("double"),
                col(field).cast("double")))
            case other => throw new IllegalArgumentException(
              s"$$fill output for $field: $other")
          }
        }

      case "$bucketAuto" =>
        // ~equal-count buckets. Distributed-exact: cumulative counts over
        // DISTINCT values (the window runs over |distinct| rows, not the
        // data), then a value→bucket assignment joined back — never a
        // global single-partition sort of the raw rows. Ties share a
        // bucket, as in Mongo.
        val d = doc(spec)
        // granularity quantizes values UP to the preferred-number series
        // BEFORE the distinct-value window, bounding the window's input to
        // the series domain even on near-unique continuous columns. The
        // quantize is STAGED through projection columns (codegen'd, each
        // libm call once per row) and computed on ONE shared frame reused
        // by both the frequency side and the join-back side.
        val withBv = d.get("granularity") match {
          case Some(g) =>
            graft.functions.Granularity.quantizeInto(df,
              expr2col(d("groupBy")), g.toString, "__bv")
          case None => df.withColumn("__bv", expr2col(d("groupBy")))
        }
        if (!d.contains("granularity")) withBv.schema("__bv").dataType match {
          case org.apache.spark.sql.types.DoubleType |
               org.apache.spark.sql.types.FloatType |
               (_: org.apache.spark.sql.types.DecimalType) =>
            scaleGuard(df, "$bucketAuto without granularity on a " +
              "fractional groupBy runs its cumulative-count window over " +
              "every DISTINCT value — near-unique continuous columns make " +
              "that a single-partition sort of ~all rows; add granularity " +
              "to bound the domain to the preferred-number series")
          case _ => () // discrete domain: the distinct-value window is bounded
        }
        val nBuckets = int(d("buckets"))
        val aggs = (d - "groupBy" - "buckets" - "granularity").toSeq
          .map { case (as, accDoc) => accumulator(doc(accDoc)).as(as) }
        val withCount2 =
          if (aggs.isEmpty) Seq(count(lit(1)).as("count")) else aggs
        val freq = withBv.select("__bv")
          .groupBy("__bv").agg(count(lit(1)).as("__f"))
        val w = org.apache.spark.sql.expressions.Window.orderBy(col("__bv"))
        val assigned = freq
          .withColumn("__cum", sum(col("__f")).over(w) - col("__f"))
          .withColumn("__n", sum(col("__f")).over(
            org.apache.spark.sql.expressions.Window.partitionBy()))
          .withColumn("__bucket",
            least(floor(col("__cum") * nBuckets / col("__n")),
              lit(nBuckets - 1)).cast("int"))
          .select("__bv", "__bucket")
        val bucketed = d.get("granularity") match {
          case Some(g) =>
            // The (value, bucket) table is bounded by the granularity
            // SERIES domain (series size × decades), so collect it and
            // fold the mapping into the scan as ONE literal map lookup.
            // The join-back form planted an inferred isnotnull(__bv)
            // under the staged quantize projections, and predicate
            // pushdown inlined the staging refs once per series step —
            // a colossal per-row filter (measured: 102 s of q99's 100×
            // time; the literal lookup leaves nothing to push down).
            val entries = assigned.collect().toSeq
              .filterNot(_.isNullAt(0)) // null group values never joined
              .map(r => (r.getDouble(0), r.getInt(1)))
            if (entries.exists(_._1.isNaN))
              throw new IllegalArgumentException(
                "$bucketAuto: granularity is undefined for negative " +
                  "values")
            val lookup = typedlit(entries.toMap)
            graft.functions.Granularity.quantizeInto(
                df.where(expr2col(d("groupBy")).isNotNull),
                expr2col(d("groupBy")), g.toString, "__bv")
              .withColumn("__bucket", element_at(lookup, col("__bv")))
          case None => withBv.join(broadcast(assigned), "__bv")
        }
        bucketed
          .groupBy(col("__bucket"))
          .agg(min(col("__bv")).as("__min"),
            (max(col("__bv")).as("__max") +: withCount2): _*)
          .withColumn("_id",
            struct(col("__min").as("min"), col("__max").as("max")))
          .drop("__bv", "__bucket", "__min", "__max")

      case "$densify" =>
        // {$densify: {field, partitionByFields?, range: {step, bounds:
        //  "full" | [lo, hi)}}} — synthesize rows for the missing grid
        // points of `field`; other columns null. The grid derives from a
        // one-row (or per-partition) min/max aggregate, `sequence()` +
        // explode generates it DISTRIBUTED, and a left_anti join drops
        // points that already exist — no driver loop, no global sort.
        val d = doc(spec)
        val field = d("field").toString
        val parts = d.get("partitionByFields").map {
          case s: Seq[_] => s.map(_.toString)
          case other =>
            throw new IllegalArgumentException(s"partitionByFields: $other")
        }.getOrElse(Nil)
        // $densify SYNTHESIZES rows carrying the partition VALUE, so a
        // collation-folded partition has no canonical value to write
        // (which case-variant does the synthesized row get?) — reject
        // loudly rather than densifying case-variant partitions
        // separately while the rest of the pipeline folds
        require(graft.query.QueryCompiler.activeCollation.value.isEmpty ||
            !parts.exists(pp => stringTyped(df, col(pp))),
          "$densify with STRING partitionByFields under an aggregate " +
            "collation is not supported — synthesized rows materialize " +
            "the partition value, which has no canonical case-variant; " +
            "normalize the partition column (e.g. $toLower) before " +
            "$densify instead")
        val r = doc(d("range"))
        val step = r("step") match {
          case n: Number => n.longValue()
          case other => throw new IllegalArgumentException(s"step: $other")
        }
        require(step > 0, "$densify step must be positive")
        // With a `unit` the field is a date/timestamp and the grid is a
        // `sequence(timestamp, timestamp, interval)` — calendar units
        // (month/quarter/year) use a year-month interval so Spark does the
        // calendar arithmetic; fixed units use a day-time interval. Still
        // fully distributed: same explode + anti-join shape as numeric.
        val unitOpt = r.get("unit").map(_.toString)
        val stepCol: Column = unitOpt match {
          case Some(u) => densifyStepInterval(step, u)
          case None => lit(step)
        }
        // grid points land back in the source column's type (sequence
        // yields timestamps; a DATE field with a day+ unit casts cleanly)
        val fieldType = df.schema(field).dataType
        // a DATE field cannot carry sub-day grid points: the cast back to
        // date would emit duplicate rows per day, each unioned in by the
        // anti-join — reject instead
        if (fieldType == org.apache.spark.sql.types.DateType &&
            unitOpt.exists(u => Set("hour", "minute", "second",
              "millisecond")(u.toLowerCase(java.util.Locale.ROOT))))
          throw new IllegalArgumentException(
            s"$$densify: unit '${unitOpt.get}' is finer than DATE field " +
              s"'$field' can represent; cast the field to timestamp first")
        def gridSeq(lo: Column, hi: Column): Column = {
          val (l, h) = if (unitOpt.isDefined)
            (lo.cast("timestamp"), hi.cast("timestamp"))
          else (lo.cast("long"), hi.cast("long"))
          explode(sequence(l, h, stepCol))
        }
        val grid0 = r.getOrElse("bounds", "full") match {
          case "full" =>
            // Mongo "full": the GLOBAL data span, applied to every
            // partition (one-row aggregate, cross-joined onto the
            // partition key set)
            val span = df
              .agg(min(col(field)).as("__lo"), max(col(field)).as("__hi"))
              .where(col("__lo").isNotNull)
              .select(gridSeq(col("__lo"), col("__hi")).as(field))
            if (parts.isEmpty) span
            else span.crossJoin(df.select(parts.map(col): _*).distinct())
          case "partition" =>
            // per-partition min/max span
            require(parts.nonEmpty,
              "$densify bounds: \"partition\" needs partitionByFields")
            df.groupBy(parts.map(col): _*)
              .agg(min(col(field)).as("__lo"), max(col(field)).as("__hi"))
              .where(col("__lo").isNotNull)
              .select(parts.map(col) :+
                gridSeq(col("__lo"), col("__hi")).as(field): _*)
          case s: Seq[_] =>
            // bounds are [lo, hi): the upper bound itself is excluded.
            // Numeric grids stop at hi-1; date grids can't pre-shrink by a
            // calendar step, so generate through hi and filter it out.
            val (loC, hiC) = (s.head, s(1)) match {
              case (lo: Number, hi: Number) if unitOpt.isEmpty =>
                (lit(lo.longValue()), lit(hi.longValue() - 1))
              case (lo, hi) if unitOpt.isDefined =>
                (densifyBoundTs(lo), densifyBoundTs(hi))
              case other =>
                throw new IllegalArgumentException(s"bounds: $other")
            }
            val base0 = df.sparkSession.range(1)
              .select(gridSeq(loC, hiC).as(field))
            val bounded = if (unitOpt.isDefined)
              base0.where(col(field) < densifyBoundTs(s(1))) else base0
            if (parts.isEmpty) bounded
            else bounded.crossJoin(df.select(parts.map(col): _*).distinct())
          case other =>
            throw new IllegalArgumentException(s"$$densify bounds: $other")
        }
        val grid = if (unitOpt.isDefined)
          grid0.withColumn(field, col(field).cast(fieldType))
        else grid0
        val missing = grid.join(df.select((parts :+ field).map(col): _*),
            parts :+ field, "left_anti")
        df.unionByName(missing, allowMissingColumns = true)

      case "$graphLookup" => graphLookup(df, doc(spec), tables)

      case "$setWindowFields" => setWindowFields(df, doc(spec))

      case "$merge" =>
        throw new IllegalArgumentException(
          "$merge must be the FINAL stage and needs a table sink — run it " +
            "through GraftCollection.pipe (which splits it off and upserts " +
            "into the sibling collection)")

      case "$out" =>
        throw new IllegalArgumentException(
          "$out must be the FINAL stage and needs a table sink — run it " +
            "through GraftCollection.pipe (which splits it off and " +
            "replaces the sibling collection)")

      // server-administration / cursor stages with no batch-engine analog:
      // reject with the Spark-native route rather than a generic error
      case "$changeStream" | "$changeStreamSplitLargeEvent" =>
        throw new IllegalArgumentException(
          s"$name has no batch analog; use graft.streaming." +
            "StreamingMigrations (file-stream source + checkpointed " +
            "exactly-once sink) for continuous arrival")
      case "$currentOp" | "$listSessions" | "$listLocalSessions" |
           "$planCacheStats" | "$queryStats" | "$shardedDataDistribution" =>
        throw new IllegalArgumentException(
          s"$name reports MongoDB server state, which does not exist " +
            "here; operational visibility comes from the Spark UI and " +
            "the graft.apm monitors ($collStats/$indexStats ARE supported)")
      case other =>
        throw new IllegalArgumentException(s"unsupported pipeline stage: $other")
    }
  }

  /** How a `$lookup` hands over its matches: one array per outer row
    * (the stage on its own), or one row per match, as if followed by
    * `$unwind` — `preserve` keeps outer rows without a match, with a
    * null `as` (Mongo removes the field; documented null stance). */
  private sealed trait LookupShape
  private case object Grouped extends LookupShape
  private final case class Unwound(preserve: Boolean) extends LookupShape

  /** `$lookup`, however it is spelled, compiled to ONE keyed equi-join
    * (never a per-outer-row rescan, never a nested-loop join). Each
    * spelling only names its key pairs (outer expression, `from`
    * expression), its sub-pipeline and its `let`:
    *   - equality (`localField` + `foreignField`) and Mongo 8.0 concise
    *     (the same plus `pipeline`, optionally `let`): one key pair with
    *     array MEMBERSHIP — an array on either side is a SET of keys, a
    *     foreign doc matches when any element equals, and appears once;
    *   - pipeline form (`let` + `pipeline`): stage 1 must be the
    *     correlated `{$match: {$expr: {$eq: [..]}}}` (or `$and` of
    *     `$eq`s), each `$eq` pairing one `$$var` with one `$`-field of
    *     `from`; each pair is a key (whole-value equality, as `$expr`
    *     compares).
    * The rest of the sub-pipeline must be row-local (`$match`,
    * `$project`/`$set`/`$addFields`/`$unset`, `$replaceRoot`/
    * `$replaceWith`), which commutes with the equality: it runs on the
    * `from` side BEFORE the join (filters push into the scan; the join
    * stays equi-shaped and broadcast-eligible). The join keys are taken
    * before it runs, so a `$project` that omits them — legal in Mongo,
    * where the join happens first — still joins. A `$match` that reads a
    * `let` variable is a correlated predicate: it must use `$expr` and
    * precede the shaping stages, and it evaluates against the raw `from`
    * doc (a sidecar struct) — over the collected array when grouped, in
    * the join condition when unwound, so a preserving unwind still keeps
    * outer rows whose matches it rejects. Per-group stages ($limit,
    * $sort, $group, …) and correlated non-equality keys throw rather
    * than silently degrade. Under an aggregate-level collation (Mongo
    * runs the join comparison under it) string keys fold through the
    * collation key — still a hash join on a scalar key expression. */
  private def lookup(df: DataFrame, d: Map[String, Any],
      tables: TableResolver, shape: LookupShape): DataFrame = {
    val from = tables(d("from").toString)
    val let = d.get("let").map(doc).getOrElse(Map.empty[String, Any])
    val sub = d.get("pipeline").map(pipelineSeq).getOrElse(Nil)
    val as = d("as").toString
    if (d.contains("localField"))
      keyedJoin(df, from,
        Seq(df(d("localField").toString) -> from(d("foreignField").toString)),
        membership = true, sub, let, as, shape, tables)
    else {
      require(sub.nonEmpty && sub.head.keySet == Set("$match"),
        "$lookup pipeline form: first stage must be the correlated $match")
      val exprDoc = doc(sub.head("$match")).getOrElse("$expr",
        throw new IllegalArgumentException(
          "$lookup pipeline form: correlated $match must use $expr"))
      def one(m: Map[String, Any]): (Column, Column) = m.toSeq match {
        case Seq(("$eq", args: Seq[_])) =>
          val sides = args.map {
            case s: String if s.startsWith("$$") =>
              Left(expr2col(let.getOrElse(s.drop(2),
                throw new IllegalArgumentException(
                  s"$$lookup: unbound let variable $s"))))
            case s: String if s.startsWith("$") => Right(col(s.drop(1)))
            case other => throw new IllegalArgumentException(
              s"$$lookup correlated $$eq side: $other")
          }
          (sides.collect { case Left(c) => c },
            sides.collect { case Right(c) => c }) match {
            case (Seq(o), Seq(f)) => (o, f)
            case _ => throw new IllegalArgumentException(
              "$lookup: each $eq must pair one $$var with one $from-field")
          }
        case other => throw new IllegalArgumentException(
          s"$$lookup correlated condition must be $$eq: $other")
      }
      val keys = doc(exprDoc).toSeq match {
        case Seq(("$and", cs: Seq[_])) => cs.map(c => one(doc(c)))
        case _ => Seq(one(doc(exprDoc)))
      }
      keyedJoin(df, from, keys, membership = false, sub.tail, let, as,
        shape, tables)
    }
  }

  /** The one `$lookup` join (see [[lookup]]). */
  private def keyedJoin(df: DataFrame, from: DataFrame,
      keys: Seq[(Column, Column)], membership: Boolean,
      sub: Seq[Map[String, Any]], let: Map[String, Any], as: String,
      shape: LookupShape, tables: TableResolver): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
    // an `as` naming an outer field REPLACES it (Mongo): the outer keys
    // and `let` values, which may read that field, are carried first
    if (df.columns.contains(as)) {
      val keyAs = keys.indices.map(i => s"__lkout$i")
      val letAs = let.keys.toSeq.map(v => v -> s"__lklet_$v")
      val outer = df.withColumns((keyAs.zip(keys.map(_._1)) ++
        letAs.map { case (v, c) => c -> expr2col(let(v)) }).toMap).drop(as)
      return keyedJoin(outer, from, keyAs.map(col).zip(keys.map(_._2)),
        membership, sub, letAs.map { case (v, c) => v -> s"$$$c" }.toMap,
        as, shape, tables).drop(keyAs ++ letAs.map(_._2): _*)
    }
    val rowLocal = Set("$match", "$project", "$set", "$addFields",
      "$unset", "$replaceRoot", "$replaceWith")
    sub.foreach { st =>
      require(st.size == 1 && rowLocal(st.head._1),
        s"$$lookup sub-pipeline: stage ${st.head._1} is per-joined-group; " +
          "only row-local stages run inside a $lookup")
    }
    def usesLet(e: Any): Boolean = e match {
      case s: String => let.keys.exists(k => s.contains("$$" + k))
      case m: Map[_, _] =>
        m.asInstanceOf[Map[String, Any]].values.exists(usesLet)
      case s: Seq[_] => s.exists(usesLet)
      case _ => false
    }
    val shapeIdx = sub.indexWhere(st => st.head._1 != "$match")
    sub.zipWithIndex.foreach { case (st, i) =>
      if (usesLet(st)) {
        require(st.head._1 == "$match",
          "$lookup let: variables are only accessible in $match ($expr)")
        require(doc(st.head._2).keySet == Set("$expr"),
          "$lookup let: the correlated $match must use $expr")
        require(shapeIdx < 0 || i < shapeIdx,
          "$lookup let: correlated $match must precede shaping stages " +
            "($project/$set/…) — move it first")
      }
    }
    val corr = sub.filter(usesLet)

    // the from side, keyed (and its raw doc kept for the correlated
    // predicates) BEFORE the row-local stages run
    val keyCols = keys.indices.map(i => if (i == 0) "__lk" else s"__lk$i")
    val raw = "__graft_lkraw"
    val reserved = if (corr.isEmpty) keyCols else keyCols :+ raw
    reserved.foreach(r => require(!from.columns.contains(r),
      s"$$lookup: from-collection already has reserved column $r"))
    val keyed0 = keys.zip(keyCols).foldLeft(from) {
      case (f, ((_, fk), k)) => f.withColumn(k, fk) }
    val keyed = if (corr.isEmpty) keyed0
      else keyed0.withColumn(raw, struct(from.columns.map(from(_)).toSeq: _*))
    val processed = sub.filterNot(usesLet).foldLeft(keyed) { (acc, st) =>
      st.head._1 match {
        // $replaceRoot/$replaceWith replace the whole doc — re-select the
        // hidden keys (and raw sidecar) around the new root's fields
        case "$replaceRoot" | "$replaceWith" =>
          val ref = (if (st.head._1 == "$replaceRoot")
            doc(st.head._2)("newRoot") else st.head._2).toString
          require(ref.startsWith("$"), s"$$replaceRoot: $ref")
          acc.select(reserved.map(acc(_)) :+ col(ref.drop(1) + ".*"): _*)
        case _ => stage(acc, retainKeys(st, reserved), tables)
      }
    }
    val payload = struct(processed.columns.filterNot(reserved.contains)
      .map(processed(_)).toSeq: _*)
    val elem = if (corr.isEmpty) payload
      else struct(processed(raw).as(raw), payload.as("__graft_lkdoc"))

    // key folds: array membership (localField forms) and the collation
    def typeOf(dfx: DataFrame, c: Column): DataType =
      dfx.select(c).schema.head.dataType
    def isArray(dfx: DataFrame, c: Column) =
      membership && typeOf(dfx, c).isInstanceOf[ArrayType]
    def keyType(dfx: DataFrame, c: Column) = typeOf(dfx, c) match {
      case ArrayType(e, _) if membership => e
      case t => t
    }
    val collation = QueryCompiler.activeCollation.value
    val folds: Seq[Column => Column] = keys.map { case (ok, fk) =>
      collation.filter(_ => keyType(df, ok) == StringType &&
          keyType(from, fk) == StringType)
        .map(sp => (c: Column) => sp.key(c)).getOrElse((c: Column) => c)
    }
    // fold each array element BEFORE the distinct: two binary-distinct
    // but collation-EQUAL elements ("Red"/"red") must collapse to one
    // key, or the matched doc would appear twice (Mongo: once per doc)
    def distinctKeys(arr: Column): Column =
      array_distinct(transform(arr, e => folds.head(e)))
    val localArray = isArray(df, keys.head._1)
    val foreignArray = isArray(from, keys.head._2)
    // an array foreignField: one key row per distinct element, so each
    // foreign doc lands in every key group it belongs to
    val right = processed.select(keyCols.zip(folds).map { case (k, f) =>
      (if (foreignArray) explode(distinctKeys(processed(k)))
       else f(processed(k))).as(k) } :+ elem.as(as): _*)
    def on(r: DataFrame): Column = keys.zip(keyCols).zip(folds)
      .map { case (((ok, _), k), f) => f(ok) === r(k) }.reduce(_ && _)

    // the correlated predicates, over one collected element
    def rebase(e: Any): Any = e match {
      case s: String if s.startsWith("$$") => s
      case s: String if s.startsWith("$") => "$$__lkdoc." + s.drop(1)
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
        .map { case (k, v) => k -> rebase(v) }
      case s: Seq[_] => s.map(rebase)
      case other => other
    }
    val letEnv = let.map { case (v, e) => v -> expr2col(e) }
    def admits(x: Column): Column = corr.map { st =>
      val r = x.getField(raw)
      expr2col(rebase(doc(st.head._2)("$expr")), letEnv ++
        Map("__lkdoc" -> r, "ROOT" -> r, "CURRENT" -> r))
    }.reduce(_ && _)
    def admitted(r: DataFrame, cond: Column): Column =
      if (corr.isEmpty) cond else cond && admits(r(as))
    def docOf(x: Column): Column = x.getField("__graft_lkdoc")
    def unwrapped(d: DataFrame): DataFrame =
      if (corr.isEmpty) d else d.withColumn(as, docOf(col(as)))

    def gather(d: DataFrame, by: Seq[String]): DataFrame =
      d.groupBy(by.map(col): _*).agg(collect_list(col(as)).as(as))
    def grouped: DataFrame = {
      val joined = if (localArray) {
        // The matched array per outer row: explode the outer row's
        // DISTINCT elements, equi-join, re-aggregate per row. The row
        // id fans out into a self-join (exploded side vs outer side).
        // monotonically_increasing_id is nondeterministic across
        // re-evaluations once an upstream shuffle makes partition order
        // unstable — the two sides could assign DIFFERENT ids to the
        // same logical row and rows would silently get the wrong
        // lookup array. Freeze the ids eagerly (same stance as
        // $graphLookup's __gid). sort_array gives a deterministic order
        // (Mongo specifies none); skewSalt does not apply here.
        val df2 = graft.ops.Checkpoints.truncate(
          df.withColumn("__rid", monotonically_increasing_id()))
        // when BOTH sides are arrays a foreign doc reachable through two
        // shared elements matches twice — dedup by value then (Mongo
        // returns each matching doc once; full-duplicate foreign docs
        // collapsing under value identity is the documented columnar
        // stance — there is no row identity to distinguish them)
        val matched = gather(df2
          .select(col("__rid"), explode(distinctKeys(keys.head._1)).as("__el"))
          .join(right, col("__el") === right(keyCols.head)), Seq("__rid"))
          .withColumn(as, sort_array(
            if (foreignArray) array_distinct(col(as)) else col(as)))
        df2.join(matched, Seq("__rid"), "left_outer").drop("__rid")
      } else {
        val g = gather(right, keyCols)
        // spark.graft.skewSalt opt-in (> 1): a hot outer key would land
        // every matching outer row on ONE join task (the grouped right
        // side is one row per key). Salting scatters outer rows over
        // `salt` buckets and replicates the matching right row per
        // bucket (Skew.saltedJoin shape) — complements AQE's runtime
        // skew splitting for the known-hot-key case.
        // "auto" = let the engine decide: with AQE skew-join on, the
        // runtime split handles the hot key better than static salting
        // in every measured configuration (ScaleProbe saltlookup, 40M
        // rows 90% hot: 4.9 s unsalted+AQE vs 6.9 s hand-salt 8 vs
        // 10.5 s always-salt-auto — replication overhead exceeds the
        // spread gain), so auto defers. Only when AQE is disabled does
        // the sketch (Skew.autoSalt) size a static salt — there a
        // cluster-scale hot task has no other spread.
        val conf = df.sparkSession.conf
        val saltN = conf.getOption("spark.graft.skewSalt") match {
          case Some("auto") =>
            val aqeSkew =
              conf.get("spark.sql.adaptive.enabled", "true").toBoolean &&
              conf.get("spark.sql.adaptive.skewJoin.enabled", "true").toBoolean
            if (aqeSkew) 0 else graft.ops.Skew.autoSalt(df, keys.head._1)
          case Some(s) => s.toInt
          case None => 0
        }
        if (saltN > 1) {
          // deterministic per-row salt (hash of the full payload, not
          // monotonically_increasing_id) so task retries re-salt
          // identically
          val sl = df.withColumn("__sl",
            graft.ops.Skew.deterministicSalt(df, saltN))
          val sr = g.withColumn("__sr",
            explode(sequence(lit(0), lit(saltN - 1))))
          sl.join(sr, on(sr) && sl("__sl") === sr("__sr"), "left_outer")
            .drop(keyCols :+ "__sl" :+ "__sr": _*)
        } else df.join(g, on(g), "left_outer").drop(keyCols: _*)
      }
      val all = joined.withColumn(as, coalesce(col(as), array()))
      if (corr.isEmpty) all
      else all.withColumn(as, transform(filter(col(as), admits(_)), docOf(_)))
    }

    shape match {
      case Grouped => grouped
      case Unwound(false) if localArray && !foreignArray =>
        // one output row per (outer row, matched foreign doc): explode
        // the DISTINCT elements straight into the equi-join, no regroup
        // (with an array foreignField too this would double-count a doc
        // reachable through two shared elements — grouped path)
        unwrapped(df
          .select(col("*"), explode(distinctKeys(keys.head._1)).as("__el"))
          .join(right, admitted(right, col("__el") === right(keyCols.head)))
          .drop(keyCols :+ "__el": _*))
      case Unwound(preserve) if localArray =>
        // grouped (dedups multi-element matches), then unwind: a naive
        // exploded left join would fabricate a null row PER unmatched
        // element in the preserving case
        grouped.withColumn(as,
          if (preserve) explode_outer(col(as)) else explode(col(as)))
      case Unwound(preserve) =>
        unwrapped(df.join(right, admitted(right, on(right)),
          if (preserve) "left_outer" else "inner").drop(keyCols: _*))
    }
  }

  /** `$graphLookup` — recursive graph traversal. Spark-first shape: BFS as
    * an iterated equi-join (one join + one dedup anti-join per generation,
    * a checkpoint truncating lineage each step — the same pattern as
    * `Dedup.duplicateClusters`; set `spark.graft.checkpointDir` for
    * RELIABLE checkpoints on a cluster, see `Checkpoints.truncate`).
    * Iteration count = traversal depth, NOT data size; all work
    * per generation is distributed equi-joins, never a driver-side walk.
    * Supported subset: scalar `connectFromField`/`connectToField` (array
    * `startWith` values explode). `depthField` and
    * `restrictSearchWithMatch` (query-doc filter on traversable docs,
    * pushed into the from-side scan) are supported. */
  private def graphLookup(df: DataFrame, d: Map[String, Any],
      tables: TableResolver): DataFrame = {
    // restrictSearchWithMatch: candidate docs must satisfy the query doc
    // to be traversed at all — applied ONCE to the from-side scan (the
    // predicate pushes into the parquet read), not per generation
    val from = d.get("restrictSearchWithMatch").map(doc) match {
      case Some(q) => tables(d("from").toString)
        .where(graft.query.QueryCompiler.compile(q))
      case None => tables(d("from").toString)
    }
    val as = d("as").toString
    val cf = d("connectFromField").toString
    val ct = d("connectToField").toString
    val maxDepth = d.get("maxDepth").map(int).getOrElse(Int.MaxValue)
    val depthField = d.get("depthField").map(_.toString)
    // synthetic row identity for the outer side, frozen by an eager
    // checkpoint so ids stay stable across the iterated jobs
    val withId = graft.ops.Checkpoints.truncate(
      df.withColumn("__gid", monotonically_increasing_id()))
    val startCol = expr2col(d("startWith"))
    val startType = df.select(startCol).schema.head.dataType
    val startIsArray =
      startType.isInstanceOf[org.apache.spark.sql.types.ArrayType]
    var frontier = withId.select(col("__gid"),
      (if (startIsArray) explode(startCol) else startCol).as("__to"))
      .where(col("__to").isNotNull).distinct()
    val docStruct = struct(from.columns.map(from(_)).toSeq: _*)
    // aggregate-level collation applies to the traversal EQUALITY
    // (connectToField vs startWith/connectFromField) when every key
    // side is a string — fold both sides of the join; frontier values
    // and stored docs stay RAW (the fold is comparison-only)
    val gFold = graft.query.QueryCompiler.activeCollation.value
      .filter { _ =>
        val startElem = startType match {
          case org.apache.spark.sql.types.ArrayType(e, _) => e
          case x => x
        }
        stringTyped(from, from(ct)) && stringTyped(from, from(cf)) &&
          startElem == org.apache.spark.sql.types.StringType
      }
    def gk(c: Column): Column = gFold.map(_.key(c)).getOrElse(c)
    // doc identity for the visited-set dedup: hash of the full document
    val fromKeyed = from.select(col(ct).as("__ct"), col(cf).as("__cf"),
      docStruct.as("__doc"), md5(to_json(docStruct)).as("__dochash"))
    var visited = df.sparkSession.emptyDataFrame
    var haveVisited = false
    var depth = 0
    var done = false
    while (!done && depth <= maxDepth) {
      // dedup per (outer row, doc identity) WITHIN the generation: two
      // collation-equal frontier variants ("A"/"a") both survive the
      // raw-value frontier distinct and would each match the same
      // from-doc — the visited anti-join only filters against PRIOR
      // generations. (Value identity is the documented columnar stance,
      // same as the $lookup array-side dedup.)
      val matched = fromKeyed.join(frontier,
          gk(fromKeyed("__ct")) === gk(frontier("__to")))
        .select(col("__gid"), col("__doc"), col("__dochash"), col("__cf"),
          lit(depth).as("__depth"))
        .dropDuplicates("__gid", "__dochash")
      val newRows = (if (haveVisited)
          matched.join(visited.select(col("__gid").as("__vgid"),
              col("__dochash").as("__vhash")),
            matched("__gid") === col("__vgid") &&
              matched("__dochash") === col("__vhash"), "left_anti")
        else matched)
      val newCp = graft.ops.Checkpoints.truncate(newRows)
      if (newCp.isEmpty) done = true
      else {
        visited = if (haveVisited) visited.unionByName(newCp)
          else newCp
        haveVisited = true
        frontier = newCp.select(col("__gid"), col("__cf").as("__to"))
          .where(col("__to").isNotNull).distinct()
        depth += 1
      }
    }
    if (!haveVisited)
      return withId.withColumn(as, array()).drop("__gid")
    val perDoc = depthField match {
      case Some(f) => struct(col("__doc.*"), col("__depth").as(f))
      case None => col("__doc")
    }
    val grouped = visited
      .select(col("__gid").as("__vgid"), perDoc.as("__node"))
      .groupBy(col("__vgid"))
      .agg(collect_list(col("__node")).as(as))
    withId.join(grouped, col("__gid") === col("__vgid"), "left_outer")
      .drop("__gid", "__vgid")
      .withColumn(as, coalesce(col(as), array()))
  }

  /** `$setWindowFields` — Mongo window functions, compiled straight onto
    * Spark's `Window` (partitionBy/orderBy + frame). Aggregations stay
    * whole-stage-codegen'd; one shuffle on the partition key. Supported
    * output operators: `$sum/$avg/$min/$max/$count/$push/$first/$last/
    * $firstN/$lastN`, `$rank/$denseRank/$documentNumber`, `$shift`. Window
    * frames: `documents: [lo, hi]` with "unbounded"/"current"/ints. */
  /** Shared by `$fill method:linear` and `$setWindowFields $linearFill`:
    * interpolate nulls between the surrounding known values proportional
    * to the sortBy key distance. nk === pk (repeated sort keys around the
    * gap — a Mongo error for linear fills) degrades to the previous known
    * value instead of a silent divide-by-zero null; leading/trailing
    * nulls stay null. Columnar divergence: the output column is uniformly
    * double, where Mongo keeps original types on rows that had values. */
  private def linearInterp(
      base: org.apache.spark.sql.expressions.WindowSpec,
      key: Column, v: Column): Column = {
    val W = org.apache.spark.sql.expressions.Window
    val wPrev = base.rowsBetween(W.unboundedPreceding, W.currentRow)
    val wNext = base.rowsBetween(W.currentRow, W.unboundedFollowing)
    val pv = last(v, ignoreNulls = true).over(wPrev)
    val pk = last(when(v.isNotNull, key), ignoreNulls = true).over(wPrev)
    val nv = first(v, ignoreNulls = true).over(wNext)
    val nk = first(when(v.isNotNull, key), ignoreNulls = true).over(wNext)
    when(v.isNotNull, v)
      .when(pv.isNull || nv.isNull, lit(null))
      .when(nk === pk, pv)
      .otherwise(pv + (nv - pv) * (key - pk) / (nk - pk))
  }

  /** `$densify` calendar step: month/quarter/year become a year-month
    * interval (real calendar arithmetic — variable month lengths handled
    * by Spark's `sequence`); fixed-length units become a day-time
    * interval. */
  private def densifyStepInterval(step: Long, unit: String): Column =
    unit match {
      case "year" => expr(s"INTERVAL '$step' YEAR")
      case "quarter" => expr(s"INTERVAL '${step * 3}' MONTH")
      case "month" => expr(s"INTERVAL '$step' MONTH")
      case "week" => expr(s"INTERVAL '${step * 7}' DAY")
      case "day" => expr(s"INTERVAL '$step' DAY")
      case "hour" => expr(s"INTERVAL '$step' HOUR")
      case "minute" => expr(s"INTERVAL '$step' MINUTE")
      case "second" => expr(s"INTERVAL '$step' SECOND")
      case "millisecond" => expr(
        s"INTERVAL '${(BigDecimal(step) / 1000).bigDecimal.toPlainString}'" +
          " SECOND")
      case other =>
        throw new IllegalArgumentException(s"$$densify unit: $other")
    }

  /** A `$densify` date bound literal: ISO string, or a JVM date/time. */
  private def densifyBoundTs(v: Any): Column = v match {
    case s: String => to_timestamp(lit(s))
    case t: java.sql.Timestamp => lit(t)
    case d: java.sql.Date => lit(d).cast("timestamp")
    case i: java.time.Instant => lit(i)
    case d: java.time.LocalDate => lit(d).cast("timestamp")
    case other =>
      throw new IllegalArgumentException(s"$$densify date bound: $other")
  }

  /** `$derivative`/`$integral` sortBy key as a double: a `unit` rescales a
    * timestamp key into that fixed-length unit (calendar units have no
    * fixed length and are rejected, as in `$dateAdd`). */
  private def derivKey(key: Column, unit: Option[Any]): Column = unit match {
    case Some(u) =>
      val micros = Map("millisecond" -> 1000L, "second" -> 1000000L,
        "minute" -> 60000000L, "hour" -> 3600000000L,
        "day" -> 86400000000L, "week" -> 604800000000L)
      val m = micros.getOrElse(u.toString,
        throw new IllegalArgumentException(
          s"window unit: $u (fixed-length units only)"))
      unix_micros(key).cast("double") / m.toDouble
    case None => key.cast("double")
  }

  private def setWindowFields(df: DataFrame, d: Map[String, Any]): DataFrame = {
    import org.apache.spark.sql.expressions.{Window, WindowSpec}
    // aggregate-level collation applies to the PARTITION equality too
    // (Mongo runs the whole pipeline under the collation); the folded
    // key is internal — output fields are untouched
    val partCols = d.get("partitionBy").toSeq.map(expr2col)
      .map(c => collFold(df, c).getOrElse(c))
    if (partCols.isEmpty)
      scaleGuard(df, "$setWindowFields without partitionBy compiles to a " +
        "single-partition global window (correct Mongo semantics, but " +
        "serializes at scale) — add partitionBy to distribute")
    val sortFields: Seq[(String, Boolean)] = d.get("sortBy").map { s =>
      doc(s).toSeq.map {
        case (k, 1) => (k, true)
        case (k, -1) => (k, false)
        case (k, v) => throw new IllegalArgumentException(
          s"$$setWindowFields sortBy $k: $v")
      }
    }.getOrElse(Nil)
    // string sortBy keys fold under the aggregate collation too (the
    // same rule as pipeline $sort — ordering only, output untouched)
    val sortKeys: Seq[Column] = sortFields.map {
      case (k, true) => collFold(df, col(k)).getOrElse(col(k)).asc
      case (k, false) => collFold(df, col(k)).getOrElse(col(k)).desc
    }
    def base: WindowSpec = {
      val p = if (partCols.nonEmpty) Window.partitionBy(partCols: _*)
        else Window.partitionBy()
      if (sortKeys.nonEmpty) p.orderBy(sortKeys: _*) else p
    }
    def bound(v: Any, lo: Boolean): Long = v match {
      case "unbounded" =>
        if (lo) Window.unboundedPreceding else Window.unboundedFollowing
      case "current" => Window.currentRow
      case n: Number => n.longValue()
      case other =>
        throw new IllegalArgumentException(s"window bound: $other")
    }
    val outputs = doc(d("output")).toSeq
    outputs.foldLeft(df) { case (acc, (field, spec0)) =>
      val m = doc(spec0)
      val winDoc = m.get("window").map(doc)
      require(winDoc.forall(w =>
        !(w.contains("documents") && w.contains("range"))),
        "window: give documents OR range, not both (Mongo rejects two " +
          "frame specifications)")
      val framed: WindowSpec =
        (winDoc.flatMap(_.get("documents")),
          winDoc.flatMap(_.get("range"))) match {
          case (Some(s: Seq[_]), _) =>
            base.rowsBetween(bound(s.head, lo = true),
              bound(s(1), lo = false))
          case (None, Some(s: Seq[_])) =>
            def rbNum(v: Any): Option[Long] = v match {
              case n: Number =>
                // rangeBetween takes Long offsets; silently truncating a
                // fractional bound would change the frame — reject it
                require(n.doubleValue() == n.longValue(),
                  s"window.range bound $n: integral offsets only " +
                    "(rescale the sortBy key for fractional ranges)")
                Some(n.longValue())
              case _ => None
            }
            winDoc.flatMap(_.get("unit")) match {
              case Some(u) =>
                // Date-keyed range frame: order by the key's epoch-micros
                // and scale the offsets into micros — exact for the
                // fixed-length units (Mongo's $derivative rule). Calendar
                // units would need per-row calendar offsets, which a
                // Spark range frame cannot express — rejected.
                val micros = Map("millisecond" -> 1000L,
                  "second" -> 1000000L, "minute" -> 60000000L,
                  "hour" -> 3600000000L, "day" -> 86400000000L,
                  "week" -> 604800000000L)
                val m = micros.getOrElse(u.toString,
                  throw new IllegalArgumentException(
                    s"window.range unit: $u (fixed-length units only — " +
                      "calendar units cannot map to a per-row range " +
                      "offset)"))
                require(sortFields.size == 1 && sortFields.head._2,
                  "window.range with unit: single ascending sortBy " +
                    "date/timestamp key required")
                val p = if (partCols.nonEmpty)
                  Window.partitionBy(partCols: _*) else Window.partitionBy()
                val keyed = p.orderBy(
                  unix_micros(col(sortFields.head._1).cast("timestamp")).asc)
                def rbU(v: Any, lo: Boolean): Long =
                  rbNum(v).map(n => Math.multiplyExact(n, m))
                    .getOrElse(bound(v, lo))
                keyed.rangeBetween(rbU(s.head, lo = true),
                  rbU(s(1), lo = false))
              case None =>
                // value-based frame over the (single, NUMERIC) sortBy
                // key — Spark rangeBetween takes offsets in the key's
                // own scale
                def rb(v: Any, lo: Boolean): Long =
                  rbNum(v).getOrElse(bound(v, lo))
                base.rangeBetween(rb(s.head, lo = true),
                  rb(s(1), lo = false))
            }
          case (None, None) => base
          case (_, other) =>
            throw new IllegalArgumentException(s"window: $other")
        }
      val (op, arg) = (m - "window").head
      val colExpr = op match {
        case "$sum" => sum(expr2col(arg)).over(framed)
        case "$avg" => avg(expr2col(arg)).over(framed)
        case "$min" => min(expr2col(arg)).over(framed)
        case "$max" => max(expr2col(arg)).over(framed)
        case "$count" => count(lit(1)).over(framed)
        case "$push" => collect_list(expr2col(arg)).over(framed)
        case "$first" => first(expr2col(arg)).over(framed)
        case "$last" => last(expr2col(arg)).over(framed)
        case "$firstN" | "$lastN" => // ordered => deterministic, unlike the
          // document-order $group accumulators (intentionally unsupported)
          val fn = doc(arg)
          val n = int(fn("n"))
          val in = collect_list(expr2col(fn("input"))).over(framed)
          if (op == "$firstN") slice(in, 1, n)
          else { // last n in window order
            val sz = size(in)
            slice(in, greatest(sz - (n - 1), lit(1)), lit(n))
          }
        case "$stdDevPop" => stddev_pop(expr2col(arg)).over(framed)
        case "$stdDevSamp" => stddev_samp(expr2col(arg)).over(framed)
        case "$addToSet" => collect_set(expr2col(arg)).over(framed)
        case "$covariancePop" | "$covarianceSamp" =>
          val Seq(x, y) = arg match {
            case s: Seq[_] => s.map(expr2col)
            case other => throw new IllegalArgumentException(
              s"$op needs [x, y]: $other")
          }
          (if (op == "$covariancePop") covar_pop(x, y)
           else covar_samp(x, y)).over(framed)
        case "$median" | "$percentile" =>
          // Mongo and Spark agree: rank statistics only over the WHOLE
          // partition ($median/$percentile reject bounded windows; Spark
          // rejects ORDER BY/frames on median/percentile_approx)
          winDoc.flatMap(w => w.get("documents").orElse(w.get("range")))
            .foreach {
              case s: Seq[_]
                  if s == Seq("unbounded", "unbounded") => ()
              case other => throw new IllegalArgumentException(
                s"$op: only [\"unbounded\", \"unbounded\"] windows: $other")
            }
          val partOnly =
            if (partCols.nonEmpty) Window.partitionBy(partCols: _*)
            else Window.partitionBy()
          if (op == "$median") {
            // Mongo's mandated shape is {input: <expr>, method: ...}
            // (method ignored, as for $percentile); the bare-expression
            // form is kept as a convenience
            val in = arg match {
              case m: Map[_, _] if doc(m).contains("input") =>
                doc(m)("input")
              case other => other
            }
            median(expr2col(in)).over(partOnly)
          } else {
            val pd = doc(arg)
            val ps = pd("p") match {
              case s: Seq[_] => s.map(_.asInstanceOf[Number].doubleValue())
              case other => throw new IllegalArgumentException(
                s"$$percentile p: $other")
            }
            percentile_approx(expr2col(pd("input")),
              array(ps.map(lit): _*), lit(10000)).over(partOnly)
          }
        case "$minN" | "$maxN" =>
          val fn = doc(arg)
          val n = int(fn("n"))
          val in = collect_list(expr2col(fn("input"))).over(framed)
          val sorted =
            if (op == "$minN") array_sort(in)
            else sort_array(in, asc = false)
          slice(sorted, 1, n)
        case "$minMaxScaler" =>
          // Mongo 8.1: scale `input` into [min, max] (default [0, 1])
          // using the frame's observed extrema — two frame aggregates in
          // ONE window pass, no extra exchange (same spec as min/max).
          // A zero-span frame (all values equal, or a single row) maps to
          // the lower bound, matching the server.
          val dd = doc(arg)
          def bound(k: String, dflt: Double): Column =
            lit(dd.get(k).map(_.asInstanceOf[Number].doubleValue())
              .getOrElse(dflt))
          val (lo, hi) = (bound("min", 0.0), bound("max", 1.0))
          val v = expr2col(dd("input")).cast("double")
          val mn = min(v).over(framed)
          val span = max(v).over(framed) - mn
          when(span === 0, lo)
            .otherwise((v - mn) / span * (hi - lo) + lo)
        case "$rank" => rank().over(base)
        case "$denseRank" => dense_rank().over(base)
        case "$documentNumber" => row_number().over(base)
        case "$locf" => // last-observation-carried-forward up to this row
          require(sortKeys.nonEmpty,
            "$locf requires sortBy (unordered carry-forward is undefined)")
          last(expr2col(arg), ignoreNulls = true)
            .over(base.rowsBetween(Window.unboundedPreceding,
              Window.currentRow))
        case "$linearFill" =>
          // same interpolation plan as $fill method:linear (shared
          // linearInterp helper)
          val sortFields = d.get("sortBy").map(doc(_).keys.toSeq)
            .getOrElse(Nil)
          require(sortFields.size == 1,
            "$linearFill needs exactly one sortBy field")
          linearInterp(base, col(sortFields.head).cast("double"),
            expr2col(arg).cast("double"))
        case "$derivative" =>
          // (Δ input) / (Δ sortBy key) across the window frame; `unit`
          // rescales a timestamp key to the given fixed-length unit
          val dd = doc(arg)
          val sortFields = d.get("sortBy").map(doc(_).keys.toSeq)
            .getOrElse(Nil)
          require(sortFields.size == 1,
            "$derivative needs exactly one sortBy field")
          val key = derivKey(col(sortFields.head), dd.get("unit"))
          val v = expr2col(dd("input")).cast("double")
          // single-point windows have zero key-span: null, not an ANSI
          // divide-by-zero error (Mongo yields null there too)
          val kd = last(key).over(framed) - first(key).over(framed)
          (last(v).over(framed) - first(v).over(framed)) /
            when(kd === 0, lit(null)).otherwise(kd)
        case "$integral" =>
          // trapezoid rule: each row carries the area of the segment to
          // its previous row (lag, 0 at the partition edge), summed over
          // the frame — one window pass, no self-join. Correct when the
          // frame's lower bound is the partition start (the first in-frame
          // row's incoming segment must lie outside), so bounded lower
          // document-frames are rejected rather than silently wrong.
          // the same trapezoid-crosses-the-lower-bound flaw applies to
          // BOTH frame kinds — reject any bounded lower bound
          Seq("documents", "range")
            .flatMap(k => winDoc.flatMap(_.get(k))).foreach {
              case s: Seq[_] if s.head != "unbounded" =>
                throw new IllegalArgumentException(
                  "$integral: only windows starting at 'unbounded' are " +
                    "supported (trapezoid segments cross the lower bound)")
              case _ => ()
            }
          val dd = doc(arg)
          val sortFields = d.get("sortBy").map(doc(_).keys.toSeq)
            .getOrElse(Nil)
          require(sortFields.size == 1,
            "$integral needs exactly one sortBy field")
          val key = derivKey(col(sortFields.head), dd.get("unit"))
          val v = expr2col(dd("input")).cast("double")
          val segment = (v + lag(v, 1).over(base)) / 2 *
            (key - lag(key, 1).over(base))
          sum(coalesce(segment, lit(0.0))).over(framed)
        case "$expMovingAvg" =>
          // EMA_0 = x_0; EMA_i = α·x_i + (1−α)·EMA_{i−1}. Native
          // running-frame window function (graft.functions.ExpMovingAvg):
          // Spark's window executor carries the previous EMA in the agg
          // buffer and updates it once per row — O(|partition|) total,
          // O(1) state, no per-row prefix materialization (the previous
          // collect_list+aggregate fold was O(|partition|²)).
          val dd = doc(arg)
          val alpha = (dd.get("alpha"), dd.get("N")) match {
            case (Some(a), None) => a.asInstanceOf[Number].doubleValue()
            case (None, Some(n)) =>
              2.0 / (n.asInstanceOf[Number].doubleValue() + 1.0)
            case _ => throw new IllegalArgumentException(
              "$expMovingAvg needs exactly one of alpha | N")
          }
          require(sortKeys.nonEmpty, "$expMovingAvg requires sortBy")
          // hand-built catalyst WindowExpression: Column.over()'s
          // column-node conversion mis-shapes a custom
          // AggregateWindowFunction (analysis fails with
          // WINDOW_FUNCTION_WITHOUT_OVER_CLAUSE); constructing the
          // WindowExpression + spec directly is the supported seam
          import org.apache.spark.sql.catalyst.expressions.{
            Ascending, CurrentRow, Descending, RowFrame, SortOrder,
            SpecifiedWindowFrame, UnboundedPreceding,
            WindowExpression, WindowSpecDefinition}
          val bridge = org.apache.spark.sql.graftbridge.ColumnBridge
          val v = expr2col(dd("input")).cast("double")
          // SortOrders built from the raw (field, asc) pairs — converting
          // an `.asc` Column yields a lazy wrapper, and re-wrapping it
          // nests SortOrder inside SortOrder (unevaluable at run time)
          val sortExprs = sortFields.map { case (k, asc) =>
            SortOrder(bridge.expression(col(k)),
              if (asc) Ascending else Descending)
          }
          bridge.column(WindowExpression(
            graft.functions.ExpMovingAvg(bridge.expression(v), alpha),
            WindowSpecDefinition(partCols.map(bridge.expression),
              sortExprs,
              SpecifiedWindowFrame(RowFrame, UnboundedPreceding,
                CurrentRow))))
        case "$shift" =>
          val sh = doc(arg)
          val by = sh.get("by").map(int).getOrElse(1)
          val out = expr2col(sh("output"))
          // lead/lag's own default fills ONLY out-of-partition positions
          // (Mongo $shift semantics) — a coalesce would also mask genuine
          // nulls inside the window
          val dflt = sh.get("default")
            .map(QueryCompiler.toScalaLit).orNull
          if (by >= 0) lead(out, by, dflt).over(base)
          else lag(out, -by, dflt).over(base)
        case other => throw new IllegalArgumentException(
          s"unsupported $$setWindowFields operator: $other")
      }
      setNested(acc, field, colExpr)
    }
  }

  /** Rewrite an include-style `$project` inside a lookup sub-pipeline to
    * also retain the synthesized join-key columns. */
  private def retainKeys(st: Map[String, Any],
      keys: Seq[String]): Map[String, Any] = st.head match {
    case ("$project", spec) =>
      val fields = doc(spec)
      val isInclude = fields.exists { case (_, v) => v != 0 && v != false }
      if (isInclude) Map("$project" -> (fields ++ keys.map(_ -> 1)))
      else st
    case _ => st
  }

  /** `$merge` sink spec — Mongo's merge-into-collection final stage.
    * Full mode matrix: `whenMatched` replace|keepExisting|merge|fail ×
    * `whenNotMatched` insert|discard|fail (the reference passes pipelines
    * through opaquely; db/wrapper.go:88-94). `merge` is field-wise with
    * the columnar reading of "present": every column in the pipeline
    * result schema overwrites (nulls included); target-only columns are
    * kept. */
  final case class MergeSpec(into: String, on: Seq[String],
      whenMatched: String = "replace", whenNotMatched: String = "insert",
      whenMatchedPipeline: Option[Seq[Map[String, Any]]] = None,
      let: Option[Map[String, Any]] = None) {
    require(on.nonEmpty, "$merge: empty on")
    require(Set("replace", "keepExisting", "merge", "fail",
        "pipeline")(whenMatched),
      s"$$merge whenMatched: $whenMatched")
    require((whenMatched == "pipeline") == whenMatchedPipeline.isDefined,
      "$merge: whenMatchedPipeline set iff whenMatched == pipeline")
    require(let.isEmpty || whenMatched == "pipeline",
      "$merge: let requires the whenMatched pipeline form (Mongo rule)")
    require(Set("insert", "discard", "fail")(whenNotMatched),
      s"$$merge whenNotMatched: $whenNotMatched")
  }

  /** `$merge` whenMatched UPDATE-PIPELINE form: each stage transforms the
    * matched pair, where the input document is the EXISTING target doc
    * (its columns are top-level; `$$ROOT`/`$$CURRENT` bind to it) and
    * `$$new` binds to the incoming pipeline-result doc (passed as the
    * struct column `newStruct`, dropped from the output). Mongo restricts
    * these pipelines to `$addFields/$set`, `$project/$unset`,
    * `$replaceRoot/$replaceWith` — enforced here. Pure per-row projections:
    * no shuffle, stays inside whole-stage codegen. */
  def applyMergeUpdatePipeline(df0: DataFrame,
      stages: Seq[Map[String, Any]], newStruct: String,
      letStruct: Option[(String, Seq[String])] = None): DataFrame = {
    val letCol = letStruct.map(_._1)
    val out = stages.foldLeft(df0) { (df, st) =>
      require(st.size == 1, s"pipeline stage must have exactly one key: $st")
      val (name, spec) = st.head
      val docCols = df.columns
        .filterNot(c => c == newStruct || letCol.contains(c)).toSeq
      val env = {
        val root = struct(docCols.map(col): _*)
        // Mongo: an explicit `let` REPLACES the default {new: "$$ROOT"}
        // binding — its variables (evaluated against the INCOMING doc at
        // the call site) arrive packed in `letStruct`
        val vars = letStruct match {
          case Some((c, names)) =>
            names.map(n => n -> col(c).getField(n)).toMap
          case None => Map("new" -> col(newStruct))
        }
        vars ++ Map("ROOT" -> root, "CURRENT" -> root)
      }
      name match {
        case "$set" | "$addFields" =>
          doc(spec).foldLeft(df) { case (d, (as, e)) =>
            setNested(d, as, expr2col(e, env)) }
        case "$unset" =>
          val paths = spec match {
            case s: String => Seq(s)
            case s: Seq[_] => s.map(_.toString)
            case other =>
              throw new IllegalArgumentException(s"$$unset: $other")
          }
          paths.foldLeft(df) { (d, p) =>
            if (p.contains('.')) {
              val top = p.takeWhile(_ != '.')
              if (!d.columns.contains(top)) d
              else d.withColumn(top,
                col(top).dropFields(p.drop(top.length + 1)))
            } else d.drop(p)
          }
        case "$project" =>
          val fields = doc(spec)
          val (includes, excludes) = fields.partition { case (_, v) =>
            v != 0 && v != false }
          if (includes.isEmpty) df.drop(excludes.keys.toSeq: _*)
          else {
            val cols = includes.toSeq.map {
              case (as, 1) => col(as).as(as)
              case (as, true) => col(as).as(as)
              case (as, e) => expr2col(e, env).as(as)
            }
            df.select(cols ++ (col(newStruct) +: letCol.map(col).toSeq): _*)
          }
        case "$replaceRoot" | "$replaceWith" =>
          val e = if (name == "$replaceRoot") doc(spec)("newRoot") else spec
          val tmp = "__graft_merge_root"
          val keep = col(newStruct) +: letCol.map(col).toSeq
          df.select(expr2col(e, env).as(tmp) +: keep: _*)
            .select(col(tmp + ".*") +: keep: _*)
        case other => throw new IllegalArgumentException(
          s"$$merge whenMatched pipeline: unsupported stage $other (Mongo " +
            "allows $addFields/$set, $project/$unset, " +
            "$replaceRoot/$replaceWith)")
      }
    }
    out.drop(newStruct +: letCol.toSeq: _*)
  }

  /** Split a trailing `{$out: "coll"}` off a pipeline — `$out` REPLACES
    * the target collection with the pipeline result (Mongo semantics),
    * unlike `$merge`'s keyed upsert. */
  /** Target of a trailing `$out`: collection plus the optional `db` of the
    * doc form `{$out: {db, coll}}` (None = the source collection's db). */
  final case class OutTarget(db: Option[String], coll: String)

  def splitOut(pipeline: Seq[Map[String, Any]])
      : (Seq[Map[String, Any]], Option[OutTarget]) =
    pipeline.lastOption match {
      case Some(st) if st.keySet == Set("$out") =>
        val target = st("$out") match {
          case s: String => OutTarget(None, s)
          case m: Map[_, _] =>
            val d = doc(m)
            require(d.keySet.subsetOf(Set("db", "coll")),
              s"$$out doc form takes db/coll only: $d")
            OutTarget(d.get("db").map(_.toString), d("coll").toString)
          case other => throw new IllegalArgumentException(s"$$out: $other")
        }
        (pipeline.init, Some(target))
      case _ => (pipeline, None)
    }

  /** Split a trailing `$merge` off a pipeline (it must be last, as in
    * Mongo). Returns the transform stages and the parsed sink spec. */
  def splitMerge(pipeline: Seq[Map[String, Any]])
      : (Seq[Map[String, Any]], Option[MergeSpec]) =
    pipeline.lastOption match {
      case Some(st) if st.keySet == Set("$merge") =>
        require(!pipeline.init.exists(_.contains("$merge")),
          "$merge must be the final stage")
        // $merge's on-key match under a collation is ambiguous state
        // mutation (WHICH case-variant of the key survives an upsert?)
        // — reject loudly rather than matching silently case-sensitive
        // while the rest of the pipeline folds
        require(graft.query.QueryCompiler.activeCollation.value.isEmpty,
          "$merge under an aggregate collation is not supported — the " +
            "on-key match would need a canonical key representative " +
            "for the stored table; normalize the key column (e.g. " +
            "$toLower) before $merge instead")
        val d = doc(st("$merge"))
        // whenMatched is either a keyword or an UPDATE PIPELINE (Mongo:
        // a list of $addFields/$set/$project/$unset/$replaceRoot stages
        // evaluated per matched pair with $$new bound to the incoming doc)
        val (wm, wmPipe) = d.getOrElse("whenMatched", "replace") match {
          case stages: Seq[_] => ("pipeline", Some(pipelineSeq(stages)))
          case s => (s.toString, None)
        }
        val spec = MergeSpec(
          into = d("into").toString,
          on = d.getOrElse("on", "_id") match {
            case s: Seq[_] => s.map(_.toString)
            case s => Seq(s.toString)
          },
          whenMatched = wm,
          whenNotMatched = d.getOrElse("whenNotMatched", "insert").toString,
          whenMatchedPipeline = wmPipe,
          let = d.get("let").map(doc))
        (pipeline.init, Some(spec))
      case _ => (pipeline, None)
    }

  private[pipeline] def pipelineSeq(v: Any): Seq[Map[String, Any]] = v match {
    case s: Seq[_] => s.map(doc)
    case other =>
      throw new IllegalArgumentException(s"expected pipeline: $other")
  }

  /** True when `c` resolves to a STRING column of `df` — the gate every
    * aggregate-level collation fold shares ($match delegates to
    * QueryCompiler; $sort/$group/$sortByCount/$lookup use this). */
  private def stringTyped(df: DataFrame, c: Column): Boolean =
    try df.select(c).schema.head.dataType ==
      org.apache.spark.sql.types.StringType
    catch { case _: org.apache.spark.sql.AnalysisException => false }

  /** The active aggregate-level collation's key fold for `c`, when the
    * collation applies (string-typed column); None otherwise. */
  private def collFold(df: DataFrame, c: Column): Option[Column] =
    graft.query.QueryCompiler.activeCollation.value
      .filter(_ => stringTyped(df, c)).map(_.key(c))

  private[pipeline] def doc(v: Any): Map[String, Any] = v match {
    case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
    case other => throw new IllegalArgumentException(s"expected document: $other")
  }

  private[pipeline] def int(v: Any): Int = v match {
    case n: Number => n.intValue()
    case other => throw new IllegalArgumentException(s"expected int: $other")
  }

  /** A numeric spec value; `what` leads the error for anything else. */
  private[pipeline] def dbl(v: Any, what: String): Double = v match {
    case n: Number => n.doubleValue()
    case other => throw new IllegalArgumentException(s"$what, got $other")
  }

  /** Mongo regex `options` ("imsx") → Java inline-flag prefix: the same
    * letters mean the same flags in java.util.regex, so `(?i)pat` etc. */
  private def regexWithOpts(mm: Map[String, Any]): String = {
    val pat = mm("regex").toString
    mm.get("options").map(_.toString).filter(_.nonEmpty) match {
      case None => pat
      case Some(opts) =>
        require(opts.forall("imsx".contains(_)),
          s"regex options: $opts (supported: imsx)")
        s"(?$opts)$pat"
    }
  }

  /** Mongo `%Y-%m-%d`-style date format -> Java datetime pattern
    * (shared by `$dateToString` and `$dateFromString`). Literal text is
    * single-quoted — a bare `T` in `%Y-%m-%dT%H:%M:%S` is a pattern
    * LETTER to java.time and would mangle the ISO-8601 shapes Mongo
    * users write. `%%` is a literal percent. */
  private def mongoDateFmt(f: String): String = {
    val directives = Map('Y' -> "yyyy", 'm' -> "MM", 'd' -> "dd",
      'H' -> "HH", 'M' -> "mm", 'S' -> "ss", 'L' -> "SSS", 'j' -> "DDD")
    val out = new StringBuilder
    val lit = new StringBuilder
    def flushLit(): Unit = if (lit.nonEmpty) {
      out.append('\'').append(lit.toString.replace("'", "''")).append('\'')
      lit.clear()
    }
    var i = 0
    while (i < f.length) {
      if (f(i) == '%' && i + 1 < f.length) {
        val c = f(i + 1)
        if (c == '%') lit.append('%')
        else directives.get(c) match {
          case Some(p) => flushLit(); out.append(p)
          case None => throw new IllegalArgumentException(
            s"unsupported date format specifier %$c")
        }
        i += 2
      } else { lit.append(f(i)); i += 1 }
    }
    flushLit()
    out.toString
  }

  /** Group accumulators: {$sum: expr} etc. */
  private def accumulator(acc: Map[String, Any],
      env: Map[String, Column] = Map.empty): Column = {
    require(acc.size == 1, s"accumulator must have one key: $acc")
    val (op, e) = acc.head
    def expr2col(x: Any): Column =
      PipelineCompiler.expr2col(x, env) // shadow: accumulator args see env
    op match {
      case "$sum" => e match {
        case n: Number if n.doubleValue() == 1.0 => count(lit(1))
        case _ => sum(expr2col(e))
      }
      case "$avg"      => avg(expr2col(e))
      case "$min"      => min(expr2col(e))
      case "$max"      => max(expr2col(e))
      case "$first"    => first(expr2col(e), ignoreNulls = false)
      case "$last"     => last(expr2col(e), ignoreNulls = false)
      case "$push"     => collect_list(expr2col(e))
      case "$addToSet" => array_sort(array_distinct(collect_list(expr2col(e))))
      case "$count"    => count(lit(1))
      case "$stdDevPop"  => stddev_pop(expr2col(e))
      case "$stdDevSamp" => stddev_samp(expr2col(e))
      case "$covariancePop" =>
        val Seq(a, b) = seqOfExpr(e); covar_pop(a, b)
      case "$covarianceSamp" =>
        val Seq(a, b) = seqOfExpr(e); covar_samp(a, b)
      case "$bitAnd" => bit_and(expr2col(e))
      case "$bitOr"  => bit_or(expr2col(e))
      case "$bitXor" => bit_xor(expr2col(e))
      case "$median" => // exact (sort-based) — Mongo 7's t-digest is
        // approximate; exact is the stronger contract and DuckDB-checkable
        percentile(expr2col(doc(e)("input")), lit(0.5))
      case "$percentile" =>
        val mm = doc(e)
        val ps = mm("p") match {
          case s: Seq[_] => s.map(_.asInstanceOf[Number].doubleValue())
          case other =>
            throw new IllegalArgumentException(s"$$percentile p: $other")
        }
        percentile(expr2col(mm("input")),
          array(ps.map(lit): _*))
      case "$minN" =>
        val mm = doc(e)
        slice(array_sort(collect_list(expr2col(mm("input")))), 1,
          int(mm("n")))
      case "$maxN" =>
        val mm = doc(e)
        slice(reverse(array_sort(collect_list(expr2col(mm("input"))))), 1,
          int(mm("n")))
      case "$firstN" | "$lastN" =>
        // encounter-order prefixes/suffixes; like $first/$last/$push, the
        // encounter order is the upstream sort (deterministic only after
        // a $sort, Mongo's caveat too)
        val mm = doc(e)
        val arr = collect_list(expr2col(mm("input")))
        val n = lit(int(mm("n")))
        if (op == "$firstN") slice(arr, lit(1), n)
        else slice(arr, greatest(size(arr) - n + 1, lit(1)),
          least(n, size(arr)))
      case "$top" => element_at(topOrdered(doc(e)), 1)
      case "$bottom" => element_at(topOrdered(doc(e)), -1)
      case "$topN" =>
        val mm = doc(e); slice(topOrdered(mm), 1, int(mm("n")))
      case "$bottomN" =>
        // Mongo: the LAST n in sortBy order, still in sortBy order
        val mm = doc(e)
        val n = int(mm("n"))
        val arr = topOrdered(mm)
        when(size(arr) <= n, arr).otherwise(slice(arr, -n, n))
      case "$accumulator" => throw new IllegalArgumentException(
        "$accumulator runs user JavaScript on the server; a distributed " +
          "engine can't ship JS to executors. Compose the built-in " +
          "accumulators ($sum/$push/$topN/...) or pre-aggregate with $project")
      case other =>
        throw new IllegalArgumentException(s"unsupported accumulator: $other")
    }
  }

  private def seqOfExpr(v: Any): Seq[Column] = v match {
    case s: Seq[_] => s.map(expr2col)
    case other =>
      throw new IllegalArgumentException(s"expected expression array: $other")
  }

  /** 3-arg `$slice` [array, position, n] with Mongo's position semantics:
    * non-negative positions skip from the start (past-the-end → empty);
    * negative positions start |pos| from the END, CLAMPED to the array
    * start when |pos| > length (Spark's own slice would return empty
    * there). Empty arrays short-circuit — Spark rejects a 0 start index. */
  private def slicePosN(a: Column, p: Column, n: Column): Column =
    when(p >= 0, slice(a, p + 1, n))
      .otherwise(when(size(a) === 0, a)
        .otherwise(slice(a, greatest(p, -size(a)), n)))

  /** Shared machinery for `$top/$topN/$bottom/$bottomN`: collect
    * (sortKey, output) pairs, sort by the key (struct field order makes
    * array_sort order by it first), project the outputs. Single sortBy key,
    * 1 or -1. Deterministic when the sort key is unique within the group. */
  private def topOrdered(mm: Map[String, Any]): Column = {
    val sortBy = doc(mm("sortBy")).toSeq
    require(sortBy.size == 1,
      "$top/$bottom accumulators support a single sortBy key")
    val (k, dir) = sortBy.head
    val arr = array_sort(collect_list(
      struct(col(k).as("__k"), expr2col(mm("output")).as("__v"))))
    val ordered = dir match {
      case 1 => arr
      case -1 => reverse(arr)
      case other =>
        throw new IllegalArgumentException(s"sortBy $k: $other")
    }
    transform(ordered, x => x.getField("__v"))
  }

  /** Mongo aggregation expression subset → Column: `"$field"` refs,
    * literals, operator expressions, and `$$var` lambda/let variables
    * (bound by `$map`/`$filter`/`$reduce`/`$let`). */
  def expr2col(e: Any): Column = expr2col(e, Map.empty)

  /** Does the expression tree reference `$$ROOT`/`$$CURRENT`? */
  private def usesDocVar(e: Any): Boolean = e match {
    case s: String => s.startsWith("$$ROOT") || s.startsWith("$$CURRENT")
    case m: Map[_, _] => m.values.exists(usesDocVar)
    case s: Seq[_] => s.exists(usesDocVar)
    case _ => false
  }

  /** `$$ROOT`/`$$CURRENT` binding for stages that see the input document:
    * the whole row as a struct in input-column order. */
  private def rootEnv(df: DataFrame): Map[String, Column] =
    Map("ROOT" -> struct(df.columns.map(col).toSeq: _*),
      "CURRENT" -> struct(df.columns.map(col).toSeq: _*)) ++
      searchMetaEnv(df)

  /** Set a (possibly dotted) output path: dotted targets write a NESTED
    * member (withField), creating the struct chain when the top-level
    * column is absent — Mongo's {"a.b": …} output-field shape, shared by
    * $set/$addFields, $fill, and $setWindowFields. */
  private def setNested(d: DataFrame, path: String, value: Column)
      : DataFrame =
    if (!path.contains('.')) d.withColumn(path, value)
    else {
      val top = path.takeWhile(_ != '.')
      val rest = path.drop(top.length + 1)
      if (d.columns.contains(top))
        d.withColumn(top, col(top).withField(rest, value))
      else d.withColumn(top, rest.split('.')
        .foldRight(value)((seg, acc) => struct(acc.as(seg))))
    }

  /** The $search `count` option stashes its metadata carrier on the
    * frame; Atlas exposes it to later stages as `$$SEARCH_META`. */
  private def searchMetaEnv(df: DataFrame): Map[String, Column] =
    if (df.columns.contains("__search_meta"))
      Map("SEARCH_META" -> col("__search_meta"))
    else Map.empty

  private def expr2col(e: Any, env: Map[String, Column]): Column = e match {
    case s: String if s.startsWith("$$") =>
      val name = s.drop(2).takeWhile(_ != '.')
      val base = env.get(name) match {
        case Some(c) => c
        case None => name match {
          // same instant for every document in the run, like Mongo
          case "NOW" => current_timestamp()
          // columnar schemas are fixed: a conditional $$REMOVE maps to
          // null (the engine's documented absent-field stance); the
          // DIRECT {f: "$$REMOVE"} form drops the column (see $set)
          case "REMOVE" => lit(null)
          case "CLUSTER_TIME" => throw new IllegalArgumentException(
            "$$CLUSTER_TIME: no replication clock in a batch engine — " +
              "use $$NOW")
          case _ => throw new IllegalArgumentException(
            s"unbound pipeline variable $$$$$name")
        }
      }
      // "$$v.field" descends into the bound struct
      s.drop(2).split("\\.").drop(1).foldLeft(base)(_.getField(_))
    case s: String if s.startsWith("$") => col(s.drop(1))
    case m: Map[_, _] if m.nonEmpty &&
        !m.asInstanceOf[Map[String, Any]].keys.exists(_.startsWith("$")) =>
      // embedded document literal (no $-operators) builds a subdocument —
      // Mongo's {a: {b: "$f"}} shape → a struct column
      struct(m.asInstanceOf[Map[String, Any]].toSeq.map {
        case (k, v) => expr2col(v, env).as(k) }: _*)
    case m: Map[_, _] =>
      val mm = m.asInstanceOf[Map[String, Any]]
      require(mm.size == 1, s"operator expression must have one key: $mm")
      val (op, args) = mm.head
      def expr2colE(x: Any): Column = expr2col(x, env)
      def seq: Seq[Column] = args match {
        case s: Seq[_] => s.map(expr2colE)
        case single    => Seq(expr2colE(single))
      }
      // Mongo date-part operators take a bare expression or the doc form
      // {date, timezone}; with a timezone the parts are read off the wall
      // clock in that zone (olson id or "+HH:MM" offset). Sessions pin
      // spark.sql.session.timeZone=UTC, so from_utc_timestamp is exactly
      // "shift instant to that zone's wall clock".
      def dateArg: Column = args match {
        case m: Map[_, _]
            if m.asInstanceOf[Map[String, Any]].contains("date") =>
          val mm = m.asInstanceOf[Map[String, Any]]
          val d = expr2colE(mm("date"))
          mm.get("timezone") match {
            case Some(tz) =>
              from_utc_timestamp(d.cast("timestamp"), tz.toString)
            case None => d
          }
        case _ => seq.head
      }
      // bare-single-argument fold: the array-vs-scalar dispatch depends on
      // the RESOLVED column type (Mongo folds an array argument, returns a
      // non-array argument as the one-element case), so it defers to
      // analysis time via the FoldDispatch expression
      def foldSingle(x: Any, kind: String): Column =
        org.apache.spark.sql.graftbridge.ColumnBridge.column(
          graft.functions.FoldDispatch(
            org.apache.spark.sql.graftbridge.ColumnBridge.expression(
              expr2colE(x)), kind))
      op match {
        // scalar (non-accumulator) numeric folds — Mongo's clamping /
        // row-local reduction idiom. [e1, e2, …] folds the listed values
        // (nulls skipped, as Mongo skips missing); a single argument
        // folds its elements when it resolves to an ARRAY column and is
        // the one-element case otherwise; a bare numeric literal is
        // itself.
        case "$max" => args match {
          case s: Seq[_] if s.size == 1 => expr2colE(s.head)
          case s: Seq[_] => greatest(s.map(expr2colE): _*)
          case n: Number => lit(n.doubleValue())
          case single    => foldSingle(single, "max")
        }
        case "$min" => args match {
          case s: Seq[_] if s.size == 1 => expr2colE(s.head)
          case s: Seq[_] => least(s.map(expr2colE): _*)
          case n: Number => lit(n.doubleValue())
          case single    => foldSingle(single, "min")
        }
        case "$sum" => args match {
          case s: Seq[_] => s.map(e =>
            coalesce(expr2colE(e).cast("double"), lit(0.0))).reduce(_ + _)
          case n: Number => lit(n.doubleValue())
          case single    => foldSingle(single, "sum")
        }
        case "$avg" => args match {
          case s: Seq[_] =>
            val vals = s.map(e => expr2colE(e).cast("double"))
            val cnt = vals.map(v => when(v.isNotNull, 1.0).otherwise(0.0))
              .reduce(_ + _)
            when(cnt > 0,
              vals.map(v => coalesce(v, lit(0.0))).reduce(_ + _) / cnt)
          case n: Number => lit(n.doubleValue())
          case single    => foldSingle(single, "avg")
        }
        case "$add"      => seq.reduce(_ + _)
        case "$subtract" => val Seq(a, b) = seq; a - b
        case "$multiply" => seq.reduce(_ * _)
        case "$divide"   => val Seq(a, b) = seq; a / b
        case "$mod"      => val Seq(a, b) = seq; a % b
        case "$abs"      => abs(seq.head)
        case "$ceil"     => ceil(seq.head)
        case "$floor"    => floor(seq.head)
        case "$round"    => args match {
          case s: Seq[_] => round(expr2colE(s.head),
            s(1).asInstanceOf[Number].intValue())
          case single => round(expr2colE(single))
        }
        case "$concat"   => concat(seq: _*)
        case "$toLower"  => lower(seq.head)
        case "$toUpper"  => upper(seq.head)
        case "$strLenCP" => length(seq.head)
        case "$substrCP" => // Mongo is 0-indexed, Spark substr 1-indexed
          val Seq(s, i, n) = seq; s.substr(i + lit(1), n)
        case "$split" => args match { // delimiter is a literal string
          case Seq(sE, d: String) =>
            split(expr2colE(sE), java.util.regex.Pattern.quote(d))
          case other => throw new IllegalArgumentException(s"$$split: $other")
        }
        case "$year"       => year(dateArg)
        case "$month"      => month(dateArg)
        case "$dayOfMonth" => dayofmonth(dateArg)
        case "$hour"       => hour(dateArg)
        case "$dateTrunc" =>
          // Mongo shape: {date, unit, binSize?, timezone?, startOfWeek?}.
          // Bins anchor at 2000-01-01T00:00:00 (Mongo's reference point,
          // read in the operation timezone); week bins anchor at the
          // startOfWeek (Mongo default: sunday) on or before that date.
          // binSize=1 non-week units keep Spark's codegen'd date_trunc;
          // binned paths are exact long arithmetic via pmod (no doubles,
          // so no precision cliff far from the anchor). A timezone shifts
          // to that zone's wall clock, truncates there, and shifts the
          // result back to an instant (standard wall-clock round-trip —
          // lossy only inside a DST gap, as in Mongo).
          val mm = doc(args)
          val unit = mm("unit").toString
          val bin = mm.get("binSize") match {
            case None            => 1L
            case Some(b: Number) => b.longValue()
            case Some(other)     => throw new IllegalArgumentException(
              s"$$dateTrunc binSize: $other")
          }
          require(bin >= 1, s"$$dateTrunc binSize must be >= 1: $bin")
          val refMicros = 946684800000000L // 2000-01-01T00:00:00Z
          val dayMicros = 86400000000L
          val tz = mm.get("timezone").map(_.toString)
          val d = tz.foldLeft(expr2colE(mm("date")).cast("timestamp"))(
            (c, t) => from_utc_timestamp(c, t))
          def backToInstant(r: Column): Column =
            tz.foldLeft(r)((c, t) => to_utc_timestamp(c, t))
          val monthsPer = Map("month" -> 1L, "quarter" -> 3L, "year" -> 12L)
          backToInstant(if (unit == "week") {
            // 2000-01-01 was a Saturday (ISO dow 6)
            val iso = Map("monday" -> 1, "tuesday" -> 2, "wednesday" -> 3,
              "thursday" -> 4, "friday" -> 5, "saturday" -> 6, "sunday" -> 7)
            val sow = mm.get("startOfWeek").map(_.toString.toLowerCase)
              .getOrElse("sunday")
            val dow = iso.getOrElse(sow, throw new IllegalArgumentException(
              s"$$dateTrunc startOfWeek: $sow"))
            val anchor = refMicros - ((6 - dow + 7) % 7).toLong * dayMicros
            val span = bin * 7L * dayMicros
            val c = unix_micros(d)
            timestamp_micros(c - pmod(c - anchor, lit(span)))
          } else if (monthsPer.contains(unit)) {
            if (bin == 1L) date_trunc(unit, d)
            else {
              val binM = bin * monthsPer(unit)
              val since = ((year(d) - 2000) * 12 + (month(d) - 1))
                .cast("long")
              val binned = (since - pmod(since, lit(binM))).cast("int")
              add_months(lit(java.sql.Date.valueOf("2000-01-01")), binned)
                .cast("timestamp")
            }
          } else {
            val micros = Map("millisecond" -> 1000L, "second" -> 1000000L,
              "minute" -> 60000000L, "hour" -> 3600000000L,
              "day" -> dayMicros)
            val m = micros.getOrElse(unit,
              throw new IllegalArgumentException(s"$$dateTrunc unit: $unit"))
            if (bin == 1L) date_trunc(unit, d)
            else {
              val c = unix_micros(d)
              timestamp_micros(c - pmod(c - refMicros, lit(m * bin)))
            }
          })
        case "$dateToString" =>
          // optional timezone: format that zone's wall clock
          val mm = doc(args)
          val fmt = mongoDateFmt(mm.getOrElse("format", "%Y-%m-%d").toString)
          val d0 = mm.get("timezone").foldLeft(expr2colE(mm("date")))(
            (c, t) => from_utc_timestamp(c.cast("timestamp"), t.toString))
          date_format(d0, fmt)
        case "$switch" =>
          val mm = doc(args)
          val branches = mm("branches") match {
            case s: Seq[_] => s.map(b => doc(b))
            case other => throw new IllegalArgumentException(s"$$switch: $other")
          }
          val default = mm.get("default").map(expr2col)
            .getOrElse(lit(null))
          branches.foldRight(default) { (b, els) =>
            when(expr2colE(b("case")), expr2colE(b("then"))).otherwise(els)
          }
        case "$toString" => seq.head.cast("string")
        case "$toInt"    => seq.head.cast("int")
        case "$toLong"   => seq.head.cast("long")
        case "$toDouble" => seq.head.cast("double")
        case "$toBool"   => seq.head.cast("boolean")
        case "$toDate"   => seq.head.cast("timestamp")
        case "$toDecimal" => seq.head.cast("decimal(38,10)")
        case "$toHashedIndexKey" =>
          // Mongo hashes the BSON value to an int64 for hashed indexes
          // (reference uses it opaquely via the server). The exact md5-based
          // bit pattern is a server implementation detail no client relies
          // on for values — only on determinism and spread — so the columnar
          // equivalent is a 64-bit hash of the value's canonical string
          // form: deterministic within this engine, shuffle-friendly.
          xxhash64(seq.head.cast("string"))
        case "$toObjectId" =>
          // no ObjectId type in a columnar engine: ids stay strings, but
          // the 24-hex validity contract (and error-on-invalid) holds
          val in = seq.head.cast("string")
          when(in.rlike("^[0-9a-fA-F]{24}$"), lower(in))
            .otherwise(raise_error(
              concat(lit("$toObjectId: invalid ObjectId: "), in)))
        case "$toUUID" =>
          val in = seq.head.cast("string")
          when(in.rlike("^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-" +
              "[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"), lower(in))
            .otherwise(raise_error(
              concat(lit("$toUUID: invalid UUID: "), in)))
        case "$cmp" | "$strcasecmp" =>
          // three-way compare (−1/0/1); $strcasecmp lowercases first.
          // Null semantics: equal nulls → 0 (null-safe eq), a single null
          // side yields null — Mongo's total order over missing values has
          // no columnar analog, documented divergence.
          val Seq(a0, b0) = seq
          val (a, b) =
            if (op == "$strcasecmp") (lower(a0), lower(b0)) else (a0, b0)
          when(a <=> b, 0).when(a < b, -1).when(a > b, 1)
        case "$convert" => // checked cast with onError / onNull branches
          // DOCUMENTED DIVERGENCE: without onError, Mongo RAISES on a
          // failed conversion; this engine yields null (try_cast) — a
          // deliberate non-ANSI stance so one bad row can't kill a 100 TB
          // job. Pipelines that need fail-loud semantics should run with
          // spark.sql.ansi.enabled=true and plain $toInt-style casts, or
          // pass onError explicitly. Same stance for $dateFromString.
          val mm = doc(args)
          val in = expr2colE(mm("input"))
          val to = Map("double" -> "double", "string" -> "string",
            "bool" -> "boolean", "date" -> "timestamp", "int" -> "int",
            "long" -> "long", "decimal" -> "decimal(38,10)",
            "binData" -> "binary")
            .getOrElse(mm("to").toString, throw new IllegalArgumentException(
              s"$$convert to: ${mm("to")}"))
          // Mongo 8.0 `format`: string <-> binData through an explicit
          // byte encoding. hex decodes via unhex (null on bad input, so
          // onError still fires); hex OUTPUT is lowercase like the server.
          val fmt = mm.get("format").map(_.toString)
          val casted = fmt match {
            case Some(f) if to == "binary" => f match {
              case "hex" => unhex(in)
              case "base64" => unbase64(in)
              case "utf8" => encode(in, "UTF-8")
              case other => throw new IllegalArgumentException(
                s"$$convert format: $other (hex/base64/utf8)")
            }
            case Some(f) if to == "string" => f match {
              case "hex" => lower(hex(in))
              case "base64" => base64(in)
              case "utf8" => decode(in, "UTF-8")
              case other => throw new IllegalArgumentException(
                s"$$convert format: $other (hex/base64/utf8)")
            }
            case Some(_) => throw new IllegalArgumentException(
              "$convert format: only to: \"binData\" | \"string\"")
            case None => in.try_cast(to) // null instead of ANSI cast error
          }
          val onErr = mm.get("onError")
            .map(e => coalesce(casted, expr2colE(e))).getOrElse(casted)
          // Mongo: onError fires ONLY on conversion failure — a null input
          // yields onNull (or null), never onError
          mm.get("onNull") match {
            case Some(nv) => when(in.isNull, expr2colE(nv)).otherwise(onErr)
            case None if mm.contains("onError") =>
              when(in.isNull, lit(null).cast(to)).otherwise(onErr)
            case None => onErr
          }
        case "$dateFromString" =>
          // optional timezone: the string is that zone's wall clock;
          // convert the parsed value back to an instant. onError fires
          // only on a parse FAILURE (to_timestamp's null on non-null
          // input), onNull on a null input — Mongo's split, same as
          // $convert.
          val mm = doc(args)
          val ds = expr2colE(mm("dateString"))
          // try_to_timestamp: null on a malformed string (the engine's
          // one-bad-row-can't-kill-the-job stance; onError observes it)
          val parsed = mm.get("format") match {
            case Some(f) => try_to_timestamp(ds, lit(mongoDateFmt(f.toString)))
            case None    => try_to_timestamp(ds)
          }
          val shifted = mm.get("timezone").foldLeft(parsed)(
            (c, t) => to_utc_timestamp(c, t.toString))
          val onErr = mm.get("onError")
            .map(e => coalesce(shifted, expr2colE(e))).getOrElse(shifted)
          mm.get("onNull") match {
            case Some(nv) =>
              when(ds.isNull, expr2colE(nv)).otherwise(onErr)
            case None if mm.contains("onError") =>
              when(ds.isNull, lit(null).cast("timestamp")).otherwise(onErr)
            case None => onErr
          }
        case "$trim" => args match {
          case m2: Map[_, _] =>
            val mm = doc(m2)
            val in = expr2colE(mm("input"))
            mm.get("chars") match {
              case Some(c) => trim(in, c.toString)
              case None    => trim(in)
            }
          case _ => trim(seq.head)
        }
        case "$cond" => args match {
          case s: Seq[_] => val Seq(i, t, f) = s.map(expr2colE)
            when(i, t).otherwise(f)
          case m2: Map[_, _] =>
            val mm2 = m2.asInstanceOf[Map[String, Any]]
            when(expr2colE(mm2("if")), expr2colE(mm2("then")))
              .otherwise(expr2colE(mm2("else")))
          case other => throw new IllegalArgumentException(s"$$cond: $other")
        }
        case "$ifNull"   => coalesce(seq: _*)
        case "$literal"  => lit(QueryCompiler.toScalaLit(args))
        case "$meta" => args match {
          // relevance score stashed by the $search stage; inclusion
          // projections that don't ask for it drop the carrier column
          case "searchScore" | "textScore" | "score" |
              "vectorSearchScore" =>
            col("__searchScore")
          case "searchHighlights" => col("__searchHighlights")
          // keyset-pagination cursor stashed by a sorted $search stage
          case "searchSequenceToken" => col("__searchSequenceToken")
          // per-pipeline contribution breakdown stashed by a fusion
          // stage run with scoreDetails: true
          case "scoreDetails" => col("__scoreDetails")
          // per-clause breakdown stashed by $search scoreDetails: true
          case "searchScoreDetails" => col("__searchScoreDetails")
          case other => throw new IllegalArgumentException(
            s"$$meta: unsupported $other (searchScore/textScore/score/" +
              "scoreDetails/searchScoreDetails/searchSequenceToken)")
        }
        case "$eq"  => val Seq(a, b) = seq; a === b
        case "$ne"  => val Seq(a, b) = seq; a =!= b
        case "$gt"  => val Seq(a, b) = seq; a > b
        case "$gte" => val Seq(a, b) = seq; a >= b
        case "$lt"  => val Seq(a, b) = seq; a < b
        case "$lte" => val Seq(a, b) = seq; a <= b
        case "$and" => seq.reduce(_ && _)
        case "$or"  => seq.reduce(_ || _)
        case "$not" => !seq.head
        case "$size" => size(seq.head)
        case "$arrayElemAt" => val Seq(a, i) = seq; element_at(a, i + lit(1))

        // ---- higher-order array operators (codegen'd lambda functions,
        // never UDFs): $$var binding flows through `env` ----
        case "$map" =>
          val mm = doc(args)
          val as = mm.getOrElse("as", "this").toString
          transform(expr2colE(mm("input")),
            x => expr2col(mm("in"), env + (as -> x)))
        case "$filter" =>
          val mm = doc(args)
          val as = mm.getOrElse("as", "this").toString
          filter(expr2colE(mm("input")),
            x => expr2col(mm("cond"), env + (as -> x)))
        case "$reduce" =>
          val mm = doc(args)
          aggregate(expr2colE(mm("input")), expr2colE(mm("initialValue")),
            (acc, x) => expr2col(mm("in"),
              env + ("value" -> acc, "this" -> x)))
        case "$let" =>
          val mm = doc(args)
          val bound = doc(mm("vars")).foldLeft(env) { case (e2, (v, ex)) =>
            e2 + (v -> expr2col(ex, e2)) }
          expr2col(mm("in"), bound)

        // ---- array operators ----
        case "$in" => val Seq(e2, a) = seq; array_contains(a, e2)
        case "$indexOfArray" => // Mongo 0-based, -1 when absent; optional
          // [.., start, end] bounds the search, index stays relative to
          // the ORIGINAL array
          seq match {
            case Seq(a, e2) => array_position(a, e2).cast("int") - 1
            case Seq(a, e2, st) =>
              val start = st.cast("int")
              val p = array_position(
                slice(a, start + 1, greatest(size(a) - start, lit(0))), e2)
                .cast("int")
              when(p > 0, p + start - 1).otherwise(-1)
            case Seq(a, e2, st, en) =>
              val start = st.cast("int")
              val p = array_position(
                slice(a, start + 1,
                  greatest(en.cast("int") - start, lit(0))), e2).cast("int")
              when(p > 0, p + start - 1).otherwise(-1)
            case other => throw new IllegalArgumentException(
              s"$$indexOfArray arity: ${other.size}")
          }
        case "$concatArrays" => concat(seq: _*)
        case "$reverseArray" => reverse(seq.head)
        case "$sortArray" =>
          val mm = doc(args)
          val sorted = array_sort(expr2colE(mm("input")))
          mm.getOrElse("sortBy", 1) match {
            case 1 => sorted
            case -1 => reverse(sorted)
            case other =>
              throw new IllegalArgumentException(s"$$sortArray: $other")
          }
        // scalar N-ary array forms ({input: <array>, n}) — the
        // accumulator/window forms live in accumulator()/setWindowFields.
        // $minN/$maxN skip nulls (Mongo) and return ascending/descending
        // order respectively.
        case "$firstN" | "$lastN" | "$minN" | "$maxN" =>
          val mm = doc(args)
          val arr = expr2colE(mm("input"))
          val n = lit(int(mm("n")))
          op match {
            case "$firstN" => slice(arr, lit(1), n)
            case "$lastN" =>
              // last min(n, size) elements, in order
              slice(arr, greatest(size(arr) - n + 1, lit(1)),
                least(n, size(arr)))
            case "$minN" =>
              slice(array_sort(filter(arr, x => x.isNotNull)), lit(1), n)
            case "$maxN" =>
              slice(reverse(array_sort(filter(arr, x => x.isNotNull))),
                lit(1), n)
          }
        case "$first" => element_at(seq.head, 1)
        case "$last" => element_at(seq.head, -1)
        case "$range" => args match {
          case s: Seq[_] =>
            val step = s.lift(2).map {
              case n: Number => n.longValue()
              case other =>
                throw new IllegalArgumentException(s"$$range step: $other")
            }.getOrElse(1L)
            require(step != 0, "$range step must be nonzero")
            val (from, to) = (expr2colE(s.head), expr2colE(s(1)))
            // Mongo [start, end) — sequence() is inclusive, so pull the
            // bound one step-sign in and guard the empty range
            if (step > 0)
              when(from < to, sequence(from.cast("long"),
                to.cast("long") - 1, lit(step))).otherwise(
                array().cast("array<bigint>"))
            else
              when(from > to, sequence(from.cast("long"),
                to.cast("long") + 1, lit(step))).otherwise(
                array().cast("array<bigint>"))
          case other => throw new IllegalArgumentException(s"$$range: $other")
        }
        case "$zip" => // arrays of pair-structs (Mongo emits pair-arrays;
          // struct keeps heterogeneous element types typed). Mongo
          // truncates to the SHORTEST input; arrays_zip null-pads, so cut
          val mm = doc(args)
          mm("inputs") match {
            case s: Seq[_] if s.size == 2 =>
              val (a, b) = (expr2colE(s.head), expr2colE(s(1)))
              slice(arrays_zip(a, b), lit(1), least(size(a), size(b)))
            case other =>
              throw new IllegalArgumentException(s"$$zip inputs: $other")
          }
        case "$slice" => args match {
          case Seq(aE, nV: Number) => // ±n: first n / last n
            val n = nV.intValue()
            if (n >= 0) slice(expr2colE(aE), 1, n)
            else slice(expr2colE(aE), n, -n)
          case Seq(aE, pV: Number, nV: Number) => // 0-based position + count
            slicePosN(expr2colE(aE), lit(pV.intValue()), lit(nV.intValue()))
          case Seq(aE, nE) => // expression-valued ±n (Mongo allows any expr)
            val n = expr2colE(nE).cast("int")
            when(n >= 0, slice(expr2colE(aE), lit(1), n))
              .otherwise(slice(expr2colE(aE), n, -n))
          case Seq(aE, pE, nE) =>
            slicePosN(expr2colE(aE), expr2colE(pE).cast("int"),
              expr2colE(nE).cast("int"))
          case other => throw new IllegalArgumentException(s"$$slice: $other")
        }

        // ---- set operators (result sorted: Mongo leaves set order
        // unspecified; sorting makes pipelines deterministic) ----
        case "$setUnion" =>
          array_sort(array_distinct(concat(seq: _*)))
        case "$setIntersection" =>
          array_sort(array_distinct(seq.reduce(array_intersect)))
        case "$setDifference" =>
          val Seq(a, b) = seq; array_sort(array_distinct(array_except(a, b)))
        case "$setEquals" => // pairwise set equality across all args
          val norm = seq.map(c => array_sort(array_distinct(c)))
          norm.zip(norm.tail).map { case (a, b) => a === b }.reduce(_ && _)
        case "$setIsSubset" =>
          val Seq(a, b) = seq
          forall(array_distinct(a), x => array_contains(b, x))
        case "$allElementsTrue" =>
          forall(seq.head, x => x.cast("boolean"))
        case "$anyElementTrue" =>
          exists(seq.head, x => x.cast("boolean"))

        // ---- document (struct) field surgery ----
        case "$getField" =>
          val mm = doc(args)
          expr2colE(mm("input")).getField(mm("field").toString)
        case "$setField" =>
          val mm = doc(args)
          expr2colE(mm("input")).withField(mm("field").toString,
            expr2colE(mm("value")))
        case "$unsetField" =>
          val mm = doc(args)
          expr2colE(mm("input")).dropFields(mm("field").toString)

        // ---- math ----
        case "$pow"   => val Seq(a, b) = seq; pow(a, b)
        case "$sqrt"  => sqrt(seq.head)
        case "$exp"   => exp(seq.head)
        case "$ln"    => log(seq.head)
        case "$log10" => log10(seq.head)
        case "$log"   => // arbitrary base: ln(n)/ln(base), base may be an expr
          val Seq(n, b) = seq; log(n) / log(b)
        case "$sin"   => sin(seq.head)
        case "$cos"   => cos(seq.head)
        case "$tan"   => tan(seq.head)
        case "$asin"  => asin(seq.head)
        case "$acos"  => acos(seq.head)
        case "$atan"  => atan(seq.head)
        case "$atan2" => val Seq(y, x) = seq; atan2(y, x)
        case "$sinh"  => sinh(seq.head)
        case "$cosh"  => cosh(seq.head)
        case "$tanh"  => tanh(seq.head)
        case "$asinh" => asinh(seq.head)
        case "$acosh" => acosh(seq.head)
        case "$atanh" => atanh(seq.head)
        case "$sigmoid" => // Mongo 8.1 (score normalization): 1/(1+e^-x)
          lit(1.0) / (lit(1.0) + exp(-seq.head.cast("double")))
        case "$rand"  => rand() // uniform [0, 1), non-deterministic
        // bitwise EXPRESSIONS (Mongo 6.3+): n-ary folds over integer
        // operands; the same names in $group context are the accumulators
        // above. Null operands null the result, matching Mongo.
        // Empty operand arrays fold to Mongo's documented identities:
        // all-ones for $bitAnd, zero for $bitOr/$bitXor.
        case "$bitAnd" =>
          if (seq.isEmpty) lit(-1) else seq.reduce(_ bitwiseAND _)
        case "$bitOr"  =>
          if (seq.isEmpty) lit(0) else seq.reduce(_ bitwiseOR _)
        case "$bitXor" =>
          if (seq.isEmpty) lit(0) else seq.reduce(_ bitwiseXOR _)
        case "$bitNot" =>
          require(seq.size == 1,
            s"$$bitNot requires exactly one operand, got ${seq.size}")
          bitwise_not(seq.head)
        // BSON internal timestamps: 64-bit packed {t: epoch-seconds (high
        // 32), i: ordinal increment (low 32)}. The columnar carrier is the
        // packed long itself, so the accessors are pure bit ops.
        case "$tsSecond" =>
          shiftrightunsigned(seq.head.cast("long"), 32)
        case "$tsIncrement" =>
          seq.head.cast("long").bitwiseAND(lit(0xFFFFFFFFL))
        case "$function" => throw new IllegalArgumentException(
          "$function runs user JavaScript on the server; a distributed " +
            "engine can't ship JS to executors. Re-express the logic with " +
            "$let/$map/$reduce/$switch (or a native Catalyst expression)")
        case "$degreesToRadians" => radians(seq.head)
        case "$radiansToDegrees" => degrees(seq.head)
        case "$trunc" => args match {
          case s: Seq[_] if s.size == 2 => // truncate toward zero at place p
            val p = math.pow(10, s(1).asInstanceOf[Number].intValue())
            (expr2colE(s.head) * p).cast("long") / p
          case s: Seq[_] => expr2colE(s.head).cast("long")
          case single => expr2colE(single).cast("long")
        }
        case "$sign" => signum(seq.head).cast("int")

        // ---- strings ----
        case "$regexMatch" =>
          val mm = doc(args)
          expr2colE(mm("input")).rlike(regexWithOpts(mm))
        case "$indexOfCP" => // 0-based, -1 when absent (instr is 1-based/0);
          // optional [.., start, end]: locate from start, match must end
          // by end (haystack truncated), index stays absolute
          seq match {
            case Seq(s2, sub) =>
              call_function("instr", s2, sub).cast("int") - 1
            case Seq(s2, sub, st) =>
              call_function("locate", sub, s2,
                st.cast("int") + 1).cast("int") - 1
            case Seq(s2, sub, st, en) =>
              call_function("locate", sub,
                s2.substr(lit(1), greatest(en.cast("int"), lit(0))),
                st.cast("int") + 1).cast("int") - 1
            case other => throw new IllegalArgumentException(
              s"$$indexOfCP arity: ${other.size}")
          }
        case "$ltrim" | "$rtrim" => // optional chars set (Mongo `chars`)
          val mm = doc(args)
          val in = expr2colE(mm("input"))
          (op, mm.get("chars")) match {
            case ("$ltrim", None)    => ltrim(in)
            case ("$rtrim", None)    => rtrim(in)
            case ("$ltrim", Some(c)) => ltrim(in, c.toString)
            case ("$rtrim", Some(c)) => rtrim(in, c.toString)
            case _ => throw new IllegalStateException
          }
        case "$indexOfBytes" => // 0-based byte offset, -1 when absent:
          // UTF-8 length of the prefix before the (codepoint) match
          val Seq(s2, sub) = seq
          val posCP = call_function("instr", s2, sub)
          when(posCP === 0, lit(-1))
            .otherwise(octet_length(s2.substr(lit(1), posCP - 1)).cast("int"))
        case "$replaceAll" =>
          val mm = doc(args)
          call_function("replace", expr2colE(mm("input")),
            expr2colE(mm("find")), expr2colE(mm("replacement")))
        case "$type" => // static Spark type -> Mongo type-name string
          val in = seq.head
          val aliases = Seq("string", "int", "long", "double", "bool",
            "decimal", "date", "array", "object", "binData")
          // fallthrough for types with no Mongo alias: static catalog
          // string (analysis-time constant; `typeof` is codegen-unsafe)
          val fallthrough = org.apache.spark.sql.graftbridge.ColumnBridge.column(
            graft.functions.StaticTypeName(
              org.apache.spark.sql.graftbridge.ColumnBridge.expression(in)))
          val mapped = aliases.foldRight(fallthrough) {
            (alias, els) =>
              when(QueryCompiler.typeMatches(in, alias), lit(alias))
                .otherwise(els)
          }
          when(in.isNull, lit("null")).otherwise(mapped)
        case "$isNumber" =>
          val in = seq.head
          in.isNotNull && Seq("int", "long", "double", "decimal")
            .map(QueryCompiler.typeMatches(in, _)).reduce(_ || _)
        case "$isArray" =>
          val in = seq.head
          in.isNotNull && QueryCompiler.typeMatches(in, "array")
        case "$objectToArray" => // map -> [{k, v}] entries (insertion order)
          transform(map_entries(seq.head),
            e => struct(e.getField("key").as("k"), e.getField("value").as("v")))
        case "$arrayToObject" => // [{k, v}] -> map, LAST value wins on a
          // repeated key (Mongo semantics; a bare map_from_entries would
          // throw DUPLICATED_MAP_KEY under the default dedup policy)
          val a = args match { // Mongo wraps the array arg: [[{k,v},…]]
            case Seq(one) => expr2colE(one)
            case other    => expr2colE(other)
          }
          val entries = transform(a,
            e => struct(e.getField("k"), e.getField("v")))
          aggregate(entries,
            map_from_entries(filter(entries, _ => lit(false))),
            (acc, e) => map_concat(
              map_filter(acc, (k, _) => k =!= e.getField("k")),
              map_from_entries(array(e))))
        case "$mergeObjects" => // later documents win on key collision;
          // null operands are skipped (Mongo ignores null/missing)
          seq.reduce { (a, b) =>
            val merged = map_concat(
              map_filter(a, (k, _) => !array_contains(map_keys(b), k)), b)
            when(a.isNull, b).when(b.isNull, a).otherwise(merged)
          }
        case "$replaceOne" => // first occurrence only (vs $replaceAll)
          val mm = doc(args)
          val in = expr2colE(mm("input"))
          val find = expr2colE(mm("find"))
          val repl = expr2colE(mm("replacement"))
          val pos = call_function("locate", find, in)
          when(pos === 0, in).otherwise(concat(
            in.substr(lit(1), pos - 1), repl,
            in.substr(pos + length(find), length(in))))
        case "$regexFind" => // {match, captures} struct, null when no match.
          // Divergence: a non-participating capture group yields "" here
          // (regexp_extract's convention) where Mongo yields null.
          val mm = doc(args)
          val pat = regexWithOpts(mm)
          val in = expr2colE(mm("input"))
          val nGroups =
            java.util.regex.Pattern.compile(pat).matcher("").groupCount()
          val caps = array((1 to nGroups)
            .map(g => regexp_extract(in, pat, g)): _*)
          when(in.rlike(pat),
            struct(regexp_extract(in, pat, 0).as("match"),
              caps.as("captures")))
        case "$regexFindAll" => // array of full matches, in order
          val mm = doc(args)
          regexp_extract_all(expr2colE(mm("input")),
            lit(regexWithOpts(mm)), lit(0))
        case "$strLenBytes" | "$binarySize" => octet_length(seq.head)
        case "$bsonSize" => // size of a document in bytes. DOCUMENTED
          // DIVERGENCE: measured over the JSON serialization (this
          // engine's raw-document form, see TableOps.toRawDocs), not BSON
          octet_length(to_json(seq.head))
        case "$substrBytes" | "$substr" => // 0-indexed byte offsets over
          // the UTF-8 form ($substr is Mongo's deprecated byte-wise alias)
          val Seq(s2, i, n2) = seq
          s2.cast("binary").substr(i + lit(1), n2).cast("string")

        // ---- dates ----
        case "$minute"    => minute(dateArg)
        case "$second"    => second(dateArg)
        case "$dayOfYear" => dayofyear(dateArg)
        case "$week" =>
          // Mongo week 0–53: weeks start SUNDAY, week 1 begins at the
          // first Sunday of the year, earlier days are week 0 (strftime
          // %U) — NOT Spark's ISO weekofyear. The Sunday on-or-before d
          // has day-of-year doy-(dow-1); nonpositive → week 0.
          val d0 = dateArg
          val doy = dayofyear(d0)
          val dow = dayofweek(d0) // 1 = Sunday
          when(doy - dow + 1 <= 0, 0)
            .otherwise(floor((doy - dow).cast("double") / 7).cast("int") + 1)
        case "$dayOfWeek" => dayofweek(dateArg) // 1 = Sunday (Mongo parity)
        case "$isoDayOfWeek" => // 1 = Monday … 7 = Sunday
          (dayofweek(dateArg) + lit(5)) % 7 + 1
        case "$isoWeek" => weekofyear(dateArg) // Spark weekofyear IS ISO
        case "$isoWeekYear" =>
          // the ISO week-numbering year = calendar year of that week's
          // Thursday (shift to Thursday, take its year)
          val d0 = dateArg.cast("date")
          val isoDow = (dayofweek(d0) + lit(5)) % 7 + 1
          year(date_add(d0, (lit(4) - isoDow).cast("int"))).cast("long")
        case "$millisecond" =>
          (pmod(unix_micros(dateArg.cast("timestamp")), lit(1000000L)) /
            1000).cast("int")
        case "$dateFromParts" =>
          val mm = doc(args)
          def part(k: String, dflt: Int): Column =
            mm.get(k).map(expr2colE).getOrElse(lit(dflt))
          val ts = call_function("make_timestamp",
            part("year", 1970).cast("int"), part("month", 1).cast("int"),
            part("day", 1).cast("int"), part("hour", 0).cast("int"),
            part("minute", 0).cast("int"), part("second", 0).cast("int"))
          val withMs = mm.get("millisecond") match {
            case Some(ms) => timestamp_micros(
              unix_micros(ts) + expr2colE(ms).cast("long") * 1000L)
            case None => ts
          }
          // optional timezone: the parts describe that zone's wall clock
          mm.get("timezone").foldLeft(withMs)(
            (c, t) => to_utc_timestamp(c, t.toString))
        case "$dateToParts" =>
          val d0 = dateArg
          val timeParts = Seq(
            hour(d0).cast("long").as("hour"),
            minute(d0).cast("long").as("minute"),
            second(d0).cast("long").as("second"),
            (pmod(unix_micros(d0.cast("timestamp")), lit(1000000L)) / 1000)
              .cast("long").as("millisecond"))
          val iso = args match {
            case m: Map[_, _] =>
              m.asInstanceOf[Map[String, Any]].get("iso8601").contains(true)
            case _ => false
          }
          if (iso) {
            // ISO week-date parts: week-numbering year, ISO week, ISO dow
            val dd = d0.cast("date")
            val isoDow = (dayofweek(dd) + lit(5)) % 7 + 1
            struct(Seq(
              year(date_add(dd, (lit(4) - isoDow).cast("int"))).cast("long")
                .as("isoWeekYear"),
              weekofyear(dd).cast("long").as("isoWeek"),
              isoDow.cast("long").as("isoDayOfWeek")) ++ timeParts: _*)
          } else
            struct(Seq(year(d0).cast("long").as("year"),
              month(d0).cast("long").as("month"),
              dayofmonth(d0).cast("long").as("day")) ++ timeParts: _*)
        case "$dateAdd" | "$dateSubtract" =>
          // fixed-length units via µs arithmetic; calendar units
          // (month/quarter/year) via a year-month interval, which does
          // true calendar arithmetic with Mongo's month-end clamping
          // (Jan 31 + 1 month = Feb 28/29). Both paths codegen.
          val mm = doc(args)
          val unit = mm("unit").toString
          val sign = if (op == "$dateAdd") 1L else -1L
          // optional timezone: do the arithmetic on that zone's wall
          // clock and convert back (keeps wall-clock time across DST for
          // day-and-larger units, as Mongo does); a no-op for sub-day
          // units, where the shift cancels
          val tz = mm.get("timezone").map(_.toString)
          val start = tz.foldLeft(
            expr2colE(mm("startDate")).cast("timestamp"))(
            (c, t) => from_utc_timestamp(c, t))
          val amt = expr2colE(mm("amount")).cast("long") * sign
          val monthsPer = Map("month" -> 1L, "quarter" -> 3L, "year" -> 12L)
          val shifted =
            if (monthsPer.contains(unit))
              start +
                make_ym_interval(lit(0), (amt * monthsPer(unit)).cast("int"))
            else {
              val micros = Map("millisecond" -> 1000L, "second" -> 1000000L,
                "minute" -> 60000000L, "hour" -> 3600000000L,
                "day" -> 86400000000L, "week" -> 604800000000L)
              val m2 = micros.getOrElse(unit,
                throw new IllegalArgumentException(s"$op unit: $unit"))
              timestamp_micros(unix_micros(start) + amt * m2)
            }
          tz.foldLeft(shifted)((c, t) => to_utc_timestamp(c, t))
        case "$dateDiff" =>
          // Mongo counts UNIT-BOUNDARY crossings, not elapsed whole units:
          // trunc both ends to the unit, then difference in units. An
          // optional timezone moves boundary computation to that zone's
          // wall clock; week boundaries default to SUNDAY (Mongo), with
          // startOfWeek overriding.
          val mm = doc(args)
          val unit = mm("unit").toString
          val tzShift: Column => Column = c =>
            mm.get("timezone").foldLeft(c.cast("timestamp"))(
              (x, t) => from_utc_timestamp(x, t.toString))
          val s0 = tzShift(expr2colE(mm("startDate")))
          val e0 = tzShift(expr2colE(mm("endDate")))
          unit match {
            case "day" => datediff(e0.cast("date"), s0.cast("date"))
              .cast("long")
            case "week" =>
              // Sunday-start weeks (or startOfWeek): shift back to the
              // week's first day, then whole-day difference / 7
              val iso = Map("monday" -> 1, "tuesday" -> 2, "wednesday" -> 3,
                "thursday" -> 4, "friday" -> 5, "saturday" -> 6,
                "sunday" -> 7)
              val sow = mm.get("startOfWeek").map(_.toString.toLowerCase)
                .getOrElse("sunday")
              val target = iso.getOrElse(sow,
                throw new IllegalArgumentException(
                  s"$$dateDiff startOfWeek: $sow"))
              def weekStart(c: Column): Column = {
                val isoDow = (dayofweek(c) + lit(5)) % 7 + 1
                date_sub(c.cast("date"),
                  pmod(isoDow - lit(target), lit(7)).cast("int"))
              }
              (datediff(weekStart(e0), weekStart(s0)) / 7).cast("long")
            case "hour" | "minute" | "second" =>
              val secs = Map("hour" -> 3600L, "minute" -> 60L,
                "second" -> 1L)(unit)
              ((unix_timestamp(date_trunc(unit, e0)) -
                unix_timestamp(date_trunc(unit, s0))) / secs).cast("long")
            // calendar units: boundary crossings, like day/week above
            case "month" => ((year(e0) - year(s0)) * 12 +
              (month(e0) - month(s0))).cast("long")
            case "quarter" => ((year(e0) - year(s0)) * 4 +
              (quarter(e0) - quarter(s0))).cast("long")
            case "year" => (year(e0) - year(s0)).cast("long")
            case other => throw new IllegalArgumentException(
              s"$$dateDiff unit: $other")
          }

        case other =>
          throw new IllegalArgumentException(s"unsupported expression: $other")
      }
    case s: Seq[_] => // array literal of expressions (Mongo's [e1, e2, …])
      array(s.map(x => expr2col(x, env)): _*)
    case other => lit(QueryCompiler.toScalaLit(other))
  }
}
