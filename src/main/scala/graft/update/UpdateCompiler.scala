package graft.update

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.query.QueryCompiler.{toLit, toScalaLit}

/** Compiles MongoDB-style update documents into DataFrame transformations.
  *
  * The reference passes update documents through to the MongoDB server
  * (/root/reference/migration_job_simple.go:67, db/wrapper.go:146-235); this
  * engine evaluates them itself. Everything compiles to Catalyst `Column`
  * expressions (whole-stage-codegen-friendly; no row UDFs), applied either to
  * the whole table or, with a predicate, only to matching rows (`UpdateAll`
  * semantics, db/wrapper.go:237-244) while untouched rows pass through.
  *
  * Supported operators (SURVEY.md §2.8 "update compiler"):
  * `$set $unset $rename $inc $mul $min $max $currentDate $push $addToSet
  * $pull $pop $bit`, with dotted nested paths resolved via
  * `withField`/`dropFields`; `$push` takes the `{$each, $position, $sort,
  * $slice}` modifier form and `$addToSet` takes `{$each}`; positional
  * array paths `f.$[]` / `f.$[ident]` (+ arrayFilters) compile to
  * `transform` lambdas.
  *
  * Replacement-document dispatch (no `$`-prefixed keys) mirrors
  * `hasDollarKey` (/root/reference/db/wrapper.go:612-618): the whole row is
  * replaced — id column kept, listed fields set, remaining fields nulled.
  */
object UpdateCompiler {

  /** reference: db/wrapper.go:612-618. */
  def hasDollarKey(doc: Map[String, Any]): Boolean =
    doc.keys.exists(_.startsWith("$"))

  /** Compile an update document to a whole-table transform (every row
    * matches). */
  def compile(update: Map[String, Any], idCol: String = "_id")
      : DataFrame => DataFrame =
    df => applyUpdate(df, lit(true), update, idCol)

  /** Apply an update document to rows matching `pred`; other rows are
    * preserved unchanged. This is the fused form of the reference's
    * generate-then-update-each-document dataflow (SURVEY.md §2.9): one
    * declarative transform instead of per-document jobs. */
  def applyUpdate(df: DataFrame, pred: Column, update: Map[String, Any],
      idCol: String = "_id",
      arrayFilters: Seq[Map[String, Any]] = Nil,
      queryDoc: Map[String, Any] = Map.empty): DataFrame = {
    implicit val af: ArrayFilters = ArrayFilters.parse(arrayFilters, queryDoc)
    val conditional = !isUnconditional(pred)
    if (!hasDollarKey(update))
      return withMatch(df, pred, conditional)(
        applyReplacement(_, _, update, idCol))
    val ops = update.toSeq.map { case (op, spec) => op -> (spec match {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      case other => throw new IllegalArgumentException(
        s"update operator $op expects a document, got $other")
    }) }
    withMatch(df, pred, conditional && ops.map(_._2.size).sum > 1)(
      applyOperators(_, _, ops))
  }

  /** The operator writes of [[applyUpdate]], in document order. */
  private def applyOperators(df: DataFrame, pred: Column,
      ops: Seq[(String, Map[String, Any])])(
      implicit af: ArrayFilters): DataFrame =
    ops.foldLeft(df) { case (acc, (op, fields)) =>
      op match {
        case "$set" =>
          fields.foldLeft(acc) { case (d, (path, v)) =>
            setPath(d, path, pred, _ => toLit(v))
          }
        case "$unset" =>
          fields.keys.foldLeft(acc)((d, path) => unsetPath(d, path, pred))
        case "$rename" =>
          fields.foldLeft(acc) { case (d, (from, to)) =>
            renamePath(d, from, to.toString, pred)
          }
        case "$inc" =>
          fields.foldLeft(acc) { case (d, (path, v)) =>
            setPath(d, path, pred, old => coalesce(old, lit(0)) + toLit(v))
          }
        case "$mul" =>
          fields.foldLeft(acc) { case (d, (path, v)) =>
            setPath(d, path, pred, old => coalesce(old, lit(0)) * toLit(v))
          }
        case "$min" =>
          fields.foldLeft(acc) { case (d, (path, v)) =>
            setPath(d, path, pred, old =>
              when(old.isNull, toLit(v)).otherwise(least(old, toLit(v))))
          }
        case "$max" =>
          fields.foldLeft(acc) { case (d, (path, v)) =>
            setPath(d, path, pred, old =>
              when(old.isNull, toLit(v)).otherwise(greatest(old, toLit(v))))
          }
        case "$currentDate" =>
          fields.keys.foldLeft(acc)((d, path) =>
            setPath(d, path, pred, _ => current_timestamp()))
        case "$push" =>
          // plain value appends; the modifier form {$each, $position?,
          // $sort?, $slice?} applies in Mongo's documented order:
          // insert-at-position, then sort, then slice. $sort supports the
          // scalar directions 1/-1 (sorting an array of documents by an
          // embedded field has no literal-array analog here). Negative
          // $position counts from the end; negative $slice keeps the
          // LAST |n| elements.
          fields.foldLeft(acc) { case (d, (path, v)) =>
            setPath(d, path, pred, old => v match {
              case m: Map[_, _]
                  if m.asInstanceOf[Map[String, Any]].contains("$each") =>
                val mm = m.asInstanceOf[Map[String, Any]]
                val items = mm("$each") match {
                  case s: Seq[_] => array(s.map(toLit): _*)
                  case other => throw new IllegalArgumentException(
                    s"$$push $$each expects an array: $other")
                }
                val base = coalesce(old, array())
                val inserted = mm.get("$position") match {
                  case None => concat(base, items)
                  case Some(p0) =>
                    val p = p0 match {
                      case n: Number => n.intValue()
                      case other => throw new IllegalArgumentException(
                        s"$$push $$position: $other")
                    }
                    val pos =
                      if (p >= 0) least(lit(p), size(base))
                      else greatest(size(base) + p, lit(0))
                    concat(slice(base, lit(1), pos), items,
                      slice(base, pos + 1, size(base) - pos))
                }
                val sorted = mm.get("$sort") match {
                  case None => inserted
                  // any numeric 1/-1 (a JSON-decoded doc may carry Long or
                  // Double), consistent with $position/$slice operands
                  case Some(n: Number) if n.intValue() == 1 =>
                    array_sort(inserted)
                  case Some(n: Number) if n.intValue() == -1 =>
                    reverse(array_sort(inserted))
                  case Some(other) => throw new IllegalArgumentException(
                    s"$$push $$sort supports 1/-1 here: $other")
                }
                mm.get("$slice") match {
                  case None => sorted
                  case Some(n0) =>
                    val n = n0 match {
                      case x: Number => x.intValue()
                      case other => throw new IllegalArgumentException(
                        s"$$push $$slice: $other")
                    }
                    if (n >= 0) slice(sorted, lit(1), lit(n))
                    else slice(sorted,
                      greatest(size(sorted) + n + 1, lit(1)),
                      least(lit(-n), size(sorted)))
                }
              case _ => array_append(coalesce(old, array()), toLit(v))
            })
          }
        case "$addToSet" =>
          // plain value or {$each: [...]} — both via array_union dedup
          fields.foldLeft(acc) { case (d, (path, v)) =>
            val toAdd = v match {
              case m: Map[_, _]
                  if m.asInstanceOf[Map[String, Any]].contains("$each") =>
                m.asInstanceOf[Map[String, Any]]("$each") match {
                  case s: Seq[_] => array(s.map(toLit): _*)
                  case other => throw new IllegalArgumentException(
                    s"$$addToSet $$each expects an array: $other")
                }
              case _ => array(toLit(v))
            }
            setPath(d, path, pred, old =>
              array_union(coalesce(old, array()), toAdd))
          }
        case "$pull" =>
          // literal form removes equal elements; a condition doc
          // ({$gt: 5} or {field: {...}} over struct elements) removes
          // every element matching it — same match semantics as the
          // $elemMatch query operator, so the two can't drift apart
          fields.foldLeft(acc) { case (d, (path, v)) =>
            val matches: Column => Column = v match {
              case m: Map[_, _] =>
                val mm = m.asInstanceOf[Map[String, Any]]
                x => graft.query.QueryCompiler.elemMatchPredicate(x, mm)
              case _ => x => x <=> toLit(v)
            }
            setPath(d, path, pred, old => filter(old, x => !matches(x)))
          }
        case "$pullAll" =>
          // remove ALL instances of each listed value (no dedup of
          // survivors — array_except would collapse them)
          fields.foldLeft(acc) { case (d, (path, v)) =>
            val vals = v match {
              case s: Seq[_] => s.map(toLit)
              case other => throw new IllegalArgumentException(
                s"$$pullAll expects an array, got $other")
            }
            // foldLeft, not reduce: {$pullAll: {f: []}} is a valid no-op
            setPath(d, path, pred, old => filter(old,
              x => vals.map(lv => !(x <=> lv))
                .foldLeft(lit(true))(_ && _)))
          }
        case "$pop" =>
          fields.foldLeft(acc) { case (d, (path, v)) =>
            val dir = toScalaLit(v) match {
              case n: Number => n.intValue()
              case other => throw new IllegalArgumentException(
                s"$$pop expects 1 or -1, got $other")
            }
            setPath(d, path, pred, old =>
              if (dir >= 0) slice(old, lit(1), greatest(size(old) - 1, lit(0)))
              else slice(old, lit(2), greatest(size(old) - 1, lit(0))))
          }
        case "$bit" =>
          // {$bit: {field: {and|or|xor: <int>}}} — bitwise update
          fields.foldLeft(acc) { case (d, (path, v)) =>
            val mm = v match {
              case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
              case other => throw new IllegalArgumentException(
                s"$$bit expects {and|or|xor: int}: $other")
            }
            require(mm.size == 1, s"$$bit expects exactly one op: $mm")
            val (bop, n0) = mm.head
            val n = n0 match {
              case x: Number => lit(x.longValue())
              case other => throw new IllegalArgumentException(
                s"$$bit operand: $other")
            }
            setPath(d, path, pred, old0 => {
              val old = coalesce(old0, lit(0L))
              bop match {
                case "and" => old.bitwiseAND(n)
                case "or"  => old.bitwiseOR(n)
                case "xor" => old.bitwiseXOR(n)
                case other => throw new IllegalArgumentException(
                  s"$$bit op: $other")
              }
            })
          }
        case other =>
          throw new IllegalArgumentException(s"unsupported update operator: $other")
      }
    }

  /** Runs an update's `writes` against the match as it stood BEFORE the
    * update. With `snapshot`, `pred` is evaluated once into a hidden
    * column ahead of every write (and dropped after): each write
    * rewrites columns the predicate may read, and a lazily composed
    * `when(pred, …)` in a later write would otherwise re-read the new
    * values, so `{$set: {cat: "done"}, $inc: {n: 1}}` under the query
    * `{cat: "x"}` would skip the `$inc`. A literal `true` or a lone
    * write needs no snapshot. */
  private def withMatch(df: DataFrame, pred: Column, snapshot: Boolean)(
      writes: (DataFrame, Column) => DataFrame): DataFrame =
    if (!snapshot) writes(df, pred)
    else writes(df.withColumn(MatchCol, pred), col(MatchCol)).drop(MatchCol)

  private val MatchCol = "__upd_match"

  /** Replacement-document branch: id kept, listed fields set, all other
    * top-level fields nulled on matching rows (Mongo replace semantics;
    * reference dispatch db/wrapper.go:153-157). */
  /** Mongo 4.2 pipeline-form update (`update: [stage, …]`): stages are
    * aggregation stages whose expressions read the document — unlike the
    * classic operators' literal values. Mongo allows exactly
    * `$set`/`$addFields`, `$unset`/`$project`, `$replaceRoot`/
    * `$replaceWith`; this engine compiles the first five ($project is a
    * curated rejection pointing at $unset, which expresses the same
    * reshape without conditional schema surgery). Only rows matching
    * `pred` change; every stage's expressions are evaluated against the
    * PRE-stage document (computed in one `withColumns` batch before any
    * field is rewritten — `{$set: {a: "$b", b: "$a"}}` swaps). */
  def applyUpdatePipeline(df: DataFrame, pred: Column,
      stages: Seq[Any], idCol: String = "_id"): DataFrame = {
    implicit val af: ArrayFilters = ArrayFilters.empty
    def asDoc(x: Any, what: String): Map[String, Any] = x match {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      case other => throw new IllegalArgumentException(
        s"$what expects a document, got $other")
    }
    withMatch(df, pred, snapshot = true) { (staged, p) =>
      stages.foldLeft(staged) { (acc, stageRaw) =>
        val stage = asDoc(stageRaw, "update pipeline stage")
        require(stage.size == 1,
          s"update pipeline stage: exactly one operator, got ${stage.keys}")
        stage.head match {
          case ("$set", spec) => pipelineSet(acc, p, asDoc(spec, "$set"))
          case ("$addFields", spec) =>
            pipelineSet(acc, p, asDoc(spec, "$addFields"))
          case ("$unset", spec) =>
            val paths = spec match {
              case s: Seq[_] => s.map(_.toString)
              case one => Seq(one.toString)
            }
            paths.foldLeft(acc)((d, path) => unsetPath(d, path, p))
          case ("$replaceWith", spec) =>
            pipelineReplaceRoot(acc, p, spec, idCol)
          case ("$replaceRoot", spec) =>
            pipelineReplaceRoot(acc, p,
              asDoc(spec, "$replaceRoot").getOrElse("newRoot",
                throw new IllegalArgumentException(
                  "$replaceRoot requires newRoot")), idCol)
          case ("$project", _) => throw new IllegalArgumentException(
            "update pipeline $project: unsupported — conditional schema " +
              "surgery has no columnar equivalent; use $unset for removals " +
              "and $set for computed fields")
          case (other, _) => throw new IllegalArgumentException(
            s"update pipeline: unsupported stage $other " +
              "($set/$addFields/$unset/$replaceRoot/$replaceWith)")
        }
      }
    }
  }

  /** One pipeline $set/$addFields stage: all expressions evaluated
    * against the pre-stage document in one batch, then written through
    * the pred-aware nested-path writer. */
  private def pipelineSet(df: DataFrame, pred: Column,
      fields: Map[String, Any])(implicit af: ArrayFilters): DataFrame = {
    import graft.pipeline.PipelineCompiler.expr2col
    val tmp = fields.keys.zipWithIndex
      .map { case (p, i) => p -> s"__updpipe_$i" }.toMap
    val staged = df.withColumns(
      fields.map { case (p, e) => tmp(p) -> expr2col(e) })
    val applied = fields.keys.foldLeft(staged) { (d, p) =>
      setPath(d, p, pred, _ => col(tmp(p)))
    }
    applied.drop(tmp.values.toSeq: _*)
  }

  /** Pipeline $replaceRoot/$replaceWith: the new root must compile to a
    * struct; matched rows take its fields (absent fields go null), other
    * rows keep theirs. `idCol` is preserved, like replacement updates. */
  private def pipelineReplaceRoot(df: DataFrame, pred: Column,
      newRoot: Any, idCol: String): DataFrame = {
    import graft.pipeline.PipelineCompiler.expr2col
    val rootCol = expr2col(newRoot)
    val rootType = df.select(rootCol.as("__r")).schema.head.dataType match {
      case s: org.apache.spark.sql.types.StructType => s
      case other => throw new IllegalArgumentException(
        s"update pipeline $$replaceRoot: newRoot must be a document, " +
          s"got $other")
    }
    val staged = df.withColumn("__updroot", rootCol)
    val newNames = rootType.fieldNames.toSeq
    val existing = df.columns.toSeq.filterNot(_ == MatchCol)
    val kept = existing.filterNot(_ == idCol).foldLeft(staged) { (d, c) =>
      if (newNames.contains(c))
        d.withColumn(c, when(pred, col("__updroot").getField(c))
          .otherwise(col(c)))
      else
        d.withColumn(c, when(pred, lit(null).cast(d.schema(c).dataType))
          .otherwise(col(c)))
    }
    newNames.filterNot(existing.contains).foldLeft(kept) { (d, c) =>
      d.withColumn(c, when(pred, col("__updroot").getField(c))
        .otherwise(lit(null)))
    }.drop("__updroot")
  }

  private def applyReplacement(df: DataFrame, pred: Column,
      doc: Map[String, Any], idCol: String): DataFrame = {
    val existing = df.columns.toSeq.filterNot(_ == MatchCol)
    val replaced = existing.filterNot(_ == idCol).foldLeft(df) { (d, c) =>
      doc.get(c) match {
        case Some(v) => d.withColumn(c, when(pred, toLit(v)).otherwise(col(c)))
        case None =>
          d.withColumn(c, when(pred, lit(null).cast(d.schema(c).dataType))
            .otherwise(col(c)))
      }
    }
    // brand-new fields introduced by the replacement doc
    doc.keys.filterNot(existing.contains).foldLeft(replaced) { (d, c) =>
      d.withColumn(c, when(pred, toLit(doc(c))).otherwise(lit(null)))
    }
  }

  // ---- nested-path helpers (bsonutil.GetDottedKeyName analog) ----

  /** Set `path` to `mk(oldValue)` on rows matching `pred`, keeping the old
    * value elsewhere. Creates missing top-level columns; supports nested
    * struct paths on existing struct columns via `withField`. */
  /** Positional-update context: `arrayFilters` keyed by their `$[ident]`
    * identifier (each filter document uses exactly one identifier —
    * Mongo's rule), plus the raw query document, which the first-match
    * `$` operator needs to locate its element condition. */
  final case class ArrayFilters(byIdent: Map[String, Map[String, Any]],
      query: Map[String, Any] = Map.empty)
  object ArrayFilters {
    val empty: ArrayFilters = ArrayFilters(Map.empty)
    def parse(afs: Seq[Map[String, Any]],
        query: Map[String, Any] = Map.empty): ArrayFilters =
      ArrayFilters(afs.map { f =>
        require(f.nonEmpty, "empty arrayFilter document")
        val idents = f.keys.map(_.split('.').head).toSet
        require(idents.size == 1,
          s"arrayFilter must use a single identifier: $f")
        idents.head -> f
      }.toMap, query)
  }

  private val PosSeg = """\$\[(\w*)\]""".r

  /** One element-level comparison: `{$op: arg}` against `target`. */
  private def opCond(target: Column, op: String, a: Any): Column = op match {
    case "$eq"  => target === toLit(a)
    case "$ne"  => !(target <=> toLit(a))
    case "$gt"  => target > toLit(a)
    case "$gte" => target >= toLit(a)
    case "$lt"  => target < toLit(a)
    case "$lte" => target <= toLit(a)
    case "$in"  => a match {
      case s: Seq[_] => target.isin(s.map(toScalaLit): _*)
      case other => throw new IllegalArgumentException(s"$$in: $other")
    }
    case other => throw new IllegalArgumentException(
      s"element-level operator $other")
  }

  /** A condition document (or literal) against one value: either all
    * `$op` keys, or a bare literal equality. */
  private def condDoc(target: Column, cond: Any): Column = cond match {
    case m: Map[_, _]
        if m.asInstanceOf[Map[String, Any]].keys.forall(_.startsWith("$")) =>
      m.asInstanceOf[Map[String, Any]]
        .map { case (k, v) => opCond(target, k, v) }.reduce(_ && _)
    case other => target === toLit(other)
  }

  /** Element-level predicate for `$[ident]`: the filter's keys address
    * the element itself (`ident`) or its struct fields (`ident.sub`). */
  private def elemPred(filter: Map[String, Any], ident: String,
      x: Column): Column =
    filter.map { case (k, v) =>
      val target =
        if (k == ident) x
        else {
          require(k.startsWith(ident + "."),
            s"arrayFilter key $k must address $ident")
          k.stripPrefix(ident + ".").split('.').foldLeft(x)(_.getField(_))
        }
      condDoc(target, v)
    }.reduce(_ && _)

  /** First-match `$` element predicate, derived from the query document's
    * condition on the SAME array path — Mongo's rule for the positional
    * operator. Supports literal equality, operator docs, and $elemMatch
    * (with struct-field sub-conditions). */
  private def firstMatchPred(query: Map[String, Any], arrPath: String,
      x: Column): Column = {
    val cond = query.getOrElse(arrPath,
      throw new IllegalArgumentException(
        s"positional $$ requires the query to constrain '$arrPath'"))
    cond match {
      case m: Map[_, _]
          if m.asInstanceOf[Map[String, Any]].contains("$elemMatch") =>
        m.asInstanceOf[Map[String, Any]]("$elemMatch") match {
          case em: Map[_, _] =>
            em.asInstanceOf[Map[String, Any]].map {
              case (k, v) if k.startsWith("$") => opCond(x, k, v)
              case (k, v) =>
                condDoc(k.split('.').foldLeft(x)(_.getField(_)), v)
            }.reduce(_ && _)
          case other => throw new IllegalArgumentException(
            s"$$elemMatch: $other")
        }
      case other => condDoc(x, other)
    }
  }

  private[graft] def setPath(df: DataFrame, path: String, pred: Column,
      mk: Column => Column)(
      implicit af: ArrayFilters = ArrayFilters.empty): DataFrame = {
    val parts = path.split('.')
    val posIdx = parts.indexWhere(p =>
      p == "$" || PosSeg.pattern.matcher(p).matches)
    if (posIdx >= 0) return setPositional(df, parts, posIdx, pred, mk)
    val top = parts.head
    if (parts.length == 1) {
      val old = if (df.columns.contains(top)) col(top) else lit(null)
      df.withColumn(top, when(pred, mk(old)).otherwise(old))
    } else {
      require(df.columns.contains(top),
        s"nested update requires existing struct column '$top' (path $path)")
      val rest = parts.tail.mkString(".")
      val old = col(path)
      df.withColumn(top,
        when(pred, col(top).withField(rest, mk(old))).otherwise(col(top)))
    }
  }

  /** Apply `mk` at `parts` BELOW an array-element value `cur`, recursing
    * through further positional segments — `arr.$[].inner.$[j].score`
    * compiles to nested `transform` lambdas with the per-level arrayFilter
    * predicate applied at its own level (reference pass-through
    * db/wrapper.go:153-157 carries such paths to the server). The
    * first-match `$` operator stays top-level only: Mongo itself forbids
    * `$` inside nested arrays. */
  private def setInElement(cur: Column, parts: Array[String],
      mk: Column => Column)(implicit af: ArrayFilters): Column = {
    if (parts.isEmpty) return mk(cur)
    parts.head match {
      case "$" => throw new IllegalArgumentException(
        "positional $ is not allowed below another positional segment")
      case PosSeg("") =>
        transform(cur, x => setInElement(x, parts.tail, mk))
      case PosSeg(ident) =>
        val f = af.byIdent.getOrElse(ident,
          throw new IllegalArgumentException(s"no arrayFilter for $$[$ident]"))
        transform(cur, x =>
          when(elemPred(f, ident, x), setInElement(x, parts.tail, mk))
            .otherwise(x))
      case _ =>
        // consecutive plain field segments down to the next positional
        val n = parts.indexWhere(p =>
          p == "$" || PosSeg.pattern.matcher(p).matches) match {
          case -1 => parts.length
          case i  => i
        }
        val fieldPath = parts.take(n).mkString(".")
        val inner = parts.take(n).foldLeft(cur)(_.getField(_))
        cur.withField(fieldPath, setInElement(inner, parts.drop(n), mk))
    }
  }

  /** Mongo's positional updates: `arr.$[]` applies `mk` to every array
    * element, `arr.$[ident]` only to elements matching the `ident`
    * arrayFilter, and a `.sub` suffix addresses a field of each struct
    * element — all codegen'd `transform` lambdas, still zero shuffles.
    * Positional segments NEST (`arr.$[].inner.$[j]`) via
    * [[setInElement]]. */
  private def setPositional(df: DataFrame, parts: Array[String],
      posIdx: Int, pred: Column, mk: Column => Column)(
      implicit af: ArrayFilters): DataFrame = {
    require(posIdx > 0, s"$$[] needs an array path prefix")
    val subParts = parts.drop(posIdx + 1)
    val arrParts = parts.take(posIdx)
    val top = arrParts.head
    require(df.columns.contains(top),
      s"positional update requires existing column '$top'")
    val arrCol = col(arrParts.mkString("."))
    def applied(x: Column): Column = setInElement(x, subParts, mk)
    val updated = parts(posIdx) match {
      case "$" =>
        // first matching element only (Mongo's positional operator):
        // the element condition comes from the query's constraint on
        // this array path. A row with no matching element passes
        // through unchanged (documented divergence: Mongo errors;
        // under spark.graft.strictMongo the row raises instead).
        val arrPath = arrParts.mkString(".")
        val matchIdxs = filter(
          transform(sequence(lit(1), size(arrCol)), i =>
            when(firstMatchPred(af.query, arrPath,
              element_at(arrCol, i)), i)),
          c => c.isNotNull)
        val firstIdx = try_element_at(matchIdxs, lit(1))
        val transformed = transform(arrCol, (x, i0) =>
          when(firstIdx.isNotNull && (i0 + 1 === firstIdx), applied(x))
            .otherwise(x))
        if (graft.Strict.strictMongo(df.sparkSession))
          when(firstIdx.isNull, raise_error(lit(
            s"[spark.graft.strictMongo] positional $$ matched no element " +
              s"of '$arrPath'"))).otherwise(transformed)
        else transformed
      case PosSeg("") => transform(arrCol, x => applied(x))
      case PosSeg(ident) =>
        val f = af.byIdent.getOrElse(ident,
          throw new IllegalArgumentException(
            s"no arrayFilter for $$[$ident]"))
        transform(arrCol, x =>
          when(elemPred(f, ident, x), applied(x)).otherwise(x))
    }
    if (arrParts.length == 1)
      df.withColumn(top, when(pred, updated).otherwise(arrCol))
    else
      df.withColumn(top,
        when(pred, col(top).withField(arrParts.tail.mkString("."), updated))
          .otherwise(col(top)))
  }

  /** True only for a LITERAL `true` predicate (an empty query document
    * compiles to `lit(true)`). Decided on the Catalyst expression, never
    * its string rendering — a boolean column that happens to be named
    * `true` is an attribute reference, not a literal, and must stay on
    * the predicated path. */
  private def isUnconditional(pred: Column): Boolean =
    org.apache.spark.sql.graftbridge.ColumnBridge.isLiteralTrue(pred)

  /** Mongo $unset removes the field. Whole-table: drop the column / struct
    * field. Predicated: null it on matching rows (schema is static in Spark —
    * documented divergence, SURVEY.md §7 "What's hard"). */
  private[graft] def unsetPath(df: DataFrame, path: String, pred: Column)
      : DataFrame = {
    val parts = path.split('.')
    val top = parts.head
    if (!df.columns.contains(top)) return df
    val unconditional = isUnconditional(pred)
    if (!unconditional && graft.Strict.strictMongo(df.sparkSession))
      throw new IllegalStateException(
        s"[spark.graft.strictMongo] predicated $$unset of '$path' NULLs " +
          "the field (static columnar schema); Mongo removes it per-document")
    if (parts.length == 1) {
      if (unconditional) df.drop(top)
      else df.withColumn(top,
        when(pred, lit(null).cast(df.schema(top).dataType)).otherwise(col(top)))
    } else {
      val rest = parts.tail.mkString(".")
      if (unconditional) df.withColumn(top, col(top).dropFields(rest))
      else df.withColumn(top,
        when(pred, col(top).withField(rest, lit(null))).otherwise(col(top)))
    }
  }

  /** Mongo $rename: value moves from `from` to `to`; `from` is removed.
    * Top-level whole-table rename is a pure metadata operation. */
  private[graft] def renamePath(df: DataFrame, from: String, to: String,
      pred: Column): DataFrame = {
    val unconditional = isUnconditional(pred)
    if (unconditional && !from.contains('.') && !to.contains('.')) {
      df.withColumnRenamed(from, to)
    } else {
      val moved = setPath(df, to, pred, _ => col(from))
      unsetPath(moved, from, pred)
    }
  }
}
