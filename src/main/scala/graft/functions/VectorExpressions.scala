package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  Generator, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator,
  CodegenContext, CodegenFallback, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, TypeUtils}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Native Catalyst expression for embedding dot products.
  *
  * The composable alternative — `aggregate(zip_with(a, b, _*_), 0.0, _+_)`
  * — allocates an intermediate array and walks interpreted lambda calls per
  * element; at millions of candidate pairs × 64 dims that dominated the
  * similarity benchmarks (q22 took 547 s at sf0.1). This expression is a
  * tight primitive loop over the two `ArrayData` buffers with full
  * whole-stage-codegen support: no allocation, no virtual calls, stays
  * inside the generated stage. Accumulation is index-ordered double math —
  * same numeric contract as the lambda version and the DuckDB oracles.
  *
  * Both children must be arrays of Float or Double (mixed allowed — e.g. a
  * stored `Array[Float]` embedding against a literal `Array[Double]` LSH
  * hyperplane).
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"vec_dot expects float/double arrays, got ${left.dataType} / ${right.dataType}")
  }

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val lf = elemIsFloat(left); val rf = elemIsFloat(right)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val lGet = if (elemIsFloat(left)) s"(double) $x.getFloat($i)"
                 else s"$x.getDouble($i)"
      val rGet = if (elemIsFloat(right)) s"(double) $y.getFloat($i)"
                 else s"$y.getDouble($i)"
      s"""
         |int $n = Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $lGet * $rGet;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

/** Squared L2 distance between two float/double array columns with the
  * EXACT semantics of `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)),
  * 0.0D, (acc,e) => acc+e)` — index-ordered accumulation starting at 0.0,
  * null when either array is null, when the lengths differ (zip_with pads
  * the shorter side with null, which nullifies the fold), or when any
  * element is null. The lambda form walks two interpreted HOFs and an
  * intermediate array per row; this is one codegen'd primitive loop
  * (the [[FloatVecDot]] rationale — candidate-pair coarse ranking
  * evaluates it once per pair).
  */
case class FloatVecSqDist(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"vec_sqdist expects float/double arrays, got ${left.dataType} / ${right.dataType}")
  }

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val lf = elemIsFloat(left); val rf = elemIsFloat(right)
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      val d = xv - yv
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val diff = ctx.freshName("diff")
      val bad = ctx.freshName("bad")
      val lGet = if (elemIsFloat(left)) s"(double) $x.getFloat($i)"
                 else s"$x.getDouble($i)"
      val rGet = if (elemIsFloat(right)) s"(double) $y.getFloat($i)"
                 else s"$y.getDouble($i)"
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  boolean $bad = false;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { $bad = true; break; }
         |    double $diff = $lGet - $rGet;
         |    $acc += $diff * $diff;
         |  }
         |  if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

/** Scan-fused (optionally centered, optionally scaled) matrix projection:
  * out_i = postScale_i · Σ_j (x_j − mu_j) · rows_i_j, accumulated
  * index-ordered from 0.0 — the EXACT per-coordinate semantics of the
  * lambda form `aggregate(zip_with(centered, rowLit, _*_), 0.0, _+_)`
  * (with `centered = zip_with(x, muLit, _-_)` when `mu` is present, and a
  * trailing `* lit(postScale_i)` when a scale is present).
  *
  * The lambda form evaluates k · d interpreted HOF lambdas and allocates
  * k + 1 intermediate arrays PER ROW (the centered subtree is re-evaluated
  * inside every coordinate's tree — CollapseProject inlines it), and the
  * plan carries k separate aggregate/zip_with trees whose analysis +
  * per-batch setup dominated the (tiny) execution at bench scale. This is
  * ONE plan node evaluating a tight primitive loop per row.
  *
  * Null semantics, matching zip_with's null-padding + null-propagating
  * fold: a null input array, a length ≠ d, or any null element nullifies
  * EVERY output coordinate (each coordinate's fold touches every j) — the
  * result array itself is never null, its k elements are (matching
  * `array(aggregate(...), ...)`, whose CreateArray is non-nullable with
  * nullable children).
  */
case class VecMatProject(child: Expression,
    mu: Option[Seq[Double]],
    rows: Seq[Seq[Double]],
    postScale: Option[Seq[Double]])
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  require(rows.nonEmpty, "vec_mat_project: rows must be non-empty")
  private val d: Int = rows.head.length
  require(rows.forall(_.length == d),
    s"vec_mat_project: ragged projection rows (expected width $d)")
  require(mu.forall(_.length == d),
    s"vec_mat_project: mu length ${mu.map(_.length).getOrElse(0)} != $d")
  require(postScale.forall(_.length == rows.length),
    "vec_mat_project: postScale length must equal the row count")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = false

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"vec_mat_project expects a float/double array, got $other")
    }

  @transient private lazy val matArr: Array[Array[Double]] =
    rows.map(_.toArray).toArray
  @transient private lazy val muArr: Array[Double] = mu.map(_.toArray).orNull
  @transient private lazy val scaleArr: Array[Double] =
    postScale.map(_.toArray).orNull
  @transient private lazy val childIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val k = matArr.length
    val v = child.eval(input)
    var xs: Array[Double] = null
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      if (arr.numElements() == d) {
        val tmp = new Array[Double](d)
        var j = 0
        var ok = true
        while (ok && j < d) {
          if (arr.isNullAt(j)) ok = false
          else {
            tmp(j) = if (childIsFloat) arr.getFloat(j).toDouble
                     else arr.getDouble(j)
            j += 1
          }
        }
        if (ok) xs = tmp
      }
    }
    if (xs == null) {
      // null input / ragged length / null element: every coordinate null
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        new Array[Any](k))
    } else {
      val out = new Array[Double](k)
      var i = 0
      while (i < k) {
        val row = matArr(i)
        var acc = 0.0
        var j = 0
        if (muArr == null) {
          while (j < d) { acc += xs(j) * row(j); j += 1 }
        } else {
          while (j < d) { acc += (xs(j) - muArr(j)) * row(j); j += 1 }
        }
        if (scaleArr != null) acc *= scaleArr(i)
        out(i) = acc
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** The per-row work of [[HyperplaneBuckets]] and [[CosinePairs]], as
  * static helpers that generated code calls directly. Both read vectors
  * the way [[FloatVecDot]] does — element by element, a float widened
  * to double, a null element as the 0 its slot holds — and take dot
  * products as its sequential multiply-accumulate over the common
  * prefix, so their results are bit for bit those of the `vec_dot`
  * Column forms they replace. */
object VectorKernels {

  /** Component i of LSH hyperplane j: hash60("plane<j>-<i>") % 2001 −
    * 1000, a pure function of (j, i), so a bucket saved by one session
    * is the bucket a later session computes. */
  def planeVector(j: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { i =>
      (TextKernels.md5Prefix60(s"plane$j-$i") % 2001L - 1000L).toDouble
    }

  /** The planes of tables `firstTable until firstTable + tables`, table
    * by table: row `t · nPlanes + j` is plane j of the t-th table, whose
    * plane index is `table · 1000 + j`. */
  def planeMatrix(firstTable: Int, tables: Int, nPlanes: Int, dim: Int)
      : Array[Array[Double]] =
    Array.tabulate(tables * nPlanes) { r =>
      planeVector((firstTable + r / nPlanes) * 1000 + r % nPlanes, dim)
    }

  private def doubles(v: ArrayData, isFloat: Boolean): Array[Double] = {
    val n = v.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      out(i) = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      i += 1
    }
    out
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** One bucket id per table of `planes` (see [[planeMatrix]]): bit j is
    * set when the dot with plane j is >= 0 or NaN — Spark's `>=` ranks
    * NaN above every value. A null vector is bucket 0 in every table. */
  def hyperplaneBuckets(v: ArrayData, isFloat: Boolean,
      planes: Array[Array[Double]], nPlanes: Int): ArrayData = {
    val out = new Array[Long](planes.length / nPlanes)
    if (v != null) {
      val x = doubles(v, isFloat)
      var t = 0
      while (t < out.length) {
        var b = 0L
        var j = 0
        while (j < nPlanes) {
          val d = dot(x, planes(t * nPlanes + j))
          if (d >= 0.0 || java.lang.Double.isNaN(d)) b += 1L << j
          j += 1
        }
        out(t) = b
        t += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** The qualifying pairs of one group of (id, vector) structs: every
    * pair with id_a < id_b in `ordering` whose cosine is >= `threshold`
    * or NaN, the cosine being dot / (norm_a · norm_b) with norms
    * sqrt(dot(v, v)), and 0 when that product is 0. Structs with a null
    * id or vector take no part; equal ids never pair. Pairs stream out
    * of an iterator over the upper triangle, never buffered.
    *
    * `firstHit` (semDeDup's rule) emits, for each row b, only its first
    * qualifying pair, the earliest id_a in `ordering`, and stops
    * scanning b's earlier rows there: the set of id_b is the all-pairs
    * one, and a cell full of duplicates costs about one cosine per row.
    *
    * Two valves fail fast: more than `maxCellRows` rows in the group, or
    * (all-pairs only; first-hit emits at most one pair per row) more
    * than `maxGroupPairs` qualifying pairs out of it. Their messages name
    * the caller, semDeDup for `firstHit` and embeddingNearDup otherwise,
    * with its remedy, and `group` names the group. */
  def cosinePairs(rows: ArrayData, idType: DataType, ordering: Ordering[Any],
      isFloat: Boolean, threshold: Double, firstHit: Boolean,
      maxCellRows: Long, maxGroupPairs: Long,
      group: => String): Iterator[InternalRow] = {
    val ids = new scala.collection.mutable.ArrayBuffer[Any]
    val vecs = new scala.collection.mutable.ArrayBuffer[Array[Double]]
    var k = 0
    while (k < rows.numElements()) {
      if (!rows.isNullAt(k)) {
        val r = rows.getStruct(k, 2)
        if (!r.isNullAt(0) && !r.isNullAt(1)) {
          ids += InternalRow.copyValue(r.get(0, idType))
          vecs += doubles(r.getArray(1), isFloat)
        }
      }
      k += 1
    }
    val n = ids.length
    if (n > maxCellRows) throw new IllegalStateException(
      if (firstHit)
        s"semDeDup: cell '$group' holds $n rows > " +
          s"spark.graft.semdedup.maxCellRows=$maxCellRows — the " +
          "clustering is degenerate for this corpus (cells should stay " +
          "near targetCell). Re-cluster with a larger k / smaller " +
          "targetCell, or raise the valve."
      else
        s"embeddingNearDup: block '$group' holds $n rows > " +
          s"spark.graft.semdedup.maxCellRows=$maxCellRows — the block " +
          "domain is degenerate for this corpus. Use blocks that " +
          "scale with the data, or raise the valve.")
    val order = Array.range(0, n).sortBy(ids(_))(ordering)
    val id = order.map(ids(_))
    val v = order.map(vecs(_))
    val norm = v.map(x => math.sqrt(dot(x, x)))
    // equal ids share a rank, so the per-pair test is an int compare
    val rank = new Array[Int](n)
    var i = 1
    while (i < n) {
      rank(i) = rank(i - 1) +
        (if (ordering.compare(id(i - 1), id(i)) != 0) 1 else 0)
      i += 1
    }
    new Iterator[InternalRow] {
      private var a = 0
      private var b = 1
      private var emitted = 0L
      private var pair: InternalRow = _
      private def advance(): Unit =
        while (pair == null && b < n) {
          if (rank(a) != rank(b)) {
            val denom = norm(a) * norm(b)
            val c = if (denom == 0.0) 0.0 else dot(v(a), v(b)) / denom
            if (c >= threshold || java.lang.Double.isNaN(c)) {
              emitted += 1
              if (!firstHit && emitted > maxGroupPairs)
                throw new IllegalStateException(
                  s"embeddingNearDup: block '$group' emitted more than " +
                    s"spark.graft.semdedup.maxGroupPairs=$maxGroupPairs " +
                    "qualifying pairs — the corpus is duplicate-" +
                    "degenerate at this threshold. Raise the " +
                    "threshold, dedup exactly first, or raise the valve.")
              pair = InternalRow(id(a), id(b))
              // first hit: the rest of b's earlier rows are skipped
              if (firstHit) a = b - 1
            }
          }
          a += 1
          if (a == b) { b += 1; a = 0 }
        }
      advance()
      override def hasNext: Boolean = pair != null
      override def next(): InternalRow = {
        val p = pair
        pair = null
        advance()
        p
      }
    }
  }
}

private[functions] object VectorTypes {
  def isVector(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }
  def isFloatVector(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
}

/** `hyperplane_buckets(vec)`: array<bigint> of the random-hyperplane LSH
  * bucket ids of tables `firstTable until firstTable + tables`, each of
  * `nPlanes` sign bits over planes of length `dim` (see
  * [[VectorKernels.hyperplaneBuckets]]). One loop over a plane matrix the
  * generated code holds as a reference, where the Column form was
  * `tables × nPlanes` `vec_dot`s against literal arrays plus a `when` per
  * bit. Never null: a null vector is bucket 0 in every table. */
case class HyperplaneBuckets(child: Expression, nPlanes: Int, dim: Int,
    firstTable: Int, tables: Int) extends UnaryExpression {
  require(nPlanes >= 1 && nPlanes <= 64 && dim >= 0 && firstTable >= 0 &&
    tables >= 1,
    s"hyperplane_buckets: 1 to 64 planes, dim >= 0, tables >= 1; got " +
      s"$nPlanes planes, dim $dim, tables $firstTable+$tables")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "hyperplane_buckets"

  override def checkInputDataTypes(): TypeCheckResult =
    if (VectorTypes.isVector(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hyperplane_buckets expects a float/double array, got ${child.dataType}")

  @transient private lazy val planes: Array[Array[Double]] =
    VectorKernels.planeMatrix(firstTable, tables, nPlanes, dim)
  private def isFloat: Boolean = VectorTypes.isFloatVector(child.dataType)

  override def eval(input: InternalRow): Any =
    VectorKernels.hyperplaneBuckets(
      child.eval(input).asInstanceOf[ArrayData], isFloat, planes, nPlanes)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val m = ctx.addReferenceObj("planes", planes, "double[][]")
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  graft.functions.VectorKernels.hyperplaneBuckets(
      |    ${c.isNull} ? null : ${c.value}, $isFloat, $m, $nPlanes);"""
      .stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** `cosine_pairs(group, rows)`: a generator of the (id_a, id_b) pairs of
  * one group's `rows`, an array<struct<id, vec>> with `vec` a float or
  * double array (see [[VectorKernels.cosinePairs]]; `firstHit` keeps
  * each id_b's first pair only). Ids compare in SQL ordering, so any
  * orderable id type works, a struct too: a struct(order, id) id ranks
  * rows lexicographically with SQL's float edges (-0.0 equals 0.0, NaN
  * equals NaN and ranks highest). `group` is read only for a valve's
  * message. Interpreted on purpose: the work is the in-memory pair
  * loop, and the pairs stream out of an iterator. */
case class CosinePairs(group: Expression, rows: Expression,
    threshold: Double, firstHit: Boolean, maxCellRows: Long,
    maxGroupPairs: Long)
    extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(group, rows)

  private def fields: Option[(DataType, DataType)] = rows.dataType match {
    case ArrayType(StructType(Array(i, v)), _) => Some((i.dataType, v.dataType))
    case _ => None
  }
  private def idType: DataType = fields.get._1

  override def checkInputDataTypes(): TypeCheckResult = fields match {
    case Some((i, v)) if VectorTypes.isVector(v) =>
      TypeUtils.checkForOrderingExpr(i, prettyName)
    case _ => TypeCheckResult.TypeCheckFailure(
      "cosine_pairs expects an array of (id, float/double array) structs, " +
        s"got ${rows.dataType}")
  }

  override def prettyName: String = "cosine_pairs"

  override def elementSchema: StructType = StructType(Seq(
    StructField("id_a", idType, nullable = false),
    StructField("id_b", idType, nullable = false)))

  @transient private lazy val ordering: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(idType)
  @transient private lazy val isFloat: Boolean =
    VectorTypes.isFloatVector(fields.get._2)

  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    rows.eval(input) match {
      case null => Iterator.empty
      case a: ArrayData => VectorKernels.cosinePairs(a, idType, ordering,
        isFloat, threshold, firstHit, maxCellRows, maxGroupPairs,
        String.valueOf(group.eval(input)))
    }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(group = newChildren(0), rows = newChildren(1))
}

object VectorFunctions {
  /** Column-level dot product of two float/double array columns. */
  def vec_dot(a: Column, b: Column): Column =
    ColumnBridge.column(FloatVecDot(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column-level squared L2 distance (see [[FloatVecSqDist]]). */
  def vec_sqdist(a: Column, b: Column): Column =
    ColumnBridge.column(FloatVecSqDist(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column-level matrix projection (see [[VecMatProject]]). */
  def vec_mat_project(v: Column, mu: Option[Seq[Double]],
      rows: Seq[Seq[Double]],
      postScale: Option[Seq[Double]] = None): Column =
    ColumnBridge.column(VecMatProject(
      ColumnBridge.expression(v), mu, rows, postScale))

  /** Column-level LSH bucket ids (see [[HyperplaneBuckets]]). */
  def hyperplane_buckets(v: Column, nPlanes: Int, dim: Int,
      firstTable: Int, tables: Int): Column =
    ColumnBridge.column(HyperplaneBuckets(ColumnBridge.expression(v),
      nPlanes, dim, firstTable, tables))

  /** Column-level pair generator (see [[CosinePairs]]). */
  def cosine_pairs(group: Column, rows: Column, threshold: Double,
      firstHit: Boolean, maxCellRows: Long, maxGroupPairs: Long): Column =
    ColumnBridge.column(CosinePairs(ColumnBridge.expression(group),
      ColumnBridge.expression(rows), threshold, firstHit, maxCellRows,
      maxGroupPairs))
}
