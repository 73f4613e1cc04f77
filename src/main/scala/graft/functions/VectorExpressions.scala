package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
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
}
