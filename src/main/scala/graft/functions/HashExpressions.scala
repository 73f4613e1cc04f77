package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Cheap deterministic string hashing for hot hashed-feature paths.
  *
  * [[TextFunctions.hash60]] (the first 60 bits of md5, a native
  * expression reading the digest bytes) is oracle-reproducible but runs
  * a full MD5 block compression per call — measurable when the call
  * count is "one per n-gram of a 100 TB corpus" (DSIR's scoring pass). [[Fnv.hash60]] is
  * the published FNV-1a 64-bit fold, one multiply+xor per character,
  * masked to the same non-negative 60-bit range, and still reproducible
  * in plain integer SQL (DuckDB: HUGEINT multiply mod 2^64 + a low-bits
  * xor — no digest functions needed).
  *
  * The fold consumes Unicode CODE POINTS, not UTF-8 bytes: `substr`/
  * `ord` in the oracle SQL address characters, so defining the hash
  * over code points keeps both engines bit-identical for EVERY string,
  * not just ASCII. */
object Fnv {

  private val Prime = 1099511628211L // FNV-1a 64 prime
  private val Offset = -3750763034362895579L // 0xcbf29ce484222325

  /** FNV-1a 64 over code points, masked to [0, 2^60). */
  def hash60(s: String): Long = {
    var h = Offset
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      h = (h ^ cp) * Prime
      i += Character.charCount(cp)
    }
    h & ((1L << 60) - 1)
  }
}

/** `fnv_hash60(str)` — scalar expression, one static call inside
  * whole-stage codegen (the [[PorterStem]] pattern). */
case class FnvHash60(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(
        s"fnv_hash60 expects a string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    Fnv.hash60(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Fnv.hash60($c.toString())")

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(newChild)
}

object HashFunctions {
  /** Column-level [[Fnv.hash60]]. */
  def fnv_hash60(c: Column): Column =
    ColumnBridge.column(FnvHash60(ColumnBridge.expression(c)))
}
