package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Marker word groups (one bit per group) with a byte-keyed lookup: the
  * table behind every marker-counting kernel in [[TextKernels]]. `codes`
  * names the groups (the language codes of `LangMarkers`); a token that
  * appears in several groups scores for each of them, once per group —
  * the set membership `isin` tests. Equality is structural, so two
  * expressions over the same table stay semantically equal (subexpression
  * elimination). */
final case class MarkerTable(codes: Seq[String], groups: Seq[Seq[String]]) {
  require(codes.length == groups.length && groups.length <= 31,
    "MarkerTable: one code per group, at most 31 groups")

  override def toString: String = codes.mkString("markers[", ",", "]")

  private val entries: Array[(Array[Byte], Int)] =
    groups.zipWithIndex
      .flatMap { case (ms, g) => ms.distinct.map(_ -> (1 << g)) }
      .groupMapReduce(_._1)(_._2)(_ | _)
      .toArray.map { case (m, bits) => (m.getBytes(UTF_8), bits) }
  private val minLen: Int = entries.map(_._1.length).minOption
    .getOrElse(Int.MaxValue)
  private val maxLen: Int = entries.map(_._1.length).maxOption.getOrElse(-1)
  private val mask: Int = Integer.highestOneBit(entries.length * 4 + 1) - 1
  private val keys = new Array[Array[Byte]](mask + 1)
  private val bits = new Array[Int](mask + 1)
  entries.foreach { case (k, b) =>
    var slot = MarkerTable.hash(k, 0, k.length) & mask
    while (keys(slot) != null) slot = (slot + 1) & mask
    keys(slot) = k
    bits(slot) = b
  }
  val utf8Codes: Array[UTF8String] = codes.map(UTF8String.fromString).toArray

  /** Group bits of the token `a[off, off + len)`, 0 when it is no marker. */
  def lookup(a: Array[Byte], off: Int, len: Int): Int =
    if (len < minLen || len > maxLen) 0
    else {
      var slot = MarkerTable.hash(a, off, len) & mask
      var k = keys(slot)
      while (k != null) {
        if (k.length == len && java.util.Arrays.equals(k, 0, len, a, off,
            off + len)) return bits(slot)
        slot = (slot + 1) & mask
        k = keys(slot)
      }
      0
    }
}

object MarkerTable {
  private def hash(a: Array[Byte], off: Int, len: Int): Int = {
    var h = len
    var i = off
    while (i < off + len) { h = h * 31 + a(i); i += 1 }
    h ^ (h >>> 16)
  }
}

/** The per-row work of the native text expressions below, as static
  * helpers that generated code calls directly.
  *
  * Every kernel tokenizes the way `TextFunctions.tokens` does — split on
  * U+0020, drop empty tokens — but over the `UTF8String` bytes in place:
  * no token array, no per-token string. `split` goes through a Java
  * string, which replaces malformed UTF-8 with U+FFFD; a malformed input
  * is therefore repaired the same way first, so the kernels see exactly
  * the bytes the Column forms did. */
object TextKernels {

  /** 2^31 - 1, the modulus of `tokenHash` and the MinHash permutations. */
  private val HashMod = 2147483647L

  private final class Md5 {
    val md: MessageDigest = MessageDigest.getInstance("MD5")
    val out = new Array[Byte](16)
  }
  private val md5State = ThreadLocal.withInitial[Md5](() => new Md5)

  private val Und = UTF8String.fromString("und")

  private def prefix60(st: Md5): Long = {
    st.md.digest(st.out, 0, 16)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (st.out(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** First 60 bits of md5 of `a[off, off + len)` — the value of the first
    * 15 hex digits of the digest. */
  def md5Prefix60(a: Array[Byte], off: Int, len: Int): Long = {
    val st = md5State.get()
    st.md.update(a, off, len)
    prefix60(st)
  }

  def md5Prefix60(b: Array[Byte]): Long = md5Prefix60(b, 0, b.length)

  def md5Prefix60(s: String): Long = md5Prefix60(s.getBytes(UTF_8))

  def md5Prefix60(s: UTF8String): Long = s.getBaseObject match {
    case a: Array[Byte] =>
      md5Prefix60(a, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt,
        s.numBytes)
    case _ => md5Prefix60(s.getBytes)
  }

  /** The bytes `split(text, " ")` tokenizes: `a[off, end)`. */
  private final class Bytes(s: UTF8String) {
    private val t = if (s.isValid) s else UTF8String.fromString(s.toString)
    val (a, off): (Array[Byte], Int) = t.getBaseObject match {
      case b: Array[Byte] =>
        (b, (t.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt)
      case _ => (t.getBytes, 0)
    }
    val end: Int = off + t.numBytes
  }

  /** Walks the tokens of `b`, adding one to `scores(g)` for every group g
    * of `table` a token belongs to; returns the token count. */
  private def score(b: Bytes, table: MarkerTable, scores: Array[Int]): Int = {
    val a = b.a
    var n = 0
    var i = b.off
    while (i < b.end) {
      if (a(i) == ' ') i += 1
      else {
        val st = i
        while (i < b.end && a(i) != ' ') i += 1
        n += 1
        var bits = table.lookup(a, st, i - st)
        while (bits != 0) {
          scores(Integer.numberOfTrailingZeros(bits)) += 1
          bits &= bits - 1
        }
      }
    }
    n
  }

  /** Tokens of `s` in any group of `table`. */
  def markerScore(s: UTF8String, table: MarkerTable): Int = {
    val scores = new Array[Int](table.groups.length)
    score(new Bytes(s), table, scores)
    scores.sum
  }

  /** The code of the first group with the most marker hits; "und" when no
    * token is a marker (or `s` is null). */
  def langId(s: UTF8String, table: MarkerTable): UTF8String = {
    val scores = new Array[Int](table.groups.length)
    if (s != null) score(new Bytes(s), table, scores)
    var best = 0
    var total = 0
    var g = 0
    while (g < scores.length) {
      total += scores(g)
      if (scores(g) > scores(best)) best = g
      g += 1
    }
    if (total > 0) table.utf8Codes(best) else Und
  }

  /** Best group score minus the second best (0 on a tie). */
  def langIdMargin(s: UTF8String, table: MarkerTable): Int = {
    val scores = new Array[Int](table.groups.length)
    score(new Bytes(s), table, scores)
    var b1 = Int.MinValue
    var b2 = Int.MinValue
    scores.foreach { v =>
      if (v > b1) { b2 = b1; b1 = v }
      else if (v > b2) b2 = v
    }
    b1 - b2
  }

  /** `TextFunctions.qualityScore` in one pass: stopword ratio, ASCII-letter
    * ratio and a length term, in the same fixed-order double arithmetic. */
  def qualityScore(s: UTF8String, stopwords: MarkerTable): Double = {
    val b = new Bytes(s)
    val stop = new Array[Int](stopwords.groups.length)
    val nTok = score(b, stopwords, stop).toDouble
    var nAlpha = 0
    var i = b.off
    while (i < b.end) {
      val c = b.a(i)
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) nAlpha += 1
      i += 1
    }
    val stopRatio = stop.sum.toDouble / math.max(nTok, 1.0)
    val alphaRatio = nAlpha.toDouble / math.max(s.numChars.toDouble, 1.0)
    val lenScore = math.min(nTok / 100.0, 1.0)
    stopRatio * 0.4 + alphaRatio * 0.4 + lenScore * 0.2
  }

  /** MinHash signature of the word k-shingles of `s`: coordinate p is the
    * minimum over shingles of (h·(2p+3) + p²+1) mod (2^31−1), where h is
    * the md5-prefix hash of the shingle (its k tokens joined by one space)
    * mod 2^31−1. Null when `s` has fewer than k tokens. */
  def minhashSignature(s: UTF8String, k: Int, numPerms: Int): ArrayData = {
    val b = new Bytes(s)
    val a = b.a
    val starts = new Array[Int]((b.end - b.off + 1) / 2)
    val ends = new Array[Int](starts.length)
    var n = 0
    var i = b.off
    while (i < b.end) {
      if (a(i) == ' ') i += 1
      else {
        starts(n) = i
        while (i < b.end && a(i) != ' ') i += 1
        ends(n) = i
        n += 1
      }
    }
    if (n < k) return null
    val sig = Array.fill(numPerms)(Long.MaxValue)
    val st = md5State.get()
    var w = 0
    while (w + k <= n) {
      val last = w + k - 1
      // the shingle is one contiguous slice when its tokens are single-
      // space separated in the text, else it is fed token by token
      var j = w
      while (j < last && ends(j) + 1 == starts(j + 1)) j += 1
      if (j == last) st.md.update(a, starts(w), ends(last) - starts(w))
      else {
        j = w
        while (j <= last) {
          if (j > w) st.md.update(' '.toByte)
          st.md.update(a, starts(j), ends(j) - starts(j))
          j += 1
        }
      }
      val h = prefix60(st) % HashMod
      var p = 0
      while (p < numPerms) {
        val v = (h * (2L * p + 3) + (1L * p * p + 1)) % HashMod
        if (v < sig(p)) sig(p) = v
        p += 1
      }
      w += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }
}

/** Shared shape of the text kernels: one string child, one static call
  * into [[TextKernels]] with the string first and `args` after it. */
private[functions] abstract class TextKernelExpression
    extends UnaryExpression {

  protected def kernel: String
  /** Arguments after the string, as generated-code expressions. */
  protected def args(ctx: CodegenContext): Seq[String] = Nil
  /** True when the kernel answers a null string itself; otherwise a null
    * string gives null. */
  protected def answersNull: Boolean = false
  /** The interpreted twin of the generated call. */
  protected def run(s: UTF8String): Any

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string, got ${child.dataType}")

  override def eval(input: InternalRow): Any = child.eval(input) match {
    case null => if (answersNull) run(null) else null
    case s: UTF8String => run(s)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val extra = args(ctx)
    def call(c: String) = s"graft.functions.TextKernels.$kernel(" +
      (c +: extra).mkString(", ") + ")"
    if (answersNull) {
      val c = child.genCode(ctx)
      ev.copy(code = code"""
        |${c.code}
        |${CodeGenerator.javaType(dataType)} ${ev.value} =
        |  ${call(s"${c.isNull} ? null : ${c.value}")};""".stripMargin,
        isNull = FalseLiteral)
    } else nullSafeCodeGen(ctx, ev, c =>
      if (CodeGenerator.isPrimitiveType(dataType))
        s"${ev.value} = ${call(c)};"
      else // an object-valued kernel may itself answer null
        s"""${ev.value} = ${call(c)};
           |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  protected def tableArg(ctx: CodegenContext, t: MarkerTable): String =
    ctx.addReferenceObj("markers", t, classOf[MarkerTable].getName)
}

/** `md5_prefix60(c)`: the first 60 bits of md5 of a string's UTF-8 bytes
  * (or of a binary), as a long — what `conv(substring(md5(c), 1, 15), 16,
  * 10)` spells through a hex string, read off the digest bytes. */
case class Md5Prefix60(child: Expression) extends TextKernelExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_prefix60"
  override protected def kernel: String = "md5Prefix60"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType || child.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"md5_prefix60 expects a string or binary, got ${child.dataType}")

  override def eval(input: InternalRow): Any = child.eval(input) match {
    case null => null
    case s: UTF8String => TextKernels.md5Prefix60(s)
    case b: Array[Byte] => TextKernels.md5Prefix60(b)
  }
  override protected def run(s: UTF8String): Any = TextKernels.md5Prefix60(s)

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(newChild)
}

/** `marker_score(text)`: how many tokens of `text` are markers; null for
  * a null text, as `size(null)` is with ANSI on (Spark 4's default). */
case class MarkerScore(child: Expression, table: MarkerTable)
    extends TextKernelExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "marker_score"
  override protected def kernel: String = "markerScore"
  override protected def args(ctx: CodegenContext): Seq[String] =
    Seq(tableArg(ctx, table))
  override protected def run(s: UTF8String): Any =
    TextKernels.markerScore(s, table)

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** `lang_id(text)`: the code of the first group with the most marker
  * hits; "und" when nothing hits, a null text included. */
case class LangId(child: Expression, table: MarkerTable)
    extends TextKernelExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "lang_id"
  override protected def kernel: String = "langId"
  override protected def args(ctx: CodegenContext): Seq[String] =
    Seq(tableArg(ctx, table))
  override protected def answersNull: Boolean = true
  override protected def run(s: UTF8String): Any = TextKernels.langId(s, table)

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** `lang_id_margin(text)`: best group score minus the second best; null
  * for a null text, like [[MarkerScore]]. */
case class LangIdMargin(child: Expression, table: MarkerTable)
    extends TextKernelExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "lang_id_margin"
  override protected def kernel: String = "langIdMargin"
  override protected def args(ctx: CodegenContext): Seq[String] =
    Seq(tableArg(ctx, table))
  override protected def run(s: UTF8String): Any =
    TextKernels.langIdMargin(s, table)

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** `quality_score(text)`, see [[TextKernels.qualityScore]]. */
case class QualityScore(child: Expression, stopwords: MarkerTable)
    extends TextKernelExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "quality_score"
  override protected def kernel: String = "qualityScore"
  override protected def args(ctx: CodegenContext): Seq[String] =
    Seq(tableArg(ctx, stopwords))
  override protected def run(s: UTF8String): Any =
    TextKernels.qualityScore(s, stopwords)

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** `minhash_signature(text, k, numPerms)`: array<bigint> of numPerms
  * coordinates, null when the text is null or has fewer than k tokens
  * (see [[TextKernels.minhashSignature]]). */
case class MinhashSignature(child: Expression, k: Int, numPerms: Int)
    extends TextKernelExpression {
  require(k >= 1 && numPerms >= 1,
    s"minhash_signature: k and numPerms must be positive, got $k, $numPerms")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"
  override protected def kernel: String = "minhashSignature"
  override protected def args(ctx: CodegenContext): Seq[String] =
    Seq(k.toString, numPerms.toString)
  override protected def run(s: UTF8String): Any =
    TextKernels.minhashSignature(s, k, numPerms)

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}
