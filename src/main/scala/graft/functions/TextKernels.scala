package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A text kernel: per row, one static call into [[TextKernels]], so the
  * loop is JIT-compiled once per JVM, not once per generated class.
  * `method` names the call; it takes the text, then `args`. A `total`
  * kernel gives a value for a null text too (the call receives null);
  * any other kernel is null on a null text. */
sealed abstract class TextKernel(method: String, total: Boolean)
    extends UnaryExpression with Serializable {

  /** The interpreted form of the call. */
  protected def run(text: UTF8String): Any

  /** The generated-code arguments after the text. */
  protected def args(ctx: CodegenContext): Seq[String] = Nil

  override def nullable: Boolean = !total && child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${other.sql}")
  }

  override def eval(input: InternalRow): Any = {
    val text = child.eval(input).asInstanceOf[UTF8String]
    if (text == null && !total) null else run(text)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def call(text: String) =
      s"graft.functions.TextKernels.$method(${(text +: args(ctx)).mkString(", ")})"
    if (!total) nullSafeCodeGen(ctx, ev, t => s"${ev.value} = ${call(t)};")
    else {
      val c = child.genCode(ctx)
      ev.copy(code = code"""${c.code}
        |${CodeGenerator.javaType(dataType)} ${ev.value} =
        |  ${call(s"${c.isNull} ? null : ${c.value}")};""".stripMargin, isNull = FalseLiteral)
    }
  }
}

/** The whitespace tokens of the text, in order: runs of bytes other than
  * 9-13 and 32, as `filter(split(text, '\\s+'), t -> t <> '')` gives
  * them, invalid UTF-8 included. */
case class Tokens(child: Expression) extends TextKernel("tokens", total = false) {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def run(text: UTF8String): Any = TextKernels.tokens(text)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** How many [[Tokens]] the text has. */
case class TokenCount(child: Expression) extends TextKernel("tokenCount", total = false) {
  override def dataType: DataType = IntegerType
  override protected def run(text: UTF8String): Any = TextKernels.tokenCount(text)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Code points that are neither `[a-zA-Z0-9]` nor Java-regex `\s`. */
case class PunctCount(child: Expression) extends TextKernel("punctCount", total = false) {
  override def dataType: DataType = IntegerType
  override protected def run(text: UTF8String): Any = TextKernels.punctCount(text)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** How many of `words` occur as ` w ` in `' ' || lowered || ' '`; 0 for a
  * null text. `child` is the lowered text. */
case class MarkerScore(child: Expression, words: Seq[String])
    extends TextKernel("markerScore", total = true) {
  require(words.size <= 64 && words.forall(!_.contains(' ')),
    "marker_score: at most 64 words, none with a space")
  @transient private lazy val bytes = words.map(_.getBytes(UTF_8)).toArray

  override def dataType: DataType = IntegerType
  override protected def run(text: UTF8String): Any = TextKernels.markerScore(text, bytes)
  override protected def args(ctx: CodegenContext): Seq[String] =
    Seq(ctx.addReferenceObj("markerWords", bytes, "byte[][]"))
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The language whose marker words score highest, ties to the earlier
  * language, "und" when none scores; `child` is the lowered text. */
case class LangId(child: Expression, markers: Seq[(String, Seq[String])])
    extends TextKernel("langId", total = true) {
  require(markers.map(_._2.size).sum < 64 && markers.forall(_._2.forall(!_.contains(' '))),
    "lang_id: fewer than 64 marker words, none with a space")
  @transient private lazy val bytes = markers.flatMap(_._2).map(_.getBytes(UTF_8)).toArray
  // bit i of a language's mask: word i of the flattened list is its own
  @transient private lazy val masks = markers.map(_._2.size)
    .scanLeft(0)(_ + _).sliding(2).map { case Seq(a, b) => (1L << b) - (1L << a) }.toArray
  @transient private lazy val langs = (markers.map(_._1) :+ "und").map(UTF8String.fromString).toArray

  override def dataType: DataType = StringType
  override protected def run(text: UTF8String): Any = TextKernels.langId(text, bytes, masks, langs)
  override protected def args(ctx: CodegenContext): Seq[String] = Seq(
    ctx.addReferenceObj("langWords", bytes, "byte[][]"),
    ctx.addReferenceObj("langMasks", masks, "long[]"),
    ctx.addReferenceObj("langNames", langs, "org.apache.spark.unsafe.types.UTF8String[]"))
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The DSIR bucket of each bigram of the text, in order. */
case class DsirBigramBuckets(child: Expression, buckets: Int)
    extends TextKernel("bigramBuckets", total = false) {
  require(buckets > 0, "dsir_bigram_buckets: buckets must be positive")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def run(text: UTF8String): Any = TextKernels.bigramBuckets(text, buckets)
  override protected def args(ctx: CodegenContext): Seq[String] = Seq(buckets.toString)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** A document's DSIR features and score: (n_feats, Σ ratio(bucket)) over
  * its bigrams, with `ratio` the decimal(20,9) log-ratio table's unscaled
  * longs, one per bucket. A null text gives (0, 0). */
case class DsirScore(child: Expression, ratio: IndexedSeq[Long])
    extends TextKernel("bigramScore", total = true) {
  require(ratio.nonEmpty, "dsir_score: need a ratio table")
  @transient private lazy val table = ratio.toArray

  override def dataType: DataType = DsirScore.Type
  override protected def run(text: UTF8String): Any = TextKernels.bigramScore(text, table)
  override protected def args(ctx: CodegenContext): Seq[String] =
    Seq(ctx.addReferenceObj("dsirRatio", table, "long[]"))
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The hashed-linear classifier's integer-mills weight sum over the
  * text's tokens ([[graft.pipeline.Scoring.hashedLinearScore]]). A token's
  * key is its length · 31 + its first byte · 7 + its last byte, over raw
  * bytes: on ASCII text that is the SQL form's `length`/`ascii` key, on
  * other text it counts bytes, not code points. */
case class HashedLinearMills(child: Expression, dims: Int)
    extends TextKernel("hashedLinearMills", total = false) {
  require(dims > 0, "hashed_linear_mills: dims must be positive")
  override def dataType: DataType = LongType
  override protected def run(text: UTF8String): Any = TextKernels.hashedLinearMills(text, dims)
  override protected def args(ctx: CodegenContext): Seq[String] = Seq(dims.toString)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DsirScore {
  val Type: StructType = StructType(Seq(
    StructField("n_feats", LongType, nullable = false),
    StructField("score", DecimalType(28, 9), nullable = false)))
}

/** The loops behind the text kernels. Every walk is over UTF-8 bytes:
  * whitespace is Java regex's `\s` (bytes 9-13 and 32, never part of a
  * multi-byte character), so a token is a maximal run of other bytes. */
object TextKernels {

  /** The one definition of whitespace: a token is a maximal run of other
    * bytes. */
  @inline private def isWs(b: Byte): Boolean = b == ' ' || (b >= 9 && b <= 13)

  @inline private def isContinuation(b: Byte): Boolean = (b & 0xC0) == 0x80

  /** `text` as a Java regex sees it: invalid UTF-8 decoded with
    * replacement characters and encoded again, as `split` does. */
  private def decoded(text: UTF8String): UTF8String =
    if (text.isValid) text else UTF8String.fromString(text.toString)

  /** Decoded first, so each token is the string `split` returns. */
  def tokens(text: UTF8String): ArrayData = {
    val s = decoded(text)
    val n = s.numBytes
    var out = new Array[Any](8)
    var m = 0
    var i = 0
    while (i < n) {
      if (isWs(s.getByte(i))) i += 1
      else {
        val start = i
        while (i < n && !isWs(s.getByte(i))) i += 1
        if (m == out.length) out = Array.copyOf(out, m * 2)
        out(m) = s.copyUTF8String(start, i - 1)
        m += 1
      }
    }
    new GenericArrayData(Array.copyOf(out, m))
  }

  /** Needs no decoding: decoding invalid UTF-8 keeps every ASCII byte and
    * turns no other byte into one. */
  def tokenCount(text: UTF8String): Int = {
    val n = text.numBytes
    var count = 0
    var i = 0
    while (i < n) {
      if (isWs(text.getByte(i))) i += 1
      else {
        count += 1
        while (i < n && !isWs(text.getByte(i))) i += 1
      }
    }
    count
  }

  /** Over raw bytes, undecoded: see [[HashedLinearMills]]. */
  def hashedLinearMills(text: UTF8String, dims: Int): Long = {
    val n = text.numBytes
    var acc = 0L
    var i = 0
    while (i < n) {
      if (isWs(text.getByte(i))) i += 1
      else {
        val start = i
        while (i < n && !isWs(text.getByte(i))) i += 1
        val key = (i - start) * 31L + (text.getByte(start) & 0xFF) * 7L + (text.getByte(i - 1) & 0xFF)
        acc += ((key % dims) * 2654435761L % 2147483648L) % 2001 - 1000
      }
    }
    acc
  }

  def punctCount(text: UTF8String): Int = {
    val s = decoded(text)
    val n = s.numBytes
    var count = 0
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b < 0) { if (!isContinuation(b)) count += 1 }
      else if (!isWs(b) && !(b >= 'a' && b <= 'z') && !(b >= 'A' && b <= 'Z') &&
          !(b >= '0' && b <= '9')) count += 1
      i += 1
    }
    count
  }

  /** Bit i is set iff `words(i)` is a field of `lowered` split on ' '
    * (its edges count as spaces): iff ` w ` occurs in ` lowered `. */
  private def markerMask(lowered: UTF8String, words: Array[Array[Byte]]): Long = {
    if (lowered == null) return 0L
    val n = lowered.numBytes
    var mask = 0L
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || lowered.getByte(i) == ' ') {
        val len = i - start
        var w = 0
        while (w < words.length) {
          val word = words(w)
          if (word.length == len) {
            var k = 0
            while (k < len && lowered.getByte(start + k) == word(k)) k += 1
            if (k == len) mask |= 1L << w
          }
          w += 1
        }
        start = i + 1
      }
      i += 1
    }
    mask
  }

  def markerScore(lowered: UTF8String, words: Array[Array[Byte]]): Int =
    java.lang.Long.bitCount(markerMask(lowered, words))

  /** `langs` holds one name per mask, then the name for no score. */
  def langId(lowered: UTF8String, words: Array[Array[Byte]], masks: Array[Long],
             langs: Array[UTF8String]): UTF8String = {
    val mask = markerMask(lowered, words)
    var best = masks.length
    var bestScore = 0
    var l = 0
    while (l < masks.length) {
      val s = java.lang.Long.bitCount(mask & masks(l))
      if (s > bestScore) { best = l; bestScore = s }
      l += 1
    }
    langs(best)
  }

  /** The bucket of each bigram, in order: a token's key is its code points
    * · 31 + its first code point · 7 + its last, and a bigram's bucket the
    * multiplicative scatter of its two keys mod `buckets`. */
  private def bigramBucketArray(text: UTF8String, buckets: Int): Array[Long] = {
    val s = decoded(text)
    val n = s.numBytes
    var out = new Array[Long](16)
    var m = 0
    var prev = -1L
    var i = 0
    while (i < n) {
      if (isWs(s.getByte(i))) i += 1
      else {
        val start = i
        var chars = 0
        while (i < n && !isWs(s.getByte(i))) {
          if (!isContinuation(s.getByte(i))) chars += 1
          i += 1
        }
        var last = i - 1
        while (isContinuation(s.getByte(last))) last -= 1
        val key = chars * 31L + s.codePointFrom(start) * 7L + s.codePointFrom(last)
        if (prev >= 0) {
          if (m == out.length) out = java.util.Arrays.copyOf(out, m * 2)
          out(m) = Math.floorMod(Math.floorMod(Math.floorMod(prev * 1000003L + key,
            2147483648L) * 2654435761L, 2147483648L), buckets.toLong)
          m += 1
        }
        prev = key
      }
    }
    java.util.Arrays.copyOf(out, m)
  }

  def bigramBuckets(text: UTF8String, buckets: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(bigramBucketArray(text, buckets))

  def bigramScore(text: UTF8String, ratio: Array[Long]): InternalRow = {
    val bs = if (text == null) Array.emptyLongArray else bigramBucketArray(text, ratio.length)
    val score =
      try {
        var sum = 0L
        var i = 0
        while (i < bs.length) { sum = Math.addExact(sum, ratio(bs(i).toInt)); i += 1 }
        Decimal(sum, 28, 9)
      } catch {
        case _: ArithmeticException =>
          Decimal(BigDecimal(bs.map(b => BigInt(ratio(b.toInt))).sum, 9), 28, 9)
      }
    new GenericInternalRow(Array[Any](bs.length.toLong, score))
  }

  private def kernel(e: Expression): Column = ColumnBridge.toColumn(e)
  private def expr(c: Column): Expression = ColumnBridge.toExpr(c)

  /** Column API; see the expressions above. */
  def tokens(text: Column): Column = kernel(Tokens(expr(text)))
  def token_count(text: Column): Column = kernel(TokenCount(expr(text)))
  def punct_count(text: Column): Column = kernel(PunctCount(expr(text)))
  def marker_score(lowered: Column, words: Seq[String]): Column =
    kernel(MarkerScore(expr(lowered), words))
  def lang_id(lowered: Column, markers: Seq[(String, Seq[String])]): Column =
    kernel(LangId(expr(lowered), markers))
  def dsir_bigram_buckets(text: Column, buckets: Int): Column =
    kernel(DsirBigramBuckets(expr(text), buckets))
  def dsir_score(text: Column, ratio: IndexedSeq[Long]): Column =
    kernel(DsirScore(expr(text), ratio))
  def hashed_linear_mills(text: Column, dims: Int): Column =
    kernel(HashedLinearMills(expr(text), dims))
}
