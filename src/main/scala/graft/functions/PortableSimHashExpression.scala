package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native PORTABLE SimHash-60: given an array of string tokens, compute
  * the 60-bit simhash whose per-feature hash is the top 60 bits of the
  * md5 of each distinct n-token window (joined by one space) — the exact
  * value `conv(substring(md5(shingle), 1, 15), 16, 10)` produces, parsed
  * here straight from the digest BYTES (first 8 bytes big-endian >>> 4),
  * with no hex-string round trip.
  *
  * WHY CUSTOM: the composable pipeline — shingle HOF → explode → md5 →
  * substring → conv → 60-column bit-vote aggregate — allocates a hex
  * string + parse per shingle and pays an explode + groupBy SHUFFLE to
  * reassemble per-document votes. This expression does the whole
  * signature in one pass per document (windows deduped by hash value,
  * mirroring the distinct shingle set up to 2^-60 collisions), so the
  * signature stage has NO shuffle at all. Values are bit-identical to the
  * composable form (asserted in NativeExprPropertySpec), which is what
  * keeps the DuckDB algorithm-replay oracle valid.
  *
  * Documents shorter than n tokens hash the whole token array as one
  * window (the ShingleHashSorted fallback). */
case class PortableSimHash60(child: Expression, n: Int) extends UnaryExpression {

  require(n > 0, "portable_simhash60: n must be positive")

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"portable_simhash60 requires array<string> tokens, got ${other.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(
      PortableSimHash60.signature(input.asInstanceOf[ArrayData], n))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = PortableSimHash60.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $cls.signature($a, $n);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PortableSimHash60 {
  private val Space = UTF8String.fromString(" ")
  private val Md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** Top 60 bits of md5(window) == base-16 value of its first 15 hex
    * chars: first 8 digest bytes big-endian, dropping the low nibble. */
  private def windowHash(arr: ArrayData, start: Int, len: Int): Long = {
    val parts = new Array[UTF8String](len)
    var i = 0
    while (i < len) { parts(i) = arr.getUTF8String(start + i); i += 1 }
    val md = Md5.get()
    md.reset()
    val digest = md.digest(UTF8String.concatWs(Space, parts: _*).getBytes)
    var v = 0L
    i = 0
    while (i < 8) { v = (v << 8) | (digest(i) & 0xFFL); i += 1 }
    v >>> 4
  }

  /** Shared by interpreted eval and generated code (all JVM-method work). */
  def signature(arr: ArrayData, n: Int): Long = {
    val len = arr.numElements()
    val windows = if (len < n) 1 else len - n + 1
    val hashes = new Array[Long](windows)
    if (len < n) hashes(0) = windowHash(arr, 0, len)
    else {
      var i = 0
      while (i < windows) { hashes(i) = windowHash(arr, i, n); i += 1 }
    }
    // distinct windows vote once each (mirrors the distinct shingle set)
    java.util.Arrays.sort(hashes)
    val votes = new Array[Int](60)
    var i = 0
    while (i < windows) {
      if (i == 0 || hashes(i) != hashes(i - 1)) {
        val h = hashes(i)
        var k = 0
        while (k < 60) {
          if (((h >>> k) & 1L) == 1L) votes(k) += 1 else votes(k) -= 1
          k += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var k = 0
    while (k < 60) {
      if (votes(k) > 0) sig |= (1L << k)
      k += 1
    }
    sig
  }
}

object PortableSimHashExpression {
  /** Column API: portable 60-bit simhash of a token array at window n. */
  def portable_simhash60(tokens: Column, n: Int): Column =
    ColumnBridge.toColumn(PortableSimHash60(ColumnBridge.toExpr(tokens), n))
}
