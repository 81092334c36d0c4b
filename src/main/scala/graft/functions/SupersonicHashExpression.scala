package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** EXACT value parity with the reference's SupersonicFingerprint /
  * SupersonicHash expressions (expression/ext/hashing/hashing_expressions.h:28-35,
  * hashing_evaluators.h:31-71), whose mixing is the public Apache-2.0
  * `utils/hash/hash.cc:55-85`:
  *
  *   Hash64StringWithSeed(s, len, seed):
  *     n = seed; read s in 4-byte little-endian chunks (zero-padded tail);
  *     per chunk: n = n * kPrimes64[p1++] ^ chunk * kPrimes64[p2++]
  *     with p1 starting at 0, p2 at 8, both wrapping mod 16; all math mod 2^64.
  *   Fingerprint(s, len) = Hash64StringWithSeed(s, len, 42).
  *
  * Per-type byte reinterpretation follows `hashing_evaluators.h` exactly:
  *  - FingerprintEvaluator routes every non-string input through
  *    `operator()(uint64)` → the 8-byte little-endian uint64 image
  *    (int32 SIGN-EXTENDS via C++'s int32→uint64 conversion); strings and
  *    binary hash their raw bytes. FLOAT/DOUBLE are a bind error
  *    (hashing_bound_expressions.cc FingerprintFactory returns NULL).
  *  - HashEvaluator additionally accepts FLOAT (its 4 raw bytes = one
  *    chunk of the IEEE-754 bits, `Hash64FloatWithSeed`) and DOUBLE
  *    (8 raw bytes = two chunks of the raw long bits).
  *
  * uint64 results are carried as Spark LongType two's complement (the repo's
  * UINT64 convention, types/GraftTypes.scala). Golden vectors in
  * SupersonicHashSpec were generated by compiling the reference's own
  * hash.cc and pinning its outputs; the DuckDB oracle for
  * q_expr_fingerprint replays the integer mixing in SQL (hugeint
  * mod-2^64 arithmetic), so the gate is value-exact end to end.
  */
case class SupersonicHash64(left: Expression, right: Expression,
                            fingerprintMode: Boolean = false)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String =
    if (fingerprintMode) "supersonic_fingerprint" else "supersonic_hash"

  override def checkInputDataTypes(): TypeCheckResult = {
    val name = prettyName
    val valueOk = left.dataType match {
      case StringType | BinaryType | IntegerType | LongType | BooleanType |
           DateType | TimestampNTZType => true
      // HashFactory accepts FLOAT/DOUBLE; FingerprintFactory returns NULL.
      case FloatType | DoubleType => !fingerprintMode
      case _ => false
    }
    if (!valueOk)
      TypeCheckResult.TypeCheckFailure(
        s"$name does not accept ${left.dataType.sql} input " +
          "(reference hashing_bound_expressions.cc factory)")
    else if (right.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(s"$name: seed must be BIGINT (uint64)")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def nullSafeEval(value: Any, seed: Any): Any = {
    val s = seed.asInstanceOf[Long]
    val h = left.dataType match {
      case StringType => SupersonicHashing.hashBytes(value.asInstanceOf[UTF8String].getBytes, s)
      case BinaryType => SupersonicHashing.hashBytes(value.asInstanceOf[Array[Byte]], s)
      case IntegerType | DateType => SupersonicHashing.hashLong(value.asInstanceOf[Int].toLong, s)
      case LongType | TimestampNTZType => SupersonicHashing.hashLong(value.asInstanceOf[Long], s)
      case BooleanType => SupersonicHashing.hashLong(if (value.asInstanceOf[Boolean]) 1L else 0L, s)
      case FloatType => SupersonicHashing.hashFloatBits(
        java.lang.Float.floatToRawIntBits(value.asInstanceOf[Float]), s)
      case DoubleType => SupersonicHashing.hashLong(
        java.lang.Double.doubleToRawLongBits(value.asInstanceOf[Double]), s)
      case other => throw new IllegalStateException(s"unreachable: $other")
    }
    java.lang.Long.valueOf(h)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = SupersonicHashing.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, (v, s) => {
      val call = left.dataType match {
        case StringType => s"$cls.hashBytes($v.getBytes(), $s)"
        case BinaryType => s"$cls.hashBytes($v, $s)"
        case IntegerType | DateType => s"$cls.hashLong((long) $v, $s)"
        case LongType | TimestampNTZType => s"$cls.hashLong($v, $s)"
        case BooleanType => s"$cls.hashLong($v ? 1L : 0L, $s)"
        case FloatType => s"$cls.hashFloatBits(java.lang.Float.floatToRawIntBits($v), $s)"
        case DoubleType => s"$cls.hashLong(java.lang.Double.doubleToRawLongBits($v), $s)"
        case other => throw new IllegalStateException(s"unreachable: $other")
      }
      s"${ev.value} = $call;"
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SupersonicHashing {
  /** kPrimes64 from the reference's hash.cc:22-31 — the 16 smallest primes
    * above 2^32 (public spec constants of the mixing). */
  val Primes64: Array[Long] = Array(
    4294967311L, 4294967357L, 4294967371L, 4294967377L,
    4294967387L, 4294967389L, 4294967459L, 4294967477L,
    4294967497L, 4294967513L, 4294967539L, 4294967543L,
    4294967549L, 4294967561L, 4294967563L, 4294967569L)

  /** kPrimes32 from hash.cc:17-20 (smallest primes above 2^16). */
  val Primes32: Array[Int] = Array(
    65537, 65539, 65543, 65551, 65557, 65563, 65579, 65581,
    65587, 65599, 65609, 65617, 65629, 65633, 65647, 65651)

  val FingerprintSeed: Long = 42L

  /** Hash64StringWithSeed: 4-byte little-endian chunks, zero-padded tail.
    * Java long multiply is mod 2^64 — exactly the C++ uint64 semantics. */
  def hashBytes(bytes: Array[Byte], seed: Long): Long = {
    var n = seed
    var p1 = 0
    var p2 = 8
    var i = 0
    val len = bytes.length
    while (i < len) {
      var chunk: Long = bytes(i) & 0xFFL
      i += 1
      if (i < len) { chunk |= (bytes(i) & 0xFFL) << 8; i += 1 }
      if (i < len) { chunk |= (bytes(i) & 0xFFL) << 16; i += 1 }
      if (i < len) { chunk |= (bytes(i) & 0xFFL) << 24; i += 1 }
      n = n * Primes64(p1) ^ chunk * Primes64(p2)
      p1 = (p1 + 1) & 0x0F
      p2 = (p2 + 1) & 0x0F
    }
    n
  }

  /** Hash64NumWithSeed(uint64): the 8-byte LE image is exactly two chunks
    * (low 32 bits, high 32 bits) — closed form, no buffer. */
  def hashLong(v: Long, seed: Long): Long = {
    val n1 = seed * Primes64(0) ^ (v & 0xFFFFFFFFL) * Primes64(8)
    n1 * Primes64(1) ^ (v >>> 32) * Primes64(9)
  }

  /** Hash64FloatWithSeed: the float's 4 raw bytes = ONE chunk. */
  def hashFloatBits(bits: Int, seed: Long): Long =
    seed * Primes64(0) ^ (bits & 0xFFFFFFFFL) * Primes64(8)

  /** Hash32StringWithSeedReferenceImplementation (hash.cc:33-50): 2-byte
    * LE chunks over kPrimes32, mod 2^32. Utility parity face (HashTo32). */
  def hash32Bytes(bytes: Array[Byte], seed: Int): Int = {
    var n = seed
    var p1 = 0
    var p2 = 8
    var i = 0
    val len = bytes.length
    while (i < len) {
      var chunk: Int = bytes(i) & 0xFF
      i += 1
      if (i < len) { chunk |= (bytes(i) & 0xFF) << 8; i += 1 }
      n = n * Primes32(p1) ^ chunk * Primes32(p2)
      p1 = (p1 + 1) & 0x0F
      p2 = (p2 + 1) & 0x0F
    }
    n
  }

  /** Fingerprint(s) = Hash64StringWithSeed(s, len, 42) (hash.cc:77-84). */
  def fingerprintBytes(bytes: Array[Byte]): Long = hashBytes(bytes, FingerprintSeed)
}

object SupersonicHashExpression {
  /** Column API: SupersonicFingerprint(e) — uint64 fingerprint with the
    * reference's exact values; rejects FLOAT/DOUBLE like the reference. */
  def supersonicFingerprint(c: Column): Column =
    ColumnBridge.toColumn(SupersonicHash64(
      ColumnBridge.toExpr(c), Literal(SupersonicHashing.FingerprintSeed, LongType),
      fingerprintMode = true))

  /** Column API: SupersonicHash(e, seed) — seed is a uint64 expression
    * (no implicit cast, per hashing_expressions.h:31-36). */
  def supersonicHash(c: Column, seed: Column): Column =
    ColumnBridge.toColumn(SupersonicHash64(
      ColumnBridge.toExpr(c), ColumnBridge.toExpr(seed)))
}
