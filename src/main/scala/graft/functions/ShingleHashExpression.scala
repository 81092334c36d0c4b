package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native sorted-distinct shingle-hash set: given an array of string
  * tokens, emit the xxhash64 (seed 42) of every n-token window joined by
  * a single space — sorted ascending, duplicates removed. Documents
  * shorter than n tokens hash the whole token array as one shingle.
  *
  * WHY CUSTOM: the composable form —
  * `sort_array(transform(array_distinct(transform(sequence(...), i ->
  * array_join(slice(t, i, n), " "))), s -> xxhash64(s)))` — runs ~2·s
  * interpreted lambda closures per document plus UTF8String equality
  * walks inside array_distinct, and (being interpreted) forces a
  * materialization barrier upstream so CollapseProject cannot inline the
  * tokenizer once per window. This expression is one generated loop per
  * document: window-concat bytes, the SAME `XXH64.hashUnsafeBytes` kernel
  * Spark's xxhash64(string) uses (so hash VALUES are bit-identical to the
  * HOF form — asserted in TypesAndLifecycleSpec), then a primitive
  * sort+dedup on the longs. Single reference to the token array means no
  * barrier is needed at all — at cluster scale that deletes a full-data
  * exchange from every shingle pipeline.
  */
case class ShingleHashSorted(child: Expression, n: Int) extends UnaryExpression {

  require(n > 0, "shingle_hash_sorted: n must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_hash_sorted requires array<string> tokens, got ${other.sql}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    new GenericArrayData(ShingleHashSorted.hashSorted(arr, n))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = ShingleHashSorted.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  $cls.hashSorted($a, $n));
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashSorted {
  private val Space = UTF8String.fromString(" ")

  private def hashWindow(arr: ArrayData, start: Int, len: Int): Long = {
    val parts = new Array[UTF8String](len)
    var i = 0
    while (i < len) { parts(i) = arr.getUTF8String(start + i); i += 1 }
    val s = UTF8String.concatWs(Space, parts: _*)
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
  }

  /** Shared by interpreted eval and generated code (the loop body is all
    * JVM-method work — string concat, hash, sort — so a generated copy of
    * the loop would buy nothing over this direct call). */
  def hashSorted(arr: ArrayData, n: Int): Array[Long] = {
    val len = arr.numElements()
    if (len < n) return Array(hashWindow(arr, 0, len))
    val windows = len - n + 1
    val hashes = new Array[Long](windows)
    var i = 0
    while (i < windows) { hashes(i) = hashWindow(arr, i, n); i += 1 }
    java.util.Arrays.sort(hashes)
    // in-place dedup of the sorted run
    var w = 1
    var r = 1
    while (r < windows) {
      if (hashes(r) != hashes(r - 1)) { hashes(w) = hashes(r); w += 1 }
      r += 1
    }
    if (w == windows) hashes else java.util.Arrays.copyOf(hashes, w)
  }
}

/** Per-occurrence variant of [[ShingleHashSorted]]: the xxhash64 of every
  * n-token window IN ORDER, duplicates kept — for consumers that count
  * occurrences (duplicated-span probes) rather than compare sets. Hash
  * values are identical to `xxhash64(array_join(slice(tokens, i, n), ' '))`
  * (same window-concat + XXH64 seed-42 kernel), so swapping the
  * interpreted HOF chain for this expression cannot change any count.
  * Documents shorter than n tokens emit an empty array (callers filter
  * them; the sorted variant's hash-the-whole-array convention would
  * surprise an occurrence counter). */
case class ShingleHashAll(child: Expression, n: Int) extends UnaryExpression {

  require(n > 0, "shingle_hash_all: n must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_hash_all requires array<string> tokens, got ${other.sql}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    new GenericArrayData(ShingleHashAll.hashAll(arr, n))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = ShingleHashAll.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  $cls.hashAll($a, $n));
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashAll {
  private val Space = UTF8String.fromString(" ")

  def hashAll(arr: ArrayData, n: Int): Array[Long] = {
    val len = arr.numElements()
    if (len < n) return Array.emptyLongArray
    val windows = len - n + 1
    val hashes = new Array[Long](windows)
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i < windows) {
      var j = 0
      while (j < n) { parts(j) = arr.getUTF8String(i + j); j += 1 }
      val s = UTF8String.concatWs(Space, parts: _*)
      hashes(i) = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      i += 1
    }
    hashes
  }
}

object ShingleHashExpression {
  /** Column API: sorted distinct xxhash64 shingle hashes of a token array. */
  def shingle_hash_sorted(tokens: Column, n: Int): Column =
    ColumnBridge.toColumn(ShingleHashSorted(ColumnBridge.toExpr(tokens), n))

  /** Column API: per-occurrence window hashes, in order, duplicates kept. */
  def shingle_hash_all(tokens: Column, n: Int): Column =
    ColumnBridge.toColumn(ShingleHashAll(ColumnBridge.toExpr(tokens), n))
}
