package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Native MinHash signature: given an array of 64-bit shingle hashes,
  * produce the k-element signature sig[j] = min over shingles h of
  * xxhash64(j, h).
  *
  * WHY CUSTOM: the composable form —
  * `transform(sequence(0, k-1), j -> array_min(transform(hashes, h ->
  * xxhash64(j, h))))` — evaluates k·s interpreted lambda closures per
  * document (k=32, s≈120 ⇒ ~4k closure evals/doc) and allocates k
  * intermediate arrays. This expression is one generated k×s primitive
  * loop calling the SAME `XXH64.hashInt/hashLong` kernels Spark's
  * xxhash64 uses, so the signature values are BIT-IDENTICAL to the HOF
  * formulation (asserted in TypesAndLifecycleSpec) — swapping it in
  * changes nothing downstream, including LSH bucket assignments.
  *
  * Empty input arrays yield Long.MaxValue entries (the HOF form yields
  * NULLs there; shingle sets are never empty — short docs fall back to
  * the whole-doc shingle, see ShingleHashSorted).
  */
case class MinhashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {

  require(numHashes > 0, "minhash_signature: numHashes must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_signature requires array<bigint> of shingle hashes, got ${other.sql}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Long](numHashes)
    var j = 0
    while (j < numHashes) {
      // xxhash64(j, h) with int j: state = hashInt(j, seed=42), then
      // state = hashLong(h, state) — same kernel calls as Spark's builtin
      val seedJ = XXH64.hashInt(j, 42L)
      var m = Long.MaxValue
      var i = 0
      while (i < n) {
        val v = XXH64.hashLong(arr.getLong(i), seedJ)
        if (v < m) m = v
        i += 1
      }
      out(j) = m
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val m = ctx.freshName("m")
      val v = ctx.freshName("v")
      val seedJ = ctx.freshName("seedJ")
      val xxh = classOf[XXH64].getName
      s"""
         |int $n = $a.numElements();
         |long[] $out = new long[$numHashes];
         |for (int $j = 0; $j < $numHashes; $j++) {
         |  long $seedJ = $xxh.hashInt($j, 42L);
         |  long $m = Long.MAX_VALUE;
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $v = $xxh.hashLong($a.getLong($i), $seedJ);
         |    if ($v < $m) $m = $v;
         |  }
         |  $out[$j] = $m;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinhashExpression {
  /** Column API: k-min signature of an array<bigint> of shingle hashes. */
  def minhash_signature(shingleHashes: Column, numHashes: Int): Column =
    ColumnBridge.toColumn(MinhashSignature(ColumnBridge.toExpr(shingleHashes), numHashes))
}
