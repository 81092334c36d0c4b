package graft.types

import graft.SparkSpec
import graft.lifecycle.Lifecycle
import graft.functions.VectorExpressions._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class TypesAndLifecycleSpec extends SparkSpec {
  import spark.implicits._

  test("type mapping mirrors the reference table incl. unsigned widening") {
    assert(GraftTypes.toSpark("INT32") == IntegerType)
    assert(GraftTypes.toSpark("UINT64") == LongType)
    assert(GraftTypes.toSpark("DATETIME") == TimestampNTZType)
    assert(GraftTypes.toSpark("ENUM") == StringType)
  }

  test("schema merge rejects duplicate attribute names (TryMerge -> None)") {
    val a = StructType(Seq(GraftTypes.attribute("x", "INT32", nullable = false)))
    val b = StructType(Seq(GraftTypes.attribute("y", "STRING", nullable = true)))
    assert(GraftTypes.mergeSchemas(a, b).fieldNames.toSeq == Seq("x", "y"))
    assert(GraftTypes.tryMergeSchemas(a, a).isEmpty)
    intercept[IllegalArgumentException] { GraftTypes.mergeSchemas(a, a) }
  }

  test("enum definition: decode/encode round-trip, undefined -> NULL, dup rejected") {
    val e = GraftTypes.EnumDefinition(Seq(1 -> "RED", 2 -> "BLUE"))
    val df = Seq(1, 2, 9).toDF("code")
    assert(rows(df.select(e.decode(col("code")))).flatten == Seq("RED", "BLUE", null))
    val names = Seq("BLUE", "GREEN").toDF("n")
    assert(rows(names.select(e.encode(col("n")))).flatten == Seq(2, null))
    intercept[IllegalArgumentException] {
      GraftTypes.EnumDefinition(Seq(1 -> "A", 1 -> "B"))
    }
  }

  test("lifecycle: operation -> cursor -> block-wise next() to EOS") {
    val op = Lifecycle.operation(spark.range(10).toDF("i").orderBy("i"))
    val cur = op.createCursor()
    val b1 = cur.next(4)
    val b2 = cur.next(4)
    val b3 = cur.next(4)
    assert(b1.map(_.getLong(0)) == Seq(0L, 1L, 2L, 3L))
    assert(b2.map(_.getLong(0)) == Seq(4L, 5L, 6L, 7L))
    assert(b3.map(_.getLong(0)) == Seq(8L, 9L))
    assert(!cur.hasNext && cur.next(4).isEmpty)
  }

  test("lifecycle: binding errors surface before any pull, like the reference") {
    // Spark 4 analyzes eagerly on transformation — binding errors surface
    // when the operation tree is constructed, never during next().
    intercept[Exception] {
      val bad = spark.range(1).toDF("i").select(col("nonexistent"))
      Lifecycle.operation(bad).createCursor()
    }
  }

  test("vec_dot native expression matches the HOF fold bit-for-bit") {
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(0.5f, -1.0f, 2.0f)),
      (Array(0.1f, 0.2f, 0.3f), Array(0.7f, 0.8f, 0.9f))
    ).toDF("a", "b")
    val native = rows(df.select(vec_dot(col("a"), col("b")))).map(_.head)
    val hof = rows(df.select(graft.pipeline.Similarity.dotHof(
      transform(col("a"), _.cast("double")), transform(col("b"), _.cast("double")))))
      .map(_.head)
    assert(native == hof)
    // double arrays too
    val dd = Seq((Array(1.5, 2.5), Array(2.0, 4.0))).toDF("a", "b")
    assert(rows(dd.select(vec_dot(col("a"), col("b")))).head.head == 13.0)
    // cosine of identical vectors is 1.0
    assert(rows(df.select(vec_cosine(col("a"), col("a")))).map(_.head) == Seq(1.0, 1.0))
  }

  test("vec_dot rejects non-vector input types at analysis") {
    val df = Seq((1, 2)).toDF("a", "b")
    intercept[Exception] { df.select(vec_dot(col("a"), col("b"))).collect() }
  }

  test("minhash_signature native expression is bit-identical to the HOF fold") {
    import graft.functions.MinhashExpression.minhash_signature
    val df = Seq(
      Array(7L, -42L, 123456789L, 0L),
      Array(1L),
      Array(Long.MinValue, Long.MaxValue)).toDF("h")
    val k = 8
    val native = rows(df.select(minhash_signature(col("h"), k)))
    val hof = rows(df.select(transform(sequence(lit(0), lit(k - 1)),
      j => array_min(transform(col("h"), x => xxhash64(j, x))))))
    assert(native == hof)
    // SQL registration with a literal k
    graft.GraftExtensions.register(spark)
    val viaSql = rows(spark.sql(
      "SELECT minhash_signature(array(7L, -42L, 123456789L, 0L), 8) AS s")).head.head
    assert(viaSql == native.head.head)
  }

  test("shingle_hash_sorted is value-identical to the HOF shingle pipeline") {
    import graft.functions.ShingleHashExpression.shingle_hash_sorted
    val df = Seq(
      "the quick brown fox jumps over the quick brown fox", // repeated shingles
      "one two",                                            // shorter than n=3
      "x").toDF("text")
    val toks = split(trim(col("text")), "\\s+")
    val native = rows(df.select(shingle_hash_sorted(toks, 3)))
    val hof = rows(df.select(sort_array(transform(
      graft.pipeline.TextReference.shinglesFromTokens(toks, 3), s => xxhash64(s)))))
    assert(native == hof)
    // SQL registration with a literal n: 4 tokens, n=3 -> 2 windows
    graft.GraftExtensions.register(spark)
    val viaSql = rows(spark.sql(
      "SELECT shingle_hash_sorted(array('a','b','c','d'), 3) AS s")).head.head
    assert(viaSql.asInstanceOf[scala.collection.Seq[Long]].length == 2)
  }

  test("sorted_intersect_count matches array_intersect on sorted distinct sets") {
    import graft.functions.SetExpressions.sorted_intersect_count
    val df = Seq(
      (Array(1L, 3L, 5L, 9L), Array(2L, 3L, 9L, 11L)), // overlap {3, 9}
      (Array(1L, 2L), Array(3L, 4L)),                  // disjoint
      (Array.empty[Long], Array(1L)),                  // empty side
      (Array(-5L, 0L, 7L), Array(-5L, 0L, 7L))         // identical incl. negatives
    ).toDF("a", "b")
    val native = rows(df.select(sorted_intersect_count(col("a"), col("b")))).map(_.head)
    val builtin = rows(df.select(size(array_intersect(col("a"), col("b"))))).map(_.head)
    assert(native == builtin)
    assert(native == Seq(2, 0, 0, 3))
    // SQL registration
    graft.GraftExtensions.register(spark)
    assert(rows(spark.sql(
      "SELECT sorted_intersect_count(array(1L,2L,3L), array(2L,3L,4L)) AS c")).head.head == 2)
    // type check rejects non-long arrays
    intercept[Exception] {
      Seq((Array("x"), Array("y"))).toDF("a", "b")
        .select(sorted_intersect_count(col("a"), col("b"))).collect()
    }
  }
}
