package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Property-style randomized equivalence tests for the native codegen
  * expressions: each must agree with the composable (built-in / HOF)
  * formulation it replaces on a seeded random corpus — the same
  * role as the reference's random-input operator tests
  * (testing/operation_testing.h), here pinning native-vs-interpreted
  * parity rather than block-size invariance. Seeded ⇒ deterministic. */
class NativeExprPropertySpec extends SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(20260812L)

  test("property: sorted_intersect_count == size(array_intersect) on 200 random set pairs") {
    import graft.functions.SetExpressions.sorted_intersect_count
    val cases = Seq.fill(200) {
      def randSet() = rng.nextInt(50) match {
        case 0 => Array.empty[Long]
        case n => Array.fill(n)(rng.nextLong() % 64).distinct.sorted
      }
      (randSet(), randSet())
    }
    val df = cases.toDF("a", "b")
    val got = df.select(
      sorted_intersect_count(col("a"), col("b")).as("native"),
      size(array_intersect(col("a"), col("b"))).as("builtin"))
    assert(got.where(col("native") =!= col("builtin")).count() == 0)
  }

  test("property: minhash_signature == HOF k-min fold on 100 random hash arrays") {
    import graft.functions.MinhashExpression.minhash_signature
    val cases = Seq.fill(100)(Array.fill(1 + rng.nextInt(80))(rng.nextLong()))
    val df = cases.toDF("h")
    val k = 16
    val native = rows(df.select(minhash_signature(col("h"), k)))
    val hof = rows(df.select(transform(sequence(lit(0), lit(k - 1)),
      j => array_min(transform(col("h"), x => xxhash64(j, x))))))
    assert(native == hof)
  }

  test("property: shingle_hash_sorted == HOF shingle pipeline on 100 random token arrays") {
    import graft.functions.ShingleHashExpression.shingle_hash_sorted
    val vocab = Vector("alpha", "beta", "gamma", "delta", "x", "longertoken", "θ", "1")
    val cases = Seq.fill(100)(
      Seq.fill(rng.nextInt(30))(vocab(rng.nextInt(vocab.size))).mkString(" "))
    val df = cases.toDF("text")
    for (n <- Seq(1, 2, 3, 5)) {
      val toks = split(trim(col("text")), "\\s+")
      val native = rows(df.select(shingle_hash_sorted(toks, n)))
      val hof = rows(df.select(sort_array(transform(
        graft.pipeline.TextReference.shinglesFromTokens(toks, n), s => xxhash64(s)))))
      assert(native == hof, s"mismatch at shingle length $n")
    }
  }

  test("property: portable_simhash60 == composable md5-hex bit-vote pipeline") {
    import graft.functions.PortableSimHashExpression.portable_simhash60
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "ζήτα", "x9")
    val cases = (1 to 60).map(i =>
      (i.toLong, Seq.fill(1 + rng.nextInt(40))(vocab(rng.nextInt(vocab.size))).mkString(" ")))
    val df = cases.toDF("id", "text")
    val toks = split(trim(col("text")), "\\s+")
    val native = rows(df.select(col("id"), portable_simhash60(toks, 3)).orderBy("id"))
    // the composable formulation the expression replaced: distinct shingle
    // strings -> md5 hex prefix -> conv -> 60 bit-vote sums -> sign fold
    val hashed = df
      .select(col("id"), explode(graft.pipeline.TextReference.shinglesFromTokens(toks, 3)).as("s"))
      .select(col("id"), conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("h"))
    val votes = (0 until 60).map { j =>
      sum(when(call_function("shiftright", col("h"), lit(j)).bitwiseAND(1) === 1,
        1).otherwise(-1)).as(s"b$j")
    }
    val sig = (0 until 60).map(j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
    val hof = rows(hashed.groupBy("id").agg(votes.head, votes.tail: _*)
      .select(col("id"), sig).orderBy("id"))
    assert(native == hof)
  }

  test("property: portableBucket stays in range and is key-deterministic for any sign") {
    import graft.pipeline.Sampling
    val keys = Seq.fill(500)((rng.nextLong(), rng.nextLong())).toDF("k1", "k2")
    val b = Sampling.portableBucket(Seq(col("k1"), col("k2")))
    val stats = rows(keys.select(min(b), max(b))).head
    assert(stats(0).asInstanceOf[Long] >= 0L)
    assert(stats(1).asInstanceOf[Long] < Sampling.Buckets)
    // same keys, separate evaluation -> same buckets
    assert(rows(keys.select(b)) == rows(keys.select(b)))
  }

  test("property: hashed_linear_mills == array-HOF fold on 300 random ASCII strings") {
    import graft.functions.TextKernels.hashed_linear_mills
    val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789.,;!?"
    def randText(): String = {
      val n = rng.nextInt(40)
      Seq.fill(n) {
        val wl = 1 + rng.nextInt(12)
        Seq.fill(wl)(alphabet(rng.nextInt(alphabet.length))).mkString
      }.mkString(Seq(" ", "  ", "\t", "\n")(rng.nextInt(4)))
    }
    val cases = ("" +: "   " +: "x" +: Seq.fill(297)(randText())).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = cases.toDF("i", "t")
    for (dims <- Seq(16, 64)) {
      val got = df.select(
        hashed_linear_mills(col("t"), dims).as("native"),
        graft.pipeline.TextReference.hofMills(col("t"), dims).as("hof"))
      assert(got.where(col("native") =!= col("hof")).count() == 0, s"dims=$dims")
    }
  }

  test("hashed_linear_mills generates compiling code (no codegen fallback)") {
    import graft.functions.TextKernels.hashed_linear_mills
    withConfs("spark.sql.codegen.fallback" -> "false") {
      val df = Seq.tabulate(100)(i => (i.toLong, s"tok$i hello wor$i")).toDF("i", "t")
      val s = df.select(hashed_linear_mills(col("t"), 64).as("m"))
        .agg(sum("m")).collect()(0).getLong(0)
      // must agree with the interpreted eval of the same expression
      val s2 = df.select(graft.pipeline.TextReference.hofMills(col("t"), 64).as("m"))
        .agg(sum("m")).collect()(0).getLong(0)
      assert(s == s2)
    }
  }
}
