package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

class DsirSpec extends SparkSpec {
  import spark.implicits._

  private val pool = Seq(
    (1L, "alpha beta alpha beta alpha beta"), // pure target-style bigrams
    (2L, "gamma delta gamma delta gamma delta"), // pure off-target
    (3L, "alpha beta gamma delta"), // mixed
    (4L, "solo"), // < 2 tokens: no features
    (5L, "alpha beta alpha beta") // target-style, shorter
  ).toDF("id", "text")
  private val target = Seq(
    (100L, "alpha beta alpha beta"),
    (101L, "alpha beta")).toDF("id", "text")

  test("importanceScores: target-like docs outrank off-target; no-feature doc scores 0") {
    val scored = Dsir.importanceScores(pool, target, "id", "text", buckets = 64)
    val m = rows(scored.orderBy("id"))
      .map(r => r(0).asInstanceOf[Long] ->
        (r(1).asInstanceOf[Long], BigDecimal(r(2).toString))).toMap
    assert(m(4)._1 == 0L && m(4)._2 == 0, s"feature-less doc must score 0: $m")
    assert(m(1)._1 == 5L, "5 bigrams in a 6-token doc")
    // per-feature advantage: doc 1 (all target bigrams) beats doc 2 (none)
    assert(m(1)._2 > m(2)._2, s"target-like must outscore off-target: $m")
    assert(m(3)._2 > m(2)._2 && m(3)._2 < m(1)._2, s"mixed in between: $m")
  }

  test("selectTopFraction: exact integer rule; importance ordering holds") {
    val scored = Dsir.importanceScores(pool, target, "id", "text", buckets = 64)
    val sel = Dsir.selectTopFraction(scored, "id", num = 2, den = 5)
    val kept = rows(sel.where(col("keep")).select("id").orderBy("id")).flatten
    assert(kept.size == 2, s"top 2/5 of 5 docs: $kept") // rank·5 < 5·2 ⇔ rank < 2
    val ranked = rows(sel.orderBy("rank").select("id")).flatten
    // on this tiny target every feature-bearing doc sums NEGATIVE (the
    // Laplace mass dominates), so the neutral no-feature doc (score 0 =
    // importance weight 1) correctly ranks first; among feature-bearing
    // docs the target-style ones outrank off-target, and the off-target
    // doc is strictly last
    assert(ranked == Seq(4L, 5L, 1L, 3L, 2L), s"rank order: $ranked")
    assert(kept == Seq(4L, 5L), s"kept: $kept")
  }

  test("withPartitionings: scores identical under repartitioning (decimal sums)") {
    withPartitionings(pool) { p =>
      val scored = Dsir.importanceScores(p, target, "id", "text", buckets = 64)
      val got = rows(scored.select(col("id"), col("score").cast("string")).orderBy("id"))
      val base = rows(Dsir.importanceScores(pool, target, "id", "text", 64)
        .select(col("id"), col("score").cast("string")).orderBy("id"))
      assert(got == base)
    }
  }

  /** The composable form of DSIR's features, q_dsir's oracle in Spark:
    * the token key is `length`/`ascii` arithmetic on the whitespace split,
    * and the bigram bucket a pure integer scatter of two keys. */
  private def tokenKey(t: Column): Column =
    length(t).cast("long") * 31L +
      ascii(substring(t, 1, 1)).cast("long") * 7L +
      ascii(substring(t, -1, 1)).cast("long")

  private def bigramBucket(k1: Column, k2: Column, buckets: Int): Column =
    pmod(pmod(pmod(k1 * 1000003L + k2, lit(2147483648L)) * 2654435761L,
      lit(2147483648L)), lit(buckets.toLong))

  /** One row per bigram occurrence: (id, bucket). */
  private def bigramFeatures(docs: DataFrame, buckets: Int): DataFrame =
    docs.select(col("id"), filter(split(col("text"), "\\s+"), t => t =!= "").as("__t"))
      .where(size(col("__t")) >= 2)
      .select(col("id"), explode(transform(sequence(lit(1), size(col("__t")) - 1),
        i => bigramBucket(tokenKey(element_at(col("__t"), i)),
          tokenKey(element_at(col("__t"), i + 1)), buckets))).as("bucket"))

  /** The scorer as a plan of joins: every bucket of `range(buckets)`
    * left-joined to both count tables, the Laplace log-ratio per bucket,
    * a join of the pool's (id, bucket) rows to it summed by id, and the
    * distinct pool ids left-joined to that. */
  private def reference(pool: DataFrame, target: DataFrame, buckets: Int): DataFrame = {
    def counts(d: DataFrame) = bigramFeatures(d, buckets)
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
    val feats = bigramFeatures(pool, buckets)
    val (tCounts, pCounts) = (counts(target), counts(pool))
    val tTot = tCounts.agg(coalesce(sum("cnt"), lit(0L)).as("t_tot"))
    val pTot = pCounts.agg(coalesce(sum("cnt"), lit(0L)).as("p_tot"))
    val ratio = spark.range(buckets).select(col("id").as("bucket"))
      .join(tCounts.withColumnRenamed("cnt", "t_cnt"), Seq("bucket"), "left")
      .join(pCounts.withColumnRenamed("cnt", "p_cnt"), Seq("bucket"), "left")
      .crossJoin(tTot).crossJoin(pTot)
      .select(col("bucket"),
        round(log(
          ((coalesce(col("t_cnt"), lit(0L)) + 1L).cast("double") /
            (col("t_tot") + buckets).cast("double")) /
          ((coalesce(col("p_cnt"), lit(0L)) + 1L).cast("double") /
            (col("p_tot") + buckets).cast("double"))), 9)
          .cast("decimal(20,9)").as("lr"))
    val scored = feats.join(ratio, Seq("bucket"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_feats"),
        sum(col("lr")).cast("decimal(28,9)").as("score"))
    pool.select(col("id")).distinct()
      .join(scored, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("score"), lit(0L).cast("decimal(28,9)")).as("score"))
  }

  private def sorted(df: DataFrame): Seq[(Option[Long], Long, BigDecimal)] =
    df.collect().toSeq.map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
      r.getLong(1), BigDecimal(r.getDecimal(2)))).sortBy(_._1)

  private val edgePool = Seq[(Option[Long], Option[String])](
    (Some(1L), Some("alpha beta alpha beta")),
    (Some(2L), None), // null text
    (Some(3L), Some("")), // empty text
    (Some(4L), Some("solo")), // one token
    (Some(5L), Some("gamma delta")), // duplicated id: the two rows sum
    (Some(5L), Some("alpha beta gamma")),
    (None, Some("delta alpha beta")), // null id: counted in the pool, scores 0
    (Some(6L), Some("  spaced   out\ttext  ")),
    (Some(7L), Some("数据 选择 重要性 采样 数据 选择")), // CJK: 3-byte code points
    (Some(8L), Some("café naïve Ærø señor façade café")), // accented Latin
    (Some(9L), Some("😀 ok 👍🏽 go 𝔘𝔫𝔦 😀")), // 4-byte code points
    // the six ASCII whitespace bytes split; U+00A0 and U+3000 do not
    (Some(10L), Some("a\tb\nc\u000bd\fe\rf g\u00a0h\u3000i j")),
    (None, None) // null id and text
  ).toDF("id", "text")
    // invalid UTF-8: a stray continuation byte, a truncated sequence, an
    // encoded surrogate, an overlong form and a byte above F4
    .unionByName(DsirSpec.invalidUtf8.toDF("id", "hex")
      .select(col("id"), unhex(col("hex")).cast("string").as("text")))
  private val edgeTarget = Seq((100L, "alpha beta"), (101L, "omega psi chi phi rho")).toDF("id", "text")

  test("fused scorer equals the join-based formula on edge cases") {
    val buckets = 512
    val seen = bigramFeatures(edgePool.unionByName(edgeTarget.select(
      col("id").cast("long").as("id"), col("text"))), buckets)
      .select("bucket").distinct().collect().map(_.getLong(0)).toSet
    assert(seen.size < buckets, "some bucket must be in neither corpus")
    val targetOnly = bigramFeatures(edgeTarget, buckets).select("bucket")
      .except(bigramFeatures(edgePool, buckets).select("bucket"))
    assert(targetOnly.count() > 0, "some bucket must be in the target only")

    for (ansi <- Seq("false", "true")) withConfs("spark.sql.ansi.enabled" -> ansi) {
      val got = Dsir.importanceScores(edgePool, edgeTarget, "id", "text", buckets)
      assert(got.schema.map(f => f.name -> f.dataType.simpleString) ==
        Seq("id" -> "bigint", "n_feats" -> "bigint", "score" -> "decimal(28,9)"))
      val fused = sorted(got)
      assert(fused == sorted(reference(edgePool, edgeTarget, buckets)), s"ANSI $ansi")
      val m = fused.map(r => r._1 -> (r._2, r._3)).toMap
      Seq(2L, 3L, 4L).foreach(id => assert(m(Some(id)) == ((0L, BigDecimal(0))), s"doc $id: $m"))
      assert(m(None) == ((0L, BigDecimal(0))), s"null id: $m")
      assert(m(Some(5L))._1 == 3L, s"duplicated id sums its rows' bigrams: $m")
      assert(m(Some(9L))._1 == 5L && m(Some(10L))._1 == 7L, s"emoji and whitespace: $m")
      assert(fused.size == 13, s"one row per distinct id: $fused")
      withPartitionings(edgePool) { p =>
        assert(sorted(Dsir.importanceScores(p, edgeTarget, "id", "text", buckets)) == fused)
      }
    }
  }

  test("fused scorer equals the join-based formula with an empty target") {
    val empty = edgeTarget.where(lit(false))
    assert(sorted(Dsir.importanceScores(edgePool, empty, "id", "text", 64)) ==
      sorted(reference(edgePool, empty, 64)))
  }
}

object DsirSpec {
  /** Invalid UTF-8 documents as hex (20 is a space): a stray continuation
    * byte, a truncated sequence before a space and before a letter, an
    * encoded surrogate, an overlong form, a byte above F4 and a truncated
    * 4-byte sequence. */
  val invalidUtf8: Seq[(Long, String)] = Seq(
    11L -> Seq("616C706861", "80", "20", "6265C3", "20", "6265C374", "20", "EDA080",
      "20", "C0AF", "20", "F5", "20", "616C706861").mkString,
    12L -> Seq("E4B8AD", "20", "61", "20", "F09F98", "20", "62657461", "20", "E4B8AD").mkString)
}
