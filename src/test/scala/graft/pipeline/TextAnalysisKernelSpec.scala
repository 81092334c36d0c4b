package graft.pipeline

import graft.SparkSpec
import graft.functions.TextKernels
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** TextAnalysis's native kernels against the composable forms they
  * replace — the forms the q_text_* oracles replay — on edge cases and a
  * seeded random corpus, with ANSI off and on. */
class TextAnalysisKernelSpec extends SparkSpec {
  import spark.implicits._

  /** The composable forms. */
  private def tokenCount(text: Column): Column = size(TextReference.regexTokens(text))
  private def punctCount(text: Column): Column = regexp_count(text, lit("[^a-zA-Z0-9\\s]"))
  private def markerScore(text: Column, words: Seq[String]): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    words.map(w => when(padded.contains(s" $w "), 1).otherwise(0)).reduce(_ + _)
  }
  private def langId(text: Column): Column = {
    val scored = TextAnalysis.LangMarkers.map { case (l, ws) => (l, markerScore(text, ws)) }
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    scored.foldRight(lit("und"): Column) { case ((l, s), acc) =>
      when(s === best && s > 0, lit(l)).otherwise(acc)
    }
  }

  private val edges = Seq[Option[String]](
    None, Some(""), Some(" "), Some(" \t\n\u000b\f\r "),
    Some("The cat and THE dog"), Some("the"), Some(" the "), Some("thethe the."),
    Some("数据 的 是 了在 我"), Some("的"), Some("café naïve Ærø la señor façade, ¿qué?"),
    Some("😀 ok 👍🏽 go 𝔘𝔫𝔦 😀!"), Some("İstanbul DER Straße und die"),
    Some("a\tb\nc\u000bd\fe\rf g\u00a0h\u3000i j"), Some("the\u00a0cat the\u3000dog"),
    Some("el la de y es le et les est"), Some("la de"), Some("\tthe\tof\n"))

  private def randomText(rng: scala.util.Random): String = {
    val pieces = Vector("the", "of", "and", "a", "is", "der", "und", "die", "la", "de",
      "le", "est", "的", "是", "我", "The", "ÄRGER", "İ", "café", "数据", "😀", "👍🏽",
      "!", ",", "¿", "x1", "42", "-", "\u00a0", "\u3000", "", "ñ")
    val gaps = Vector(" ", " ", " ", "  ", "\t", "\n", "\u000b", "\f", "\r", "")
    Seq.fill(rng.nextInt(24))(pieces(rng.nextInt(pieces.size)) + gaps(rng.nextInt(gaps.size)))
      .mkString
  }

  /** The edge pool as (id, text): the edges, then the invalid UTF-8
    * documents of DsirSpec, cast from binary, at ids 111 and 112. */
  private lazy val edgePool: DataFrame =
    edges.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      .unionByName(DsirSpec.invalidUtf8.toDF("id", "hex")
        .select((col("id") + 100L).as("id"), unhex(col("hex")).cast("string").as("text")))

  /** Every case: the edge pool and 300 random texts. */
  private lazy val corpus: DataFrame = {
    val rng = new scala.util.Random(20261019L)
    edgePool.unionByName(Seq.fill(300)(randomText(rng)).zipWithIndex
      .map { case (t, i) => (edges.size + i.toLong, t) }.toDF("id", "text"))
  }

  private def withCodegen[A](mode: String)(body: => A): A =
    withConfs("spark.sql.codegen.factoryMode" -> mode,
      "spark.sql.codegen.wholeStage" -> (mode == "CODEGEN_ONLY").toString)(body)
  private val codegenModes = Seq("CODEGEN_ONLY", "NO_CODEGEN")

  private def assertSame(name: String, native: Column, composed: Column): Unit =
    for (ansi <- Seq("false", "true")) withConfs("spark.sql.ansi.enabled" -> ansi) {
      val diff = corpus.select(col("id"), col("text"), native.as("native"), composed.as("composed"))
        .where(!(col("native") <=> col("composed")))
      assert(diff.schema("native").dataType == diff.schema("composed").dataType, name)
      val bad = rows(diff.limit(5))
      assert(bad.isEmpty, s"$name differs with ANSI $ansi: $bad")
    }

  test("tokens equals the regex trim-and-split and filter(split), generated and interpreted") {
    // the references type their arrays with nullable elements
    val tokens = TextAnalysis.tokens(col("text")).cast("array<string>")
    for (mode <- codegenModes) withCodegen(mode) {
      assertSame(s"tokens vs regex, $mode", tokens,
        TextReference.regexTokens(col("text")).cast("array<string>"))
      assertSame(s"tokens vs filter(split), $mode", tokens,
        TextReference.filteredSplit(col("text")).cast("array<string>"))
    }
    assert(rows(edgePool.where(col("id") === 13).select(TextAnalysis.tokens(col("text")))) ==
      Seq(Seq(Seq("a", "b", "c", "d", "e", "f", "g\u00a0h\u3000i", "j"))))
  }

  test("hashed_linear_mills keeps its values on the edge pool, non-ASCII and invalid UTF-8 included") {
    // (id, dims 16, dims 64), as the generated Java loop this kernel
    // replaced gave them: keys over raw bytes, not code points
    val expected = Seq[(Long, Any, Any)]((0L, null, null), (1L, 0L, 0L), (2L, 0L, 0L),
      (3L, 0L, 0L), (4L, -468L, -2239L), (5L, 363L, -301L), (6L, 363L, -301L),
      (7L, -346L, 101L), (8L, 1225L, 1025L), (9L, 528L, 311L), (10L, -24L, -445L),
      (11L, -426L, -1524L), (12L, -650L, -1080L), (13L, -3259L, 773L), (14L, 418L, -1800L),
      (15L, -1637L, 1505L), (16L, -1583L, -689L), (17L, -38L, 635L), (111L, -50L, 410L),
      (112L, -928L, -34L)).map { case (id, a, b) => Seq(id, a, b) }
    for (mode <- codegenModes) withCodegen(mode) {
      assert(rows(edgePool.select(col("id"), TextKernels.hashed_linear_mills(col("text"), 16),
        TextKernels.hashed_linear_mills(col("text"), 64)).orderBy("id")) == expected, mode)
    }
    graft.GraftExtensions.register(spark)
    assert(rows(spark.sql("SELECT hashed_linear_mills('The cat and THE dog', 64)")) ==
      Seq(Seq(-2239L)))
  }

  test("operators read a text column whose name needs quoting") {
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e g"), (3L, "x y z a b c"),
      (4L, "a b  c\td e f"), (5L, "")).toDF("id", "text")
    val quoted = docs.withColumnRenamed("text", "body text")
    def same(name: String, op: (DataFrame, String) => DataFrame): Unit = {
      val want = rows(op(docs, "text")).map(_.toString).sorted
      assert(want.nonEmpty, name)
      assert(rows(op(quoted, "body text")).map(_.toString).sorted == want, name)
    }
    same("prefixFilterJaccardPairs", Dedup.prefixFilterJaccardPairs(_, "id", _, 0.5))
    same("prefixFilterJaccardClusters", Dedup.prefixFilterJaccardClusters(_, "id", _, 0.5))
    same("containmentPairs", Dedup.containmentPairs(_, "id", _, 0.8))
    same("duplicatedSpans", Dedup.duplicatedSpans(_, "id", _, 2))
    same("duplicatedSpansMaximal", Dedup.duplicatedSpansMaximal(_, "id", _, 2))
    same("hashedLinearScore", Scoring.hashedLinearScore(_, "id", _))
  }

  test("tokenCount equals size(tokens(text)), null included") {
    assertSame("tokenCount", TextAnalysis.tokenCount(col("text")), tokenCount(col("text")))
    withConfs("spark.sql.ansi.enabled" -> "false") {
      assert(rows(corpus.where(col("text").isNull)
        .select(TextAnalysis.tokenCount(col("text")))) == Seq(Seq(-1)))
    }
    withConfs("spark.sql.ansi.enabled" -> "true") {
      assert(rows(corpus.where(col("text").isNull)
        .select(TextAnalysis.tokenCount(col("text")))) == Seq(Seq(null)))
    }
  }

  test("punctCount equals regexp_count over the decoded text") {
    assertSame("punctCount", TextAnalysis.punctCount(col("text")), punctCount(col("text")))
    assertSame("punctRatio", TextAnalysis.punctRatio(col("text")),
      punctCount(col("text")).cast("double") /
        greatest(length(col("text")), lit(1)).cast("double"))
  }

  test("markerScore and langId equal the contains chains") {
    for ((lang, words) <- TextAnalysis.LangMarkers)
      assertSame(s"markerScore $lang", TextAnalysis.markerScore(col("text"), words),
        markerScore(col("text"), words))
    assertSame("markerScore with repeats", TextAnalysis.markerScore(col("text"), Seq("la", "la", "")),
      markerScore(col("text"), Seq("la", "la", "")))
    assertSame("langId", TextAnalysis.langId(col("text")), langId(col("text")))
    val preds = rows(corpus.select(TextAnalysis.langId(col("text"))).distinct()).flatten.toSet
    assert(Set[Any]("en", "de", "zh", "und").subsetOf(preds), s"the corpus exercises langId: $preds")
  }

  test("the kernels generate code and agree with their interpreted form") {
    val kernels = Seq(TextAnalysis.tokens(col("text")), TextAnalysis.tokenCount(col("text")),
      TextAnalysis.punctCount(col("text")),
      TextAnalysis.markerScore(col("text"), Seq("the", "的")), TextAnalysis.langId(col("text")),
      TextKernels.dsir_bigram_buckets(col("text"), 64),
      TextKernels.dsir_score(col("text"), (1L to 64L).toIndexedSeq),
      TextKernels.hashed_linear_mills(col("text"), 64))
    def run(codegen: String) = withCodegen(codegen) {
      rows(corpus.select(col("id") +: kernels: _*).orderBy("id"))
    }
    assert(run("CODEGEN_ONLY") == run("NO_CODEGEN"))
  }
}
