package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** TextAnalysis's native kernels against the composable forms they
  * replace — the forms the q_text_* oracles replay — on edge cases and a
  * seeded random corpus, with ANSI off and on. */
class TextAnalysisKernelSpec extends SparkSpec {
  import spark.implicits._

  /** The composable forms. */
  private def tokenCount(text: Column): Column = size(TextAnalysis.tokens(text))
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

  /** Every case as (id, text): the edges, 300 random texts and the
    * invalid UTF-8 documents of DsirSpec, cast from binary. */
  private lazy val corpus: DataFrame = {
    val rng = new scala.util.Random(20261019L)
    val texts = edges ++ Seq.fill(300)(Some(randomText(rng)))
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      .unionByName(DsirSpec.invalidUtf8.toDF("id", "hex")
        .select(col("id"), unhex(col("hex")).cast("string").as("text")))
  }

  private def assertSame(name: String, native: Column, composed: Column): Unit =
    for (ansi <- Seq("false", "true")) withConfs("spark.sql.ansi.enabled" -> ansi) {
      val diff = corpus.select(col("id"), col("text"), native.as("native"), composed.as("composed"))
        .where(!(col("native") <=> col("composed")))
      assert(diff.schema("native").dataType == diff.schema("composed").dataType, name)
      val bad = rows(diff.limit(5))
      assert(bad.isEmpty, s"$name differs with ANSI $ansi: $bad")
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
    val kernels = Seq(TextAnalysis.tokenCount(col("text")), TextAnalysis.punctCount(col("text")),
      TextAnalysis.markerScore(col("text"), Seq("the", "的")), TextAnalysis.langId(col("text")),
      graft.functions.TextKernels.dsir_bigram_buckets(col("text"), 64),
      graft.functions.TextKernels.dsir_score(col("text"), (1L to 64L).toIndexedSeq))
    def run(codegen: String) = withConfs("spark.sql.codegen.factoryMode" -> codegen,
        "spark.sql.codegen.wholeStage" -> (codegen == "CODEGEN_ONLY").toString) {
      rows(corpus.select(col("id") +: kernels: _*).orderBy("id"))
    }
    assert(run("CODEGEN_ONLY") == run("NO_CODEGEN"))
  }
}
