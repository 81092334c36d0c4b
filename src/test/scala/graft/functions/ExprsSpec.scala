package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** TestEvaluation-style expression specs (reference:
  * testing/expression_test_helper.h:70-93 — input columns + expected
  * output evaluated over the block).
  */
class ExprsSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.{Exprs => E}

  /** Evaluate `e` over single-column input and compare. */
  private def eval[I: org.apache.spark.sql.Encoder](in: Seq[I], e: Column => Column,
                                                    expected: Seq[Any]): Unit = {
    val got = rows(in.toDF("x").select(e(col("x")).as("y"))).map(_.head)
    assert(got == expected, s"for input $in")
  }

  test("arithmetic: divide promotes to double, cppDivide truncates") {
    val df = Seq((13, 5), (7, 2)).toDF("a", "b")
    assert(rows(df.select(E.divide(col("a"), col("b")))).map(_.head) == Seq(2.6, 3.5))
    assert(rows(df.select(E.cppDivide(col("a"), col("b")))).map(_.head) == Seq(2L, 3L))
    assert(rows(df.select(E.modulus(col("a"), col("b")))).map(_.head) == Seq(3, 1))
  }

  test("divideNulling yields NULL on zero divisor; signaling raises") {
    val df = Seq((1, 0)).toDF("a", "b")
    assert(rows(df.select(E.divideNulling(col("a"), col("b")))).map(_.head) == Seq(null))
    intercept[Exception] {
      df.select(E.divideSignaling(col("a"), col("b"))).collect()
    }
  }

  test("isOdd/isEven handle negatives (pmod semantics)") {
    eval[Int](Seq(3, -3, 4, 0), E.isOdd, Seq(true, true, false, false))
    eval[Int](Seq(3, -3, 4, 0), E.isEven, Seq(false, false, true, true))
  }

  test("in has 3-valued NULL semantics") {
    val df = Seq(Some(1), Some(9), None).toDF("x")
    val hit = df.select(E.in(col("x"), lit(1), lit(2)).as("y"))
    assert(rows(hit).map(_.head) == Seq(true, false, null))
    // NULL in list: 9 IN (1, NULL) -> NULL, 1 IN (1, NULL) -> true
    val withNull = df.select(E.in(col("x"), lit(1), lit(null)).as("y"))
    assert(rows(withNull).map(_.head) == Seq(true, null, null))
  }

  test("logic: and/or short-circuit 3-valued, xor, nullingIf") {
    val df = Seq((Some(true), Some(false)), (None, Some(true)), (None, Some(false)))
      .toDF("a", "b")
    assert(rows(df.select(E.and(col("a"), col("b")))).map(_.head) == Seq(false, null, false))
    assert(rows(df.select(E.or(col("a"), col("b")))).map(_.head) == Seq(true, true, null))
    assert(rows(df.select(E.xor(col("a"), col("b")))).map(_.head) == Seq(true, null, null))
    assert(rows(df.select(E.nullingIf(col("a"), lit(1), lit(2)))).map(_.head) ==
      Seq(1, null, null))
  }

  test("ifNull / isNull / caseExpr") {
    val df = Seq((Some(1), "a"), (None, "b")).toDF("x", "s")
    assert(rows(df.select(E.ifNull(col("x"), lit(-1)))).map(_.head) == Seq(1, -1))
    assert(rows(df.select(E.isNull(col("x")))).map(_.head) == Seq(false, true))
    val c = E.caseExpr(col("s"), Seq((lit("a"), lit(10)), (lit("b"), lit(20))), lit(0))
    assert(rows(df.select(c)).map(_.head) == Seq(10, 20))
  }

  test("math: trunc toward zero, isFinite/isInf/isNaN/isNormal") {
    eval[Double](Seq(2.7, -2.7), E.truncE, Seq(2.0, -2.0))
    eval[Double](Seq(1.0, Double.PositiveInfinity, Double.NaN), E.isFinite,
      Seq(true, false, false))
    eval[Double](Seq(Double.NegativeInfinity, 1.0), E.isInf, Seq(true, false))
    eval[Double](Seq(1.0, 0.0, Double.MinPositiveValue), E.isNormal,
      Seq(true, true, false))
  }

  test("string: substring 1-based with negative-from-end, offset, contains") {
    val df = Seq("hello world").toDF("s")
    assert(rows(df.select(E.substringE(col("s"), lit(-5), lit(5)))).head.head == "world")
    assert(rows(df.select(E.trailingSubstring(col("s"), lit(7)))).head.head == "world")
    assert(rows(df.select(E.stringOffset(col("s"), "world"))).head.head == 7)
    assert(rows(df.select(E.stringOffset(col("s"), "zzz"))).head.head == 0)
    assert(rows(df.select(E.stringContainsCI(col("s"), "WORLD"))).head.head == true)
    assert(rows(df.select(E.stringReplace(col("s"), "l", "L"))).head.head == "heLLo worLd")
  }

  test("regexp: partial vs full match, extract, replace-all") {
    val df = Seq("abc123def").toDF("s")
    assert(rows(df.select(E.regexpPartialMatch(col("s"), "[0-9]+"))).head.head == true)
    assert(rows(df.select(E.regexpFullMatch(col("s"), "[0-9]+"))).head.head == false)
    assert(rows(df.select(E.regexpFullMatch(col("s"), "[a-z0-9]+"))).head.head == true)
    assert(rows(df.select(E.regexpExtractE(col("s"), "([a-z]+)([0-9]+)", 2))).head.head == "123")
    assert(rows(df.select(E.regexpReplaceE(col("s"), "[0-9]", "#"))).head.head == "abc###def")
  }

  test("datetime: components and arithmetic") {
    val df = Seq("2024-03-05 10:30:45").toDF("s")
      .select(to_timestamp(col("s")).as("ts"))
    assert(rows(df.select(E.yearE(col("ts")), E.quarterE(col("ts")), E.monthE(col("ts")),
      E.dayE(col("ts")), E.hourE(col("ts")), E.minuteE(col("ts")), E.secondE(col("ts")))).head ==
      Seq(2024, 1, 3, 5, 10, 30, 45))
    assert(rows(df.select(E.dateFormat(E.addDays(col("ts"), lit(30)), "yyyy-MM-dd"))).head.head ==
      "2024-04-04")
    assert(rows(df.select(E.dateFormat(E.addMinutes(col("ts"), lit(90)), "HH:mm"))).head.head ==
      "12:00")
    assert(rows(df.select(E.unixTimestampE(col("ts")))).head.head == 1709634645L)
  }

  test("parseString: quiet/nulling return NULL on garbage") {
    val df = Seq("42", "abc").toDF("s")
    assert(rows(df.select(E.parseStringNulling(IntegerType)(col("s")))).map(_.head) ==
      Seq(42, null))
  }

  test("parse_long_prefix native expression: prefix, sign, whitespace, overflow, SQL") {
    import graft.functions.{ParsePrefixExpression => PP}
    val df = Seq("123abc", "  -45xy", "+7", "abc", "", "9223372036854775807",
      "9223372036854775808", "12.5").toDF("s")
    assert(rows(df.select(PP.parse_long_prefix(col("s")))).map(_.head) ==
      Seq(123L, -45L, 7L, null, null, Long.MaxValue, null, 12L))
    // interpreted path (eval) must agree with codegen: force via filter on
    // a literal (constant folding runs the interpreted eval)
    assert(rows(Seq(1).toDF("x").select(PP.parse_long_prefix(lit(" 88z")))).head.head == 88L)
    // SQL registration
    graft.GraftExtensions.register(spark)
    assert(rows(spark.sql("SELECT parse_long_prefix('42abc')")).head.head == 42L)
  }

  test("parseStringQuiet parses the longest valid prefix (strtol/strtod)") {
    // Nulling rejects trailing garbage; Quiet takes the C++ partial parse
    val df = Seq("123abc", " -7x", "abc", "42").toDF("s")
    assert(rows(df.select(E.parseStringQuiet(IntegerType)(col("s")))).map(_.head) ==
      Seq(123, -7, null, 42))
    assert(rows(df.select(E.parseStringNulling(IntegerType)(col("s")))).map(_.head) ==
      Seq(null, null, null, 42))
    val d = Seq("3.5e2xyz", ".25rest", "nope").toDF("s")
    assert(rows(d.select(E.parseStringQuiet(DoubleType)(col("s")))).map(_.head) ==
      Seq(350.0, 0.25, null))
  }

  test("completed policy triples: log10/log2/pow/cppDivide nulling+signaling, castSignaling") {
    val df = Seq(-5.0).toDF("x")
    assert(rows(df.select(E.log10Nulling(col("x")))).head.head == null)
    assert(rows(df.select(E.log2Nulling(col("x")))).head.head == null)
    assert(rows(df.select(E.logBaseNulling(3.0, col("x")))).head.head == null)
    intercept[Exception] { df.select(E.log10Signaling(col("x"))).collect() }
    assert(rows(Seq(100.0).toDF("x").select(E.log10Signaling(col("x")))).head.head == 2.0)
    // pow: negative base, fractional exponent -> NaN -> NULL / error
    assert(rows(df.select(E.powNulling(col("x"), lit(0.5)))).head.head == null)
    intercept[Exception] { df.select(E.powSignaling(col("x"), lit(0.5))).collect() }
    assert(rows(df.select(E.powSignaling(col("x"), lit(2.0)))).head.head == 25.0)
    val z = Seq((10, 0)).toDF("a", "b")
    assert(rows(z.select(E.cppDivideNulling(col("a"), col("b")))).head.head == null)
    intercept[Exception] { z.select(E.cppDivideSignaling(col("a"), col("b"))).collect() }
    intercept[Exception] { Seq("abc").toDF("s")
      .select(E.castSignaling(IntegerType)(col("s"))).collect() }
    assert(rows(Seq("12").toDF("s").select(E.castSignaling(IntegerType)(col("s")))).head.head == 12)
  }

  test("logBaseSignaling and lnSignaling complete the Log and Ln policy triples") {
    val bad = Seq(-5.0, 0.0).toDF("x")
    for (c <- Seq(E.logBaseSignaling(3.0, col("x")), E.lnSignaling(col("x"))))
      intercept[Exception] { bad.select(c).collect() }
    val ok = Seq(9.0).toDF("x")
    val Seq(logBase, ln) = rows(ok.select(E.logBaseSignaling(3.0, col("x")),
      E.lnSignaling(col("x")))).head.map(_.asInstanceOf[Double])
    assert(math.abs(logBase - 2.0) < 1e-12)
    assert(ln == math.log(9.0))
    assert(rows(Seq(Option.empty[Double]).toDF("x").select(E.lnSignaling(col("x")))).head.head == null)
  }

  test("formatSignaling errors on negative precision, substringSignaling is bounds-safe") {
    val df = Seq(1234.5678).toDF("x")
    assert(rows(df.select(E.formatSignaling(col("x"), lit(2)))).head.head == "1,234.57")
    intercept[Exception] { df.select(E.formatSignaling(col("x"), lit(-1))).collect() }
    assert(rows(Seq("Cow").toDF("s")
      .select(E.substringSignaling(col("s"), lit(2), lit(99)))).head.head == "ow")
  }

  test("*Local datetime variants re-read fields in the given timezone") {
    val df = Seq("2024-03-05 23:40:00").toDF("s")
    val ts = to_timestamp(col("s"))
    // UTC 23:40 on Mar 5 -> +05:30 = Mar 6 05:10
    assert(rows(df.select(E.dayLocal(ts, "+05:30"))).head.head == 6)
    assert(rows(df.select(E.hourLocal(ts, "+05:30"))).head.head == 5)
    assert(rows(df.select(E.minuteLocal(ts, "+05:30"))).head.head == 10)
    assert(rows(df.select(E.yearLocal(ts, "+05:30"))).head.head == 2024)
    assert(rows(df.select(E.quarterLocal(ts, "+05:30"))).head.head == 1)
    assert(rows(df.select(E.monthLocal(ts, "+05:30"))).head.head == 3)
    assert(rows(df.select(E.yearDayLocal(ts, "+05:30"))).head.head == 66)
    // Tue Mar 5 -> Wed Mar 6 local; dayofweek: 1=Sunday..7=Saturday
    assert(rows(df.select(E.weekdayLocal(ts, "+05:30"))).head.head == 4)
    // UTC is the identity: Local("UTC") == the non-Local extractor
    assert(rows(df.select(E.hourLocal(ts, "UTC"))).head.head == 23)
  }

  test("remaining math/logic surface: cot, logBase, format, andNot, bitwiseAndNot") {
    val df = Seq(1.0).toDF("x")
    assert(math.abs(rows(df.select(E.cotE(lit(math.Pi / 4)))).head.head
      .asInstanceOf[Double] - 1.0) < 1e-12)
    assert(math.abs(rows(df.select(E.logBase(3.0, lit(27.0)))).head.head
      .asInstanceOf[Double] - 3.0) < 1e-12)
    assert(rows(df.select(E.format(lit(1234.5678), 2))).head.head == "1,234.57")
    val b = Seq((true, true), (false, true)).toDF("a", "b")
    assert(rows(b.select(E.andNot(col("a"), col("b")))).map(_.head) == Seq(false, true))
    val i = Seq((6, 3)).toDF("a", "b") // ~6 & 3 = ...11111001 & 011 = 1
    assert(rows(i.select(E.bitwiseAndNot(col("a"), col("b")))).head.head == 1)
  }

  test("const datetime factories and projecting expressions") {
    val df = Seq((1, "a")).toDF("x", "s")
    assert(rows(df.select(E.dateFormat(E.constDateTime("2024-03-05 10:00:00"), "yyyy-MM-dd HH")))
      .head.head == "2024-03-05 10")
    assert(rows(df.select(E.unixTimestampE(E.constDateTimeFromSecondsSinceEpoch(1704067200L))))
      .head.head == 1704067200L)
    assert(rows(df.select(E.microsecondE(E.constDateTimeFromMicrosecondsSinceEpoch(1704067200123456L))))
      .head.head == 123456)
    assert(rows(df.select(E.attributeAt(df, 1))).head.head == "a")
    assert(df.select(E.compound(E.aliasE(col("x"), "y"), E.namedAttribute("s")): _*)
      .columns.toSeq == Seq("y", "s"))
  }

  test("signaling variants raise only on actual domain errors") {
    val df = Seq(4.0).toDF("x")
    assert(rows(df.select(E.sqrtSignaling(col("x")))).head.head == 2.0)
    intercept[Exception] { Seq(-4.0).toDF("x").select(E.sqrtSignaling(col("x"))).collect() }
    intercept[Exception] { Seq((-1.0, 0.0)).toDF("a", "b")
      .select(E.modulusSignaling(col("a"), col("b"))).collect() }
  }

  test("hashing: deterministic, seed changes value") {
    val df = Seq("x").toDF("s")
    val h1 = rows(df.select(E.fingerprint(col("s")))).head.head
    val h2 = rows(df.select(E.fingerprint(col("s")))).head.head
    val h3 = rows(df.select(E.hashWithSeed(col("s"), 7))).head.head
    assert(h1 == h2 && h1 != h3)
  }
}
