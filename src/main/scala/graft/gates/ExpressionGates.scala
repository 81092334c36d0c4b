package graft
package gates

import org.apache.spark.sql.functions._

import graft.operators.Aggregates
import graft.operators.Aggregates._
import graft.functions.{Exprs => E}

/** Scalar expression gates (SURVEY §2.7) over graft.functions.Exprs. */
object ExpressionGates extends GateGroup {

  // ===== SupersonicHash DuckDB oracle builders: replay the reference's
  // hash.cc mod-2^64 prime mixing in HUGEINT arithmetic. 64x64-bit
  // multiply is done in 32-bit limbs (each partial product < 2^64 fits a
  // hugeint); uint64 state converts to two's-complement BIGINT at the end
  // to match the Spark side's LongType carry. Validated against golden
  // vectors from the compiled reference (SupersonicHashSpec). =====
  private val SsPrimeList: String =
    graft.functions.SupersonicHashing.Primes64.map(p => s"$p::HUGEINT")
      .mkString("[", ",", "]")

  private def ssMul64(a: String, b: String): String =
    s"((($a)%4294967296)*(($b)%4294967296) + (((($a)//4294967296)*(($b)%4294967296)" +
      s" + (($a)%4294967296)*(($b)//4294967296))%4294967296)*4294967296)" +
      " % 18446744073709551616::HUGEINT"

  private def ssPrime(idx: String): String =
    s"list_extract($SsPrimeList, (($idx)%16)+1)"

  /** 4-byte little-endian chunk at 0-based chunk index `pos` of an ASCII
    * string column, zero-padded (hash.cc:60-70 union read). */
  private def ssChunk(sCol: String, pos: String): String = {
    def byte(i: Int) =
      s"(CASE WHEN length($sCol) >= ($pos)*4+$i+1 THEN ord(substr($sCol, ($pos)*4+$i+1, 1)) ELSE 0 END)"
    s"(${byte(0)} + ${byte(1)}*256 + ${byte(2)}*65536 + ${byte(3)}*16777216)::HUGEINT"
  }

  private def ssToI64(n: String): String =
    s"CAST(CASE WHEN ($n) >= 9223372036854775808::HUGEINT THEN ($n) - 18446744073709551616::HUGEINT ELSE ($n) END AS BIGINT)"

  private def ssU64(v: String): String =
    s"(CASE WHEN ($v) < 0 THEN ($v)::HUGEINT + 18446744073709551616::HUGEINT ELSE ($v)::HUGEINT END)"

  /** Closed-form Hash64NumWithSeed over the uint64 image of a BIGINT
    * expression: exactly two chunks (low, high 32 bits). */
  private def ssHashNum(v: String, seed: Long): String = {
    val P = graft.functions.SupersonicHashing.Primes64
    val u = ssU64(v)
    val lo = s"(($u)%4294967296)"
    val hi = s"(($u)//4294967296)"
    val n1 = s"xor(${ssMul64(s"$seed::HUGEINT", s"${P(0)}::HUGEINT")}, ${ssMul64(lo, s"${P(8)}::HUGEINT")})"
    s"xor(${ssMul64(n1, s"${P(1)}::HUGEINT")}, ${ssMul64(hi, s"${P(9)}::HUGEINT")})"
  }

  /** q_expr_fingerprint oracle: a recursive CTE walks each c_name's chunk
    * stream once, carrying BOTH the fingerprint (seed 42) and the seed-7
    * hash state; numeric fingerprints are closed-form. */
  private def ssFingerprintOracleSql: String = {
    val step = (st: String) =>
      s"xor(${ssMul64(st, ssPrime("pos"))}, ${ssMul64(ssChunk("s", "pos"), ssPrime("pos+8"))})"
    s"""WITH RECURSIVE mix AS (
       |  SELECT c_custkey AS id, c_name AS s, 42::HUGEINT AS fp, 7::HUGEINT AS h7, 0 AS pos,
       |         CAST(ceil(length(c_name)/4.0) AS INT) AS nc
       |  FROM customer
       |  UNION ALL
       |  SELECT id, s, ${step("fp")}, ${step("h7")}, pos+1, nc
       |  FROM mix WHERE pos < nc
       |)
       |SELECT id AS c_custkey,
       |  ${ssToI64("fp")} AS fp_name,
       |  ${ssToI64("h7")} AS h7_name,
       |  ${ssToI64(ssHashNum("id", 42L))} AS fp_key,
       |  ${ssToI64(ssHashNum("CAST(n32 AS BIGINT)", 42L))} AS fp_n32
       |FROM mix JOIN (SELECT c_custkey AS jid, c_nationkey - 13 AS n32 FROM customer) ON id = jid
       |WHERE pos = nc
       |ORDER BY c_custkey""".stripMargin
  }

  gate("q_expr_arith", (s, d) => {
    Tables.part(s, d).select(col("p_partkey"),
      E.plus(col("p_size"), lit(1)).as("a_plus"),
      E.minus(col("p_size"), lit(3)).as("a_minus"),
      E.multiply(col("p_size"), lit(3)).as("a_mul"),
      E.divide(col("p_size"), lit(7)).as("a_div"),
      E.cppDivide(col("p_size"), lit(7)).as("a_intdiv"),
      E.modulus(col("p_size"), lit(5)).as("a_mod"),
      E.negate(col("p_size")).as("a_neg"),
      E.isOdd(col("p_size")).as("a_odd"),
      E.isEven(col("p_size")).as("a_even")
    ).orderBy("p_partkey")
  }, oracle =
    """SELECT p_partkey, p_size + 1 AS a_plus, p_size - 3 AS a_minus, p_size * 3 AS a_mul,
      |CAST(p_size AS DOUBLE) / 7 AS a_div, CAST(p_size // 7 AS BIGINT) AS a_intdiv,
      |p_size % 5 AS a_mod, -p_size AS a_neg,
      |p_size % 2 = 1 AS a_odd, p_size % 2 = 0 AS a_even
      |FROM part ORDER BY p_partkey""".stripMargin)

  gate("q_expr_cmp", (s, d) => {
    Tables.customer(s, d).select(col("c_custkey"),
      E.greater(col("c_acctbal"), lit(0)).as("c_pos"),
      E.lessOrEqual(col("c_acctbal"), lit(1000)).as("c_le"),
      E.equal(col("c_mktsegment"), lit("BUILDING")).as("c_eq"),
      E.notEqual(col("c_mktsegment"), lit("AUTOMOBILE")).as("c_ne"),
      E.in(col("c_mktsegment"), lit("BUILDING"), lit("MACHINERY")).as("c_in"),
      col("c_acctbal").between(100, 5000).as("c_btw")
    ).orderBy("c_custkey")
  }, oracle =
    """SELECT c_custkey, c_acctbal > 0 AS c_pos, c_acctbal <= 1000 AS c_le,
      |c_mktsegment = 'BUILDING' AS c_eq, c_mktsegment <> 'AUTOMOBILE' AS c_ne,
      |c_mktsegment IN ('BUILDING','MACHINERY') AS c_in,
      |c_acctbal BETWEEN 100 AND 5000 AS c_btw
      |FROM customer ORDER BY c_custkey""".stripMargin)

  gate("q_expr_logic", (s, d) => {
    Tables.part(s, d).select(col("p_partkey"),
      E.and(col("p_size") > 10, col("p_size") < 40).as("l_and"),
      E.or(col("p_size") < 5, col("p_size") > 45).as("l_or"),
      E.xor(col("p_size") > 25, col("p_retailprice") > 950).as("l_xor"),
      E.not(col("p_size") > 25).as("l_not"),
      E.ifExpr(col("p_size") > 25, lit("big"), lit("small")).as("l_if"),
      E.ifNull(nullif(col("p_brand"), lit("Brand#2")), lit("other")).as("l_ifnull"),
      E.isNull(nullif(col("p_brand"), lit("Brand#2"))).as("l_isnull"),
      E.caseExpr(col("p_brand"),
        Seq((lit("Brand#2"), lit(1)), (lit("Brand#17"), lit(2))), lit(0)).as("l_case"),
      E.bitwiseAnd(col("p_size"), lit(12)).as("b_and"),
      E.bitwiseOr(col("p_size"), lit(5)).as("b_or"),
      E.bitwiseXor(col("p_size"), lit(9)).as("b_xor"),
      E.bitwiseNot(col("p_size")).as("b_not"),
      E.shiftLeftE(col("p_size"), 2).as("b_shl"),
      E.shiftRightE(col("p_size"), 1).as("b_shr")
    ).orderBy("p_partkey")
  }, oracle =
    """SELECT p_partkey,
      |(p_size > 10 AND p_size < 40) AS l_and, (p_size < 5 OR p_size > 45) AS l_or,
      |(p_size > 25) <> (p_retailprice > 950) AS l_xor, NOT (p_size > 25) AS l_not,
      |CASE WHEN p_size > 25 THEN 'big' ELSE 'small' END AS l_if,
      |COALESCE(NULLIF(p_brand, 'Brand#2'), 'other') AS l_ifnull,
      |NULLIF(p_brand, 'Brand#2') IS NULL AS l_isnull,
      |CASE p_brand WHEN 'Brand#2' THEN 1 WHEN 'Brand#17' THEN 2 ELSE 0 END AS l_case,
      |p_size & 12 AS b_and, p_size | 5 AS b_or, xor(p_size, 9) AS b_xor,
      |~p_size AS b_not, p_size << 2 AS b_shl, p_size >> 1 AS b_shr
      |FROM part ORDER BY p_partkey""".stripMargin)

  gate("q_expr_math", (s, d) => {
    Tables.part(s, d).select(col("p_partkey"),
      round(E.sinE(col("p_size")), 6).as("m_sin"),
      round(E.cosE(col("p_size")), 6).as("m_cos"),
      round(E.atanE(col("p_size") / 50), 6).as("m_atan"),
      round(E.expE(col("p_size") / 10), 6).as("m_exp"),
      round(E.ln(col("p_retailprice")), 6).as("m_ln"),
      round(E.log10E(col("p_retailprice")), 6).as("m_log10"),
      round(E.log2E(col("p_retailprice")), 6).as("m_log2"),
      round(E.sqrtE(col("p_retailprice")), 6).as("m_sqrt"),
      E.powerE(col("p_size"), lit(2)).as("m_pow"),
      round(E.atan2E(col("p_retailprice") / 1000, col("p_size")), 6).as("m_atan2"),
      round(E.toDegrees(col("p_size")), 6).as("m_deg"),
      round(E.toRadians(col("p_size")), 6).as("m_rad"),
      E.absE(E.negate(col("p_size"))).as("m_abs"),
      E.ceilE(col("p_retailprice")).as("m_ceil"),
      E.floorE(col("p_retailprice")).cast("long").as("m_floor"),
      E.truncE(col("p_retailprice")).cast("long").as("m_trunc"),
      E.roundToInt(col("p_retailprice")).as("m_round0"),
      E.piE.as("m_pi"),
      E.isFinite(col("p_retailprice")).as("m_finite"),
      E.isNaNE(lit(Double.NaN)).as("m_nan")
    ).orderBy("p_partkey")
  }, oracle =
    """SELECT p_partkey,
      |round(sin(p_size), 6) AS m_sin, round(cos(p_size), 6) AS m_cos,
      |round(atan(CAST(p_size AS DOUBLE) / 50), 6) AS m_atan,
      |round(exp(CAST(p_size AS DOUBLE) / 10), 6) AS m_exp,
      |round(ln(p_retailprice), 6) AS m_ln, round(log10(p_retailprice), 6) AS m_log10,
      |round(log2(p_retailprice), 6) AS m_log2, round(sqrt(p_retailprice), 6) AS m_sqrt,
      |pow(p_size, 2) AS m_pow,
      |round(atan2(p_retailprice / 1000, CAST(p_size AS DOUBLE)), 6) AS m_atan2,
      |round(degrees(p_size), 6) AS m_deg, round(radians(p_size), 6) AS m_rad,
      |abs(-p_size) AS m_abs, CAST(ceil(p_retailprice) AS BIGINT) AS m_ceil,
      |CAST(floor(p_retailprice) AS BIGINT) AS m_floor,
      |CAST(trunc(p_retailprice) AS BIGINT) AS m_trunc,
      |CAST(round(p_retailprice, 0) AS BIGINT) AS m_round0,
      |pi() AS m_pi, isfinite(p_retailprice) AS m_finite,
      |isnan(CAST('nan' AS DOUBLE)) AS m_nan
      |FROM part ORDER BY p_partkey""".stripMargin)

  gate("q_expr_string", (s, d) => {
    Tables.customer(s, d).select(col("c_custkey"),
      E.lengthE(col("c_name")).as("s_len"),
      E.toLower(col("c_name")).as("s_lower"),
      E.toUpper(col("c_name")).as("s_upper"),
      E.concatE(col("c_name"), lit("-"), col("c_mktsegment")).as("s_concat"),
      E.concatWithSeparator("|", col("c_name"), col("c_mktsegment")).as("s_cws"),
      E.substringE(col("c_name"), lit(10), lit(5)).as("s_sub"),
      E.trailingSubstring(col("c_name"), lit(10)).as("s_tail"),
      E.stringOffset(col("c_name"), "1").as("s_instr"),
      E.stringContains(col("c_name"), "9").as("s_has9"),
      E.stringContainsCI(col("c_mktsegment"), "auto").as("s_ci"),
      E.stringReplace(col("c_name"), "Customer", "Cust").as("s_repl"),
      E.ltrimE(E.concatE(lit("  "), col("c_name"))).as("s_ltrim"),
      E.rtrimE(E.concatE(col("c_name"), lit("  "))).as("s_rtrim"),
      E.trimE(E.concatE(lit(" "), col("c_name"), lit(" "))).as("s_trim"),
      E.toStringE(col("c_custkey")).as("s_tostr")
    ).orderBy("c_custkey")
  }, oracle =
    """SELECT c_custkey, length(c_name) AS s_len, lower(c_name) AS s_lower,
      |upper(c_name) AS s_upper, c_name || '-' || c_mktsegment AS s_concat,
      |concat_ws('|', c_name, c_mktsegment) AS s_cws,
      |substr(c_name, 10, 5) AS s_sub, substr(c_name, 10) AS s_tail,
      |strpos(c_name, '1') AS s_instr, contains(c_name, '9') AS s_has9,
      |contains(lower(c_mktsegment), 'auto') AS s_ci,
      |replace(c_name, 'Customer', 'Cust') AS s_repl,
      |ltrim('  ' || c_name) AS s_ltrim, rtrim(c_name || '  ') AS s_rtrim,
      |trim(' ' || c_name || ' ') AS s_trim, CAST(c_custkey AS VARCHAR) AS s_tostr
      |FROM customer ORDER BY c_custkey""".stripMargin)

  /** The oracle's regexp engine is DuckDB = genuine RE2, so the round-10
    * dialect-guard columns are pinned against the reference's own engine:
    * r_posix ([[:upper:]] translates to \p{Upper}), r_named ((?P<..>)
    * translates to Java named groups), and r_dollar — '[a-z]$' on a
    * newline-terminated string is FALSE under RE2 ($ = end of text) but
    * TRUE under untranslated Java ($ also matches before a final \n). */
  gate("q_expr_regexp", (s, d) => {
    Tables.part(s, d).select(col("p_partkey"),
      E.regexpPartialMatch(col("p_name"), "red|blue").as("r_part"),
      E.regexpFullMatch(col("p_type"), "[A-Z]+").as("r_full"),
      E.regexpExtractE(col("p_name"), "([a-z]+) ([a-z]+)", 2).as("r_ext"),
      E.regexpReplaceE(col("p_name"), "[aeiou]", "_").as("r_repl"),
      E.regexpPartialMatch(col("p_type"), "[[:upper:]]{8,}").as("r_posix"),
      E.regexpExtractE(col("p_name"), "(?P<first>[a-z]+) (?P<second>[a-z]+)", 2).as("r_named"),
      E.regexpPartialMatch(concat(col("p_name"), lit("\n")), "[a-z]$").as("r_dollar"),
      E.regexpPartialMatch(col("p_name"), "[a-z]$").as("r_dollar_true")
    ).orderBy("p_partkey")
  }, oracle =
    """SELECT p_partkey, regexp_matches(p_name, 'red|blue') AS r_part,
      |regexp_full_match(p_type, '[A-Z]+') AS r_full,
      |regexp_extract(p_name, '([a-z]+) ([a-z]+)', 2) AS r_ext,
      |regexp_replace(p_name, '[aeiou]', '_', 'g') AS r_repl,
      |regexp_matches(p_type, '[[:upper:]]{8,}') AS r_posix,
      |regexp_extract(p_name, '(?P<first>[a-z]+) (?P<second>[a-z]+)', 2) AS r_named,
      |regexp_matches(p_name || chr(10), '[a-z]$') AS r_dollar,
      |regexp_matches(p_name, '[a-z]$') AS r_dollar_true
      |FROM part ORDER BY p_partkey""".stripMargin)

  gate("q_expr_datetime", (s, d) => {
    Tables.orders(s, d).select(col("o_orderkey"),
      E.yearE(col("o_orderdate")).as("d_year"),
      E.quarterE(col("o_orderdate")).as("d_quarter"),
      E.monthE(col("o_orderdate")).as("d_month"),
      E.dayE(col("o_orderdate")).as("d_day"),
      E.yearDay(col("o_orderdate")).as("d_yday"),
      E.weekdayE(col("o_orderdate")).as("d_dow"),
      E.unixTimestampE(col("o_orderdate")).as("d_epoch"),
      E.dateFormat(col("o_orderdate"), "yyyy-MM-dd").as("d_fmt"),
      E.dateFormat(E.addDays(col("o_orderdate"), lit(30)), "yyyy-MM-dd").as("d_plus30"),
      E.dateFormat(E.addMonths(col("o_orderdate"), lit(2)), "yyyy-MM-dd").as("d_plus2m"),
      E.dateFormat(E.addMinutes(col("o_orderdate"), lit(90)), "yyyy-MM-dd HH:mm").as("d_plus90m"),
      E.dateFormat(E.makeDateE(lit(2024), lit(3), lit(5)), "yyyy-MM-dd").as("d_make"),
      E.hourE(E.fromUnixTime(lit(3600L * 5 + 90))).as("d_hour"),
      // *Local variants at a fixed +05:30 offset (engine-independent of DST
      // tables): midnight UTC -> 05:30 local, so hour/minute actually move
      E.yearLocal(col("o_orderdate"), "+05:30").as("d_year_loc"),
      E.quarterLocal(col("o_orderdate"), "+05:30").as("d_quarter_loc"),
      E.monthLocal(col("o_orderdate"), "+05:30").as("d_month_loc"),
      E.dayLocal(col("o_orderdate"), "+05:30").as("d_day_loc"),
      E.weekdayLocal(col("o_orderdate"), "+05:30").as("d_dow_loc"),
      E.yearDayLocal(col("o_orderdate"), "+05:30").as("d_yday_loc"),
      E.hourLocal(col("o_orderdate"), "+05:30").as("d_hour_loc"),
      E.minuteLocal(col("o_orderdate"), "+05:30").as("d_min_loc")
    ).orderBy("o_orderkey")
  }, oracle =
    """SELECT o_orderkey, year(o_orderdate) AS d_year, quarter(o_orderdate) AS d_quarter,
      |month(o_orderdate) AS d_month, dayofmonth(o_orderdate) AS d_day,
      |dayofyear(o_orderdate) AS d_yday, dayofweek(o_orderdate) + 1 AS d_dow,
      |CAST(epoch(o_orderdate) AS BIGINT) AS d_epoch,
      |strftime(o_orderdate, '%Y-%m-%d') AS d_fmt,
      |strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS d_plus30,
      |strftime(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH, '%Y-%m-%d') AS d_plus2m,
      |strftime(o_orderdate + INTERVAL 90 MINUTE, '%Y-%m-%d %H:%M') AS d_plus90m,
      |strftime(DATE '2024-03-05', '%Y-%m-%d') AS d_make,
      |hour(TIMESTAMP '1970-01-01 05:01:30') AS d_hour,
      |year(CAST(o_orderdate AS TIMESTAMP) + INTERVAL 330 MINUTE) AS d_year_loc,
      |quarter(CAST(o_orderdate AS TIMESTAMP) + INTERVAL 330 MINUTE) AS d_quarter_loc,
      |month(CAST(o_orderdate AS TIMESTAMP) + INTERVAL 330 MINUTE) AS d_month_loc,
      |dayofmonth(CAST(o_orderdate AS TIMESTAMP) + INTERVAL 330 MINUTE) AS d_day_loc,
      |dayofweek(CAST(o_orderdate AS TIMESTAMP) + INTERVAL 330 MINUTE) + 1 AS d_dow_loc,
      |dayofyear(CAST(o_orderdate AS TIMESTAMP) + INTERVAL 330 MINUTE) AS d_yday_loc,
      |hour(CAST(o_orderdate AS TIMESTAMP) + INTERVAL 330 MINUTE) AS d_hour_loc,
      |minute(CAST(o_orderdate AS TIMESTAMP) + INTERVAL 330 MINUTE) AS d_min_loc
      |FROM orders ORDER BY o_orderkey""".stripMargin)

  gate("q_expr_cast", (s, d) => {
    Tables.orders(s, d).select(col("o_orderkey"),
      E.castTo(org.apache.spark.sql.types.StringType)(col("o_orderkey")).as("c_str"),
      E.castTo(org.apache.spark.sql.types.IntegerType)(
        substring(col("o_orderpriority"), 1, 1)).as("c_int"),
      E.parseStringNulling(org.apache.spark.sql.types.IntegerType)(lit("abc")).as("c_bad"),
      E.parseStringQuiet(org.apache.spark.sql.types.IntegerType)(lit("42")).as("c_good"),
      E.castTo(org.apache.spark.sql.types.DoubleType)(col("o_orderkey")).as("c_dbl"),
      floor(col("o_totalprice")).cast("long").as("c_floor"),
      // ParseStringQuiet = longest-valid-prefix (strtol/strtod) semantics
      E.parseStringQuiet(org.apache.spark.sql.types.IntegerType)(
        concat(col("o_orderkey").cast("string"), lit("abc"))).as("c_quiet_partial"),
      E.parseStringQuiet(org.apache.spark.sql.types.DoubleType)(
        lit(" 3.5e2xyz")).as("c_quiet_dbl"),
      E.castSignaling(org.apache.spark.sql.types.IntegerType)(lit("7")).as("c_sig")
    ).orderBy("o_orderkey")
  }, oracle =
    """SELECT o_orderkey, CAST(o_orderkey AS VARCHAR) AS c_str,
      |CAST(substr(o_orderpriority, 1, 1) AS INT) AS c_int,
      |TRY_CAST('abc' AS INT) AS c_bad, TRY_CAST('42' AS INT) AS c_good,
      |CAST(o_orderkey AS DOUBLE) AS c_dbl,
      |CAST(floor(o_totalprice) AS BIGINT) AS c_floor,
      |CAST(o_orderkey AS INT) AS c_quiet_partial,
      |350.0 AS c_quiet_dbl,
      |7 AS c_sig
      |FROM orders ORDER BY o_orderkey""".stripMargin)

  gate("q_expr_hash", (s, d) => {
    Aggregates.scalarAggregate(Seq(
      Agg(COUNT, Some("h64"), "nd_hash", distinct = true),
      Agg(COUNT, Some("hmd5"), "nd_md5", distinct = true),
      Agg(MIN, Some("hmd5"), "min_md5"),
      // VALUE-exact (round 10): SupersonicHash(c_custkey, 7) min/max —
      // the DuckDB oracle replays the hash.cc mixing in closed form.
      Agg(MIN, Some("hk7"), "min_hk7"),
      Agg(MAX, Some("hk7"), "max_hk7")))(
      Tables.customer(s, d).select(
        E.fingerprint(col("c_name")).as("h64"), md5(col("c_name")).as("hmd5"),
        E.hashWithSeed(col("c_custkey"), 7L).as("hk7")))
  }, oracle =
    s"""SELECT COUNT(DISTINCT c_name) AS nd_hash, COUNT(DISTINCT md5(c_name)) AS nd_md5,
      |MIN(md5(c_name)) AS min_md5,
      |MIN(${ssToI64(ssHashNum("c_custkey", 7L))}) AS min_hk7,
      |MAX(${ssToI64(ssHashNum("c_custkey", 7L))}) AS max_hk7 FROM customer""".stripMargin)

  /** q_expr_fingerprint — per-row EXACT value parity for
    * SupersonicFingerprint / SupersonicHash (hashing_expressions.h:28-35,
    * hash.cc:55-85): string fingerprint, seeded string hash, int64
    * fingerprint, and an int32 fingerprint that exercises C++'s
    * int32→uint64 SIGN EXTENSION (c_nationkey - 13 goes negative). The
    * DuckDB oracle replays the 4-byte-chunk prime mixing with a recursive
    * CTE in hugeint mod-2^64 arithmetic — see [[ssHashOracleSql]]. */
  gate("q_expr_fingerprint", (s, d) => {
    Tables.customer(s, d).select(col("c_custkey"),
      E.fingerprint(col("c_name")).as("fp_name"),
      E.hashWithSeed(col("c_name"), 7L).as("h7_name"),
      E.fingerprint(col("c_custkey")).as("fp_key"),
      E.fingerprint((col("c_nationkey").cast("int") - lit(13)).cast("int")).as("fp_n32"))
      .orderBy("c_custkey")
  }, oracle = ssFingerprintOracleSql)
}
