package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType}

/** Scalar expression surface mirroring the reference's expression factories
  * (supersonic/expression/core — see SURVEY.md §2.7), each returning an
  * `org.apache.spark.sql.Column` so the whole tree stays inside Catalyst
  * codegen (no UDFs anywhere in this file).
  *
  * Error-policy triples (reference: Signaling / Nulling / Quiet, e.g.
  * arithmetic_expressions.h:31-101): with ANSI off, Spark's built-ins are
  * the Nulling/Quiet behavior; Signaling variants raise via `raise_error`.
  */
object Exprs {

  // ===== Error policies =====
  /** Nulling: NULL on error — Spark default with ANSI off. */
  def nulling(c: Column): Column = c
  /** Signaling: fail the query on error (error == NULL result of `c` while
    * inputs were non-null). */
  def signaling(c: Column, inputs: Seq[Column], name: String): Column =
    when(c.isNull.and(inputs.map(_.isNotNull).reduce(_ && _)),
      raise_error(lit(s"$name: evaluation error"))).otherwise(c)

  // ===== Arithmetic (arithmetic_expressions.h:31-101) =====
  def plus(a: Column, b: Column): Column = a + b
  def minus(a: Column, b: Column): Column = a - b
  def multiply(a: Column, b: Column): Column = a * b
  /** Divide promotes ints to double (arithmetic_expressions.h:64-66). */
  def divide(a: Column, b: Column): Column = a.cast(DoubleType) / b.cast(DoubleType)
  def divideNulling(a: Column, b: Column): Column = when(b === 0, lit(null)).otherwise(divide(a, b))
  def divideSignaling(a: Column, b: Column): Column =
    signaling(divideNulling(a, b), Seq(a, b), "DivideSignaling")
  /** C++ integer division (CppDivide). */
  def cppDivide(a: Column, b: Column): Column = try_divide(a, b).cast(LongType)
  def cppDivideNulling(a: Column, b: Column): Column =
    when(b === 0, lit(null)).otherwise(cppDivide(a, b))
  def cppDivideSignaling(a: Column, b: Column): Column =
    signaling(cppDivideNulling(a, b), Seq(a, b), "CppDivideSignaling")
  def modulus(a: Column, b: Column): Column = a % b
  def modulusNulling(a: Column, b: Column): Column = when(b === 0, lit(null)).otherwise(a % b)
  def negate(a: Column): Column = -a
  def isOdd(a: Column): Column = pmod(a, lit(2)) === 1
  def isEven(a: Column): Column = pmod(a, lit(2)) === 0

  // ===== Comparison (comparison_expressions.h:34-88) =====
  def equal(a: Column, b: Column): Column = a === b
  def notEqual(a: Column, b: Column): Column = a =!= b
  def less(a: Column, b: Column): Column = a < b
  def lessOrEqual(a: Column, b: Column): Column = a <= b
  def greater(a: Column, b: Column): Column = a > b
  def greaterOrEqual(a: Column, b: Column): Column = a >= b
  /** SQL 3-valued IN incl. NULL-in-list (comparison_expressions.h:75-83). */
  def in(needle: Column, haystack: Column*): Column = needle.isin(haystack: _*)

  // ===== Logic / control (elementary_expressions.h:31-119) =====
  def castTo(t: DataType)(c: Column): Column = c.cast(t)
  /** ParseStringQuiet — C++ strtol/strtod semantics: parse the longest valid
    * numeric prefix ("123abc" → 123), unlike Nulling which rejects any
    * trailing garbage (reference: OPERATOR_PARSE_STRING_QUIET,
    * operators.proto:437; elementary_expressions.h). Documented deltas vs
    * C++: an empty prefix yields NULL (the reference leaves the value
    * unspecified), and a prefix that overflows the target type yields NULL
    * (strtol clamps to the type bound with ERANGE instead). */
  def parseStringQuiet(t: DataType)(c: Column): Column = t match {
    case LongType | org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType =>
      // native codegen'd byte loop (ParseLongPrefix) — the regex
      // formulation walks the regex engine and allocates the match per
      // row; try_cast narrows with NULL-on-overflow for sub-long types
      graft.functions.ParsePrefixExpression.parse_long_prefix(c).try_cast(t)
    case DoubleType | org.apache.spark.sql.types.FloatType =>
      regexp_extract(c, "^\\s*([+-]?(?:\\d+\\.?\\d*|\\.\\d+)(?:[eE][+-]?\\d+)?)", 1)
        .try_cast(t)
    case _ => c.try_cast(t)
  }
  def parseStringNulling(t: DataType)(c: Column): Column = c.try_cast(t)
  /** CastSignaling (OPERATOR_CAST_SIGNALING, operators.proto:267): error on
    * an unparseable value instead of NULL. */
  def castSignaling(t: DataType)(c: Column): Column =
    signaling(c.try_cast(t), Seq(c), "CastSignaling")
  def ifExpr(cond: Column, t: Column, f: Column): Column = when(cond, t).otherwise(f)
  /** NullingIf: NULL when condition is NULL (3-valued IF). */
  def nullingIf(cond: Column, t: Column, f: Column): Column =
    when(cond.isNull, lit(null)).when(cond, t).otherwise(f)
  def and(a: Column, b: Column): Column = a && b
  def or(a: Column, b: Column): Column = a || b
  def andNot(a: Column, b: Column): Column = !a && b
  def xor(a: Column, b: Column): Column = a =!= b
  def not(a: Column): Column = !a
  def isNull(a: Column): Column = a.isNull
  def ifNull(a: Column, b: Column): Column = coalesce(a, b)
  def caseExpr(scrutinee: Column, pairs: Seq[(Column, Column)], default: Column): Column =
    pairs.foldRight(default) { case ((k, v), acc) => when(scrutinee === k, v).otherwise(acc) }
  def bitwiseNot(a: Column): Column = bitwise_not(a)
  def bitwiseAnd(a: Column, b: Column): Column = a.bitwiseAND(b)
  def bitwiseAndNot(a: Column, b: Column): Column = bitwise_not(a).bitwiseAND(b)
  def bitwiseOr(a: Column, b: Column): Column = a.bitwiseOR(b)
  def bitwiseXor(a: Column, b: Column): Column = a.bitwiseXOR(b)
  def shiftLeftE(a: Column, n: Int): Column = shiftleft(a, n)
  def shiftRightE(a: Column, n: Int): Column = shiftright(a, n)

  // ===== Math (math_expressions.h:37-138) =====
  def expE(c: Column): Column = exp(c)
  def ln(c: Column): Column = log(c)
  def lnNulling(c: Column): Column = when(c <= 0, lit(null)).otherwise(log(c))
  def log10E(c: Column): Column = log10(c)
  def log10Nulling(c: Column): Column = when(c <= 0, lit(null)).otherwise(log10(c))
  def log10Signaling(c: Column): Column =
    signaling(log10Nulling(c), Seq(c), "Log10Signaling")
  def log2E(c: Column): Column = log2(c)
  def log2Nulling(c: Column): Column = when(c <= 0, lit(null)).otherwise(log2(c))
  def log2Signaling(c: Column): Column =
    signaling(log2Nulling(c), Seq(c), "Log2Signaling")
  def logBase(base: Double, c: Column): Column = log(base, c)
  def logBaseNulling(base: Double, c: Column): Column =
    when(c <= 0, lit(null)).otherwise(log(base, c))
  def logBaseSignaling(base: Double, c: Column): Column =
    signaling(logBaseNulling(base, c), Seq(c), "LogSignaling")
  def sinE(c: Column): Column = sin(c)
  def cosE(c: Column): Column = cos(c)
  def tanE(c: Column): Column = tan(c)
  def cotE(c: Column): Column = cos(c) / sin(c)
  def atanE(c: Column): Column = atan(c)
  def atan2E(y: Column, x: Column): Column = atan2(y, x)
  def toDegrees(c: Column): Column = degrees(c)
  def toRadians(c: Column): Column = radians(c)
  def piE: Column = lit(math.Pi)
  def absE(c: Column): Column = abs(c)
  def roundE(c: Column): Column = round(c, 0)
  def ceilE(c: Column): Column = ceil(c)
  def floorE(c: Column): Column = floor(c)
  /** Trunc toward zero (reference Trunc on doubles). */
  def truncE(c: Column): Column = when(c >= 0, floor(c)).otherwise(ceil(c)).cast(DoubleType)
  def roundToInt(c: Column): Column = round(c, 0).cast(LongType)
  def ceilToInt(c: Column): Column = ceil(c)
  def floorToInt(c: Column): Column = floor(c)
  def sqrtE(c: Column): Column = sqrt(c)
  def sqrtNulling(c: Column): Column = when(c < 0, lit(null)).otherwise(sqrt(c))
  def powerE(a: Column, b: Column): Column = pow(a, b)
  /** PowNulling: NULL where the result is domain-invalid (negative base
    * with non-integer exponent → NaN in the Quiet variant). */
  def powNulling(a: Column, b: Column): Column = {
    val p = pow(a, b)
    when(isnan(p), lit(null)).otherwise(p)
  }
  def powSignaling(a: Column, b: Column): Column =
    signaling(powNulling(a, b), Seq(a, b), "PowSignaling")
  def format(c: Column, digits: Int): Column = format_number(c, digits)
  /** FormatSignaling — fails on negative precision (reference:
    * expression_traits.h:1628-1642, SecondColumnNegativeFailer). */
  def formatSignaling(c: Column, digits: Column): Column =
    when(digits < 0, raise_error(lit("FormatSignaling: negative precision")))
      .otherwise(call_function("format_number", c, digits))
  def isNaNE(c: Column): Column = isnan(c)
  def isInf(c: Column): Column = c === Double.PositiveInfinity || c === Double.NegativeInfinity
  def isFinite(c: Column): Column = !isnan(c) && !isInf(c)
  def isNormal(c: Column): Column =
    isFinite(c) && (c === 0.0 || abs(c) >= lit(java.lang.Double.MIN_NORMAL))

  // ===== String (string_expressions.h:29-102) =====
  def toStringE(c: Column): Column = c.cast(StringType)
  def concatE(cs: Column*): Column = concat(cs: _*)
  def concatWithSeparator(sep: String, cs: Column*): Column = concat_ws(sep, cs: _*)
  def lengthE(c: Column): Column = length(c)
  def ltrimE(c: Column): Column = ltrim(c)
  def rtrimE(c: Column): Column = rtrim(c)
  def trimE(c: Column): Column = trim(c)
  def toUpper(c: Column): Column = upper(c)
  def toLower(c: Column): Column = lower(c)
  /** 1-based; negative pos counts from the end (string_expressions.h:70-85)
    * — Spark substring agrees. */
  def substringE(c: Column, pos: Column, len: Column): Column = c.substr(pos, len)
  /** SUBSTRING_SIGNALING (operators.proto:427) — in the reference the
    * "signaling" marker flags C++ memory-unsafety (can_fail = false,
    * expression_traits.h:1609-1625), not a runtime error path; Spark's
    * substring is bounds-safe, so this is the same operation. */
  def substringSignaling(c: Column, pos: Column, len: Column): Column = c.substr(pos, len)
  def trailingSubstring(c: Column, pos: Column): Column = c.substr(pos, length(c))
  /** 1-based offset of needle, 0 if absent — matches Spark instr. */
  def stringOffset(c: Column, needle: String): Column = instr(c, needle)
  def stringContains(c: Column, needle: String): Column = c.contains(needle)
  def stringContainsCI(c: Column, needle: String): Column = lower(c).contains(needle.toLowerCase(java.util.Locale.ROOT))
  def stringReplace(c: Column, search: String, repl: String): Column =
    replace(c, lit(search), lit(repl))

  // ===== Regexp (regexp_expressions.h:34-76). The reference evaluates
  // RE2; Spark evaluates java.util.regex. Round 10: every pattern passes
  // through the Re2Dialect guard — RE2 constructs with exact Java
  // equivalents are translated, RE2-only (\C) and Java-only
  // (backreferences, lookaround, possessive) constructs are REJECTED with
  // a dialect diagnostic instead of silently changing meaning. DuckDB's
  // regexp functions are RE2, so q_expr_regexp pins the translation
  // against genuine RE2 evaluation. =====
  def regexpPartialMatch(c: Column, pattern: String): Column =
    c.rlike(Re2Dialect.toJava(pattern))
  def regexpFullMatch(c: Column, pattern: String): Column =
    c.rlike("^(?:" + Re2Dialect.toJava(pattern) + ")\\z")
  /** RegexpReplace (regexp_expressions.h:46-50): replaces every match with
    * the SUBSTITUTE VALUE — a plain string, not a Java rewrite template
    * (the \1-capable RegexpRewrite is unimplemented in the reference), so
    * `$` and `\` in the substitute are literal characters here, where raw
    * Spark regexp_replace would read `$1` as a group reference. */
  def regexpReplaceE(c: Column, pattern: String, substitute: String): Column =
    regexp_replace(c, Re2Dialect.toJava(pattern),
      java.util.regex.Matcher.quoteReplacement(substitute))
  def regexpExtractE(c: Column, pattern: String, group: Int = 1): Column =
    regexp_extract(c, Re2Dialect.toJava(pattern), group)

  // ===== Civil-time core (session-timezone INVARIANCE) =====
  // The reference's DATETIME is an int64 of UTC micros and every non-Local
  // extractor reads UTC fields (date_expressions.h:31-175). The Spark-native
  // carrier for that semantics is TIMESTAMP_NTZ: civil field extraction and
  // truncation on NTZ never consult spark.sql.session.timeZone, so results
  // cannot depend on what zone a user's cluster session happens to run —
  // the round-9 TZ sweep (Verify under SPARK_GRAFT_TZ) is the suite-wide
  // proof. Epoch conversion must therefore be CIVIL arithmetic (a
  // timestamp_diff against the NTZ epoch), never unix_micros, whose
  // NTZ→LTZ coercion re-interprets the wall clock in the session zone.

  /** 1970-01-01T00:00 as a TIMESTAMP_NTZ literal — the civil epoch. */
  private val NtzEpoch: Column = lit(java.time.LocalDateTime.of(1970, 1, 1, 0, 0))

  /** Epoch micros of a civil value (TIMESTAMP_NTZ or DATE), reading the
    * wall clock as UTC. Session-timezone-invariant; do not pass
    * TIMESTAMP (LTZ) columns — their NTZ cast goes through the session
    * zone, which is exactly the dependence this helper exists to avoid. */
  /** NTZ wall clock → the LTZ instant with that wall clock READ AS UTC,
    * via a Cast whose zone is pinned (NOT the session zone). */
  private def ntzAsUtcInstant(c: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{Cast => CCast}
    org.apache.spark.sql.graftbridge.ColumnBridge.toColumn(CCast(
      org.apache.spark.sql.graftbridge.ColumnBridge.toExpr(c.cast("timestamp_ntz")),
      org.apache.spark.sql.types.TimestampType, Some("UTC")))
  }
  /** Civil wall-clock difference, fully UTC-pinned. The functions-API
    * timestamp_diff is DOUBLY session-zone-dependent on NTZ inputs: the
    * implicit NTZ→LTZ input cast uses the session zone (wall→instant), and
    * TimestampDiff itself diffs the instants' WALL CLOCKS in its own
    * (session) timeZoneId. The two session reads cancel row-by-row except
    * inside the session zone's DST spring-forward gap, where the
    * nonexistent wall clock normalizes forward (caught round 10 by the
    * 2024-03-10 02:30 fixture: +3600 s under America/Los_Angeles).
    * Pinning BOTH the input casts and the diff's zone to UTC (no DST)
    * makes the wall-clock arithmetic total and session-invariant. */
  private def civilDiff(unit: String, c: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.TimestampDiff
    val B = org.apache.spark.sql.graftbridge.ColumnBridge
    B.toColumn(new TimestampDiff(unit,
      B.toExpr(ntzAsUtcInstant(NtzEpoch)), B.toExpr(ntzAsUtcInstant(c)),
      Some("UTC")))
  }
  def epochMicrosCivil(c: Column): Column = civilDiff("MICROSECOND", c)
  def epochMillisCivil(c: Column): Column = civilDiff("MILLISECOND", c)
  def epochSecondsCivil(c: Column): Column = civilDiff("SECOND", c)
  /** Inverse: epoch micros → civil TIMESTAMP_NTZ (wall clock = UTC). */
  def civilFromMicros(us: Column): Column =
    timestamp_add("MICROSECOND", us, NtzEpoch)
  def civilFromSeconds(s: Column): Column =
    timestamp_add("SECOND", s, NtzEpoch)

  /** Civil `date_trunc`: truncation of the UTC-read wall clock, returning
    * TIMESTAMP_NTZ. Spark's own `date_trunc` declares a TIMESTAMP (LTZ)
    * input, so an NTZ argument is implicitly CAST through the session
    * zone and the truncated INSTANT moves with the session (rendering
    * back in the same zone masks it — the round-9 TZ sweep caught it via
    * parquet-written cohort/bucket columns). Fixed-width units truncate
    * in civil epoch space (a civil day is always 86400 s — the UTC frame
    * has no DST); calendar units go through the DATE-typed `trunc`,
    * which never consults the session zone. */
  def dateTruncCivil(unit: String, c: Column): Column = {
    val n = c.cast("timestamp_ntz")
    unit.toLowerCase(java.util.Locale.ROOT) match {
      case "second" => civilFromMicros(
        epochMicrosCivil(n) - pmod(epochMicrosCivil(n), lit(1000000L)))
      case "minute" => civilFromMicros(
        epochMicrosCivil(n) - pmod(epochMicrosCivil(n), lit(60L * 1000000)))
      case "hour" => civilFromMicros(
        epochMicrosCivil(n) - pmod(epochMicrosCivil(n), lit(3600L * 1000000)))
      case "day" => n.cast("date").cast("timestamp_ntz")
      case u @ ("week" | "month" | "quarter" | "year") =>
        trunc(n.cast("date"), u).cast("timestamp_ntz")
      case other => throw new IllegalArgumentException(
        s"dateTruncCivil: unsupported unit '$other'")
    }
  }

  // ===== Date/time (date_expressions.h:31-175; non-Local = UTC fields,
  // carried as civil TIMESTAMP_NTZ so no session pin is needed) =====
  /** UTC wall clock now, as civil NTZ (reference Now() is UTC micros). */
  def now(): Column = civilFromMicros(unix_micros(current_timestamp()))
  def unixTimestampE(c: Column): Column = epochSecondsCivil(c)
  def fromUnixTime(c: Column): Column = civilFromSeconds(c)
  def makeDateE(y: Column, m: Column, d: Column): Column = make_date(y, m, d)
  def makeDatetime(y: Column, mo: Column, d: Column, h: Column, mi: Column, s: Column): Column =
    make_timestamp_ntz(y, mo, d, h, mi, s)
  def parseDateTime(c: Column, fmt: String): Column = to_timestamp_ntz(c, lit(fmt))
  def yearE(c: Column): Column = year(c)
  def quarterE(c: Column): Column = quarter(c)
  def monthE(c: Column): Column = month(c)
  def dayE(c: Column): Column = dayofmonth(c)
  def weekdayE(c: Column): Column = dayofweek(c) // 1=Sunday..7=Saturday
  def yearDay(c: Column): Column = dayofyear(c)
  def hourE(c: Column): Column = hour(c)
  def minuteE(c: Column): Column = minute(c)
  def secondE(c: Column): Column = second(c)
  def microsecondE(c: Column): Column = (epochMicrosCivil(c) % 1000000L).cast("int")
  def addDays(c: Column, n: Column): Column = date_add(c.cast("date"), n)
  def addMonths(c: Column, n: Column): Column = add_months(c.cast("date"), n)
  def addMinutes(c: Column, n: Column): Column =
    c + make_dt_interval(lit(0), lit(0), n.cast("int"), lit(0))
  /** Format a civil (NTZ) wall clock with NO session-zone round trip.
    * Plain date_format on an NTZ input implicitly casts NTZ→LTZ through
    * spark.sql.session.timeZone and formats back in the same zone — which
    * cancels EXCEPT for wall clocks inside that zone's DST spring-forward
    * gap (e.g. 2024-03-10 02:30 under America/Los_Angeles renders 03:30).
    * Pinning BOTH the cast and the formatter to UTC (a zone with no DST)
    * makes formatting truly session-invariant. */
  private def formatCivil(c: Column, fmt: String): Column = {
    import org.apache.spark.sql.catalyst.expressions.{Cast => CCast, DateFormatClass, Literal => CLit}
    val utcInstant = CCast(
      org.apache.spark.sql.graftbridge.ColumnBridge.toExpr(c.cast("timestamp_ntz")),
      org.apache.spark.sql.types.TimestampType, Some("UTC"))
    org.apache.spark.sql.graftbridge.ColumnBridge.toColumn(
      DateFormatClass(utcInstant, CLit(fmt), Some("UTC")))
  }
  def dateFormat(c: Column, fmt: String): Column = formatCivil(c, fmt)
  def dateFormatLocal(c: Column, fmt: String, tz: String): Column =
    formatCivil(atTz(c, tz), fmt)

  // ===== `*Local` datetime variants (operators.proto:604-644): the field
  // extractors re-read in a caller-supplied timezone. The non-Local surface
  // reads UTC fields (civil NTZ), so Local(tz = "UTC") coincides — the tz
  // argument is the whole point of the variant. convert_timezone with BOTH
  // zones explicit keeps this session-independent. =====
  private def atTz(c: Column, tz: String): Column =
    convert_timezone(lit("UTC"), lit(tz), c.cast("timestamp_ntz"))
  def yearLocal(c: Column, tz: String): Column = year(atTz(c, tz))
  def quarterLocal(c: Column, tz: String): Column = quarter(atTz(c, tz))
  def monthLocal(c: Column, tz: String): Column = month(atTz(c, tz))
  def dayLocal(c: Column, tz: String): Column = dayofmonth(atTz(c, tz))
  def weekdayLocal(c: Column, tz: String): Column = dayofweek(atTz(c, tz))
  def yearDayLocal(c: Column, tz: String): Column = dayofyear(atTz(c, tz))
  def hourLocal(c: Column, tz: String): Column = hour(atTz(c, tz))
  def minuteLocal(c: Column, tz: String): Column = minute(atTz(c, tz))

  // ===== Hashing (hashing_expressions.h:28-35) — EXACT value parity with
  // the reference's hash.cc mixing (round 10; was xxhash64 with a
  // documented delta). uint64 carried as LongType two's complement. =====
  def fingerprint(c: Column): Column =
    SupersonicHashExpression.supersonicFingerprint(c)
  def hashWithSeed(c: Column, seed: Long): Column =
    SupersonicHashExpression.supersonicHash(c, lit(seed))
  /** SupersonicHash(e, seed) with a full seed expression (uint64, no
    * implicit cast — hashing_expressions.h:31-36). */
  def hashE(c: Column, seed: Column): Column =
    SupersonicHashExpression.supersonicHash(c, seed)

  // ===== Additional Signaling variants (policy triple completeness) =====
  def modulusSignaling(a: Column, b: Column): Column =
    signaling(modulusNulling(a, b), Seq(a, b), "ModulusSignaling")
  def sqrtSignaling(c: Column): Column = signaling(sqrtNulling(c), Seq(c), "SqrtSignaling")
  def lnSignaling(c: Column): Column = signaling(lnNulling(c), Seq(c), "LnSignaling")

  // ===== Const datetime factories (date_expressions.h:31-60) — civil NTZ,
  // the ISO text / epoch count read as UTC regardless of session zone =====
  def constDateTime(iso: String): Column = lit(iso).cast("timestamp_ntz")
  def constDateTimeFromMicrosecondsSinceEpoch(us: Long): Column = civilFromMicros(lit(us))
  def constDateTimeFromSecondsSinceEpoch(s: Long): Column = civilFromSeconds(lit(s))

  // ===== Projecting expressions (projecting_expressions.h:46-73) =====
  def namedAttribute(name: String): Column = col(name)
  def attributeAt(df: org.apache.spark.sql.DataFrame, i: Int): Column = col(df.columns(i))
  def aliasE(c: Column, name: String): Column = c.as(name)
  /** CompoundExpression — multi-column result = a list of Columns. */
  def compound(cs: Column*): Seq[Column] = cs

  // ===== Terminal (terminal_expressions.h:36-71) =====
  def nullOf(t: DataType): Column = lit(null).cast(t)
  def const[T](v: T): Column = lit(v)
  /** Sequence() — consecutive int64 per row; pair with Generate. */
  def sequence(idCol: Column): Column = idCol
}
