package graft.xml

import java.time.{Instant, ZoneId}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeSet, Expression,
  NamedLambdaVariable, TimeZoneAwareExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The reference's six scalar parsers (SURVEY.md §1.2, reference
  * Parser.cs:15-95), in two forms with the same results.
  *
  * The Column transforms below (`intStrict` … `str`) define the semantics.
  * Input: the raw string content of an element (null = element missing,
  * "" = present but empty). ANSI-mode safe: null-propagating parsers use
  * try_cast, the strict parsers keep the ANSI cast so bad input errors like
  * Convert.ToInt32 does.
  *
  * The DSL applies them through byte decoders instead ([[decode]]):
  * [[XmlFastScan]]'s typed parse reads each value straight from the record
  * bytes, and [[XmlScalarExpr]] reads one string cell. A decoder returns the
  * value for the text shapes it knows exactly, null for text it can prove
  * the cast rejects (so garbage becomes null without Spark building and
  * catching an exception per cell), and [[Unknown]] for anything else,
  * which that one cell then evaluates with the transform below
  * ([[Cells]]). Strict parsers leave every invalid text to that transform,
  * so it raises Spark's own CAST_INVALID_INPUT; they run at their member,
  * never inside the typed parse ([[typedBy]]).
  */
object XmlValues {

  /** `Int` (Parser.cs:26-32): missing -> 0; present-but-unparseable (incl.
    * empty) -> error, matching Convert.ToInt32 throwing. */
  def intStrict(c: Column): Column =
    when(c.isNull, lit(0)).otherwise(trim(c).cast("int"))

  /** `NullInt` (Parser.cs:58-67): empty/missing -> null; unparseable -> null
    * (deviation: reference throws on garbage — [[nullIntStrict]] restores
    * that; this default is the distributed-friendly posture where one bad
    * record must not kill a 100 TB job). */
  def nullInt(c: Column): Column = trim(c).try_cast("int")

  /** `NullInt` with full reference parity (Parser.cs:58-67): empty/missing
    * -> null, but non-empty unparseable text THROWS like Convert.ToInt32 —
    * the ANSI cast raises CAST_INVALID_INPUT. */
  def nullIntStrict(c: Column): Column =
    when(c.isNull || trim(c) === "", lit(null).cast("int"))
      .otherwise(trim(c).cast("int"))

  /** `NullBool` (Parser.cs:15-24): empty/missing -> null; "true"/"false". */
  def nullBool(c: Column): Column = trim(c).try_cast("boolean")

  /** `NullDecimal` (Parser.cs:69-84): empty/missing/unparseable -> null.
    * The reference's culture-separator quirk (Parser.cs:79) is deliberately
    * NOT applied here (SURVEY.md §7.3) — this is the sane default;
    * [[nullDecimalCulture]] restores bug-for-bug parity. */
  def nullDecimal(c: Column): Column = trim(c).try_cast(DecimalType(38, 18))

  /** `NullDecimal` with full reference parity, QUIRK INCLUDED. Parser.cs:79
    * runs `str.Replace(".", numberFormatInfo.NumberGroupSeparator)` where
    * `new NumberFormatInfo()` is invariant-culture: the group separator is
    * `","`. So every `.` becomes a THOUSANDS separator and .NET's TryParse
    * (NumberStyles.Number) strips group separators regardless of position:
    * `"123.45"` parses as `12345`, `"1.2.3"` as `123`, and an input that
    * already used `","` groups (`"1,234"`) also parses as `1234`. A LEADING
    * or TRAILING separator (`".5"`, `"5."`) makes TryParse fail -> null,
    * which the guards below reproduce. Opt-in only — use when byte-for-byte
    * agreement with reference output matters more than correct decimals. */
  def nullDecimalCulture(c: Column): Column = {
    val t = trim(c)
    val sep = t.rlike("^[^.,].*[.,]") && !t.rlike("[.,]$") // no lead/trail sep
    val stripped = regexp_replace(t, "[.,]", "")
    when(sep, stripped.try_cast(DecimalType(38, 18)))
      .otherwise(when(t.rlike("[.,]"), lit(null).cast(DecimalType(38, 18)))
        .otherwise(t.try_cast(DecimalType(38, 18))))
  }

  /** `NullDate` (Parser.cs:86-95): empty/missing -> null. */
  def nullDate(c: Column): Column = try_to_timestamp(trim(c))

  /** `String` (Parser.cs:34-56): identity — mixed-content concatenation is
    * handled upstream (native source serialization or XmlStax value). */
  def str(c: Column): Column = c

  // ------------------------------------------------------------------
  // parsers as values: what the DSL records per accessor
  // ------------------------------------------------------------------

  final val Str = 0
  final val IntStrict = 1
  final val NullInt = 2
  final val NullIntStrict = 3
  final val NullBool = 4
  final val NullDecimal = 5
  /** `nullDate` in a session whose timestamps are TIMESTAMP_LTZ. */
  final val NullDate = 6
  /** `nullDate` in a session whose timestamps are TIMESTAMP_NTZ: decoded
    * by Spark only. */
  final val NullDateNtz = 7

  val parserNames: Array[String] = Array("str", "int", "nullInt",
    "nullIntStrict", "nullBool", "nullDecimal", "nullDate", "nullDateNtz")

  /** `nullDate`'s parser in the current session. */
  def nullDateParser: Int =
    if (SQLConf.get.timestampType == TimestampNTZType) NullDateNtz
    else NullDate

  /** A recorded parser as the current session binds it. */
  def current(parser: Int): Int =
    if (parser == NullDate || parser == NullDateNtz) nullDateParser
    else parser

  /** `int` and `nullIntStrict`: they raise on garbage. */
  def strict(parser: Int): Boolean =
    parser == IntStrict || parser == NullIntStrict

  /** The field of a typed parse a member of `parser` reads: its own, or
    * the string for a strict parser, whose cast then runs at the member,
    * only where and when the member is read. */
  def typedBy(parser: Int): Int = if (strict(parser)) Str else current(parser)

  def dataType(parser: Int): DataType = parser match {
    case Str                                => StringType
    case IntStrict | NullInt | NullIntStrict => IntegerType
    case NullBool                           => BooleanType
    case NullDecimal                        => DecimalType(38, 18)
    case NullDate                           => TimestampType
    case NullDateNtz                        => TimestampNTZType
  }

  /** The Column transform of `parser`. */
  def column(parser: Int, c: Column): Column = parser match {
    case Str                      => str(c)
    case IntStrict                => intStrict(c)
    case NullInt                  => nullInt(c)
    case NullIntStrict            => nullIntStrict(c)
    case NullBool                 => nullBool(c)
    case NullDecimal              => nullDecimal(c)
    case NullDate | NullDateNtz   => nullDate(c)
  }

  /** The transform of `parser` over a string cell, a variable the holding
    * expression binds like a lambda's: what [[Cells]] evaluates for a cell
    * the decoders leave undecided. The analyzer resolves it as a child of
    * the holding expression, and subexpression elimination never looks
    * inside an expression that reads a lambda variable. */
  def cell(parser: Int): Expression = {
    import org.apache.spark.sql.graft.ColumnBridge.{column => col, tree}
    tree(column(parser, col(NamedLambdaVariable("cell", StringType,
      nullable = true))))
  }

  /** `parser` applied to a string column: [[XmlScalarExpr]], or the column
    * itself for `str`. */
  def parse(parser: Int, c: Column): Column =
    if (parser == Str) c
    else {
      import org.apache.spark.sql.graft.ColumnBridge.{column => col, tree}
      col(XmlScalarExpr(tree(c), parser, cell(parser)))
    }

  // ------------------------------------------------------------------
  // byte decoders
  // ------------------------------------------------------------------

  /** A decoder's answer for text it does not decide. */
  val Unknown: AnyRef = new Object

  /** Session offsets of a zone with no fixed offset (zone-less timestamps
    * are then left to Spark). */
  final val NoFixedOffset = Int.MinValue

  def fixedOffset(zone: ZoneId): Int =
    if (zone.getRules.isFixedOffset)
      zone.getRules.getOffset(Instant.EPOCH).getTotalSeconds
    else NoFixedOffset

  // the four whitespace bytes both Spark's trims and its casts strip
  private def isWs(c: Byte): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r'

  private def isLetter(c: Byte): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  private def isDigit(c: Byte): Boolean = c >= '0' && c <= '9'

  /** `parser` over the text b[s, e) (never `str`): the value, null, or
    * [[Unknown]]. `offset` is the session zone's fixed offset in seconds,
    * or [[NoFixedOffset]]. Never throws. */
  def decode(parser: Int, b: Array[Byte], s0: Int, e0: Int,
      offset: Int): AnyRef = {
    var s = s0
    var e = e0
    if (parser == NullIntStrict) {
      // nullIntStrict's null test trims spaces only
      while (s < e && b(s) == ' ') s += 1
      while (e > s && b(e - 1) == ' ') e -= 1
      if (s == e) return null
    }
    while (s < e && isWs(b(s))) s += 1
    while (e > s && isWs(b(e - 1))) e -= 1
    parser match {
      case NullInt => int(b, s, e)
      case IntStrict | NullIntStrict =>
        val v = if (s == e) null else int(b, s, e)
        if (v == null) Unknown else v // the ANSI cast decides, and raises
      case NullBool    => bool(b, s, e)
      case NullDecimal => decimal(b, s, e)
      case NullDate    => timestamp(b, s, e, offset)
      case _           => Unknown
    }
  }

  /** Spark's string-to-int cast over trimmed text: digits with an optional
    * sign; null on overflow, on an empty text and on any ASCII letter (no
    * letter is ever part of an int). */
  private def int(b: Array[Byte], s: Int, e: Int): AnyRef = {
    if (s == e) return null
    var i = s
    val neg = b(i) == '-'
    if (neg || b(i) == '+') i += 1
    if (i == e) return null
    var v = 0L
    while (i < e) {
      val c = b(i)
      if (!isDigit(c)) return lettered(b, s, e)
      v = v * 10 + (c - '0')
      if (v > 2147483648L) return null
      i += 1
    }
    if (!neg && v == 2147483648L) null
    else Integer.valueOf((if (neg) -v else v).toInt)
  }

  /** null when b[s, e) holds an ASCII letter (a number with one can never
    * parse), else [[Unknown]]. */
  private def lettered(b: Array[Byte], s: Int, e: Int): AnyRef = {
    var i = s
    while (i < e) { if (isLetter(b(i))) return null; i += 1 }
    Unknown
  }

  private val TrueStrings = Array("t", "true", "y", "yes", "1")
    .map(_.getBytes("US-ASCII"))
  private val FalseStrings = Array("f", "false", "n", "no", "0")
    .map(_.getBytes("US-ASCII"))

  private def eqLower(b: Array[Byte], s: Int, e: Int,
      w: Array[Byte]): Boolean = {
    if (e - s != w.length) return false
    var i = 0
    while (i < w.length) {
      val c = b(s + i)
      if ((if (c >= 'A' && c <= 'Z') c + 32 else c) != w(i)) return false
      i += 1
    }
    true
  }

  /** Spark's string-to-boolean cast (`t`/`true`/`y`/`yes`/`1` and their
    * false twins, any case) over text of printable ASCII; other bytes are
    * left to Spark, whose lower-casing is Unicode-aware. */
  private def bool(b: Array[Byte], s: Int, e: Int): AnyRef = {
    var i = s
    while (i < e) {
      if (b(i) < 0x21 || b(i) > 0x7e) return Unknown
      i += 1
    }
    var k = 0
    while (k < TrueStrings.length) {
      if (eqLower(b, s, e, TrueStrings(k))) return java.lang.Boolean.TRUE
      if (eqLower(b, s, e, FalseStrings(k))) return java.lang.Boolean.FALSE
      k += 1
    }
    null
  }

  private val Pow10: Array[java.math.BigInteger] =
    Array.tabulate(19)(java.math.BigInteger.TEN.pow)

  /** Spark's string-to-decimal(38,18) cast over plain decimal text
    * (`[+-]digits[.digits]`, a side may be empty, at most 18 fraction
    * digits): exact. null when more than 20 integer digits remain after
    * leading zeros (the value overflows) or on an ASCII letter other than
    * an exponent's `e`. Exponents, longer fractions (rounding) and other
    * bytes are left to Spark. */
  private def decimal(b: Array[Byte], s: Int, e: Int): AnyRef = {
    if (s == e) return null
    var i = s
    val neg = b(i) == '-'
    if (neg || b(i) == '+') i += 1
    val is = i
    while (i < e && isDigit(b(i))) i += 1
    val ie = i
    var fs, fe = i
    if (i < e && b(i) == '.') {
      i += 1
      fs = i
      while (i < e && isDigit(b(i))) i += 1
      fe = i
    }
    if (i < e || ie - is + fe - fs == 0) {
      var j = s
      while (j < e) {
        val c = b(j)
        if (isLetter(c) && c != 'e' && c != 'E') return null
        j += 1
      }
      return Unknown
    }
    var lz = is
    while (lz < ie && b(lz) == '0') lz += 1
    if (ie - lz > 20) return null
    if (fe - fs > 18) return Unknown
    val digits = ie - lz + fe - fs
    val unscaled =
      if (digits <= 18) {
        var v = 0L
        var j = lz
        while (j < ie) { v = v * 10 + (b(j) - '0'); j += 1 }
        j = fs
        while (j < fe) { v = v * 10 + (b(j) - '0'); j += 1 }
        java.math.BigInteger.valueOf(v)
      } else {
        val sb = new java.lang.StringBuilder(digits)
        var j = lz
        while (j < ie) { sb.append(b(j).toChar); j += 1 }
        j = fs
        while (j < fe) { sb.append(b(j).toChar); j += 1 }
        new java.math.BigInteger(sb.toString)
      }
    val at18 = unscaled.multiply(Pow10(18 - (fe - fs)))
    val bd = new java.math.BigDecimal(if (neg) at18.negate() else at18, 18)
    Decimal(bd, 38, 18)
  }

  private def num(b: Array[Byte], i: Int, n: Int): Int = {
    var v = 0
    var k = 0
    while (k < n) {
      val c = b(i + k)
      if (!isDigit(c)) return -1
      v = v * 10 + (c - '0')
      k += 1
    }
    v
  }

  /** Days from 1970-01-01 to y-m-d in the proleptic Gregorian calendar. */
  private def epochDay(y: Int, m: Int, d: Int): Long = {
    val yy = if (m <= 2) y - 1 else y
    val era = Math.floorDiv(yy, 400)
    val yoe = yy - era * 400
    val mp = (m + 9) % 12
    val doy = (153 * mp + 2) / 5 + d - 1
    val doe = yoe * 365 + yoe / 4 - yoe / 100 + doy
    era * 146097L + doe - 719468L
  }

  private val MonthDays = Array(31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)

  /** Spark's string-to-timestamp cast over `yyyy-MM-dd`, optionally followed
    * by `T` or a space and `HH:mm:ss`, up to six fraction digits and `Z`:
    * exact in UTC and, for zone-less text, in a session zone with a fixed
    * offset. null on an empty text. Other shapes (one-digit fields, other
    * zones, out-of-range fields) are left to Spark. */
  private def timestamp(b: Array[Byte], s: Int, e: Int,
      offset: Int): AnyRef = {
    if (s == e) return null
    val n = e - s
    if (n < 10 || b(s + 4) != '-' || b(s + 7) != '-') return Unknown
    val y = num(b, s, 4)
    val mo = num(b, s + 5, 2)
    val d = num(b, s + 8, 2)
    if (y < 0 || mo < 1 || mo > 12 || d < 1) return Unknown
    val leap = y % 4 == 0 && (y % 100 != 0 || y % 400 == 0)
    if (d > (if (mo == 2 && leap) 29 else MonthDays(mo - 1))) return Unknown
    var secs = epochDay(y, mo, d) * 86400L
    var micros = 0L
    var i = s + 10
    if (i < e) {
      if ((b(i) != 'T' && b(i) != ' ') || e - i < 9 || b(i + 3) != ':' ||
        b(i + 6) != ':') return Unknown
      val h = num(b, i + 1, 2)
      val mi = num(b, i + 4, 2)
      val sec = num(b, i + 7, 2)
      if (h < 0 || h > 23 || mi < 0 || mi > 59 || sec < 0 || sec > 59)
        return Unknown
      secs += h * 3600L + mi * 60L + sec
      i += 9
      if (i < e && b(i) == '.') {
        i += 1
        var k = 0
        while (i < e && isDigit(b(i)) && k < 6) {
          micros = micros * 10 + (b(i) - '0'); i += 1; k += 1
        }
        if (k == 0 || (i < e && isDigit(b(i)))) return Unknown
        while (k < 6) { micros *= 10; k += 1 }
      }
    }
    val zoned = i < e && b(i) == 'Z'
    if (zoned) i += 1
    if (i < e) return Unknown
    if (!zoned) {
      if (offset == NoFixedOffset) return Unknown
      secs -= offset
    }
    java.lang.Long.valueOf(secs * 1000000L + micros)
  }

  /** Reads cells of the given parsers: the byte decoders first, Spark's own
    * transform ([[cell]], resolved and optimized with the plan) for each
    * cell they leave undecided. One per expression instance; not
    * thread-safe. */
  final class Cells(parsers: Seq[Int], exprs: Seq[Expression], zone: ZoneId) {
    private val byParser = new Array[Expression](parserNames.length)
    private val vars =
      new Array[java.util.concurrent.atomic.AtomicReference[Any]](
        parserNames.length)
    parsers.zip(exprs).foreach { case (p, x) =>
      byParser(p) = x
      vars(p) = x.collectFirst { case v: NamedLambdaVariable => v.value }.get
    }
    val offset: Int = fixedOffset(zone)

    /** Spark's own transform of `parser` over `v`. */
    def spark(parser: Int, v: UTF8String): Any = {
      vars(parser).set(v)
      byParser(parser).eval(null)
    }

    /** `parser` over a string cell; a null cell (element missing) is 0
      * for `int` and null for the others, as the transforms read it. */
    def read(parser: Int, v: UTF8String): Any =
      if (v == null) { if (parser == IntStrict) Integer.valueOf(0) else null }
      else {
        val onHeap = v.getBaseObject.isInstanceOf[Array[Byte]]
        val b = if (onHeap) v.getBaseObject.asInstanceOf[Array[Byte]]
          else v.getBytes
        val s = if (onHeap) (v.getBaseOffset -
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET).toInt else 0
        val d = decode(parser, b, s, s + v.numBytes, offset)
        if (d eq Unknown) spark(parser, v) else d
      }
  }
}

/** One scalar parser over a string cell (an extracted child's value, a
  * native array's element): `parser`'s byte decoder, and `cell`, the
  * parser's Column transform ([[XmlValues.cell]]), only for a cell the
  * decoder leaves undecided. The result is the transform's, so garbage in a
  * `nullInt`/`nullDecimal` cell becomes null without an exception. `cell`
  * reads only its own variable, which is not an input. */
case class XmlScalarExpr(child: Expression, parser: Int, cell: Expression,
    timeZoneId: Option[String] = None)
  extends Expression with TimeZoneAwareExpression {

  override def children: Seq[Expression] = Seq(child, cell)
  override def dataType: DataType = XmlValues.dataType(parser)
  override def nullable: Boolean = true
  override def prettyName: String = "xml_" + XmlValues.parserNames(parser)
  @transient override lazy val references: AttributeSet = child.references

  override def withTimeZone(tz: String): TimeZoneAwareExpression =
    copy(timeZoneId = Some(tz))

  @transient private lazy val cells =
    new XmlValues.Cells(Seq(parser), Seq(cell), zoneId)

  def read(v: UTF8String): Any = cells.read(parser, v)

  override def eval(input: InternalRow): Any =
    read(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("expr", this, "graft.xml.XmlScalarExpr")
    val c = child.genCode(ctx)
    val boxed = CodeGenerator.boxedType(dataType)
    ev.copy(code = code"""
      |${c.code}
      |Object ${ev.value}Obj = $self.read(${c.isNull} ? null : ${c.value});
      |boolean ${ev.isNull} = ${ev.value}Obj == null;
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  ${CodeGenerator.defaultValue(dataType)};
      |if (!${ev.isNull}) { ${ev.value} = ($boxed) ${ev.value}Obj; }
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression =
    copy(child = c(0), cell = c(1))
}
