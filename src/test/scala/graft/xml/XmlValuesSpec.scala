package graft.xml

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The scalar parsers' byte decoders, differential against Spark's own
  * expressions over generated strings. */
class XmlValuesSpec extends AnyFunSuite with SharedSpark {
  import XmlValues._

  private val pads = Seq("", " ", "  ", "\t", "\r\n", "\n", " ", " \t")

  private val ints = Seq("0", "7", "-0", "+12", "-12", "007", "-007",
    "2147483647", "2147483648", "-2147483648", "-2147483649",
    "99999999999999999999999", "000000000000000000000042", "1.5", "1.",
    ".5", "5.", "1e3", "+", "-", "", "q12", "n/a", "12x", "1 2", "--1",
    "١٢", "１２", "١", "0x1F", "1_000", "１")
  private val bools = Seq("true", "false", "T", "F", "t", "f", "yes", "no",
    "YES", "No", "y", "N", "1", "0", "TrUe", "fAlSe", "2", "truex", "on",
    "", "İ", "ｔｒｕｅ", "tr ue")
  private val decimals = Seq("0", "1", "-1", "+1.5", "12345.67", "-0.000",
    ".5", "5.", "-.5", "+.", ".", "1e3", "1E-2", "-2.5e+2", "1e", "e3",
    "12345678901234567890", "123456789012345678901",
    "99999999999999999999.999999999999999999",
    "99999999999999999999.9999999999999999995",
    "0.1234567890123456789", "0.12345678901234567895",
    "0.000000000000000000049", "00000000000000000000000012.5",
    "1,5", "NaN", "Infinity", "-Infinity", "n/a", "q7", "1d", "1f",
    "١.٢", "12 ", "", "0.0000001", "-99999.99")
  private val timestamps = Seq("2024-01-02T03:04:05", "2024-01-02 03:04:05",
    "2024-01-02", "2024-01-02T03:04:05Z", "2024-01-02T03:04:05.1",
    "2024-01-02T03:04:05.123456", "2024-01-02T03:04:05.1234567",
    "2024-01-02T03:04:05.123Z", "2024-01-02T03:04:05+02:00",
    "2024-01-02T03:04:05-0800", "2024-01-02T03:04:05 UTC",
    "2024-01-02T03:04:05 America/New_York", "2024-1-2", "2024-01-02T3:4:5",
    "2024-02-29", "2023-02-29", "2024-13-01", "2024-01-32",
    "2024-01-02T24:00:00", "2024-01-02T23:59:60", "2024-01-02T",
    "2024-01-02T03:04", "2024", "2024-06", "0001-01-01", "9999-12-31T23:59:59",
    "1969-12-31T23:59:59.999999", "1900-03-01", "2000-02-29", "n/a", "",
    "2024-01-02T03:04:05.", "٢٠٢٤-01-02", "T03:04:05",
    "epoch", "now", "2024/01/02")

  /** Every value with and without sign, padding on both sides. */
  private def variants(base: Seq[String], seed: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val padded = for (v <- base; _ <- 0 until 6) yield
      pads(rnd.nextInt(pads.length)) + v + pads(rnd.nextInt(pads.length))
    (base ++ padded).distinct
  }

  private def stringsDf(xs: Seq[String]) = {
    import spark.implicits._
    (xs.map(Option(_)) :+ None).toDF("s").repartition(2)
  }

  /** (decoded by the decoder, total) after checking, for every string,
    * that the decoder's answer (when it gives one) equals Spark's own
    * transform, and that the column form ([[XmlValues.parse]]) equals it
    * everywhere. */
  private def differential(parser: Int, xs: Seq[String],
      offset: Int): (Int, Int) = {
    val c = col("s")
    val rows = stringsDf(xs).select(c, XmlValues.column(parser, c).as("spark"),
      XmlValues.parse(parser, c).as("ours")).collect()
    var decided = 0
    rows.foreach { r =>
      val s = r.getString(0)
      assert(r.get(1) == r.get(2), s"${parserNames(parser)} diverged on " +
        s"[${Option(s).map(_.map(ch => f"\\u${ch.toInt}%04x").mkString)}]")
      if (s != null) {
        val b = s.getBytes("UTF-8")
        val d = decode(parser, b, 0, b.length, offset)
        if (!(d eq Unknown)) {
          decided += 1
          val sparkV = r.get(1) match {
            case t: java.sql.Timestamp =>
              org.apache.spark.sql.catalyst.util.DateTimeUtils
                .fromJavaTimestamp(t)
            case bd: java.math.BigDecimal =>
              org.apache.spark.sql.types.Decimal(bd, 38, 18)
            case v => v
          }
          val ours = d match {
            case l: java.lang.Long => l.longValue
            case v                 => v
          }
          assert(ours == sparkV, s"decoder of ${parserNames(parser)} on " +
            s"[$s]: $ours vs Spark's $sparkV")
        }
      }
    }
    (decided, rows.length)
  }

  test("nullInt, nullBool, nullDecimal: byte decoders equal Spark's " +
      "trim + try_cast over generated strings") {
    for ((p, base) <- Seq(NullInt -> ints, NullBool -> bools,
        NullDecimal -> decimals)) {
      val (decided, total) = differential(p, variants(base, p), 0)
      // the decoders must decide most cells, garbage included
      assert(decided * 2 > total, s"${parserNames(p)}: $decided of $total")
    }
  }

  test("nullDate: byte decoder equals Spark's try_to_timestamp in a fixed " +
      "zone, UTC and a zone with daylight saving") {
    val key = "spark.sql.session.timeZone"
    val prev = spark.conf.get(key)
    try {
      for (zone <- Seq("UTC", "Etc/GMT-3", "America/New_York")) {
        spark.conf.set(key, zone)
        val off = fixedOffset(java.time.ZoneId.of(zone))
        val (decided, total) = differential(NullDate,
          variants(timestamps, 7), off)
        if (zone != "America/New_York")
          assert(decided * 4 > total, s"$zone: $decided of $total")
      }
    } finally spark.conf.set(key, prev)
  }

  test("strict int parsers: the decoder answers only valid numbers, and " +
      "garbage still raises Spark's CAST_INVALID_INPUT") {
    for (p <- Seq(IntStrict, NullIntStrict)) {
      val xs = variants(ints, 3)
      val c = col("s")
      // where Spark's try_cast succeeds, the strict parsers read the same
      val tried = stringsDf(xs).select(c, XmlValues.nullInt(c)).collect()
      tried.foreach { r =>
        val s = r.getString(0)
        if (s != null) {
          val b = s.getBytes("UTF-8")
          val d = decode(p, b, 0, b.length, 0)
          if (!(d eq Unknown)) assert(d == r.get(1), s"[$s]")
          else if (!r.isNullAt(1) && s.trim.nonEmpty)
            fail(s"strict decoder left a valid number undecided: [$s]")
        }
      }
      // null/empty cells and valid numbers read as Spark reads them
      val ok = Seq(" 12 ", "-7", "\t42\n") ++
        (if (p == NullIntStrict) Seq("", "  ") else Nil)
      val rows = stringsDf(ok).select(XmlValues.column(p, c),
        XmlValues.parse(p, c)).collect()
      rows.foreach(r => assert(r.get(0) == r.get(1)))
      for (bad <- Seq("q12", "1.5", "2147483648", " \t")) {
        val e = intercept[Exception] {
          stringsDf(Seq(bad)).select(XmlValues.parse(p, c)).collect()
        }
        def chain(t: Throwable): Seq[Throwable] =
          if (t == null) Nil else t +: chain(t.getCause)
        assert(chain(e).exists(_.getMessage.contains("CAST_INVALID_INPUT")),
          s"[$bad]: $e")
      }
    }
  }
}
