package graft.xml

import java.io.{ByteArrayInputStream, IOException, InputStream}
import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

/** [[XmlRecordScanner]] on its own, over a generated file several
  * [[XmlRecordScanner.BlockBytes]] blocks long: records, and the offsets
  * their `<rec` starts sit at, must equal the generator's, however the
  * source cuts the bytes into reads. */
class XmlRecordScannerSpec extends AnyFunSuite {

  private val Block = XmlRecordScanner.BlockBytes
  private val tag = "rec".getBytes(UTF_8)

  /** Appends text and remembers where each record starts. */
  private final class Gen {
    val sb = new java.lang.StringBuilder
    val recs = Seq.newBuilder[(Long, String)]
    def len: Int = sb.length // ASCII only, so chars == bytes
    def add(s: String): Unit = sb.append(s)
    def rec(s: String): Unit = { recs += ((len.toLong, s)); add(s) }
    def simple(i: Int): Unit =
      rec(s"""<rec id="$i"><a>${"v" * (i % 37)}</a><b/></rec>""")
    /** Simple records and newlines up to `at`, less `head` bytes. */
    def simpleUpTo(at: Int, head: Int, from: Int): Int = {
      var i = from
      while (len + 80 < at - head) { simple(i); add("\n"); i += 1 }
      add(" " * (at - head - len))
      i
    }
  }

  /** The file and its records: tricky records up front, a `<rec` whose
    * name straddles the first block boundary, an open tag whose delimiter
    * starts the second block, then a record over 200 KB whose comment and
    * CDATA span each cross a boundary, then tricky records and one record
    * across the sixth boundary. Simple records fill the ±2 KB around the
    * first two boundaries, so a split starting there resyncs at the next
    * record. */
  private lazy val (file, truth) = {
    val g = new Gen
    g.add("<?xml version=\"1.0\"?>\n")
    g.add("<!DOCTYPE root [<!ENTITY e \"<rec>\">]>\n")
    g.add("<root>\n<!-- <rec>commented</rec> -->\n")
    var i = 0
    def tricky(): Unit = {
      i % 6 match {
        case 0 => g.rec(s"""<rec id="$i" a="x/>y"><v>1</v></rec>""")
        case 1 => g.rec(s"<rec><rec>inner $i</rec><t/></rec>")
        case 2 => g.rec(s"<rec><![CDATA[</rec>]]]>$i</rec>")
        case 3 => g.rec(s"<rec><?pi </rec> ?><!-- </rec> -->$i</rec>")
        case 4 => // a '<' that ends a near-miss name starts the record
          g.add("<re"); g.rec(s"<rec>$i</rec>")
          g.add("<rec"); g.rec(s"<rec>$i</rec>")
        case _ => g.rec(s"<rec id='$i'/>")
      }
      g.add("\n<recs>not a record</recs>\n")
      i += 1
    }
    while (g.len < Block - 4000) tricky()
    i = g.simpleUpTo(Block, 3, i) // "<re" | "c id=..."
    g.simple(i); i += 1
    i = g.simpleUpTo(2 * Block, 4, i) // "<rec" | " id=..."
    g.simple(i); i += 1
    i = g.simpleUpTo(2 * Block + 4000, 0, i)
    val big = new java.lang.StringBuilder("<rec id=\"big\">")
    def bigUpTo(at: Int): Unit =
      while (g.len + big.length < at)
        big.append(s"<c n='$i'>text &amp; more</c>\n")
    bigUpTo(3 * Block - 1000)
    big.append("<!-- <rec> </rec> " + "-" * 3000 + " -->")
    bigUpTo(4 * Block - 1000)
    big.append("<![CDATA[ </rec> " + "]" * 3000 + " ]]>")
    bigUpTo(g.len + 200 * 1024 + 1000)
    g.rec(big.append("</rec>").toString)
    g.add("\n")
    while (g.len < 6 * Block - 4000) tricky()
    i = g.simpleUpTo(6 * Block, 20, i) // a record body across a boundary
    g.simple(i); i += 1
    for (_ <- 0 until 100) tricky()
    g.add("</root>\n")
    (g.sb.toString.getBytes(UTF_8), g.recs.result())
  }

  /** Returns 1 to 7 bytes per read. */
  private final class ShortReads(b: Array[Byte], off: Int)
      extends InputStream {
    private val in = new ByteArrayInputStream(b, off, b.length - off)
    private val rnd = new scala.util.Random(off)
    override def read(): Int = in.read()
    override def read(a: Array[Byte], o: Int, n: Int): Int =
      in.read(a, o, math.min(n, 1 + rnd.nextInt(7)))
  }

  private val sources: Seq[(String, Int => XmlRecordScanner)] = Seq(
    "plain stream" -> (off => new XmlRecordScanner(
      new ByteArrayInputStream(file, off, file.length - off), tag, off)),
    "short reads" -> (off =>
      new XmlRecordScanner(new ShortReads(file, off), tag, off)),
    "byte function" -> { off =>
      val in = new ByteArrayInputStream(file, off, file.length - off)
      new XmlRecordScanner(() => in.read(), tag, off)
    })

  private def scan(sc: XmlRecordScanner,
      ownedEnd: Long): Seq[(Long, String)] =
    Iterator.continually(sc.nextRecord(ownedEnd)).takeWhile(_ != null)
      .map { case (at, b) => (at, new String(b, UTF_8)) }.toSeq

  test("the generated file has what the boundary cases need") {
    assert(file.length > 4 * Block)
    val starts = truth.map(_._1)
    assert(starts.contains(Block - 3L) && starts.contains(2L * Block - 4))
    assert(truth.exists(_._2.length > 200 * 1024))
    val big = truth.find(_._2.length > 200 * 1024).get
    val comment = big._1 + big._2.indexOf("<!--")
    val cdata = big._1 + big._2.indexOf("<![CDATA[")
    assert(comment < 3L * Block && comment + 3000 > 3L * Block)
    assert(cdata < 4L * Block && cdata + 3000 > 4L * Block)
    assert(truth.count(r => r._1 / Block != (r._1 + r._2.length) / Block)
      >= 4)
  }

  test("records and offsets equal the generator's, through every source") {
    sources.foreach { case (name, open) =>
      assert(scan(open(0), Long.MaxValue) == truth, name)
    }
  }

  test("ownedEnd swept across block boundaries splits the file exactly") {
    for (b <- Seq(Block, 2 * Block); end <- b - 48 to b + 48 by 3;
        (name, open) <- sources) {
      val head = scan(open(0), end.toLong)
      assert(head == truth.filter(_._1 < end), s"$name, ownedEnd $end")
      val tail = scan(open(end), Long.MaxValue)
      assert(head ++ tail == truth, s"$name, split at $end")
    }
  }

  test("a non-ASCII row tag matches, at every split offset") {
    val e = "\u00e9" // é: bytes C3 A9; è (C3 A8) shares the first byte
    val tagE = e.getBytes(UTF_8)
    val parts = Seq[(String, Boolean)](
      "<r>" -> false, s"<$e>x</$e>" -> true, "<\u00e8>no</\u00e8>" -> false,
      s"<${e}a>near miss</${e}a>" -> false, s"<$e id='2'>y</$e>" -> true,
      s"<$e/>" -> true, s"<$e a='>'>z</$e>" -> true, "</r>" -> false)
    val bytes = parts.map(_._1.getBytes(UTF_8))
    val doc = bytes.reduce(_ ++ _)
    val offsets = bytes.scanLeft(0L)(_ + _.length)
    val want = parts.indices.filter(parts(_)._2)
      .map(k => (offsets(k), parts(k)._1))
    def open(off: Int): XmlRecordScanner = new XmlRecordScanner(
      new ByteArrayInputStream(doc, off, doc.length - off), tagE, off)
    def read(sc: XmlRecordScanner, end: Long): Seq[(Long, String)] =
      Iterator.continually(sc.nextRecord(end)).takeWhile(_ != null)
        .map { case (at, b) => (at, new String(b, UTF_8)) }.toSeq
    assert(read(open(0), Long.MaxValue) == want)
    for (split <- 0 to doc.length) {
      val head = read(open(0), split.toLong)
      assert(head == want.filter(_._1 < split), s"split at $split")
      assert(head ++ read(open(split), Long.MaxValue) == want,
        s"split at $split")
    }
  }

  /** `prefix`, then `<rec>` and `opener`, then `unit` repeated past
    * [[XmlRecordScanner.MaxRecordBytes]]; never held in memory whole. */
  private final class Unclosed(prefix: String, unit: String,
      opener: String = "") extends InputStream {
    private val head = (prefix + "<rec>" + opener).getBytes(UTF_8)
    private val body = unit.getBytes(UTF_8)
    private val total =
      head.length + XmlRecordScanner.MaxRecordBytes + 4L * Block
    private var at = 0L
    override def read(): Int = {
      val one = new Array[Byte](1)
      if (read(one, 0, 1) < 0) -1 else one(0) & 0xff
    }
    override def read(a: Array[Byte], o: Int, n: Int): Int =
      if (at >= total) -1
      else {
        val k = math.min(n.toLong, total - at).toInt
        var j = 0
        while (j < k) {
          val p = at + j
          a(o + j) =
            if (p < head.length) head(p.toInt)
            else body(((p - head.length) % body.length).toInt)
          j += 1
        }
        at += k
        k
      }
  }

  test("a record with no close tag past MaxRecordBytes raises the guard") {
    // plain text, child elements, and a comment, CDATA section or PI that
    // never ends: each construct reads through the guarded refill
    val cases = Seq(("plain text without markup\n", ""),
      ("<a>child</a>\n", ""), ("no terminator here\n", "<!--"),
      ("no terminator here\n", "<![CDATA["), ("no terminator here\n", "<?pi "))
    for ((unit, opener) <- cases) {
      val sc = new XmlRecordScanner(new Unclosed("<root>\n", unit, opener),
        tag, 0L)
      val e = intercept[IOException](sc.nextRecord(Long.MaxValue))
      assert(e.getMessage.contains("record at offset 7 exceeds"), opener)
      assert(e.getMessage.contains("</rec>"), opener)
    }
  }
}
