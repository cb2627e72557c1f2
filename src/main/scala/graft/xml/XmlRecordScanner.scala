package graft.xml

import java.io.{IOException, InputStream}
import java.util.Arrays

import scala.annotation.tailrec

/** The rowTag record scan behind the `graft-xml` FileFormat
  * ([[org.apache.spark.sql.graft.XmlRowTagFileFormat]], batch and
  * streaming reads): one record per `rowTag` XML element — the distributed
  * realization of the reference's file-glob dispatch (Parser.cs:175-187).
  *
  * Each split scans its byte range for `<rowTag` starts; a record whose
  * start tag begins before the split end is owned by that split, and its
  * capture may read past the split boundary (the standard text-split
  * contract, so a 100 TB directory splits into independent tasks with no
  * coordination). Same-name nested elements are depth-counted within a
  * record. Comments, CDATA sections, processing instructions and a DOCTYPE
  * (internal subset included) are skipped as units, and an open tag ends
  * at the first `>` outside a quoted attribute value, so markup text inside
  * any of them neither starts nor ends a record.
  *
  * Two limits cannot be decided from one split alone:
  *   - a rowTag element nested inside ANOTHER rowTag element is only
  *     depth-counted within one split — records should not nest across
  *     split boundaries;
  *   - a comment, CDATA section or DOCTYPE is only honored within the split
  *     that sees its opening (a split that starts inside one re-syncs at
  *     the next `<rowTag` it sees, even if that text is inside it).
  *
  * `in` is read in [[XmlRecordScanner.BlockBytes]] blocks with
  * `read(byte[], off, len)`; the scan jumps to each `<` with a plain loop
  * over the block and decodes only the bytes that follow one. A record is
  * the contiguous span from its `<rowTag` to the end of its close tag, so
  * it is captured by bulk copies: of a block's tail at each refill, into
  * one reusable array per scanner, and of the rest when the record ends.
  * `pos` counts absolute consumed bytes starting from `startPos`. */
final class XmlRecordScanner(in: InputStream,
    rowTag: Array[Byte], startPos: Long) {
  import XmlRecordScanner._

  /** A byte-at-a-time source (`readByte()` returns -1 at EOF). */
  def this(readByte: () => Int, rowTag: Array[Byte], startPos: Long) =
    this(new InputStream { override def read(): Int = readByte() },
      rowTag, startPos)

  private val block = new Array[Byte](BlockBytes)
  private var blockLen = 0
  private var blockBase = startPos // absolute offset of block(0)
  private var i = 0 // next unread index in block

  // the record being captured (from offset recStart; -1 between records):
  // cap(0 until capLen) ++ block(segStart until i)
  private var recStart = -1L
  private var segStart = 0
  private var cap = new Array[Byte](0)
  private var capLen = 0

  def pos: Long = blockBase + i

  /** Load the next block, first saving the captured tail of this one;
    * false at EOF. Every construct a record holds (text, tags, comments,
    * CDATA, PIs) reads through here, so the record-size guard is checked
    * at each refill. */
  private def refill(): Boolean = {
    if (recStart >= 0) {
      guard()
      append(block, segStart, blockLen - segStart)
      segStart = 0
    }
    blockBase += blockLen
    i = 0
    blockLen = math.max(in.read(block, 0, block.length), 0)
    blockLen > 0
  }

  private def append(src: Array[Byte], off: Int, len: Int): Unit = {
    if (capLen + len > cap.length)
      cap = Arrays.copyOf(cap, math.max(capLen + len,
        math.min(cap.length * 2L, Int.MaxValue - 8L).toInt))
    System.arraycopy(src, off, cap, capLen, len)
    capLen += len
  }

  private def read1(): Int =
    if (i < blockLen || refill()) { val b = block(i) & 0xff; i += 1; b }
    else -1

  /** Throws when the record captured so far (through `i`) exceeds
    * [[XmlRecordScanner.MaxRecordBytes]]. */
  private def guard(): Unit =
    if (recStart >= 0 && capLen.toLong + (i - segStart) > MaxRecordBytes)
      throw new IOException(
        s"graft.xml: record at offset $recStart exceeds " +
          s"$MaxRecordBytes bytes — missing " +
          s"</${new String(rowTag, "UTF-8")}>?")

  /** Consume through the next `<`; false at EOF. While capturing, the
    * record-size guard is checked before that `<` and at each refill:
    * between markup units, so record text trips it exactly when a check
    * before every text byte would. */
  @tailrec private def skipToLt(): Boolean = {
    val end = blockLen
    var j = i
    while (j < end && block(j) != '<') j += 1
    i = j
    if (j < end) { guard(); i = j + 1; true }
    else if (refill()) skipToLt()
    else false
  }

  private def isDelim(c: Int): Boolean =
    c == '>' || c == '/' || c == ' ' || c == '\t' || c == '\r' || c == '\n'

  /** Consume the rest of an open tag after `<rowTag` + `delim`; returns the
    * depth delta: +1 for an open element, 0 for self-closing `<rowTag .../>`.
    * `/` and `>` inside a quoted attribute value are plain text. */
  private def finishOpenTag(delim: Int): Int = {
    if (delim == '>') return 1
    var prev = delim
    var quote = -1
    var c = read1()
    while (c != -1 && (c != '>' || quote != -1)) {
      if (quote == -1) { if (c == '"' || c == '\'') quote = c }
      else if (c == quote) quote = -1
      prev = c
      c = read1()
    }
    if (prev == '/') 0 else 1
  }

  /** Match `rowTag` bytes `from` onward; returns Int.MinValue on a full
    * match (caller then reads the delimiter), else the first non-matching
    * byte, consumed, or -1 at EOF. */
  private def matchTag(from: Int): Int = {
    var k = from
    while (k < rowTag.length) {
      val c = read1()
      if (c == -1 || c != (rowTag(k) & 0xff)) return c
      k += 1
    }
    Int.MinValue
  }

  /** Consume through `t` (already inside the construct). Returns false on
    * EOF. KMP failure links keep overlapping prefixes in sync (e.g. CDATA
    * content "]]]>" must still terminate on its trailing "]]>"). */
  private def skipUntil(t: Terminator): Boolean = {
    var m = 0
    while (m < t.bytes.length) {
      val c = read1()
      if (c == -1) return false
      while (m > 0 && c != t.bytes(m)) m = t.fail(m - 1)
      if (c == t.bytes(m)) m += 1
    }
    true
  }

  /** After a consumed "<!", classify + skip a comment (`<!--...-->`), CDATA
    * (`<![CDATA[...]]>`), or other markup declaration ([[skipDecl]]).
    * Returns false on EOF. */
  private def skipBang(): Boolean = {
    // match as much of "!--" / "![CDATA[" as possible; else a declaration
    var k = 1 // caller consumed '!' (position 0 of both opener patterns)
    var c = 0
    var isComment = true
    var isCdata = true
    while ((isComment && k < CommentOpen.length) ||
        (isCdata && k < CdataOpen.length)) {
      c = read1()
      if (c == -1) return false
      if (c == '>') return true // e.g. "<!>" — degenerate, done
      isComment = isComment && k < CommentOpen.length && c == CommentOpen(k)
      isCdata = isCdata && k < CdataOpen.length && c == CdataOpen(k)
      if (!isComment && !isCdata) return skipDecl(c) // DOCTYPE etc.
      k += 1
    }
    if (isComment && k == CommentOpen.length) skipUntil(CommentClose)
    else skipUntil(CdataClose)
  }

  /** Consume a markup declaration (`<!DOCTYPE ...>` and the like) through
    * its closing `>`, `first` being its first byte after "<!". The `>` that
    * ends it lies outside quotes and outside a `[...]` internal subset;
    * inside the subset, comments and processing instructions are skipped
    * whole, so a quote or bracket in their text does not count. Returns
    * false on EOF. */
  private def skipDecl(first: Int): Boolean = {
    var c = first
    var quote = -1
    var depth = 0
    while (quote != -1 || depth > 0 || c != '>') {
      var next = -2 // -2: read a fresh byte
      if (quote != -1) { if (c == quote) quote = -1 }
      else if (c == '"' || c == '\'') quote = c
      else if (c == '[') depth += 1
      else if (c == ']') depth -= 1
      else if (c == '<' && depth > 0) {
        val b = read1()
        if (b == -1) return false
        if (b == '?') { if (!skipUntil(PiClose)) return false }
        else if (b == '!') {
          val b2 = read1()
          if (b2 == -1) return false
          if (b2 == '-') {
            val b3 = read1()
            if (b3 == -1) return false
            if (b3 == '-') { if (!skipUntil(CommentClose)) return false }
            else next = b3
          } else next = b2
        } else next = b
      }
      c = if (next != -2) next else {
        val r = read1()
        if (r == -1) return false
        r
      }
    }
    true
  }

  /** Next record whose `<rowTag` start lies strictly before `ownedEnd`
    * (absolute position), or null at EOF / ownership end / truncation. */
  def nextRecord(ownedEnd: Long): (Long, Array[Byte]) = {
    // ---- phase 1: find a record start owned by this range ----
    recStart = -1L
    var delim = -1
    while (recStart < 0) {
      if (!skipToLt()) return null
      val ltPos = pos - 1
      if (ltPos >= ownedEnd) return null
      val first = read1()
      if (first == '!') {
        // commented-out / CDATA'd rowTag text must not start a record
        if (!skipBang()) return null
      } else if (first == '?') {
        if (!skipUntil(PiClose)) return null
      } else if (first == -1) return null
      else if (first == (rowTag(0) & 0xff)) {
        val m = matchTag(1)
        if (m == Int.MinValue) {
          val d = read1()
          if (isDelim(d)) { recStart = ltPos; delim = d }
          else if (d != -1) i -= 1 // rescan it, e.g. <recs...> for rec
        } else if (m != -1) i -= 1
      } else i -= 1 // rescan: it may be the next '<'
    }
    // ---- phase 2: capture through the matching close tag ----
    capLen = 0
    if (recStart >= blockBase) segStart = (recStart - blockBase).toInt
    else { // the open tag straddled a refill; its bytes are known
      segStart = i
      append(('<'.toByte +: rowTag) :+ delim.toByte, 0, rowTag.length + 2)
    }
    var depth = finishOpenTag(delim)
    while (depth > 0) {
      if (!skipToLt()) return null // truncated trailing record
      val b2 = read1()
      if (b2 == -1) return null
      if (b2 == '!') {
        // comment/CDATA content rides along uninterpreted: tags inside
        // must not bump the depth counter
        if (!skipBang()) return null
      } else if (b2 == '?') {
        if (!skipUntil(PiClose)) return null
      } else if (b2 == '/') {
        if (matchTag(0) == Int.MinValue) {
          val b3 = read1()
          if (b3 == -1) return null
          if (b3 == '>') depth -= 1
        }
      } else if (b2 == (rowTag(0) & 0xff)) {
        // potential nested open tag; first byte already consumed
        val m = matchTag(1)
        if (m == -1) return null
        if (m == Int.MinValue) {
          val d = read1()
          if (d == -1) return null
          if (isDelim(d)) depth += finishOpenTag(d)
        }
      }
    }
    val bytes =
      if (capLen == 0) Arrays.copyOfRange(block, segStart, i)
      else { append(block, segStart, i - segStart); Arrays.copyOf(cap, capLen) }
    (recStart, bytes)
  }
}

object XmlRecordScanner {
  /** Guard against a missing close tag silently swallowing a whole file. */
  val MaxRecordBytes: Int = 128 * 1024 * 1024

  /** Bytes per `InputStream.read` into the scanner's block. */
  val BlockBytes: Int = 64 * 1024

  /** A construct's closing bytes with their KMP failure table. */
  private final class Terminator(s: String) {
    val bytes: Array[Byte] = s.getBytes("US-ASCII")
    val fail: Array[Int] = {
      val f = new Array[Int](bytes.length)
      var k = 0
      for (j <- 1 until bytes.length) {
        while (k > 0 && bytes(j) != bytes(k)) k = f(k - 1)
        if (bytes(j) == bytes(k)) k += 1
        f(j) = k
      }
      f
    }
  }

  private val CommentOpen = "!--".getBytes("US-ASCII")
  private val CdataOpen = "![CDATA[".getBytes("US-ASCII")
  private val CommentClose = new Terminator("-->")
  private val CdataClose = new Terminator("]]>")
  private val PiClose = new Terminator("?>")
}
