package graft.xml

import java.io.ByteArrayOutputStream

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
  * `read` supplies bytes (-1 = EOF); `pos` counts absolute consumed bytes
  * starting from `startPos`. */
final class XmlRecordScanner(read: () => Int,
    rowTag: Array[Byte], startPos: Long) {

  var pos: Long = startPos

  private def read1(): Int = {
    val b = read()
    if (b >= 0) pos += 1
    b
  }

  private def isDelim(c: Int): Boolean =
    c == '>' || c == '/' || c == ' ' || c == '\t' || c == '\r' || c == '\n'

  /** Consume the rest of an open tag after `<rowTag` + `delim`; returns the
    * depth delta: +1 for an open element, 0 for self-closing `<rowTag .../>`.
    * `/` and `>` inside a quoted attribute value are plain text. (In-tag
    * bytes are captured when `buf` is non-null.) */
  private def finishOpenTag(delim: Int, buf: ByteArrayOutputStream): Int = {
    if (delim == '>') return 1
    var prev = delim
    var quote = -1
    var c = read1()
    while (c != -1 && (c != '>' || quote != -1)) {
      if (buf != null) buf.write(c)
      if (quote == -1) { if (c == '"' || c == '\'') quote = c }
      else if (c == quote) quote = -1
      prev = c
      c = read1()
    }
    if (c == '>' && buf != null) buf.write('>')
    if (prev == '/') 0 else 1
  }

  /** Match `rowTag` bytes right after a consumed '<' (or "</"); returns the
    * first non-matching / post-tag byte, or Int.MinValue on a full match
    * (caller then reads the delimiter). Consumed bytes are captured when
    * `buf` is non-null. */
  private def matchTag(buf: ByteArrayOutputStream): Int = {
    var i = 0
    while (i < rowTag.length) {
      val c = read1()
      if (c == -1) return -1
      if (buf != null) buf.write(c)
      if (c != rowTag(i)) return c
      i += 1
    }
    Int.MinValue
  }

  /** Consume through `terminator` (already inside the construct). Captured
    * when `buf` is non-null. Returns false on EOF. KMP failure links keep
    * overlapping prefixes in sync (e.g. CDATA content "]]]>" must still
    * terminate on its trailing "]]>"). */
  private def skipUntil(terminator: Array[Byte],
      buf: ByteArrayOutputStream): Boolean = {
    val fail = new Array[Int](terminator.length)
    var k = 0
    var i = 1
    while (i < terminator.length) {
      while (k > 0 && terminator(i) != terminator(k)) k = fail(k - 1)
      if (terminator(i) == terminator(k)) k += 1
      fail(i) = k
      i += 1
    }
    var m = 0
    while (m < terminator.length) {
      val c = read1()
      if (c == -1) return false
      if (buf != null) buf.write(c)
      while (m > 0 && c != terminator(m)) m = fail(m - 1)
      if (c == terminator(m)) m += 1
    }
    true
  }

  private val CommentOpen = "!--".getBytes("US-ASCII")
  private val CdataOpen = "![CDATA[".getBytes("US-ASCII")
  private val CommentClose = "-->".getBytes("US-ASCII")
  private val CdataClose = "]]>".getBytes("US-ASCII")
  private val PiClose = "?>".getBytes("US-ASCII")

  /** After a consumed "<!", classify + skip a comment (`<!--...-->`), CDATA
    * (`<![CDATA[...]]>`), or other markup declaration ([[skipDecl]]).
    * Captured when `buf` is non-null. Returns false on EOF. */
  private def skipBang(buf: ByteArrayOutputStream): Boolean = {
    // match as much of "!--" / "![CDATA[" as possible; else a declaration
    var i = 1 // caller consumed '!' (position 0 of both opener patterns)
    var c = 0
    var isComment = true
    var isCdata = true
    while ((isComment && i < CommentOpen.length) ||
        (isCdata && i < CdataOpen.length)) {
      c = read1()
      if (c == -1) return false
      if (buf != null) buf.write(c)
      if (c == '>') return true // e.g. "<!>" — degenerate, done
      isComment = isComment && i < CommentOpen.length && c == CommentOpen(i)
      isCdata = isCdata && i < CdataOpen.length && c == CdataOpen(i)
      if (!isComment && !isCdata) return skipDecl(c, buf) // DOCTYPE etc.
      i += 1
    }
    if (isComment && i == CommentOpen.length) skipUntil(CommentClose, buf)
    else skipUntil(CdataClose, buf)
  }

  /** Consume a markup declaration (`<!DOCTYPE ...>` and the like) through
    * its closing `>`, `first` being its first byte after "<!". The `>` that
    * ends it lies outside quotes and outside a `[...]` internal subset;
    * inside the subset, comments and processing instructions are skipped
    * whole, so a quote or bracket in their text does not count. Captured
    * when `buf` is non-null. Returns false on EOF. */
  private def skipDecl(first: Int, buf: ByteArrayOutputStream): Boolean = {
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
        if (buf != null) buf.write(b)
        if (b == '?') { if (!skipUntil(PiClose, buf)) return false }
        else if (b == '!') {
          val b2 = read1()
          if (b2 == -1) return false
          if (buf != null) buf.write(b2)
          if (b2 == '-') {
            val b3 = read1()
            if (b3 == -1) return false
            if (buf != null) buf.write(b3)
            if (b3 == '-') { if (!skipUntil(CommentClose, buf)) return false }
            else next = b3
          } else next = b2
        } else next = b
      }
      c = if (next != -2) next else {
        val r = read1()
        if (r == -1) return false
        if (buf != null) buf.write(r)
        r
      }
    }
    true
  }

  /** Next record whose `<rowTag` start lies strictly before `ownedEnd`
    * (absolute position), or null at EOF / ownership end / truncation. */
  def nextRecord(ownedEnd: Long): (Long, Array[Byte]) = {
    // ---- phase 1: find a record start owned by this range ----
    var recStart = -1L
    var delim = -1
    var c = read1()
    while (recStart < 0) {
      if (c == -1) return null
      if (c == '<') {
        val ltPos = pos - 1
        if (ltPos >= ownedEnd) return null
        val first = read1()
        if (first == '!') {
          // commented-out / CDATA'd rowTag text must not start a record
          if (!skipBang(null)) return null
          c = read1()
        } else if (first == '?') {
          if (!skipUntil(PiClose, null)) return null
          c = read1()
        } else if (first == -1) return null
        else if (first == rowTag(0)) {
          val m = if (rowTag.length == 1) Int.MinValue else matchTagFrom(1)
          if (m == Int.MinValue) {
            val d = read1()
            if (isDelim(d)) { recStart = ltPos; delim = d }
            else c = d // e.g. <recs...> with rowTag rec — keep scanning
          } else c = m match {
            case -1 => -1
            case b  => if (b == '<') b else read1()
          }
        } else c = if (first == '<') first else read1()
      } else c = read1()
    }
    // ---- phase 2: capture through the matching close tag ----
    val buf = new ByteArrayOutputStream(8192)
    buf.write('<'); buf.write(rowTag, 0, rowTag.length); buf.write(delim)
    var depth = finishOpenTag(delim, buf)
    while (depth > 0) {
      if (buf.size() > XmlRecordScanner.MaxRecordBytes)
        throw new java.io.IOException(
          s"graft.xml: record at offset $recStart exceeds " +
            s"${XmlRecordScanner.MaxRecordBytes} bytes — missing " +
            s"</${new String(rowTag, "UTF-8")}>?")
      val b = read1()
      if (b == -1) return null // truncated trailing record
      buf.write(b)
      if (b == '<') {
        val b2 = read1()
        if (b2 == -1) return null
        buf.write(b2)
        if (b2 == '!') {
          // comment/CDATA content rides along uninterpreted: tags inside
          // must not bump the depth counter
          if (!skipBang(buf)) return null
        } else if (b2 == '?') {
          if (!skipUntil(PiClose, buf)) return null
        } else if (b2 == '/') {
          if (matchTag(buf) == Int.MinValue) {
            val b3 = read1()
            if (b3 == -1) return null
            buf.write(b3)
            if (b3 == '>') depth -= 1
          }
        } else if (b2 == rowTag(0)) {
          // potential nested open tag; first byte already consumed
          var i = 1
          var ok = true
          while (ok && i < rowTag.length) {
            val cc = read1()
            if (cc == -1) return null
            buf.write(cc)
            if (cc != rowTag(i)) ok = false else i += 1
          }
          if (ok) {
            val d = read1()
            if (d == -1) return null
            buf.write(d)
            if (isDelim(d)) depth += finishOpenTag(d, buf)
          }
        }
      }
    }
    (recStart, buf.toByteArray)
  }

  /** [[matchTag]] with the first `from` bytes already verified. */
  private def matchTagFrom(from: Int): Int = {
    var i = from
    while (i < rowTag.length) {
      val c = read1()
      if (c == -1) return -1
      if (c != rowTag(i)) return c
      i += 1
    }
    Int.MinValue
  }
}

object XmlRecordScanner {
  /** Guard against a missing close tag silently swallowing a whole file. */
  val MaxRecordBytes: Int = 128 * 1024 * 1024
}
