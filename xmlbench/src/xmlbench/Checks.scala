package xmlbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData

/** Folds the engine's typed output rows into summaries, per partition, in
  * plain Scala: every typed column of every row is read, and the result is
  * compared with the generator's own summary of what it wrote. */
object Checks {

  private def cents(r: InternalRow, i: Int): java.lang.Long =
    if (r.isNullAt(i)) null
    else java.lang.Long.valueOf(
      r.getDecimal(i, 38, 18).toJavaBigDecimal.movePointRight(2)
        .longValueExact())

  private def str(r: InternalRow, i: Int): String =
    if (r.isNullAt(i)) null else r.getUTF8String(i).toString

  private def int(r: InternalRow, i: Int): Integer =
    if (r.isNullAt(i)) null else Integer.valueOf(r.getInt(i))

  /** Columns: id long, seq int, qty int, flag boolean, amt decimal(38,18),
    * ts timestamp, status string, missing int. */
  final class Flat(idLimit: Int)
      extends (Iterator[InternalRow] => Iterator[FlatSummary])
      with Serializable {
    def apply(it: Iterator[InternalRow]): Iterator[FlatSummary] = {
      val s = new FlatSummary(idLimit)
      while (it.hasNext) {
        val r = it.next()
        s.add(
          if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0)),
          if (r.isNullAt(1)) Int.MinValue else r.getInt(1),
          int(r, 2),
          if (r.isNullAt(3)) null else java.lang.Boolean.valueOf(r.getBoolean(3)),
          cents(r, 4),
          if (r.isNullAt(5)) null
          else java.lang.Long.valueOf(Math.floorDiv(r.getLong(5), 1000000L)),
          str(r, 6),
          int(r, 7))
      }
      Iterator.single(s)
    }
  }

  /** Columns (the parsed struct's fields): id long, region string,
    * cust struct<tier,name,nk>, lines array<struct<tag,count,qty,fee>>,
    * ext struct<tag,w>, note string, qty int, ship struct<city,zip,tag>. */
  final class Nested(idLimit: Int)
      extends (Iterator[InternalRow] => Iterator[NestedSummary])
      with Serializable {
    def apply(it: Iterator[InternalRow]): Iterator[NestedSummary] = {
      val s = new NestedSummary(idLimit)
      while (it.hasNext) {
        val r = it.next()
        var nulls = 0
        var i = 0
        while (i < 8) { if (r.isNullAt(i)) nulls += 1; i += 1 }
        s.nullCells += nulls
        if (r.isNullAt(0)) {
          // malformed document: PERMISSIVE parsing nulls every member
          s.addMalformed()
          if (nulls != 8) s.malformedLeaks += 1
        } else {
          val id = r.getLong(0)
          val cust = if (r.isNullAt(2)) null else r.getStruct(2, 3)
          val lines: ArrayData = if (r.isNullAt(3)) null else r.getArray(3)
          val n = if (lines == null) 0 else lines.numElements()
          val tags = new Array[Int](n)
          val vals = new Array[Long](n)
          var countAttr = -1
          var j = 0
          while (j < n) {
            val l = lines.getStruct(j, 4)
            val tag = str(l, 0)
            val c = str(l, 1)
            val cnt = if (c == null) -1 else Integer.parseInt(c)
            if (j == 0) countAttr = cnt
            else if (cnt != countAttr) s.lineBad += 1
            if (tag == "item" && !l.isNullAt(2) && l.isNullAt(3)) {
              tags(j) = 0; vals(j) = l.getInt(2)
            } else if (tag == "fee" && l.isNullAt(2) && !l.isNullAt(3)) {
              tags(j) = 1; vals(j) = cents(l, 3)
            } else s.lineBad += 1
            j += 1
          }
          val ext = if (r.isNullAt(4)) null else r.getStruct(4, 2)
          val ship = if (r.isNullAt(7)) null else r.getStruct(7, 3)
          if (ship == null || str(ship, 2) != "ship") s.shipTagBad += 1
          s.add(id, str(r, 1),
            if (cust == null) null else str(cust, 0),
            if (cust == null) null else str(cust, 1),
            if (cust == null) null else int(cust, 2),
            tags, vals, countAttr,
            if (ext == null) null else str(ext, 0),
            if (ext == null || ext.isNullAt(1)) -1
            else Integer.parseInt(str(ext, 1)),
            str(r, 5), int(r, 6),
            if (ship == null) null else str(ship, 0),
            if (ship == null || ship.isNullAt(1)) -1 else ship.getInt(1))
        }
      }
      Iterator.single(s)
    }
  }
}
