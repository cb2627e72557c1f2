package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Binary (sign) quantization: hand-computed code bits incl. the
  * two's-complement bit 63, Hamming shortlist vs a window reference on
  * random vectors, and the rerank-within-shortlist contract. */
class BqSpec extends AnyFunSuite with SharedSpark {

  private def refCode(v: Seq[Float], dim: Int): Long =
    (0 until dim).foldLeft(0L)((acc, i) =>
      if (v(i) > 0f) acc | (1L << i) else acc)

  test("bqCode: hand bits — strict positivity, zero contributes nothing") {
    import spark.implicits._
    // dims 1,3 positive -> bits 0 and 2 -> 0b101 = 5
    val df = Seq((1L, Seq(1f, -2f, 0.5f, 0f))).toDF("id", "vec")
    val got = df.select(Ann.bqCode(col("vec"), 4)).head().getLong(0)
    assert(got == 5L)
  }

  test("bqCode: component 64 positive sets bit 63 (negative long)") {
    import spark.implicits._
    val v = Seq.fill(63)(-1f) :+ 1f
    val df = Seq((1L, v)).toDF("id", "vec")
    val got = df.select(Ann.bqCode(col("vec"), 64)).head().getLong(0)
    assert(got == Long.MinValue)
    assert(got == refCode(v, 64))
  }

  test("bqCode matches the reference bit loop on random vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val rows = (0L until 40L).map(i =>
      (i, Seq.fill(64)((rnd.nextFloat() - 0.5f) * 4f)))
    val got = rows.toDF("id", "vec")
      .select(col("id"), Ann.bqCode(col("vec"), 64).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (id, v) => assert(got(id) == refCode(v, 64)) }
  }

  test("Hamming shortlist == window reference; rerank stays inside it") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val rows = (0L until 60L).map(i =>
      (i, Seq.fill(16)((rnd.nextFloat() - 0.5f) * 4f)))
    val corpus = rows.toDF("id", "vec")
    val qs = corpus.filter(col("id") < 3)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val got = Ann.bqHammingShortlist(qs, corpus, 16, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    // reference: full Hamming scan + per-query sort, top-5 by (ham, id)
    val codes = rows.map { case (id, v) => id -> refCode(v, 16) }.toMap
    val ref = (0L until 3L).flatMap { q =>
      rows.map(_._1).filter(_ != q)
        .map(id => (id, java.lang.Long.bitCount(codes(q) ^ codes(id))))
        .sortBy { case (id, h) => (h, id) }
        .take(5).map { case (id, h) => (q, id, h.toLong) }
    }.toSet
    assert(got == ref)

    val short = Ann.bqHammingShortlist(qs, corpus, 16, 5)
    val rer = Ann.bqRerankTopK(short, qs, corpus, 2).collect()
    val allowed = ref.groupBy(_._1).map { case (q, s) => q -> s.map(_._2) }
    assert(rer.length == 6) // 3 queries x k=2
    rer.foreach { r =>
      assert(allowed(r.getLong(0)).contains(r.getLong(2)),
        s"rerank returned a neighbor outside the shortlist: $r")
    }
    // ranks are 1..k with descending sim inside each query
    rer.groupBy(_.getLong(0)).values.foreach { g =>
      val sorted = g.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == Seq(1, 2))
      assert(sorted(0).getDouble(3) >= sorted(1).getDouble(3))
    }
  }
}
