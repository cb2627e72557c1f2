package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** RRF fusion: hand-computed scores, absent-doc null ranks, tie-break. */
class RetrievalSpec extends AnyFunSuite with SharedSpark {

  test("rrfFuse: hand-computed two-system fusion with partial overlap") {
    import spark.implicits._
    val lex = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("doc_id", "rank")
    val dense = Seq((20L, 1), (40L, 2)).toDF("doc_id", "rank")
    val got = Retrieval.rrfFuse(Seq("lex" -> lex, "dense" -> dense), k = 60)
      .collect()
      .map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Int]),
        Option(r.get(2)).map(_.asInstanceOf[Int]), r.getDouble(3)))
    // 20: 1/62 + 1/61; 10: 1/61; 40: 1/62; 30: 1/63
    assert(got.map(_._1).toSeq == Seq(20L, 10L, 40L, 30L))
    assert(got(0) == ((20L, Some(2), Some(1), 1.0 / 62 + 1.0 / 61)))
    assert(got(1) == ((10L, Some(1), None, 1.0 / 61)))
    assert(got(2) == ((40L, None, Some(2), 1.0 / 62)))
    assert(got(3) == ((30L, Some(3), None, 1.0 / 63)))
  }

  test("rrfFuse batch mode: queries fuse independently, topK per query") {
    import spark.implicits._
    val lex = Seq((1L, 10L, 1), (1L, 20L, 2), (2L, 30L, 1))
      .toDF("qid", "doc_id", "rank")
    val dense = Seq((1L, 20L, 1), (2L, 40L, 1))
      .toDF("qid", "doc_id", "rank")
    val got = Retrieval.rrfFuse(Seq("lex" -> lex, "dense" -> dense),
      k = 60, topK = 1, queryKeys = Seq("qid"))
      .orderBy("qid")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    // q1: doc 20 wins (1/62 + 1/61 > 1/61); q2: tie 1/61 -> doc 30
    assert(got.toSeq == Seq((1L, 20L, 1.0 / 62 + 1.0 / 61),
      (2L, 30L, 1.0 / 61)))
  }

  test("rrfFuse: equal scores break toward the lower doc_id; topK cuts") {
    import spark.implicits._
    // 5 and 3 both score 1/61 from exactly one system each
    val lex = Seq((5L, 1)).toDF("doc_id", "rank")
    val dense = Seq((3L, 1)).toDF("doc_id", "rank")
    val all = Retrieval.rrfFuse(Seq("lex" -> lex, "dense" -> dense))
      .collect().map(_.getLong(0)).toSeq
    assert(all == Seq(3L, 5L))
    val cut = Retrieval.rrfFuse(Seq("lex" -> lex, "dense" -> dense),
      topK = 1).collect().map(_.getLong(0)).toSeq
    assert(cut == Seq(3L))
  }
}
