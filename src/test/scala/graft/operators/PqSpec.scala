package graft.operators

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Product quantization: hand-computed encode/ADC on a 4-dim toy space,
  * the codeword tie-break, and the zero-shuffle encode plan claim. */
class PqSpec extends AnyFunSuite with SharedSpark {

  private def shuffles(p: SparkPlan): Seq[SparkPlan] =
    (p.collect { case s: ShuffleExchangeLike => s }) ++
      p.subqueries.flatMap(shuffles)

  // 4-dim vectors, 2 subspaces of 2 dims; codebooks per subspace:
  //   m=0: j0=[0,0], j1=[10,10];  m=1: j0=[0,0], j1=[10,10]
  private def codebooks = {
    import spark.implicits._
    Seq((0, 0, Seq(0f, 0f)), (0, 1, Seq(10f, 10f)),
      (1, 0, Seq(0f, 0f)), (1, 1, Seq(10f, 10f)))
      .toDF("m", "j", "cvec")
  }

  test("encode: per-subspace argmin, ties to the lower code id") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Seq(1f, 1f, 9f, 9f)),   // m0 -> j0 (2 vs 162), m1 -> j1
      (2L, Seq(5f, 5f, 5f, 5f)),   // both subspaces tie (50 vs 50) -> j0
      (3L, Seq(10f, 10f, 0f, 0f))  // m0 -> j1 (exact), m1 -> j0 (exact)
    ).toDF("id", "vec")
    val got = Pq.encode(corpus, codebooks, subDim = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    assert(got == Map(1L -> List(0, 1), 2L -> List(0, 0),
      3L -> List(1, 0)))
  }

  test("encode is one map-side pass: zero shuffles in the plan") {
    import spark.implicits._
    val corpus = Seq((1L, Seq(1f, 1f, 9f, 9f))).toDF("id", "vec")
    val enc = Pq.encode(corpus, codebooks, subDim = 2)
    enc.count()
    assert(shuffles(enc.queryExecution.executedPlan).isEmpty,
      s"unexpected shuffle:\n${enc.queryExecution.executedPlan}")
  }

  test("adcTopK: distance = sum of per-subspace codeword distances") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Seq(0f, 0f, 0f, 0f)),    // codes [0,0]
      (2L, Seq(10f, 10f, 10f, 10f)) // codes [1,1]
    ).toDF("id", "vec")
    val qs = Seq((9L, Seq(1f, 1f, 1f, 1f))).toDF("qid", "qvec")
    // q vs codeword j0 per subspace: (1-0)²*2 = 2; vs j1: (1-10)²*2 = 162
    // ADC(q, id=1) = 2 + 2 = 4; ADC(q, id=2) = 162 + 162 = 324
    val got = Pq.adcTopK(qs, corpus, codebooks, subDim = 2, k = 2)
      .orderBy("rank")
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == Seq((1, 1L, 4.0), (2, 2L, 324.0)))
  }

  test("ivfAdcTopK: candidates scoped to probed cells; shuffle hash " +
      "join, no broadcast") {
    import spark.implicits._
    // two well-separated cells at 0 and 100; corpus rows near each
    val cents = Seq((0L, Seq(0f, 0f, 0f, 0f)), (1L, Seq(100f, 100f, 100f, 100f)))
      .toDF("cid", "cvec")
    val corpus = Seq(
      (1L, Seq(0f, 0f, 0f, 0f)),       // cell 0, codes [0,0]
      (2L, Seq(10f, 10f, 10f, 10f)),   // cell 0, codes [1,1]
      (3L, Seq(100f, 100f, 100f, 100f)) // cell 1, codes [1,1]
    ).toDF("id", "vec")
    val qs = Seq((9L, Seq(1f, 1f, 1f, 1f))).toDF("qid", "qvec")
    // nprobe=1: only cell 0 searched — id 3 invisible even though its
    // ADC distance (324.0, codes [1,1]) ties id 2's
    val got = Pq.ivfAdcTopK(qs, corpus, cents, codebooks, subDim = 2,
      nprobe = 1, k = 3)
    val rows = got.collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(rows == Seq((1, 1L, 4.0), (2, 2L, 324.0)))
    val phys = got.queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastExchange"),
      s"query side broadcast:\n$phys")
    assert(phys.contains("ShuffledHashJoin"),
      s"expected a shuffle hash join:\n$phys")
    // nprobe=2 recovers cell 1's candidate
    val both = Pq.ivfAdcTopK(qs, corpus, cents, codebooks, subDim = 2,
      nprobe = 2, k = 3).collect().map(_.getLong(2)).toSeq
    assert(both == Seq(1L, 2L, 3L))
  }

  test("adcRerankTopK: exact distances fix ADC's quantized ordering " +
      "inside the shortlist") {
    import spark.implicits._
    // ADC sees ids 1 and 2 as the same code [0,0] (tie), but exact L2
    // re-rank orders 2 (dist 4) before 1 (dist 16)
    val corpus = Seq(
      (1L, Seq(3f, 3f, 1f, 1f)),  // codes [0,0], exact d = 4+4+0+0 = 8
      (2L, Seq(2f, 2f, 0f, 0f)),  // codes [0,0], exact d = 1+1+1+1 = 4
      (3L, Seq(10f, 10f, 10f, 10f)) // codes [1,1]
    ).toDF("id", "vec")
    val qs = Seq((9L, Seq(1f, 1f, 1f, 1f))).toDF("qid", "qvec")
    val adcOrder = Pq.adcTopK(qs, corpus, codebooks, subDim = 2, k = 3)
      .orderBy("rank").collect().map(_.getLong(2)).toSeq
    assert(adcOrder == Seq(1L, 2L, 3L)) // ADC tie broken by id: wrong
    val got = Pq.adcRerankTopK(qs, corpus, codebooks, subDim = 2,
      shortlist = 3, k = 2).orderBy("rank")
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == Seq((1, 2L, 4.0), (2, 1L, 8.0))) // exact order restored
    val truth = Pq.bruteL2TopK(qs, corpus, 2)
      .orderBy("rank").collect().map(_.getLong(2)).toSeq
    assert(truth == Seq(2L, 1L))
  }

  test("trainCodebooks: one Lloyd step — hand-computed means, lost " +
      "cells keep their codeword") {
    import spark.implicits._
    // m0: both rows -> j0 (means (2,2)); m1: both -> j1 (means (9,9));
    // the losing codewords keep their seed values
    val corpus = Seq(
      (1L, Seq(1f, 1f, 9f, 9f)),
      (2L, Seq(3f, 3f, 9f, 9f))).toDF("id", "vec")
    val got = Pq.trainCodebooks(corpus, codebooks, subDim = 2, iters = 1)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toList)
      .toMap
    assert(got == Map(
      (0, 0) -> List(2.0, 2.0), (0, 1) -> List(10.0, 10.0),
      (1, 0) -> List(0.0, 0.0), (1, 1) -> List(9.0, 9.0)))
  }

  test("ivfResidualAdcTopK: codes quantize the RESIDUAL (raw encode " +
      "would pick a different codeword), query tables are per-cell, " +
      "probe scoping holds") {
    import spark.implicits._
    val cents = Seq((0L, Seq(0f, 0f, 0f, 0f)),
      (1L, Seq(100f, 100f, 100f, 100f))).toDF("cid", "cvec")
    val corpus = Seq(
      (1L, Seq(101f, 101f, 101f, 101f)), // cell 1; residual (1,1,..) ->
      // codes [0,0] — a RAW encode of 101s would pick [1,1] (codeword
      // 10s), which is the distinction this test pins
      (2L, Seq(109f, 109f, 109f, 109f)), // cell 1; residual (9,9,..) -> [1,1]
      (3L, Seq(0f, 0f, 0f, 0f))          // cell 0 — invisible at nprobe=1
    ).toDF("id", "vec")
    val qs = Seq((9L, Seq(102f, 102f, 102f, 102f))).toDF("qid", "qvec")
    // query residual vs cell 1 = (2,2,2,2): per-subspace d(j0)=8,
    // d(j1)=128 -> adist: id 1 codes[0,0] = 16, id 2 codes[1,1] = 256
    val got = Pq.ivfResidualAdcTopK(qs, corpus, cents, codebooks,
      subDim = 2, nprobe = 1, k = 3).collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == Seq((1, 1L, 16.0), (2, 2L, 256.0)), s"got $got")
    // non-residual a9 path on the same data ranks by raw-vector codes:
    // both 1 and 2 encode [1,1], so ADC cannot separate them (tie ->
    // lower id) — the resolution residual encoding buys
    val raw = Pq.ivfAdcTopK(qs, corpus, cents, codebooks, subDim = 2,
      nprobe = 1, k = 3).collect()
      .map(r => (r.getLong(2), r.getDouble(3))).toSeq
    assert(raw.map(_._1) == Seq(1L, 2L) && raw(0)._2 == raw(1)._2,
      s"raw ADC should tie both candidates, got $raw")
  }

  test("cellKnnGraph: degree-capped nearest edges, scoped to the cell, " +
      "no self-edges, no cartesian/broadcast-NL join") {
    import spark.implicits._
    val cents = Seq((0L, Seq(0f, 0f, 0f, 0f)),
      (1L, Seq(100f, 100f, 100f, 100f))).toDF("cid", "cvec")
    val corpus = Seq(
      (1L, Seq(0f, 0f, 0f, 0f)),      // cell 0
      (2L, Seq(1f, 1f, 1f, 1f)),      // cell 0
      (3L, Seq(3f, 3f, 3f, 3f)),      // cell 0
      (4L, Seq(100f, 100f, 100f, 100f)),  // cell 1
      (5L, Seq(101f, 101f, 101f, 101f))   // cell 1
    ).toDF("id", "vec")
    val g1 = Pq.cellKnnGraph(corpus, cents, deg = 1)
    val e1 = g1.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // nearest within cell: 1->2 (4 vs 36), 2->1 (4 vs 16), 3->2 (16 vs
    // 36); cell 1 pairs up. No edge crosses cells despite 3<->4 being
    // closer than nothing — cell scoping is the candidate bound.
    assert(e1 == Set((1L, 2L), (2L, 1L), (3L, 2L), (4L, 5L), (5L, 4L)))
    val g2 = Pq.cellKnnGraph(corpus, cents, deg = 2)
    val e2 = g2.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(e2.groupBy(_._1).forall(_._2.size <= 2), "degree cap violated")
    assert(e2.toSet == Set((1L, 2L), (1L, 3L), (2L, 1L), (2L, 3L),
      (3L, 2L), (3L, 1L), (4L, 5L), (5L, 4L)),
      s"deg-2 edges: $e2")
    assert(e2.forall { case (a, b) => a != b }, "self-edge")
    val phys = g2.queryExecution.executedPlan.toString
    assert(!phys.contains("CartesianProduct") &&
      !phys.contains("BroadcastNestedLoopJoin"),
      s"unbounded join in graph build:\n$phys")
  }

  test("adcGraphExpandTopK: one graph hop rescues a true neighbor the " +
      "ADC shortlist missed; exact re-rank over a superset never ranks " +
      "worse than the base") {
    import spark.implicits._
    val cents = Seq((0L, Seq(0f, 0f, 0f, 0f))).toDF("cid", "cvec")
    // q's true nearest is 3, but 3 ties 2 at ADC distance (same codes)
    // and loses the (adist, id) tie-break — a shortlist of 1 seeds only
    // 2. The graph's 2->3 edge (their exact distance 4 beats 2->1's 400)
    // brings 3 in; the exact re-rank then puts it first.
    val corpus = Seq(
      (1L, Seq(0f, 0f, 0f, 0f)),
      (2L, Seq(10f, 10f, 10f, 10f)),
      (3L, Seq(9f, 9f, 9f, 9f))
    ).toDF("id", "vec")
    val qs = Seq((9L, Seq(8f, 8f, 8f, 8f))).toDF("qid", "qvec")
    val base = Pq.adcRerankTopK(qs, corpus, codebooks, subDim = 2,
      shortlist = 1, k = 1).collect()
      .map(r => (r.getLong(2), r.getDouble(3))).toSeq
    assert(base == Seq((2L, 16.0)), s"base seed: $base")
    val exp = Pq.adcGraphExpandTopK(qs, corpus, cents, codebooks,
      subDim = 2, shortlist = 1, deg = 1, k = 1).collect()
      .map(r => (r.getLong(2), r.getDouble(3))).toSeq
    assert(exp == Seq((3L, 4.0)), s"expanded: $exp")

    // superset invariant at k=2: per rank, expanded dist <= base dist
    val b2 = Pq.adcRerankTopK(qs, corpus, codebooks, subDim = 2,
      shortlist = 2, k = 2).collect()
      .map(r => r.getInt(1) -> r.getDouble(3)).toMap
    val e2 = Pq.adcGraphExpandTopK(qs, corpus, cents, codebooks,
      subDim = 2, shortlist = 2, deg = 1, k = 2).collect()
      .map(r => r.getInt(1) -> r.getDouble(3)).toMap
    b2.keys.foreach { r =>
      assert(e2(r) <= b2(r), s"rank $r: expanded ${e2(r)} > base ${b2(r)}")
    }
  }

  test("adcTopK excludes self-matches and respects k") {
    import spark.implicits._
    val corpus = Seq(
      (9L, Seq(1f, 1f, 1f, 1f)), (1L, Seq(0f, 0f, 0f, 0f)),
      (2L, Seq(10f, 10f, 10f, 10f))).toDF("id", "vec")
    val qs = Seq((9L, Seq(1f, 1f, 1f, 1f))).toDF("qid", "qvec")
    val got = Pq.adcTopK(qs, corpus, codebooks, subDim = 2, k = 1)
      .collect().map(r => r.getLong(2)).toSeq
    assert(got == Seq(1L)) // 9 itself excluded despite ADC 4.0 tie
  }
}
