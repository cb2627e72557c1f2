package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Independent in-memory reference for the t55 stupid-backoff gate: the
  * whole model (train-half bigram + unigram counts) and every eval
  * doc's fixed-point score are recomputed in plain Scala from the
  * parquet corpus and compared EXACTLY — a third implementation beside
  * the Spark plan and the DuckDB oracle, so a shared SQL-shape mistake
  * cannot self-confirm.
  */
class BackoffSpec extends AnyFunSuite with SharedSpark {

  private def h32(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.substring(0, 8)
    java.lang.Long.parseLong(hex, 16)
  }

  test("gate equals a from-scratch in-memory stupid-backoff model on " +
      "the sf0.001 corpus") {
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val (train, eval) = docs.partition { case (id, _) => h32(id.toString) % 2 == 0 }
    val biCnt = scala.collection.mutable.Map[(String, String), Long]()
    val uniCnt = scala.collection.mutable.Map[String, Long]()
    var nTot = 0L
    train.foreach { case (_, text) =>
      val t = text.split(" ")
      t.foreach { w => uniCnt(w) = uniCnt.getOrElse(w, 0L) + 1; nTot += 1 }
      t.sliding(2).filter(_.length == 2).foreach { p =>
        biCnt((p(0), p(1))) = biCnt.getOrElse((p(0), p(1)), 0L) + 1
      }
    }
    val ctxTot = biCnt.groupBy(_._1._1).map { case (w1, m) => w1 -> m.values.sum }
    val want = eval.flatMap { case (id, text) =>
      val t = text.split(" ")
      val pairs = t.sliding(2).filter(_.length == 2).toSeq
      if (pairs.isEmpty) None
      else {
        var hits = 0L; var back = 0L; var oov = 0L; var sum = 0L
        pairs.foreach { p =>
          biCnt.get((p(0), p(1))) match {
            case Some(c) =>
              hits += 1; sum += c * 1000000L / ctxTot(p(0))
            case None => uniCnt.get(p(1)) match {
              case Some(u) => back += 1; sum += 2 * u * 1000000L / (5 * nTot)
              case None    => oov += 1
            }
          }
        }
        Some(id -> ((pairs.length.toLong, hits, back, oov, sum)))
      }
    }.toMap
    val got = graft.queries.ExtensionQueries
      .queries("t55_stupid_backoff")(spark, sf)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    assert(got.keySet === want.keySet)
    want.foreach { case (id, w) => assert(got(id) === w, s"doc $id") }
    // the fixture must actually exercise all three outcomes somewhere
    assert(want.values.exists(_._2 > 0), "no bigram hits in fixture")
    assert(want.values.exists(_._3 > 0), "no backoffs in fixture")
  }

  test("t57 Kneser-Ney: gate equals a from-scratch interpolated-KN " +
      "model on sf0.001 (integer fixed-point, D = 3/4), and the " +
      "continuation-count asymmetry is exercised") {
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val (train, eval) = docs.partition { case (id, _) =>
      h32(id.toString) % 2 == 0
    }
    val biCnt = scala.collection.mutable.Map[(String, String), Long]()
    train.foreach { case (_, text) =>
      text.split(" ").sliding(2).filter(_.length == 2).foreach { p =>
        biCnt((p(0), p(1))) = biCnt.getOrElse((p(0), p(1)), 0L) + 1
      }
    }
    val ca = biCnt.groupBy(_._1._1).map { case (a, m) =>
      a -> m.values.sum }
    val n1pFwd = biCnt.groupBy(_._1._1).map { case (a, m) =>
      a -> m.size.toLong }
    val n1pBwd = biCnt.groupBy(_._1._2).map { case (b, m) =>
      b -> m.size.toLong }
    val nTypes = biCnt.size.toLong
    assert(n1pBwd.values.max > n1pBwd.values.min,
      "flat continuation counts — the KN distinction is unexercised")
    val want = eval.flatMap { case (id, text) =>
      val pairs = text.split(" ").sliding(2).filter(_.length == 2).toSeq
      if (pairs.isEmpty) None
      else {
        var seen = 0L; var back = 0L; var oov = 0L; var sum = 0L
        pairs.foreach { p =>
          val (a, b) = (p(0), p(1))
          ca.get(a) match {
            case None => oov += 1
            case Some(caV) =>
              val pcont = n1pBwd.getOrElse(b, 0L) * 1000000L / nTypes
              val lam = 3L * n1pFwd(a) * 1000000L / (4L * caV)
              val first = biCnt.get((a, b)) match {
                case Some(cab) =>
                  seen += 1
                  (4L * cab - 3L) * 1000000L / (4L * caV)
                case None => back += 1; 0L
              }
              sum += first + lam * pcont / 1000000L
          }
        }
        Some(id -> ((pairs.length.toLong, seen, back, oov, sum)))
      }
    }.toMap
    val got = graft.queries.ExtensionQueries
      .queries("t57_kneser_ney")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    assert(got.keySet === want.keySet)
    want.foreach { case (id, w) => assert(got(id) === w, s"doc $id") }
    assert(want.values.exists(_._2 > 0), "no seen bigrams in fixture")
  }

  test("t56 Good-Turing: gate equals a from-scratch count-of-counts " +
      "model on sf0.001; sum r*N_r = N and the hand formula replays") {
    val sf = "/root/testdata/sf0.001"
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect()
      .flatMap(_.getString(0).split(" ", -1).sliding(3)
        .filter(_.length == 3).map(_.mkString(" ")))
    val wc = toks.groupBy(identity).map { case (_, v) => v.length.toLong }
    val coc = wc.groupBy(identity).map { case (r, v) => r -> v.size.toLong }
    val n = toks.length.toLong
    // the count-of-counts identity the report window can't show alone
    assert(coc.map { case (r, nr) => r * nr }.sum === n)
    val n1 = coc.getOrElse(1L, 0L)
    assert(n1 > 0, "fixture has no hapax legomena — GT unexercised")
    val rows = graft.queries.ExtensionQueries
      .queries("t56_good_turing")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length ===
      coc.keys.count(_ <= 10L))
    rows.foreach { row =>
      val r = row.getLong(0)
      assert(row.getLong(1) === coc(r))
      val nr1 = coc.getOrElse(r + 1, 0L)
      assert(row.getLong(2) === nr1)
      if (nr1 > 0) assert(row.getLong(3) === (r + 1) * nr1 * 1000000L / coc(r))
      else assert(row.isNullAt(3))
      assert(row.getLong(4) === n1 * 1000000L / n)
      assert(row.getLong(5) === n)
    }
    // hand corpus {a:1, b:1, c:2}: r*(1) = 2*N2/N1 = 1.0 — a word seen
    // once behaves like one seen 1.0 times; N3 = 0 leaves r*(2) undefined
    val hand = Map(1L -> 2L, 2L -> 1L)
    assert((1 + 1) * hand(2L) * 1000000L / hand(1L) === 1000000L)
    assert(hand.getOrElse(3L, 0L) === 0L)
  }
}
