package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Hand-computed BPE training oracle on a corpus small enough to verify on
  * paper — fixes the merge selection (weighted overlapping pair counts,
  * count-DESC/lex-ASC tie-break) and the greedy LEFT-TO-RIGHT application
  * ("aaa" + merge (a,a) -> "aa a", not "a aa").
  */
class BpeSpec extends AnyFunSuite with SharedSpark {

  test("trainMerges learns the hand-computed merge list") {
    import spark.implicits._
    // histogram: aaab x3, ab x1, cab x1
    val docs = Seq("aaab aaab ab", "aaab cab").toDF("text")
    val got = Bpe.trainMerges(docs, org.apache.spark.sql.functions
        .col("text"), 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    // round 1: (a,a) appears twice per "aaab" (overlapping) -> 6;
    //          (a,b) 3+1+1 = 5; (c,a) 1 -> merge (a,a), n=6
    //          "aaab" -> [aa, a, b]   (left-to-right: NOT [a, aa, b])
    // round 2: (aa,a) 3, (a,b) 5, (c,a) 1 -> merge (a,b), n=5
    // round 3: (aa,ab) 3, (c,ab) 1 -> merge (aa,ab), n=3
    // encoded corpus: aaab=[aaab] x3, ab=[ab] x1, cab=[c,ab] x1 -> 6 tokens
    assert(got == Seq(
      (1, "a", "a", 6L),
      (2, "a", "b", 5L),
      (3, "aa", "ab", 3L),
      (4, "<corpus>", "", 6L)))
  }

  test("non-alphabetic text is excluded from training") {
    import spark.implicits._
    val docs = Seq("ab ab 12 |x| !?", "ab").toDF("text")
    val got = Bpe.trainMerges(docs, org.apache.spark.sql.functions
        .col("text"), 1)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    // only "ab" x3 and "x" x1 survive the [A-Za-z]+ pre-tokenizer; the "|"
    // delimiter can never collide with corpus symbols
    assert(got == Seq((1, "a", "b", 3L), (2, "<corpus>", "", 4L)))
  }

  /** Independent in-memory BPE: same selection rule (weighted overlapping
    * pair counts, count-DESC/lex-ASC ties) and the same greedy
    * left-to-right application — written over symbol LISTS, not the
    * delimiter-string encoding the operator uses, so an encoding bug
    * cannot hide in both. */
  private def refBpe(words: Map[String, Long],
      k: Int): (List[(String, String, Long)], Long) = {
    def applyMerge(ws: List[String], l: String,
        r: String): List[String] = ws match {
      case a :: b :: rest if a == l && b == r =>
        (l + r) :: applyMerge(rest, l, r)
      case a :: rest => a :: applyMerge(rest, l, r)
      case Nil => Nil
    }
    var syms: Map[List[String], Long] =
      words.groupMapReduce(_._1.map(_.toString).toList)(_._2)(_ + _)
    var out = List.empty[(String, String, Long)]
    var rounds = 0
    var dry = false
    while (rounds < k && !dry) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((ws, f) <- syms; Seq(a, b) <- ws.sliding(2))
        counts((a, b)) = counts.getOrElse((a, b), 0L) + f
      if (counts.isEmpty) dry = true
      else {
        val ((l, r), n) = counts.minBy { case ((a, b), c) => (-c, a, b) }
        out :+= ((l, r, n))
        syms = syms.groupMapReduce(
          { case (ws, _) => applyMerge(ws, l, r) })(_._2)(_ + _)
        rounds += 1
      }
    }
    (out, syms.map { case (ws, f) => ws.length * f }.sum)
  }

  test("trainMerges matches the independent in-memory reference on " +
      "random corpora (incl. merge exhaustion)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 4) {
      val words = Seq.fill(20 + rnd.nextInt(30))(
        Seq.fill(1 + rnd.nextInt(5))(
          ('a' + rnd.nextInt(3)).toChar).mkString)
      val docs = words.grouped(7).map(_.mkString(" ")).toSeq.toDF("text")
      val k = 1 + rnd.nextInt(10) // sometimes exceeds available merges
      val got = Bpe.trainMerges(docs,
        org.apache.spark.sql.functions.col("text"), k).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getLong(3))).toSeq
      val hist = words.groupBy(identity).view
        .mapValues(_.size.toLong).toMap
      val (refMerges, refTokens) = refBpe(hist, k)
      val want = refMerges.zipWithIndex.map { case ((l, r, n), i) =>
        (i + 1, l, r, n) } :+
        ((refMerges.length + 1, "<corpus>", "", refTokens))
      assert(got == want, s"trial $trial k=$k words=$words")
    }
  }
}
