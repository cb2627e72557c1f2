package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Pins the Aho–Corasick multi-pattern kernel: overlapping occurrences,
  * output links (a pattern that is a proper suffix of another must count
  * at the same position), absent patterns, and parity against the naive
  * per-pattern positional L-gram count on real corpus text.
  */
class AhoCorasickSpec extends AnyFunSuite with SharedSpark {

  private def counts(text: String, pats: Seq[Seq[String]]): Seq[Long] = {
    val df = spark.createDataFrame(Seq(Tuple1(text))).toDF("text")
    df.select(MultiMatchCountsExpr
        .multi_match_counts(split(col("text"), " "), pats).as("c"))
      .collect()(0).getSeq[Long](0)
  }

  test("overlapping occurrences are all counted") {
    assert(counts("a a a a", Seq(Seq("a", "a"))) === Seq(3L))
  }

  test("output links: a suffix pattern counts wherever its superpattern " +
      "ends") {
    val pats = Seq(Seq("a", "b", "c"), Seq("b", "c"), Seq("c"))
    assert(counts("a b c", pats) === Seq(1L, 1L, 1L))
    assert(counts("x b c y a b c", pats) === Seq(1L, 2L, 2L))
  }

  test("absent pattern reports zero; empty token stream reports zeros") {
    val pats = Seq(Seq("zz", "qq"), Seq("a"))
    assert(counts("a b a", pats) === Seq(0L, 2L))
  }

  test("shared prefixes dispatch correctly (trie branching)") {
    val pats = Seq(Seq("a", "b"), Seq("a", "c"), Seq("a"))
    assert(counts("a b a c a", pats) === Seq(1L, 1L, 3L))
  }

  test("failure links: partial match rewinds, does not swallow a " +
      "restart") {
    // after reading "a b" while matching "a b c", seeing "a" must restart
    // the "a b" match via the failure path
    val pats = Seq(Seq("a", "b", "c"), Seq("a", "b"))
    assert(counts("a b a b c", pats) === Seq(1L, 2L))
  }

  test("parity vs naive per-pattern count on corpus text") {
    val pats = Seq("slow fast", "row scan", "hash value table",
      "value table", "data window", "zz never qq").map(_.split(" ").toSeq)
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("t"))
    val ac = docs.select(col("doc_id"),
      MultiMatchCountsExpr.multi_match_counts(col("t"), pats).as("c"))
    // naive: one filter pass per pattern over positional L-grams
    val naive = docs.select(col("doc_id") +: pats.zipWithIndex.map {
      case (p, i) =>
        val l = p.length
        val pat = p.mkString(" ")
        size(filter(
          when(size(col("t")) < l, array().cast("array<string>"))
            .otherwise(transform(sequence(lit(1), size(col("t")) - (l - 1)),
              k => concat_ws(" ", slice(col("t"), k, lit(l))))),
          g => g === lit(pat))).cast("long").as(s"n_$i")
    }: _*)
    val joined = ac.join(naive, "doc_id").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val acCounts = r.getSeq[Long](1)
      pats.indices.foreach { i =>
        assert(acCounts(i) === r.getLong(2 + i),
          s"doc ${r.getLong(0)} pattern $i")
      }
    }
  }
}
