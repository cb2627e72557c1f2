package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Pins the robust-winnowing guarantees (Schleimer/Wilkerson/Aiken,
  * SIGMOD 2003) on hand-checkable docs: parity vs an in-memory reference
  * implementation, the detection guarantee (every shared span of
  * >= w+k-1 tokens yields a shared fingerprint), the short-doc
  * completions, and the rightmost-on-ties selection rule.
  */
class WinnowSpec extends AnyFunSuite with SharedSpark {

  private val K = 4
  private val W = 4

  /** Reference portable hash: first 8 hex chars of md5, as a long —
    * the same formula as graft.functions.Hashing.portableHash32. */
  private def h32(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.substring(0, 8)
    java.lang.Long.parseLong(hex, 16)
  }

  /** In-memory robust winnowing over one doc's tokens. */
  private def refWinnow(text: String): Set[Long] = {
    val toks = text.split(" ")
    if (toks.length < K) return Set.empty
    val hashes = (0 to toks.length - K)
      .map(i => h32(toks.slice(i, i + K).mkString(" ")))
    val n = hashes.length
    val starts = if (n <= W) Seq(0) else (0 to n - W)
    starts.map { s =>
      val win = hashes.slice(s, math.min(s + W, n)).zipWithIndex
      // min hash, rightmost position on ties
      win.minBy { case (hh, i) => (hh, -i) }._1
    }.toSet
  }

  private def run(docs: Seq[(Long, String)]): Map[Long, Set[Long]] = {
    val df = spark.createDataFrame(docs).toDF("doc_id", "text")
    Dedup.winnowFingerprints(df, col("doc_id"), col("text"), K, W)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (id, rows) => id -> rows.map(_.getLong(1)).toSet }
  }

  test("operator matches the in-memory reference on varied docs") {
    val docs = Seq(
      1L -> "a b c d e f g h i j k l m n",
      2L -> "x y z x y z x y z x y z x y z", // repeated grams -> hash ties
      3L -> "one two three four",            // exactly one gram
      4L -> "alpha beta gamma",              // < k tokens: nothing
      5L -> "p q r s t u v",                 // n grams == w: one window set
      6L -> ("w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 " * 5).trim)
    val got = run(docs)
    docs.foreach { case (id, text) =>
      val want = refWinnow(text)
      assert(got.getOrElse(id, Set.empty) === want, s"doc $id")
    }
    assert(!got.contains(4L)) // < k tokens emits no fingerprints
    assert(got(3L).size === 1) // short-doc completion: 1 fingerprint
  }

  test("detection guarantee: a shared span of w+k-1 tokens yields a " +
      "shared fingerprint") {
    // 7-token shared span embedded in otherwise-disjoint docs
    val span = "s1 s2 s3 s4 s5 s6 s7"
    val docs = Seq(
      10L -> s"aa bb cc dd $span ee ff gg hh",
      11L -> s"pp qq rr $span ss tt uu vv ww")
    val got = run(docs)
    assert(got(10L).intersect(got(11L)).nonEmpty)
  }

  test("density: at most one fingerprint per valid window, at least one " +
      "overall") {
    val toks = (1 to 40).map(i => s"tok$i").mkString(" ")
    val got = run(Seq(20L -> toks))
    val nGrams = 40 - K + 1
    val nWindows = nGrams - W + 1
    assert(got(20L).nonEmpty)
    assert(got(20L).size <= nWindows)
  }
}
