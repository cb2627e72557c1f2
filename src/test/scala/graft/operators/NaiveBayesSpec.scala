package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** [[NaiveBayes]] — the fixed-point Q16 log2 kernel against its scalar
  * reference and the analytic bound, and the classifier against scores
  * assembled by hand from the reference kernel. */
class NaiveBayesSpec extends AnyFunSuite with SharedSpark {

  test("logTable: column recurrence == scalar reference on 1..2048, " +
      "powers of two exact, top-of-domain, quantization bound") {
    import spark.implicits._
    val xs = ((1L to 2048L) ++ (0 to 62).map(1L << _) ++
      Seq((1L << 31) - 1, 1000003L, 123456789L, 10000000001L,
        (1L << 40) + 12345L, Long.MaxValue)).distinct
    val got = NaiveBayes.logTable(xs.toDF("x"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == xs.size)
    xs.foreach { x =>
      assert(got(x) == NaiveBayes.log2Q16Ref(x),
        s"column/ref mismatch at $x: ${got(x)} vs " +
          s"${NaiveBayes.log2Q16Ref(x)}")
    }
    // exact at powers of two: L(2^k) = k·2^16, frac bits all zero —
    // including the truncated-mantissa branch above 2^31
    (0 to 62).foreach(k => assert(got(1L << k) == k.toLong * 65536L))
    // truncation quantization: 0 <= log2(x) - L(x)/2^16 < 2^-16 + eps
    xs.foreach { x =>
      val err = math.log(x.toDouble) / math.log(2.0) -
        got(x).toDouble / 65536.0
      assert(err >= -1e-9 && err < 1.0 / 65536.0 + 1e-9,
        s"quantization bound violated at $x: err=$err")
    }
  }

  test("train/classify: hand fixture scores equal the Laplace formula " +
      "assembled from the reference kernel; unseen-token path; " +
      "tie breaks to the smallest class") {
    import spark.implicits._
    val train = Seq(
      ("spam", "buy pills now"), ("spam", "buy now"),
      ("ham", "meeting at noon"), ("ham", "project meeting notes"))
      .toDF("label", "text")
    val m = NaiveBayes.train(train, "label", "text", "graft-nbspec")
    // model masses by hand: V = 8 distinct train tokens;
    // spam: N=5, buy:2 now:2 pills:1; ham: N=6, meeting:2 others 1
    val L = NaiveBayes.log2Q16Ref _
    def score(cls: String, nC: Long, dC: Long,
        toks: Map[String, Long], counts: Map[String, Long]): Long =
      L(dC) - L(4L) + toks.map { case (t, mt) =>
        mt * (counts.get(t).map(n => L(n + 1)).getOrElse(0L) -
          L(nC + 8L))
      }.sum
    val spamC = Map("buy" -> 2L, "now" -> 2L, "pills" -> 1L)
    val hamC = Map("meeting" -> 2L, "at" -> 1L, "noon" -> 1L,
      "project" -> 1L, "notes" -> 1L)
    // eval doc with a token unseen in BOTH classes (zebra)
    val eval = Seq((1L, "buy pills zebra"), (2L, "meeting noon"))
      .toDF("doc_id", "text")
    val got = NaiveBayes.classify(eval, "doc_id", "text", m)
      .collect().map(r => r.getLong(0) -> ((r.getString(1),
        r.getLong(2)))).toMap
    val t1 = Map("buy" -> 1L, "pills" -> 1L, "zebra" -> 1L)
    val exp1Spam = score("spam", 5L, 2L, t1, spamC)
    val exp1Ham = score("ham", 6L, 2L, t1, hamC)
    assert(exp1Spam > exp1Ham)
    assert(got(1L) == (("spam", exp1Spam)))
    val t2 = Map("meeting" -> 1L, "noon" -> 1L)
    assert(got(2L) == (("ham", score("ham", 6L, 2L, t2, hamC))))
    // exact tie: two classes with mirrored masses, shared eval token
    // seen equally -> identical scores -> smallest class label wins
    val sym = Seq(("a", "x x y"), ("b", "x x z")).toDF("label", "text")
    val ms = NaiveBayes.train(sym, "label", "text", "graft-nbspec2")
    val tie = NaiveBayes.classify(Seq((9L, "x")).toDF("doc_id", "text"),
      "doc_id", "text", ms).collect()(0)
    assert(tie.getString(1) == "a")
  }

  test("train: a class whose docs all tokenize to zero tokens keeps " +
      "its prior (left-join fix, r15 advisor) — denominator L(0+V), " +
      "and it wins a no-evidence doc when its prior dominates") {
    import spark.implicits._
    // class "empty" has 3 docs, all NULL text — split(NULL) is NULL and
    // explode(NULL) emits no rows, so the class has zero cnt rows (the
    // tokenizer's only zero-token path: split-on-space keeps empty
    // strings as tokens, NULL does not). V = 2 (alpha, beta).
    val nul: String = null
    val train = Seq(
      ("empty", nul), ("empty", nul), ("empty", nul),
      ("tok", "alpha beta"))
      .toDF("label", "text")
    val m = NaiveBayes.train(train, "label", "text", "graft-nbspec3")
    val cls = m.cls.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(cls.keySet == Set("empty", "tok"),
      "all-empty class must stay in the model")
    val L = NaiveBayes.log2Q16Ref _
    // priors: dc(empty)=3, dc(tok)=1, D=4; denominators: L(0+2), L(2+2)
    assert(cls("empty") == ((L(3L) - L(4L), L(2L))))
    assert(cls("tok") == ((L(1L) - L(4L), L(4L))))
    // an unseen-token doc: empty's larger prior beats tok
    // score(empty) = (L(3)-L(4)) + 1*(0 - L(2));
    // score(tok)   = (L(1)-L(4)) + 1*(0 - L(4))
    val got = NaiveBayes.classify(
      Seq((7L, "zebra")).toDF("doc_id", "text"),
      "doc_id", "text", m).collect()(0)
    assert(got.getString(1) == "empty")
    assert(got.getLong(2) == L(3L) - L(4L) - L(2L))
  }
}
