package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** k-anonymity / l-diversity report: hand-computed groups and the
  * empty-input zeros contract. */
class PrivacySpec extends AnyFunSuite with SharedSpark {

  test("hand-computed groups: sizes, risk counts, min diversity") {
    import spark.implicits._
    // QI (zip): group A = 3 rows (2 sensitive values), B = 1 row (1 value)
    val df = Seq(("A", "x"), ("A", "x"), ("A", "y"), ("B", "x"))
      .toDF("zip", "disease")
    val r = Privacy.kAnonymityReport(df, Seq(col("zip")), col("disease"),
      k = 2).collect()(0)
    assert(r.getInt(0) == 2)      // k
    assert(r.getLong(1) == 2L)    // n_groups
    assert(r.getLong(2) == 1L)    // min_group (B)
    assert(r.getLong(3) == 1L)    // groups_at_risk (B)
    assert(r.getLong(4) == 1L)    // rows_at_risk (B's row)
    assert(r.getLong(5) == 1L)    // min_l (B has one sensitive value)
  }

  test("empty input reports zeros, not nulls") {
    import spark.implicits._
    val df = Seq.empty[(String, String)].toDF("zip", "disease")
    val r = Privacy.kAnonymityReport(df, Seq(col("zip")), col("disease"),
      k = 5).collect()(0)
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5)) == ((0L, 0L, 0L, 0L, 0L)))
  }

  test("p34 tz20: first-set-bit ladder — hand values and the h=0 / " +
      "high-bit-only cap") {
    import spark.implicits._
    val df = Seq(1L, 8L, 6L, 0L, 1L << 20, (1L << 20) | 4L)
      .toDF("h")
    val got = df.select(col("h"), Privacy.tz20(col("h")).as("tz"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 0L, 8L -> 3L, 6L -> 1L, 0L -> 20L,
      (1L << 20) -> 20L, ((1L << 20) | 4L) -> 2L))
  }

  test("p34 dpNoisedRelease: sub-k cells suppressed, noise bounded and " +
      "deterministic per (seed, group), noisy_n = n + noise, " +
      "nominal_epsilon rides the row; a different seed moves some noise") {
    import spark.implicits._
    val rows = (1 to 30).map(i => ("A", s"s$i")) ++
      (1 to 12).map(i => ("B", s"s$i")) ++ Seq(("C", "x"))
    val df = rows.toDF("seg", "pay")
    def rel(seed: String) = Privacy.dpNoisedRelease(df,
        Seq(col("seg")), k = 10, seed = seed)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4),
          r.getDouble(5)))).toMap
    val a = rel("seed-one")
    assert(a.keySet === Set("A", "B"), "C (n=1) must be suppressed")
    a.foreach { case (g, (n, noise, noisy, k, eps)) =>
      assert(noise >= -20L && noise <= 20L, s"$g noise bound")
      assert(noisy == n + noise, s"$g additivity")
      assert(k == 10 && eps == Privacy.DpEpsilonLn2)
    }
    assert(a("A")._1 == 30L && a("B")._1 == 12L)
    // determinism: the release is a pure function of (seed, data)
    assert(rel("seed-one") === a)
    // seed audit: 20 seeds — at least one moves some group's noise
    // (each seed repeats a's exact noise pair w.p. < 1/9 -> all 20
    // doing so is < 9^-20)
    val moved = (1 to 20).exists(i => rel(s"other-$i") != a)
    assert(moved, "noise must depend on the seed")
  }
}
