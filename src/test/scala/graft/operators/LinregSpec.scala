package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** OLS via normal equations: exact recovery on plane-consistent data,
  * a hand-solved least-squares case, and the 2^53 exactness guard. */
class LinregSpec extends AnyFunSuite with SharedSpark {

  private def fit(rows: Seq[(Long, Long, Long)]): Map[String, Double] = {
    import spark.implicits._
    val df = rows.toDF("y", "x1", "x2").repartition(3)
    Linreg.fitOLS2(df, col("y"), col("x1"), col("x2"),
      names = ("b0", "b1", "b2"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
  }

  test("recovers an exact plane y = 7 + 3*x1 - 2*x2") {
    val pts = for (a <- 0L to 4L; b <- 0L to 4L)
      yield (7 + 3 * a - 2 * b, a, b)
    val got = fit(pts)
    assert(math.abs(got("b0") - 7.0) < 1e-9)
    assert(math.abs(got("b1") - 3.0) < 1e-9)
    assert(math.abs(got("b2") + 2.0) < 1e-9)
  }

  test("least-squares on inconsistent data matches the hand solve") {
    // y over (x1, x2) = (0,0)->0, (1,0)->2, (0,1)->2, (1,1)->2:
    // normal equations 4b0+2b1+2b2=6, 2b0+2b1+b2=4, 2b0+b1+2b2=4
    // give b0 = 1/2, b1 = b2 = 1
    val got = fit(Seq((0L, 0L, 0L), (2L, 1L, 0L), (2L, 0L, 1L),
      (2L, 1L, 1L)))
    assert(math.abs(got("b0") - 0.5) < 1e-12)
    assert(math.abs(got("b1") - 1.0) < 1e-12)
    assert(math.abs(got("b2") - 1.0) < 1e-12)
  }

  test("rejects singular designs and over-2^53 sums") {
    import spark.implicits._
    // x2 = 2*x1 exactly -> singular
    val sing = Seq((1L, 1L, 2L), (2L, 2L, 4L), (3L, 3L, 6L))
      .toDF("y", "x1", "x2")
    val e1 = intercept[IllegalArgumentException] {
      Linreg.fitOLS2(sing, col("y"), col("x1"), col("x2"),
        ("b0", "b1", "b2")).collect()
    }
    assert(e1.getMessage.contains("singular"))
    val big = Seq((1L << 62, 1L, 0L), (1L << 62, 0L, 1L), (0L, 1L, 1L))
      .toDF("y", "x1", "x2")
    val e2 = intercept[IllegalArgumentException] {
      Linreg.fitOLS2(big, col("y"), col("x1"), col("x2"),
        ("b0", "b1", "b2")).collect()
    }
    assert(e2.getMessage.contains("2^53"))
  }
}
