package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Independent in-memory reference for the p29 Kendall τ-b gate: daily
  * aggregates and all pair votes recomputed in plain Scala (BigDecimal
  * money, brute-force O(n²) concordance) and compared EXACTLY,
  * including the one final float.
  */
class KendallSpec extends AnyFunSuite with SharedSpark {

  test("gate equals a brute-force pair count on sf0.001, and the " +
      "identities n0 = n(n-1)/2, C + D <= n0 hold") {
    val sf = "/root/testdata/sf0.001"
    val daily = graft.Tables.orders(spark, sf)
      .select("o_orderdate", "o_totalprice").collect()
      .groupBy(_.get(0)).toSeq
      .map { case (_, rows) =>
        val cnt = rows.length.toLong
        val cents = rows.map(r => BigDecimal(r.getDouble(1))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100)
          .sum.toLongExact
        (cnt, cents)
      }.toArray
    val n = daily.length
    var conc = 0L; var disc = 0L; var tx = 0L; var ty = 0L
    for (i <- 0 until n; j <- (i + 1) until n) {
      val p = (daily(i)._1 - daily(j)._1) * (daily(i)._2 - daily(j)._2)
      if (p > 0) conc += 1 else if (p < 0) disc += 1
      if (daily(i)._1 == daily(j)._1) tx += 1
      if (daily(i)._2 == daily(j)._2) ty += 1
    }
    val n0 = n.toLong * (n - 1) / 2
    val tau = (conc - disc).toDouble /
      math.sqrt(((n0 - tx) * (n0 - ty)).toDouble)
    val r = graft.queries.ExtensionQueries
      .queries("p29_kendall_tau")(spark, sf).collect()(0)
    assert(r.getLong(0) === n.toLong)
    assert(r.getLong(1) === n0)
    assert(r.getLong(2) === conc)
    assert(r.getLong(3) === disc)
    assert(r.getLong(4) === tx)
    assert(r.getLong(5) === ty)
    assert(r.getDouble(6) === tau)
    assert(conc + disc <= n0)
    assert(tx > 0, "fixture has no count ties — tie handling unexercised")
  }

  test("p31 Theil-Sen: gate equals a brute-force pairwise-slope median " +
      "on sf0.001, and one outlier month moves OLS but not the median " +
      "slope rank") {
    val sf = "/root/testdata/sf0.001"
    val months = graft.Tables.orders(spark, sf)
      .select("o_orderdate", "o_totalprice").collect()
      .map { r =>
        val ts = r.get(0) match {
          case t: java.sql.Timestamp => t.toLocalDateTime
          case t: java.time.LocalDateTime => t
        }
        val cents = (BigDecimal(r.getDouble(1))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact
        (ts.getYear * 12 + ts.getMonthValue, cents)
      }
      .groupBy(_._1).toSeq
      .map { case (x, rs) => (x.toLong, rs.map(_._2).sum) }
      .sortBy(_._1)
    val slopes = for {
      i <- months.indices; j <- (i + 1) until months.length
    } yield (months(j)._2 - months(i)._2) * 1000000L /
      (months(j)._1 - months(i)._1)
    val sorted = slopes.sorted
    val medFp = sorted((sorted.length + 1) / 2 - 1)
    val ics = months.map { case (x, y) => y - medFp * x / 1000000L }
      .sorted
    val medB = ics((ics.length + 1) / 2 - 1)
    val r = graft.queries.ExtensionQueries
      .queries("p31_theil_sen")(spark, sf).collect()(0)
    assert(r.getLong(0) === months.length.toLong)
    assert(r.getLong(1) === slopes.length.toLong)
    assert(r.getLong(2) === medFp)
    assert(r.getLong(3) === medB)
  }

  test("p32 runs test: gate equals a brute-force sign/run recompute on " +
      "sf0.001, and the cross-multiplied decision agrees with the " +
      "textbook float z^2") {
    val sf = "/root/testdata/sf0.001"
    val daily = graft.Tables.orders(spark, sf)
      .select("o_orderdate", "o_totalprice").collect()
      .map { r =>
        val ts = r.get(0) match {
          case t: java.sql.Timestamp => t.toLocalDateTime
          case t: java.time.LocalDateTime => t
        }
        val cents = (BigDecimal(r.getDouble(1))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact
        (ts.toLocalDate.toEpochDay, cents)
      }
      .groupBy(_._1).toSeq
      .map { case (d, rs) => (d, rs.map(_._2).sum) }
      .sortBy(_._1)
    val signs = daily.sliding(2).collect {
      case Seq((_, a), (_, b)) if b != a => if (b > a) 1 else -1
    }.toVector
    val nPlus = signs.count(_ == 1).toLong
    val nMinus = signs.count(_ == -1).toLong
    val runs = 1L + signs.sliding(2).count {
      case Seq(a, b) => a != b
      case _ => false
    }
    val n = nPlus + nMinus
    val a = runs * n - n - 2 * nPlus * nMinus
    val lhs = BigInt(10000) * BigInt(a) * BigInt(a) * BigInt(n - 1)
    val rhs = BigInt(76832) * BigInt(nPlus) * BigInt(nMinus) *
      BigInt(2 * nPlus * nMinus - n)
    val r = graft.queries.ExtensionQueries
      .queries("p32_runs_test")(spark, sf).collect()(0)
    assert(r.getLong(0) === nPlus)
    assert(r.getLong(1) === nMinus)
    assert(r.getLong(2) === runs)
    assert(r.getLong(3) === a)
    assert(r.getBoolean(4) === (lhs >= rhs))
    assert(nPlus > 0 && nMinus > 0,
      "fixture has one-directional revenue — runs test unexercised")
    // the integer cross-multiplication IS the float z^2 >= 3.8416
    // decision (the denominators multiplied through are positive here)
    val mu = 1.0 + 2.0 * nPlus * nMinus / n
    val s2 = 2.0 * nPlus * nMinus * (2.0 * nPlus * nMinus - n) /
      (n.toDouble * n * (n - 1))
    val z2 = (runs - mu) * (runs - mu) / s2
    assert((z2 >= 3.8416) === (lhs >= rhs))
  }

  test("p33 Spearman: gate equals a brute-force midrank Pearson on " +
      "sf0.001 including the final float; doubled midranks sum to " +
      "m*(m+1) and ties are exercised") {
    val sf = "/root/testdata/sf0.001"
    val daily = graft.Tables.orders(spark, sf)
      .select("o_orderdate", "o_totalprice").collect()
      .groupBy(_.get(0)).toSeq
      .map { case (_, rows) =>
        val cnt = rows.length.toLong
        val cents = rows.map(r => BigDecimal(r.getDouble(1))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100)
          .sum.toLongExact
        (cnt, cents)
      }.toArray
    def ranks2(v: Seq[Long]): Map[Long, Long] =
      v.distinct.map(x =>
        x -> (2L * v.count(_ < x) + v.count(_ == x) + 1)).toMap
    val xs = daily.toSeq.map(_._1)
    val ys = daily.toSeq.map(_._2)
    val rx = ranks2(xs)
    val ry = ranks2(ys)
    val x = xs.map(rx)
    val y = ys.map(ry)
    val m = x.length.toLong
    assert(x.sum === m * (m + 1), "doubled-midrank sum identity")
    assert(y.sum === m * (m + 1), "doubled-midrank sum identity")
    assert(xs.distinct.length < xs.length,
      "fixture has no daily-count ties — midrank handling unexercised")
    val sx = x.sum; val sy = y.sum
    val sxy = x.zip(y).map { case (a, b) => a * b }.sum
    val sx2 = x.map(a => a * a).sum
    val sy2 = y.map(a => a * a).sum
    val num = m * sxy - sx * sy
    val fx = m * sx2 - sx * sx
    val fy = m * sy2 - sy * sy
    val rho = num.toDouble / (math.sqrt(fx.toDouble) *
      math.sqrt(fy.toDouble))
    val r = graft.queries.ExtensionQueries
      .queries("p33_spearman")(spark, sf).collect()(0)
    assert(r.getLong(0) === m)
    assert(r.getLong(1) === fx)
    assert(r.getLong(2) === fy)
    assert(r.getLong(3) === num)
    assert(r.getDouble(4) === rho)
    // self-correlation degenerates to exactly 1 through the same tree
    val selfNum = m * sx2 - sx * sx
    assert(selfNum.toDouble / (math.sqrt(fx.toDouble) *
      math.sqrt(fx.toDouble)) === fx.toDouble / fx.toDouble)
  }
}
