package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** [[Skyline]] — hand fixture with duplicates and vertical stacks,
  * grid-width edge cases, and a 300-point brute-force property sweep
  * across grid sizes (the 1-cell grid degenerates to the pure sorted
  * scan, so the prune path is tested AGAINST its own no-prune form). */
class SkylineSpec extends AnyFunSuite with SharedSpark {

  private def run(pts: Seq[(Long, Long, Long)], grid: Int) = {
    import spark.implicits._
    Skyline.skyline2d(pts.toDF("id", "x", "y"), col("id"), col("x"),
        col("y"), grid)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
  }

  private def brute(pts: Seq[(Long, Long, Long)]) = {
    val dom = (a: (Long, Long), b: (Long, Long)) => // a dominates b
      a._1 <= b._1 && a._2 >= b._2 && (a._1 < b._1 || a._2 > b._2)
    pts.groupBy(p => (p._2, p._3)).toSeq
      .filter { case (g, _) =>
        !pts.exists(p => dom((p._2, p._3), g)) }
      .map { case ((x, y), rows) =>
        (x, y, rows.size.toLong, rows.map(_._1).min) }
      .sortBy(t => (t._1, t._2))
  }

  test("hand fixture: duplicates grouped, vertical stack collapses, " +
      "dominated rows gone — identical across grid sizes") {
    // min x, max y: skyline = (1,10)x2, (2,12), (3,15);
    // (2,9) loses to (2,12), (5,15) loses to (3,15)
    val pts = Seq((10L, 1L, 10L), (11L, 2L, 12L), (12L, 2L, 9L),
      (13L, 3L, 15L), (14L, 5L, 15L), (9L, 1L, 10L))
    val want = Seq((1L, 10L, 2L, 9L), (2L, 12L, 1L, 11L),
      (3L, 15L, 1L, 13L))
    for (g <- Seq(1, 2, 64)) assert(run(pts, g) === want, s"grid=$g")
    assert(brute(pts) === want) // the brute checker agrees on the plant
  }

  test("degenerate inputs: empty, single point, all-identical") {
    assert(run(Seq.empty, 8) === Seq.empty)
    assert(run(Seq((7L, 3L, 4L)), 8) === Seq((3L, 4L, 1L, 7L)))
    assert(run(Seq((1L, 5L, 5L), (2L, 5L, 5L), (3L, 5L, 5L)), 8) ===
      Seq((5L, 5L, 3L, 1L)))
  }

  test("property: 300 deterministic pseudo-random points == brute " +
      "force, for grid 1 / 7 / 64, including negative coordinates") {
    val pts = (0 until 300).map { i =>
      val h = (i * 2654435761L) & 0xffffffffL
      (i.toLong, (h % 97L) - 40L, ((h >> 7) % 89L) - 44L)
    }
    val want = brute(pts)
    for (g <- Seq(1, 7, 64))
      assert(run(pts, g) === want, s"grid=$g diverges from brute force")
  }

  test("q65 skyline2dBounded: residue re-grid lands the final window " +
      "under the bound on the planted anti-correlated worst case, " +
      "result equals the one-shot form; a residue that IS the skyline " +
      "plateaus honestly instead of looping") {
    import org.apache.spark.sql.functions.col
    val pts = graft.queries.Relational.q65Planted(spark)
    val r = Skyline.skyline2dBounded(pts, col("id"), col("x"),
      col("y"), grid = 64, maxResidue = 5000, maxDepth = 4)
    assert(r.finalResidue <= 5000L,
      s"residual window not bounded: ${r.residues}")
    assert(r.residues.length <= 4 && r.grids.head == 64)
    // recursion genuinely fired: the first prune could not get under
    // the bound (the displacement is inside one coarse cell for most
    // satellites), the finer mesh did
    assert(r.residues.head > 5000L, s"trace: ${r.residues}")
    assert(r.residues.length >= 2 && r.residues.last < r.residues.head,
      s"trace: ${r.residues}")
    val got = r.result.collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
      .sortBy(t => (t._1, t._2))
    // one-shot oracle form on the same points
    val want = Skyline.skyline2d(pts, col("id"), col("x"), col("y"), 64)
      .collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
      .sortBy(t => (t._1, t._2))
    assert(got.length == 1000 && got === want)
    // pure diagonal: every point IS skyline; the residue can never
    // drop under the bound — the no-progress stop fires, depth stays
    // short of maxDepth's worst case, and the answer is still exact
    import spark.implicits._
    val diag = (0 until 2000).map(i => (i.toLong, i.toLong, i.toLong))
    val r2 = Skyline.skyline2dBounded(diag.toDF("id", "x", "y"),
      col("id"), col("x"), col("y"), grid = 8, maxResidue = 500,
      maxDepth = 6)
    assert(r2.finalResidue == 2000L)
    assert(r2.residues.length >= 2 &&
      r2.residues.takeRight(2).distinct.length == 1,
      s"no-progress plateau not detected: ${r2.residues}")
    assert(r2.residues.length < 6, "plateau must stop the recursion")
    assert(r2.result.count() == 2000L)
  }
}
