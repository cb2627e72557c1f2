package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Pins the count-min epoch-merge algebra behind
  * [[graft.streaming.StreamOps.cmsEpochSink]]: disjoint epoch sketches
  * merge to EXACTLY the single-pass batch sketch, and a replayed
  * (duplicated) epoch measurably doubles its counts — the failure an
  * append-mode sink would ship and the reason exactly-once must come
  * from partition overwrite, not the merge.
  */
class CmsMergeSpec extends AnyFunSuite with SharedSpark {

  private def sketch(items: Seq[String]): Array[Byte] = {
    import spark.implicits._
    items.toDF("u")
      .agg(CmsAgg.cmsSketch(1e-4, 0.99, 42)(col("u")).as("sk"))
      .head().getAs[Array[Byte]]("sk")
  }

  test("disjoint epochs merge to the batch sketch; a duplicated epoch " +
      "adds its counts on top") {
    val e0 = Seq("a", "a", "b", "c")
    val e1 = Seq("a", "d", "d", "d")
    val e2 = Seq("b", "e")
    val all = e0 ++ e1 ++ e2
    val merged = CmsAgg.mergeBytes(Seq(sketch(e0), sketch(e1), sketch(e2)))
    val batch = sketch(all)
    val keys = all.distinct.sorted
    keys.foreach { k =>
      assert(CmsAgg.estimate(merged, k) === CmsAgg.estimate(batch, k),
        s"merged vs batch on $k")
      // eps 1e-4 on 10 items -> width far exceeds items: no collisions,
      // estimates are exact
      assert(CmsAgg.estimate(batch, k) === all.count(_ == k).toLong, k)
    }
    // the replay failure mode: epoch 1 folded twice doubles its counts
    val doubled = CmsAgg.mergeBytes(
      Seq(sketch(e0), sketch(e1), sketch(e1), sketch(e2)))
    assert(CmsAgg.estimate(doubled, "d") ===
      CmsAgg.estimate(batch, "d") + 3L,
      "a replayed epoch must be visible as doubled counts")
    assert(CmsAgg.estimate(doubled, "e") === CmsAgg.estimate(batch, "e"),
      "keys outside the replayed epoch are untouched")
  }
}
