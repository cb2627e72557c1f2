package graft.operators

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Hand-computed cases for segmenting/chunking: segment boundaries, the
  * keep-first election across documents (including a document whose every
  * segment first occurred elsewhere), and overlapping-window coverage
  * with a short tail. */
class ChunkSpec extends AnyFunSuite with SharedSpark {

  test("segments: k-token blocks in document order, short tail kept") {
    import spark.implicits._
    val df = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val got = Chunk.segments(df, col("text"), col("doc_id"), 2)
      .orderBy("seg_idx")
      .collect().map(r => (r.getInt(1), r.getString(2))).toSeq
    assert(got == Seq((0, "a b"), (1, "c d"), (2, "e")))
  }

  test("segmentDedup: first occurrence wins, docs reassemble in order") {
    import spark.implicits._
    // doc 1: [a b, c d]; doc 2: [c d, e f]  (c d repeats -> doc 2 loses it)
    // doc 3: [a b, c d]  -> loses everything, must still appear (empty)
    val df = Seq(
      (1L, "a b c d"), (2L, "c d e f"), (3L, "a b c d")
    ).toDF("doc_id", "text")
    val got = Chunk.segmentDedup(df, col("text"), col("doc_id"), 2)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getInt(3))).toSeq
    assert(got == Seq(
      (1L, "a b c d", 2, 0),
      (2L, "e f", 1, 1),
      (3L, "", 0, 2)))
  }

  test("segmentDedup: repeat within one document keeps only the first") {
    import spark.implicits._
    val df = Seq((7L, "x y x y z z")).toDF("doc_id", "text")
    val got = Chunk.segmentDedup(df, col("text"), col("doc_id"), 2)
      .collect().map(r => (r.getString(1), r.getInt(2), r.getInt(3))).head
    assert(got == ("x y z z", 2, 1))
  }

  test("spanDedup: later occurrence loses its span, first keeps it") {
    import spark.implicits._
    // n=2 grams; "a b" first occurs in doc 1 (kept), doc 2's copy at
    // pos 1 covers tokens [1,2] -> doc 2 rebuilds to "x y"
    val df = Seq((1L, "a b c d"), (2L, "x a b y")).toDF("doc_id", "text")
    val got = Chunk.spanDedup(df, col("text"), col("doc_id"), 2)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getInt(3), r.getInt(4))).toSeq
    assert(got == Seq(
      (1L, "a b c d", 4, 0, 0),
      (2L, "x y", 4, 2, 1)))
  }

  test("spanDedup: a doc fully covered by duplicates surfaces EMPTY, " +
      "its overlapping dup grams merged into one span") {
    import spark.implicits._
    val df = Seq((1L, "p q r s"), (2L, "p q r s")).toDF("doc_id", "text")
    val got = Chunk.spanDedup(df, col("text"), col("doc_id"), 2)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(3),
        r.getInt(4))).toSeq
    // doc 2's three dup grams cover [0,1],[1,2],[2,3] -> one merged span,
    // every token removed — the row is PRESENT with empty text
    assert(got == Seq((1L, "p q r s", 0, 0), (2L, "", 4, 1)))
  }

  test("spanDedup: adjacent spans coalesce; a unique gram bridging two " +
      "dup spans does not rescue its covered tokens") {
    import spark.implicits._
    // doc 3's "a b" ([0,1]) and "c d" ([2,3]) are dups, "b c" is unique;
    // adjacent intervals merge -> one span [0,3], all four tokens gone
    val df = Seq((1L, "a b"), (2L, "c d"), (3L, "a b c d"))
      .toDF("doc_id", "text")
    val got = Chunk.spanDedup(df, col("text"), col("doc_id"), 2)
      .filter(col("doc_id") === 3L)
      .collect().map(r => (r.getString(1), r.getInt(2), r.getInt(3),
        r.getInt(4))).head
    assert(got == ("", 4, 4, 1))
  }

  test("spanDedup: within-doc repeat keeps the first occurrence; " +
      "non-adjacent spans stay separate") {
    import spark.implicits._
    val df = Seq((1L, "m n z m n")).toDF("doc_id", "text")
    val got = Chunk.spanDedup(df, col("text"), col("doc_id"), 2)
      .collect().map(r => (r.getString(1), r.getInt(2), r.getInt(3),
        r.getInt(4))).head
    assert(got == ("m n z", 5, 2, 1))

    // doc 3: dup spans [0,1] ("a b"), [3,4] (in-doc "x x" repeat),
    // [5,6] ("c d"); [3,4]+[5,6] adjacent -> merge, [0,1] separate
    val df2 = Seq((1L, "a b"), (2L, "c d"), (3L, "a b x x x c d"))
      .toDF("doc_id", "text")
    val got2 = Chunk.spanDedup(df2, col("text"), col("doc_id"), 2)
      .filter(col("doc_id") === 3L)
      .collect().map(r => (r.getString(1), r.getInt(2), r.getInt(3),
        r.getInt(4))).head
    assert(got2 == ("x", 7, 6, 2))
  }

  test("property: spanDedup equals an independent in-memory reference " +
      "on random corpora (seeded)") {
    import spark.implicits._
    def reference(docs: Seq[(Long, String)],
        n: Int): Map[Long, (String, Int, Int, Int)] = {
      val occ = for {
        (id, text) <- docs
        toks = text.split(" ", -1)
        i <- 0 to toks.length - n
      } yield (id, i, toks.slice(i, i + n).mkString(" "))
      val keeper = occ.groupBy(_._3)
        .map { case (g, os) => g -> os.map(o => (o._1, o._2)).min }
      val dupByDoc = occ
        .filter(o => keeper(o._3) != ((o._1, o._2)))
        .groupBy(_._1)
      docs.map { case (id, text) =>
        val toks = text.split(" ", -1)
        val ivs = dupByDoc.getOrElse(id, Seq.empty)
          .map(o => (o._2, o._2 + n - 1)).sorted
        val spans = ivs.foldLeft(List.empty[(Int, Int)]) {
          case (acc, (s, e)) => acc match {
            case (ps, pe) :: rest if s <= pe + 1 =>
              (ps, math.max(pe, e)) :: rest
            case _ => (s, e) :: acc
          }
        }.reverse
        val covered = spans.flatMap { case (s, e) => s to e }.toSet
        val kept = toks.zipWithIndex.collect {
          case (t, i) if !covered(i) => t
        }
        id -> (kept.mkString(" "), toks.length,
          toks.length - kept.length, spans.length)
      }.toMap
    }
    val rnd = new scala.util.Random(7)
    val vocab = Array("a", "b", "c")
    for (round <- 1 to 5) {
      val docs = (1L to 8L).map(id => id ->
        (0 until rnd.nextInt(13)).map(_ => vocab(rnd.nextInt(3)))
          .mkString(" "))
      val got = Chunk.spanDedup(docs.toDF("doc_id", "text"),
          col("text"), col("doc_id"), 3)
        .collect().map(r => r.getLong(0) ->
          (r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
      val want = reference(docs, 3)
      assert(got == want,
        s"round $round mismatch:\n got  $got\n want $want\n docs $docs")
    }
  }

  test("overlapping: stride coverage, shared prefix, short tail") {
    import spark.implicits._
    // 7 tokens, w=4, s=2 -> chunks at 0,2,4: sizes 4,4,3
    val df = Seq((1L, "a b c d e f g")).toDF("doc_id", "text")
    val got = Chunk.overlapping(df, col("text"), col("doc_id"), 4, 2)
      .orderBy("chunk_id")
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getString(3))).toSeq
    assert(got == Seq(
      (0, 4, "a b c d"), (1, 4, "c d e f"), (2, 3, "e f g")))
  }

  test("overlapping: doc shorter than one window emits exactly one chunk") {
    import spark.implicits._
    val df = Seq((1L, "a b")).toDF("doc_id", "text")
    val got = Chunk.overlapping(df, col("text"), col("doc_id"), 4, 2)
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getString(3))).toSeq
    assert(got == Seq((0, 2, "a b")))
  }
}
