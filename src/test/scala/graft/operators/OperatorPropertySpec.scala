package graft.operators

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Property tests for the composed relational operators: randomized
  * inputs, invariants stated against an obviously-correct reference
  * computation. Each property batches all generated rows into ONE Spark
  * job so the suite stays fast.
  */
class OperatorPropertySpec extends AnyFunSuite with SharedSpark {

  /** forAll stand-in over raw ScalaCheck Gens (the scalatest-scalacheck
    * bridge is not on the offline classpath). */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    Iterator.continually(g.sample).flatten.take(n).toSeq

  test("RangeJoin.binned == theta join for random overlapping intervals " +
      "and random bin widths") {
    import spark.implicits._
    val intervalGen = for {
      lo <- Gen.chooseNum(-50.0, 950.0)
      span <- Gen.chooseNum(0.0, 120.0)
    } yield (lo, lo + span)
    val intervals = samples(intervalGen, 60).zipWithIndex
      .map { case ((lo, hi), i) => (i.toLong, lo, hi) }
      .toDF("iid", "lo", "hi")
    val probes = samples(Gen.chooseNum(-100.0, 1100.0), 400).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("pid", "v")
    for (width <- Seq(0.7, 13.0, 200.0)) {
      val binned = RangeJoin.binned(probes, col("v"), intervals,
        col("lo"), col("hi"), width).select("pid", "iid")
      val theta = probes.join(intervals,
        col("v") >= col("lo") && col("v") < col("hi"))
        .select("pid", "iid")
      assert(binned.except(theta).isEmpty && theta.except(binned).isEmpty,
        s"binWidth=$width mismatch")
    }
  }

  test("RangeJoin.binned shuffle path (broadcastIntervals=false) equals " +
      "the broadcast path and stays an equi-join") {
    import spark.implicits._
    val intervals = Seq((0L, 0.0, 40.0), (1L, 25.0, 90.0), (2L, 80.0, 200.0))
      .toDF("iid", "lo", "hi")
    val probes = (0 until 500).map(i => (i.toLong, i * 0.41)).toDF("pid", "v")
    val bc = RangeJoin.binned(probes, col("v"), intervals, col("lo"),
      col("hi"), 30.0).select("pid", "iid")
    val sh = RangeJoin.binned(probes, col("v"), intervals, col("lo"),
      col("hi"), 30.0, broadcastIntervals = false).select("pid", "iid")
    assert(bc.except(sh).isEmpty && sh.except(bc).isEmpty)
    val phys = sh.queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoopJoin") &&
      !phys.contains("CartesianProduct"))
  }

  test("Profile.describeNumeric matches direct per-column aggregates, " +
      "including a null-bearing column") {
    import spark.implicits._
    val df = Seq[(java.lang.Long, java.lang.Double)](
      (1L, 1.5), (2L, null), (2L, 3.0), (null, 3.0), (5L, null))
      .toDF("a", "b")
    val prof = Profile.describeNumeric(df, Seq("a", "b"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getDouble(5))).toMap
    assert(prof("a") == ((4L, 1L, 3L, 1.0, 5.0)))
    assert(prof("b") == ((3L, 2L, 2L, 1.5, 3.0)))
  }

  test("Profile.describeNumeric: column names with quotes and spaces " +
      "profile fine (no SQL-string splicing)") {
    import spark.implicits._
    val df = Seq((1L, 2.0), (3L, 4.0))
      .toDF("a'b", "with space")
    val prof = Profile.describeNumeric(df, Seq("a'b", "with space"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getDouble(5))).toMap
    assert(prof("a'b") == ((2L, 0L, 2L, 1.0, 3.0)))
    assert(prof("with space") == ((2L, 0L, 2L, 2.0, 4.0)))
  }

  test("Expect.rowChecks: an EMPTY table reports 0 violations / pass " +
      "for every expectation (sum-over-zero-rows coalesced)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("k", "v")
    val rep = Expect.report(Seq(
      Expect.rowChecks(empty, Seq(
        "k_nonneg" -> (col("k") >= 0), "v_nonnull" -> col("v").isNotNull)),
      Expect.uniqueCheck(empty, Seq("k"), "k_unique")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(rep.length == 3)
    assert(rep.forall { case (_, n, st) => n == 0L && st == "pass" })
  }

  test("Cdc.applyChanges == reference merge for random change batches") {
    import spark.implicits._
    val n = 80
    val baseRows = (0 until n).map(k => (k.toLong, s"p$k", 0L, "u"))
    // random change stream: per key 0..3 changes at versions 1..9
    val changeGen = for {
      key <- Gen.chooseNum(0, n + 10) // some keys not in base
      ver <- Gen.chooseNum(1L, 9L)
      op <- Gen.frequency(3 -> Gen.const("u"), 1 -> Gen.const("d"))
    } yield (key.toLong, s"c$key-v$ver", ver, op)
    val changes0 = samples(changeGen, 150)
    // de-dup (key, version) so "latest version" is well-defined
    val changes = changes0.groupBy(c => (c._1, c._3)).map(_._2.head).toSeq
    val got = Cdc.applyChanges(
        baseRows.toDF("k", "payload", "ver", "op"),
        changes.toDF("k", "payload", "ver", "op"),
        Seq("k"), "ver", "op")
      .select("k", "payload", "ver")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSet
    // reference: plain Scala fold
    val all = baseRows ++ changes
    val expect = all.groupBy(_._1).flatMap { case (_, rows) =>
      val latest = rows.maxBy(_._3)
      if (latest._4 == "d") None else Some((latest._1, latest._2, latest._3))
    }.toSet
    assert(got == expect)
  }

  test("Vocab ids: encode(decode) round-trips every token") {
    import spark.implicits._
    val toks = samples(Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff"), 300)
      .toDF("t")
    val vocab = Vocab.contiguousIds(toks, col("t"), 3)
    val enc = Vocab.encode(toks, col("t"), vocab)
    // every input row survives with an id, and joining back recovers the
    // token set bijectively
    assert(enc.count() == 300)
    val pairs = vocab.collect().map(r => (r.getString(0), r.getLong(1)))
    assert(pairs.map(_._1).distinct.length == pairs.length)
    assert(pairs.map(_._2).sorted.toSeq == pairs.indices.map(_.toLong))
  }

  test("Diff laws on random keyed tables: diff(v, v) is all unchanged; " +
      "diff(empty, v) all added; diff(v, empty) all removed; summary " +
      "counts partition the key universe") {
    import spark.implicits._
    val rowGen = for {
      k <- Gen.chooseNum(0L, 40L)
      v <- Gen.option(Gen.oneOf("x", "y", "z"))
      p <- Gen.chooseNum(0, 99)
    } yield (k, v, p.toDouble)
    // distinct keys (Diff is a keyed-table operator)
    val rows1 = samples(rowGen, 60).distinctBy(_._1)
    val rows2 = samples(rowGen, 60).distinctBy(_._1)
    val v1 = rows1.toDF("k", "v", "p")
    val v2 = rows2.toDF("k", "v", "p")
    val empty = v1.limit(0)
    def classify(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame) =
      Diff.snapshotDiff(a, b, "k", Seq("v", "p"))
        .select("k", "change_type").as[(Long, String)].collect().toMap
    assert(classify(v1, v1).values.forall(_ == "unchanged"))
    assert(classify(empty, v1).values.forall(_ == "added"))
    assert(classify(v1, empty).values.forall(_ == "removed"))
    // against the in-memory reference
    val m1 = rows1.map(r => r._1 -> ((r._2, r._3))).toMap
    val m2 = rows2.map(r => r._1 -> ((r._2, r._3))).toMap
    val want = (m1.keySet ++ m2.keySet).map { k =>
      k -> ((m1.get(k), m2.get(k)) match {
        case (None, Some(_))          => "added"
        case (Some(_), None)          => "removed"
        case (Some(a), Some(b))       => if (a == b) "unchanged" else "changed"
        case (None, None)             => sys.error("unreachable")
      })
    }.toMap
    assert(classify(v1, v2) == want)
  }

  test("Ivm law: any random partition of a table into deltas merges to " +
      "the full-table state") {
    import spark.implicits._
    val rowGen = for {
      g <- Gen.oneOf("a", "b", "c", "d")
      v <- Gen.chooseNum(-1000, 1000)
      slice <- Gen.chooseNum(0, 3)
    } yield (g, v, slice)
    val rows = samples(rowGen, 400)
    val full = rows.toDF("g", "v", "slice")
    val deltas = (0 to 3).map(i => full.filter(col("slice") === i))
    val merged = Ivm.mergeStates(
      deltas.map(d => Ivm.aggState(d, col("g"), col("v"))))
      .orderBy("grp").collect().toSeq
    val direct = Ivm.aggState(full, col("g"), col("v"))
      .orderBy("grp").collect().toSeq
    assert(merged == direct)
  }

  test("Hierarchy: per-level flatten == pointer-doubling flatten on " +
      "random forests and on a deep chain") {
    import spark.implicits._
    // random acyclic forest: parent(k) strictly smaller than k
    val parentGen = (k: Long) => Gen.chooseNum(0L, k - 1)
    val n = 60
    val edges = (1L until n).flatMap { k =>
      // ~1/5 of nodes are roots (no edge)
      if (k % 5 == 0) None
      else Some((k, samples(parentGen(k), 1).head))
    }.toDF("node", "parent")
    val nodes = (0L until n).toDF("node")
    val a = Hierarchy.flatten(nodes, edges)
      .as[(Long, Long, Int)].collect().toSet
    val b = Hierarchy.flattenDoubling(nodes, edges)
      .as[(Long, Long, Int)].collect().toSet
    assert(a == b)
    // depth-200 chain: doubling resolves within its default pass budget
    val chainNodes = (0L to 200L).toDF("node")
    val chainEdges = (1L to 200L).map(k => (k, k - 1)).toDF("node", "parent")
    val deep = Hierarchy.flattenDoubling(chainNodes, chainEdges)
      .as[(Long, Long, Int)].collect().toSet
    assert(deep == (0L to 200L).map(k => (k, 0L, k.toInt)).toSet)
  }

  test("Fuzzy.qgrams law: |grams| == max(len - q + 1, 0) and each gram " +
      "has length q") {
    import spark.implicits._
    val strGen = Gen.chooseNum(0, 9).flatMap(n =>
      Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
    val strs = samples(strGen, 80).toDF("s")
    for (q <- Seq(2, 3, 5)) {
      val got = strs.select(col("s"), Fuzzy.qgrams(col("s"), q).as("g"))
        .as[(String, Seq[String])].collect()
      got.foreach { case (s, g) =>
        assert(g.length == math.max(s.length - q + 1, 0), s"s=$s q=$q")
        assert(g.forall(_.length == q), s"s=$s q=$q")
        assert(g == s.sliding(q).filter(_.length == q).toSeq)
      }
    }
  }

  test("TopKPairsAgg == sorted-take reference for random pair streams, " +
      "any k, any split into partial buffers") {
    val pairGen = for {
      r <- Gen.chooseNum(-5L, 5L) // narrow range forces rank ties
      id <- Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2)
    } yield (r, id)
    for (k <- Seq(1, 2, 7, 64); trial <- 1 to 3) {
      val n = 1 + (trial * 37) % 90
      val in = samples(pairGen, n)
      val agg = new graft.functions.TopKPairsAgg(k)
      val uniqueIn = in.distinct // ids in real use are unique per group
      val wantU = uniqueIn.sorted.take(k)
      // merge tree: fold in random-sized chunks, then pairwise merge
      val chunks = uniqueIn.grouped(math.max(1, uniqueIn.length / 4)).toSeq
      val merged = chunks.map(c => c.foldLeft(agg.zero)(agg.reduce))
        .reduce(agg.merge)
      assert(agg.finish(merged) == wantU, s"k=$k trial=$trial")
      assert(merged(0).toInt <= k)
    }
  }

  test("SetSimJoin == brute-force Jaccard join on random small sets " +
      "across thresholds") {
    import spark.implicits._
    val setGen = Gen.chooseNum(0, 6).flatMap(sz =>
      Gen.listOfN(sz, Gen.oneOf("a", "b", "c", "d", "e", "f", "g", "h")))
    val recs = samples(setGen, 40).zipWithIndex
      .map { case (s, i) => (i.toLong, s.distinct) }
    val df = recs.toDF("id", "s")
    val sets = recs.toMap.map { case (k, v) => k -> v.toSet }
    for (tau <- Seq(0.34, 0.5, 0.75, 1.0)) {
      val got = SetSimJoin.jaccardJoin(df, col("id"), col("s"), tau)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .sortBy(identity).toSeq
      val want = (for {
        a <- sets.keys; b <- sets.keys
        if a < b && sets(a).nonEmpty && sets(b).nonEmpty
        i = (sets(a) & sets(b)).size
        if i.toDouble / (sets(a) | sets(b)).size >= tau
      } yield (a, b)).toSeq.sortBy(identity)
      assert(got == want, s"tau=$tau")
    }
  }

  test("Dedup.containmentPairs == brute-force shingle containment on " +
      "random docs, with and without the df cap") {
    import spark.implicits._
    val docGen = Gen.chooseNum(0, 10).flatMap(sz =>
      Gen.listOfN(sz, Gen.oneOf("u", "v", "w", "x", "y", "z")))
    val recs = samples(docGen, 25).zipWithIndex
      .map { case (t, i) => (i.toLong, t.mkString(" ")) }
    val df = recs.toDF("doc_id", "text")
    def shset(t: String): Set[String] = {
      val tk = t.split(" ", -1).toSeq
      if (tk.size < 3) Set.empty
      else tk.sliding(3).map(_.mkString(" ")).toSet
    }
    val all = recs.map { case (i, t) => i -> shset(t) }.toMap
    for ((cap, tau) <- Seq((1000L, 0.0), (1000L, 0.5), (2L, 0.0))) {
      // reference: drop shingles with doc frequency > cap, then exact
      // pairwise containment over the capped sets
      val dfreq = all.values.toSeq.flatMap(_.toSeq)
        .groupBy(identity).view.mapValues(_.size).toMap
      val capped = all.view
        .mapValues(_.filter(sh => dfreq(sh) <= cap)).toMap
      val want = (for {
        a <- capped.keys; b <- capped.keys
        if a != b && capped(a).nonEmpty
        sh = (capped(a) & capped(b)).size
        if sh > 0 && sh.toDouble / capped(a).size >= tau
      } yield ((a, b), (sh.toLong, capped(a).size.toLong))).toMap
      val got = Dedup.containmentPairs(df, col("doc_id"), col("text"),
          n = 3, dfCap = cap, minCont = tau)
        .collect()
        .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
        .toMap
      assert(got == want, s"cap=$cap tau=$tau")
    }
  }

  test("Graph.hitsCredits == in-memory integer half-round replay on " +
      "random digraphs") {
    import spark.implicits._
    val edgeGen = for {
      u <- Gen.chooseNum(0L, 9L); v <- Gen.chooseNum(0L, 9L)
    } yield (u, v)
    for (trial <- 1 to 3) {
      val edges = samples(edgeGen, 25).distinct
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val out = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val in = edges.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
      val scale = 1000000L
      def rescale(m: Map[Long, Long]): Map[Long, Long] = {
        val mx = math.max(m.values.max, 1L)
        m.map { case (k, v) => k -> v * scale / mx }
      }
      var hub = nodes.map(_ -> scale).toMap
      var auth = Map.empty[Long, Long]
      for (_ <- 1 to 2) {
        auth = rescale(nodes.map(n =>
          n -> in.getOrElse(n, Nil).map(hub).sum).toMap)
        hub = rescale(nodes.map(n =>
          n -> out.getOrElse(n, Nil).map(auth).sum).toMap)
      }
      val got = Graph.hitsCredits(edges.toDF("src", "dst"), rounds = 2)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      val want = nodes.map(n => n -> ((auth(n), hub(n)))).toMap
      assert(got == want, s"trial $trial edges=$edges")
    }
  }

  test("Graph.kCore == in-memory fixed-round peeling on random graphs") {
    import spark.implicits._
    val edgeGen = for {
      u <- Gen.chooseNum(0L, 11L); v <- Gen.chooseNum(0L, 11L)
    } yield (u, v)
    for (trial <- 1 to 3) {
      val edges = samples(edgeGen, 30)
      val und = edges.filter(e => e._1 != e._2)
        .flatMap(e => Seq(e, e.swap)).distinct
      val k = 2; val rounds = 3
      def degrees(alive: Set[Long]): Map[Long, Int] =
        und.filter(e => alive(e._1) && alive(e._2))
          .groupBy(_._1).view.mapValues(_.size).toMap
      var deg = und.groupBy(_._1).view.mapValues(_.size).toMap
      for (_ <- 1 to rounds)
        deg = degrees(deg.filter(_._2 >= k).keySet)
      val want = deg.filter(_._2 >= k)
        .map { case (id, d) => id -> d.toLong }
      val got = Graph.kCore(edges.toDF("src", "dst"), k = k, rounds = rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"trial $trial edges=$edges")
    }
  }

  test("Pq.encode == in-memory per-subspace argmin (ties to lower code) " +
      "for random vectors and codebooks") {
    import spark.implicits._
    val M = 3; val sub = 4; val K = 5
    val vecGen = Gen.listOfN(M * sub, Gen.chooseNum(-8, 8).map(_.toFloat))
    val cbRows = samples(vecGen, K).zipWithIndex.flatMap { case (v, j) =>
      (0 until M).map(m => (m, j, v.slice(m * sub, (m + 1) * sub))) }
    val vs = samples(vecGen, 50).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
    val got = Pq.encode(vs.toDF("id", "vec"), cbRows.toDF("m", "j", "cvec"),
        subDim = sub)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    val cb = cbRows.groupBy(_._1).map { case (m, rs) =>
      m -> rs.sortBy(_._2).map(_._3.map(_.toDouble)) }
    val want = vs.map { case (i, v) =>
      i -> (0 until M).map { m =>
        val s = v.slice(m * sub, (m + 1) * sub).map(_.toDouble)
        cb(m).zipWithIndex.minBy { case (cw, j) =>
          (s.zip(cw).map { case (x, c) => (x - c) * (x - c) }.sum, j)
        }._2
      }.toList
    }.toMap
    assert(got == want)
  }

  test("Graph.seededDistance == in-memory BFS layers on random digraphs") {
    import spark.implicits._
    val n = 30
    val edgeGen = for {
      u <- Gen.chooseNum(0, n - 1); v <- Gen.chooseNum(0, n - 1)
    } yield (u.toLong, v.toLong)
    val es = samples(edgeGen, 80).distinct
    val seeds = Seq(0L, 7L, 13L)
    val adj = es.groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2) }
    def bfs(maxHops: Int): Map[Long, Long] = {
      var dist = seeds.map(_ -> 0L).toMap
      for (_ <- 0 until maxHops) {
        val offers = dist.toSeq.flatMap { case (u, d) =>
          adj.getOrElse(u, Nil).map(_ -> (d + 1)) }
        dist = (dist.toSeq ++ offers).groupBy(_._1)
          .map { case (k, vs) => k -> vs.map(_._2).min }
      }
      dist
    }
    val e = es.toDF("src", "dst")
    val sd = seeds.toDF("id")
    for (h <- Seq(0, 2, 5)) {
      val got = Graph.seededDistance(e, sd, h)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == bfs(h), s"maxHops=$h")
    }
  }

  test("Linreg.fitOLS2 residuals are X-orthogonal (the defining OLS " +
      "property) on random integer data") {
    import spark.implicits._
    val rowGen = for {
      x1 <- Gen.chooseNum(0, 20); x2 <- Gen.chooseNum(0, 20)
      e <- Gen.chooseNum(-5, 5)
    } yield (x1.toLong, x2.toLong, 3L + 2L * x1 - x2 + e)
    val rows = samples(rowGen, 60)
    val df = rows.map { case (x1, x2, y) => (y, x1, x2) }
      .toDF("y", "x1", "x2")
    val b = Linreg.fitOLS2(df, col("y"), col("x1"), col("x2"),
        ("b0", "b1", "b2"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val r = rows.map { case (x1, x2, y) =>
      (x1.toDouble, x2.toDouble,
        y - (b("b0") + b("b1") * x1 + b("b2") * x2)) }
    val scale = rows.map(_._3.toDouble.abs).max * rows.size
    assert(math.abs(r.map(_._3).sum) < 1e-7 * scale)          // 1 ⟂ r
    assert(math.abs(r.map(t => t._1 * t._3).sum) < 1e-7 * scale) // x1 ⟂ r
    assert(math.abs(r.map(t => t._2 * t._3).sum) < 1e-7 * scale) // x2 ⟂ r
  }

  test("Retrieval.rrfFuse == in-memory fusion for random rank lists") {
    import spark.implicits._
    val listGen = Gen.chooseNum(1, 15).flatMap(sz =>
      Gen.pick(sz, 0L until 30L).map(_.toSeq))
    val sys = Seq("s1", "s2", "s3").map { n =>
      n -> samples(listGen, 1).head.zipWithIndex
        .map { case (d, i) => (d, i + 1) }
    }
    val dfs = sys.map { case (n, l) => n -> l.toDF("doc_id", "rank") }
    val got = Retrieval.rrfFuse(dfs, k = 60, topK = 30)
      .collect().map(r => (r.getLong(0), r.getDouble(4))).toSeq
    val ranks = sys.map { case (_, l) => l.toMap }
    val docs = sys.flatMap(_._2.map(_._1)).distinct
    val want = docs.map { d =>
      d -> ranks.map(m => m.get(d).map(r => 1.0 / (60.0 + r)).getOrElse(0.0))
        .reduceLeft(_ + _)
    }.sortBy { case (d, s) => (-s, d) }
    assert(got == want)
  }

  test("mipsTopK on random vectors: equals in-memory brute force AND " +
      "the norm-augmented cosine ranking") {
    import spark.implicits._
    val vecGen = Gen.listOfN(6, Gen.chooseNum(-5.0, 5.0))
    val vecs = samples(vecGen, 40).zipWithIndex
      .map { case (v, i) => (i.toLong, v.map(_.toFloat)) }
    val corpus = vecs.toDF("id", "vec")
    val queries = vecs.take(5)
      .map { case (i, v) => (i, v) }.toDF("qid", "qvec")
    val got = Ann.mipsTopK(queries, corpus, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // in-memory reference: exact double dot in element order
    def dot(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) =>
        s + x.toDouble * y.toDouble }
    val exp = (for ((qi, qv) <- vecs.take(5)) yield {
      vecs.filter(_._1 != qi)
        .map { case (i, v) => (i, dot(qv, v)) }
        .sortBy { case (i, ip) => (-ip, i) }.take(3).zipWithIndex
        .map { case ((i, _), r) => (qi, r + 1, i) }
    }).flatten.toSet
    assert(got == exp)
    // augmentation reduction: cosine order over [x, sqrt(M2-|x|2)]
    val m2 = vecs.map { case (_, v) => dot(v, v) }.max
    val viaCos = Ann.bruteForceTopK(
        Ann.augmentMips(queries, "qvec", m2, isQuery = true),
        Ann.augmentMips(corpus, "vec", m2, isQuery = false), 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaCos == exp)
  }

  test("doubleDescKey: exact roundtrip and strict order reversal on " +
      "random doubles including zeros, denormals and infinities") {
    import spark.implicits._
    import graft.functions.DoubleKeyExprs.{doubleDescKey, doubleFromDescKey}
    val edge = Seq(0.0, -0.0, Double.MinPositiveValue,
      -Double.MinPositiveValue, Double.MaxValue, Double.MinValue,
      Double.PositiveInfinity, Double.NegativeInfinity, 1.0, -1.0)
    val rand = samples(Gen.chooseNum(-1e12, 1e12), 200)
    val vals = (edge ++ rand).distinct.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
    val got = vals.toDF("i", "v")
      .select(col("i"), col("v"), doubleDescKey(col("v")).as("k"))
      .withColumn("back", doubleFromDescKey(col("k")))
      .collect().map(r => (r.getDouble(1), r.getLong(2), r.getDouble(3)))
    got.foreach { case (v, _, back) =>
      // roundtrip is bit-exact except -0.0, which normalizes to 0.0
      if (v == 0.0) assert(back == 0.0)
      else assert(java.lang.Double.doubleToLongBits(back) ==
        java.lang.Double.doubleToLongBits(v), s"roundtrip $v -> $back")
    }
    // ascending key order == descending double order (zeros tie)
    val byKey = got.sortBy(_._2).map(_._1).toSeq
    val byDesc = got.map(_._1).sortBy(v => -v).toSeq
    assert(byKey.zip(byDesc).forall { case (a, b) => a == b })
  }

  test("pcmPeaks == sqrt of the max single-sample wavEnergy window on " +
      "random PCM payloads") {
    import spark.implicits._
    val byteGen = Gen.listOfN(40, Gen.chooseNum(-128, 127).map(_.toByte))
    val media = samples(byteGen, 20).zipWithIndex.map { case (bs, i) =>
      Multimodal.MediaRow(i.toLong, Multimodal.buildWav(8000, 1,
        bs.toArray), "audio/wav", 100)
    }.toDS().toDF()
    val peaks = Multimodal.pcmPeaks(spark, media)
      .collect().map(p => p.doc_id -> p.peak).toMap
    // window=1 energies are per-sample squares: peak^2 == max energy
    val maxE = Multimodal.wavEnergy(spark, media, window = 1)
      .collect().groupBy(_.doc_id)
      .map { case (d, rs) => d -> rs.map(_.energy).max }
    assert(peaks.keySet == maxE.keySet && peaks.nonEmpty)
    peaks.foreach { case (d, p) => assert(p * p == maxE(d), s"doc $d") }
  }

  test("ffdPacking laws on random item sets: valid packing, first-fit " +
      "invariant (at most one bin at most half full), FFD never beats " +
      "the LP lower bound") {
    import spark.implicits._
    val cap = 100L
    val itemGen = Gen.chooseNum(1L, 100L)
    val items = samples(itemGen, 300).zipWithIndex
      .map { case (n, i) => ((i % 6).toLong, i.toLong, n) }
      .toDF("shard", "doc_id", "n_tokens")
    val packed = Sampling.ffdPacking(items, col("shard"), col("doc_id"),
        col("n_tokens"), cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    // every item placed exactly once
    assert(packed.length == 300 && packed.map(_._1).distinct.length == 300)
    packed.groupBy(_._2).foreach { case (shard, g) =>
      val bins = g.groupBy(_._4).map { case (b, rows) =>
        (b, rows.map(_._3).sum) }
      // capacity respected (all items <= cap here, so no oversize bins)
      assert(bins.values.forall(_ <= cap), s"shard $shard over capacity")
      // FIRST-FIT invariant: two bins both <= cap/2 is impossible — the
      // later bin's entire contents would have fit the earlier one
      assert(bins.values.count(_ <= cap / 2) <= 1,
        s"shard $shard violates the first-fit half-full invariant")
      // LP lower bound: ceil(total / cap) bins at minimum
      val total = g.map(_._3).sum
      assert(bins.size >= (total + cap - 1) / cap, s"shard $shard")
    }
  }

  test("urlCanonicalize is idempotent on random urls (canon(canon(u)) " +
      "== canon(u))") {
    import spark.implicits._
    val urlGen = for {
      scheme <- Gen.oneOf("http", "HTTPS", "https")
      www <- Gen.oneOf("", "www.", "WWW.")
      host <- Gen.oneOf("ex.com", "A.Example.ORG", "site9.net")
      path <- Gen.oneOf("", "/", "/P/q", "/a/B/c/")
      q <- Gen.oneOf("", "?b=2&a=1", "?utm_source=x", "?utm_x=1&z=9&y=8")
      frag <- Gen.oneOf("", "#f", "#Sec2")
    } yield s"$scheme://$www$host$path$q$frag"
    val urls = samples(urlGen, 120).toDF("u")
    val once = graft.functions.Text.urlCanonicalize(col("u"))
    val twice = graft.functions.Text.urlCanonicalize(once)
    val bad = urls.select(once.as("c1"), twice.as("c2"))
      .filter(col("c1") =!= col("c2")).collect()
    assert(bad.isEmpty, bad.take(3).mkString("; "))
  }

  test("Merge.threeWayMerge is idempotent on random snapshots: applying " +
      "the same changeset to an already-merged table changes no values, " +
      "and row counts obey kept+updated+inserted accounting") {
    import spark.implicits._
    val rowGen = for {
      k <- Gen.chooseNum(0L, 40L)
      bal <- Gen.chooseNum(-100, 100)
    } yield (k, s"n$k", bal.toDouble)
    def dedupByKey(rows: Seq[(Long, String, Double)]) =
      rows.groupBy(_._1).map(_._2.head).toSeq
    (1 to 5).foreach { round =>
      val base = dedupByKey(samples(rowGen, 30)).toDF("k", "name", "bal")
      val src = dedupByKey(samples(rowGen, 20))
        .map { case (k, n, b) => (k, n + "'", b) }.toDF("k", "name", "bal")
      val once = Merge.threeWayMerge(base, src, "k",
        deleteWhen = col("bal") < -50)
      val values1 = once.drop("action")
      // idempotence: a second application of the SAME changeset cannot
      // change any value (updates rewrite to identical values, inserts
      // become updates, nothing new deletes: survivors either carry
      // bal >= -50 or are source-matched)
      val twice = Merge.threeWayMerge(values1, src, "k",
        deleteWhen = col("bal") < -50).drop("action")
      assert(twice.except(values1).isEmpty &&
        values1.except(twice).isEmpty, s"round $round not idempotent")
      // accounting: output = src rows (updated+inserted) + kept
      val acts = once.groupBy("action").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(acts.getOrElse("updated", 0L) + acts.getOrElse("inserted", 0L)
        == src.count(), s"round $round: source rows not all applied")
    }
  }
}
