package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** [[Graph]] — integer-credit PageRank against hand-computed credit flow,
  * and degree-ordered triangle counting including the case where the
  * wedge corners' degree order inverts their id order. */
class GraphSpec extends AnyFunSuite with SharedSpark {

  private def edges(pairs: (Long, Long)*) = {
    import spark.implicits._
    pairs.toDF("src", "dst")
  }

  test("pageRankCredits: exact integer credit flow, 2 iterations") {
    // 1->2, 1->3, 2->3, 3->1; outdeg 1:2, 2:1, 3:1
    val e = edges(1L -> 2L, 1L -> 3L, 2L -> 3L, 3L -> 1L)
    val got = Graph.pageRankCredits(e, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // iter1: c(1)=150k+850k; c(2)=150k+425k; c(3)=150k+425k+850k
    // iter2: from1=425k each, from2=(575000*85) div 100=488750,
    //        from3=(1425000*85) div 100=1211250
    assert(got == Map(1L -> 1361250L, 2L -> 575000L, 3L -> 1063750L))
  }

  test("pageRankCredits: dangling remainder burned, teleport floor") {
    // single edge 1->2; node 2 dangling (sends nothing)
    val e = edges(1L -> 2L)
    val got = Graph.pageRankCredits(e, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 150000L, 2L -> (150000L + 850000L)))
  }

  test("triangleCounts: one triangle + pendant; symmetrization and dedup") {
    // triangle {1,2,3} given as mixed directions + a duplicate, pendant 4
    val e = edges(1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 1L, 3L -> 4L)
    val got = Graph.triangleCounts(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L)) // 4: no triangle row
  }

  test("triangleCounts: wedge order follows degree, not id") {
    // triangle {1,2,3} with 2 a hub (extra edges to 4,5): in the wedge
    // from corner 1, the closing edge must be sought 3->2 (degree order),
    // not 2->3 (id order)
    val e = edges(1L -> 2L, 2L -> 3L, 1L -> 3L, 2L -> 4L, 2L -> 5L)
    val got = Graph.triangleCounts(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("clusteringCoeff: triangle + pendant, exact bp; degree<2 is 0") {
    // triangle {1,2,3}, pendant 4 on 3:
    // cc(1)=cc(2)=20000/(2*1)=10000; cc(3)=20000/(3*2)=3333; cc(4)=0
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L)
    val got = Graph.clusteringCoeff(e)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      1L -> ((2L, 1L, 10000L)),
      2L -> ((2L, 1L, 10000L)),
      3L -> ((3L, 1L, 3333L)),
      4L -> ((1L, 0L, 0L))))
  }

  test("triangleCounts: two triangles sharing an edge") {
    // {1,2,3} and {2,3,4} share edge {2,3}
    val e = edges(1L -> 2L, 1L -> 3L, 2L -> 3L, 2L -> 4L, 3L -> 4L)
    val got = Graph.triangleCounts(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
  }

  test("connectedComponents: two components + a long chain") {
    // chain 1-2-3-4-5 (forces >1 round without doubling) and pair {10,11}
    val e = edges(2L -> 1L, 2L -> 3L, 4L -> 3L, 4L -> 5L, 10L -> 11L)
    val got = Graph.connectedComponents(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents: min id sits at the chain's far end") {
    // labels must travel the whole path: 9-8-7-6-1, min (1) at one end
    val e = edges(9L -> 8L, 8L -> 7L, 7L -> 6L, 6L -> 1L)
    val got = Graph.connectedComponents(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.toSet == Set(1L) && got.keySet ==
      Set(1L, 6L, 7L, 8L, 9L))
  }

  test("connectedComponents: self-loop-only node keeps its own label") {
    val e = edges(1L -> 2L, 7L -> 7L)
    val got = Graph.connectedComponents(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 7L -> 7L))
  }

  test("seededDistance: BFS layers on a directed chain with a shortcut") {
    // 1->2->3->4, plus shortcut 1->4 and back-edge 3->1; seed = {1}
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 4L, 1L -> 4L, 3L -> 1L)
    val seeds = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(1L)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))))
    def run(h: Int) = Graph.seededDistance(e, seeds, h)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(0) == Map(1L -> 0L))
    assert(run(1) == Map(1L -> 0L, 2L -> 1L, 4L -> 1L))
    // shortcut keeps 4 at 1 even once 3->4 offers 3; 3 arrives at 2
    assert(run(3) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
  }

  test("g1_pagerank gate replay: partition-invariant driver hash, " +
      "unrolled-SQL oracle match, deterministic rank-25 boundary") {
    // Round-7 driver run flagged g1 hash_match=false (rows/schema ok) but
    // it never reproduced locally. This replays the driver's compare
    // in-JVM: canonical form = columns sorted by name, rows sorted,
    // CSV, sha256 — run at the driver's 32 shuffle partitions AND at 3,
    // and against an independent unrolled-CTE oracle (the DuckDB g1Sql
    // translated to Spark SQL), so any partition-order or tie
    // nondeterminism trips here first.
    val sf = "/root/testdata/sf0.001"
    val gate = graft.SparkEntry.queries("g1_pagerank")
    def canonSha(rows: Array[org.apache.spark.sql.Row]): String = {
      val sorted = rows.map(r =>
        (r.getLong(r.fieldIndex("cr")), r.getLong(r.fieldIndex("id"))))
        .sortBy(identity).toSeq
      val csv = "cr,id\n" +
        sorted.map { case (cr, id) => s"$cr,$id\n" }.mkString
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(csv.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    def run(parts: Int) = {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", parts.toString)
      gate(s2, sf).collect()
    }
    val at32 = run(32)
    val at3 = run(3)
    assert(at32.length == 25 && canonSha(at32) == canonSha(at3))
    // independent oracle replay (mirrors ExtensionQueries.g1Sql)
    val s3 = spark.newSession()
    s3.read.parquet(s"$sf/documents.parquet")
      .createOrReplaceTempView("documents")
    def h32(e: String): String =
      s"pmod(CAST(conv(substring(md5($e), 1, 8), 16, 10) AS BIGINT)," +
        " (SELECT COUNT(*) FROM documents))"
    val iter = (prev: String, cur: String) =>
      s"""$cur AS (SELECT n.id,
         |  150000 + COALESCE(SUM((c.cr * 85) div (100 * e.d)), 0) AS cr
         |  FROM nodes n LEFT JOIN e ON e.dst = n.id
         |  LEFT JOIN $prev c ON c.id = e.src GROUP BY n.id)""".stripMargin
    val oracle = s3.sql(
      s"""WITH edges AS (
         |  SELECT ${h32("CAST(doc_id AS STRING)")} AS src,
         |    ${h32("concat(CAST(doc_id AS STRING), ':', CAST(k AS STRING))")}
         |      AS dst
         |  FROM documents CROSS JOIN (VALUES (0), (1), (2)) AS ks(k)),
         |deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
         |e AS (SELECT edges.src, edges.dst, deg.d FROM edges
         |      JOIN deg USING (src)),
         |nodes AS (SELECT DISTINCT src AS id FROM edges
         |          UNION SELECT DISTINCT dst FROM edges),
         |c0 AS (SELECT id, CAST(1000000 AS BIGINT) AS cr FROM nodes),
         |${iter("c0", "c1")},
         |${iter("c1", "c2")},
         |${iter("c2", "c3")}
         |SELECT id, cr FROM c3 ORDER BY cr DESC, id LIMIT 26""".stripMargin)
      .collect()
    val gateSeq = at32.map(r =>
      (r.getLong(r.fieldIndex("id")), r.getLong(r.fieldIndex("cr")))).toSeq
    val oracleSeq = oracle.map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(gateSeq == oracleSeq.take(25))
    // rank-25 boundary: the total order (cr DESC, id) both sides use must
    // strictly separate row 25 from row 26
    val b25 = oracleSeq(24); val b26 = oracleSeq(25)
    assert(b25._2 > b26._2 || (b25._2 == b26._2 && b25._1 < b26._1))
  }

  test("labelPropagation: hand-computed rounds with majority and ties") {
    // two triangles {1,2,3} and {4,5,6} bridged by 3-4
    val e = edges(1L -> 2L, 1L -> 3L, 2L -> 3L,
      4L -> 5L, 4L -> 6L, 5L -> 6L, 3L -> 4L)
    // round 1 (all votes count 1, tie -> min neighbor label):
    //   1<-min{2,3}=2, 2<-min{1,3}=1, 3<-min{1,2,4}=1,
    //   4<-min{3,5,6}=3, 5<-min{4,6}=4, 6<-min{4,5}=4
    val r1 = Graph.labelPropagation(e, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(1L -> 2L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 4L, 6L -> 4L))
    // round 2: 1<-{1,1}=1 (majority), 2<-{2,1} tie=1, 3<-{2,1,3} tie=1,
    //   4<-{1,4,4}=4 (majority), 5<-{3,4} tie=3, 6<-{3,4} tie=3
    val r2 = Graph.labelPropagation(e, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 3L, 6L -> 3L))
  }

  test("hitsCredits: hand-computed half-rounds with max rescaling; " +
      "duplicate edges collapse") {
    // 1->3, 2->3 (given twice -> must dedup), 3->1
    val e = edges(1L -> 3L, 2L -> 3L, 2L -> 3L, 3L -> 1L)
    // h0 = 1e6 everywhere.
    // auth raw: a(3)=h(1)+h(2)=2e6, a(1)=h(3)=1e6, a(2)=0; max 2e6
    //   -> a = (1: 500000, 2: 0, 3: 1000000)
    // hub raw: h(1)=a(3)=1e6, h(2)=a(3)=1e6, h(3)=a(1)=500000; max 1e6
    //   -> h = (1: 1000000, 2: 1000000, 3: 500000)
    val got = Graph.hitsCredits(e, rounds = 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == Map(
      1L -> ((500000L, 1000000L)),
      2L -> ((0L, 1000000L)),
      3L -> ((1000000L, 500000L))))
  }

  test("kCore: pendant peels away, the 2-core triangle survives with " +
      "induced degrees") {
    // triangle {1,2,3} + pendant 4 on node 1 (+ a self-loop to drop)
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 1L -> 4L, 4L -> 4L)
    val got = Graph.kCore(e, k = 2, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // k above the max induced degree empties the core
    assert(Graph.kCore(e, k = 4, rounds = 1).count() == 0L)
  }

  test("personalizedPageRank: teleport and start mass land on seeds " +
      "only; credit flows along trusted paths") {
    import spark.implicits._
    // chain 1 -> 2 -> 3, seed {1}
    val e = edges(1L -> 2L, 2L -> 3L)
    val seeds = Seq(1L).toDF("id")
    // c0 = (1e6, 0, 0)
    // iter1: 1 keeps teleport 150000; 2 gets (1e6*85) div 100 = 850000
    val r1 = Graph.personalizedPageRank(e, seeds, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(1L -> 150000L, 2L -> 850000L, 3L -> 0L))
    // iter2: 2 <- (150000*85) div 100 = 127500; 3 <- (850000*85) div 100
    val r2 = Graph.personalizedPageRank(e, seeds, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2 == Map(1L -> 150000L, 2L -> 127500L, 3L -> 722500L))
  }

  test("hitsCredits / kCore: bit-identical across partition counts " +
      "(the g1 driver-compare discipline)") {
    val e = edges((1L to 40L).map(i => (i % 7) -> (i % 11)): _*)
    def snap(parts: String): (Seq[(Long, Long, Long)], Seq[(Long, Long)]) = {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      val h = Graph.hitsCredits(e, rounds = 2).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      val kc = Graph.kCore(e, k = 2, rounds = 2).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      (h, kc)
    }
    try {
      val a = snap("3")
      val b = snap("17")
      assert(a == b)
    } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }

  test("commonNeighbors: brute-force equivalence on a random graph, " +
      "adjacent pairs excluded, Jaccard from true degrees") {
    val rnd = new scala.util.Random(42)
    val pairs = Seq.fill(60)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
    val got = Graph.commonNeighbors(edges(pairs: _*),
        maxCenterDegree = Int.MaxValue)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // in-memory reference
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    pairs.filter(p => p._1 != p._2).foreach { case (a, b) =>
      adj(a) += b; adj(b) += a
    }
    val nodes = adj.keys.toSeq.sorted
    val exp = (for {
      u <- nodes; v <- nodes if u < v && !adj(u).contains(v)
      cn = (adj(u) & adj(v)).size if cn > 0
    } yield (u, v) -> ((cn.toLong, adj(u).size.toLong, adj(v).size.toLong,
      cn.toDouble / (adj(u).size + adj(v).size - cn).toDouble))).toMap
    assert(got == exp)
  }

  test("commonNeighbors: hub cap removes candidates only reachable " +
      "through the hub; true degrees still reported") {
    // star: hub 0 connected to 1..5; plus 1-6, 2-6 (center 6, degree 2)
    val e = edges((1L to 5L).map(i => 0L -> i) ++
      Seq(1L -> 6L, 2L -> 6L): _*)
    // uncapped: pairs {1..5}² via hub + (1,2) via 6 + hub-pairs via 1,2
    val uncapped = Graph.commonNeighbors(e, maxCenterDegree = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((3L, 4L))) // only common neighbor is the hub
    // cap 3 excludes hub 0 (degree 5) as center: (3,4) disappears,
    // (1,2) survives through center 6 (degree 2)
    val capped = Graph.commonNeighbors(e, maxCenterDegree = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(!capped.contains((3L, 4L)))
    // common neighbors of (1,2) are 0 and 6; hub 0 excluded as center
    assert(capped((1L, 2L)) == 1L)
  }

  test("kTruss: K4 survives 4-truss, pendant triangle peels") {
    // K4 on 1..4 (every edge in 2 triangles) + triangle {4,5,6}
    // (each edge in 1 triangle) + pendant edge 6-7 (no triangle)
    val e = edges(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L,
      3L -> 4L, 4L -> 5L, 5L -> 6L, 4L -> 6L, 6L -> 7L)
    val got = Graph.kTruss(e, k = 4, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L))
    assert(got.keySet === k4.toSet)
    assert(got.values.forall(_ == 2L))
  }

  test("kTruss cascade: K5 minus an edge — central triangle survives " +
      "round 1 with support 3, then peels in round 2") {
    // K5 on 0..4 without edge (3,4): edges among {0,1,2} have support 3,
    // all others 2. One round of k=5 keeps the {0,1,2} triangle; the
    // second round re-measures it at support 1 and peels it.
    val pairs = for {
      a <- 0L to 4L; b <- (a + 1) to 4L
      if !(a == 3L && b == 4L)
    } yield a -> b
    val e = edges(pairs: _*)
    val after1 = Graph.kTruss(e, k = 5, rounds = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after1 === Set((0L, 1L), (0L, 2L), (1L, 2L)))
    val after2 = Graph.kTruss(e, k = 5, rounds = 2).collect()
    assert(after2.isEmpty)
  }

  test("assortativity: star is maximally disassortative, regular ring " +
      "is degenerate (NULL), hand-checked path graph") {
    // star 0-{1,2,3}: every edge pairs deg 3 with deg 1 -> r = -1
    val star = edges(0L -> 1L, 0L -> 2L, 0L -> 3L)
    val rs = Graph.assortativity(star).collect()(0)
    assert(rs.getDouble(6) === -1.0)
    // 4-ring: all degrees 2 -> den = 0 -> NULL
    val ring = edges(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 1L)
    val rr = Graph.assortativity(ring).collect()(0)
    assert(rr.getLong(5) === 0L && rr.isNullAt(6))
    // path 1-2-3: half-edges (x,y) = (1,2),(2,1),(2,1),(1,2);
    // M=4, sum_x=6, sum_x2=10, sum_xy=8 -> r=(32-36)/(40-36)=-1
    val path = edges(1L -> 2L, 2L -> 3L)
    val rp = Graph.assortativity(path).collect()(0)
    assert((rp.getLong(0), rp.getLong(1), rp.getLong(2), rp.getLong(3))
      === ((4L, 6L, 10L, 8L)))
    assert(rp.getDouble(6) === -1.0)
  }

  test("topoLayers: chain layers in peel order; cycle, its downstream " +
      "node and a self-loop land in the residue; a bounded horizon " +
      "under-layers and a longer one is a strict extension") {
    // chain 1->2->3->4, 3-cycle 10->11->12->10 with outlet 12->13,
    // self-loop 20, isolated pair 30->31
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 4L,
      10L -> 11L, 11L -> 12L, 12L -> 10L, 12L -> 13L,
      20L -> 20L, 30L -> 31L)
    val r3 = Graph.topoLayers(e, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(r3 === Map(1L -> 0, 30L -> 0, 2L -> 1, 31L -> 1, 3L -> 2,
      4L -> -1, 10L -> -1, 11L -> -1, 12L -> -1, 13L -> -1, 20L -> -1))
    val r4 = Graph.topoLayers(e, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // horizon monotonicity: layered nodes keep their layer, and the
    // under-layered chain tail graduates out of the residue
    r3.filter(_._2 >= 0).foreach { case (id, l) => assert(r4(id) === l) }
    assert(r4(4L) === 3)
    // the saturated residue is exactly the cyclic part + downstream
    assert(r4.filter(_._2 == -1).keySet ===
      Set(10L, 11L, 12L, 13L, 20L))
  }

  test("neighborAgg: hand-computed two rounds of in-neighbor integer " +
      "means; multi-edges weight the mean by multiplicity; " +
      "feature-less and in-degree-0 nodes behave") {
    import spark.implicits._
    // 1->2, 3->2, 2->4; plus a DOUBLE edge 1->5 (multiplicity 2)
    val e = edges(1L -> 2L, 3L -> 2L, 2L -> 4L, 1L -> 5L, 1L -> 5L)
    val feats = Seq((1L, 10L), (3L, 30L), (2L, 100L))
      .toDF("id", "f") // nodes 4 and 5 start at 0
    val got = Graph.neighborAgg(e, feats, rounds = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // round 1: h1(2) = 100 + (10+30) div 2 = 120;
    //          h1(4) = 0 + 100 div 1 = 100;
    //          h1(5) = 0 + (10+10) div 2 = 10  (multi-edge mean);
    //          sources 1 and 3 keep their own value (indeg 0)
    // round 2: h2(2) = 120 + (10+30) div 2 = 140;
    //          h2(4) = 100 + 120 div 1 = 220;
    //          h2(5) = 10 + (10+10) div 2 = 20
    assert(got === Map(
      1L -> ((10L, 10L, 10L)),
      3L -> ((30L, 30L, 30L)),
      2L -> ((100L, 120L, 140L)),
      4L -> ((0L, 100L, 220L)),
      5L -> ((0L, 10L, 20L))))
  }

  test("g19 louvainAscent: planted two-clique graph recovered, Q " +
      "monotone non-decreasing by the accept guard, rejected rounds " +
      "keep the previous labels") {
    // two 4-cliques {0..3} and {10..13} joined by one bridge 3-10
    val cl = for {
      base <- Seq(0L, 10L); i <- 0 until 4; j <- (i + 1) until 4
    } yield (base + i, base + j)
    val e = edges((cl :+ (3L -> 10L)): _*)
    val (labels, log) = Graph.louvainAscent(e, rounds = 6)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    // exactly two communities, split on the bridge
    val cA = Set(0L, 1L, 2L, 3L).map(got)
    val cB = Set(10L, 11L, 12L, 13L).map(got)
    assert(cA.size == 1 && cB.size == 1 && cA != cB,
      s"planted communities not recovered: $got")
    // Q monotone non-decreasing round over round (guard construction)
    val qs = log.map(_.qNum)
    assert(qs.zip(qs.tail).forall { case (a, b) => b >= a }, s"qs=$qs")
    // converged: the last round proposes no accepted improvement
    assert(log.last.qNum == qs.max)
    // modularityParts agrees with the logged final Q
    val parts = Graph.modularityParts(e, labels).collect()
    assert(parts.map(_.getAs[Long]("q_num")).sum == log.last.qNum)
  }

  test("g21 louvainAscentWeighted: one heavy edge beats two light " +
      "ones, w=1 reproduces g19 verbatim, parallel edges sum") {
    import spark.implicits._
    // two strong 4-cliques (intra weight 5) joined by a weight-1
    // bridge; pivot node 5 has TWO weight-1 edges into clique A (0, 1)
    // and ONE weight-3 edge into clique B (10). Topology says A
    // (e2 = 2 vs 1); weight says B (2 vs 3) — and 3 is small next to
    // 10's clique mass (15), so the heavy edge flips 5 without
    // ripping 10 out of B.
    val cl = for {
      base <- Seq(0L, 10L); i <- 0 until 4; j <- (i + 1) until 4
    } yield (base + i, base + j, 5L)
    val wEdges = (cl ++ Seq((3L, 10L, 1L), (5L, 0L, 1L), (5L, 1L, 1L),
      (5L, 10L, 3L))).toDF("src", "dst", "weight")
    val (wLab, wLog) = Graph.louvainAscentWeighted(wEdges, rounds = 9)
    val wGot = wLab.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cA = Set(0L, 1L, 2L, 3L).map(wGot)
    val cB = Set(10L, 11L, 12L, 13L).map(wGot)
    assert(cA.size == 1 && cB.size == 1 && cA != cB,
      s"planted communities not recovered: $wGot")
    assert(wGot(5L) == cB.head, s"weight did not flip the argmax: $wGot")
    val qs = wLog.map(_.qNum)
    assert(qs.zip(qs.tail).forall { case (a, b) => b >= a }, s"qs=$qs")
    // the UNWEIGHTED ascent on the same topology sides with A
    val (uLab, _) = Graph.louvainAscent(
      wEdges.select($"src", $"dst"), rounds = 9)
    val uGot = uLab.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(uGot(5L) == Set(0L, 1L, 2L, 3L).map(uGot).head,
      s"unweighted should side with topology: $uGot")
    // w = 1 on a duplicate-free edge list reproduces g19 verbatim:
    // identical labels AND identical per-round q/accept/move log
    val plain = (cl.map(t => (t._1, t._2)) :+ (3L -> 10L))
    val e19 = plain.toDF("src", "dst")
    val e21 = plain.map { case (a, b) => (a, b, 1L) }
      .toDF("src", "dst", "weight")
    val (l19, log19) = Graph.louvainAscent(e19, rounds = 6)
    val (l21, log21) = Graph.louvainAscentWeighted(e21, rounds = 6)
    assert(log19 === log21)
    assert(l19.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      === l21.collect().map(r => (r.getLong(0), r.getLong(1))).sorted)
    // parallel + reversed duplicates SUM: (0,1,3)+(1,0,2) == (0,1,5) —
    // proven through the q-log, which is weight-dependent
    val tri = Seq((0L, 1L, 3L), (1L, 0L, 2L), (1L, 2L, 4L), (0L, 2L, 1L))
      .toDF("src", "dst", "weight")
    val triSummed = Seq((0L, 1L, 5L), (1L, 2L, 4L), (0L, 2L, 1L))
      .toDF("src", "dst", "weight")
    val (_, logA) = Graph.louvainAscentWeighted(tri, rounds = 3)
    val (_, logB) = Graph.louvainAscentWeighted(triSummed, rounds = 3)
    assert(logA === logB)
  }

  test("g22 louvainTwoLevel: coarse pass escapes the level-1 local " +
      "optimum on a ring, outer guard pins true-graph monotonicity, " +
      "isolated communities survive the map-back") {
    // ring of 12 + a disconnected triangle {100,101,102}: level 1
    // fragments the ring into small arcs; merging adjacent arcs is one
    // coarse-node move. The triangle community has no external edge,
    // so it never reaches the coarse graph (map-back LEFT join path).
    val ring = (0 until 12).map(i => (i.toLong, ((i + 1) % 12).toLong))
    val tri = Seq(100L -> 101L, 101L -> 102L, 100L -> 102L)
    val e = edges((ring ++ tri): _*)
    val r = Graph.louvainTwoLevel(e, rounds = 6)
    val q1 = r.level1.last.qNum
    // outer guard: never below level 1 (construction), and the final
    // q_num is the true decomposition total
    assert(r.qNum >= q1, s"outer guard violated: ${r.qNum} < $q1")
    val parts = Graph.modularityParts(e, r.labels).collect()
    assert(parts.map(_.getAs[Long]("q_num")).sum == r.qNum)
    // the coarse pass genuinely fires and improves on this plant
    assert(r.coarseAccepted && r.qNum > q1,
      s"level 2 not exercised: acc=${r.coarseAccepted} q=${r.qNum} q1=$q1" +
        s" log2=${r.level2}")
    // exact-coarsening identity: level-2 q_nums continue level 1's on
    // the SAME original-graph scale (coarse q0 = q1), stay monotone,
    // and the adopted result equals the last level-2 q
    val q2s = r.level2.map(_.qNum)
    assert(q2s.forall(_ >= q1), s"coarse q below q1: $q2s vs $q1")
    assert(q2s.zip(q2s.tail).forall { case (a, b) => b >= a })
    assert(r.qNum == q2s.last)
    // triangle stays one community, separate from every ring node
    val got = r.labels.collect().map(x => x.getLong(0) -> x.getLong(1))
      .toMap
    assert(Set(100L, 101L, 102L).map(got).size == 1)
    assert(!(0 until 12).map(i => got(i.toLong)).contains(got(100L)))
  }

  test("g24 louvainMultiLevel: pins monotone on one scale, levels " +
      "always padded to the requested depth, convergence tail is a " +
      "no-op, planted 3-scale hierarchy recovered at sf0.001") {
    // ring of 12 + disconnected triangle (the g22 plant), depth 4:
    // converges before 4 levels, so the tail must be synthesized with
    // unchanged q/communities
    val ring = (0 until 12).map(i => (i.toLong, ((i + 1) % 12).toLong))
    val tri = Seq(100L -> 101L, 101L -> 102L, 100L -> 102L)
    val e = edges((ring ++ tri): _*)
    val r = Graph.louvainMultiLevel(e, rounds = 6, levels = 4)
    assert(r.levels.length == 4)
    val qs = r.levels.map(_.qNum)
    assert(qs.zip(qs.tail).forall { case (a, b) => b >= a },
      s"pins not monotone: $qs")
    assert(r.qNum == qs.last)
    assert(r.levelsRun <= 4)
    // tail after the short-circuit: no changes, stable q and comms
    r.levels.drop(r.levelsRun).foreach { p =>
      assert(p.nChanged == 0L && p.qNum == r.qNum &&
        p.nComms == r.levels(r.levelsRun - 1).nComms)
    }
    // the decomposition total equals the pinned final q
    val parts = Graph.modularityParts(e, r.labels).collect()
    assert(parts.map(_.getAs[Long]("q_num")).sum == r.qNum)

    // planted 3-scale hierarchy through the GATE fixture at sf0.001:
    // final labels must gather each disconnected super's 12 nodes into
    // ONE community (cliques -> mids -> supers across the levels), and
    // the three supers must stay distinct
    val rows = graft.queries.ExtensionQueries
      .g24LouvainMultiLevel(spark, "/root/testdata/sf0.001")
      .filter(org.apache.spark.sql.functions.col("community") >= 1000000L)
      .collect()
    assert(rows.length == 3, s"expected 3 planted communities, got " +
      rows.map(_.getLong(0)).mkString(","))
    assert(rows.forall(_.getAs[Long]("n_nodes") == 12L))
    // intra2 = 2*(18 clique edges + 3 bridges) per super
    assert(rows.forall(_.getAs[Long]("intra2") == 42L))
  }

  test("g23 harmonicPivots: path endpoints vs interior, star center " +
      "maximal, horizon truncation zeroes, pivot self-distance " +
      "excluded, absent-pivot tolerance") {
    def hm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
        .toMap
    // path 0-1-2-3-4, pivots {0,4}, h=4, L=12:
    // node0: 12/4=3 (pivot 0 self excluded); node1: 12/1+12/3=16;
    // node2: 6+6=12; node3: 4+12=16; node4: 3
    val path = edges(0L -> 1L, 1L -> 2L, 2L -> 3L, 3L -> 4L)
    val p = hm(Graph.harmonicPivots(path, Seq(0L, 4L), maxHops = 4))
    assert(p === Map(
      0L -> ((3L, 12L, 1L, 0.25)), 1L -> ((16L, 12L, 2L, 16.0 / 12)),
      2L -> ((12L, 12L, 2L, 1.0)), 3L -> ((16L, 12L, 2L, 16.0 / 12)),
      4L -> ((3L, 12L, 1L, 0.25))))
    // horizon 2: endpoints only see the near pivot at d=2 -> L=2,
    // node0: pivot4 beyond horizon -> 2/2=1 from pivot 0? no — d(0,0)=0
    // excluded, d(4,0)=4 > 2 -> ZERO row, n_reached 0
    val t = hm(Graph.harmonicPivots(path, Seq(0L, 4L), maxHops = 2))
    assert(t(0L) === ((0L, 2L, 0L, 0.0)))
    assert(t(2L) === ((2L, 2L, 2L, 1.0))) // 2/2 + 2/2
    // star center 0, leaves 1..4, pivots {1,2}, h=2, L=2: center
    // 2/1+2/1=4; leaf 3: 1+1=2; pivot leaf 1: only pivot 2 at d=2 -> 1
    val star = edges(0L -> 1L, 0L -> 2L, 0L -> 3L, 0L -> 4L)
    val s = hm(Graph.harmonicPivots(star, Seq(1L, 2L), maxHops = 2))
    assert(s(0L) === ((4L, 2L, 2L, 2.0)))
    assert(s(3L) === ((2L, 2L, 2L, 1.0)))
    assert(s(1L) === ((1L, 2L, 1L, 0.5)))
    // a pivot id absent from the graph contributes nothing, no error
    val a = hm(Graph.harmonicPivots(path, Seq(0L, 99L), maxHops = 4))
    assert(a(4L) === ((3L, 12L, 1L, 0.25)))
  }

  test("g20 betweennessPivots: path interior maximal, star center = " +
      "all pairs, diamond halves sum to exact rationals, horizon " +
      "truncation zeroes everything") {
    def bcMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // path 0-1-2-3-4, all nodes as pivots, full horizon: ordered pairs
    // through v -> bc(1)=6, bc(2)=8 (maximal), bc(3)=6, ends 0
    val path = edges(0L -> 1L, 1L -> 2L, 2L -> 3L, 3L -> 4L)
    val p = bcMap(Graph.betweennessPivots(path, Seq(0L, 1L, 2L, 3L, 4L),
      maxHops = 4))
    assert(p === Map(
      0L -> ((0L, 1L, 0.0)), 1L -> ((6L, 1L, 6.0)),
      2L -> ((8L, 1L, 8.0)), 3L -> ((6L, 1L, 6.0)),
      4L -> ((0L, 1L, 0.0))))
    // star: center 0, leaves 1..4 -> center carries every ordered
    // leaf pair (12), leaves 0
    val star = edges(0L -> 1L, 0L -> 2L, 0L -> 3L, 0L -> 4L)
    val s = bcMap(Graph.betweennessPivots(star, Seq(0L, 1L, 2L, 3L, 4L),
      maxHops = 2))
    assert(s(0L) === ((12L, 1L, 12.0)))
    assert(Seq(1L, 2L, 3L, 4L).forall(s(_) === ((0L, 1L, 0.0))))
    // diamond 0-1-3, 0-2-3: two shortest paths per opposite pair, so
    // each node carries 2 x 1/2 = 1 exactly (num/den reduce to 1/1)
    val dia = edges(0L -> 1L, 0L -> 2L, 1L -> 3L, 2L -> 3L)
    val d = bcMap(Graph.betweennessPivots(dia, Seq(0L, 1L, 2L, 3L),
      maxHops = 3))
    assert(Seq(0L, 1L, 2L, 3L).forall(d(_) === ((1L, 1L, 1.0))))
    // horizon 1: no interior node ever forms -> all dependencies 0
    val t = bcMap(Graph.betweennessPivots(path, Seq(0L, 1L, 2L, 3L, 4L),
      maxHops = 1))
    assert(t.values.forall(_._1 == 0L))
  }

  test("g26 coreness: clique 3, pendant path 1, attached triangle 2, " +
      "degree vs coreness divergence on the bridge node, convergence " +
      "flag, direction-insensitive") {
    // 4-clique {0,1,2,3}; path 3-4-5; triangle {6,7,8} bridged 6-0
    val e = edges(0L -> 1L, 0L -> 2L, 0L -> 3L, 1L -> 2L, 1L -> 3L,
      2L -> 3L, 3L -> 4L, 4L -> 5L, 6L -> 7L, 7L -> 8L, 8L -> 6L,
      6L -> 0L)
    val got = Graph.coreness(e, rounds = 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toMap
    val expect = Map(
      0L -> (4L, 3L), 1L -> (3L, 3L), 2L -> (3L, 3L), 3L -> (4L, 3L),
      4L -> (2L, 1L), 5L -> (1L, 1L),
      6L -> (3L, 2L), 7L -> (2L, 2L), 8L -> (2L, 2L))
    assert(got.view.mapValues(v => (v._1, v._2)).toMap == expect)
    assert(got.values.forall(_._3), "8 rounds must converge here")
    // direction-insensitive: reversing every edge changes nothing
    val rev = edges(1L -> 0L, 2L -> 0L, 3L -> 0L, 2L -> 1L, 3L -> 1L,
      3L -> 2L, 4L -> 3L, 5L -> 4L, 7L -> 6L, 8L -> 7L, 6L -> 8L,
      0L -> 6L)
    val got2 = Graph.coreness(rev, rounds = 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got2 == expect)
  }

  test("g25 deepWalks: hop-for-hop parity with a driver-side reference " +
      "walker (md5 rank selection, sink truncation, duplicate-edge " +
      "dedup), deterministic across runs") {
    // 1->{2,3} (plus a duplicate 1->2 that must dedup), 2->{3}, 3 sink,
    // 4 isolated-as-source via 4->1
    val e = edges(1L -> 2L, 1L -> 2L, 1L -> 3L, 2L -> 3L, 4L -> 1L)
    def h32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(4).map(b => f"${b & 0xff}%02x").mkString, 16)
    }
    val adj = Map(1L -> Seq(2L, 3L), 2L -> Seq(3L), 4L -> Seq(1L))
    val expect = scala.collection.mutable.ArrayBuffer[(Long, Long, Long,
      Long)]()
    for (root <- Seq(1L, 2L, 3L, 4L); wk <- 0L to 1L) {
      var node = root
      expect += ((root, wk, 0L, node))
      var i = 1
      var alive = true
      while (i <= 3 && alive) {
        adj.get(node) match {
          case Some(ns) =>
            node = ns((h32(s"$root:$wk:$i") % ns.length).toInt)
            expect += ((root, wk, i.toLong, node))
          case None => alive = false
        }
        i += 1
      }
    }
    def runOnce() = Graph.deepWalks(e, walksPerNode = 2, steps = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(identity)
    val got = runOnce()
    assert(got.toSeq == expect.sortBy(identity).toSeq)
    assert(runOnce().toSeq == got.toSeq) // deterministic
  }
}
