package graft.operators

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Graph operator laws: PageRank, k-fold assignment, triangles, LPA,
  * k-core, neighborhood profiles, BFS, HITS and Adamic–Adar. */
class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sym(pairs: (String, String)*) =
    (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")

  test("symmetricPageRank: ranks sum to 1 and a hub outranks its leaves") {
    val star = sym(("hub", "a"), ("hub", "b"), ("hub", "c"))
    val ranks = Graph.symmetricPageRank(star, iterations = 10)
      .select(col("node"), col("rank_scaled")).as[(String, Double)]
      .collect().toMap
    val n = ranks.size.toDouble
    assert(math.abs(ranks.values.map(_ / n).sum - 1.0) < 1e-9,
      s"mass not conserved: $ranks")
    assert(ranks("hub") > ranks("a"), s"hub should dominate: $ranks")
    // leaves are symmetric → identical ranks
    assert(ranks("a") == ranks("b") && ranks("b") == ranks("c"))
  }

  test("symmetricPageRank: converges toward the degree distribution " +
      "on a path graph") {
    val path = sym(("a", "b"), ("b", "c"), ("c", "d"))
    val ranks = Graph.symmetricPageRank(path, iterations = 30)
      .select(col("node"), col("rank_scaled")).as[(String, Double)]
      .collect().toMap
    // undirected path: interior nodes (deg 2) outrank endpoints (deg 1)
    assert(ranks("b") > ranks("a") && ranks("c") > ranks("d"))
    assert(math.abs(ranks("b") - ranks("c")) < 1e-6, s"symmetry: $ranks")
  }

  test("kFoldAssign: deterministic, in range, and every fold populated") {
    val docs = (1L to 2000L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val folds = Graph.kFoldAssign(docs, "doc_id", 5)
      .select(col("doc_id"), col("fold")).as[(Long, Int)].collect().toMap
    assert(folds.values.forall(f => f >= 0 && f < 5))
    // all folds hit, roughly balanced (md5 is uniform to 1/256)
    val sizes = folds.values.groupBy(identity).view.mapValues(_.size)
    assert(sizes.size == 5, s"missing folds: $sizes")
    sizes.values.foreach(s => assert(math.abs(s - 400) < 120, sizes.toMap))
    // re-running assigns the identical fold to every key
    val again = Graph.kFoldAssign(docs, "doc_id", 5)
      .select(col("doc_id"), col("fold")).as[(Long, Int)].collect().toMap
    assert(again == folds)
  }

  test("triangleCounts: hand-built graph — K4 minus an edge, plus a pendant") {
    // K4 on 1..4 minus edge (3,4): triangles {1,2,3} and {1,2,4};
    // node 5 hangs off node 1 and joins nothing
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (1L, 5L))
      .toDF("a", "b")
    val got = Graph.triangleCounts(edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 1L), s"got $got")
  }

  test("triangleCounts: equals brute-force triple-join on a random graph") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(400)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(p => p._1 != p._2).toDF("a", "b")
    val got = Graph.triangleCounts(edges).as[(Long, Long)].collect().toMap
    // brute force: canonical edge set, all ordered triples
    val es = edges.as[(Long, Long)].collect()
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
    val nodes = es.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val triples = for {
      x <- nodes; y <- nodes if y > x; z <- nodes if z > y
      if es((x, y)) && es((y, z)) && es((x, z))
    } yield (x, y, z)
    val expected = triples.flatMap(t => Seq(t._1, t._2, t._3))
      .groupBy(identity).map { case (n, l) => (n, l.size.toLong) }
    assert(got == expected, s"got $got expected $expected")
    // duplicate rows / reversed orientations / self-loops change nothing
    val noisy = edges.union(edges.select(col("b").as("a"), col("a").as("b")))
      .union(Seq((9L, 9L)).toDF("a", "b"))
    val got2 = Graph.triangleCounts(noisy).as[(Long, Long)].collect().toMap
    assert(got2 == expected)
  }

  test("ancestorClosure: chains resolve to roots with exact depths") {
    // forest: 1 <- 12 <- 123 <- 1234 (depths 0..3); 7 root alone;
    // 9 self-parent root; null-parent root 8
    val nodes = Seq(
      (1L, Option(1L)), (12L, Option(1L)), (123L, Option(12L)),
      (1234L, Option(123L)), (7L, None: Option[Long]), (9L, Option(9L)),
      (8L, None: Option[Long])
    ).toDF("node", "parent")
    val got = Graph.ancestorClosure(nodes, rounds = 3)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(
      1L -> ((1L, 0L)), 12L -> ((1L, 1L)), 123L -> ((1L, 2L)),
      1234L -> ((1L, 3L)), 7L -> ((7L, 0L)), 9L -> ((9L, 0L)),
      8L -> ((8L, 0L))), s"got $got")
    // extra rounds are no-ops past convergence
    val more = Graph.ancestorClosure(nodes, rounds = 6)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(more == got)
  }

  test("labelPropagation: two cliques joined by one edge split into two communities") {
    // cliques {1,2,3} and {7,8,9} bridged by 3-7
    def clique(ns: Seq[Long]) = for (a <- ns; b <- ns if a != b) yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L)) ++ clique(Seq(7L, 8L, 9L)) ++
      Seq((3L, 7L), (7L, 3L))).toDF("src", "dst")
    val got = Graph.labelPropagation(edges, rounds = 4)
      .as[(Long, Long)].collect().toMap
    // each clique converges to its min label; the bridge does not merge them
    assert(got(1L) == got(2L) && got(2L) == got(3L), s"got $got")
    assert(got(7L) == got(8L) && got(8L) == got(9L), s"got $got")
    assert(got(1L) != got(7L), s"cliques merged: $got")
  }

  /** Textbook sequential peeling — the exact core numbers. */
  private def coreNumbersBrute(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
    edges.foreach { case (a, b) =>
      if (a != b) {
        adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
        adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
      }
    }
    val core = scala.collection.mutable.Map.empty[Long, Long]
    var k = 0L
    while (adj.nonEmpty) {
      val (v, ns) = adj.minBy { case (n, s) => (s.size.toLong, n) }
      k = math.max(k, ns.size.toLong)
      core(v) = k
      ns.foreach(u => adj.get(u).foreach(_ -= v))
      adj.remove(v)
    }
    core.toMap
  }

  test("kCoreDecomposition: clique-with-pendants exact cores") {
    // 4-clique {1..4} (core 3), pendant 5-1 (core 1), triangle {6,7,8}
    // attached via 8-4 (core 2)
    def clique(ns: Seq[Long]) = for (a <- ns; b <- ns if a < b) yield (a, b)
    val und = clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(6L, 7L, 8L)) ++
      Seq((5L, 1L), (8L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = Graph.kCoreDecomposition(edges, rounds = 6)
      .as[(Long, Long)].collect().toMap
    assert(got == coreNumbersBrute(und), s"got $got")
  }

  test("kCoreDecomposition: converged h-index iteration == brute-force peeling on a random graph") {
    val rnd = new scala.util.Random(31)
    val und = (0 until 400).map(_ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(p => p._1 != p._2).distinct
    val edges = (und ++ und.map(_.swap)).distinct.toDF("src", "dst")
    val got = Graph.kCoreDecomposition(edges, rounds = 10)
      .as[(Long, Long)].collect().toMap
    val want = coreNumbersBrute(und)
    assert(got == want,
      s"diff: ${got.toSet.diff(want.toSet)} vs ${want.toSet.diff(got.toSet)}")
  }

  test("kCoreExact: fixpoint detection reaches brute-force cores with no round tuning") {
    val rnd = new scala.util.Random(47)
    val und = (0 until 500).map(_ =>
      (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter(p => p._1 != p._2).distinct
    val edges = (und ++ und.map(_.swap)).distinct.toDF("src", "dst")
    val got = Graph.kCoreExact(edges).as[(Long, Long)].collect().toMap
    assert(got == coreNumbersBrute(und))
  }

  test("kCoreDecomposition: fixed-round estimates are monotone upper bounds on the cores") {
    val rnd = new scala.util.Random(53)
    val und = (0 until 300).map(_ =>
      (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter(p => p._1 != p._2).distinct
    val edges = (und ++ und.map(_.swap)).distinct.toDF("src", "dst")
    val want = coreNumbersBrute(und)
    val prev = scala.collection.mutable.Map.empty[Long, Long]
    Seq(1, 2, 4).foreach { r =>
      val est = Graph.kCoreDecomposition(edges, rounds = r)
        .as[(Long, Long)].collect().toMap
      est.foreach { case (n, e) =>
        assert(e >= want(n), s"round $r underestimated node $n: $e < ${want(n)}")
        prev.get(n).foreach(p => assert(e <= p, s"round $r loosened node $n"))
        prev(n) = e
      }
    }
  }

  /** Brute-force cumulative reach via BFS over an undirected pair list. */
  private def reachBrute(und: Seq[(Long, Long)], maxHop: Int)
      : Map[(Long, Int), Long] = {
    val adj = (und ++ und.map(_.swap)).distinct
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    adj.keys.flatMap { v =>
      var seen = Set(v)
      var frontier = Set(v)
      (1 to maxHop).map { hop =>
        frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- seen
        seen ++= frontier
        (v, hop) -> (seen.size - 1).toLong
      }
    }.toMap
  }

  test("neighborhoodProfile: equals brute-force BFS reach on a random graph") {
    val rnd = new scala.util.Random(61)
    val und = (0 until 400).map(_ =>
      (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter(p => p._1 != p._2).distinct
    val edges = (und ++ und.map(_.swap)).distinct.toDF("src", "dst")
    val want = reachBrute(und, 2)
    val got = Graph.neighborhoodProfile(edges)
      .as[(Long, Long, Long)].collect()
    assert(got.length == want.keys.map(_._1).toSet.size)
    got.foreach { case (n, r1, r2) =>
      assert(r1 == want((n, 1)), s"node $n reach1 $r1 != ${want((n, 1))}")
      assert(r2 == want((n, 2)), s"node $n reach2 $r2 != ${want((n, 2))}")
      assert(r2 >= r1, s"node $n reach must be cumulative")
    }
  }

  test("neighborhoodProfile maxDeg: planted hub bounds the 2-hop blow-up") {
    // a 300-spoke star (the planted hub) + a modest random graph: the
    // uncapped exact path materializes ~spokes² ≈ 90k two-hop pairs from
    // the hub alone; the capped run drops the hub before profiling, so
    // its candidate set stays bounded by edges × maxDeg
    val rnd = new scala.util.Random(71)
    val hub = 9999L
    val star = (1L to 300L).map(s => (hub, 10000L + s))
    val rest = (0 until 300).map(_ =>
      (rnd.nextInt(100).toLong, rnd.nextInt(100).toLong))
      .filter(p => p._1 != p._2).distinct
    val und = star ++ rest
    val edges = (und ++ und.map(_.swap)).distinct.toDF("src", "dst")
    val got = Graph.neighborhoodProfile(edges, maxDeg = 64)
      .as[(Long, Long, Long)].collect()
    // the hub and everything reachable only through it are out of the
    // declared subgraph; the remainder must equal brute force on the
    // degree-bounded subgraph exactly
    val want = reachBrute(rest, 2)
    assert(!got.exists(_._1 == hub), "hub must be dropped by the cap")
    assert(got.map(_._1).toSet == want.keys.map(_._1).toSet)
    got.foreach { case (n, r1, r2) =>
      assert(r1 == want((n, 1)) && r2 == want((n, 2)),
        s"node $n capped profile diverges from the subgraph truth")
    }
    // bounded-candidate invariant: every surviving node's 2-hop set is
    // structurally ≤ maxDeg² (one hop ≤ maxDeg, each relay ≤ maxDeg)
    got.foreach { case (n, r1, r2) =>
      assert(r1 <= 64L && r2 <= 64L * 64L, s"node $n exceeds the bound")
    }
  }

  test("anf: HLL estimates track exact reach and grow monotonically in hop") {
    val rnd = new scala.util.Random(67)
    val und = (0 until 600).map(_ =>
      (rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
      .filter(p => p._1 != p._2).distinct
    val edges = (und ++ und.map(_.swap)).distinct.toDF("src", "dst")
    val want = reachBrute(und, 3)
    val got = Graph.anf(edges, rounds = 3)
      .as[(Long, Int, Long)].collect()
      .map { case (n, h, e) => (n, h) -> e }.toMap
    assert(got.keySet == want.keySet)
    // lgK=12 HLL: relative standard error ~1.6%; reaches here are ≤149,
    // where the sketch is still in exact (sparse) mode — allow 5% slack
    got.foreach { case ((n, h), e) =>
      val w = want((n, h))
      assert(math.abs(e - w) <= math.max(1L, (w * 0.05).toLong),
        s"node $n hop $h: est $e vs exact $w")
    }
    // cumulative-union monotonicity: estimates never shrink as hops grow
    want.keys.map(_._1).toSet[Long].foreach { n =>
      assert(got((n, 1)) <= got((n, 2)) && got((n, 2)) <= got((n, 3)),
        s"node $n: non-monotone ANF ${(1 to 3).map(h => got((n, h)))}")
    }
    // deterministic under re-run (sketch unions are value-set functions)
    val again = Graph.anf(edges, rounds = 3)
      .as[(Long, Int, Long)].collect()
      .map { case (n, h, e) => (n, h) -> e }.toMap
    assert(again == got)
  }

  test("personalizedPageRank: mass conserved, locality beats global centrality") {
    // barbell: hub1-(a,b,c) ... bridge ... hub2-(x,y,z); seed = hub1 side
    val g = sym(("h1", "a"), ("h1", "b"), ("h1", "c"), ("h1", "br"),
      ("br", "h2"), ("h2", "x"), ("h2", "y"), ("h2", "z"))
    val ranks = Graph.personalizedPageRank(g, Seq("h1").toDF("node"),
        iterations = 20)
      .as[(String, Double)].collect().toMap
    assert(math.abs(ranks.values.sum - 1.0) < 1e-9, s"mass: $ranks")
    // h2 is as central as h1 globally, but the walk restarts at h1:
    // every h1-side node must outrank its mirror on the h2 side
    assert(ranks("h1") > ranks("h2"), s"seed side must win: $ranks")
    assert(ranks("a") > ranks("x"), s"seed-adjacent must win: $ranks")
    // uniform-PageRank sanity: the same graph WITHOUT personalization
    // ranks the two hubs equally (symmetry) — the seed is what breaks it
    val uni = Graph.symmetricPageRank(g, iterations = 20)
      .as[(String, Double)].collect().toMap
    assert(math.abs(uni("h1") - uni("h2")) < 1e-9)
  }

  test("bfsDistances: equals brute-force BFS layers within the round budget") {
    val rnd = new scala.util.Random(79)
    val und = (0 until 500).map(_ =>
      (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter(p => p._1 != p._2).distinct
    val edges = (und ++ und.map(_.swap)).distinct.toDF("src", "dst")
    val seedIds = Seq(0L, 7L, 13L)
    val seeds = seedIds.toDF("node")
    // brute-force multi-source BFS
    val adj = (und ++ und.map(_.swap)).distinct
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nodes = adj.keySet
    var dist = seedIds.filter(nodes.contains).map(_ -> 0L).toMap
    var frontier = dist.keySet
    var d = 0L
    while (frontier.nonEmpty) {
      d += 1
      frontier = frontier.flatMap(adj.getOrElse(_, Set.empty))
        .filterNot(dist.contains)
      dist ++= frontier.map(_ -> d)
    }
    for (rounds <- Seq(1, 3, 8)) {
      val got = Graph.bfsDistances(edges, seeds, rounds)
        .as[(Long, Long)].collect().toMap
      val want = dist.filter(_._2 <= rounds)
      assert(got == want, s"rounds=$rounds: ${got.size} vs ${want.size}")
    }
    // idempotence past the eccentricity: extra rounds change nothing
    val fix = Graph.bfsDistances(edges, seeds, 30).as[(Long, Long)]
      .collect().toMap
    assert(fix == dist)
  }

  test("hits: star graph — the shared authority takes all authority mass") {
    // three hubs all point at z; one also points at y
    val edges = Seq(("a", "z"), ("b", "z"), ("c", "z"), ("a", "y"))
      .toDF("src", "dst")
    val got = Graph.hits(edges, iterations = 3)
      .as[(String, Double, String)].collect()
      .map(r => (r._3, r._1) -> r._2).toMap
    // z is cited by every hub; y only by the weakest-boosted one
    assert(got(("authority", "z")) > got(("authority", "y")))
    // a cites both top authorities — strictly the best hub
    assert(got(("hub", "a")) > got(("hub", "b")))
    assert(math.abs(got(("hub", "b")) - got(("hub", "c"))) < 1e-12) // symmetric
    // each kind normalizes to 1
    val sums = Graph.hits(edges, 3).groupBy(col("kind"))
      .agg(sum(col("score"))).as[(String, Double)].collect().toMap
    assert(sums.values.forall(s => math.abs(s - 1.0) < 1e-9))
  }

  test("adamicAdar equals the naive weighted common-neighbor count") {
    val rnd = new scala.util.Random(41)
    val rows = Seq.fill(800)((rnd.nextInt(60).toLong, rnd.nextInt(40).toLong))
    val got = Graph.adamicAdar(rows.toDF("c", "p"), maxDeg = 1000, k = 1000)
      .as[(Long, Long, Long)].collect().toSet
    val cp = rows.distinct
    val deg = cp.groupBy(_._1).map { case (c, v) => c -> v.size }
    val w = deg.collect { case (c, d) if d >= 2 =>
      c -> math.floor(1e6 / math.log(d.toDouble)).toLong }
    val naive = (for {
      (c, parts) <- cp.groupBy(_._1).toSeq
      if w.contains(c)
      ps = parts.map(_._2).sorted
      i <- ps.indices; j <- (i + 1) until ps.size
    } yield ((ps(i), ps(j)), w(c)))
      .groupBy(_._1).map { case ((a, b), v) => (a, b, v.map(_._2).sum) }.toSet
    assert(got == naive)
  }

  test("adamicAdar: the maxDeg cap drops super-connectors' pairs") {
    val rows = (1L to 10L).map(p => (1L, p)) ++ // deg-10 super-connector
      Seq((2L, 1L), (2L, 2L))
    val got = Graph.adamicAdar(rows.toDF("c", "p"), maxDeg = 5, k = 100)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, math.floor(1e6 / math.log(2.0)).toLong)))
  }
}
