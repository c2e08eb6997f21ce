package graft

import graft.ops.Graph
import org.scalatest.funsuite.AnyFunSuite

class GraphSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  test("connected components: chain, pair, triangle collapse to min ids") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("src", "dst")
    val got = Graph.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connected components: a long path needs diameter rounds and converges") {
    val n = 9L
    val edges = (1L until n).map(i => (i + 1, i)).toDF("src", "dst")
    val got = Graph.connectedComponents(edges).as[(Long, Long)].collect()
    assert(got.length == n)
    assert(got.forall(_._2 == 1L))
  }

  test("assortativity: star is -1, cycle degenerates to null, " +
      "triangle+pendant matches the hand value") {
    def r(edges: Seq[(Long, Long)]): Option[Double] = {
      val row = Graph.assortativity(edges.toDF("src", "dst")).collect().head
      Option(row.get(row.fieldIndex("r"))).map(_.asInstanceOf[Double])
    }
    // star K1,3: hubs only attach to leaves — perfectly disassortative
    assert(r(Seq((0L, 1L), (0L, 2L), (0L, 3L))).contains(-1.0))
    // 4-cycle: every degree equal — zero variance, r undefined (null)
    assert(r(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))).isEmpty)
    // triangle abc + pendant d on a: num=-20, den=28 → -5/7
    val hand = BigDecimal(-20.0 / 28.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r(Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L))).contains(hand))
    // orientation/duplication invariance: reversed + duplicated edges
    assert(r(Seq((1L, 0L), (0L, 1L), (2L, 0L), (0L, 3L))).contains(-1.0))
  }

  test("unconverged propagation fails loudly instead of returning wrong keepers") {
    val chain = (1L until 30L).map(i => (i, i + 1)).toDF("src", "dst")
    assertThrows[IllegalStateException](
      Graph.connectedComponents(chain, maxIter = 3).count())
  }

  test("alt-star: path of length 30 converges without raising maxIter") {
    // min-label propagation needs O(diameter) rounds (the default maxIter
    // throws on this input — previous test); the star contraction is
    // O(log² n) and finishes well inside ITS default
    val chain = (1L until 30L).map(i => (i + 1, i)).toDF("src", "dst")
    val got = Graph.connectedComponentsAltStar(chain)
      .as[(Long, Long)].collect()
    assert(got.length == 30)
    assert(got.forall(_._2 == 1L))
  }

  test("alt-star equals propagation on chain, clique, and multi-component") {
    val chain = (1L until 8L).map(i => (i, i + 1))
    val clique = for (a <- 20L to 24L; b <- (a + 1) to 24L) yield (a, b)
    val seeded = new scala.util.Random(42)
    val random = Seq.fill(40)((seeded.nextInt(30).toLong + 100L,
      seeded.nextInt(30).toLong + 100L)).filter(p => p._1 != p._2)
    for (edges <- Seq(chain, clique, chain ++ clique ++ random)) {
      val df = edges.toDF("src", "dst")
      val prop = Graph.connectedComponents(df, maxIter = 40)
        .as[(Long, Long)].collect().toSet
      val star = Graph.connectedComponentsAltStar(df)
        .as[(Long, Long)].collect().toSet
      assert(star == prop)
    }
  }

  test("triangle counts: known graph, orientation invariance, 3x identity") {
    import org.apache.spark.sql.functions._
    // K4 on {1,2,3,4} (4 triangles, each vertex in 3) + pendant edge 4-5
    val k4 = for { a <- 1 to 4; b <- 1 to 4 if a < b } yield (a.toLong, b.toLong)
    val edges = (k4 :+ (4L, 5L)).toDF("src", "dst")
    val got = Graph.triangleCounts(edges).collect()
      .map(r => (r.getAs[Long]("v"), r.getAs[Long]("n_triangles"))).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // per-vertex credits sum to 3 * #triangles
    assert(got.values.sum == 3 * 4)
    // reversing edge direction changes nothing (undirected semantics)
    val rev = Graph.triangleCounts(edges.select(col("dst").as("src"),
      col("src").as("dst"))).collect()
      .map(r => (r.getAs[Long]("v"), r.getAs[Long]("n_triangles"))).toMap
    assert(rev == got)
  }

  test("result is independent of input partitioning") {
    val edges = Seq((5L, 3L), (3L, 8L), (8L, 1L), (100L, 42L)).toDF("src", "dst")
    val a = Graph.connectedComponents(edges.repartition(1))
      .as[(Long, Long)].collect().toSet
    val b = Graph.connectedComponents(edges.repartition(7))
      .as[(Long, Long)].collect().toSet
    assert(a == b)
    assert(a == Set((1L, 1L), (3L, 1L), (5L, 1L), (8L, 1L),
      (42L, 42L), (100L, 42L)))
  }

  test("pagerank: mass conserved, uniform on a cycle, sinks handled") {
    // 3-cycle: perfectly symmetric, every vertex keeps rank 1/3
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val cr = Graph.pageRank(cyc, iterations = 4).as[(Long, Double)]
      .collect().toMap
    assert(cr.size == 3)
    cr.values.foreach(r => assert(math.abs(r - 1.0 / 3) < 1e-12))

    // chain a->b->c: c is a sink (dangling); total mass must stay 1 and
    // the order must be rank(c) > rank(b) > rank(a) (rank accumulates
    // downstream)
    val chain = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val pr = Graph.pageRank(chain, iterations = 3).as[(Long, Double)]
      .collect().toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-9)
    assert(pr(3L) > pr(2L) && pr(2L) > pr(1L))
  }

  test("label propagation splits bridged cliques that CC merges") {
    def clique(vs: Seq[Long]) =
      for (a <- vs; b <- vs if a < b) yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(10L, 11L, 12L, 13L)) :+ ((4L, 10L)))
      .toDF("src", "dst")
    val comm = Graph.labelPropagation(edges).as[(Long, Long)]
      .collect().toMap
    // one community per clique; the bridge does not merge them
    assert(Seq(1L, 2L, 3L, 4L).map(comm).toSet.size == 1)
    assert(Seq(10L, 11L, 12L, 13L).map(comm).toSet.size == 1)
    assert(comm(1L) != comm(10L))
    // connected components see a single piece
    val cc = Graph.connectedComponents(edges).as[(Long, Long)]
      .collect().toMap
    assert(cc.values.toSet.size == 1)
  }

  test("bfs hops: exact distances, bound respected, unreachable absent") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L)).toDF("src", "dst")
    val hops = Graph.bfsHops(edges, Seq(Tuple1(1L)).toDF("v"), maxHops = 3)
      .as[(Long, Int)].collect().toMap
    // distances 0..3 along the chain; 5 and 6 are beyond the bound and
    // the 10->11 component is unreachable — neither appears
    assert(hops == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))
  }

  test("harmonic centrality: path hand-values, multi-seed sums, self and " +
    "out-of-bound excluded") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
      ("e", "f"), ("x", "y")).toDF("src", "dst")
    val one = Graph.harmonicCentrality(edges, Seq(Tuple1("a")).toDF("v"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_reached"), r.getAs[Long]("harmonic_ppm"))).toMap
    // d(a,b)=1, d(a,c)=2, d(a,d)=3, d(a,e)=4; f is beyond 4 rounds, the
    // x->y component unreachable, and the seed itself excluded
    assert(one == Map("b" -> (1L, 1000000L), "c" -> (1L, 500000L),
      "d" -> (1L, 333333L), "e" -> (1L, 250000L)))
    val two = Graph.harmonicCentrality(edges,
      Seq(Tuple1("a"), Tuple1("c")).toDF("v"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_reached"), r.getAs[Long]("harmonic_ppm"))).toMap
    // d now reached from a (3 hops) AND c (1 hop); c only from a; the
    // directed chain never reaches back to a
    assert(two("d") == (2L, 1333333L))
    assert(two("c") == (1L, 500000L))
    assert(!two.contains("a"))
  }

  test("ego density: clique seed saturates, star seed stays hollow") {
    // a->b,c; b<->c forms a triangle: ego(a)={a,b,c}, 4 of 6 directed
    // edges present (a->b, a->c, b->c, c->b) -> 666666 ppm.
    // x fans out to y,z with no cross edges: 2 of 6 -> 333333 ppm.
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "b"),
      ("x", "y"), ("x", "z")).toDF("src", "dst")
    val got = Graph.egoDensity(edges,
      Seq(Tuple1("a"), Tuple1("x")).toDF("v")).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_nodes"),
        r.getAs[Long]("n_edges"), r.getAs[Long]("density_ppm"))).toMap
    assert(got == Map("a" -> (3L, 4L, 666666L), "x" -> (3L, 2L, 333333L)))
  }

  test("betweenness: chain and diamond hand values with quantized credits") {
    val chain = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    val got = Graph.betweenness(chain, Seq(Tuple1("a")).toDF("v")).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("betweenness_ppm")).toMap
    // qd(c) = 1e6 (credit for d), qd(b) = 1e6 + qd(c); endpoint d gets 0
    assert(got == Map("b" -> 2000000L, "c" -> 1000000L, "d" -> 0L))
    val diamond = Seq(("a", "b1"), ("a", "b2"), ("b1", "c"), ("b2", "c"))
      .toDF("src", "dst")
    val got2 = Graph.betweenness(diamond, Seq(Tuple1("a")).toDF("v"))
      .collect()
      .map(r => r.getString(0) -> r.getAs[Long]("betweenness_ppm")).toMap
    // sigma(c) = 2: each middle vertex carries half of c's unit credit
    assert(got2 == Map("b1" -> 500000L, "b2" -> 500000L, "c" -> 0L))
    // two seeds on the chain sum their accumulations
    val got3 = Graph.betweenness(chain,
      Seq(Tuple1("a"), Tuple1("b")).toDF("v")).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("betweenness_ppm")).toMap
    // from a: b=2e6, c=1e6; from b: c=1e6; d endpoint both times
    assert(got3 == Map("b" -> 2000000L, "c" -> 2000000L, "d" -> 0L))
  }

  test("weighted shortest paths: detours beat heavy direct edges within bound") {
    // 1->4 direct costs 10; 1->2->3->4 costs 3. With 3+ rounds the detour
    // wins; with 1 round only the direct edge is reachable. Weight-1 edges
    // must reproduce bfsHops exactly.
    val edges = Seq((1L, 4L, 10L), (1L, 2L, 1L), (2L, 3L, 1L),
      (3L, 4L, 1L), (8L, 9L, 5L)).toDF("src", "dst", "w")
    val seeds = Seq(Tuple1(1L)).toDF("v")
    val d3 = Graph.weightedShortestPaths(edges, seeds, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(d3 == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    val d1 = Graph.weightedShortestPaths(edges, seeds, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(d1 == Map(1L -> 0L, 2L -> 1L, 4L -> 10L)) // direct only
    // unit weights degenerate to BFS hop counts
    val unit = edges.select($"src", $"dst",
      org.apache.spark.sql.functions.lit(1L).as("w"))
    val viaW = Graph.weightedShortestPaths(unit, seeds, rounds = 4)
      .as[(Long, Long)].collect().toMap
    val viaB = Graph.bfsHops(edges.select("src", "dst"), seeds, maxHops = 4)
      .as[(Long, Int)].collect().map { case (v, h) => (v, h.toLong) }.toMap
    assert(viaW == viaB)
  }

  test("personalized pagerank: mass stays near seeds, unreachable = 0.0") {
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("src", "dst")
    val seeds = Seq(Tuple1(1L)).toDF("v")
    val pr = Graph.pageRankPersonalized(edges, seeds, iterations = 4)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-9) // mass conserved
    // every vertex reachable from the seed carries positive rank
    assert(pr(1L) > 0 && pr(2L) > 0 && pr(3L) > 0)
    // the 4->5 component is unreachable from the seed: exactly zero,
    // not merely small (IEEE zeros propagate exactly)
    assert(pr(4L) == 0.0 && pr(5L) == 0.0)
    // seed absent from the graph -> loud failure
    intercept[IllegalArgumentException] {
      Graph.pageRankPersonalized(edges, Seq(Tuple1(99L)).toDF("v"))
    }
  }

  test("weighted pagerank: rank flows proportionally to edge weight") {
    // a splits its rank 9:1 between b and c; both sink back to a
    val edges = Seq((1L, 2L, 9.0), (1L, 3L, 1.0), (2L, 1L, 1.0),
      (3L, 1L, 1.0)).toDF("src", "dst", "w")
    val pr = Graph.pageRankWeighted(edges, iterations = 4)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-9)
    assert(pr(2L) > pr(3L))
    // b's surplus over the teleport floor is 9x c's (both fed only by a)
    val floor = 0.15 / 3
    assert(math.abs((pr(2L) - floor) / (pr(3L) - floor) - 9.0) < 1e-6)
  }

  test("self-loop-only vertices survive both CC variants as singletons") {
    // 5's only edge is a self-loop; both variants must keep it with
    // label = itself (the alt-star contraction used to drop it)
    val edges = Seq((1L, 2L), (5L, 5L), (2L, 2L)).toDF("src", "dst")
    val expected = Map(1L -> 1L, 2L -> 1L, 5L -> 5L)
    val prop = Graph.connectedComponents(edges).as[(Long, Long)]
      .collect().toMap
    val star = Graph.connectedComponentsAltStar(edges).as[(Long, Long)]
      .collect().toMap
    assert(prop == expected)
    assert(star == expected)
  }

  test("pagerank is independent of input partitioning") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (4L, 3L))
      .toDF("src", "dst")
    val a = Graph.pageRank(edges.repartition(1)).as[(Long, Double)]
      .collect().toMap
    val b = Graph.pageRank(edges.repartition(7)).as[(Long, Double)]
      .collect().toMap
    // exact-decimal contribution sums make the doubles bit-identical, not
    // merely close, across partitionings
    assert(a == b)
  }

  test("k-core: K4 survives the 3-core, pendant chain and triangle peel away") {
    // K4 on 1..4, a chain 4-5-6 hanging off it, and a separate triangle
    // 7-8-9 (every triangle vertex has degree 2 < 3 — the whole component
    // peels). Cascading matters: 5 starts at degree 2, drops when 6 goes.
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L),
      (7L, 8L), (8L, 9L), (7L, 9L)
    ).toDF("src", "dst")
    val got = Graph.kCore(edges, k = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // partition independence of the iterative peel
    val again = Graph.kCore(edges.repartition(5), k = 3)
      .as[(Long, Long)].collect().toMap
    assert(again == got)
    // k = 2: the triangle survives too, the chain still peels
    val core2 = Graph.kCore(edges, k = 2).as[(Long, Long)].collect().toMap
    assert(core2.keySet == Set(1L, 2L, 3L, 4L, 7L, 8L, 9L))
  }

  test("k-core and coreness over a pre-symmetrized edge set equal the " +
    "raw-edge paths (the shared transfer_edges_sym contract)") {
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 6L), // self-loop must be dropped either way
      (7L, 8L), (8L, 9L), (7L, 9L)
    ).toDF("src", "dst")
    val e = edges.filter($"src" =!= $"dst")
    val sym = e.unionByName(e.select($"dst".as("src"), $"src".as("dst")))
      .distinct()
    assert(Graph.kCore(sym, k = 3, symmetricInput = true)
      .as[(Long, Long)].collect().toMap ==
      Graph.kCore(edges, k = 3).as[(Long, Long)].collect().toMap)
    assert(Graph.coreness(sym, symmetricInput = true)
      .as[(Long, Long)].collect().toMap ==
      Graph.coreness(edges).as[(Long, Long)].collect().toMap)
  }

  test("clustering coefficients: K4 is 1000 pml, star center is 0") {
    // K4 (1..4, coeff = 1) + star center 10 with leaves 11..13 (coeff 0:
    // leaves never touch each other); leaves have degree 1 → excluded
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (10L, 11L), (10L, 12L), (10L, 13L)
    ).toDF("src", "dst")
    val got = Graph.clusteringCoefficients(edges)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got == Map(
      1L -> (3L, 3L, 1000L), 2L -> (3L, 3L, 1000L),
      3L -> (3L, 3L, 1000L), 4L -> (3L, 3L, 1000L),
      10L -> (3L, 0L, 0L)))
    // partition independence
    val again = Graph.clusteringCoefficients(edges.repartition(7))
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(again == got)
  }

  test("neighborhood aggregation: star means are exact by hand") {
    // star center 1 with leaves 2,3,4: deg(1)=3, deg(leaf)=1;
    // h1(1)=mean(1,1,1)=1, h1(leaf)=3; h2(1)=mean(3,3,3)=3, h2(leaf)=1
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val got = Graph.neighborhoodAggregate(edges)
      .as[(Long, Long, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got == Map(
      1L -> (3L, 1.0, 3.0), 2L -> (1L, 3.0, 1.0),
      3L -> (1L, 3.0, 1.0), 4L -> (1L, 3.0, 1.0)))
    val again = Graph.neighborhoodAggregate(edges.repartition(5))
      .as[(Long, Long, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(again == got)
  }

  test("mis: independent, maximal among decided, partition-independent") {
    // triangle 1-2-3 + chain 3-4-5 + isolated edge 8-9
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (8L, 9L)).toDF("src", "dst")
    val got = Graph.maximalIndependentSet(edges)
      .as[(Long, String, Int)].collect()
    val byV = got.map(r => r._1 -> r._2).toMap
    assert(byV.keySet == Set(1L, 2L, 3L, 4L, 5L, 8L, 9L))
    val mis = byV.filter(_._2 == "mis").keySet
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
    // independence: no edge inside the MIS
    assert(und.forall { case (a, b) => !(mis(a) && mis(b)) })
    // every excluded vertex has an MIS neighbor
    val nbrs = (und ++ und.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet)
    for ((v, st) <- byV if st == "excluded")
      assert(nbrs(v).exists(mis), s"excluded $v has no MIS neighbor")
    // this small graph decides fully within the round budget
    assert(!byV.values.exists(_ == "undecided"))
    // partition independence
    val again = Graph.maximalIndependentSet(edges.repartition(5))
      .as[(Long, String, Int)].collect()
    assert(again.sortBy(_._1).toSeq == got.sortBy(_._1).toSeq)
  }

  test("mis over a pre-symmetrized edge set equals the raw-edge path " +
    "(the shared transfer_edges_sym contract, extended to MIS in r10)") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (5L, 5L), // self-loop must be dropped either way
      (8L, 9L), (9L, 8L) // duplicate direction must not double-count
    ).toDF("src", "dst")
    val e = edges.filter($"src" =!= $"dst")
    val sym = e.unionByName(e.select($"dst".as("src"), $"src".as("dst")))
      .distinct()
    val raw = Graph.maximalIndependentSet(edges)
      .as[(Long, String, Int)].collect().sortBy(_._1).toSeq
    val pre = Graph.maximalIndependentSet(sym, symmetricInput = true)
      .as[(Long, String, Int)].collect().sortBy(_._1).toSeq
    assert(pre == raw)
  }

  test("hits: star hub and shared authority, hand-computed 2-round values") {
    // 1 -> {2,3,4}, 5 -> 2: round-by-round with L-inf normalization gives
    // hub(1)=1, hub(5)=3/7; auth(2)=1, auth(3)=auth(4)=2/3
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (5L, 2L))
      .toDF("src", "dst")
    val got = Graph.hits(edges)
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    def r9(x: Double) =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == ((1.0, 0.0)))
    assert(got(5L) == ((r9(3.0 / 7.0), 0.0)))
    assert(got(2L) == ((0.0, 1.0)))
    assert(got(3L) == ((0.0, r9(2.0 / 3.0))))
    assert(got(4L) == ((0.0, r9(2.0 / 3.0))))
    // partition independence
    val again = Graph.hits(edges.repartition(5))
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(again == got)
  }

  test("temporal reachability: backwards-in-time edges do not propagate taint") {
    // 1 -(t=10)-> 2 -(t=5)-> 3 : BFS would reach 3; temporally 3 is clean
    // (the 2->3 transfer happened before 2 was tainted); 2 -(t=20)-> 4
    // works and arrives at 20
    val edges = Seq(
      (1L, 2L, 10L), (2L, 3L, 5L), (2L, 4L, 20L)
    ).toDF("src", "dst", "t")
    val seeds = Seq(Tuple1(1L)).toDF("v")
    val got = Graph.temporalReachability(edges, seeds)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> -1L, 2L -> 10L, 4L -> 20L))
    // a later edge into 3 DOES taint it (arrival respects min over paths)
    val more = edges.union(Seq((2L, 3L, 15L)).toDF("src", "dst", "t"))
    val got2 = Graph.temporalReachability(more, seeds)
      .as[(Long, Long)].collect().toMap
    assert(got2(3L) == 15L)
    // earliest arrival wins when multiple temporal paths exist
    val race = Seq((1L, 2L, 1L), (1L, 3L, 2L), (2L, 4L, 8L), (3L, 4L, 6L))
      .toDF("src", "dst", "t")
    val got3 = Graph.temporalReachability(race, seeds)
      .as[(Long, Long)].collect().toMap
    assert(got3(4L) == 6L)
    // partition independence
    val again = Graph.temporalReachability(more.repartition(5), seeds)
      .as[(Long, Long)].collect().toMap
    assert(again == got2)
  }

  test("link prediction: wedge endpoints score, existing edges never do") {
    // path 1-2-3: only candidate pair is (1,3) through center 2 (deg 2 →
    // weight 2^20/2); plus 4-5 isolated edge contributes nothing
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("src", "dst")
    val got = Graph.linkPrediction(edges)
      .as[(Long, Long, Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 3L, (1L << 20) / 2, 1L)))
    // triangle 1-2-3 closed: no non-edges left among its vertices
    val closed = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    assert(Graph.linkPrediction(closed).count() == 0)
    // two common neighbors add their weights: square 1-2-3-4 (no diagonal)
    // predicts both diagonals with weight 2 * 2^20/2
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
      .toDF("src", "dst")
    val sq = Graph.linkPrediction(square)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(sq == Set((1L, 3L, 1L << 20, 2L), (2L, 4L, 1L << 20, 2L)))
  }

  private def sccOf(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Graph.stronglyConnectedComponents(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
  }

  /** Brute-force SCC labels via Floyd-Warshall-ish closure. */
  private def sccBrute(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val vs = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val e = edges.filter(x => x._1 != x._2).toSet
    var reach = e
    var grew = true
    while (grew) {
      val next = reach ++ (for { (a, b) <- reach; (c, d) <- reach
        if b == c } yield (a, d))
      grew = next.size > reach.size
      reach = next
    }
    vs.map(v => v -> (v +: vs.filter(u =>
      reach((v, u)) && reach((u, v)))).min).toMap
  }

  test("coreness: K4 is 3, attached cycle is 2, tail is 1") {
    import spark.implicits._
    // K4 on 1-4; cycle 4-5-6-4 shares vertex 4; tail 6-7
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (6L, 4L), (6L, 7L)).toDF("src", "dst")
    val got = Graph.coreness(edges).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      5L -> 2L, 6L -> 2L, 7L -> 1L))
  }

  /** Driver-side core numbers capped at [[Graph.CorenessMax]]: peel the
    * simple undirected graph at k = 2..4; a vertex's number is the
    * largest k whose core it survives (1 with any non-loop edge). */
  private def corenessRef[V](edges: Seq[(V, V)]): Map[V, Long] = {
    val adj = edges.filter { case (a, b) => a != b }
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
    (2 to Graph.CorenessMax).foldLeft(adj.map { case (v, _) => v -> 1L }) {
      (core, k) =>
        var alive = adj.keySet
        var drop = Set.empty[V]
        do {
          drop = alive.filter(v => adj(v).count(alive) < k)
          alive --= drop
        } while (drop.nonEmpty)
        core.map { case (v, c) => v -> (if (alive(v)) k.toLong else c) }
    }
  }

  private def randomEdges(seed: Int): Seq[(String, String)] = {
    val r = new scala.util.Random(seed)
    val n = 30 + 5 * seed
    Seq.fill(3 * n)((s"w${r.nextInt(n)}", s"w${r.nextInt(n)}"))
  }

  test("coreness: seeded random graphs with string ids match a driver peel") {
    import spark.implicits._
    for (seed <- 1 to 5) {
      val edges = randomEdges(seed)
      val want = corenessRef(edges)
      assert(want.values.toSet.size >= 3, s"seed $seed: too few tiers")
      assert(Graph.coreness(edges.toDF("src", "dst"))
        .as[(String, Long)].collect().toMap == want, s"seed $seed")
    }
  }

  test("coreness: K6 reads the cap, a path off a cycle needs many rounds, " +
    "self-loop-only vertices are absent") {
    import spark.implicits._
    val k6 = for (a <- 1L to 6L; b <- a + 1 to 6L) yield (a, b)
    assert(Graph.coreness(k6.toDF("src", "dst")).as[(Long, Long)].collect()
      .toMap == (1L to 6L).map(_ -> Graph.CorenessMax.toLong).toMap)
    // cycle 0..5, an 18-vertex path off vertex 5: the path's 1s reach
    // vertex 5's neighbour one hop per round
    val cycle = (0L to 5L).map(v => (v, (v + 1) % 6))
    val path = (5L +: (100L to 117L)).sliding(2).map(p => (p(0), p(1))).toSeq
    val loops = Seq((50L, 50L), (51L, 51L), (0L, 0L))
    val edges = cycle ++ path ++ loops
    val got = Graph.coreness(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(got == corenessRef(edges))
    assert(got == ((0L to 5L).map(_ -> 2L) ++ (100L to 117L).map(_ -> 1L)).toMap)
  }

  test("coreness: rows are identical at 1 and 8 shuffle partitions, and " +
    "the schema is unchanged") {
    import spark.implicits._
    val edges = randomEdges(7).toDF("src", "dst")
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    val rows = try Seq("1", "8").map { p =>
      spark.conf.set(key, p)
      Graph.coreness(edges).collect().toSeq
    } finally spark.conf.set(key, saved)
    assert(rows(0) == rows(1))
    def json(nullableV: Boolean, vType: String) =
      """{"type":"struct","fields":[{"name":"v","type":"""" + vType +
        """","nullable":""" + nullableV + ""","metadata":{}},""" +
        """{"name":"coreness","type":"long","nullable":false,"metadata":{}}]}"""
    assert(Graph.coreness(edges).schema.json == json(true, "string"))
    assert(Graph.coreness(Seq((1L, 2L)).toDF("src", "dst")).schema.json ==
      json(false, "long"))
    assert(ops.Wallet.transferCoreness(spark, GraftSpark.Sf).schema.json ==
      json(true, "string"))
  }

  test("coreness: uncoalesced 1, 8 and 32 partitions give the reference " +
    "peel and the parent schema, and one partition settles in fewer jobs") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    // cycle 0..5 with an 18-vertex path off vertex 5 (Jacobi rounds: one
    // hop per round), plus a seeded random graph with string ids
    val cycle = (0L to 5L).map(v => (v, (v + 1) % 6))
    val path = (5L +: (100L to 117L)).sliding(2).map(p => (p(0), p(1))).toSeq
    val strings = randomEdges(3)
    def schema(v: DataType, nullableV: Boolean) = StructType(Seq(
      StructField("v", v, nullableV), StructField("coreness", LongType, false)))
    val keys = Seq("spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.shuffle.partitions")
    val saved = keys.map(k => k -> spark.conf.get(k))
    val runs = try Seq("1", "8", "32").map { p =>
      spark.conf.set(keys(0), "false")
      spark.conf.set(keys(1), p)
      var longs: org.apache.spark.sql.DataFrame = null
      val jobs = GraftSpark.jobsDuring {
        longs = Graph.coreness((cycle ++ path).toDF("src", "dst"))
        longs.collect()
      }.size
      val strs = Graph.coreness(strings.toDF("src", "dst"))
      assert(longs.schema == schema(LongType, false), p)
      assert(strs.schema == schema(StringType, true), p)
      (longs.as[(Long, Long)].collect().toSeq,
        strs.as[(String, Long)].collect().toSeq, jobs)
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
    runs.foreach { case (l, s, _) =>
      assert(l == runs.head._1 && s == runs.head._2)
      assert(l.toMap == corenessRef(cycle ++ path))
      assert(s.toMap == corenessRef(strings))
    }
    assert(runs.head._3 < runs.last._3, runs.map(_._3))
  }

  test("scc: DAG chain is all singletons (trim alone resolves it)") {
    val got = sccOf(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 5L))
  }

  test("scc: cycle is one component labeled by its min vertex") {
    val got = sccOf(Seq((3L, 5L), (5L, 9L), (9L, 3L)))
    assert(got == Map(3L -> 3L, 5L -> 3L, 9L -> 3L))
  }

  test("scc: two cycles bridged by a DAG edge stay separate components") {
    // cycle {1,2} → bridge 2→7 → cycle {7,8,9}; plus a self-loop-only
    // vertex 42 (its own SCC) and a dangling sink 99
    val got = sccOf(Seq((1L, 2L), (2L, 1L), (2L, 7L),
      (7L, 8L), (8L, 9L), (9L, 7L), (42L, 42L), (9L, 99L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 7L -> 7L, 8L -> 7L, 9L -> 7L,
      42L -> 42L, 99L -> 99L))
  }

  test("scc: nested structure where coloring needs multiple outer rounds") {
    // condensation chain of three 2-cycles: {1,2} → {3,4} → {5,6};
    // trimming can't peel any of them, and vertex 1's color floods all six
    // — rounds must re-color after each removal
    val got = sccOf(Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 3L),
      (4L, 5L), (5L, 6L), (6L, 5L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L,
      5L -> 5L, 6L -> 5L))
  }

  test("scc: random digraphs agree with the brute-force closure, at any " +
    "partitioning") {
    val rnd = new scala.util.Random(7)
    (0 until 3).foreach { trial =>
      val n = 14
      val edges = Seq.fill(30)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      assert(sccOf(edges) == sccBrute(edges), s"trial $trial: $edges")
    }
    import spark.implicits._
    val edges = Seq.fill(40)((rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
    val repart = Graph.stronglyConnectedComponents(
      edges.toDF("src", "dst").repartition(7))
      .as[(Long, Long)].collect().toMap
    assert(repart == sccBrute(edges))
  }

  test("incremental CC equals the full recompute on the transfer graph") {
    import org.apache.spark.sql.functions._
    val incr = Graph.incrementalComponents(spark, GraftSpark.Sf)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    val full = Graph.connectedComponents(
      Tables.transfers(spark, GraftSpark.Sf)
        .filter(col("from_address") =!= col("to_address"))
        .select(col("from_address").as("src"), col("to_address").as("dst")))
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(incr == full)
    assert(incr.nonEmpty)
    // the delta is genuinely non-empty (otherwise this proves nothing)
    assert(Tables.transfers(spark, GraftSpark.Sf)
      .filter(col("block_number") % 10 === 9).count() > 0)
  }

  test("ANF: unsaturated registers count reach sets exactly on a chain") {
    // directed chain 1→2→3→4→5; with k=16 every register stays unsaturated
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .map { case (a, b) => (a.toString, b.toString) }.toDF("src", "dst")
    val nf = Graph.neighborhoodFunction(edges)
      .as[(Int, Long, Long, Long)].collect().toSeq
    // N(1)=2+2+2+2+1, N(2)=3+3+3+2+1, N(3)=4+4+3+2+1; nothing saturates
    assert(nf == Seq((1, 5L, 9L, 0L), (2, 5L, 12L, 0L), (3, 5L, 14L, 0L)))
  }

  test("ANF: saturated registers estimate, and saturation is flagged") {
    // star hub→12 leaves with k=4: the hub's r=1 reach (13) saturates
    val edges = (1 to 12).map(i => ("hub", s"leaf$i")).toDF("src", "dst")
    val nf = Graph.neighborhoodFunction(edges, rounds = 1, k = 4)
      .as[(Int, Long, Long, Long)].collect().toSeq
    assert(nf.length == 1)
    val (_, nNodes, nfEst, nSat) = nf.head
    assert(nNodes == 13L && nSat == 1L)
    // 12 exact leaf singletons + a positive estimate for the hub
    assert(nfEst > 12L)
  }

  test("ANF certificate: exact where unsaturated (err_ppm = 0 on a chain)") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .map { case (a, b) => (a.toString, b.toString) }.toDF("src", "dst")
    val cert = Graph.anfCertificate(edges, seedCount = 3)
      .as[(Int, Long, Long, Long, Long)].collect().toSeq
    assert(cert.length == 3)
    assert(cert.forall { case (_, nSeeds, se, ss, err) =>
      nSeeds == 3L && se == ss && err == 0L })
  }

  test("ANF: KMV register capping is lossless vs an uncapped register") {
    import org.apache.spark.sql.functions.col
    // k=3 on the transfer graph sample must equal k=large truncated to 3:
    // the k smallest of a union are the k smallest of per-input k-minima
    val edges = Tables.transfers(spark, GraftSpark.Sf)
      .filter(col("from_address") =!= col("to_address"))
      .select(col("from_address").as("src"), col("to_address").as("dst"))
      .limit(200)
    val capped = Graph.anfSketches(edges, rounds = 2, k = 3).last._2
      .orderBy("v").as[(String, Seq[String])].collect().toSeq
    val wide = Graph.anfSketches(edges, rounds = 2, k = 1000).last._2
      .orderBy("v").as[(String, Seq[String])].collect().toSeq
      .map { case (v, sk) => (v, sk.take(3): Seq[String]) }
    assert(capped == wide)
  }

  test("randomWalks: hash-argmin transitions replay in plain Scala; " +
    "dead ends truncate the walk") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // a -> {b, c}; b -> {d}; d is a dead end; e isolated seed-less
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "a"))
      .toDF("src", "dst")
    val seeds = Seq("a").toDF("v")
    val got = Graph.randomWalks(edges, seeds, steps = 4)
      .as[(String, Long, String)].collect().toSeq.sortBy(r => (r._1, r._2))
    // replay: at step s out of v, pick argmin md5("walk:s:nbr")
    val adj = Map("a" -> Seq("b", "c"), "b" -> Seq("d"), "c" -> Seq("a"))
    var v = "a"
    val expected = scala.collection.mutable.ArrayBuffer(("a", 0L, "a"))
    var s = 1L
    var alive = true
    while (alive && s <= 4) {
      adj.get(v) match {
        case Some(nbrs) =>
          v = nbrs.minBy(n => md5hex(s"a:$s:$n") + "|" + n)
          expected += (("a", s, v)); s += 1
        case None => alive = false
      }
    }
    assert(got == expected.toSeq)
    // the walk must have actually branched through the argmin at least
    // twice from 'a' (steps out of 'a' at different depths may differ)
    assert(got.size >= 3)
  }

  test("kTruss: K4 survives the 4-truss; a pendant triangle survives " +
    "only the 3-truss; cascade peeling removes dependent triangles") {
    // K4 on 1..4 plus a triangle (5,6,7) hanging off vertex 4 by edge 4-5
    val edges = (Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (5L, 7L), (6L, 7L)))
      .toDF("src", "dst")
    // 3-truss: pendant edge 4-5 is in no triangle -> peeled; both the K4
    // and the 5-6-7 triangle survive with their supports
    val t3 = Graph.kTruss(edges, k = 3, rounds = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(t3 == Set((1L, 2L, 2L), (1L, 3L, 2L), (1L, 4L, 2L),
      (2L, 3L, 2L), (2L, 4L, 2L), (3L, 4L, 2L),
      (5L, 6L, 1L), (5L, 7L, 1L), (6L, 7L, 1L)))
    // 4-truss: only K4 edges close 2 triangles among survivors
    val t4 = Graph.kTruss(edges, k = 4, rounds = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(t4.map(e => (e._1, e._2)) ==
      Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
    // cascade: two triangles sharing edge (1,2), plus that shared edge's
    // support 2 — 4-truss needs every edge at >= 2, the outer edges have
    // 1, peeling them drops (1,2) to 0 -> empty 4-truss
    val twoTri = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L))
      .toDF("src", "dst")
    assert(Graph.kTruss(twoTri, k = 4, rounds = 3).count() == 0L)
  }
}
