package graft.operators

import org.apache.spark.graftbridge.RddBlocks
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{lit, timestamp_seconds}
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.SparkTestBase

class GraphSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def ranksOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.select("node", "rank").as[(Long, Long)].collect().toMap

  test("outDegrees dedupes the edge list before counting") {
    val e = Seq((1L, 2L), (1L, 2L), (1L, 3L), (2L, 3L)).toDF("s", "d")
    val got = Graph.outDegrees(e, "s", "d").get
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 1L))
  }

  test("two-node cycle is the exact fixed point: ranks stay at scale") {
    val e = Seq((1L, 2L), (2L, 1L)).toDF("s", "d")
    val got = ranksOf(Graph.pageRank(e, "s", "d", iterations = 4,
      scale = 1000000000L).get)
    // (scale*17) div 20 + (scale*3) div 20 = scale exactly (scale % 20 == 0)
    assert(got == Map(1L -> 1000000000L, 2L -> 1000000000L))
  }

  test("dangling mass redistributes; hand-computed 2-iteration golden") {
    // 1 → 2, node 2 dangling; scale 1000, teleport (1000*3) div 20 = 150
    // iter1: dang = (1000*17) div 20 = 850, share 850 div 2 = 425
    //        r(1) = 150+425 = 575; r(2) = (1000*17) div 20 + 575 = 1425
    // iter2: dang = (1425*17) div 20 = 1211, share 605
    //        r(1) = 150+605 = 755; r(2) = (575*17) div 20 + 755 = 1243
    val e = Seq((1L, 2L)).toDF("s", "d")
    val it1 = ranksOf(Graph.pageRank(e, "s", "d", iterations = 1, scale = 1000L).get)
    assert(it1 == Map(1L -> 575L, 2L -> 1425L))
    val it2 = ranksOf(Graph.pageRank(e, "s", "d", iterations = 2, scale = 1000L).get)
    assert(it2 == Map(1L -> 755L, 2L -> 1243L))
  }

  test("ranks are a pure function of the graph — partitioning-invariant") {
    val edges = (1L to 40L).map(i => (i % 7, (i * 3) % 7)).toDF("s", "d")
    val a = ranksOf(Graph.pageRank(edges, "s", "d", iterations = 3,
      scale = 100000L).get)
    val b = ranksOf(Graph.pageRank(edges.repartition(13), "s", "d",
      iterations = 3, scale = 100000L).get)
    assert(a == b && a.nonEmpty)
  }

  test("score normalizes by total initial mass") {
    val e = Seq((1L, 2L), (2L, 1L)).toDF("s", "d")
    val got = Graph.pageRank(e, "s", "d", iterations = 1, scale = 1000000000L)
      .get.select("node", "score").as[(Long, Double)].collect().toMap
    assert(got(1L) == 0.5 && got(2L) == 0.5)
  }

  test("scale overflow guard rejects unsafe n * scale * dampNum") {
    val e = Seq((1L, 2L), (2L, 1L)).toDF("s", "d")
    val r = Graph.pageRank(e, "s", "d", iterations = 1, scale = Long.MaxValue / 20)
    assert(r.isFailing)
  }

  test("weighted pageRank: hand-computed transfer golden, duplicate weights sum") {
    // W(1)=4: 1→2 carries (1000·17·3) div 80 = 637, 1→3 carries 212;
    // 2→1 and 3→1 each carry 850; teleport (1000·3) div 20 = 150
    val e = Seq((1L, 2L, 3L), (1L, 3L, 1L), (2L, 1L, 1L), (3L, 1L, 1L))
      .toDF("s", "d", "w")
    val got = ranksOf(Graph.pageRank(e, "s", "d", iterations = 1,
      scale = 1000L, weightCol = Some("w")).get)
    assert(got == Map(1L -> 1850L, 2L -> 787L, 3L -> 362L))
    // duplicate (src, dst) rows sum their weights: a symmetric equal-
    // weight cycle is the exact fixed point
    val dup = Seq((1L, 2L, 1L), (1L, 2L, 2L), (2L, 1L, 3L)).toDF("s", "d", "w")
    val cyc = ranksOf(Graph.pageRank(dup, "s", "d", iterations = 3,
      scale = 1000L, weightCol = Some("w")).get)
    assert(cyc == Map(1L -> 1000L, 2L -> 1000L))
  }

  test("projectBipartite thresholds shared right keys; src < dst once") {
    val m = Seq(("A", 1L), ("A", 2L), ("A", 3L), ("B", 2L), ("B", 3L),
      ("C", 3L), ("A", 2L)).toDF("l", "r")
    def proj(minShared: Long, cap: Long = 0L) =
      Graph.projectBipartite(m, "l", "r", minShared, cap).get
        .as[(String, String, Long)].collect()
        .map(t => (t._1, t._2) -> t._3).toMap
    assert(proj(2L) == Map(("A", "B") -> 2L))
    assert(proj(1L) == Map(("A", "B") -> 2L, ("A", "C") -> 1L, ("B", "C") -> 1L))
    // cap 2 drops key 3 (all three members) before pairing
    assert(proj(1L, cap = 2L) == Map(("A", "B") -> 1L))
    val report = Graph.projectionCapReport(m, "l", "r", 2L).get
      .as[(Long, Long)].collect()
    assert(report.toSeq == Seq((3L, 3L)))
  }

  test("personalized pageRank: seed-only teleport + dangling pool golden") {
    // 1→2, seed {1}, scale 1000, n=2, node 2 dangling
    // iter1: dang=(1000·17)div20=850; perSeed=(2000·3div20)+850=1150
    //        r(1)=1150 (no in-edges), r(2)=850
    // iter2: dang=(850·17)div20=722; perSeed=300+722=1022
    //        r(1)=1022, r(2)=(1150·17)div20=977
    val e = Seq((1L, 2L)).toDF("s", "d")
    val seeds = Seq(1L).toDF("node")
    def run(iters: Int) = ranksOf(Graph.pageRank(e, "s", "d",
      iterations = iters, scale = 1000L, teleportTo = Some(seeds)).get)
    assert(run(1) == Map(1L -> 1150L, 2L -> 850L))
    assert(run(2) == Map(1L -> 1022L, 2L -> 977L))
    // seeds absent from the graph are rejected
    assert(Graph.pageRank(e, "s", "d", iterations = 1, scale = 1000L,
      teleportTo = Some(Seq(99L).toDF("node"))).isFailing)
  }

  test("projectBipartite weightings: jaccard/cosine/overlap from post-cap degrees") {
    // A:{1,2,3}, B:{2,3}, C:{3} → degrees 3/2/1; shared AB=2, AC=1, BC=1
    val m = Seq(("A", 1L), ("A", 2L), ("A", 3L), ("B", 2L), ("B", 3L),
      ("C", 3L)).toDF("l", "r")
    def weights(mode: String) =
      Graph.projectBipartite(m, "l", "r", minShared = 1L, weighting = mode)
        .get.select("src", "dst", "weight")
        .as[(String, String, Double)].collect()
        .map(t => (t._1, t._2) -> t._3).toMap
    val j = weights("jaccard")
    assert(j(("A", "B")) == 2.0 / 3 && j(("A", "C")) == 1.0 / 3 &&
      j(("B", "C")) == 0.5)
    val c = weights("cosine")
    assert(c(("A", "B")) == 2.0 / math.sqrt(6.0) &&
      c(("B", "C")) == 1.0 / math.sqrt(2.0))
    val o = weights("overlap")
    assert(o.values.toSet == Set(1.0))
    // count mode keeps the original 3-column schema
    assert(Graph.projectBipartite(m, "l", "r", 1L).get.columns.toSeq ==
      Seq("src", "dst", "shared"))
  }

  test("triangleCount: K4 + pendant golden, duplicate/reversed edges normalize") {
    // K4 on 1..4 (every node in 3 triangles, clustering 1.0) plus a
    // pendant 5—1 (degree(1) rises to 4, clustering drops to 0.5);
    // reversed and duplicate edges must not double-count
    val e = Seq((1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L), (3L, 4L), (5L, 1L)).toDF("s", "d")
    val got = Graph.triangleCount(e, "s", "d").get
      .as[(Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((4L, 3L, Some(0.5))))
    assert(got(2L) == ((3L, 3L, Some(1.0))))
    assert(got(3L) == ((3L, 3L, Some(1.0))))
    assert(got(4L) == ((3L, 3L, Some(1.0))))
    assert(got(5L) == ((1L, 0L, None)))
  }

  test("triangleCount: star graph has zero triangles, self-loops dropped") {
    val star = (2L to 20L).map(i => (1L, i)) :+ ((1L, 1L))
    val got = Graph.triangleCount(star.toDF("s", "d"), "s", "d").get
      .as[(Long, Long, Long, Option[Double])].collect()
    assert(got.forall(_._3 == 0L))
    assert(got.find(_._1 == 1L).get._2 == 19L)
  }

  test("hits: hand-computed renormalized half-steps; pure source/sink split") {
    // 1→3, 2→3, 2→4; scale 1000, n=4, M=4000, one iteration:
    //  araw = (3: 2000, 4: 1000), Σ=3000 → a(3)=2666, a(4)=1333
    //  hraw = (1: 2666, 2: 3999), Σ=6665 → h(1)=1600, h(2)=2400
    // sources have authority 0, sinks have hub 0 — exactly
    val e = Seq((1L, 3L), (2L, 3L), (2L, 4L)).toDF("s", "d")
    val got = Graph.hits(e, "s", "d", iterations = 1, scale = 1000L).get
      .select("node", "hub", "authority")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(1L -> ((1600L, 0L)), 2L -> ((2400L, 0L)),
      3L -> ((0L, 2666L)), 4L -> ((0L, 1333L))))
  }

  test("hits: single edge concentrates both vectors; scores normalize by M") {
    val e = Seq((1L, 2L)).toDF("s", "d")
    val got = Graph.hits(e, "s", "d", iterations = 1, scale = 1000L).get
      .select("node", "hub", "authority", "hub_score", "auth_score")
      .as[(Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(1L) == ((2000L, 0L, 1.0, 0.0)))
    assert(got(2L) == ((0L, 2000L, 0.0, 1.0)))
  }

  test("kCore: peels pendants, reports in-core degrees, cascades") {
    // K4 on 1..4 + pendant 5—1: the 2-core (and 3-core) is K4 with
    // in-core degree 3 (node 1's pendant edge does NOT count)
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (5L, 1L)).toDF("s", "d")
    val core2 = Graph.kCore(e, "s", "d", k = 3L).get
      .as[(Long, Long)].collect().toMap
    assert(core2 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // 4-core does not exist
    assert(Graph.kCore(e, "s", "d", k = 4L).get.count() == 0)
    // cascade: triangle 1-2-3 with a chain 3—4—5; peeling 5 (deg 1)
    // exposes 4 (deg 1) — the 2-core is the triangle alone
    val chain = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("s", "d")
    val tri = Graph.kCore(chain, "s", "d", k = 2L).get
      .as[(Long, Long)].collect().toMap
    assert(tri == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("bfsDepths: min-hop levels, depth cap, multi-seed min, cycle-safe") {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("s", "d")
    val seeds1 = Seq(1L).toDF("n")
    val capped = Graph.bfsDepths(chain, "s", "d", seeds1, "n", maxDepth = 2)
      .get.as[(Long, Int)].collect().toMap
    assert(capped == Map(1L -> 0, 2L -> 1, 3L -> 2))
    // a second seed at the far end shortcuts node 3 via the extra edge
    val withBack = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 3L)).toDF("s", "d")
    val multi = Graph.bfsDepths(withBack, "s", "d", Seq(1L, 4L).toDF("n"),
      "n", maxDepth = 4).get.as[(Long, Int)].collect().toMap
    assert(multi == Map(1L -> 0, 4L -> 0, 2L -> 1, 3L -> 1))
    // cycles terminate: each node is visited once
    val cyc = Graph.bfsDepths(Seq((1L, 2L), (2L, 1L)).toDF("s", "d"),
      "s", "d", seeds1, "n", maxDepth = 10).get
      .as[(Long, Int)].collect().toMap
    assert(cyc == Map(1L -> 0, 2L -> 1))
  }

  test("transitivity: K4+pendant golden; star has zero") {
    // K4 + pendant 5—1: T = 4; wedges = C(4,2) + 3·C(3,2) + C(1,2) = 15
    // → transitivity = 12/15 = 0.8
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (5L, 1L)).toDF("s", "d")
    val r = Graph.transitivity(e, "s", "d").get
      .as[(Long, Long, Long, Option[Double])].collect().head
    assert(r == ((5L, 15L, 4L, Some(0.8))))
    // star: wedges but no triangles → exactly 0
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("s", "d")
    val rs = Graph.transitivity(star, "s", "d").get
      .as[(Long, Long, Long, Option[Double])].collect().head
    assert(rs == ((4L, 3L, 0L, Some(0.0))))
  }

  test("assortativity: star is maximally disassortative, cycle degenerate") {
    // star K1,3: every edge pairs degree 3 with degree 1 → r = −1
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("s", "d")
    val r = Graph.assortativity(star, "s", "d").get
      .as[(Long, Option[Double])].collect().head
    assert(r._1 == 3L && math.abs(r._2.get - (-1.0)) < 1e-12)
    // a cycle has all degrees equal: zero variance → NULL
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("s", "d")
    val rc = Graph.assortativity(cyc, "s", "d").get
      .as[(Long, Option[Double])].collect().head
    assert(rc == ((3L, None)))
  }

  test("modularity: two triangles + bridge golden, unlabeled edges dropped") {
    // communities {1,2,3} and {4,5,6}, one bridge: m=7, e_c=3 each,
    // d_c=7 each → Q = 2·(3/7 − (7/14)²) = 6/7 − 1/2
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L), (6L, 7L)).toDF("s", "d") // 6—7 has no label
    val lab = Seq((1L, "A"), (2L, "A"), (3L, "A"), (4L, "B"), (5L, "B"),
      (6L, "B")).toDF("n", "c")
    val r = Graph.modularity(e, "s", "d", lab, "n", "c").get
      .as[(Long, Long, Option[Double])].collect().head
    assert(r._1 == 7L && r._2 == 2L)
    assert(math.abs(r._3.get - (6.0 / 7.0 - 0.5)) < 1e-12)
    // one community covering everything scores exactly 0
    val one = lab.withColumn("c", lit("X"))
    val r1 = Graph.modularity(e, "s", "d", one, "n", "c").get
      .as[(Long, Long, Option[Double])].collect().head
    assert(r1._2 == 1L && r1._3.contains(0.0))
    // nothing labeled → m = 0, NULL q
    val none = lab.filter(lit(false))
    val r0 = Graph.modularity(e, "s", "d", none, "n", "c").get
      .as[(Long, Long, Option[Double])].collect().head
    assert(r0 == ((0L, 0L, None)))
  }

  test("connectedComponents labels by minimum reachable node") {
    val e = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("s", "d")
    val got = Graph.connectedComponents(e, "s", "d").get
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("labelPropagate: majority votes, deterministic ties, round stamps") {
    // path 1—2—3—4—5, seeds 1→a and 5→b: round 1 labels 2→a and 4→b;
    // round 2 labels 3 with a 1–1 tie → smallest label "a"
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("s", "d")
    val seeds = Seq((1L, "a"), (5L, "b")).toDF("n", "lab")
    val got = Graph.labelPropagate(path, "s", "d", seeds, "n", "lab").get
      .as[(Long, String, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(1L -> (("a", 0)), 2L -> (("a", 1)), 3L -> (("a", 2)),
      4L -> (("b", 1)), 5L -> (("b", 0))))
    // true majority beats the tiebreak: hub 0 with neighbors a, a, b
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("s", "d")
    val s2 = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("n", "lab")
    val hub = Graph.labelPropagate(star, "s", "d", s2, "n", "lab").get
      .as[(Long, String, Int)].collect().map(r => r._1 -> r._2).toMap
    assert(hub(0L) == "a")
    // maxRounds caps the reach; unreached nodes are absent
    val capped = Graph.labelPropagate(path, "s", "d",
      Seq((1L, "a")).toDF("n", "lab"), "n", "lab", maxRounds = 1).get
      .as[(Long, String, Int)].collect().map(_._1).toSet
    assert(capped == Set(1L, 2L))
  }

  test("linkPredict: square-cycle goldens, adjacency excluded, hub cap") {
    // square 1-2-3-4-1: the two diagonals are the only predictions;
    // every degree is 2 → common=2, jaccard = 2/(2+2−2) = 1,
    // adamic_adar = 2/ln 2
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("s", "d")
    val got = Graph.linkPredict(sq, "s", "d").get
      .as[(Long, Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(got.keySet == Set((1L, 3L), (2L, 4L)))
    got.values.foreach { case (cn, j, aa) =>
      assert(cn == 2L && j == 1.0)
      assert(math.abs(aa - 2.0 / math.log(2.0)) < 1e-12)
    }
    // adjacent pairs never appear even when they share neighbors
    // (triangle): no non-adjacent pair exists at all
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("s", "d")
    assert(Graph.linkPredict(tri, "s", "d").get.count() == 0)
    // hub cap: star 1..5 around 0 — all predictions are centered at
    // the hub; capping below its degree drops them all, and the cap
    // report names exactly the hub
    val star = (1L to 5L).map(i => (0L, i)).toDF("s", "d")
    assert(Graph.linkPredict(star, "s", "d").get.count() == 10L)
    assert(Graph.linkPredict(star, "s", "d", maxDegree = 4L).get.count() == 0L)
    val rep = Graph.linkPredictCapReport(star, "s", "d", 4L).get
      .as[(Long, Long)].collect().toSeq
    assert(rep == Seq((0L, 5L)))
  }

  test("louvainMove: two cliques + bridge separate; modularity improves") {
    // two K4s (1-4, 5-8) joined by one bridge 4-5: the canonical
    // two-community graph. Local moves from singletons must land each
    // clique in one community and never merge across the bridge.
    val k4a = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val k4b = for (i <- 5L to 8L; j <- (i + 1) to 8L) yield (i, j)
    val e = (k4a ++ k4b :+ ((4L, 5L))).toDF("s", "d")
    val lab = Graph.louvainMove(e, "s", "d", passes = 6).get
      .as[(Long, Long)].collect().toMap
    assert(lab.keySet == (1L to 8L).toSet)
    val left = (1L to 4L).map(lab).toSet
    val right = (5L to 8L).map(lab).toSet
    assert(left.size == 1, s"left clique must unify: $lab")
    assert(right.size == 1, s"right clique must unify: $lab")
    assert(left != right, s"bridge must not merge the cliques: $lab")
    // scoring the produced labels beats the singleton baseline
    val labDf = Graph.louvainMove(e, "s", "d", passes = 6).get
    val q = Graph.modularity(e, "s", "d", labDf, "node", "community").get
      .select("q").as[Option[Double]].collect().head.get
    val qSingleton = Graph.modularity(e, "s", "d",
      e.select($"s".as("n")).union(e.select($"d".as("n"))).distinct()
        .select($"n", $"n".as("c")), "n", "c").get
      .select("q").as[Option[Double]].collect().head.get
    assert(q > qSingleton && q > 0.3, s"q=$q singleton=$qSingleton")
  }

  test("louvainMove: deterministic across partitionings; triangle unifies") {
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("s", "d")
    val a = Graph.louvainMove(e, "s", "d", passes = 4).get
      .as[(Long, Long)].collect().toMap
    val b = Graph.louvainMove(e.repartition(7), "s", "d", passes = 4).get
      .as[(Long, Long)].collect().toMap
    assert(a == b)
    assert(a.values.toSet.size == 1, s"triangle must unify: $a")
    // empty edge list is rejected
    assert(Graph.louvainMove(e.filter(lit(false)), "s", "d").isFailing)
  }

  test("harmonicCentrality: hand-computed landmark sums, exact dyadic-free " +
      "arithmetic, depth cap, determinism") {
    // path 1-2-3-4, landmarks {1, 4}: d(2,·) = {1, 2} → H = 1 + 1/2;
    // d(3,·) = {2, 1} → same; endpoints see only the OTHER landmark at 3
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("s", "d")
    val sym = e.union(e.select($"d".as("s"), $"s".as("d")))
    val lm = Seq(1L, 4L).toDF("node")
    val got = Graph.harmonicCentrality(sym, "s", "d", lm, "node",
        maxDepth = 3).get
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 1L, 3L, 1.0 / 3), (2L, 2L, 3L, 1.5),
      (3L, 2L, 3L, 1.5), (4L, 1L, 3L, 1.0 / 3)), s"$got")
    // depth cap: at maxDepth 2 the endpoints no longer reach each other
    val capped = Graph.harmonicCentrality(sym, "s", "d", lm, "node",
        maxDepth = 2).get
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(capped == Seq((2L, 2L, 3L, 1.5), (3L, 2L, 3L, 1.5)),
      s"$capped")
    val repart = Graph.harmonicCentrality(sym.repartition(7), "s", "d",
        lm, "node", maxDepth = 3).get
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(repart == got, "must be deterministic across partitionings")
    assert(Graph.harmonicCentrality(sym, "s", "d", lm, "node",
      maxDepth = 0).isFailing)
    assert(Graph.harmonicCentrality(sym, "s", "d", lm, "node",
      maxDepth = 21).isFailing)
  }

  test("connectedComponentsStar: 200-hop path converges exactly in " +
      "O(log n) rounds where min-label propagation cannot") {
    val path = (0L until 199L).map(i => (i, i + 1))
    val e = path.toDF("s", "d")
    // 12 rounds ≪ the 199-hop diameter: star contraction must still
    // converge exactly (log₂ 200 ≈ 8)
    val lab = Graph.connectedComponentsStar(e, "s", "d", maxRounds = 12).get
      .as[(Long, Long)].collect().toMap
    assert(lab.size == 200 && lab.values.forall(_ == 0L),
      s"every path node must label 0: ${lab.filter(_._2 != 0L)}")
    // the min-label loop at the same budget genuinely fails here (the
    // gap this operator exists to close) — IgnorableFail partial with
    // the fallback disabled; with the DEFAULT fallback the same call
    // converges exactly via this operator
    assert(Graph.connectedComponents(e, "s", "d", maxIter = 12,
      maxDriverEdges = 0L, starFallback = false).isFailing)
    val rescued = Graph.connectedComponents(e, "s", "d", maxIter = 12,
      maxDriverEdges = 0L).get.as[(Long, Long)].collect().toMap
    assert(rescued == lab, "star fallback must produce the exact labels")
  }

  test("connectedComponentsStar: multiple components, determinism, " +
      "agreement with duplicateClusters, round-cap failure") {
    val rnd = new scala.util.Random(23L)
    val e = Seq.tabulate(300)(_ =>
      (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter(p => p._1 != p._2).toDF("s", "d")
    val star = Graph.connectedComponentsStar(e, "s", "d").get
      .as[(Long, Long)].collect().toMap
    val viaClusters = Graph.connectedComponents(e, "s", "d").get
      .as[(Long, Long)].collect().toMap
    assert(star == viaClusters,
      "star contraction must produce the same min-label components")
    val repart = Graph.connectedComponentsStar(e.repartition(7), "s", "d").get
      .as[(Long, Long)].collect().toMap
    assert(star == repart, "must be deterministic across partitionings")
    // a 50-hop path cannot finish in 1 round — IgnorableFail partial
    val longPath = (0L until 50L).map(i => (i, i + 1)).toDF("s", "d")
    val failing = Graph.connectedComponentsStar(longPath, "s", "d",
      maxRounds = 1)
    assert(failing.isFailing)
    assert(Graph.connectedComponentsStar(e, "s", "d", maxRounds = 0).isFailing)
  }

  test("connectedComponentsStar warm start: seeded == cold labels, " +
      "in strictly fewer rounds") {
    // snapshot N = a 300-hop chain; snapshot N+1 grows it by 100 hops.
    // Seeding N+1 with N's labels must not change the answer (the seed
    // is a star around node 0) and must cut the contraction rounds.
    val oldEdges = (0L until 300L).map(i => (i, i + 1)).toDF("s", "d")
    val newEdges = (0L until 400L).map(i => (i, i + 1)).toDF("s", "d")
    val (seedLab, _) = Graph.connectedComponentsStarRounds(
      oldEdges, "s", "d").get
    val (cold, coldRounds) = Graph.connectedComponentsStarRounds(
      newEdges, "s", "d").get
    val (warm, warmRounds) = Graph.connectedComponentsStarRounds(
      newEdges, "s", "d", seed = Some(seedLab)).get
    val coldMap = cold.as[(Long, Long)].collect().toMap
    val warmMap = warm.as[(Long, Long)].collect().toMap
    assert(warmMap == coldMap,
      s"seeded labels diverged: ${warmMap.toSet.diff(coldMap.toSet)}")
    assert(coldMap.size == 401 && coldMap.values.forall(_ == 0L))
    assert(warmRounds < coldRounds,
      s"warm start must cut rounds: warm=$warmRounds cold=$coldRounds")
    // a warm re-run on an UNCHANGED snapshot is ~immediate
    val (_, rerunRounds) = Graph.connectedComponentsStarRounds(
      newEdges, "s", "d", seed = Some(warm)).get
    assert(rerunRounds <= 2, s"unchanged-snapshot re-run: $rerunRounds")
  }

  test("duplicateClusters warm start: seeded min-label converges where " +
      "cold cannot, with identical labels") {
    // 62-hop chain through the PAIR entry point with the distributed
    // loop forced and a 4-round budget: cold min-label CANNOT converge
    // (IgnorableFail with the fallback off); seeded with the previous
    // 60-hop snapshot's labels, the prior min rides the seed star to
    // every old node in round 1 and only the 2-hop GROWTH tail needs
    // propagation — the SAME budget suffices.
    import graft.operators.Dedup
    val oldPairs = (0L until 60L).map(i => (i, i + 1)).toDF("idA", "idB")
    val newPairs = (0L until 62L).map(i => (i, i + 1)).toDF("idA", "idB")
    val seedLab = Dedup.duplicateClusters(oldPairs).get
    val cold = Dedup.duplicateClusters(newPairs, maxIter = 4,
      maxDriverEdges = 0L, starFallback = false)
    assert(cold.isFailing, "cold 4-round min-label must not converge")
    val warm = Dedup.duplicateClusters(newPairs, maxIter = 4,
      maxDriverEdges = 0L, starFallback = false, seed = Some(seedLab))
    assert(!warm.isFailing, "seeded min-label must converge in budget")
    val warmMap = warm.get.as[(Long, Long)].collect().toMap
    assert(warmMap.size == 63 && warmMap.values.forall(_ == 0L),
      s"seeded labels wrong: ${warmMap.filter(_._2 != 0L)}")
  }

  test("duplicateClusters warm start keeps SELF-LABELED singleton seed " +
      "rows (r12 ADVICE): untouched ones stay, connected ones re-label") {
    import graft.operators.Dedup
    // seed: cluster {5,6} labeled 5, plus singletons (9,9) and (2,2);
    // today's pairs connect 1-2 (so 2's singleton label re-minimizes to
    // 1) and leave 9 untouched (it must still appear as (9, 9))
    val seed = Seq((5L, 5L), (6L, 5L), (9L, 9L), (2L, 2L)).toDF("id", "cluster")
    val pairs = Seq((1L, 2L)).toDF("idA", "idB")
    val expected = Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L, 9L -> 9L)
    val viaDriver = Dedup.duplicateClusters(pairs, seed = Some(seed)).get
      .as[(Long, Long)].collect().toMap
    assert(viaDriver == expected, s"driver path: $viaDriver")
    val viaLoop = Dedup.duplicateClusters(pairs, maxDriverEdges = 0L,
        seed = Some(seed)).get
      .as[(Long, Long)].collect().toMap
    assert(viaLoop == expected, s"distributed path: $viaLoop")
  }

  test("louvain: levels=1 equals louvainMove; extra levels are idempotent " +
      "once converged") {
    val k4a = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val k4b = for (i <- 5L to 8L; j <- (i + 1) to 8L) yield (i, j)
    val e = (k4a ++ k4b :+ ((4L, 5L))).toDF("s", "d")
    val move = Graph.louvainMove(e, "s", "d", passes = 6).get
      .as[(Long, Long)].collect().toMap
    val lvl1 = Graph.louvain(e, "s", "d", passes = 6, levels = 1).get
      .as[(Long, Long)].collect().toMap
    assert(lvl1 == move, "levels=1 must reproduce the local-move labels")
    // the two-clique labeling is optimal: coarser levels must not
    // change the PARTITION (labels may be renamed by contraction)
    val lvl3 = Graph.louvain(e, "s", "d", passes = 6, levels = 3).get
      .as[(Long, Long)].collect().toMap
    def parts(m: Map[Long, Long]): Set[Set[Long]] =
      m.groupBy(_._2).values.map(_.keySet).toSet
    assert(parts(lvl3) == parts(lvl1),
      s"stalled levels must be idempotent: $lvl3 vs $lvl1")
  }

  test("louvainMove: warm-start continuation is bit-identical to the " +
      "uninterrupted run; new nodes seed singleton") {
    val k4a = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val k4b = for (i <- 5L to 8L; j <- (i + 1) to 8L) yield (i, j)
    val e = (k4a ++ k4b :+ ((4L, 5L))).toDF("s", "d")
    val cold = Graph.louvainMove(e, "s", "d", passes = 6).get
      .as[(Long, Long)].collect().toMap
    // 4 passes, then resume for 2 with the parity schedule continued:
    // identical labels — the snapshot-resume contract
    val half = Graph.louvainMove(e, "s", "d", passes = 4).get
    val resumed = Graph.louvainMove(e, "s", "d", passes = 2,
        seed = Some(half), firstPass = 5).get
      .as[(Long, Long)].collect().toMap
    assert(resumed == cold,
      s"warm continuation diverged from the cold run: $resumed vs $cold")
    // seed rows for vanished nodes drop; unseeded nodes start singleton
    // (a seed naming only node 1 must not disturb the converged result)
    val partial = Seq((1L, 1L), (99L, 7L)).toDF("node", "community")
    val seeded = Graph.louvainMove(e, "s", "d", passes = 6,
        seed = Some(partial)).get
      .as[(Long, Long)].collect().toMap
    assert(seeded.keySet == (1L to 8L).toSet,
      s"vanished seed node leaked into the output: ${seeded.keySet}")
    assert(Graph.louvainMove(e, "s", "d", firstPass = 0).isFailing)
  }

  test("louvain: a converged seed is returned unchanged (no regression " +
      "below the carried-over partition); a singleton seed matches cold") {
    val k4a = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val k4b = for (i <- 5L to 8L; j <- (i + 1) to 8L) yield (i, j)
    val e = (k4a ++ k4b :+ ((4L, 5L))).toDF("s", "d")
    def parts(m: Map[Long, Long]): Set[Set[Long]] =
      m.groupBy(_._2).values.map(_.keySet).toSet
    val cold = Graph.louvain(e, "s", "d", passes = 6, levels = 2).get
      .as[(Long, Long)].collect().toMap
    // seed with the converged labels: every level is rejected against
    // the seed's own numerator, so the SEED labeling itself returns
    val warm = Graph.louvain(e, "s", "d", passes = 6, levels = 2,
        seed = Some(Graph.louvain(e, "s", "d", passes = 6, levels = 2).get))
      .get.as[(Long, Long)].collect().toMap
    assert(parts(warm) == parts(cold),
      s"warm start regressed the converged partition: $warm vs $cold")
    // an explicit singleton seed has the singleton baseline — cold run
    val singleton = e.select($"s".as("node")).union(e.select($"d".as("node")))
      .distinct().select($"node", $"node".as("community"))
    val fromSingleton = Graph.louvain(e, "s", "d", passes = 6, levels = 2,
        seed = Some(singleton)).get
      .as[(Long, Long)].collect().toMap
    assert(parts(fromSingleton) == parts(cold),
      s"singleton seed diverged from cold: $fromSingleton vs $cold")
  }

  test("louvain: coarsening merges what local moves under-merge " +
      "(clique ring), modularity non-decreasing across levels") {
    // ring of 8 triangles, consecutive triangles bridged: local moves
    // find the triangles; phase-2 contraction can merge neighboring
    // triangles into larger communities when it helps Q
    val tris = (0 until 8).flatMap { t =>
      val b = t * 3L
      Seq((b, b + 1), (b, b + 2), (b + 1, b + 2))
    }
    val bridges = (0 until 8).map { t =>
      (t * 3L + 2, ((t + 1) % 8) * 3L)
    }
    val e = (tris ++ bridges).toDF("s", "d")
    def q(levels: Int): Double = {
      val lab = Graph.louvain(e, "s", "d", passes = 4, levels = levels).get
      Graph.modularity(e, "s", "d", lab, "node", "community").get
        .select("q").as[Option[Double]].collect().head.get
    }
    val q1 = q(1)
    val q2 = q(2)
    val q3 = q(3)
    assert(q2 >= q1 - 1e-12 && q3 >= q2 - 1e-12,
      s"modularity must not decrease across levels: $q1 -> $q2 -> $q3")
    assert(q1 > 0.3, s"level-1 must already beat random: $q1")
    // determinism across partitionings at 2 levels
    val a = Graph.louvain(e, "s", "d", passes = 4, levels = 2).get
      .as[(Long, Long)].collect().toMap
    val b = Graph.louvain(e.repartition(7), "s", "d", passes = 4,
      levels = 2).get.as[(Long, Long)].collect().toMap
    assert(a == b, "louvain must be deterministic across partitionings")
  }

  test("louvain: hierarchical graph — level 2 strictly merges triangles " +
      "into groups that local moves cannot reach") {
    // 4 groups of 3 triangles; sibling triangles share TWO bridges
    // (dense enough that merging them raises Q), consecutive groups
    // share one. Level 1 finds triangles; only the contracted level
    // can weigh whole-triangle merges.
    def tri(t: Int): Seq[(Long, Long)] = {
      val b = t * 3L
      Seq((b, b + 1), (b, b + 2), (b + 1, b + 2))
    }
    val groups = 0 until 4
    val tris = groups.flatMap(g => (0 until 3).flatMap(i => tri(g * 3 + i)))
    val within = groups.flatMap { g =>
      val t = (0 until 3).map(i => (g * 3 + i) * 3L)
      Seq((t(0), t(1)), (t(0) + 1, t(1) + 1),
        (t(0), t(2)), (t(0) + 2, t(2) + 2),
        (t(1), t(2)), (t(1) + 1, t(2) + 1))
    }
    val between = groups.map(g => (g * 9L + 8, ((g + 1) % 4) * 9L))
    val e = (tris ++ within ++ between).toDF("s", "d")
    def labelsAt(levels: Int): Map[Long, Long] =
      Graph.louvain(e, "s", "d", passes = 4, levels = levels).get
        .as[(Long, Long)].collect().toMap
    def qOf(m: Map[Long, Long]): Double = {
      val lab = m.toSeq.toDF("node", "community")
      Graph.modularity(e, "s", "d", lab, "node", "community").get
        .select("q").as[Option[Double]].collect().head.get
    }
    val l1 = labelsAt(1)
    val l2 = labelsAt(2)
    assert(qOf(l2) > qOf(l1),
      s"level 2 must strictly improve Q here: ${qOf(l1)} -> ${qOf(l2)}")
    assert(l2.values.toSet.size < l1.values.toSet.size,
      "level 2 must merge communities")
  }

  test("louvain: weighted contraction arithmetic — barbell of cliques " +
      "collapses to super-nodes whose self/cross weights reproduce Q") {
    // 3 K4s in a path, double bridges so contraction carries weight 2
    val cls = (0 until 3).flatMap { t =>
      val b = t * 4L
      for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (b + i, b + j)
    }
    val bridges = Seq((3L, 4L), (2L, 5L), (7L, 8L), (6L, 9L))
    val e = (cls ++ bridges).toDF("s", "d")
    val lab = Graph.louvain(e, "s", "d", passes = 6, levels = 2).get
      .as[(Long, Long)].collect().toMap
    // each K4 must stay intact (never split across communities)
    (0 until 3).foreach { t =>
      val ids = (t * 4L until t * 4L + 4).map(lab).toSet
      assert(ids.size == 1, s"clique $t split: $lab")
    }
    assert(Graph.louvain(e, "s", "d", passes = 0).isFailing)
    assert(Graph.louvain(e, "s", "d", levels = 0).isFailing)
    assert(Graph.louvain(e.filter(lit(false)), "s", "d").isFailing)
  }

  test("ssspWeighted: shortcut beats direct edge, hop bound, parallel min") {
    // 1→2 (5), 1→3 (1, plus a parallel 7 that must lose), 3→2 (1),
    // 2→4 (1): dists from {1} are 0/2/1/3 — node 2 via the shortcut
    val e = Seq((1L, 2L, 5.0), (1L, 3L, 1.0), (1L, 3L, 7.0),
      (3L, 2L, 1.0), (2L, 4L, 1.0)).toDF("s", "d", "w")
    val seeds = Seq(1L).toDF("n")
    val got = Graph.ssspWeighted(e, "s", "d", "w", seeds, "n").get
      .as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 0.0, 2L -> 2.0, 3L -> 1.0, 4L -> 3.0))
    // one round: only direct relaxations (2 keeps the heavy edge)
    val one = Graph.ssspWeighted(e, "s", "d", "w", seeds, "n",
        maxRounds = 1).get
      .as[(Long, Double)].collect().toMap
    assert(one == Map(1L -> 0.0, 2L -> 5.0, 3L -> 1.0))
    // empty seed set: empty result, no blowup
    assert(Graph.ssspWeighted(e, "s", "d", "w",
      seeds.filter($"n" =!= $"n"), "n").get.count() == 0)
  }

  test("degreeDistribution: modes, histogram, CDF") {
    // 1→2, 1→3, 2→3: out-degrees {1:2, 2:1}; in {2:1, 3:2};
    // both {1:2, 2:2, 3:2}
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("s", "d")
    def m(mode: String) = Graph.degreeDistribution(e, "s", "d", mode).get
      .as[(Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    val out = m("src")
    assert(out(1L)._2 == 1L && out(2L)._2 == 1L && out(1L)._3 == 2L)
    val in = m("dst")
    assert(in(1L)._2 == 1L && in(2L)._2 == 1L)
    val both = m("both")
    assert(both.keySet == Set(2L) && both(2L)._2 == 3L &&
      both(2L)._4 == 1.0 && both(2L)._5 == 1.0)
    // CDF is monotone and ends at 1
    val cdf = Graph.degreeDistribution(e, "s", "d", "src").get
      .orderBy("degree").select("cum_share").as[Double].collect()
    assert(cdf.sameElements(cdf.sorted) && math.abs(cdf.last - 1.0) < 1e-12)
    assert(Graph.degreeDistribution(e, "s", "d", "bogus").isFailing)
  }

  test("harmonicCloseness: per-landmark depths under one composite key") {
    // path 1-2-3-4 (undirected) with landmarks {1, 4}:
    //   node 2: d(1)=1, d(4)=2 → 1.5;  node 3: symmetric → 1.5
    //   node 1: d(4)=3 → 1/3;  node 4: d(1)=3 → 1/3 (self excluded)
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("s", "d")
    val e = und.union(und.select($"d", $"s"))
    val lms = Seq(1L, 4L).toDF("lm")
    val got = Graph.harmonicCloseness(e, "s", "d", lms, "lm").get
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    assert(got(2L)._1 == 2L && math.abs(got(2L)._2 - 1.5) < 1e-12)
    assert(got(3L)._1 == 2L && math.abs(got(3L)._2 - 1.5) < 1e-12)
    assert(got(1L)._1 == 1L && math.abs(got(1L)._2 - 1.0 / 3) < 1e-12)
    assert(got(4L)._1 == 1L && math.abs(got(4L)._2 - 1.0 / 3) < 1e-12)
    // depth cap: maxDepth 1 sees only direct neighbors
    val capped = Graph.harmonicCloseness(e, "s", "d", lms, "lm",
        maxDepth = 1).get
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(capped == Map(2L -> 1.0, 3L -> 1.0))
    // disconnected landmark contributes nothing beyond itself
    val got2 = Graph.harmonicCloseness(e, "s", "d",
        Seq(1L, 99L).toDF("lm"), "lm").get
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._2).toMap
    assert(!got2.contains(99L) && got2(2L) == 1L)
  }

  test("iterative operators release superseded checkpoints (no storage leak)") {
    // per-iteration localCheckpoints must be unpersisted once superseded:
    // after the run, only the RESULT's own checkpoint may remain pinned,
    // and releasing it returns storage to the pre-call baseline.
    val sc = spark.sparkContext
    def pinned(): Int = sc.getPersistentRDDs.size
    // one-sided bounds: the async ContextCleaner may collect leftovers
    // from OTHER suites mid-test, so the baseline can only shrink
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
      .toDF("s", "d")
    for (_ <- 1 to 2) { // second pass catches cross-invocation growth
      val before = pinned()
      val pr = Graph.pageRank(e, "s", "d", iterations = 5).get
      pr.count()
      assert(pinned() <= before + 1, "pageRank must pin only its result")
      graft.physical.Optimise.releaseCheckpoint(pr)
      assert(pinned() <= before)

      val h = Graph.hits(e, "s", "d", iterations = 4).get
      h.count()
      assert(pinned() <= before + 1, "hits must pin only its result")
      graft.physical.Optimise.releaseCheckpoint(h)
      assert(pinned() <= before)

      val seeds = Seq(1L).toDF("n")
      val b = Graph.bfsDepths(e, "s", "d", seeds, "n", maxDepth = 6).get
      b.count()
      assert(pinned() <= before + 1, "bfsDepths must pin only its result")
      graft.physical.Optimise.releaseCheckpoint(b)
      assert(pinned() <= before)

      val sw = Graph.ssspWeighted(e.withColumn("w", lit(1.0)),
        "s", "d", "w", seeds, "n", maxRounds = 6).get
      sw.count()
      assert(pinned() <= before + 1, "ssspWeighted must pin only its result")
      graft.physical.Optimise.releaseCheckpoint(sw)
      assert(pinned() <= before)

      val kc = Graph.kCore(e.union(e.select($"d", $"s")),
        "s", "d", k = 2).get
      kc.count()
      assert(pinned() <= before + 1, "kCore must pin only its result")
      graft.physical.Optimise.releaseCheckpoint(kc)
      assert(pinned() <= before)

      // counted as the block manager's RDD blocks: getPersistentRDDs is
      // weak-valued and misses a collected RDD whose blocks are still
      // stored. releaseCheckpoint does not block, hence `eventually`
      val path = (0L until 29L).map(i => (i, i + 1)).toDF("s", "d")
      val lm = Seq(1L, 4L).toDF("n")
      val events = Seq((1L, 1L, 10L, "A"), (2L, 1L, 20L, "conv"),
          (3L, 2L, 10L, "B"), (4L, 3L, 10L, "A"), (5L, 3L, 20L, "B"))
        .toDF("event_id", "user_id", "epoch", "t")
        .withColumn("ts", timestamp_seconds($"epoch"))
      val released: Seq[(String, () => DataFrame)] = Seq(
        "connectedComponents" -> (() => Graph.connectedComponents(path, "s", "d",
          maxIter = 40, maxDriverEdges = 0L).get),
        "connectedComponentsStar" -> (() =>
          Graph.connectedComponentsStar(path, "s", "d").get),
        "labelPropagate" -> (() => Graph.labelPropagate(e, "s", "d",
          Seq((1L, "x")).toDF("n", "label"), "n", "label").get),
        "coreNumber" -> (() => Graph.coreNumber(e, "s", "d").get),
        "kTruss" -> (() => Graph.kTruss(e, "s", "d", k = 3).get),
        "harmonicCloseness" -> (() =>
          Graph.harmonicCloseness(e, "s", "d", lm, "n").get),
        "harmonicCentrality" -> (() =>
          Graph.harmonicCentrality(e, "s", "d", lm, "n").get),
        "markovAttribution" -> (() => Behavior.markovAttribution(events,
          "ts", "event_id", "user_id", "t", "conv", iterations = 6).get))
      for ((name, call) <- released) {
        val blocks = RddBlocks(spark)
        val out = call()
        out.count()
        graft.physical.Optimise.releaseCheckpoint(out)
        eventually(timeout(20.seconds)) {
          assert(RddBlocks(spark) <= blocks, s"$name must pin only its result")
        }
      }
    }
  }

  test("coreNumber: H-index propagation reaches the exact coreness") {
    // K4 (coreness 3) + pendant 5 on node 4 (coreness 1) + tail 5-6
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("s", "d")
    val got = Graph.coreNumber(e, "s", "d").get
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      5L -> 1L, 6L -> 1L))
    // star: hub degree 5 but coreness 1 (degree alone is not coreness)
    val star = (2L to 6L).map(i => (1L, i)).toDF("s", "d")
    val s = Graph.coreNumber(star, "s", "d").get
      .as[(Long, Long)].collect().toMap
    assert(s.values.forall(_ == 1L))
    // agreement with kCore: coreness >= k nodes == kCore(k) survivors
    val core2 = Graph.kCore(
        e.select($"s" as "src", $"d" as "dst")
          .union(e.select($"d" as "src", $"s" as "dst")),
        "src", "dst", k = 2L).get
      .select("node").as[Long].collect().toSet
    assert(got.filter(_._2 >= 2L).keySet == core2)
  }

  // a triangle with a 4-hop tail: peeling drops one tail node per round
  private def tailedTriangle = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
    (4L, 5L), (5L, 6L), (6L, 7L)).toDF("s", "d")

  test("kCore: too few rounds is IgnorableFail carrying the shrinking partial") {
    val e = tailedTriangle
    val r = Graph.kCore(e.union(e.select($"d", $"s")), "s", "d", k = 2,
      maxRounds = 1)
    assert(r.isInstanceOf[graft.functional.IgnorableFail[_]])
    assert(r.getError.get.getMessage.contains("kCore"))
    // round 1 peels node 7 only
    assert(r.get.count() == 6L)
  }

  test("coreNumber: too few rounds is IgnorableFail carrying the partial") {
    val r = Graph.coreNumber(tailedTriangle, "s", "d", maxRounds = 1)
    assert(r.isInstanceOf[graft.functional.IgnorableFail[_]])
    assert(r.getError.get.getMessage.contains("coreNumber"))
    assert(r.get.count() == 7L)
  }

  test("kTruss: K4 survives at k=4, pendant triangle peels, cascade empties") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val pendant = Seq((4L, 5L), (4L, 6L), (5L, 6L))
    val e = (k4 ++ pendant).toDF("s", "d")
    // k=4: every K4 edge sits in 2 triangles; the pendant triangle's
    // edges sit in 1 -> peeled in round 1
    val t4 = Graph.kTruss(e, "s", "d", k = 4).get
      .as[(Long, Long, Long)].collect().toSet
    assert(t4 == k4.map { case (a, b) => (a, b, 2L) }.toSet)
    // k=3: everything is in >= 1 triangle within the survivors
    val t3 = Graph.kTruss(e, "s", "d", k = 3).get
      .as[(Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(t3.keySet.size == 9)
    assert(t3((5L, 6L)) == 1L && t3((1L, 2L)) == 2L)
    // two triangles sharing an edge: k=4 cascades to empty (the shared
    // edge alone has support 2, but loses both triangles in round 2)
    val twoTri = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("s", "d")
    assert(Graph.kTruss(twoTri, "s", "d", k = 4).get.count() == 0)
    // a tree has no triangles at all
    val tree = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("s", "d")
    assert(Graph.kTruss(tree, "s", "d", k = 3).get.count() == 0)
    // maxRounds exhaustion surfaces as IgnorableFail with the partial
    val big = Graph.kTruss(twoTri, "s", "d", k = 4, maxRounds = 1)
    assert(big match {
      case graft.functional.IgnorableFail(_, p: org.apache.spark.sql.DataFrame) =>
        p.count() == 1 // only the shared edge survived round 1
      case _ => false
    })
    assert(Graph.kTruss(e, "s", "d", k = 2).isFailing)
  }

  test("reciprocity: mutual edges counted both ways, loops and dups dropped") {
    val e = Seq((1L, 2L), (2L, 1L), (1L, 3L), (4L, 5L), (5L, 5L), (1L, 2L))
      .toDF("s", "d")
    val r = Graph.reciprocity(e, "s", "d").get
      .as[(Long, Long, Option[Double])].head()
    assert(r == ((4L, 2L, Some(0.5))))
    // empty graph: zero edges, NULL ratio
    val empty = Seq((7L, 7L)).toDF("s", "d") // only a loop
    val r2 = Graph.reciprocity(empty, "s", "d").get
      .as[(Long, Long, Option[Double])].head()
    assert(r2 == ((0L, 0L, None)))
  }

  test("attributeAssortativity: assortative vs random labelings") {
    // two triangles + bridge, labels = the triangles: 12 of 14
    // directed edges same-label → r near 1
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L))
    val sym = (tri ++ tri.map(p => (p._2, p._1))).toDF("s", "d")
    val lab = Seq((1L, "A"), (2L, "A"), (3L, "A"),
      (4L, "B"), (5L, "B"), (6L, "B")).toDF("n", "c")
    val r = Graph.attributeAssortativity(sym, "s", "d", lab, "n", "c").get
      .as[(Long, Double, Double, Double)].collect().head
    assert(r._1 == 14L && r._2 == 12.0 / 14)
    // marginals: each label 7/14 on both sides → p_e = 2·(7/14)² = 0.5
    assert(math.abs(r._3 - 0.5) < 1e-12)
    assert(math.abs(r._4 - (12.0 / 14 - 0.5) / 0.5) < 1e-12)
    // one shared label everywhere → expected = 1 → NULL r
    val mono = lab.withColumn("c", org.apache.spark.sql.functions.lit("Z"))
    assert(Graph.attributeAssortativity(sym, "s", "d", mono, "n", "c").get
      .select("r").collect().head.isNullAt(0))
  }

  test("conductance: two triangles with one bridge") {
    // triangles {1,2,3} and {4,5,6} joined by 3-4 (symmetrized):
    // each community: volume 7 (6 internal + 1 bridge out), cut 1,
    // total m 14 → min(7, 7) = 7 → φ = 1/7
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L))
    val sym = (tri ++ tri.map(p => (p._2, p._1))).toDF("s", "d")
    val labels = Seq((1L, "A"), (2L, "A"), (3L, "A"),
      (4L, "B"), (5L, "B"), (6L, "B")).toDF("n", "c")
    val got = Graph.conductance(sym, "s", "d", labels, "n", "c").get
      .orderBy("community")
      .as[(String, Long, Long, Long, Double)].collect()
    assert(got.toSeq == Seq(("A", 3L, 7L, 1L, 1.0 / 7),
      ("B", 3L, 7L, 1L, 1.0 / 7)))
    // a labeled node with no edges: 0 volume, NULL conductance
    val labels2 = labels.union(Seq((9L, "Z")).toDF("n", "c"))
    val z = Graph.conductance(sym, "s", "d", labels2, "n", "c").get
      .filter($"community" === "Z").collect().head
    assert(z.getLong(2) == 0L && z.isNullAt(4))
  }

  test("betweenness: path and star against hand-computed Brandes") {
    def sym(pairs: (Long, Long)*) =
      (pairs ++ pairs.map(p => (p._2, p._1))).toDF("s", "d")
    def all(e: org.apache.spark.sql.DataFrame) =
      e.select($"s".as("node")).union(e.select($"d".as("node"))).distinct()
    // path 1-2-3, all landmarks: only node 2 carries pairs (1↔3) → 2.0
    val path = sym((1L, 2L), (2L, 3L))
    val rp = Graph.betweenness(path, "s", "d", all(path), "node").get
      .orderBy("node").as[(Long, Double)].collect()
    assert(rp.toSeq == Seq((1L, 0.0), (2L, 2.0), (3L, 0.0)))
    // single landmark 1: only the 1→3 dependency → bc(2) = 1
    val lm1 = Seq(1L).toDF("node")
    val r1 = Graph.betweenness(path, "s", "d", lm1, "node").get
      .orderBy("node").as[(Long, Double)].collect()
    assert(r1.toSeq == Seq((1L, 0.0), (2L, 1.0), (3L, 0.0)))
    // star: hub 10 with leaves 1,2,3 → 3·2 ordered leaf pairs → 6
    val star = sym((10L, 1L), (10L, 2L), (10L, 3L))
    val rs = Graph.betweenness(star, "s", "d", all(star), "node").get
      .orderBy("node").as[(Long, Double)].collect().toMap
    assert(rs(10L) == 6.0 && rs(1L) == 0.0 && rs(2L) == 0.0 && rs(3L) == 0.0)
    // two shortest paths split sigma: square 1-2-4, 1-3-4 (+ sym):
    // from 1: sigma(4) = 2 via 2 and 3 → delta(2) = delta(3) = 1/2
    val square = sym((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
    val rq = Graph.betweenness(square, "s", "d", Seq(1L).toDF("node"),
        "node").get
      .orderBy("node").as[(Long, Double)].collect().toMap
    assert(rq(2L) == 0.5 && rq(3L) == 0.5 && rq(4L) == 0.0)
    // maxDepth truncates dependencies beyond the horizon
    val chain = sym((1L, 2L), (2L, 3L), (3L, 4L))
    val rc = Graph.betweenness(chain, "s", "d", Seq(1L).toDF("node"),
        "node", maxDepth = 1).get
      .orderBy("node").as[(Long, Double)].collect().toMap
    assert(rc.values.forall(_ == 0.0))
  }
}
