package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GraphSpec extends AnyFunSuite with SparkTestBase {

  /** Driver-side reference: the exact integer recurrence, plain maps. */
  private def refPagerank(nodes: Seq[Long], edges: Seq[(Long, Long)],
      iters: Int): Map[Long, Long] = {
    val outdeg = edges.groupBy(_._1).map { case (s, es) => (s, es.size.toLong) }
    var r = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val in = scala.collection.mutable.HashMap.empty[Long, Long]
      edges.foreach { case (s, d) =>
        in(d) = in.getOrElse(d, 0L) + (85L * r(s)) / (100L * outdeg(s))
      }
      r = nodes.map(v => v -> (150000L + in.getOrElse(v, 0L))).toMap
    }
    r
  }

  private def run(nodes: Seq[Long], edges: Seq[(Long, Long)], iters: Int,
      parts: Int = 4): Map[Long, Long] = {
    import spark.implicits._
    val e = edges.toDF("s", "d").repartition(parts)
    val n = nodes.toDF("v").repartition(parts)
    graft.ops.Graph.pagerank(e, "s", "d", n, "v", iters)
      .as[(Long, Long)].collect().toMap
  }

  // cycle 0→1→2→0 with an extra 0→2, node 3 isolated, node 4 dangling
  // (in-edge from 1, no out-edges)
  private val nodes = Seq(0L, 1L, 2L, 3L, 4L)
  private val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L), (1L, 4L))

  test("pagerank == BigInt-free integer reference on a hand graph, iters 0..3") {
    for (it <- 0 to 3)
      assert(run(nodes, edges, it) == refPagerank(nodes, edges, it),
        s"mismatch at iters=$it")
  }

  test("isolated node holds exactly the teleport floor; dangling mass is dropped") {
    val r = run(nodes, edges, 2)
    assert(r(3L) == 150000L)
    // node 4 absorbs but never emits: total mass strictly decreases
    assert(r.values.sum < nodes.size * 1000000L)
  }

  test("parallel edge doubles the neighbor's contribution") {
    // single edge vs doubled edge out of a source with only that target
    val r1 = run(Seq(0L, 1L), Seq((0L, 1L)), 1)
    val r2 = run(Seq(0L, 1L), Seq((0L, 1L), (0L, 1L)), 1)
    // outdeg 1: contrib 850000; outdeg 2: 2 × 425000 — same total here,
    // but against a competing target the doubling shows:
    val r3 = run(Seq(0L, 1L, 2L), Seq((0L, 1L), (0L, 1L), (0L, 2L)), 1)
    assert(r1(1L) == 150000L + 850000L)
    assert(r2(1L) == 150000L + 2L * 425000L)
    assert(r3(1L) == 150000L + 2L * (85L * 1000000L / 300L)
      && r3(2L) == 150000L + 85L * 1000000L / 300L)
  }

  test("partition-count invariance on a pseudo-random graph") {
    val rng = new scala.util.Random(47)
    val ns = (0L until 60L).toSeq
    val es = Seq.fill(180)((rng.nextInt(60).toLong, rng.nextInt(60).toLong))
    val expect = refPagerank(ns, es, 3)
    for (p <- Seq(1, 3, 8))
      assert(run(ns, es, 3, parts = p) == expect, s"mismatch at parts=$p")
  }

  test("iters=0 returns the uniform init for every node") {
    assert(run(nodes, edges, 0).values.toSet == Set(1000000L))
  }

  test("iters=0 pins nothing: no RDD left persisted after the result is read") {
    import spark.implicits._
    val e = edges.toDF("s", "d")
    val n = nodes.toDF("v")
    def pinned = spark.sparkContext.getPersistentRDDs.keySet
    for ((name, pr) <- Seq("pagerank" -> graft.ops.Graph.pagerank _,
        "pagerankKeyed" -> graft.ops.Graph.pagerankKeyed _)) {
      val before = pinned
      assert(pr(e, "s", "d", n, "v", 0).collect().length == nodes.size)
      assert((pinned -- before).isEmpty, s"$name(iters = 0) left RDDs persisted")
    }
  }

  /** Driver-side triangle reference: brute force over canonical node
    * triples of the simple undirected graph. */
  private def refTriangles(nodes: Seq[Long],
      edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val e = edges.collect { case (a, b) if a != b =>
      (math.min(a, b), math.max(a, b)) }.toSet
    val counts = scala.collection.mutable.HashMap.empty[Long, Long]
        .withDefaultValue(0L)
    val vs = nodes.sorted
    for {
      i <- vs.indices; j <- (i + 1) until vs.size; k <- (j + 1) until vs.size
      if e((vs(i), vs(j))) && e((vs(i), vs(k))) && e((vs(j), vs(k)))
    } { counts(vs(i)) += 1; counts(vs(j)) += 1; counts(vs(k)) += 1 }
    nodes.map(v => v -> counts(v)).toMap
  }

  private def runTriangles(nodes: Seq[Long], edges: Seq[(Long, Long)],
      parts: Int = 4): Map[Long, Long] = {
    import spark.implicits._
    val e = edges.toDF("s", "d").repartition(parts)
    val n = nodes.toDF("v").repartition(parts)
    graft.ops.Graph.triangleCounts(e, "s", "d", n, "v")
      .as[(Long, Long)].collect().toMap
  }

  test("triangleCounts: hand graph — K4 plus a pendant, messy encoding") {
    // K4 on {0,1,2,3}: 4 triangles, each node in C(3,2)=3 of them.
    // Node 4 pendant (edge to 0 only): 0 triangles. Node 5 isolated.
    // Encoding noise the canonicalization must absorb: both directions,
    // duplicates, and a self-loop.
    val k4 = for (i <- 0L to 3L; j <- 0L to 3L if i < j) yield (i, j)
    val messy = k4 ++ k4.map(_.swap) ++ Seq((0L, 1L), (2L, 2L), (4L, 0L))
    val got = runTriangles(Seq(0L, 1L, 2L, 3L, 4L, 5L), messy)
    assert(got == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 0L, 5L -> 0L))
  }

  test("triangleCounts == brute force on pseudo-random graphs, any partitioning") {
    val rng = new scala.util.Random(101)
    val ns = (0L until 40L).toSeq
    val es = Seq.fill(220)((rng.nextInt(40).toLong, rng.nextInt(40).toLong))
    val expect = refTriangles(ns, es)
    assert(expect.values.sum > 0, "fixture must actually contain triangles")
    for (p <- Seq(1, 3, 8))
      assert(runTriangles(ns, es, parts = p) == expect, s"mismatch at parts=$p")
  }

  test("clusteringCoeff: K4+pendant by hand — exact trunc-micros, degree<2 convention") {
    import spark.implicits._
    val k4 = for (i <- 0L to 3L; j <- 0L to 3L if i < j) yield (i, j)
    val es = k4 ++ Seq((0L, 4L))
    val got = graft.ops.Graph.clusteringCoeff(
        es.toDF("s", "d"), "s", "d", (0L to 5L).toDF("v"), "v")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // node 0: deg 4 (K4 + pendant), T=3 → 6e6/12 = 500000
    assert(got(0L) == (4L, 3L, 500000L))
    // nodes 1..3: deg 3, T=3 → 6e6/6 = 1000000 (fully clustered)
    (1L to 3L).foreach(i => assert(got(i) == (3L, 3L, 1000000L)))
    // pendant: deg 1 → no wedges → 0 by convention; isolated → all zero
    assert(got(4L) == (1L, 0L, 0L) && got(5L) == (0L, 0L, 0L))
  }

  /** Driver-side peel reference. */
  private def refKCore(nodes: Seq[Long], edges: Seq[(Long, Long)], k: Int,
      rounds: Int): Map[Long, (Long, Long)] = {
    var live = edges.collect { case (a, b) if a != b =>
      (math.min(a, b), math.max(a, b)) }.distinct
    val removedAt = scala.collection.mutable.HashMap.empty[Long, Long]
    for (r <- 1 to rounds) {
      val deg = live.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
        .map { case (n, xs) => (n, xs.size) }
      val frontier = nodes.filter(n =>
        !removedAt.contains(n) && deg.getOrElse(n, 0) < k).toSet
      frontier.foreach(n => removedAt(n) = r.toLong)
      live = live.filter(e => !frontier(e._1) && !frontier(e._2))
    }
    val finalDeg = live.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .map { case (n, xs) => (n, xs.size.toLong) }
    nodes.map(n => n -> (removedAt.getOrElse(n, 0L), finalDeg.getOrElse(n, 0L))).toMap
  }

  test("kCorePeel: cascade peeling, orphaned-hub catch, reference equality on random graphs") {
    import spark.implicits._
    def run(ns: Seq[Long], es: Seq[(Long, Long)], k: Int, rounds: Int) =
      graft.ops.Graph.kCorePeel(es.toDF("s", "d"), "s", "d", ns.toDF("v"), "v", k, rounds)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // K4 with pendant chain 0-4-5: k=2 peels 5 (round 1) then 4 (round 2)
    val k4 = for (i <- 0L to 3L; j <- 0L to 3L if i < j) yield (i, j)
    val chain = k4 ++ Seq((0L, 4L), (4L, 5L))
    val got = run(0L to 5L, chain, k = 2, rounds = 4)
    assert(got(5L) == (1L, 0L) && got(4L) == (2L, 0L))
    (0L to 3L).foreach(i => assert(got(i) == (0L, 3L)))
    // star: leaves peel round 1; the ORPHANED hub (all edges gone, no
    // degree row) must peel round 2, not survive silently
    val star = (1L to 5L).map(i => (0L, i))
    val s = run(0L to 5L, star, k = 2, rounds = 3)
    assert((1L to 5L).forall(i => s(i) == (1L, 0L)), s.toString)
    assert(s(0L) == (2L, 0L), s"orphaned hub must peel in round 2: ${s(0L)}")
    // random graphs == driver reference across k
    val rng = new scala.util.Random(7)
    val ns = (0L until 30L).toSeq
    val es = Seq.fill(120)((rng.nextInt(30).toLong, rng.nextInt(30).toLong))
    for (k <- Seq(2, 4, 6))
      assert(run(ns, es, k, 5) == refKCore(ns, es, k, 5), s"k=$k")
  }

  /** Driver-side AA reference (full wedge census, no cap). */
  private def refAA(edges: Seq[(Long, Long)], minCommon: Int,
      maxDegree: Int): Map[(Long, Long), (Long, Long, Boolean)] = {
    val e = edges.collect { case (a, b) if a != b =>
      (math.min(a, b), math.max(a, b)) }.toSet
    val nbr = e.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (u, xs) => (u, xs.map(_._2).toSet) }
    def f(d: Int): Long = math.floor(1000000.0 / math.log(d.toDouble) + 0.5).toLong
    val centers = nbr.filter { case (_, xs) => xs.size <= maxDegree }
    val acc = scala.collection.mutable.HashMap.empty[(Long, Long), (Long, Long)]
    for ((u, xs) <- centers; v <- xs; w <- xs if v < w) {
      val k = (v, w)
      val (cn, aa) = acc.getOrElse(k, (0L, 0L))
      acc(k) = (cn + 1, aa + f(xs.size))
    }
    acc.filter(_._2._1 >= minCommon)
      .map { case (k, (cn, aa)) => (k, (cn, aa, e(k))) }.toMap
  }

  test("adamicAdar: hand pairs on K4+pendant; reference equality; hub cap drops wedges") {
    import spark.implicits._
    def run(es: Seq[(Long, Long)], minCommon: Int, maxDeg: Int) =
      graft.ops.Graph.adamicAdar(es.toDF("s", "d"), "s", "d", minCommon, maxDeg)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    val k4 = for (i <- 0L to 3L; j <- 0L to 3L if i < j) yield (i, j)
    val es = k4 ++ Seq((0L, 4L))
    val got = run(es, 2, 1000)
    def f(d: Int): Long = math.floor(1000000.0 / math.log(d.toDouble) + 0.5).toLong
    // pair (1,2): common {0 (deg 4), 3 (deg 3)}, linked
    assert(got((1L, 2L)) == (2L, f(4) + f(3), true))
    // (1,4) has only common {0} → filtered at minCommon=2
    assert(!got.contains((1L, 4L)))
    assert(got == refAA(es, 2, 1000))
    // random graph, incl. UNLINKED candidate pairs surfacing
    val rng = new scala.util.Random(31)
    val res = Seq.fill(150)((rng.nextInt(30).toLong, rng.nextInt(30).toLong))
    val gr = run(res, 2, 1000)
    assert(gr == refAA(res, 2, 1000) && gr.exists(!_._2._3),
      "must surface unlinked candidates")
    // degree cap: star hub (deg 5) excluded at maxDegree=4 — leaf
    // pairs lose their only common neighbor
    val star = (1L to 5L).map(i => (0L, i))
    assert(run(star, 1, 4).isEmpty && run(star, 1, 1000).size == 10)
  }

  test("triangleCounts: skewed star + rim — degree orientation bounds wedges, counts stay exact") {
    // hub 0 connected to every rim node; rim is a cycle 1..12 —
    // triangles are exactly (0, i, i+1): 12 of them. The hub has degree
    // 12 but orientation points every hub edge AWAY from low-degree rim
    // nodes toward the hub, so no wedge explosion at the hub.
    val rim = (1L to 12L)
    val es = rim.map(i => (0L, i)) ++ rim.map(i => (i, if (i == 12L) 1L else i + 1L))
    val got = runTriangles(0L +: rim, es)
    assert(got(0L) == 12L && rim.forall(i => got(i) == 2L))
  }

  private def runBfs(nodes: Seq[Long], edges: Seq[(Long, Long)],
      seeds: Seq[Long], rounds: Int, parts: Int = 4): Map[Long, Long] = {
    import spark.implicits._
    graft.ops.Graph.bfsLayers(
        edges.toDF("s", "d").repartition(parts), "s", "d",
        nodes.toDF("v").repartition(parts), "v",
        seeds.toDF("x"), "x", rounds)
      .as[(Long, Long)].collect().toMap
  }

  test("bfsLayers: path graph — exact hop distances, round budget truncates, -1 unreached") {
    // path 0-1-2-3-4-5, isolated 9; seed {0}
    val nodes = Seq(0L, 1L, 2L, 3L, 4L, 5L, 9L)
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(runBfs(nodes, edges, Seq(0L), 5) ==
      Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 5L, 9L -> -1L))
    // budget 2: nodes past hop 2 stay unreached
    assert(runBfs(nodes, edges, Seq(0L), 2) ==
      Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> -1L, 4L -> -1L, 5L -> -1L, 9L -> -1L))
  }

  private def runLpa(nodes: Seq[Long], edges: Seq[(Long, Long)],
      rounds: Int, parts: Int = 4): Map[Long, Long] = {
    import spark.implicits._
    graft.ops.Graph.labelPropagation(
        edges.toDF("s", "d").repartition(parts), "s", "d",
        nodes.toDF("v").repartition(parts), "v", rounds)
      .as[(Long, Long)].collect().toMap
  }

  test("labelPropagation: synchronous round semantics, smallest-label ties, isolated keep-own") {
    // path 0-1-2, isolated 9. Round 1 (synchronous, from init labels):
    // 0 sees {1}→1; 1 sees {0,2}, tie → smaller = 0; 2 sees {1}→1.
    val nodes = Seq(0L, 1L, 2L, 9L)
    val edges = Seq((0L, 1L), (1L, 2L))
    assert(runLpa(nodes, edges, 1) ==
      Map(0L -> 1L, 1L -> 0L, 2L -> 1L, 9L -> 9L))
    // round 2 from (1, 0, 1): 0 sees {0}→0; 1 sees {1,1}→1; 2 sees {0}→0
    assert(runLpa(nodes, edges, 2) ==
      Map(0L -> 0L, 1L -> 1L, 2L -> 0L, 9L -> 9L))
    // rounds = 0 is the identity labeling
    assert(runLpa(nodes, edges, 0) == nodes.map(v => v -> v).toMap)
  }

  test("labelPropagation: dense community absorbs its pendant, bridge holds distinct communities") {
    // K4 {0,1,2,3} + pendant 4-3, bridged to K4' {10,11,12,13} via 3-10
    val k4a = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L))
    val k4b = Seq((10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L),
      (11L, 13L), (12L, 13L))
    val nodes = Seq(0L, 1L, 2L, 3L, 4L, 10L, 11L, 12L, 13L)
    val got = runLpa(nodes, k4a ++ k4b ++ Seq((4L, 3L), (3L, 10L)), 4)
    // both cliques collapse to label 0 / 10-side labels; crucially the
    // two sides do NOT merge into one community (CC would)
    val left = Set(0L, 1L, 2L, 3L, 4L).map(got)
    val right = Set(10L, 11L, 12L, 13L).map(got)
    assert(left.intersect(right).isEmpty,
      s"bridge must not merge communities: $got")
    assert(runLpa(nodes, k4a ++ k4b ++ Seq((4L, 3L), (3L, 10L)), 4, 1) == got)
  }

  private def runSssp(nodes: Seq[Long], edges: Seq[(Long, Long, Long)],
      seeds: Seq[Long], rounds: Int, parts: Int = 4): Map[Long, Long] = {
    import spark.implicits._
    graft.ops.Graph.shortestPaths(
        edges.toDF("s", "d", "w").repartition(parts), "s", "d", "w",
        nodes.toDF("v").repartition(parts), "v",
        seeds.toDF("x"), "x", rounds)
      .as[(Long, Long)].collect().toMap
  }

  test("shortestPaths: cheap long path beats expensive direct edge (the non-BFS case)") {
    // 0→9 direct costs 100; 0→1→2→9 costs 3·1 = 3. BFS would say 1 hop;
    // weighted SSSP must say 3 — and needs 3 rounds to find it.
    val nodes = Seq(0L, 1L, 2L, 9L)
    val edges = Seq((0L, 9L, 100L), (0L, 1L, 1L), (1L, 2L, 1L), (2L, 9L, 1L))
    assert(runSssp(nodes, edges, Seq(0L), 5) ==
      Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 9L -> 3L))
    // round budget 1: only the direct relaxations exist — 9 reads 100
    // (an upper bound, per the documented truncation convention)
    assert(runSssp(nodes, edges, Seq(0L), 1) ==
      Map(0L -> 0L, 1L -> 1L, 2L -> -1L, 9L -> 100L))
    // round 2: 2 reached (cost 2), 9 still via direct edge
    assert(runSssp(nodes, edges, Seq(0L), 2)(9L) == 100L)
    assert(runSssp(nodes, edges, Seq(0L), 3)(9L) == 3L)
  }

  test("shortestPaths: multi-source takes the nearest seed; unreached -1; directed") {
    val nodes = Seq(0L, 1L, 2L, 3L, 7L)
    // directed chain 0→1→2; seed 3 connects to 2 more cheaply than 0's
    // path; 7 isolated; edge INTO 0 only — 0 unreachable from seed 3
    val edges = Seq((0L, 1L, 5L), (1L, 2L, 5L), (3L, 2L, 1L))
    val got = runSssp(nodes, edges, Seq(0L, 3L), 4)
    assert(got == Map(0L -> 0L, 1L -> 5L, 2L -> 1L, 3L -> 0L, 7L -> -1L))
    assert(runSssp(nodes, edges, Seq(0L, 3L), 4, parts = 1) == got)
  }

  private def runTemporal(nodes: Seq[Long], edges: Seq[(Long, Long, Long)],
      seeds: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    import spark.implicits._
    graft.ops.Graph.temporalReachability(
        edges.toDF("s", "d", "t"), "s", "d", "t",
        nodes.toDF("v"), "v",
        seeds.toDF("x", "t0"), "x", "t0", rounds)
      .as[(Long, Long)].collect().toMap
  }

  test("temporalReachability: time order blocks a structural path; same-instant chains") {
    val nodes = Seq(0L, 1L, 2L, 3L)
    // 0→1 at t=10, but 1→2 happened at t=5 (BEFORE the arrival): 2 is
    // structurally reachable yet temporally NOT. 1→3 at t=10 (same
    // instant as arrival): chains under the ≥ convention.
    val edges = Seq((0L, 1L, 10L), (1L, 2L, 5L), (1L, 3L, 10L))
    assert(runTemporal(nodes, edges, Seq((0L, 0L)), 4) ==
      Map(0L -> 0L, 1L -> 10L, 2L -> -1L, 3L -> 10L))
    // a seed exposed AFTER its outgoing contact spreads nothing
    assert(runTemporal(nodes, edges, Seq((0L, 11L)), 4) ==
      Map(0L -> 11L, 1L -> -1L, 2L -> -1L, 3L -> -1L))
  }

  test("temporalReachability: earliest arrival dominates — a later path never wins") {
    val nodes = Seq(0L, 5L, 1L, 2L)
    // two routes to 2: via 5 arriving t=20, via 1 arriving t=7; and the
    // t=7 arrival unlocks a follow-on edge at t=8 that the t=20 one
    // would miss — min-arrival state must carry it
    val edges = Seq((0L, 5L, 3L), (5L, 2L, 20L), (0L, 1L, 2L), (1L, 2L, 7L),
      (2L, 5L, 8L))
    val got = runTemporal(nodes, edges, Seq((0L, 0L)), 5)
    assert(got(2L) == 7L)
    assert(got(5L) == 3L, "direct t=3 beats the round-about t=8 re-entry")
  }

  test("bfsLayers: multi-source min distance, undirected walk, seed outside nodes ignored") {
    val nodes = Seq(0L, 1L, 2L, 3L, 4L)
    // directed edge encodings must be walked both ways: 4→3 reaches 3→4
    val edges = Seq((0L, 1L), (1L, 2L), (4L, 3L))
    val got = runBfs(nodes, edges, Seq(0L, 4L, 77L), 3)
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 0L))
    // partition invariance
    assert(runBfs(nodes, edges, Seq(0L, 4L, 77L), 3, parts = 1) == got)
  }
}
