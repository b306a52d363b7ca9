package graft.queries

import graft.SparkTestBase

/** The reroute re-pathing kernels (round 4 — the capability VERDICT r1–r3
  * listed as missing): greedy-spine argmin with sequential load feedback,
  * the general-topology branch-and-bound bottleneck path, and the q62 gate
  * invariants. */
class RerouteSpec extends SparkTestBase {

  test("greedy spine: argmin middle hop, never raises the global max") {
    // k=2 aggrs (0,1), edges 2..5; one hot link (2,0) from background load
    // canonical link keys (a <= b), as the aggregation emits them
    val loads = Map((0, 2) -> 100L, (0, 3) -> 100L, (1, 2) -> 10L, (1, 3) -> 0L)
    // flow 7: 2→3 via aggr 0 (on the hot path), traffic 50 — the 50 is
    // INCLUDED in the loads above (the aggregation counted every flow)
    val before = Map((0, 2) -> 100L, (0, 3) -> 100L, (1, 2) -> 10L, (1, 3) -> 0L)
    val (after, assign) = RerouteQueries.greedySpineReroute(
      Seq((7L, 2, 3, 50L, 0)), k = 2, before)
    // moving to aggr 1 gives bottleneck max(10+50, 0+50)=60 < staying (100)
    assert(assign(7L) === 1)
    assert(after((0, 2)) === 50L && after((0, 3)) === 50L)
    assert(after((1, 2)) === 60L && after((1, 3)) === 50L)
    val maxBefore = before.values.max
    assert(after.values.max <= maxBefore)
    assert(after.values.sum === before.values.sum)
    assert(loads === before) // input not mutated
  }

  test("greedy spine: restore-current-hop is always a candidate (no regression)") {
    // every alternative is worse: flow must stay where it is
    val before = Map((0, 2) -> 50L, (0, 3) -> 50L, (1, 2) -> 500L, (1, 3) -> 500L)
    val (after, assign) = RerouteQueries.greedySpineReroute(
      Seq((9L, 2, 3, 50L, 0)), k = 2, before)
    assert(assign(9L) === 0)
    assert(after.toMap.filter(_._2 != 0) === before)
  }

  test("sequential feedback: second flow sees the first flow's move") {
    // two identical flows 2→3 via aggr 0; after the first moves to aggr 1,
    // the second's argmin must account for the new load on (1,·)
    val before = Map((0, 2) -> 90L, (0, 3) -> 90L, (1, 2) -> 0L, (1, 3) -> 0L)
    val (_, assign) = RerouteQueries.greedySpineReroute(
      Seq((1L, 2, 3, 40L, 0), (2L, 2, 3, 40L, 0)), k = 2, before)
    assert(assign(1L) === 1) // 40 < 90: move
    // after flow 1: (2,0)=50,(0,3)=50,(1,2)=40,(1,3)=40; flow 2's options:
    // aggr0 → max(10+40,10+40)=50; aggr1 → max(40+40,40+40)=80 → stays on 0
    assert(assign(2L) === 0)
  }

  test("branch-and-bound equals exhaustive bottleneck search on a small topo") {
    // 6-node topology with a loaded shortcut and a clean detour
    val adj = Map(0 -> Seq(1, 2), 1 -> Seq(0, 3), 2 -> Seq(0, 4),
      3 -> Seq(1, 5), 4 -> Seq(2, 5), 5 -> Seq(3, 4))
    val loads = Map((0, 1) -> 100L, (1, 3) -> 5L, (3, 5) -> 5L,
      (0, 2) -> 10L, (2, 4) -> 10L, (4, 5) -> 10L)
    val d = RerouteQueries.floydDistances(6, adj)
    assert(d(0)(5) === 3)
    val bb = RerouteQueries.findPathBB(0, 5, adj, loads, 6, d(0)(5)).get
    // exhaustive: enumerate all simple paths within the same length bound
    def allPaths(u: Int, seen: Set[Int], path: List[Int]): Seq[List[Int]] =
      if (u == 5) Seq(path.reverse)
      else if (path.length >= d(0)(5) + 5) Seq.empty
      else adj(u).filterNot(seen).flatMap(v => allPaths(v, seen + v, v :: path))
    val best = allPaths(0, Set(0), List(0))
      .map(p => (RerouteQueries.pathMaxLoad(p, loads), p.length, p))
      .minBy { case (l, len, p) => (l, len, p.mkString(",")) }
    assert(RerouteQueries.pathMaxLoad(bb, loads) === best._1)
    assert(bb.length === best._2)
    // it took the clean detour, not the loaded shortcut
    assert(bb === Seq(0, 2, 4, 5))
  }

  test("branch-and-bound respects the shortest+4 length bound") {
    // line topology: only path 0-1-2-3 exists; bound must still admit it
    val adj = Map(0 -> Seq(1), 1 -> Seq(0, 2), 2 -> Seq(1, 3), 3 -> Seq(2))
    val d = RerouteQueries.floydDistances(4, adj)
    val p = RerouteQueries.findPathBB(0, 3, adj, Map.empty[(Int, Int), Long], 4, d(0)(3))
    assert(p === Some(Seq(0, 1, 2, 3)))
    // unreachable: isolated node
    val adj2 = Map(0 -> Seq(1), 1 -> Seq(0))
    val d2 = RerouteQueries.floydDistances(3, adj2)
    assert(RerouteQueries.findPathBB(0, 2, adj2, Map.empty[(Int, Int), Long], 3,
      math.min(d2(0)(2), 10)) === None)
  }

  test("branch-and-bound rejects a load key naming a node outside [0, n)") {
    val adj = Map(0 -> Seq(1), 1 -> Seq(0, 2), 2 -> Seq(1))
    val e = intercept[IllegalArgumentException] {
      RerouteQueries.findPathBB(0, 2, adj, Map((1, 3) -> 5L), 3, 2)
    }
    assert(e.getMessage.contains("(1, 3)"))
  }

  test("property: greedy spine equals an independent slow replay on random flow sets") {
    // 50 seeded-random scenarios: k aggrs, random flows, loads built by
    // assignment (as the distributed aggregation would); the kernel must
    // match a naive step-by-step argmin replay and never raise the max
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 50) {
      val k = 2 + rnd.nextInt(3) // aggrs 0..k-1, edges k..3k-1
      val e = 2 * k
      val flows = (0 until (5 + rnd.nextInt(40))).map { i =>
        val src = k + rnd.nextInt(e)
        var dst = k + rnd.nextInt(e)
        while (dst == src) dst = k + rnd.nextInt(e)
        (i.toLong, src, dst, 1L + rnd.nextInt(100).toLong, rnd.nextInt(k))
      }
      def key(a: Int, b: Int) = if (a <= b) (a, b) else (b, a)
      val loads = collection.mutable.Map.empty[(Int, Int), Long].withDefaultValue(0L)
      flows.foreach { case (_, s, d, t, a) =>
        loads(key(s, a)) += t; loads(key(a, d)) += t
      }
      val top = flows.sortBy { case (id, _, _, t, _) => (-t, id) }
        .take(1 + flows.size / 4)
      val (after, assign) = RerouteQueries.greedySpineReroute(top, k, loads)
      // slow replay: same order, naive scan over every aggr
      val slow = collection.mutable.Map.empty[(Int, Int), Long].withDefaultValue(0L)
      loads.foreach { case (kk, v) => slow(kk) = v }
      var currentMax = loads.values.max
      top.foreach { case (id, s, d, t, a) =>
        slow(key(s, a)) -= t; slow(key(a, d)) -= t
        val best = (0 until k).minBy(c =>
          (math.max(slow(key(s, c)) + t, slow(key(c, d)) + t), c))
        slow(key(s, best)) += t; slow(key(best, d)) += t
        assert(assign(id) === best, s"flow $id")
        val newMax = slow.values.max
        assert(newMax <= currentMax, s"max raised at flow $id")
        currentMax = newMax
      }
      slow.foreach { case (kk, v) => assert(after.getOrElse(kk, 0L) === v, kk) }
    }
  }

  test("grid L-path edges: canonical, Manhattan-length, src-row/dst-col convention") {
    // 5 = (1,1), 14 = (3,2): horizontal (1,1)->(1,2), vertical (1,2)->(3,2)
    assert(RerouteQueries.lPathEdges(5, 14) ===
      Seq((5, 6), (6, 10), (10, 14)))
    // the reverse flow walks ITS src row (3) then ITS dst column (1) — a
    // different edge set; both engines use the same per-(s,d) convention
    assert(RerouteQueries.lPathEdges(14, 5) ===
      Seq((13, 14), (5, 9), (9, 13)))
    assert(RerouteQueries.lPathEdges(0, 0) === Seq.empty)
    // edge count = Manhattan distance, always
    for (s <- 0 until 16; d <- 0 until 16) {
      val manhattan = math.abs(s / 4 - d / 4) + math.abs(s % 4 - d % 4)
      assert(RerouteQueries.lPathEdges(s, d).size === manhattan, s"$s->$d")
    }
  }

  test("grid BB reroute: background load FORCES a detour off the hot row") {
    // row-0 edges carry 500 of OTHER flows' load on top of this flow's own
    // 100; after the kernel removes the flow's 100, row 0 still reads 500
    // while the lower rows read 0 — a load-blind path finder would re-pick
    // [0,1,2,3] (ascending DFS order), the real BB must detour
    val loads = Map((0, 1) -> 600L, (1, 2) -> 600L, (2, 3) -> 600L)
    val (after, routes) = RerouteQueries.greedyGridReroute(
      Seq((1L, 0, 3, 100L)), loads)
    val p = routes(1L)
    assert(p.head === 0 && p.last === 3)
    assert(p !== Seq(0, 1, 2, 3), s"BB stayed on the hot row: $p")
    val adj = RerouteQueries.gridAdj()
    assert(p.sliding(2).forall { case Seq(u, v) => adj(u).contains(v) })
    // detour bottleneck = 100 (its own traffic on empty edges); hot row
    // stays at 500; global max dropped from 600 to 500
    assert(after.values.max === 500L)
    assert(Seq((0, 1), (1, 2), (2, 3)).forall(e => after(e) === 500L))
  }

  test("q63 gate verdicts hold on the grid topology (sf0.001)") {
    val row = RerouteQueries.rerouteBBGate(spark, sf("sf0.001")).head()
    assert(row.getAs[Long]("improved_ok") === 1L)
    assert(row.getAs[Long]("paths_ok") === 1L)
    assert(row.getAs[Long]("n_flows") > 0L)
    assert(row.getAs[Long]("max_load_before") > 0L)
    spark.catalog.clearCache()
  }

  test("q62 gate verdicts hold and the reroute genuinely moves flows (sf0.001)") {
    val row = RerouteQueries.rerouteRepathGate(spark, sf("sf0.001")).head()
    assert(row.getAs[Long]("improved_ok") === 1L)
    assert(row.getAs[Long]("conserved_ok") === 1L)
    assert(row.getAs[Long]("paths_ok") === 1L)
    assert(row.getAs[Long]("n_flows") > 0L)
    assert(row.getAs[Long]("n_rerouted") ===
      math.max(1L, math.ceil(0.01 * row.getAs[Long]("n_flows")).toLong))
    spark.catalog.clearCache()
  }
}
