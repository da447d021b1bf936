package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame

import graft.operators.GraphAnalytics

/** Pins the fixed-point PageRank arithmetic to hand-computed values, so the
  * integer contract (the thing that makes the DuckDB oracle hash-exact) can't
  * drift. scale=1e6, damp=85/100 ⇒ base = 150000.
  */
class GraphAnalyticsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("pageRankInt: hand-computed ranks on a 3-node path a→b→c") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    // iter1: contrib(x) = 1e6*85//100 = 850000 (out_deg 1)
    //   a = 150000 (no in-edges); b = 150000+850000 = 1000000; c = 1000000
    // iter2: contrib(a) = 150000*85//100 = 127500; contrib(b) = 850000
    //   a = 150000; b = 150000+127500 = 277500; c = 150000+850000 = 1000000
    val got = GraphAnalytics.pageRankInt(edges, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 150000L, 2L -> 277500L, 3L -> 1000000L))
  }

  test("pageRankInt: multi-edges weight contributions; fan-in sums") {
    // a has two parallel edges to b and one to c: out_deg(a) = 3.
    val edges = Seq((1L, 2L), (1L, 2L), (1L, 3L)).toDF("src", "dst")
    // iter1: contrib per edge = (1e6*85//100)//3 = 283333
    //   b = 150000 + 2*283333 = 716666; c = 150000 + 283333 = 433333
    val got = GraphAnalytics.pageRankInt(edges, iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 150000L, 2L -> 716666L, 3L -> 433333L))
  }

  test("pageRankInt: total rank is conserved up to integer-division dust") {
    // On a strongly-connected cycle nothing leaks to dangling nodes: the
    // total can only shrink by the per-node floor losses (< dampDen per node
    // per iteration) plus the base remainder.
    val n = 64L
    val edges = (0L until n).map(i => (i, (i + 1) % n)).toDF("src", "dst")
    val total = GraphAnalytics.pageRankInt(edges, iters = 5)
      .agg(org.apache.spark.sql.functions.sum("pr")).as[Long].head()
    val exact = n * 1000000L
    assert(total <= exact && total > exact - 5 * n * 100,
      s"total $total outside conservation envelope of $exact")
  }

  test("triangleCounts: K4 gives 3 per node; path has none; hub star has none") {
    // K4 on 1..4 (4 triangles, each node in 3); path 10-11-12 (no triangle);
    // star hub 20 → 21..24 with no rim edges (wedges but no closing edge)
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val path = Seq((10L, 11L), (11L, 12L))
    val star = (21L to 24L).map(r => (20L, r))
    val got = GraphAnalytics.triangleCounts((k4 ++ path ++ star).toDF("u", "v"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangleCounts: degree orientation and id orientation count identically") {
    // deterministic pseudo-random graph with hubs: node i and j connected
    // iff (i*31 + j*17) % 7 == 0 — dense enough for many triangles
    val edges = (for (i <- 0L until 40L; j <- (i + 1) until 40L
                      if (i * 31 + j * 17) % 7 == 0) yield (i, j)).toDF("u", "v")
    val got = GraphAnalytics.triangleCounts(edges)
      .as[(Long, Long)].collect().toMap
    // reference: brute-force id-ordered enumeration on the driver
    val es = (for (i <- 0L until 40L; j <- (i + 1) until 40L
                   if (i * 31 + j * 17) % 7 == 0) yield (i, j)).toSet
    val nodes = es.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val want = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      a <- nodes; b <- nodes if a < b && es((a, b))
      c <- nodes if b < c && es((b, c)) && es((a, c))
    } { want(a) += 1; want(b) += 1; want(c) += 1 }
    assert(got == want.toMap)
    // scale path: wedge-bloom prefilter (forced via bloomMinEdges=0) must
    // count the identical triangle set — FPs die in the exact closing join
    val gotBloom = GraphAnalytics.triangleCounts(edges, bloomMinEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(gotBloom == want.toMap)
  }

  test("triangleCounts: node ids beyond 31 bits take the unpacked closing join") {
    // ids ≥ 2^31 disable the packed-long closing key; the two-column join
    // path must count identically
    val base = 1L << 32
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (base + a, base + b)
    val got = GraphAnalytics.triangleCounts(k4.toDF("u", "v"))
      .as[(Long, Long)].collect().toMap
    assert(got == (1L to 4L).map(i => (base + i) -> 3L).toMap)
  }

  test("kCore: K5 plus pendant chain keeps exactly the clique at k=4") {
    // K5 on 1..5 (every node has 4 in-clique neighbors); chain 5-10-11-12
    // hangs off the clique — chain degrees ≤ 2, so k=4 peels it entirely
    val k5 = for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)
    val chain = Seq((5L, 10L), (10L, 11L), (11L, 12L))
    val got = GraphAnalytics.kCore((k5 ++ chain).toDF("u", "v"), k = 4, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 4L, 2L -> 4L, 3L -> 4L, 4L -> 4L, 5L -> 4L))
  }

  test("kCore: peeling cascades — a path has no 2-core, a cycle is one") {
    // path 1-2-...-8: endpoints peel first, cascade inward round by round
    // (the multi-round case); cycle 20..25 survives k=2 intact
    val path = (1L until 8L).map(i => (i, i + 1))
    val cycle = (20L until 25L).map(i => (i, i + 1)) :+ (20L, 25L)
    val edges = (path ++ cycle).toDF("u", "v")
    val got = GraphAnalytics.kCore(edges, k = 2, rounds = 6)
      .as[(Long, Long)].collect().toMap
    assert(got == (20L to 25L).map(_ -> 2L).toMap)
    // fixed-round determinism: more rounds past the fixpoint change nothing
    val more = GraphAnalytics.kCore(edges, k = 2, rounds = 8)
      .as[(Long, Long)].collect().toMap
    assert(more == got)
  }

  test("bfs: hop distances on a path, unreached nodes absent, rounds cap") {
    // path 1-2-3-4-5 plus disconnected edge 10-11: from src=1 with 3 rounds,
    // node 5 (4 hops away) and the 10-11 component must be absent
    val edges = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))).toDF("u", "v")
    val got = GraphAnalytics.bfs(edges, src = 1L, rounds = 3)
      .as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))
    // a 4th round reaches node 5; distances already found never change
    val more = GraphAnalytics.bfs(edges, src = 1L, rounds = 4)
      .as[(Long, Int)].collect().toMap
    assert(more == got + (5L -> 4))
  }

  test("bfs: shortest hop count wins over a longer alternative route") {
    // triangle 1-2-3 plus chain 3-4: 3 is reachable in 1 hop (direct edge),
    // not 2 (via 2); 4 is at 2
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("u", "v")
    val got = GraphAnalytics.bfs(edges, src = 1L, rounds = 3)
      .as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2))
  }

  test("sssp: weighted shortest path beats fewer-hop heavier route") {
    // 1→3 direct weighs 10; 1→2→3 weighs 1+2=3. Bellman-Ford with enough
    // rounds must return 3; with rounds=1 only the direct edge is usable.
    val edges = Seq((1L, 3L, 10L), (1L, 2L, 1L), (2L, 3L, 2L)).toDF("u", "v", "w")
    val one = GraphAnalytics.sssp(edges, src = 1L, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(one == Map(1L -> 0L, 2L -> 1L, 3L -> 10L))
    val full = GraphAnalytics.sssp(edges, src = 1L, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(full == Map(1L -> 0L, 2L -> 1L, 3L -> 3L))
  }

  test("sssp: multi-edges keep the lightest; undirected symmetry") {
    // parallel edges 1-2 with weights 5 and 2 → dist(2) = 2; traversal works
    // against edge direction (edges stored as (2,3) but reached from 1)
    val edges = Seq((1L, 2L, 5L), (1L, 2L, 2L), (3L, 2L, 4L)).toDF("u", "v", "w")
    val got = GraphAnalytics.sssp(edges, src = 1L, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 2L, 3L -> 6L))
  }

  test("iterative broadcast hints are size-gated: hint under the cap, plain frame above") {
    import graft.operators.Hints
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val df = spark.range(10).toDF("x")
    def hinted(d: org.apache.spark.sql.DataFrame): Boolean =
      d.queryExecution.analyzed.collectFirst { case h: ResolvedHint => h }.nonEmpty
    assert(hinted(Hints.broadcastIfUnder(df, 10)))
    assert(!hinted(Hints.broadcastIfUnder(df, Hints.DefaultMaxRows + 1)))
    spark.conf.set(Hints.IterativeBroadcastMaxRows, "0")
    try assert(!hinted(Hints.broadcastIfUnder(df, 1)))
    finally spark.conf.unset(Hints.IterativeBroadcastMaxRows)
  }

  test("operators return identical results with the broadcast hints disabled (shuffled fallback)") {
    val k5 = for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)
    val chain = Seq((5L, 10L), (10L, 11L), (11L, 12L))
    val edges = (k5 ++ chain).toDF("u", "v")
    val prEdges = edges.select($"u".as("src"), $"v".as("dst"))
    def run() = (
      GraphAnalytics.kCore(edges, k = 4, rounds = 4)
        .as[(Long, Long)].collect().toMap,
      GraphAnalytics.pageRankInt(prEdges, iters = 3)
        .as[(Long, Long)].collect().toMap,
      GraphAnalytics.bfs(edges, src = 1L, rounds = 3)
        .as[(Long, Int)].collect().toMap)
    val withHints = run()
    spark.conf.set(graft.operators.Hints.IterativeBroadcastMaxRows, "0")
    val without = try run()
    finally spark.conf.unset(graft.operators.Hints.IterativeBroadcastMaxRows)
    assert(withHints == without)
  }

  test("personalizedPageRankInt: hand-computed seeded ranks on a path; fan-out splits") {
    // path 1→2→3 seeded at 1 (base = 150000):
    //   round 1: 1=150000, 2=850000
    //   round 2: 1=150000, 2=127500, 3=722500
    //   round 3: 1=150000, 2=127500, 3=108375 — zero-mass nodes absent
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = GraphAnalytics.personalizedPageRankInt(path, Seq(1L), iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 150000L, 2L -> 127500L, 3L -> 108375L))
    // fan-out 1→{2,3}: the damped mass integer-divides across out-degree 2
    val fan = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
    val g1 = GraphAnalytics.personalizedPageRankInt(fan, Seq(1L), iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(g1 == Map(1L -> 150000L, 2L -> 425000L, 3L -> 425000L))
  }

  test("labelPropagation: bridged triangles settle into two communities; rounds pinned") {
    // hand-simulated synchronous rounds with the (count desc, label asc)
    // tiebreak: round 1 {1→2,2→1,3→1,4→3,5→4,6→4}, round 3 fixpoint
    // {1,2,3}→1, {4,5,6}→3 — the bridge 3–4 does NOT merge the triangles
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
      .toDF("u", "v")
    val l4 = GraphAnalytics.labelPropagation(edges, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(l4 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L))
    // pre-fixpoint round count must reproduce the hand simulation exactly
    val l1 = GraphAnalytics.labelPropagation(edges, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(l1 == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 4L, 6L -> 4L))
  }

  test("labelPropagation: packed past-gate rounds match the zero-exchange shape exactly") {
    // forcing the broadcast gate shut (maxRows=0) takes the b-partitioned
    // shuffled-round path, where the (a,lbl) census key packs into one long
    // (r17, guide §2.3) — results must be IDENTICAL to the under-gate run,
    // including the (count desc, label asc) tiebreak
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
      .toDF("u", "v")
    val expect = GraphAnalytics.labelPropagation(edges, rounds = 4)
      .as[(Long, Long)].collect().toMap
    val key = graft.operators.Hints.IterativeBroadcastMaxRows
    spark.conf.set(key, "0")
    try {
      val packed = GraphAnalytics.labelPropagation(edges, rounds = 4)
        .as[(Long, Long)].collect().toMap
      assert(packed == expect)
      val fp = GraphAnalytics.lpaConverged(edges, maxRounds = 10)
      assert(fp.converged &&
        fp.result.as[(Long, Long)].collect().toMap == expect)
      // ids outside [0, 2^31) close the pack gate — the shuffled round must
      // fall back to the two-column key and still agree
      val big = Seq((1L << 40, 2L), (1L << 40, 3L), (2L, 3L)).toDF("u", "v")
      val gotBig = GraphAnalytics.labelPropagation(big, rounds = 3)
        .as[(Long, Long)].collect().toMap
      assert(gotBig == Map((1L << 40) -> 2L, 2L -> 2L, 3L -> 2L))
    } finally spark.conf.unset(key)
  }

  test("edgeSupport: hand-counted supports on K4 minus an edge; bloom path agrees") {
    // K4 on {1,2,3,4} minus edge (3,4): triangles {1,2,3} and {1,2,4}.
    // Edge (1,2) is in both → support 2; the other four edges → 1.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
      .toDF("u", "v")
    val got = GraphAnalytics.edgeSupport(edges)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got == Map(
      (1L, 2L) -> 2L, (1L, 3L) -> 1L, (1L, 4L) -> 1L,
      (2L, 3L) -> 1L, (2L, 4L) -> 1L))
    // force the bloom-gated path (threshold below the edge count): the
    // bloom only pre-filters wedges, the exact join keeps the set identical
    val bloomed = GraphAnalytics.edgeSupport(edges, bloomMinEdges = 1L)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(bloomed == got)
  }

  test("trussEdges: cascading peel — K5 plus a pendant triangle keeps only the clique at k=4") {
    // K5 on {1..5} (every edge in 3 triangles) plus triangle {5,10,11} and
    // a bare edge (11,12). Round 1 computes supports within the whole
    // graph: clique edges 3, pendant-triangle edges 1, (11,12) has none —
    // at k=4 (bar = 2) the pendant triangle and bare edge peel, the clique
    // survives with its supports intact.
    val clique = for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)
    val edges = (clique ++ Seq((5L, 10L), (5L, 11L), (10L, 11L), (11L, 12L)))
      .toDF("u", "v")
    val got = GraphAnalytics.trussEdges(edges, k = 4, rounds = 2)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got == clique.map(e => e -> 3L).toMap)
    // monotone convergence: one more round changes nothing once settled
    val more = GraphAnalytics.trussEdges(edges, k = 4, rounds = 3)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(more == got)
  }

  test("trussEdges: the peel cascades — removing one edge's support collapses a chain") {
    // Triangle strip 1-2-3, 2-3-4, 3-4-5: supports (2,3)=2, (3,4)=2, the
    // rest 1. A single support pass at k=4 would keep {(2,3),(3,4)} — but
    // those two edges alone close no triangle, so round 2 must empty the
    // survivor set entirely. Pins that trussEdges recomputes support
    // within survivors instead of filtering once.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (3L, 5L), (4L, 5L)).toDF("u", "v")
    assert(GraphAnalytics.trussEdges(edges, k = 4, rounds = 1).count() == 2L)
    assert(GraphAnalytics.trussEdges(edges, k = 4, rounds = 2).count() == 0L)
  }

  test("incrementalTriangleCounts: closing edge credits only the delta; increment == recompute") {
    // Old graph K4 minus (3,4): triangles {123},{124} → counts 2,2,1,1.
    // Batch {(3,4)} closes {134},{234}: delta 1,1,2,2 → merged all 3 —
    // exactly the from-scratch K4 census.
    val oldE = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L)).toDF("u", "v")
    val oldCounts = GraphAnalytics.triangleCounts(oldE)
    val batch = Seq((3L, 4L)).toDF("u", "v")
    val got = GraphAnalytics.incrementalTriangleCounts(
        oldCounts, batch, oldE.union(batch))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("incrementalTriangleCounts: a triangle with two batch edges dedupes on the triple") {
    // Old {(1,2)} (no triangles); batch {(1,3),(2,3)} — triangle 123 is
    // found from BOTH batch edges and must count once per node.
    val oldE = Seq((1L, 2L)).toDF("u", "v")
    val oldCounts = GraphAnalytics.triangleCounts(oldE) // empty
    val batch = Seq((1L, 3L), (2L, 3L)).toDF("u", "v")
    val got = GraphAnalytics.incrementalTriangleCounts(
        oldCounts, batch, oldE.union(batch))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("hitsInt: hand-computed scores on a two-hub fan; max pins top to scale") {
    // Hubs 1 and 2 point into authorities: 1→{10,11,12}, 2→{11,12}.
    // Round 1: araw(10)=1e6, araw(11)=araw(12)=2e6 → max 2e6 →
    //   a(10)=500000, a(11)=a(12)=1000000.
    // hraw(1)=500000+2e6=2.5e6, hraw(2)=2e6 → max 2.5e6 →
    //   h(1)=1000000, h(2)=2000000*1000000 div 2500000 = 800000.
    val edges = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 11L), (2L, 12L))
      .toDF("src", "dst")
    val got = GraphAnalytics.hitsInt(edges, iters = 1)
      .as[(String, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got == Map(
      ("auth", 10L) -> 500000L, ("auth", 11L) -> 1000000L,
      ("auth", 12L) -> 1000000L,
      ("hub", 1L) -> 1000000L, ("hub", 2L) -> 800000L))
  }

  test("hitsInt: a second round reinforces the better-connected authority") {
    // Same fan: round 2 re-weights araw with the round-1 hub scores:
    // araw(10)=h(1)=1e6, araw(11)=araw(12)=1e6+800000=1.8e6 →
    //   a(10)=1000000*1000000 div 1800000=555555, a(11)=a(12)=1000000.
    val edges = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 11L), (2L, 12L))
      .toDF("src", "dst")
    val got = GraphAnalytics.hitsInt(edges, iters = 2)
      .filter($"kind" === "auth")
      .as[(String, Long, Long)].collect().map(r => r._2 -> r._3).toMap
    assert(got == Map(10L -> 555555L, 11L -> 1000000L, 12L -> 1000000L))
  }

  test("harmonicInt: hand-computed floor(scale/d) sums on a path; seeds expand together") {
    // Path 1-2-3-4-5, seeds {1,5}, 4 rounds reach everything.
    // From 1: d(2)=1 d(3)=2 d(4)=3 d(5)=4; from 5 symmetric.
    // H(1)=H(5)=250000 (the other seed at d=4); H(2)=H(4)=1e6+333333;
    // H(3)=5e5+5e5. Seeds see each other but never themselves (d=0 filtered).
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("u", "v")
    val got = GraphAnalytics.harmonicInt(edges, seeds = Seq(1L, 5L), rounds = 4)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(
      1L -> ((250000L, 1L)), 2L -> ((1333333L, 2L)), 3L -> ((1000000L, 2L)),
      4L -> ((1333333L, 2L)), 5L -> ((250000L, 1L))))
  }

  test("harmonicInt: rounds cap truncates contributions beyond the horizon") {
    // Same path, seed {1}, 2 rounds: only nodes within d<=2 contribute.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("u", "v")
    val got = GraphAnalytics.harmonicInt(edges, seeds = Seq(1L), rounds = 2)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(got == Map(2L -> 1000000L, 3L -> 500000L))
  }

  test("resourceAllocation: hand-computed 1/deg weights; hub cap drops baskets") {
    // baskets: u=10 holds {1,2} (deg 2 → w = 2^20/2 = 524288),
    //          u=11 holds {1,2,3} (deg 3 → w = 1048576/3 = 349525),
    //          u=12 holds {2,3} (deg 2 → w = 524288)
    val edges = Seq(
      (10L, 1L), (10L, 2L),
      (11L, 1L), (11L, 2L), (11L, 3L),
      (12L, 2L), (12L, 3L)).toDF("u", "v")
    val got = GraphAnalytics.resourceAllocation(edges)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (a, b, s2, n) => (a, b) -> ((s2, n)) }.toMap
    assert(got == Map(
      (1L, 2L) -> ((524288L + 349525L, 2L)),
      (1L, 3L) -> ((349525L, 1L)),
      (2L, 3L) -> ((349525L + 524288L, 2L))))
    // maxDeg = 2 drops basket 11 entirely: pair (1,3) disappears, the
    // remaining pairs keep only their deg-2 contributions
    val capped = GraphAnalytics.resourceAllocation(edges, maxDeg = 2)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (a, b, s2, n) => (a, b) -> ((s2, n)) }.toMap
    assert(capped == Map(
      (1L, 2L) -> ((524288L, 1L)),
      (2L, 3L) -> ((524288L, 1L))))
    // duplicate edges collapse before weighting (distinct), so a repeated
    // (basket, item) row cannot double-count
    val dup = edges.union(Seq((10L, 1L)).toDF("u", "v"))
    val got2 = GraphAnalytics.resourceAllocation(dup)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (a, b, s2, n) => (a, b) -> ((s2, n)) }.toMap
    assert(got2 == got)
  }

  test("pageRankWeightedInt: hand-computed split; w=1 equals unweighted exactly") {
    // 1→2 (w=3), 1→3 (w=1), one iteration: damped0 = 850000 splits 3:1 →
    // contrib 637500 / 212500; base = 150000
    val we = Seq((1L, 2L, 3L), (1L, 3L, 1L)).toDF("src", "dst", "w")
    val got = GraphAnalytics.pageRankWeightedInt(we, iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 150000L, 2L -> 787500L, 3L -> 362500L))
    // unit weights degenerate to the unweighted operator, value-for-value
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
    val unw = GraphAnalytics.pageRankInt(e, iters = 3)
      .as[(Long, Long)].collect().toMap
    val unit = GraphAnalytics.pageRankWeightedInt(
      e.withColumn("w", org.apache.spark.sql.functions.lit(1L)), iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(unit == unw)
  }

  test("betweennessInt: hand-computed dependencies on path and diamond graphs") {
    val S = 1L << 20
    // path 1-2-3-4-5, seed 1: exact Brandes deltas 3, 2, 1, 0
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("u", "v")
    val bcPath = GraphAnalytics.betweennessInt(path, Seq(1L), rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(bcPath == Map(2L -> 3 * S, 3L -> 2 * S, 4L -> S, 5L -> 0L))
    // diamond 1-2, 1-3, 2-4, 3-4, seed 1: two shortest paths to 4 →
    // delta(2) = delta(3) = 1/2 (sigma_v/sigma_w = 1/2), delta(4) = 0
    val diamond = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("u", "v")
    val bcD = GraphAnalytics.betweennessInt(diamond, Seq(1L), rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(bcD == Map(2L -> S / 2, 3L -> S / 2, 4L -> 0L))
    // two seeds accumulate: seeds {1, 4} double the middle nodes' scores
    // (1 is at distance 2 from seed 4 and collects delta 0 — sources'
    // own rows are excluded, but a seed can appear as another's target)
    val bc2 = GraphAnalytics.betweennessInt(diamond, Seq(1L, 4L), rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(bc2(2L) == S && bc2(3L) == S && bc2(1L) == 0L && bc2(4L) == 0L)
  }

  test("influenceSpread: derandomized IC coins — directed activation, p=1 is BFS, p→0 is seeds-only") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("u", "v")
    val full = 1L << 52
    // p = 1: every arc activates → identical to plain multi-source BFS
    val p1 = GraphAnalytics.influenceSpread(edges, Seq(1L), full, 3)
      .as[(Long, Long)].collect().toMap
    val bfs = GraphAnalytics.bfs(edges, 1L, 3)
      .as[(Long, Int)].collect().map { case (n, d) => n -> d.toLong }.toMap
    assert(p1 == bfs)
    // p ≈ 0 (threshold 1): no arc's 52-bit hash is below 1 → seeds only
    val p0 = GraphAnalytics.influenceSpread(edges, Seq(1L), 1L, 3)
      .as[(Long, Long)].collect().toMap
    assert(p0 == Map(1L -> 0L))
    // determinism: same cascade twice
    val again = GraphAnalytics.influenceSpread(edges, Seq(1L), full / 2, 3)
      .as[(Long, Long)].collect().toMap
    val again2 = GraphAnalytics.influenceSpread(edges, Seq(1L), full / 2, 3)
      .as[(Long, Long)].collect().toMap
    assert(again == again2)
    // direction matters: activation of (a,b) is independent of (b,a) —
    // verify the two arc hashes differ for at least one fixture edge
    val h = (a: Long, b: Long) => java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils.md5Hex(s"$a:$b:ic")
        .substring(0, 13), 16)
    assert(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
      .exists { case (a, b) => (h(a, b) < full / 2) != (h(b, a) < full / 2) })
  }

  test("randomWalksOver a persisted adjacencyIndex equals the direct walk") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L)).toDF("u", "v")
    val direct = GraphAnalytics.randomWalks(edges, Seq(1L, 4L), 2, 5)
      .as[(Long, Int, Long)].collect().sortBy(w => (w._1, w._2))
    val dir = java.nio.file.Files.createTempDirectory("walkidx").toString
    GraphAnalytics.adjacencyIndex(edges).write.mode("overwrite").parquet(dir)
    val viaIndex = GraphAnalytics.randomWalksOver(
        spark.read.parquet(dir), Seq(1L, 4L), 2, 5)
      .as[(Long, Int, Long)].collect().sortBy(w => (w._1, w._2))
    assert(viaIndex.toSeq == direct.toSeq)
    // index invariants: idx is the 0-based rank of b in per-a sorted order,
    // deg is the per-a row count
    val idx = spark.read.parquet(dir)
      .as[(Long, Int, Long, Long)].collect().groupBy(_._1)
    idx.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._3)
      assert(sorted.map(_._2).toSeq == rows.indices)
      assert(rows.forall(_._4 == rows.length))
    }
  }

  test("randomWalks: valid edges, hand-checked hash choice, reproducible, dup-edge proof") {
    // triangle 1-2-3 plus pendant 4; undirected
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("u", "v")
    val walks = GraphAnalytics.randomWalks(edges, Seq(1L), walksPerSeed = 2, steps = 4)
      .as[(Long, Int, Long)].collect().sortBy(w => (w._1, w._2))
    // symmetric graph: no dead ends → every walk has steps 0..4
    assert(walks.length == 2 * 5)
    walks.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).toSeq == (0 to 4))
      // every consecutive pair is a real edge
      val adj = Set((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
        .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      rows.sliding(2).foreach { case Array(p, n) =>
        assert(adj.contains((p._3, n._3)), s"${p._3}->${n._3} not an edge")
      }
    }
    // hand-check step 1 of walk 100 (seed 1, neighbors sorted: [2, 3]):
    // idx = md5("100:0:1:walk")[52-bit] mod 2
    val h = java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils.md5Hex("100:0:1:walk")
        .substring(0, 13), 16)
    val expected = Seq(2L, 3L)((h % 2).toInt)
    assert(walks.find(w => w._1 == 100L && w._2 == 1).get._3 == expected)
    // deterministic: a second evaluation returns the identical corpus
    val again = GraphAnalytics.randomWalks(edges, Seq(1L), 2, 4)
      .as[(Long, Int, Long)].collect().sortBy(w => (w._1, w._2))
    assert(again.toSeq == walks.toSeq)
    // duplicate edges collapse (distinct): same walks with a repeated edge
    val dup = edges.union(Seq((2L, 1L), (3L, 4L)).toDF("u", "v"))
    val withDup = GraphAnalytics.randomWalks(dup, Seq(1L), 2, 4)
      .as[(Long, Int, Long)].collect().sortBy(w => (w._1, w._2))
    assert(withDup.toSeq == walks.toSeq)
  }

  // ── convergence-guarded variants ─────────────────────────────────────────

  test("kCoreConverged: matches fixed-round kCore at the fixpoint; exits early when pre-converged") {
    val path = (1L until 8L).map(i => (i, i + 1))
    val cycle = (20L until 25L).map(i => (i, i + 1)) :+ (20L, 25L)
    val edges = (path ++ cycle).toDF("u", "v")
    val fp = GraphAnalytics.kCoreConverged(edges, k = 2, maxRounds = 20)
    assert(fp.converged)
    // the 8-node path peels 2 endpoints per round: rounds 1-4 shrink it
    // away (8→6→4→2→0 path nodes), round 5 confirms — 5 used, not the cap
    assert(fp.roundsUsed == 5)
    val fixed = GraphAnalytics.kCore(edges, k = 2, rounds = 6)
      .as[(Long, Long)].collect().toMap
    assert(fp.result.as[(Long, Long)].collect().toMap == fixed)
    // pre-converged graph (clique alone, nothing to peel): one confirming
    // round and out
    val k5 = (for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)).toDF("u", "v")
    val pre = GraphAnalytics.kCoreConverged(k5, k = 4, maxRounds = 20)
    assert(pre.converged && pre.roundsUsed == 1)
  }

  test("kCoreConverged: deep synthetic cascade runs far past any tuned round constant") {
    // A 60-node path at k=2 peels exactly its two endpoints per round —
    // the fixpoint (empty core) takes 30 peel rounds + 1 confirming round.
    // This is the 10×-scale drill: every fixed-round constant in the
    // declared queries is ≤ 14, and the guard keeps going to 31 because
    // the DATA says so, not a constant.
    val path = (1L until 60L).map(i => (i, i + 1)).toDF("u", "v")
    val fp = GraphAnalytics.kCoreConverged(path, k = 2, maxRounds = 50)
    assert(fp.converged)
    assert(fp.roundsUsed == 31, s"expected 31 rounds, got ${fp.roundsUsed}")
    assert(fp.result.isEmpty)
    // and the cap is honored loudly when it's too small: the capped run
    // reports converged=false instead of silently returning a part-peel
    val capped = GraphAnalytics.kCoreConverged(path, k = 2, maxRounds = 5)
    assert(!capped.converged && capped.roundsUsed == 5)
    assert(capped.result.count() > 0) // the part-peeled remnant, flagged
  }

  test("decremental support maintenance ≡ full recompute, every round, on cascade/random/clique graphs") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{least => fLeast, greatest => fGreatest, col}
    def canon(edges: DataFrame): DataFrame =
      edges.select(fLeast(col("u"), col("v")).cast("long").as("u"),
        fGreatest(col("u"), col("v")).cast("long").as("v"))
    // reference: the peel loop trussEdges runs — a FULL edgeSupport
    // re-enumeration per round
    def fullRounds(edges: DataFrame, k: Int, rounds: Int): Set[(Long, Long, Long)] = {
      var cur = canon(edges)
      var out: DataFrame = null
      for (_ <- 1 to rounds) {
        out = GraphAnalytics.trussPeelRound(cur, k)
        cur = out.select("u", "v")
      }
      out.as[(Long, Long, Long)].collect().toSet
    }
    // under test: round 1 full, every later round maintained DECREMENTALLY
    // (trussDecRound — the deletion-batch maintenance operator)
    def decRounds(edges: DataFrame, k: Int, rounds: Int): Set[(Long, Long, Long)] = {
      val cur = canon(edges)
      var supBase = cur
      var out: DataFrame = null
      for (_ <- 1 to rounds) {
        val next =
          if (out == null) GraphAnalytics.trussPeelRound(cur, k)
          else GraphAnalytics.trussDecRound(supBase, out, k).localCheckpoint(true)
        if (out != null) supBase = out.select("u", "v")
        out = next
      }
      out.as[(Long, Long, Long)].collect().toSet
    }
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    // (a) triangle strip — the adversarial cascade: k=4 peels the two end
    // triangles each round and the wave propagates inward for many rounds,
    // so every decremental step runs with a real removed set
    val strip = (0L until 14L).flatMap(i => Seq((i, i + 1), (i, i + 2)))
      .toDF("u", "v")
    // (b) K6 + pendant triangles off two clique nodes
    val k6 = for (i <- 1L to 6L; j <- (i + 1) to 6L) yield (i, j)
    val pendants = Seq((1L, 10L), (1L, 11L), (10L, 11L), (4L, 12L), (4L, 13L), (12L, 13L))
    val cliquey = (k6 ++ pendants).toDF("u", "v")
    // (c) seeded random graphs (distinct canonical edges, no self-loops)
    def rand(n: Int, m: Int, seed: Long) =
      (0 until m).map { i =>
        val a = math.floorMod(mix(seed + 2 * i), n).toLong
        val b = math.floorMod(mix(seed + 2 * i + 1), n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).distinct.toDF("u", "v")
    val cases = Seq(
      ("strip", strip, 4), ("cliquey", cliquey, 4), ("cliquey-k5", cliquey, 5),
      ("rand40", rand(40, 220, 7L), 3), ("rand30", rand(30, 160, 99L), 4))
    for ((name, g, k) <- cases; rounds <- Seq(1, 2, 3, 5, 8)) {
      val dec = decRounds(g, k, rounds)
      val full = fullRounds(g, k, rounds)
      assert(dec == full,
        s"$name k=$k rounds=$rounds: decremental ${dec.size} edges != full " +
          s"${full.size}; dec-only=${(dec -- full).take(3)} full-only=${(full -- dec).take(3)}")
    }
    // and the converged variant still reports the strip's long cascade
    val fp = GraphAnalytics.trussEdgesConverged(strip, k = 4, maxRounds = 20)
    assert(fp.converged && fp.result.isEmpty && fp.roundsUsed >= 3,
      s"strip cascade should peel over multiple rounds, used ${fp.roundsUsed}")
  }

  test("trussEdgesConverged: matches fixed-round peel at the fixpoint; cascade counted") {
    // K5 + pendant triangle off node 5: the pendant triangle's edges have
    // support 1 and peel in round 1; K5 edges keep support 3 (within
    // survivors) and the set stabilizes — round 2 drops nothing more at
    // k=4, so rounds_used = 2... unless the pendant peel drops K5 edge
    // support transiently. Assert equivalence to the fixed-round result
    // and convergence rather than a hand-derived round count.
    val k5 = for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)
    val pendant = Seq((5L, 11L), (5L, 12L), (11L, 12L))
    val edges = (k5 ++ pendant).toDF("u", "v")
    val fp = GraphAnalytics.trussEdgesConverged(edges, k = 4, maxRounds = 10)
    assert(fp.converged && fp.roundsUsed < 10)
    val fixed = GraphAnalytics.trussEdges(edges, k = 4, rounds = fp.roundsUsed)
      .as[(Long, Long, Long)].collect().toSet
    assert(fp.result.as[(Long, Long, Long)].collect().toSet == fixed)
    assert(fp.result.select("u", "v").as[(Long, Long)].collect().toSet ==
      k5.toSet)
  }

  test("trussEdges/trussEdgesConverged leave the caller's localCheckpointed edge frame readable") {
    // the loops drop each round's settled frame once the next settles; the
    // round-1 input is the CALLER's frame, whose checkpoint blocks must
    // survive (a dropped checkpoint block fails every later read)
    val k5 = for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)
    val pendant = Seq((5L, 11L), (5L, 12L), (11L, 12L))
    val edges = (k5 ++ pendant).toDF("u", "v").localCheckpoint(true)
    val want = (k5 ++ pendant).toSet
    assert(GraphAnalytics.trussEdges(edges, k = 4, rounds = 2).count() == k5.size)
    assert(edges.as[(Long, Long)].collect().toSet == want)
    val fp = GraphAnalytics.trussEdgesConverged(edges, k = 4, maxRounds = 10)
    assert(fp.converged && fp.result.count() == k5.size)
    assert(edges.as[(Long, Long)].collect().toSet == want)
  }

  test("every other fixpoint loop leaves the caller's localCheckpointed input frame readable") {
    // the same lifecycle rule for each operator on Settle.fixpoint: rounds
    // are dropped as the next settles, the caller's blocks never are
    val edges = loopEdges.toDF("u", "v").localCheckpoint(true)
    val weighted = loopEdges.map { case (u, v) => (u, v, u % 3 + 1) }
      .toDF("u", "v", "w").localCheckpoint(true)
    val runs: Seq[(String, () => DataFrame)] = Seq(
      "kCore" -> (() => GraphAnalytics.kCore(edges, k = 3, rounds = 3)),
      "kCoreConverged" -> (() => GraphAnalytics.kCoreConverged(edges, k = 3, maxRounds = 10).result),
      "labelPropagation" -> (() => GraphAnalytics.labelPropagation(edges, rounds = 3)),
      "lpaConverged" -> (() => GraphAnalytics.lpaConverged(edges, maxRounds = 10).result),
      "sssp" -> (() => GraphAnalytics.sssp(weighted, src = 1L, rounds = 3)),
      "ssspConverged" -> (() => GraphAnalytics.ssspConverged(weighted, src = 1L, maxRounds = 20).result),
      "bfs" -> (() => GraphAnalytics.bfs(edges, src = 1L, rounds = 3)),
      "bfsConverged" -> (() => GraphAnalytics.bfsConverged(edges, src = 1L, maxRounds = 20).result),
      "influenceSpread" -> (() => GraphAnalytics.influenceSpread(edges, Seq(1L), 1L << 52, 3)),
      "multiSourceDistances" -> (() => GraphAnalytics.multiSourceDistances(edges, Seq(1L, 12L), 3)))
    for ((name, run) <- runs) withClue(name) {
      assert(run().count() > 0)
      assert(edges.as[(Long, Long)].collect().toSet == loopEdges.toSet)
      assert(weighted.as[(Long, Long, Long)].collect().toSet ==
        loopEdges.map { case (u, v) => (u, v, u % 3 + 1) }.toSet)
    }
  }

  test("lpaConverged: stable labels on a triangle in 3 rounds; bipartite 2-cycle hits the cap loudly") {
    // triangle {1,2,3}: l1 = (2,1,1) — each adopts its smallest-label
    // neighbor; l2 = (1,1,1) — 1's neighbors both carry 1 now; l3 confirms
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("u", "v")
    val fp = GraphAnalytics.lpaConverged(tri, maxRounds = 10)
    assert(fp.converged && fp.roundsUsed == 3)
    assert(fp.result.as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // a single edge {1,2} is the minimal synchronous-LPA oscillator: the
    // two nodes swap labels forever — the cap reports that instead of
    // hanging (the reason graph_lpa_fixpoint runs on the unipartite graph)
    val edge = Seq((1L, 2L)).toDF("u", "v")
    val osc = GraphAnalytics.lpaConverged(edge, maxRounds = 6)
    assert(!osc.converged && osc.roundsUsed == 6)
  }

  test("bfsConverged: frontier exhaustion on a path; unreachable component never joins") {
    // path 1-2-3-4-5 from node 1: each round reaches one more node, round
    // 5 improves nothing — 5 used (4 expansions + confirm), ecc = 4
    val path = (1L until 5L).map(i => (i, i + 1))
    val island = Seq((100L, 101L)) // disconnected — must stay absent
    val fp = GraphAnalytics.bfsConverged((path ++ island).toDF("u", "v"),
      src = 1L, maxRounds = 20)
    assert(fp.converged && fp.roundsUsed == 5)
    assert(fp.result.as[(Long, Int)].collect().toMap ==
      Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3, 5L -> 4))
    // fixed-round twin agrees once both are at the fixpoint
    val fixed = GraphAnalytics.bfs((path ++ island).toDF("u", "v"), 1L, rounds = 6)
      .as[(Long, Int)].collect().toMap
    assert(fp.result.as[(Long, Int)].collect().toMap == fixed)
  }

  test("ssspConverged: detects distance improvements that do not grow the reached set") {
    // 1→2 direct weight 10; 1→3→2 costs 2+2=4. Round 1 reaches 2 at 10 and
    // 3 at 2; round 2 IMPROVES 2 to 4 without adding nodes — a count-based
    // exit would have stopped wrongly after round 2's count equality;
    // the (node,dist) change test keeps going until round 3 confirms.
    val edges = Seq((1L, 2L, 10L), (1L, 3L, 2L), (3L, 2L, 2L)).toDF("u", "v", "w")
    val fp = GraphAnalytics.ssspConverged(edges, src = 1L, maxRounds = 10)
    assert(fp.converged && fp.roundsUsed == 3)
    assert(fp.result.as[(Long, Long)].collect().toMap ==
      Map(1L -> 0L, 2L -> 4L, 3L -> 2L))
  }

  // K5, a pendant triangle off node 5 and a tail path off node 12: every
  // peel, label and relaxation round below has work to do
  private val loopEdges: Seq[(Long, Long)] =
    (for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)) ++
      Seq((5L, 11L), (5L, 12L), (11L, 12L)) ++ (12L until 18L).map(i => (i, i + 1))

  test("fixed-round loops run no more Spark jobs than their pinned counts") {
    // pins measured on this fixture before the loops moved onto
    // Settle.fixpoint; a fixed-round run may only get cheaper
    import org.apache.spark.sql.functions.lit
    val g = loopEdges.toDF("u", "v")
    val pinned = Seq(
      ("kCore(R=3)", 11, () => GraphAnalytics.kCore(g, k = 3, rounds = 3)),
      ("labelPropagation(R=3)", 10, () => GraphAnalytics.labelPropagation(g, rounds = 3)),
      ("sssp(R=3)", 12,
        () => GraphAnalytics.sssp(g.withColumn("w", lit(1L)), src = 1L, rounds = 3)),
      ("trussEdges(R=2)", 21, () => GraphAnalytics.trussEdges(g, k = 4, rounds = 2)))
    for ((name, pin, run) <- pinned) {
      val (_, jobs) = jobsDuring(run())
      assert(jobs <= pin, s"$name ran $jobs jobs, pinned at $pin")
    }
  }
}
