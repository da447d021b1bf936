package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Settle.{Fixpoint, fixpoint, noneWhere, passThrough, settleCounted, unchanged}

/** Iterative graph analytics beyond connected components (Dedup.scala).
  *
  * PageRank here is FIXED-POINT INTEGER PageRank: ranks are scaled longs and
  * every step uses integer multiply/divide only. Floating-point PageRank is
  * not hash-verifiable across engines (per-target contribution sums depend on
  * reduction order); with scaled longs the sum is order-independent and the
  * DuckDB oracle (chained CTEs, one per iteration — OracleSqlGen.pageRankInt)
  * matches bit-for-bit. The usual float formulation differs only in rounding
  * ~1e-6 per step, so the integer variant is a faithful ranking.
  *
  * Scale shape (100 TB stance):
  *  - edges are hash-partitioned by `src` ONCE and cached; every iteration's
  *    contribution join reuses that partitioning (no per-round edge shuffle);
  *  - each iteration is exactly one shuffle: the groupBy(dst) that sums the
  *    received contributions. Out-degrees are computed once.
  *  - the rank frame stays (node, long) — O(V) rows, never the edge list.
  *  - every iterative operator except betweenness and random walks runs
  *    its rounds through the one round loop, [[Settle.fixpoint]] (the same
  *    loop runs Dedup's CC). The peel, label and distance loops settle
  *    (local-checkpoint and count) EVERY round: lineage stays one round
  *    deep and round N−1's blocks are dropped as soon as round N settles.
  *    PageRank's rounds are fixed and small (≤ 50) and carry only the O(V)
  *    received-mass frame, so its settle passes each round through and the
  *    run stays one plan tree; HITS settles inside its round. The loop
  *    drops only what the next round no longer reads.
  */
object GraphAnalytics {

  /** Size-gate from an ALREADY-KNOWN row count — the loops below track
    * each round's frame size from [[Settle.settleCounted]], so the
    * per-round `broadcastGated` count jobs (one more job per round) are
    * unnecessary.
    */
  private def bcRows(rows: Long): DataFrame => DataFrame =
    df => Hints.broadcastIfUnder(df, rows)

  /** Both orientations (a, b) of every undirected (u, v) edge, ids cast to
    * long; each `carry` column (cast to long) rides along on both arcs.
    */
  private def arcs(edges: DataFrame, carry: String*): DataFrame = {
    val e = edges.select(col("u").cast("long").as("u") +: col("v").cast("long").as("v") +:
      carry.map(c => col(c).cast("long").as(c)): _*)
    val rest = carry.map(col)
    e.select(col("u").as("a") +: col("v").as("b") +: rest: _*)
      .union(e.select(col("v").as("a") +: col("u").as("b") +: rest: _*))
  }

  /** PageRank over directed `edges` with columns (src: long, dst: long).
    * Multi-edges count once per occurrence (out-degree counts edges, and each
    * edge carries one contribution) — deterministic on both engines.
    *
    * rank_0(v)   = scale
    * rank_i+1(v) = base + Σ_{(u,v)∈E} ((rank_i(u) * dampNum) div dampDen) div outDeg(u)
    * base        = (scale * (dampDen - dampNum)) div dampDen
    *
    * The unit-weight, teleport-everywhere case of [[pageRank]].
    */
  def pageRankInt(
      edges: DataFrame,
      iters: Int,
      scale: Long = 1000000L,
      dampNum: Long = 85,
      dampDen: Long = 100): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1, 50], got $iters")
    pageRank(edges, lit(1L), None, iters, scale, dampNum, dampDen)
  }

  /** WEIGHTED fixed-point PageRank: contributions split proportionally to
    * edge weight instead of uniformly — contrib(u→v) =
    * (((base + recv_u)·dampNum) div dampDen) · w(u,v) div Σw(u,·), every
    * step integer, so the chained-CTE oracle hash-matches exactly (the
    * [[pageRankInt]] contract generalized; w ≡ 1 IS pageRankInt — both run
    * [[pageRank]]). Weights must be positive longs; the per-edge product
    * damped·w stays far inside a long for any realistic scale (rank mass
    * ≤ scale·V ≈ 10¹⁵ at V = 10⁹, times w ≤ 10³).
    */
  def pageRankWeightedInt(
      edges: DataFrame,
      iters: Int,
      scale: Long = 1000000L,
      dampNum: Long = 85,
      dampDen: Long = 100): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1, 50], got $iters")
    pageRank(edges, col("w"), None, iters, scale, dampNum, dampDen)
  }

  /** The one fixed-point PageRank body behind [[pageRankInt]],
    * [[pageRankWeightedInt]] and [[personalizedPageRankInt]]: edge weight
    * `weight` (lit(1L) for the unweighted forms) and teleport set
    * `teleport` (None: every node; Some(S): the PPR seeds). Returns
    * (node, pr) for every node — without the zero-mass ones when
    * `teleport` is given.
    *
    * Scale shape (100 TB stance):
    *  - edges are hash-partitioned by `src` ONCE and cached with their
    *    source weight-sum attached once; every round's contribution join
    *    reuses that partitioning (no per-round edge shuffle);
    *  - ranks are carried ONLY as received mass keyed by dst: a node absent
    *    from `recv` has rank = teleport(v) (no in-edges), so the full O(V)
    *    rank frame never enters the loop, and zero-rank nodes (PPR outside
    *    the seed neighborhood) never materialize;
    *  - per round one size-gated broadcast of the O(V) received mass into
    *    the src-partitioned weight-sum cache, one of the O(V) damped frame
    *    into the cached edges, and the groupBy(dst) sum as the round's only
    *    data exchange. Past the gate the joins degrade to shuffled ones.
    *
    * The rounds run through [[Settle.fixpoint]] with a pass-through settle:
    * they carry only the O(V) received-mass frame, so the whole run stays
    * one plan tree that the final checkpoint executes. Settling every
    * round instead measured no faster on graph_pagerank at sf0.1 and ran
    * 23 jobs to this shape's 19.
    */
  private def pageRank(edges: DataFrame, weight: Column, teleport: Option[Seq[Long]],
      iters: Int, scale: Long, dampNum: Long, dampDen: Long): DataFrame = {
    val e = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"),
        weight.cast("long").as("w"))
      .repartition(col("src"))
      .cache()
    // ws groups on e's partitioning key — no exchange; stays src-partitioned
    val ws = e.groupBy("src").agg(sum("w").as("wsum")).cache()
    // one upfront size gate for every per-round O(V) hint below: ws has one
    // row per out-node (≤ V), and counting it just materializes the cache
    // the first round needs anyway
    val vRows = ws.count()
    def bc(df: DataFrame): DataFrame = Hints.broadcastIfUnder(df, vRows)
    val base = (scale * (dampDen - dampNum)) / dampDen
    def tele(n: Column): Column =
      teleport.fold(lit(base))(s => when(n.isin(s: _*), lit(base)).otherwise(lit(0L)))
    // one round: damped mass of every ranked source, split by edge weight
    def spread(damped: DataFrame): DataFrame =
      e.join(bc(damped), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(expr("damped * w div wsum")).as("recv"))
    // round 1 reads rank_0 = scale on every teleporting node
    val recv1 = spread(teleport.fold(ws)(s => ws.filter(col("src").isin(s: _*)))
      .select(col("src"), lit((scale * dampNum) / dampDen).as("damped"), col("wsum")))
    // rank_i(u) = teleport(u) + recv(u); rank 0 contributes nothing, so the
    // filter only keeps the PPR frontier sparse
    val fp = fixpoint(recv1, vRows, iters - 1, settle = passThrough) { (recv, _) =>
      spread(ws.join(bc(recv.withColumnRenamed("node", "src")), Seq("src"), "left")
        .select(col("src"), col("wsum"),
          (tele(col("src")) + coalesce(col("recv"), lit(0L))).as("rank"))
        .filter(col("rank") > 0)
        .select(col("src"), expr(s"(rank * $dampNum) div $dampDen").as("damped"), col("wsum")))
    }
    // The O(V) node set is joined exactly once, at the end, for the output.
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
    val out = nodes.join(fp.result, Seq("node"), "left")
      .select(col("node"), (tele(col("node")) + coalesce(col("recv"), lit(0L))).as("pr"))
    // Cache lifecycle: materialize the O(V) result eagerly, then release the
    // cached edge/weight-sum blocks — they exist only so the rounds reuse one
    // scan+shuffle, and holding them past the operator taxes every later
    // query sharing the JVM/cluster (the round-4 bench-suite regression).
    // Uniform PageRank keeps rank-0 nodes (dampNum = dampDen); PPR drops them.
    val mat = teleport.fold(out)(_ => out.filter(col("pr") > 0)).localCheckpoint(true)
    e.unpersist(false)
    ws.unpersist(false)
    mat
  }

  /** Per-node triangle counts over an undirected simple graph. `edges` must
    * have columns (u, v) with u < v and no duplicate pairs.
    *
    * Scale shape: a wedge join on raw undirected edges explodes on hubs — a
    * degree-d node generates d² wedges, and real co-occurrence graphs have
    * power-law hubs. Degree-ordered orientation (each edge directed from its
    * lower-(degree, id) endpoint to the higher) caps every node's oriented
    * out-degree at O(√|E|), the classical bound that makes distributed
    * triangle enumeration feasible; each triangle is then enumerated exactly
    * once, from its lowest-ordered vertex. The oriented list is computed
    * once and cached — it drives both wedge sides and the closing-edge join.
    * Orientation changes only the enumeration order, never the triangle
    * set, so an id-oriented engine (the DuckDB oracle) counts identically.
    */
  def triangleCounts(edges: DataFrame, bloomMinEdges: Long = 4000000L): DataFrame = {
    val (tris, oriented, _) = closedTriangles(edges, bloomMinEdges)
    val out = tris
      .select(explode(array(col("src"), col("dst1"), col("dst2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    // Same lifecycle as pageRankInt: force the O(V) counts, then drop the
    // cached oriented edge list instead of leaving it resident.
    val mat = out.localCheckpoint(true)
    oriented.unpersist(false)
    mat
  }

  /** Per-EDGE triangle support over the same oriented enumeration — the
    * building block of k-truss cohesion (an edge is in the k-truss iff its
    * support ≥ k−2): each closed triangle credits its three edges in
    * undirected (min, max) canonical form. Identical scale shape to
    * [[triangleCounts]] (shared wedge/closing machinery); the only change
    * is what the triangle stream explodes into.
    */
  def edgeSupport(edges: DataFrame, bloomMinEdges: Long = 4000000L): DataFrame = {
    val (tris, oriented, packable) = closedTriangles(edges, bloomMinEdges)
    // The support aggregation is this operator's ONLY data exchange, and
    // its map-side partials barely compress (distinct (u,v) per partition
    // ≈ rows). When ids fit 31 bits, pack the canonical pair into ONE long
    // BEFORE the explode: the exploded stream carries bare longs instead
    // of structs, the hash aggregate runs on a single long key, and the
    // shuffle rows narrow by a third (guide §2.3 — shuffle fewer bytes,
    // narrower types). Unpacking after the aggregate restores the exact
    // (u, v, support) frame — same rows, same types.
    val out = if (packable) {
      def pk(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        least(a, b) * lit(1L << 31) + greatest(a, b)
      tris
        .select(explode(array(
          pk(col("src"), col("dst1")),
          pk(col("src"), col("dst2")),
          pk(col("dst1"), col("dst2")))).as("pk"))
        .groupBy("pk").agg(count(lit(1)).as("support"))
        .select(expr(s"pk div ${1L << 31}").as("u"),
          (col("pk") % lit(1L << 31)).as("v"), col("support"))
    } else {
      def canon(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        struct(least(a, b).as("u"), greatest(a, b).as("v"))
      tris
        .select(explode(array(
          canon(col("src"), col("dst1")),
          canon(col("src"), col("dst2")),
          canon(col("dst1"), col("dst2")))).as("e"))
        .groupBy(col("e.u").as("u"), col("e.v").as("v"))
        .agg(count(lit(1)).as("support"))
    }
    val mat = out.localCheckpoint(true)
    oriented.unpersist(false)
    mat
  }

  /** k-truss by fixed-round support peeling: each round recomputes per-edge
    * triangle support WITHIN the surviving edge set ([[edgeSupport]] — the
    * shared degree-oriented wedge machinery) and keeps edges with support
    * ≥ k−2. Removing an edge can drop a neighbor's support below the bar,
    * so one support pass is not enough — the peel must cascade.
    *
    * `rounds` is FIXED, not run-to-fixpoint (the [[kCore]] contract): the
    * DuckDB oracle unrolls the identical R rounds as chained CTEs, and
    * since peeling is monotone (survivor sets only shrink) two equal
    * consecutive rounds mean the answer IS the k-truss. Returns the
    * surviving canonical edges (u < v) with their support as computed in
    * the final round (i.e. within the previous round's survivor set) —
    * exactly what the oracle's last CTE emits.
    *
    * Scale shape: each round is one full [[edgeSupport]] pass over a
    * SHRINKING edge set — the first round dominates and is the same
    * O(Σ min(d,√E)²) wedge enumeration graph_triangles already pays;
    * every edgeSupport eagerly localCheckpoints, so lineage stays O(1)
    * per round and nothing re-enumerates earlier rounds.
    */
  def trussEdges(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 3 && rounds >= 1 && rounds <= 10,
      s"need k >= 3 and rounds in [1, 10], got k=$k rounds=$rounds")
    truss(edges, k, rounds, converge = false).result
  }

  /** O(batch) incremental triangle-count maintenance: given per-node
    * counts for an old graph and the batch of NEW canonical edges B
    * (disjoint from the old edge set), returns merged counts for
    * old ∪ B. Every union triangle either lies entirely in the old graph
    * (already counted) or contains ≥1 batch edge — those are found from
    * B alone: each (u,v) ∈ B closes a triangle per common neighbor c in
    * the union adjacency. A triangle with 2–3 batch edges is found once
    * per batch edge, so candidates dedupe on the canonical vertex triple
    * before crediting nodes. The expensive part of triangle counting —
    * the O(Σ d²) wedge enumeration — never runs: the union adjacency is
    * only SCANNED as the probe side of two keyed joins against the O(|B|)
    * batch, and the candidate stream is O(|B|·d̄).
    */
  def incrementalTriangleCounts(
      oldCounts: DataFrame, batch: DataFrame, unionEdges: DataFrame): DataFrame = {
    // Settle the batch once (it feeds both probe joins and may itself be
    // the product of an anti-join) and size-gate a broadcast: while the
    // batch fits, the union adjacency is probed in place — zero adjacency
    // shuffles; past the gate the joins degrade to shuffled hash joins.
    val b = batch.select(col("u").cast("long").as("u"), col("v").cast("long").as("v"))
      .localCheckpoint(true)
    val bRows = b.count()
    def bc(df: DataFrame): DataFrame = Hints.broadcastIfUnder(df, bRows)
    val e = unionEdges.select(col("u").cast("long").as("u"), col("v").cast("long").as("v"))
    val adj = e.select(col("u").as("a"), col("v").as("n"))
      .union(e.select(col("v").as("a"), col("u").as("n")))
    val cand = adj.select(col("a").as("u"), col("n").as("c"))
      .join(bc(b), "u")
      .join(adj.select(col("a").as("v"), col("n").as("c")), Seq("v", "c"))
      .filter(col("c") =!= col("u") && col("c") =!= col("v"))
    val x = least(col("u"), col("v"), col("c"))
    val z = greatest(col("u"), col("v"), col("c"))
    val y = col("u") + col("v") + col("c") - x - z
    val tris = cand.select(x.as("x"), y.as("y"), z.as("z")).distinct()
    val delta = tris
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("d"))
    oldCounts.select(col("node"), col("n_tri"))
      .join(delta, Seq("node"), "full_outer")
      .select(col("node"),
        (coalesce(col("n_tri"), lit(0L)) + coalesce(col("d"), lit(0L))).as("n_tri"))
  }

  /** HITS hubs-and-authorities (Kleinberg, "Authoritative sources in a
    * hyperlinked environment", JACM 1999) in the [[pageRankInt]] integer
    * domain: mutual reinforcement auth(v) = Σ hub(u) over in-edges,
    * hub(u) = Σ auth(v) over out-edges, renormalized each half-step by the
    * MAX (top score pinned to `scale`) with integer floor division — the
    * L2 norm of the float formulation is not hash-verifiable, the max norm
    * preserves the same ranking fixpoint and stays in exact long math.
    *
    * Overflow bound: raw sums are ≤ deg_max·scale and the normalize step
    * multiplies by scale before dividing, so the intermediate is ≤
    * deg_max·scale² — with scale = 10⁶ that stays inside a signed long up
    * to deg_max ≈ 9·10⁶; graphs with hotter hubs should lower `scale` (the
    * ranking only needs ~6 significant digits).
    *
    * Scale shape: edges cached once; each half-step is one groupBy
    * exchange of an O(V) frame plus a size-gated broadcast of the scores
    * into the edge probe; the max-reduction rides a broadcast scalar
    * (crossJoin of a 1-row agg), never a driver collect.
    *
    * Returns (kind ∈ {auth, hub}, node, score) for every node of the
    * respective side after `iters` full rounds.
    */
  def hitsInt(edges: DataFrame, iters: Int, scale: Long = 1000000L): DataFrame = {
    require(iters >= 1 && iters <= 20, s"iters must be in [1, 20], got $iters")
    val e = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .repartition(col("src"))
      .cache()
    val (h0, vRows) = settleCounted(
      e.select(col("src").as("node")).distinct()
        .withColumn("score", lit(scale)))
    def bc(df: DataFrame): DataFrame = Hints.broadcastIfUnder(df, vRows)
    // top score = scale exactly; everything else floors proportionally.
    // The raw frame is referenced twice (max-agg + the scored projection),
    // so it is settled — O(V), same discipline as the kCore loop.
    def normalize(raw0: DataFrame): DataFrame = {
      // LAZY checkpoint: the max-aggregate broadcast is the first consumer
      // and materializes the blocks as a side effect — the eager variant
      // paid a separate count job per half-step (6 per run) for nothing
      val raw = raw0.localCheckpoint(false)
      raw.crossJoin(broadcast(raw.agg(max("raw").as("mx"))))
        .select(col("node"), expr(s"(raw * ${scale}L) div mx").as("score"))
    }
    // The loop carries the output frame (kind, node, score); a round reads
    // only its hub rows, and the optimizer prunes the auth branch away.
    def tagged(kind: String, df: DataFrame): DataFrame =
      df.select(lit(kind).as("kind"), col("node"), col("score"))
    // normalize settles each half-step inside the round, so the loop's
    // settle passes the round through
    val fp = fixpoint(tagged("hub", h0), vRows, iters, settle = passThrough) { (prev, _) =>
      val h = prev.filter(col("kind") === "hub")
      // every dst has an in-edge from a scored src (h covers all srcs
      // inductively), so both frames stay total over their side
      val a = normalize(e
        .join(bc(h.select(col("node").as("src"), col("score").as("hs"))), "src")
        .groupBy(col("dst").as("node")).agg(sum("hs").as("raw")))
      val hNext = normalize(e
        .join(bc(a.select(col("node").as("dst"), col("score").as("as"))), "dst")
        .groupBy(col("src").as("node")).agg(sum("as").as("raw")))
      tagged("auth", a).union(tagged("hub", hNext))
    }
    e.unpersist(false)
    fp.result
  }

  /** Degree-oriented closed-triangle enumeration shared by
    * [[triangleCounts]] and [[edgeSupport]]: returns the (src, dst1, dst2)
    * triangle stream (each triangle exactly once, from its lowest-ordered
    * vertex), the cached oriented edge list the CALLER must unpersist
    * after materializing its aggregate, and the packed-key gate (ids all
    * in [0, 2^31) — pairs pack injectively into one long). (Threading
    * loop-invariant stats in from the peel loops to skip this head() job
    * was MEASURED SLOWER at sf0.1: the stats job doubles as the clean
    * materializer of the `oriented` cache — without it the main query's
    * concurrent AQE stages race on the cold cache and re-derive the
    * orientation redundantly.)
    */
  private def closedTriangles(
      edges: DataFrame, bloomMinEdges: Long)
      : (DataFrame, DataFrame, Boolean) = {
    // NOTE: e is consumed three times below, but Spark's exchange reuse
    // already shares the caller's shuffle across those branches — caching it
    // here was measured SLOWER (columnar materialization cost exceeds the
    // reuse win; 16.8→21.8s cold at sf0.1).
    val e = edges.select(col("u").cast("long").as("u"), col("v").cast("long").as("v"))
    val deg = e.select(col("u").as("n")).union(e.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(deg.select(col("n").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), "v")
    // total order (deg, id): strict, so ties on degree orient by id
    val fwd = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val oriented = withDeg.select(
      when(fwd, col("u")).otherwise(col("v")).as("src"),
      when(fwd, col("v")).otherwise(col("u")).as("dst"),
      when(fwd, col("dv")).otherwise(col("du")).as("dd"))
      .cache()
    // wedge (src → dst1, src → dst2) with order(dst1) < order(dst2); the
    // closing edge, if present, is oriented dst1 → dst2 under the same order
    val w1 = oriented.select(col("src"), col("dst").as("dst1"), col("dd").as("dd1"))
    val w2 = oriented.select(col("src"), col("dst").as("dst2"), col("dd").as("dd2"))
    // Most wedges never close (triangles ≪ wedges on real graphs). While the
    // closing-edge side fits a broadcast-hash join (≲ a few M edges), the
    // hash probe IS the cheapest possible wedge filter and nothing extra
    // helps. Past broadcast scale the closing join goes shuffled and every
    // wedge — O(Σ min(d,√E)²) rows — would ride that exchange; there a bloom
    // over the |E| closing pairs (~10 bits/pair, built with a distributed
    // partial-bloom aggregate) drops non-closing wedges at codegen speed
    // BEFORE the shuffle. False positives are removed by the exact join, so
    // the triangle set is unchanged — the spec pins both paths equal.
    val closing = oriented.select(col("src").as("dst1"), col("dst").as("dst2"))
    // one job on the cached list: edge count (bloom gate) + id range
    // (packed-key gate — BOTH bounds: packing is only injective for ids in
    // [0, 2^31); a negative id would alias another pair's key)
    val st = oriented
      .agg(count(lit(1)).as("n"),
        max(greatest(col("src"), col("dst"))).as("mx"),
        min(least(col("src"), col("dst"))).as("mn"))
      .head()
    val nEdges = st.getLong(0)
    val maxId = if (st.isNullAt(1)) 0L else st.getLong(1)
    val minId = if (st.isNullAt(2)) 0L else st.getLong(2)
    // scalar (deg, id) lexicographic compare — no per-row struct allocation
    // on the O(Σ od²) wedge stream
    val wedgeFilter = col("dd1") < col("dd2") ||
      (col("dd1") === col("dd2") && col("dst1") < col("dst2"))
    // Below the bloom gate the closing side fits a broadcast by
    // construction — hint it EXPLICITLY. The wedge stream is O(Σ od²) rows
    // (41M at sf0.1); if the planner's inflated self-join estimate pushes
    // the closing join to sort-merge, that whole stream gets sorted and
    // shuffled. With the hint the wedges never leave their stage: codegen
    // streams them through the broadcast hash probe. When ids fit 31 bits
    // the closing pair packs into ONE long — the probe then uses Spark's
    // specialized long-keyed hash relation instead of two-column row keys.
    val rawWedges = w1.join(w2, "src").filter(wedgeFilter)
    val packable = minId >= 0L && maxId < (1L << 31)
    def packed(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      (a * lit(1L << 31)) + b
    val tris =
      if (nEdges < bloomMinEdges) {
        if (packable) {
          val ckeys = closing.select(packed(col("dst1"), col("dst2")).as("ck"))
          rawWedges.withColumn("ck", packed(col("dst1"), col("dst2")))
            .join(broadcast(ckeys), "ck")
            .select("src", "dst1", "dst2")
        } else rawWedges.join(broadcast(closing), Seq("dst1", "dst2"))
          .select("src", "dst1", "dst2")
      } else {
        val bloom = BloomJoin.buildBloom(
          closing, struct(col("dst1"), col("dst2")),
          expectedItems = math.max(nEdges, 1L),
          numBits = math.max(nEdges * 10L, 1L << 16))
        rawWedges
          .filter(BloomJoin.mightContain(bloom, struct(col("dst1"), col("dst2"))))
          .join(closing, Seq("dst1", "dst2"))
          .select("src", "dst1", "dst2")
      }
    (tris, oriented, packable)
  }

  /** k-core by fixed-round peeling: repeatedly drop nodes whose degree
    * (within the surviving subgraph) is < k. `rounds` is FIXED, not
    * run-to-fixpoint, for the same reason pageRankInt is fixed-iteration:
    * a data-dependent round count is not expressible as deterministic
    * chained SQL CTEs, so the DuckDB oracle runs the identical R rounds and
    * the results hash-match whether or not R reached the fixpoint. Peeling
    * is monotone (survivor sets only shrink), so once two consecutive
    * rounds agree the answer IS the k-core; the spec pins convergence on a
    * cascade fixture and callers size R from data (KCoreSpec + the declared
    * query's measured fixpoint).
    *
    * Scale shape: the symmetric adjacency is hash-partitioned by endpoint
    * ONCE and cached; each round is (a) a semi-join of adjacency against
    * the current survivor set on BOTH endpoints and (b) one groupBy(count)
    * — 2–3 exchanges of an O(V) frame per round, never a re-shuffle of the
    * O(E) adjacency. Each round's survivor frame is settled (checkpointed
    * and counted in one job) by [[Settle.fixpoint]], so lineage stays one
    * round deep; the cache is released before returning.
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1 && rounds <= 30)
    kCoreRun(edges, k, rounds, converge = false).result
  }

  /** Personalized PageRank (Haveliwala, "Topic-Sensitive PageRank", WWW
    * 2002) in the same fixed-point integer domain as [[pageRankInt]]: the
    * teleport mass lands ONLY on the `sources` seed set, so scores measure
    * proximity to the seeds — the ranking a knowledge-graph memory engine
    * wants when hydrating context around a seed entity (the reference's
    * read_graph/search surface ranks globally; this is the seeded variant).
    *
    * rank_0(v)   = scale·[v ∈ S]
    * rank_i+1(v) = base·[v ∈ S] + Σ_{(u,v)∈E} ((rank_i(u)·dampNum) div dampDen) div outDeg(u)
    * base        = (scale·(dampDen − dampNum)) div dampDen
    *
    * [[pageRank]] with teleport set S: received mass is carried as an
    * O(reached) frame, so early rounds touch only the seed neighborhood.
    * Nodes with zero mass are left out of the result.
    */
  def personalizedPageRankInt(
      edges: DataFrame,
      sources: Seq[Long],
      iters: Int,
      scale: Long = 1000000L,
      dampNum: Long = 85,
      dampDen: Long = 100): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1, 50], got $iters")
    require(sources.nonEmpty, "personalized PageRank needs a non-empty seed set")
    pageRank(edges, lit(1L), Some(sources), iters, scale, dampNum, dampDen)
      .withColumnRenamed("pr", "ppr")
  }

  /** Synchronous label-propagation community detection (Raghavan et al.,
    * "Near linear time algorithm to detect community structures in
    * large-scale networks", Phys. Rev. E 2007) made deterministic: every
    * round, each node adopts the label that is MOST FREQUENT among its
    * neighbors' previous-round labels, ties broken by the SMALLEST label —
    * the classic algorithm's random tiebreak replaced with a total order so
    * results are engine/partition/rerun-identical and the DuckDB oracle
    * (chained CTEs, one per round — OracleSqlGen.labelPropagation) pins
    * every round by hash. Fixed `rounds` for the kCore/bfs reason: a
    * data-dependent stopping rule is not expressible as deterministic
    * chained SQL.
    *
    * Returns (node: long, lbl: long) — community = shared label.
    *
    * Scale shape: adjacency is partitioned by neighbor key ONCE and cached;
    * each round sends each neighbor label once per edge (O(E) rows), counts
    * by (node, label) with map-side partials, and picks the argmax as a pure
    * min(struct(-cnt, lbl)) aggregation — NO per-node window sort. The label
    * frame stays O(V) and rides the size-gated broadcast; past the cap the
    * rounds degrade to shuffled joins automatically.
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 20, s"rounds must be in [1, 20], got $rounds")
    lpa(edges, rounds, converge = false).result
  }

  /** Fixed-round breadth-first shortest distances from a single source over
    * an undirected graph: returns (node: long, dist: int) for every node
    * reached within `rounds` hops. Fixed rounds (not run-to-frontier-empty)
    * for the same reason as kCore/pageRankInt: a data-dependent round count
    * is not expressible as deterministic chained SQL CTEs, so the DuckDB
    * oracle (OracleSqlGen.bfs) runs the identical R expansions.
    *
    * Implemented as [[sssp]] with unit weights: after R min-plus relaxation
    * rounds the distance frame holds exactly the nodes within R hops at
    * their hop count — identical to frontier expansion, but each round is
    * ONE relaxation join + ONE min-aggregate + ONE checkpoint instead of
    * the frontier form's expand/distinct/anti-join/two-checkpoints
    * (measured 5.7s → 2.9s at sf0.1 on the FK graph). The oracle's
    * frontier-form CTEs (OracleSqlGen.bfs) compute the same set, pinning
    * the equivalence every round.
    */
  def bfs(edges: DataFrame, src: Long, rounds: Int): DataFrame =
    sssp(edges.select(col("u"), col("v"), lit(1L).as("w")), src, rounds)
      .select(col("node"), col("dist").cast("int").as("dist"))

  /** Fixed-round single-source shortest paths (Bellman-Ford) over an
    * undirected weighted graph: edges (u, v, w: long ≥ 0), returns
    * (node, dist: long) for nodes reachable within `rounds` relaxations.
    * The min-plus generalization of [[bfs]]: each round relaxes every edge
    * out of the current distance frame and keeps the per-node minimum —
    * after R rounds distances using ≤ R edges are exact. Fixed rounds keep
    * the DuckDB oracle expressible as chained CTEs (OracleSqlGen.sssp).
    *
    * Scale shape: identical to bfs — adjacency partitioned+cached once,
    * O(V) distance frame per round, one groupBy(min) exchange per round,
    * eager per-round checkpoint (the frame is consumed by both the union
    * and the relaxation join). min() is order-independent, so results are
    * deterministic under any partitioning.
    */
  def sssp(edges: DataFrame, src: Long, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 30)
    ssspRun(edges, src, rounds, converge = false).result
  }

  // ── one loop, two entry points per algorithm ───────────────────────────
  //
  // kCore, trussEdges, labelPropagation and sssp/bfs above are the
  // ORACLE-REPLAYABLE form: the DuckDB twin unrolls the identical R rounds
  // as chained CTEs, so results hash-match whether or not R reached the
  // fixpoint. At 100× the data the tuned R may stop short — the query
  // silently becomes "R rounds of peel," not "the k-truss." The *Converged
  // entry points below close that gap. Each pair shares ONE private body
  // (kCoreRun, truss, lpa, ssspRun) that supplies the seed, the per-round
  // step and its exit test, and runs it through the one round loop,
  // [[Settle.fixpoint]], which owns the settle, the round cap, the stop
  // test and the unpersist of each dead round. A fixed-round entry point
  // passes no stop test and runs exactly R rounds; a converged one passes a
  // CHEAP exit test under a hard `maxRounds` cap — survivor-count equality
  // for the monotone peels (nested sets make count equality ⇔ set
  // equality), a changed-rows count over the settled round for the
  // non-monotone label/distance maps — and the Fixpoint record reports how
  // many rounds ran and whether the fixpoint was reached. The declared
  // `graph_*_fixpoint` queries pin this against oracles that replay the
  // capped unroll and compute rounds_used/converged in SQL.
  //
  // The per-round STEPS below are the same functions in both forms, so
  // "the converged variant runs the identical per-round plan" is true by
  // construction — the exit test adds only a count over the round's
  // settled frame (monotone peels: the settle's own count) or a change
  // flag riding the round's plan plus one filter-count over the settled
  // blocks (labels/distances), never a different round dataflow. PlanSpec
  // pins each step's physical shape (broadcast joins, no sort-merge, no
  // extra exchange) and that the changed-rows probe plans no data shuffle.

  /** One kCore peel: restrict the cached adjacency to surviving endpoints
    * (two semi-joins), recount degrees, keep nodes with deg ≥ k.
    */
  private[graft] def kCorePeelRound(adj: DataFrame, surv: DataFrame, k: Int,
      bc: DataFrame => DataFrame): DataFrame =
    adj
      .join(bc(surv.withColumnRenamed("node", "a")), Seq("a"), "left_semi")
      .join(bc(surv.withColumnRenamed("node", "b")), Seq("b"), "left_semi")
      .groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k)
      .select("node")

  /** One synchronous LPA round: each node adopts its neighbors' most
    * frequent label (smallest label breaks ties) — argmax-by-count as min
    * over (-cnt, lbl) pairs, an ordinary partial-aggregating aggregation,
    * not a window.
    *
    * `packIds` (edgeSupport's 31-bit discipline, guide §2.3 narrower
    * types): PAST the broadcast gate the (a, lbl) census is the round's
    * O(E) shuffle — when both ids fit [0, 2^31) they pack injectively into
    * ONE long, narrowing the exchanged key from two long columns to one
    * (and giving the hash aggregate a single-long key). UNDER the gate the
    * caller must pass false: the cache is hash-partitioned on `a`
    * precisely so groupBy(a, lbl) plans zero exchanges, and a derived
    * packed key would break that satisfaction and re-introduce the
    * exchange. Unpack is exact integer div/mod, so the (node, lbl) output
    * — including the (-cnt, lbl) tiebreak — is identical either way
    * (GraphAnalyticsSpec pins the equivalence).
    */
  private[graft] def lpaRound(adj: DataFrame, labels: DataFrame,
      bc: DataFrame => DataFrame, packIds: Boolean = false): DataFrame = {
    val joined = adj.join(bc(labels.withColumnRenamed("node", "b")), Seq("b"))
    if (packIds) {
      val K = 1L << 31
      joined
        .select((col("a") * lit(K) + col("lbl")).as("al"))
        .groupBy("al").agg(count(lit(1)).as("cnt"))
        .groupBy(expr(s"al div ${K}L").as("node"))
        .agg(min(struct((-col("cnt")).as("nc"),
          expr(s"al % ${K}L").as("l"))).as("m"))
        .select(col("node"), col("m.l").as("lbl"))
    } else joined
      .groupBy("a", "lbl").agg(count(lit(1)).as("cnt"))
      .groupBy(col("a").as("node"))
      .agg(min(struct((-col("cnt")).as("nc"), col("lbl").as("l"))).as("m"))
      .select(col("node"), col("m.l").as("lbl"))
  }

  /** Packed-key gate for [[lpaRound]]: labels ARE node ids, so one cheap
    * aggregate over the settled O(V) label frame bounds every id the loop
    * will ever pack. Only consulted past the broadcast gate — under it the
    * zero-exchange shape wins and no range job runs at all.
    */
  private def lpaIdsPackable(labels0: DataFrame): Boolean = {
    val st = labels0.agg(min("node").as("mn"), max("node").as("mx")).head()
    !st.isNullAt(0) && st.getLong(0) >= 0L && st.getLong(1) < (1L << 31)
  }

  /** The relaxation JOIN shared verbatim by [[ssspRelaxRound]] and
    * [[ssspRelaxRoundFlagged]]: propagate dist+w along the cached adjacency
    * with the distance frame riding the caller's size-gated broadcast.
    */
  private def relaxedFrontier(adj: DataFrame, dist: DataFrame,
      bc: DataFrame => DataFrame): DataFrame =
    adj
      .join(bc(dist.withColumnRenamed("node", "a")), "a")
      .select(col("b").as("node"), (col("dist") + col("w")).as("dist"))

  /** One Bellman-Ford relaxation: propagate dist+w along the cached
    * adjacency, min-merge with the previous distance frame. `bc` is the
    * caller's size gate — the loops thread each round's settled count so
    * no per-round count job is needed.
    */
  private[graft] def ssspRelaxRound(adj: DataFrame, dist: DataFrame,
      bc: DataFrame => DataFrame): DataFrame =
    dist.union(relaxedFrontier(adj, dist, bc))
      .groupBy("node").agg(min("dist").as("dist"))

  /** [[ssspRelaxRound]] carrying the PREVIOUS distance through the same
    * min-aggregate (old rows tag prev = dist, relaxed rows prev = null):
    * `prev is null OR dist != prev` is exactly the Bellman-Ford "this round
    * changed something" test, so the Converged loop reads convergence off
    * the settled round frame instead of running a separate broadcast-join
    * probe execution per round. The data-heavy relaxation join is
    * [[relaxedFrontier]], shared verbatim with the fixed-round twin.
    */
  private[graft] def ssspRelaxRoundFlagged(adj: DataFrame, dist: DataFrame,
      bc: DataFrame => DataFrame): DataFrame =
    dist.select(col("node"), col("dist"), col("dist").as("prev"))
      .union(relaxedFrontier(adj, dist, bc)
        .select(col("node"), col("dist"), lit(null).cast("long").as("prev")))
      .groupBy("node").agg(min("dist").as("dist"), min("prev").as("prev"))

  /** One k-truss peel: recompute per-edge triangle support, keep edges with
    * support ≥ k−2 (edgeSupport materializes before returning).
    */
  private[graft] def trussPeelRound(cur: DataFrame, k: Int): DataFrame =
    edgeSupport(cur).filter(col("support") >= k - 2)

  /** Canonical (x < y < z) vertex triples of the triangles WITHIN `prevSet`
    * (a canonical u < v edge frame) that contain at least one `removed`
    * edge — the triangles a peel round destroys. Enumerated from each
    * removed edge's common-neighbor wedge (the (p,c) side comes from
    * prevSet's adjacency, the (q,c) closure is a semi-join back into
    * prevSet), then deduped on the vertex triple so triangles holding two
    * or three removed edges decrement survivors exactly once. Cost is
    * O(|removed|·d̄) wedges — NOT a full wedge enumeration.
    */
  private[graft] def lostTriangles(prevSet: DataFrame, removed: DataFrame): DataFrame = {
    val adj = prevSet.select(col("u").as("a"), col("v").as("b"))
      .union(prevSet.select(col("v").as("a"), col("u").as("b")))
    val wedges = removed.select(col("u").as("p"), col("v").as("q"))
      .join(adj, col("p") === col("a"))
      .select(col("p"), col("q"), col("b").as("c"))
      .filter(col("c") =!= col("q"))
    val closed = wedges.join(prevSet,
      least(col("q"), col("c")) === col("u") &&
        greatest(col("q"), col("c")) === col("v"),
      "left_semi")
    closed
      .select(col("p"), col("q"), col("c"),
        least(col("p"), least(col("q"), col("c"))).as("x"),
        greatest(col("p"), greatest(col("q"), col("c"))).as("z"))
      .select(col("x"), (col("p") + col("q") + col("c") - col("x") - col("z")).as("y"),
        col("z"))
      .distinct()
  }

  /** DECREMENTAL support maintenance under edge deletions — the removal-
    * side sibling of [[incrementalTriangleCounts]]: given survivors `surv`
    * (u, v, support — supports computed within `prevSet`), subtract the
    * triangles lost to the edges `prevSet` ∖ `surv` and re-filter at the
    * truss bar. Produces exactly the frame a full [[trussPeelRound]] over
    * surv's edge set would (the GraphAnalyticsSpec equivalence drill pins
    * per-round equality on adversarial and random graphs), at
    * O(removed·d̄) wedge work instead of a full O(Σ min(d,√E)²)
    * enumeration. NOT used by the peel loops: measured at sf0.1 on the
    * copurchase graph, the per-round anti-join + checkpoint + closure
    * joins cost as much as re-enumerating the survivor set — the operator
    * earns its keep when a DELETION BATCH arrives against a maintained
    * support table (dynamic-graph maintenance), where a full
    * re-enumeration is not on the table at all.
    */
  private[graft] def trussDecRound(prevSet: DataFrame, surv: DataFrame, k: Int,
      removedHint: Option[DataFrame] = None): DataFrame = {
    // a caller that KNOWS the deletion batch (the maintenance use case —
    // graph_support_dec hands in its delete filter) skips the O(|prevSet|)
    // anti-join; zero-support edges outside the hint are harmless to omit
    // because an edge in no triangle decrements nothing
    val removed = removedHint.getOrElse(
        prevSet.select("u", "v")
          .join(surv.select("u", "v"), Seq("u", "v"), "left_anti"))
      .localCheckpoint(true)
    val dec = lostTriangles(prevSet.select("u", "v"), Hints.broadcastGated(removed))
      .select(explode(array(
        struct(col("x").as("u"), col("y").as("v")),
        struct(col("x").as("u"), col("z").as("v")),
        struct(col("y").as("u"), col("z").as("v")))).as("e"))
      .groupBy(col("e.u").as("u"), col("e.v").as("v")).agg(count(lit(1)).as("_lost"))
    surv.join(dec, Seq("u", "v"), "left")
      .select(col("u"), col("v"),
        (col("support") - coalesce(col("_lost"), lit(0L))).as("support"))
      .filter(col("support") >= k - 2)
  }


  /** Run-to-fixpoint [[kCore]]: identical per-round peel, stops at the
    * first round that drops no node. Survivor sets are nested, so the
    * count-equality exit is exact and costs nothing beyond the settle's
    * own count.
    */
  def kCoreConverged(edges: DataFrame, k: Int, maxRounds: Int): Fixpoint = {
    require(k >= 1 && maxRounds >= 1 && maxRounds <= 200)
    kCoreRun(edges, k, maxRounds, converge = true)
  }

  /** The peel loop behind [[kCore]] and [[kCoreConverged]]. The symmetric
    * adjacency is partitioned and cached once; survivors are carried as
    * (node) — O(V) — and each round recomputes degrees from the cached
    * adjacency restricted to surviving endpoints on both sides. A round
    * reads the previous survivor frame TWICE (both endpoint semi-joins), so
    * an unsettled lineage would recompute early rounds 2^R times.
    */
  private def kCoreRun(edges: DataFrame, k: Int, maxRounds: Int,
      converge: Boolean): Fixpoint = {
    val adj = arcs(edges).repartition(col("a")).cache()
    // The survivor frame is O(V) and shrinks every round — BROADCAST it
    // into both semi-joins so the O(E) cached adjacency is probed in place
    // (map-side) instead of being re-sorted/re-shuffled twice per round.
    // The hint is gated on the INITIAL node count (survivors only shrink):
    // past the cap it drops out and every round plans shuffled semi-joins.
    val (surv0, vRows) = settleCounted(adj.select(col("a").as("node")).distinct())
    def bc(df: DataFrame): DataFrame = Hints.broadcastIfUnder(df, vRows)
    val fp = fixpoint(surv0, vRows, maxRounds, Option.when(converge)(unchanged))(
      (surv, _) => kCorePeelRound(adj, surv, k, bc))
    // final pass re-attaches the in-core degree for the output frame
    val out = adj
      .join(bc(fp.result.withColumnRenamed("node", "a")), Seq("a"), "left_semi")
      .join(bc(fp.result.withColumnRenamed("node", "b")), Seq("b"), "left_semi")
      .groupBy(col("a").as("node")).agg(count(lit(1)).as("core_deg"))
      .filter(col("core_deg") >= k)
    val mat = out.localCheckpoint(true)
    adj.unpersist(false)
    fp.copy(result = mat)
  }

  /** Run-to-fixpoint [[trussEdges]]: identical cascading support peel,
    * stops at the first round that removes no edge (edge sets are nested —
    * count equality is set equality). Early exit saves a full
    * [[edgeSupport]] wedge enumeration per avoided round, the dominant
    * cost of the operator.
    */
  def trussEdgesConverged(edges: DataFrame, k: Int, maxRounds: Int): Fixpoint = {
    require(k >= 3 && maxRounds >= 1 && maxRounds <= 50,
      s"need k >= 3 and maxRounds in [1, 50], got k=$k maxRounds=$maxRounds")
    truss(edges, k, maxRounds, converge = true)
  }

  /** The peel loop behind [[trussEdges]] and [[trussEdgesConverged]]. Each
    * round is a full edgeSupport re-enumeration of the (shrinking) survivor
    * set. A decremental formulation (trussDecRound) was measured at sf0.1
    * and LOST on this workload: with ~10^6 survivors and sliver removals,
    * the per-round anti-join + checkpoint + closure joins cost as much as
    * re-enumerating — the decremental operator is kept for its real use
    * case (maintaining supports under edge DELETIONS, the removal-side
    * sibling of incrementalTriangleCounts), not the peel loop.
    *
    * edgeSupport settles each round eagerly inside the step, so the fixed
    * form's settle is the identity and counts nothing; its seed is a
    * projection over the CALLER's frame, which the loop must not drop. The
    * converged form settles and counts its own seed, then counts each
    * round's survivors over the settled support blocks (one RDD job).
    */
  private def truss(edges: DataFrame, k: Int, maxRounds: Int, converge: Boolean): Fixpoint = {
    val canon = edges.select(
      least(col("u"), col("v")).cast("long").as("u"),
      greatest(col("u"), col("v")).cast("long").as("v"))
    val peel = (cur: DataFrame, _: Long) => trussPeelRound(cur.select("u", "v"), k)
    if (!converge) fixpoint(canon, 0L, maxRounds, settle = passThrough, seedOwned = false)(peel)
    else {
      val (seed, m) = settleCounted(canon)
      fixpoint(seed, m, maxRounds, Some(unchanged),
        settle = df => (df, df.queryExecution.toRdd.count()))(peel)
    }
  }

  /** Run-to-fixpoint [[labelPropagation]]: identical synchronous round,
    * stops when no node changes its label. Labels are NOT monotone, so the
    * exit is a changed-rows count. Synchronous LPA can 2-cycle on
    * bipartite structure; the cap turns that into a loud
    * `converged = false` instead of an infinite loop.
    */
  def lpaConverged(edges: DataFrame, maxRounds: Int): Fixpoint = {
    require(maxRounds >= 1 && maxRounds <= 100)
    lpa(edges, maxRounds, converge = true)
  }

  /** The label loop behind [[labelPropagation]] and [[lpaConverged]]. The
    * converged form's changed-rows probe rides the round plan itself: the
    * previous label is attached by one broadcast join INSIDE the round, the
    * round settles once, and the change count is read off the settled
    * frame — no separate probe execution (broadcast build + join + count)
    * per round.
    */
  private def lpa(edges: DataFrame, maxRounds: Int, converge: Boolean): Fixpoint = {
    val adjRaw = arcs(edges)
    val (labels0, vRows) = settleCounted(
      adjRaw.select(col("a").as("node")).distinct()
        .withColumn("lbl", col("node")))
    def bc(df: DataFrame): DataFrame = Hints.broadcastIfUnder(df, vRows)
    // Cache partitioning picks the round's ZERO-exchange key (the kCore
    // discipline): while the label frame rides the broadcast (vRows under
    // the gate), the b-join is map-side and partitioning by the AGGREGATION
    // key `a` lets both per-round groupBys reuse the cache's partitioning —
    // no data exchange per round at all. Past the gate the label join goes
    // shuffled on b, so b-partitioning (the old layout) keeps the O(E)
    // adjacency from re-shuffling every round instead.
    val underGate = vRows <= Hints.maxRows(edges)
    val adj = adjRaw
      .repartition(if (underGate) col("a") else col("b"))
      .cache()
    // past the gate the (a,lbl) census shuffles O(E) partials per round —
    // pack the key into one long when ids fit 31 bits (§2.3); under the
    // gate the rounds are exchange-free and packing would break that
    val pack = !underGate && lpaIdsPackable(labels0)
    val fp = fixpoint(labels0, vRows, maxRounds,
        Option.when(converge)(noneWhere(col("_chg")))) { (prev, _) =>
      val labels = prev.select("node", "lbl")
      val next = lpaRound(adj, labels, bc, pack)
      if (!converge) next
      else next.join(bc(labels.select(col("node"), col("lbl").as("prev_lbl"))), Seq("node"))
        .select(col("node"), col("lbl"), (col("lbl") =!= col("prev_lbl")).as("_chg"))
    }
    adj.unpersist(false)
    fp.copy(result = fp.result.select("node", "lbl"))
  }

  /** Run-to-fixpoint [[sssp]]: identical min-plus relaxation, stops when a
    * round improves no distance and reaches no new node — the Bellman-Ford
    * termination test. Count equality would NOT suffice here: a round can
    * improve distances without growing the reached set. The test rides the
    * round itself ([[ssspRelaxRoundFlagged]] carries the previous distance
    * through the min-aggregate), so the only per-round actions are the
    * settle-and-count and one cheap filter-count over the settled frame —
    * no separate broadcast-join probe execution.
    */
  def ssspConverged(edges: DataFrame, src: Long, maxRounds: Int): Fixpoint = {
    require(maxRounds >= 1 && maxRounds <= 200)
    ssspRun(edges, src, maxRounds, converge = true)
  }

  /** The relaxation loop behind [[sssp]] and [[ssspConverged]]: adjacency
    * partitioned and cached once, O(≤V) distance frame per round. The frame
    * broadcasts into the relaxation join, size-gated per round from the
    * PREVIOUS round's settled count (the frontier GROWS; past the cap the
    * round plans a shuffled join) — no per-round count job.
    */
  private def ssspRun(edges: DataFrame, src: Long, maxRounds: Int,
      converge: Boolean): Fixpoint = {
    val adj = arcs(edges, "w").repartition(col("a")).cache()
    val seed = edges.sparkSession.range(1)
      .select(lit(src).as("node"), lit(0L).as("dist"))
      .localCheckpoint(true)
    val relax: (DataFrame, DataFrame, DataFrame => DataFrame) => DataFrame =
      if (converge) ssspRelaxRoundFlagged else ssspRelaxRound
    val fp = fixpoint(seed, 1L, maxRounds,
        Option.when(converge)(noneWhere(col("prev").isNull || col("prev") =!= col("dist")))) {
      (dist, n) => relax(adj, dist.select("node", "dist"), bcRows(n))
    }
    adj.unpersist(false)
    fp.copy(result = fp.result.select("node", "dist"))
  }

  /** Run-to-fixpoint [[bfs]]: [[ssspConverged]] with unit weights — stops
    * when the frontier is exhausted (rounds_used = source eccentricity + 1
    * on a connected component, the confirming round included).
    */
  def bfsConverged(edges: DataFrame, src: Long, maxRounds: Int): Fixpoint = {
    val fp = ssspConverged(
      edges.select(col("u"), col("v"), lit(1L).as("w")), src, maxRounds)
    fp.copy(result = fp.result.select(col("node"), col("dist").cast("int").as("dist")))
  }

  /** Deterministic independent-cascade influence spread (Kempe-Kleinberg-
    * Tardos IC model with derandomized coin flips): arc (a,b) of the
    * symmetric closure ACTIVATES iff md5("a:b:ic")'s 52-bit prefix falls
    * under `pNum` (≈ p·2^52) — a pure function of the arc, so the "random"
    * cascade is engine/partition/rerun-reproducible, exactly like the
    * md5 sampling family. Reach = multi-source BFS over activated arcs
    * only; returns (node, dist) for nodes infected within `rounds` steps.
    * Note activation is per DIRECTED arc (a may infect b while b cannot
    * infect a), matching the IC model's independent coin per attempt.
    */
  def influenceSpread(
      edges: DataFrame, seeds: Seq[Long], pNum: Long, rounds: Int): DataFrame = {
    require(seeds.nonEmpty && rounds >= 1 && rounds <= 30 && pNum > 0)
    val act = arcs(edges)
      .filter(conv(substring(md5(concat_ws(":",
        col("a"), col("b"), lit("ic")).cast("binary")), 1, 13), 16, 10)
        .cast("long") < pNum)
      .repartition(col("a"))
      .cache()
    val spark = edges.sparkSession
    import spark.implicits._
    val seed = seeds.toDF("node")
      .select(col("node").cast("long").as("node"), lit(0L).as("dist"))
      .localCheckpoint(true)
    // size gate threaded from each round's settled count — no count jobs
    val fp = fixpoint(seed, seeds.size.toLong, rounds) { (dist, n) =>
      dist.union(act
          .join(bcRows(n)(dist.withColumnRenamed("node", "a")), "a")
          .select(col("b").as("node"), (col("dist") + 1L).as("dist")))
        .groupBy("node").agg(min("dist").as("dist"))
    }
    act.unpersist(false)
    fp.result
  }

  /** Harmonic centrality (Boldi & Vigna, "Axioms for centrality", Internet
    * Math 2014) from a fixed seed sample, exact integer math:
    * H(v) = Σ_{s ∈ seeds, 0 < d(s,v) ≤ rounds} floor(scale / d(s,v)).
    * Exact all-pairs harmonic is O(V·E) — the standard estimator samples
    * sources; with a FIXED deterministic seed set the estimate is
    * hash-verifiable. One multi-source BFS: the distance frame carries
    * (seed, node, dist) so all seeds expand together — per round one
    * relaxation join against the cached adjacency and one
    * groupBy(seed,node).min exchange over an O(S·V) frame, never S
    * separate traversals. min() is order-independent; floor(scale/d) sums
    * are exact longs.
    */
  def harmonicInt(
      edges: DataFrame,
      seeds: Seq[Long],
      rounds: Int,
      scale: Long = 1000000L): DataFrame =
    multiSourceDistances(edges, seeds, rounds)
      .filter(col("dist") > 0)
      .groupBy("node")
      .agg(sum(expr(s"${scale}L div dist")).as("harmonic"),
        count(lit(1)).as("n_reached"))

  /** One synchronized multi-source BFS: (seed, node, dist ≤ rounds) for
    * every seed — the shared engine under [[harmonicInt]] and the
    * eccentricity/diameter estimate (max dist per seed). Min-plus
    * relaxation with a seed key: per round one relaxation join against
    * the cached adjacency and one groupBy(seed,node).min exchange over an
    * O(S·V) frame — never S separate traversals.
    */
  def multiSourceDistances(
      edges: DataFrame, seeds: Seq[Long], rounds: Int): DataFrame = {
    require(seeds.nonEmpty && rounds >= 1 && rounds <= 15)
    val adj = arcs(edges).repartition(col("a")).cache()
    val spark = edges.sparkSession
    import spark.implicits._
    val seed = seeds.toDF("seed")
      .select(col("seed"), col("seed").as("node"), lit(0L).as("dist"))
      .localCheckpoint(true)
    // O(S·V) frame, size-gated broadcast into the cached adjacency; the
    // gate rows thread from each round's settled count (no count jobs)
    val fp = fixpoint(seed, seeds.size.toLong, rounds) { (dist, n) =>
      dist.union(adj
          .join(bcRows(n)(dist.withColumnRenamed("node", "a")), "a")
          .select(col("seed"), col("b").as("node"), (col("dist") + lit(1L)).as("dist")))
        .groupBy("seed", "node").agg(min("dist").as("dist"))
    }
    adj.unpersist(false)
    fp.result
  }

  /** Resource-allocation link-prediction index (Zhou, Lü & Zhang,
    * "Predicting missing links via local information", Eur. Phys. J. B 2009)
    * over a bipartite graph (u = container/basket, v = item): for every item
    * pair sharing at least one u, RA(v1,v2) = Σ_{u ∈ Γ(v1)∩Γ(v2)} 1/deg(u).
    * The common-neighbor count of [[graph_copurchase]] weighted so that
    * promiscuous baskets contribute less — the standard fix for
    * popularity-biased co-occurrence.
    *
    * Numeric contract: each common u contributes the EXACT integer
    * floor(scale / deg(u)); pair scores are integer sums, so they are
    * partition/order/engine-independent (a 1.0/deg double sum would be
    * order-dependent in the last mantissa bits). With scale = 2^20 a pair
    * needs > 2^43 common neighbors to overflow the long sum — unreachable.
    *
    * Scale shape: `maxDeg` drops hub u's BEFORE the self-join — the
    * quadratic-fanout guard (a u with n items emits n(n-1)/2 pair rows).
    * Dropping hubs is principled for RA specifically: their per-pair weight
    * scale/deg → 0, so the score mass lost is bounded by n·scale/maxDeg per
    * hub. Remaining work is one shuffle on u (the self-join key), one
    * map-side-combined sum on the pair key — no window, no driver state.
    */
  def resourceAllocation(
      edges: DataFrame, maxDeg: Long = 256, scale: Long = 1L << 20): DataFrame = {
    require(maxDeg >= 2 && scale > 0)
    val e = edges.select(col("u").cast("long").as("u"), col("v").cast("long").as("v"))
      .distinct()
    val deg = e.groupBy("u").agg(count(lit(1)).as("deg"))
      .filter(col("deg") <= maxDeg)
    // weight depends only on u, so compute it once per edge before the join
    val ew = e.join(deg, "u").select(col("u"), col("v"), expr(s"$scale div deg").as("w"))
    ew.as("a").join(ew.as("b"),
        col("a.u") === col("b.u") && col("a.v") < col("b.v"))
      .groupBy(col("a.v").as("v1"), col("b.v").as("v2"))
      .agg(sum(col("a.w")).as("ra_score"), count(lit(1)).as("n_common"))
  }

  /** Sampled-source betweenness centrality (truncated Brandes): the exact
    * algorithm's two sweeps (Brandes, "A faster algorithm for betweenness
    * centrality", J. Math. Sociol. 2001) restricted to a FIXED seed sample
    * and a FIXED BFS horizon — the standard estimator (exact all-pairs is
    * O(V·E)), and the fixed sample/horizon keep it hash-verifiable.
    *
    *  - Forward: level-synchronous multi-source BFS carrying (seed, node,
    *    dist, sigma) where sigma = #shortest paths — each level is one
    *    relaxation join against the cached distinct adjacency, one
    *    groupBy(seed, node) sigma-sum, one anti-join against settled nodes.
    *  - Backward: dependency accumulation from the deepest level up,
    *    FIXED-POINT: delta_fp(v) = Σ_{succ w} (sigma_v·(SCALE+delta_fp(w)))
    *    div sigma_w — integer division on non-negative operands, identical
    *    in Spark (`div`) and DuckDB (`//`), so the chained-CTE oracle pins
    *    every level by hash. Products run in DECIMAL(38,0)/HUGEINT so
    *    sigma·delta cannot silently wrap at scale.
    *
    * Betweenness(v) = Σ_seeds delta_fp(v), v ∉ seeds. Per-level frames are
    * O(seeds·V); every join is equi-keyed; no windows, no driver state
    * beyond the fixed loop.
    */
  def betweennessInt(
      edges: DataFrame,
      seeds: Seq[Long],
      rounds: Int,
      scale: Long = 1L << 20): DataFrame = {
    require(seeds.nonEmpty && rounds >= 1 && rounds <= 8)
    import org.apache.spark.sql.types.DecimalType
    val e = edges.select(col("u").cast("long").as("u"), col("v").cast("long").as("v"))
    val adj = e.select(col("u").as("a"), col("v").as("b"))
      .union(e.select(col("v").as("a"), col("u").as("b")))
      .distinct()
      .repartition(col("a"))
      .cache()
    val spark = edges.sparkSession
    import spark.implicits._
    // forward: one frame per level (seed, node, sigma)
    val f0 = seeds.toDF("seed")
      .select(col("seed"), col("seed").as("node"), lit(1L).as("sigma"))
      .localCheckpoint(true)
    val levels = scala.collection.mutable.ArrayBuffer(f0)
    var settled = f0.select("seed", "node").localCheckpoint(true)
    // frontier size gate threaded from each level's settled count
    var fRows = seeds.size.toLong
    // not on Settle.fixpoint: the backward pass reads every level's frame
    for (level <- 1 to rounds) {
      val frontier = levels(level - 1)
      val (next, nn) = settleCounted(adj
        .join(bcRows(fRows)(frontier.withColumnRenamed("node", "a")), "a")
        .groupBy(col("seed"), col("b").as("node"))
        .agg(sum("sigma").as("sigma"))
        .join(settled, Seq("seed", "node"), "left_anti"))
      fRows = nn
      levels += next
      // prev `settled` folds into the new checkpoint — dead after it settles
      // (the per-level frames in `levels` stay live for the backward pass)
      val prevSettled = settled
      settled = settled.union(next.select("seed", "node")).localCheckpoint(true)
      Settle.unpersistSettled(prevSettled)
    }
    // backward: delta_fp per level, deepest first (level `rounds` has no
    // in-horizon successors → delta 0)
    // level 0 (the sources) never feeds the result — stop at level 1
    val deltas = new Array[DataFrame](rounds + 1)
    deltas(rounds) = levels(rounds).withColumn("delta", lit(0L))
    for (t <- rounds - 1 to 1 by -1) {
      val w = deltas(t + 1)
        .select(col("seed"), col("node").as("b"),
          col("sigma").as("sigma_w"), col("delta").as("delta_w"))
      val contrib = levels(t)
        .withColumnRenamed("node", "a")
        .join(adj, "a")
        .join(w, Seq("seed", "b"))
        .groupBy(col("seed"), col("a").as("node"))
        .agg(sum(expr(s"CAST(CAST(sigma AS DECIMAL(38,0)) * ($scale + delta_w)" +
          s" div sigma_w AS BIGINT)")).as("delta"))
      deltas(t) = levels(t)
        .join(contrib, Seq("seed", "node"), "left")
        .select(col("seed"), col("node"), col("sigma"),
          coalesce(col("delta"), lit(0L)).as("delta"))
        .localCheckpoint(true)
    }
    adj.unpersist(false)
    // seeds excluded (delta of the source counts paths FROM it, not through)
    (1 to rounds).map(deltas(_)).reduce(_ union _)
      .groupBy("node").agg(sum("delta").as("bc_fp"))
  }

  /** DETERMINISTIC unbiased random walks over the undirected graph — the
    * corpus generator under DeepWalk/node2vec-style graph embeddings
    * (Perozzi et al., KDD 2014), made engine-reproducible: when walk w
    * stands on node n after t−1 steps, the step-t neighbor index is
    * md5(w:t−1:n:walk) mod deg(n) — the hash coordinate is the frontier
    * row's step column, i.e. the PREVIOUS step index — over the SORTED
    * distinct-neighbor list —
    * a pure function of (walk, step, node), so any engine regenerates the
    * identical corpus (the md5-coordinate discipline of Splits applied to
    * graph sampling; true RNG walks are not hash-verifiable).
    *
    * Scale shape: the indexed adjacency is built once (row_number windows
    * PARTITIONED by node — parallel) and cached; each step is one
    * size-gated broadcast join against the O(walks) frontier to fetch the
    * degree, then one equi-join on (node, idx) into the cached adjacency —
    * the frontier never fans out. Walks at a dead-end node (no neighbors)
    * terminate early via the inner degree join. Returns
    * (walk_id, step, node) for steps 0..`steps`.
    */
  def randomWalks(
      edges: DataFrame,
      seeds: Seq[Long],
      walksPerSeed: Int,
      steps: Int): DataFrame =
    randomWalksOver(adjacencyIndex(edges).localCheckpoint(true),
      seeds, walksPerSeed, steps)

  /** The sorted, indexed, degree-annotated adjacency under [[randomWalks]]:
    * one row per (node, neighbor) of the DISTINCT symmetric closure, with
    * the neighbor's 0-based rank in per-node sorted order and the node's
    * degree. This is the once-per-ingest maintenance artifact — persist it
    * next to the graph and pass it to [[randomWalksOver]]; rebuilding it
    * per walk batch re-pays the O(E) distinct + window every time.
    */
  def adjacencyIndex(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = edges.select(col("u").cast("long").as("u"), col("v").cast("long").as("v"))
    val sym = e.select(col("u").as("a"), col("v").as("b"))
      .union(e.select(col("v").as("a"), col("u").as("b")))
      .distinct()
    val w = Window.partitionBy("a")
    sym
      .withColumn("idx", row_number().over(w.orderBy("b")) - 1)
      .withColumn("deg", count(lit(1)).over(w))
      .select(col("a"), col("idx"), col("b"), col("deg"))
  }

  /** Walk over a prebuilt [[adjacencyIndex]]: each step is ONE scan of the
    * index with the O(walks) frontier broadcast into it — the degree rides
    * on the index row, so the chosen-neighbor condition
    * idx = md5(walk:prevStep:node) mod deg (prevStep = the frontier row's
    * step column, i.e. t−1 when producing step t) evaluates as a join
    * residual and no separate degree join exists. Walks at absent/dead-end
    * nodes terminate (no index row matches).
    */
  def randomWalksOver(
      index: DataFrame,
      seeds: Seq[Long],
      walksPerSeed: Int,
      steps: Int): DataFrame = {
    require(seeds.nonEmpty && walksPerSeed >= 1 && steps >= 1 && steps <= 12)
    val adj = index.select(col("a").as("adj_a"), col("idx").as("adj_idx"),
      col("b"), col("deg"))
    val spark = index.sparkSession
    import spark.implicits._
    val w0 = seeds.flatMap(s => (0 until walksPerSeed).map(w => (s * 100 + w, s)))
      .toDF("walk_id", "node")
      .select(col("walk_id"), lit(0).as("step"), col("node"))
      .localCheckpoint(true)
    var cur = w0
    var all = w0
    // step t is derived as frontier.step + 1 (NOT a lit(t) literal): every
    // step then compiles to the SAME generated source, so whole-stage
    // codegen compiles once for the whole walk instead of once per step —
    // the per-step janino compile was most of this operator's cold time
    val hash = conv(substring(md5(concat_ws(":",
      col("walk_id"), col("step"), col("node"), lit("walk"))
      .cast("binary")), 1, 13), 16, 10).cast("long")
    // not on Settle.fixpoint: the output unions every step's frame
    for (_ <- 1 to steps) {
      val next = adj
        .join(broadcast(cur),
          col("node") === col("adj_a") && (hash % col("deg")) === col("adj_idx"))
        .select(col("walk_id"), (col("step") + lit(1)).as("step"),
          col("b").as("node"))
        .localCheckpoint(true)
      all = all.union(next)
      cur = next
    }
    all
  }
}
