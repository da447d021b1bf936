package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Dedup

/** Complexity + durability evidence for connectedComponents, beyond the
  * semantic coverage in PipelineSpec:
  *
  *  - the pointer-jumping (path-halving) claim: a path graph is the
  *    worst-case diameter for min-label propagation. Plain propagation needs
  *    `diameter` rounds — for the 4096-node path below that is 4095, far
  *    beyond maxIter=50, so convergence inside the bound is only possible if
  *    the jump actually collapses chains; the round count is additionally
  *    pinned to the O(log d) envelope.
  *  - the reliable-checkpoint mode (`reliableCheckpoint = true`) for cluster
  *    runs, where localCheckpoint blocks die with their executor.
  */
class CCSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("pointer jumping: 4096-node path converges in O(log d) rounds, not O(d)") {
    val n = 4096
    val pairs = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val (labels, rounds) = Dedup.ccWithRounds(pairs, maxIter = 50)
    val out = labels.as[(Long, Long)].collect()
    assert(out.length == n)
    assert(out.forall(_._2 == 0L), "every node must resolve to rep 0")
    // log2(4096) = 12; allow 2× slack for the halving (not full doubling)
    // schedule. Plain propagation would need 4095 rounds.
    assert(rounds <= 24, s"expected O(log d) rounds, got $rounds")
  }

  test("property: components equal an in-memory union-find on random graphs") {
    Seq(3, 17, 41).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val n = 80
      val pairs = (0 until 120).map { _ =>
        val a = rnd.nextInt(n).toLong
        val b = rnd.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      // reference: plain union-find with path compression
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = pairs.flatMap(p => Seq(p._1, p._2)).distinct
        .map(v => v -> find(v.toInt).toLong).toMap
      val got = Dedup.connectedComponents(pairs.toDF("a_id", "b_id"))
        .as[(Long, Long)].collect().toMap
      assert(got == expected, s"seed=$seed")
    }
  }

  test("reliable-checkpoint mode produces the same components") {
    val dir = java.nio.file.Files.createTempDirectory("cc_ckpt").toFile
    spark.sparkContext.setCheckpointDir(dir.getAbsolutePath)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val local = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toSet
    val durable = Dedup.connectedComponents(pairs, reliableCheckpoint = true)
      .as[(Long, Long)].collect().toSet
    assert(durable == local)
    assert(durable == Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L)))
  }

  test("connectedComponents leaves the caller's localCheckpointed pair frame readable") {
    val raw = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val pairs = raw.toDF("a_id", "b_id").localCheckpoint(true)
    assert(Dedup.connectedComponents(pairs).count() == 5)
    assert(pairs.as[(Long, Long)].collect().toSet == raw.toSet)
  }

  test("mergeComponents: batch merge equals from-scratch on every shape") {
    // old graph: {1,2,3} (rep 1) and {10,11} (rep 10), singleton-free
    val oldPairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val oldLabels = Dedup.connectedComponents(oldPairs)
    // batch exercises every merge shape at once:
    //  (3,10)  — bridges the two old components directly
    //  (11,20) — attaches a NEW node to an old component
    //  (30,31) — a brand-new component
    //  (1,2)   — a redundant pair inside one old component (self-loop in
    //            the contracted graph; must be a no-op)
    val batch = Seq((3L, 10L), (11L, 20L), (30L, 31L), (1L, 2L)).toDF("a_id", "b_id")
    val merged = Dedup.mergeComponents(oldLabels, batch)
      .as[(Long, Long)].collect().toSet
    val scratch = Dedup.connectedComponents(oldPairs.unionByName(batch))
      .as[(Long, Long)].collect().toSet
    assert(merged == scratch)
    assert(merged == Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 1L), (11L, 1L),
      (20L, 1L), (30L, 30L), (31L, 30L)))
  }

  test("mergeComponents: driver-side union-find path equals the distributed CC path") {
    val rnd = new scala.util.Random(7)
    val oldPairs = (1 to 120).map(_ => (rnd.nextInt(60).toLong, 60L + rnd.nextInt(60)))
      .map { case (a, b) => (math.min(a, b), math.max(a, b) + 1) }
      .distinct.toDF("a_id", "b_id")
    val oldLabels = Dedup.connectedComponents(oldPairs)
    val batch = (1 to 80).map(_ => (rnd.nextInt(150).toLong, 150L + rnd.nextInt(60)))
      .distinct.toDF("a_id", "b_id")
    val local = Dedup.mergeComponents(oldLabels, batch)
      .as[(Long, Long)].collect().toSet // default cap: contraction solves locally
    spark.conf.set("spark.graft.localCcMaxEdges", "0") // force distributed CC
    val dist = try Dedup.mergeComponents(oldLabels, batch)
      .as[(Long, Long)].collect().toSet
    finally spark.conf.unset("spark.graft.localCcMaxEdges")
    assert(local == dist)
    val scratch = Dedup.connectedComponents(oldPairs.unionByName(batch))
      .as[(Long, Long)].collect().toSet
    assert(local == scratch)
  }

  test("mergeComponents: a new node with the smallest id becomes the rep") {
    // from-scratch reps are min ids — the merge must relabel the whole old
    // component when the batch brings a smaller id
    val oldLabels = Dedup.connectedComponents(Seq((5L, 6L)).toDF("a_id", "b_id"))
    val merged = Dedup.mergeComponents(oldLabels, Seq((2L, 5L)).toDF("a_id", "b_id"))
      .as[(Long, Long)].collect().toSet
    assert(merged == Set((2L, 2L), (5L, 2L), (6L, 2L)))
  }

  test("mergeComponents: empty batch is the identity") {
    val oldLabels = Dedup.connectedComponents(Seq((1L, 2L)).toDF("a_id", "b_id"))
    val empty = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    val merged = Dedup.mergeComponents(oldLabels, empty)
      .as[(Long, Long)].collect().toSet
    assert(merged == Set((1L, 1L), (2L, 1L)))
  }

  test("connectedComponents runs no more Spark jobs than its pinned count") {
    // the GraphAnalyticsSpec loop fixture as a<b pairs: K5, a pendant
    // triangle off node 5, a tail path off node 12
    val pairs = ((for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)) ++
      Seq((5L, 11L), (5L, 12L), (11L, 12L)) ++ (12L until 18L).map(i => (i, i + 1)))
      .toDF("a_id", "b_id")
    val (_, jobs) = jobsDuring(Dedup.connectedComponents(pairs))
    // measured before the loop moved onto Settle.fixpoint
    assert(jobs <= 23, s"connectedComponents ran $jobs jobs, pinned at 23")
  }
}
