package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Lifecycle discipline for settled (checkpointed/persisted) frames
  * (optimization guide §5: "unpersist when done"; round-16 verdict item 4).
  *
  * Every settled frame in this engine is QUERY-SCOPED: [[graft.Setup]]
  * memoizes only directory paths, so no RDD block created while one declared
  * query runs is ever read by a later query. The ContextCleaner does reclaim
  * them — but only after a GC notices the frames are unreachable, which in a
  * long suite leaves each query taxed by its predecessors' dead blocks (the
  * round-16 suite-tail slowdown: per-query plans fine in isolation, suite
  * total ×0.86).
  *
  * Three tools:
  *  - [[fixpoint]] — the one round loop every iterative operator runs
  *    through (settle → count → unpersist, optional stop test, round cap).
  *  - [[unpersistSettled]] — drop ONE settled frame's blocks the moment its
  *    last consumer inside an operator is done (iterative loops: round N's
  *    labels are dead as soon as round N+1 settles).
  *  - [[sweep]] — harness hygiene between queries: unpersist every block the
  *    finished query left behind. Safe precisely because of the
  *    query-scoped invariant above; called by Bench/BenchProf/Verify only,
  *    never from inside an operator.
  *
  * Unpersisting a locally-checkpointed RDD logs a per-RDD "lineage has been
  * truncated" warning; the harness mains lower `org.apache.spark.rdd` to
  * ERROR for their own process ([[graft.Bench.quietRddLogs]]). This object
  * leaves logging alone.
  */
object Settle {

  /** Result of an iterative run: the final frame, the number of rounds
    * executed (the confirming round — the first whose output equals its
    * input — counts), and whether the stop test fired within the cap.
    * `converged = false` means `result` is the capped approximation and
    * the caller must widen `maxRounds` (or accept R-rounds semantics); a
    * run with no stop test never reports convergence.
    */
  final case class Fixpoint(result: DataFrame, roundsUsed: Int, converged: Boolean)

  /** Materialize-and-count in ONE job: lazy local checkpoint, then count
    * the checkpointed InternalRows directly — an RDD count, so the job
    * that produces the count IS the job that persists the partitions.
    * The eager-checkpoint-then-count pairs it replaces cost two to three
    * jobs per round (rdd.count to materialize, then a separate SQL count
    * with its own single-partition exchange) — pure scheduler overhead at
    * any scale, and the dominant cost of a round on small per-round frames.
    */
  def settleCounted(df: DataFrame): (DataFrame, Long) = {
    val cp = df.localCheckpoint(false)
    (cp, cp.queryExecution.toRdd.count())
  }

  /** A round's exit test: (previous measure, this round's measure, this
    * round's settled frame) ⇒ stop.
    */
  type Stop = (Long, Long, DataFrame) => Boolean

  /** Stop when a round leaves the measure unchanged: survivor counts of a
    * monotone peel (nested sets, so count equality is set equality) or
    * CC's strictly decreasing Σrep certificate. Costs nothing beyond the
    * settle's own job.
    */
  val unchanged: Stop = (prev, cur, _) => prev == cur

  /** Stop when no settled row satisfies `changed` — for non-monotone maps
    * (labels, distances) whose round carries its own change flag. One RDD
    * count over the settled blocks, no aggregate exchange.
    */
  def noneWhere(changed: Column): Stop =
    (_, _, df) => df.filter(changed).queryExecution.toRdd.count() == 0

  /** The one round loop (Pregel's superstep with vote-to-halt): round N runs
    * `step(frame, measure)` over round N−1's settled frame and measure, then
    * `settle` materializes it and yields its measure (a row count by
    * default — the size gate the next round's broadcasts read), then the
    * `stop` test runs, then round N−1's frame is unpersisted. At most
    * `maxRounds` rounds; with no `stop` exactly `maxRounds` run (fixed-round
    * operators — LPA is not monotone and must run exactly R).
    *
    * The seed is round 0's frame. The loop drops it only when `seedOwned`:
    * a seed the operator settled for this loop is dead after round 1, but a
    * seed that is (a projection over) the CALLER's frame must stay readable
    * — its blocks are not this loop's to drop.
    */
  def fixpoint(
      seed: DataFrame,
      seedMeasure: Long,
      maxRounds: Int,
      stop: Option[Stop] = None,
      settle: DataFrame => (DataFrame, Long) = settleCounted,
      seedOwned: Boolean = true)(step: (DataFrame, Long) => DataFrame): Fixpoint = {
    var cur = seed
    var measure = seedMeasure
    var used = 0
    var converged = false
    while (used < maxRounds && !converged) {
      val (next, m) = settle(step(cur, measure))
      converged = stop.exists(_(measure, m, next))
      if (used > 0 || seedOwned) unpersistSettled(cur)
      cur = next; measure = m; used += 1
    }
    Fixpoint(cur, used, converged)
  }

  /** Every settled RDD a frame's plan reads (a loop variable is often a
    * projection/filter OVER the round's checkpoint, not the checkpoint
    * itself). Callers must only hand in frames whose WHOLE plan is dead.
    */
  def rddsOf(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }

  /** Non-blocking unpersist of a dead settled frame's blocks. No-op (never
    * an error) when `df` holds no settled frame — callers can hand it
    * whatever their loop variable currently holds.
    */
  def unpersistSettled(df: DataFrame): Unit =
    rddsOf(df).foreach { r => try r.unpersist(false) catch { case _: Throwable => () } }

  /** Drop EVERY persisted RDD (cache and checkpoint blocks alike) plus
    * catalog-cached plans. Harness-only: correct between queries because no
    * frame outlives its query; inside a query it would destroy settled
    * frames mid-plan.
    */
  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach { r =>
      try r.unpersist(false) catch { case _: Throwable => () }
    }
  }
}
