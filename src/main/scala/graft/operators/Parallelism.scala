package graft.operators

import org.apache.spark.sql.DataFrame

/** Input-skew guard (optimization guide §2.5: "one huge unsplittable file …
  * repartition immediately after the read").
  *
  * The sandbox fixtures are single-file, SINGLE-ROW-GROUP parquet tables, so
  * no matter how Spark packs byte-range splits, every base-table scan
  * collapses to ONE non-empty task — all downstream map-side expression work
  * (md5 sampling ladders, regex chains, decimal folds) runs on one core
  * while the rest idle. That is an input-layout pathology, not a plan
  * problem; the fix the guide prescribes is a keyless round-robin
  * repartition right after the read, BEFORE the expensive map work.
  *
  * The gate keeps it scale-safe: the repartition applies only when the scan
  * is provably under-split — fewer input files than cores AND total input
  * bytes under cores × maxPartitionBytes (i.e. even perfect splitting could
  * not fill the cores). At warehouse scale a fact table has thousands of
  * files/row-groups, both conditions fail, and this is the identity — the
  * full-table shuffle a blanket repartition would cost at 100 TB never
  * happens. Both probes are metadata-only (file listing + catalog size).
  *
  * Row-order effects: keyless repartition is retry-deterministic
  * (sortBeforeRepartition stays on) and every declared query pins a total
  * output order, so results are unchanged — the declared-query oracle gate
  * re-proves that per round.
  */
object Parallelism {

  /** `df` must be a bare relation scan (optionally with pushable
    * filters/projections on top) — the gate reads its file listing and
    * catalog size, and the repartition is injected below the caller's
    * subsequent transformations.
    */
  def fanOutScan(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    val files = df.inputFiles.length
    if (files >= cores) return df
    val maxPB = spark.sessionState.conf.filesMaxPartitionBytes
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes >= BigInt(cores.toLong) * BigInt(maxPB)) df
    else df.repartition(cores)
  }
}
