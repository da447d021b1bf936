package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Column profiling — the first pass a pipeline runs over a new 100 TB
  * table. One union of per-column aggregate branches, one job: each branch
  * scans ONLY its column (columnar parquet) and computes an exact distinct
  * via ordinary two-phase aggregation. A single multi-`countDistinct`
  * aggregate would instead plan an Expand that multiplies every input row
  * by (columns+1) before the shuffle — the wrong shape at scale (measured
  * 2.3s vs 0.9s even at sf0.1). Output is long-format (one row per column)
  * with stringified extrema so heterogeneous column types fit one schema.
  */
object Profile {

  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile() needs at least one column")
    val branches = cols.map { c =>
      df.select(col(c)).agg(
        count(lit(1)).as("n"),
        (count(lit(1)) - count(col(c))).as("n_null"),
        countDistinct(col(c)).as("n_distinct"),
        min(col(c)).cast("string").as("min_str"),
        max(col(c)).cast("string").as("max_str"))
        .select(lit(c).as("col_name"), col("n"), col("n_null"),
          col("n_distinct"), col("min_str"), col("max_str"))
    }
    branches.reduce(_.unionByName(_))
  }

  /** Sketch-based distinct counts for when exact countDistinct's shuffle is
    * too expensive — one pass, fixed memory (HLL++). rsd = relative
    * standard deviation target.
    */
  def approxDistinct(df: DataFrame, cols: Seq[String], rsd: Double = 0.05): DataFrame = {
    require(cols.nonEmpty, "approxDistinct() needs at least one column")
    df.agg(
      approx_count_distinct(col(cols.head), rsd).as(cols.head),
      cols.tail.map(c => approx_count_distinct(col(c), rsd).as(c)): _*)
  }

  /** PERSISTED mergeable distinct-count summary: one Datasketches HLL sketch
    * (binary column) per grain key. Unlike `approx_count_distinct` (whose
    * sketch lives only inside one aggregation), these survive as data:
    * union-merging them — across grain keys for a coarser group-by, or
    * across appended batches for incremental maintenance — keeps the full
    * HLL accuracy guarantee (union is lossless for the sketch's error
    * bounds; it is NOT always bit-identical to a direct single-pass sketch,
    * because the union gadget may promote the sketch's internal mode — the
    * spec pins estimates to the exact count within the configured error
    * band instead). This is the rollup pattern for distinct counts, which
    * plain `Rollup` sums cannot express (distinct is not algebraic; the
    * sketch makes it so).
    */
  def hllSummary(df: DataFrame, dims: Seq[String], valueCol: String): DataFrame =
    df.groupBy(dims.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol)).as(s"hll_$valueCol"))

  /** Merge the summary to `groupCols` (⊆ build dims) and estimate. */
  def hllEstimate(summary: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame =
    summary.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_estimate(hll_union_agg(col(s"hll_$valueCol")))
        .as(s"n_distinct_$valueCol"))

  /** PERSISTED mergeable QUANTILE summary — the KLL companion to
    * [[hllSummary]]: one Datasketches KLL sketch (binary) per grain key.
    * Spark's `approx_percentile` sketch lives only inside one aggregation;
    * these survive as data, and union-merging them (coarser group-bys,
    * appended batches) keeps the ~1.65% normalized-rank-error guarantee at
    * k=200 — the rollup pattern for percentiles, which plain sums cannot
    * express (quantiles are not algebraic; the sketch makes them mergeable).
    */
  def kllSummary(df: DataFrame, dims: Seq[String], valueCol: String,
      k: Int = 200): DataFrame =
    df.groupBy(dims.map(col): _*)
      .agg(graft.functions.KllFunctions.kllSketch(col(valueCol), k)
        .as(s"kll_$valueCol"))

  /** Merge the summary to `groupCols` (⊆ build dims) and estimate the given
    * quantile ranks as columns `p50`, `p95`, ….
    */
  def kllQuantiles(summary: DataFrame, groupCols: Seq[String], valueCol: String,
      qs: Seq[Double], k: Int = 200): DataFrame = {
    val merged = summary.groupBy(groupCols.map(col): _*)
      .agg(graft.functions.KllFunctions.kllMerge(col(s"kll_$valueCol"), k).as("_sk"))
    qs.foldLeft(merged) { (d, q) =>
      d.withColumn(s"p${math.round(q * 100)}",
        graft.functions.KllFunctions.kllQuantile(col("_sk"), q))
    }.drop("_sk")
  }
}
