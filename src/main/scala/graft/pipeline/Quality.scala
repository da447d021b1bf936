package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality constraints (the Deequ pattern): every check
  * contributes one aggregate metric, ALL metrics are computed in a single
  * aggregation pass over the table (one scan, one reduce — at 100 TB you
  * cannot afford a scan per constraint), and the one-row result unpivots to
  * long format `(check_name, metric, ok)`.
  *
  * A check is (name, aggregate metric column, pass predicate over the
  * computed metric). The predicate evaluates driver-free in the same
  * projection — no collect.
  */
object Quality {

  final case class Check(name: String, metric: Column, pass: Column => Column)

  def completeness(c: String): Check =
    Check(s"completeness($c)",
      count(col(c)).cast("double") / count(lit(1)), _ === 1.0)

  def uniqueness(c: String): Check =
    Check(s"uniqueness($c)",
      countDistinct(col(c)).cast("double") / count(lit(1)), _ === 1.0)

  def minimum(c: String, atLeast: Double): Check =
    Check(s"min($c)", min(col(c)).cast("double"), _ >= atLeast)

  /** Metric = number of rows whose value is outside `allowed` (0 passes). */
  def acceptedValues(c: String, allowed: Seq[String]): Check =
    Check(s"accepted_values($c)",
      sum(when(col(c).isin(allowed: _*), 0).otherwise(1)).cast("double"), _ === 0.0)

  /** One aggregation job for every check; output ordered by check_name. */
  def run(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "run() needs at least one check")
    val metrics = checks.zipWithIndex.map { case (c, i) => c.metric.as(s"_m_$i") }
    val row = df.agg(metrics.head, metrics.tail: _*)
    val entries = checks.zipWithIndex.map { case (c, i) =>
      struct(
        lit(c.name).as("check_name"),
        col(s"_m_$i").as("metric"),
        c.pass(col(s"_m_$i")).as("ok"))
    }
    row.select(explode(array(entries: _*)).as("r"))
      .select(col("r.check_name"), col("r.metric"), col("r.ok"))
      .orderBy("check_name")
  }
}
