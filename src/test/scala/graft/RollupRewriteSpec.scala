package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Rollup
import graft.plans.RollupRegistry

/** The transparent MV rewrite: after RollupRegistry.register, an aggregate
  * over the BASE path that fits the grain is rewritten to merge the summary —
  * the physical scan must touch the rollup files, never the fact table — and
  * the answers must match the fact table (counts exactly; sums exactly
  * against the decimal ground truth; avg to float tolerance). Queries outside
  * the contract (non-algebraic agg, non-dim filter) must NOT be rewritten.
  */
class RollupRewriteSpec extends AnyFunSuite with SparkTestBase with BeforeAndAfterAll {

  private val tmp = Files.createTempDirectory("mvspec").toString
  private val basePath = s"$tmp/fact"
  private val mvPath = s"$tmp/summary"

  override def beforeAll(): Unit = {
    import spark.implicits._
    val fact = (0 until 8000).map { i =>
      val h = (i * 2654435761L + 7) & 0x7fffffff
      (s"f${h % 3}", s"s${h % 2}", (h % 100).toDouble, (h % 1000) / 4.0)
    }.toDF("flag", "status", "qty", "price")
    fact.write.mode("overwrite").parquet(basePath)
    Rollup.build(spark.read.parquet(basePath), Seq("flag", "status"),
      Seq("qty", "price"), mvPath)
    RollupRegistry.register(spark, basePath, mvPath,
      Seq("flag", "status"), Seq("qty", "price"))
  }

  override def afterAll(): Unit = RollupRegistry.clear()

  private def scannedPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collectLeaves().map(_.toString)

  test("fitting aggregate is rewritten: scans the summary, answers match the fact table") {
    val base = spark.read.parquet(basePath)
    val q = base.groupBy("flag")
      .agg(count(lit(1)).as("n"), sum("qty").as("sum_qty"), avg("price").as("avg_price"))
      .orderBy("flag")
    assert(scannedPaths(q).forall(_.contains("summary")),
      s"expected summary scan, got: ${scannedPaths(q)}")

    // ground truth computed WITHOUT the rewrite (exact decimal sums)
    RollupRegistry.clear()
    val want = base.groupBy("flag")
      .agg(count(lit(1)).as("n"),
        sum(col("qty").cast(DecimalType(28, 4))).cast("double").as("sum_qty"),
        avg("price").as("avg_price"))
      .orderBy("flag").collect()
    RollupRegistry.register(spark, basePath, mvPath,
      Seq("flag", "status"), Seq("qty", "price"))

    val got = q.collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getString(0) == w.getString(0))
      assert(g.getLong(1) == w.getLong(1))
      assert(g.getDouble(2) == w.getDouble(2), "sum must equal the exact decimal sum")
      assert(math.abs(g.getDouble(3) - w.getDouble(3)) < 1e-9)
    }
  }

  test("dim-only filter is replayed onto the summary") {
    val base = spark.read.parquet(basePath)
    val q = base.filter(col("status") === "s1").groupBy("flag")
      .agg(count(lit(1)).as("n")).orderBy("flag")
    assert(scannedPaths(q).forall(_.contains("summary")))
    RollupRegistry.clear()
    val want = spark.read.parquet(basePath).filter(col("status") === "s1")
      .groupBy("flag").agg(count(lit(1)).as("n")).orderBy("flag").collect()
    RollupRegistry.register(spark, basePath, mvPath,
      Seq("flag", "status"), Seq("qty", "price"))
    assert(q.collect().toSeq == want.toSeq)
  }

  test("min/max rewrite onto the stored same-typed partials, answers equal") {
    val base = spark.read.parquet(basePath)
    val q = base.groupBy("flag")
      .agg(max("qty").as("mx"), min("price").as("mn")).orderBy("flag")
    assert(scannedPaths(q).forall(_.contains("summary")),
      s"min/max should rewrite: ${scannedPaths(q)}")
    val got = q.collect().toSeq
    RollupRegistry.clear()
    val want = spark.read.parquet(basePath).groupBy("flag")
      .agg(max("qty").as("mx"), min("price").as("mn")).orderBy("flag")
      .collect().toSeq
    RollupRegistry.register(spark, basePath, mvPath,
      Seq("flag", "status"), Seq("qty", "price"))
    assert(got == want)
  }

  test("outside the contract: distinct agg and measure filters still scan the base") {
    val base = spark.read.parquet(basePath)
    val dq = base.groupBy("flag").agg(countDistinct("qty"))
    assert(scannedPaths(dq).forall(_.contains("fact")),
      s"count(DISTINCT) must not be rewritten: ${scannedPaths(dq)}")
    val mfilter = base.filter(col("qty") > 50).groupBy("flag").agg(count(lit(1)))
    assert(scannedPaths(mfilter).forall(_.contains("fact")),
      s"measure filter must not be rewritten: ${scannedPaths(mfilter)}")
  }
}
