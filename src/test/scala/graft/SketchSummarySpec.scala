package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Profile, Rollup}

/** Mergeable-summary contracts that go beyond RollupSpec's algebraic sums:
  *
  *  - HLL summaries: distinct counts are NOT algebraic, so `Rollup` can't
  *    maintain them — persisted Datasketches HLL sketches can. Union-merge is
  *    max-of-registers (commutative/associative/idempotent), so estimating
  *    from the merged summary must equal the direct one-pass estimate
  *    EXACTLY, both when merging grain keys and when merging appended
  *    batches.
  *  - Streaming rollup maintenance: foreachBatch writes each micro-batch's
  *    grain aggregate into its own batch_id partition with overwrite, making
  *    replays idempotent (at-least-once foreachBatch → exactly-once effect).
  */
class SketchSummarySpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def docs(n: Int, seed: Int) =
    (0 until n).map { i =>
      val h = (i * 2654435761L + seed) & 0x7fffffff
      (s"f${h % 3}", s"s${h % 2}", h % 500)
    }.toDF("flag", "status", "uid")

  /** Union keeps HLL's error guarantee but may promote the sketch's internal
    * mode, so merged estimates are pinned to the EXACT count within the
    * sketch's error band (±5% is generous: default lgK=12 gives ~1.6% rse),
    * not to bit-equality with a direct sketch.
    */
  private def assertWithinBand(got: Seq[(String, Long)], exact: Map[String, Long]): Unit =
    got.foreach { case (k, est) =>
      val ex = exact(k)
      assert(math.abs(est - ex) <= math.max(1L, (ex * 0.05).toLong),
        s"estimate $est for $k outside ±5% of exact $ex")
    }

  test("HLL summary merged to a coarser grain estimates the exact count within the error band") {
    val base = docs(8000, 11)
    val summary = Profile.hllSummary(base, Seq("flag", "status"), "uid")
    val merged = Profile.hllEstimate(summary, Seq("flag"), "uid")
      .as[(String, Long)].collect().toSeq
    val exact = base.groupBy("flag").agg(countDistinct("uid").as("n"))
      .as[(String, Long)].collect().toMap
    assert(merged.map(_._1).sorted == exact.keys.toSeq.sorted)
    assertWithinBand(merged, exact)
  }

  test("persisted HLL summary: appended batches merge to a full-corpus-accurate estimate") {
    val dir = Files.createTempDirectory("hll").toString + "/s"
    val b1 = docs(5000, 11)
    val b2 = docs(3000, 12)
    Profile.hllSummary(b1, Seq("flag"), "uid").write.mode("overwrite").parquet(dir)
    Profile.hllSummary(b2, Seq("flag"), "uid").write.mode("append").parquet(dir)
    val merged = Profile.hllEstimate(spark.read.parquet(dir), Seq("flag"), "uid")
      .as[(String, Long)].collect().toSeq
    val exact = b1.union(b2).groupBy("flag").agg(countDistinct("uid").as("n"))
      .as[(String, Long)].collect().toMap
    assertWithinBand(merged, exact)
  }

  test("streaming rollup maintenance: stream == batch, and replayed batches don't double-count") {
    val tmp = Files.createTempDirectory("stream-mv").toString
    val srcDir = s"$tmp/src"
    val mvDir = s"$tmp/mv"
    val base = docs(4000, 3).withColumn("qty", col("uid").cast("double"))
    base.write.mode("overwrite").parquet(srcDir)

    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema).parquet(srcDir)
    val q = Rollup.maintainFromStream(stream, Seq("flag"), Seq("qty"),
      mvDir, s"$tmp/ckpt")
    q.processAllAvailable()
    q.stop()

    val want = Rollup.query(spark, mvDir, Seq("flag"), Seq("qty"))
      .orderBy("flag").collect().toSeq
    // replay the whole source as the same batch ids a restart would reuse:
    // batch 0 again — the partition overwrite must keep results identical
    Rollup.writeMicroBatch(spark.read.parquet(srcDir), Seq("flag"), Seq("qty"),
      mvDir, batchId = 0L)
    val after = Rollup.query(spark, mvDir, Seq("flag"), Seq("qty"))
      .orderBy("flag").collect().toSeq
    assert(after == want, "replayed micro-batch must overwrite, not append")

    // and the maintained summary answers match a direct batch aggregate
    val direct = base.groupBy("flag")
      .agg(count(lit(1)).as("n"),
        sum(col("qty").cast(org.apache.spark.sql.types.DecimalType(28, 4)))
          .cast("double").as("sum_qty"))
      .orderBy("flag").collect().toSeq
    assert(want == direct)
  }

  test("approx_top_k recovers the exact deep head on a skewed distribution") {
    import spark.implicits._
    // zipf-ish: token t_i appears 2^(10-i) times — head dominated, the
    // regime where the sketch's top-k counts are exact
    val rows = (0 until 10).flatMap(i => Seq.fill(1 << (10 - i))(s"t_$i"))
    val df = rows.toDF("tok")
    val approx = df.selectExpr("approx_top_k(tok, 5) AS top")
      .selectExpr("explode(top) AS e")
      .selectExpr("e.item AS tok", "e.count AS freq")
      .as[(String, Long)].collect().toMap
    val exact = df.groupBy("tok").count()
      .orderBy(org.apache.spark.sql.functions.desc("count"))
      .limit(5).as[(String, Long)].collect().toMap
    assert(approx == exact)
  }

  test("KLL summary: quantile estimates land within the rank-error band of exact") {
    // 10k uniform values: value ≈ rank, so a ±ε rank error is a ±ε·10000
    // value error; k=200's 99%-confidence band is ~1.65% — assert a loose 5%
    val df = (0 until 10000).map(i => (i % 4, i.toDouble)).toDF("g", "v")
    val est = Profile.kllQuantiles(
      Profile.kllSummary(df, Seq("g"), "v"), Seq.empty, "v", Seq(0.5, 0.95))
      .select("p50", "p95").as[(Double, Double)].head()
    assert(math.abs(est._1 - 5000.0) < 500, s"p50 ${est._1}")
    assert(math.abs(est._2 - 9500.0) < 500, s"p95 ${est._2}")
  }

  test("KLL summary: merging per-group sketches ≈ one direct sketch over the union") {
    val df = (0 until 8000).map(i => (i % 8, (i * 37 % 8000).toDouble)).toDF("g", "v")
    val merged = Profile.kllQuantiles(
      Profile.kllSummary(df, Seq("g"), "v"), Seq.empty, "v", Seq(0.5))
      .select("p50").as[Double].head()
    val direct = Profile.kllQuantiles(
      Profile.kllSummary(df, Seq.empty, "v"), Seq.empty, "v", Seq(0.5))
      .select("p50").as[Double].head()
    // both within the band of the true median (3999/4000)
    assert(math.abs(merged - 4000.0) < 400, s"merged p50 $merged")
    assert(math.abs(direct - 4000.0) < 400, s"direct p50 $direct")
  }

  test("events_hll_sliding: merged trailing estimates track exact within the band") {
    import org.apache.spark.sql.functions.{col, countDistinct, expr, unix_timestamp, date_trunc}
    val sf = "/root/testdata/sf0.001"
    val est = SparkEntry.queries("events_hll_sliding")(spark, sf)
      .as[(Long, Long)].collect().toMap
    // exact twin: distinct users over hours (t-23..t]
    val hrs = Tables.events(spark, sf)
      .select((unix_timestamp(date_trunc("hour", col("ts"))) / 3600)
        .cast("long").as("hh"), col("user_id"))
    val pairs = hrs.as[(Long, Long)].collect()
    val byHour = pairs.groupBy(_._1)
    val exact = byHour.keys.map { t =>
      t -> pairs.filter(p => p._1 <= t && p._1 > t - 24).map(_._2).distinct.length.toLong
    }.toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (t, ex) =>
      assert(math.abs(est(t) - ex).toDouble <= math.max(10.0, 0.05 * ex),
        s"hour $t: est ${est(t)} vs exact $ex")
    }
  }

  test("q_sketch_overlap: inclusion-exclusion estimate brackets the exact overlap") {
    val row = SparkEntry.queries("q_sketch_overlap")(spark, "/root/testdata/sf0.001")
      .head()
    val (nc, nv, nu, est, exact) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4))
    assert(nu <= nc + nv)            // union never exceeds the sum
    assert(exact > 0)                // the fixture has overlapping audiences
    // three lg(k)=12 sketches, each ~±1.6% at 1σ; allow a generous 3σ-ish
    // combined band relative to the union size
    assert(math.abs(est - exact).toDouble <= math.max(50.0, 0.10 * nu),
      s"est $est vs exact $exact (union $nu)")
  }
}
