package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{ZOrderExpr, ZOrderFunctions}
import graft.pipeline.Layout
import graft.streaming.EventOps

class LayoutSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** Bit-by-bit reference interleave, independent of the expression's shift
    * loop.
    */
  private def refZ(x: Long, y: Long, bits: Int): Long =
    (0 until bits).map { i =>
      (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
    }.foldLeft(0L)(_ | _)

  test("zorderKey matches the reference interleave (codegen + interpreted)") {
    val rnd = new scala.util.Random(7)
    val pts = Seq.fill(200)((rnd.nextInt(1 << 20).toLong, rnd.nextInt(1 << 20).toLong))
    // codegen'd path through a DataFrame
    val got = pts.toDF("x", "y")
      .select($"x", $"y", ZOrderFunctions.zorderKey($"x", $"y", 20).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pts.foreach { case (x, y) =>
      assert(got((x, y)) == refZ(x, y, 20), s"($x, $y)")
    }
    // interpreted eval path (no codegen)
    val e = ZOrderExpr(
      org.apache.spark.sql.catalyst.expressions.Literal(123456L),
      org.apache.spark.sql.catalyst.expressions.Literal(654321L), 20)
    assert(e.eval(null) == refZ(123456L, 654321L, 20))
  }

  test("zorderKey masks to the requested bits") {
    val big = (1L << 25) + 5L // bits above 20 ignored
    assert(ZOrderExpr(
      org.apache.spark.sql.catalyst.expressions.Literal(big),
      org.apache.spark.sql.catalyst.expressions.Literal(0L), 20).eval(null) ==
      refZ(5L, 0L, 20))
  }

  test("clusterByZ tightens per-file ranges on BOTH dimensions") {
    val rnd = new scala.util.Random(11)
    val df = Seq.fill(4000)((rnd.nextInt(1024).toLong, rnd.nextInt(1024).toLong))
      .toDF("x", "y")
    def spans(d: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val s = d.withColumn("pid", spark_partition_id())
        .groupBy("pid")
        .agg((max($"x") - min($"x")).as("sx"), (max($"y") - min($"y")).as("sy"))
        .agg(avg($"sx"), avg($"sy")).head()
      (s.getDouble(0), s.getDouble(1))
    }
    val (rx, ry) = spans(df.repartition(16)) // random layout: spans ≈ full domain
    val clustered = Layout.clusterByZ(df, $"x", $"y", numFiles = 16, bits = 10)
    val (cx, cy) = spans(clustered)
    // 16 z-tiles over a 1024² domain → per-tile span ≈ domain/4 on each axis
    assert(cx < rx * 0.6, s"x span $cx !< $rx * 0.6")
    assert(cy < ry * 0.6, s"y span $cy !< $ry * 0.6")
  }

  test("z-clustered parquet prunes row groups for a predicate on the SECOND dimension") {
    val rnd = new scala.util.Random(13)
    val df = Seq.fill(8000)((rnd.nextInt(1024).toLong, rnd.nextInt(1024).toLong))
      .toDF("x", "y")
    val base = java.nio.file.Files.createTempDirectory("zprune").toFile.getAbsolutePath
    // linear layout baseline: sorted by x only — every file's y min/max
    // spans the full domain, so a y predicate can skip nothing
    df.repartitionByRange(16, $"x").sortWithinPartitions("x")
      .write.mode("overwrite").parquet(s"$base/linear")
    Layout.clusterByZ(df, $"x", $"y", numFiles = 16, bits = 10)
      .write.mode("overwrite").parquet(s"$base/zorder")
    // rows the parquet scan emits = rows in row groups surviving min/max
    // pruning of the pushed-down y predicate (row-LEVEL filtering happens in
    // the later FilterExec, so this metric isolates the layout's effect)
    def scanRows(path: String): (Long, Set[(Long, Long)]) = {
      val q = spark.read.parquet(path).filter($"y" >= 256 && $"y" < 320)
      val res = q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val plan = q.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val scanned = plan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numOutputRows").value
      }.sum
      (scanned, res)
    }
    val (linRows, linRes) = scanRows(s"$base/linear")
    val (zRows, zRes) = scanRows(s"$base/zorder")
    assert(zRes == linRes, "layout must not change query results")
    // 16 z-tiles over a 1024² domain ≈ a 4×4 grid; a 64-wide y band touches
    // one grid row = ~4 of 16 files. Linear reads everything.
    assert(linRows == 8000L, s"x-sorted layout should scan all rows, got $linRows")
    assert(zRows <= linRows / 2,
      s"z-clustered scan read $zRows rows vs $linRows unclustered — no pruning")
  }

  test("bucketed tables equi-join with zero shuffle exchanges") {
    val a = spark.range(0, 1000).toDF("k").withColumn("va", $"k" * 2)
    val b = spark.range(0, 1000).toDF("k").withColumn("vb", $"k" + 1)
    Seq("bucketed_a", "bucketed_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      // a stale location from a crashed run blocks managed-table creation
      // even after DROP (the table is gone from the catalog, the dir is not)
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      if (loc.exists()) rm(loc)
    }
    Layout.writeBucketed(a, "bucketed_a", "k", buckets = 4)
    Layout.writeBucketed(b, "bucketed_b", "k", buckets = 4)
    val joined = spark.table("bucketed_a").join(spark.table("bucketed_b"), "k")
    val plan = joined.queryExecution.executedPlan
    def countShuffles(p: org.apache.spark.sql.execution.SparkPlan): Int =
      (if (p.isInstanceOf[ShuffleExchangeExec]) 1 else 0) +
        p.children.map(countShuffles).sum
    assert(countShuffles(plan) == 0, plan.toString)
    assert(joined.count() == 1000)
  }

  test("compact merges a small-file directory without losing rows (no shuffle: coalesce)") {
    val base = java.nio.file.Files.createTempDirectory("compact").toFile.getAbsolutePath
    spark.range(0, 20000).toDF("id").repartition(64)
      .write.parquet(s"$base/in")
    val inFiles = new java.io.File(s"$base/in").listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(inFiles == 64)
    val inBytes = new java.io.File(s"$base/in").listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.length).sum
    val outFiles = Layout.compact(spark, s"$base/in", s"$base/out", inBytes / 4)
    assert(outFiles <= 5, s"expected ~4 files, got $outFiles")
    val a = spark.read.parquet(s"$base/in").as[Long].collect().sorted
    val b = spark.read.parquet(s"$base/out").as[Long].collect().sorted
    assert(java.util.Arrays.equals(a, b))
  }

  test("partitioned write prunes directories at planning time") {
    val base = java.nio.file.Files.createTempDirectory("partprune").toFile.getAbsolutePath
    val df = spark.range(0, 3000).toDF("id")
      .withColumn("day", concat(lit("2024-01-0"), ($"id" % 5 + 1).cast("string")))
    Layout.overwritePartitions(df, s"$base/t", Seq("day"))
    def scanFiles(q: org.apache.spark.sql.DataFrame): Long = {
      q.collect()
      val plan = q.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      plan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }.sum
    }
    val all = spark.read.parquet(s"$base/t")
    val full = scanFiles(all)
    val pruned = scanFiles(all.filter($"day" === "2024-01-03"))
    assert(pruned * 5 <= full, s"pruned scan lists $pruned of $full files")
    assert(all.filter($"day" === "2024-01-03").count() == 600)
  }

  test("statsManifest + readPruned: skips non-intersecting files, answer equals full scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-manifest-").toString + "/t"
    // 8 range-clustered files over k = 0..7999 → each file covers ~1000 keys
    spark.range(0, 8000).toDF("k").withColumn("v", $"k" * 2)
      .repartitionByRange(8, $"k").sortWithinPartitions("k")
      .write.parquet(dir)
    val mf = Layout.statsManifest(spark, dir, Seq("k")).cache()
    assert(mf.count() == 8)
    // manifest envelopes are consistent: min ≤ max, rows sum to the table
    assert(mf.filter($"min_k" > $"max_k").isEmpty)
    assert(mf.agg(sum("n_rows")).head.getLong(0) == 8000L)
    val pruned = Layout.readPruned(spark, dir, mf, "k", 2100L, 2900L)
    // a ~1-file range must not read all 8 files
    assert(pruned.inputFiles.length <= 2,
      s"read ${pruned.inputFiles.length} of 8 files")
    val full = spark.read.parquet(dir).filter($"k" >= 2100 && $"k" <= 2900)
    assert(pruned.count() == 801 && full.count() == 801)
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
    // range outside every envelope → empty, schema preserved
    val none = Layout.readPruned(spark, dir, mf, "k", 100000L, 200000L)
    assert(none.isEmpty && none.columns.toSeq == Seq("k", "v"))
  }

  test("bloomManifest + readPrunedByKeys: prunes hash-scattered files, never false-negative") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom-").toString + "/t"
    // HASH-scattered layout: every file's [min,max] spans the whole domain,
    // so stats pruning would keep all 8 files — the case blooms exist for
    spark.range(0, 8000).toDF("k").withColumn("v", $"k" * 3)
      .repartition(8, $"k").write.parquet(dir)
    val mf = Layout.bloomManifest(spark, dir, "k",
      expectedItems = 10000L, numBits = 1L << 17).cache()
    assert(mf.count() == 8)
    assert(mf.agg(sum("n_rows")).head.getLong(0) == 8000L)
    // single-key probe: correct row back, and strictly fewer than 8 files
    val one = Layout.readPrunedByKeys(spark, dir, mf, "k", Seq(4242L))
    assert(one.inputFiles.length < 8, s"bloom kept ${one.inputFiles.length}/8")
    assert(one.select("v").as[Long].collect().toSeq == Seq(4242L * 3))
    // multi-key probe ≡ plain IN filter (blooms never false-negative)
    val keys = Seq(1L, 999L, 4242L, 7777L)
    val pruned = Layout.readPrunedByKeys(spark, dir, mf, "k", keys)
    val full = spark.read.parquet(dir).filter($"k".isin(keys: _*))
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
    // absent key → empty result, no error (files may still be probed)
    assert(Layout.readPrunedByKeys(spark, dir, mf, "k", Seq(999999L)).isEmpty)
    mf.unpersist()
  }

  test("appendToBloomManifest: O(batch) append prunes identically to a full rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bloominc-").toString + "/t"
    spark.range(0, 4000).toDF("k").repartition(4, $"k").write.parquet(dir)
    val base = Layout.bloomManifest(spark, dir, "k",
      expectedItems = 10000L, numBits = 1L << 17).localCheckpoint(true)
    val before = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getName).toSet
    spark.range(4000, 5000).toDF("k").coalesce(1)
      .write.mode("append").parquet(dir)
    val newFiles = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")
        && !before.contains(f.getName)).map(_.getAbsolutePath).toIndexedSeq
    assert(newFiles.nonEmpty)
    val appended = Layout.appendToBloomManifest(spark, base, newFiles, "k",
      expectedItems = 10000L, numBits = 1L << 17).cache()
    val rebuilt = Layout.bloomManifest(spark, dir, "k",
      expectedItems = 10000L, numBits = 1L << 17).cache()
    assert(appended.count() == rebuilt.count())
    assert(appended.agg(sum("n_rows")).head.getLong(0) == 5000L)
    // probes spanning base and batch: identical rows through either index,
    // and both equal the plain filter (a missed append would LOSE 4500)
    val keys = Seq(12L, 3999L, 4500L)
    val viaApp = Layout.readPrunedByKeys(spark, dir, appended, "k", keys)
    val viaReb = Layout.readPrunedByKeys(spark, dir, rebuilt, "k", keys)
    val plain = spark.read.parquet(dir).filter($"k".isin(keys: _*))
    assert(viaApp.exceptAll(plain).isEmpty && plain.exceptAll(viaApp).isEmpty)
    assert(viaReb.exceptAll(plain).isEmpty && plain.exceptAll(viaReb).isEmpty)
    appended.unpersist(); rebuilt.unpersist()
  }

  test("appendToManifest equals a full rebuild") {
    val root = java.nio.file.Files.createTempDirectory("graft-manifest2-").toString
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi).toDF("id")
      .withColumn("x", ($"id" * 37) % 1000).withColumn("y", ($"id" * 61) % 1000)
    // initial table: 4 z-clustered files; batch: 2 more
    Layout.clusterByZ(mk(0, 4000), $"x", $"y", numFiles = 4, bits = 10)
      .write.parquet(s"$root/t")
    // persist the manifest BEFORE the append — a live plan (even a cached
    // one: recache re-lists) tracks the directory and would double-count
    Layout.statsManifest(spark, s"$root/t", Seq("x", "y"))
      .write.parquet(s"$root/manifest")
    val m0 = spark.read.parquet(s"$root/manifest")
    Layout.clusterByZ(mk(4000, 6000), $"x", $"y", numFiles = 2, bits = 10)
      .write.mode("append").parquet(s"$root/t")
    spark.catalog.refreshByPath(s"$root/t")
    val m0Paths = m0.select("file").collect()
      .map(r => new java.net.URI(r.getString(0)).getPath).toSet
    assert(m0Paths.size == 4)
    val listed = spark.read.parquet(s"$root/t").inputFiles.toSeq
    val newFiles = listed.filterNot(f => m0Paths(new java.net.URI(f).getPath))
    assert(newFiles.size == 2,
      s"listed=${listed.sorted}\nm0=${m0Paths.toSeq.sorted}")
    val incr = Layout.appendToManifest(spark, m0, newFiles, Seq("x", "y"))
    val rebuilt = Layout.statsManifest(spark, s"$root/t", Seq("x", "y"))
    assert(incr.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(incr).isEmpty)
  }

  test("overwritePartitions: backfill replaces only its partitions; replay is idempotent") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dpo-").toString
    Layout.overwritePartitions(
      Seq((1L, "d1"), (2L, "d1"), (3L, "d2")).toDF("id", "day"), dir, Seq("day"))
    // backfill d2 with corrected rows, replayed twice (simulated retry)
    val fix = Seq((30L, "d2"), (31L, "d2")).toDF("id", "day")
    Layout.overwritePartitions(fix, dir, Seq("day"))
    Layout.overwritePartitions(fix, dir, Seq("day"))
    val got = spark.read.parquet(dir).as[(Long, String)].collect().toSet
    // d1 untouched, d2 replaced exactly once — no duplicates, no loss
    assert(got == Set((1L, "d1"), (2L, "d1"), (30L, "d2"), (31L, "d2")))
  }

  test("anomalies flags a spike against its trailing window and nulls short histories") {
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    // 30 hourly buckets of ~10 events, one bucket with 60
    val rows = (0 until 30).flatMap { h =>
      val n = if (h == 25) 60 else 10 + (h % 3) // mild noise, one spike
      (0 until n).map(i =>
        (new Timestamp(base + h * 3600L * 1000 + i * 1000), "click"))
    }
    val out = EventOps.anomalies(rows.toDF("ts", "event_type"),
        "1 hour", lookback = 24, zThreshold = 2.0)
      .orderBy("window_start").collect()
    assert(out.length == 30)
    assert(out(0).isNullAt(3) && !out(0).getBoolean(4)) // no history → z null
    val spike = out(25)
    assert(spike.getLong(2) == 60 && spike.getBoolean(4), spike.toString)
    // among buckets with a meaningful history (short trailing windows can
    // legitimately z-spike on 2-3 samples), only the real spike flags
    assert(out.drop(5).count(_.getBoolean(4)) == 1)
  }
}
