package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Profiling twin of [[Bench]]: identical session config, but instruments
  * each query with a SparkListener so the guide's "measure first" loop has
  * per-stage evidence — stage wall time, task count, shuffle bytes — instead
  * of one opaque wall-clock number. Usage:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   sbt "runMain graft.BenchProf graph_ktruss graph_bfs_fixpoint"
  *
  * Prints, per query run (two runs, like Bench), every job with its stages
  * sorted by duration. NOT part of the driver contract — a local tool.
  */
object BenchProf {
  final case class StageRow(
      jobId: Int, stageId: Int, name: String, tasks: Int,
      runMs: Long, shufReadMb: Double, shufWriteMb: Double, outRows: Long)

  final class Collector extends SparkListener {
    val stages = mutable.ArrayBuffer[StageRow]()
    val stageToJob = mutable.Map[Int, Int]()
    var jobs = 0
    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      jobs += 1
      j.stageIds.foreach(sid => stageToJob(sid) = j.jobId)
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
      val si = s.stageInfo
      val m = si.taskMetrics
      val run = (for {a <- si.completionTime; b <- si.submissionTime} yield a - b).getOrElse(-1L)
      stages += StageRow(
        stageToJob.getOrElse(si.stageId, -1), si.stageId, si.name.takeWhile(_ != '\n'),
        si.numTasks, run,
        m.shuffleReadMetrics.totalBytesRead / 1e6,
        m.shuffleWriteMetrics.bytesWritten / 1e6,
        m.outputMetrics.recordsWritten)
    }
    def reset(): Unit = synchronized { stages.clear(); stageToJob.clear(); jobs = 0 }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // experiment hook: SPARK_GRAFT_CONF="k=v;k2=v2" lets a config variant be
    // A/B-measured without recompiling
    val extra = sys.env.getOrElse("SPARK_GRAFT_CONF", "")
      .split(";").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2); (k, v)
      }
    val b0 = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "30s")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
    val spark = extra.foldLeft(b0) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Bench.quietRddLogs()
    val col = new Collector
    spark.sparkContext.addSparkListener(col)
    try spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    catch { case _: Throwable => () }
    try SparkEntry.prepareSetups(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[prof] prepareSetups failed: ${Bench.failure(e)}")
    }
    spark.catalog.clearCache()
    val names = if (args.nonEmpty) args.toSeq else Seq("graph_ktruss")
    var lastCg = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to 2).foreach { rep =>
        graft.operators.Settle.sweep(spark); System.gc()
        col.reset()
        val t0 = System.nanoTime()
        fn(spark, sfDir).queryExecution.toRdd.count()
        val secs = (System.nanoTime() - t0) / 1e9
        // listener events are async; give the bus a beat to drain
        Thread.sleep(300)
        val (rows, jobs) = col.synchronized { (col.stages.toVector, col.jobs) }
        val stageSum = rows.map(_.runMs).sum / 1e3
        val cgCount = org.apache.spark.metrics.source.CodegenMetrics
          .METRIC_COMPILATION_TIME.getCount
        val cgDelta = cgCount - lastCg
        lastCg = cgCount
        println(f"\n===== $name rep$rep: ${secs}%.2fs wall, $jobs jobs, ${rows.size} stages, ${stageSum}%.2fs summed-stage, $cgDelta codegen-compiles =====")
        rows.sortBy(-_.runMs).take(30).foreach { r =>
          println(f"  job=${r.jobId}%3d stage=${r.stageId}%4d ${r.runMs}%6dms tasks=${r.tasks}%4d shufR=${r.shufReadMb}%8.2fMB shufW=${r.shufWriteMb}%8.2fMB  ${r.name.take(90)}")
        }
      }
    }
    spark.stop()
  }
}
