package graft

import java.math.RoundingMode

import com.fasterxml.jackson.databind.{JsonNode, PropertyNamingStrategies}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** The one harness behind Bench, Verify, Explain and the test base: one
  * session configuration, one per-query loop, one profile collector and one
  * JSON reader/writer. Library code never calls it.
  */
object Harness {

  /** `SPARK_GRAFT_CPUS`, else the cores this JVM can see. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `SPARK_GRAFT_ONLY=q1,q2` slices the query set (never a plan). */
  def only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)

  /** The engine's session: the only SparkSession builder in the program. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.ui.enabled", "false")
      // hundreds of queries share one JVM: without a periodic GC the
      // ContextCleaner never learns that broadcast blocks of earlier
      // queries are unreachable, and they tax every later query
      .config("spark.cleaner.periodicGC.interval", "30s")
      // honor write-time sortBy on bucketed scans (safe: Layout.writeBucketed
      // writes one file per bucket from one job) — q_bucketed_join then
      // plans zero Exchange AND zero Sort
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body` for each of `names` that `SPARK_GRAFT_ONLY` keeps. A failure
    * is printed and returned as its [[failure]] text; after each query every
    * block it left behind is swept, and every 8th query nudges a GC.
    */
  def eachQuery[T](spark: SparkSession, names: Iterable[String])(
      body: String => T): Seq[(String, Either[String, T])] = {
    val kept = names.filter(n => only.forall(_.contains(n))).toSeq
    kept.zipWithIndex.map { case (name, i) =>
      val out =
        try Right(body(name))
        catch { case e: Throwable =>
          val f = failure(e)
          System.err.println(s"[harness] $name FAILED: $f")
          Left(f)
        }
      sweep(spark)
      if ((i + 1) % 8 == 0) System.gc()
      name -> out
    }
  }

  /** Drop EVERY persisted RDD (cache and checkpoint blocks alike) plus
    * catalog-cached plans, waiting until the blocks are gone so their
    * removal cannot run into the next query's timed region. Correct between
    * queries because no frame outlives its query ([[graft.Setup]] memoizes
    * paths only); inside a query it would destroy settled frames mid-plan.
    */
  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach { r =>
      try r.unpersist(blocking = true) catch { case _: Throwable => () }
    }
  }

  /** A failure as one log line: exception class, message (often null for
    * NPEs and assertion errors) and the top stack frame — enough to find
    * the fault without rerunning the query.
    */
  def failure(e: Throwable): String =
    s"${e.getClass.getName}: ${e.getMessage} at " +
      e.getStackTrace.headOption.map(_.toString).getOrElse("<no frame>")

  /** Lower `org.apache.spark.rdd` to ERROR for this process: operators
    * unpersist settled checkpoints on purpose, and each unpersist would
    * otherwise log a "lineage has been truncated" warning into the suite
    * log. The warning's logger is named after the RDD's runtime subclass,
    * hence the package target. Mains only (the test JVM keeps Spark's
    * logging as it is); call after the session exists — Spark's own log
    * setup would otherwise reset it.
    */
  def quietRddLogs(): Unit =
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () }

  /** What one span of driver code ran: Spark jobs, completed stages, summed
    * stage run time, shuffle bytes, and whole-stage codegen compiles.
    */
  final case class Profile(jobs: Int, stages: Int, stageMs: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, compiles: Long)

  /** A listener attached to `sc` for the life of the run; [[during]]
    * measures one span of it.
    */
  final class Collector(sc: SparkContext) extends SparkListener {
    private var jobs, stages = 0
    private var stageMs, readBytes, writeBytes = 0L
    sc.addSparkListener(this)

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
      val si = s.stageInfo
      stages += 1
      stageMs += (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(0L)
      readBytes += si.taskMetrics.shuffleReadMetrics.totalBytesRead
      writeBytes += si.taskMetrics.shuffleWriteMetrics.bytesWritten
    }

    /** Run `body` and return what it ran. The listener bus is drained on
      * both sides, so events of earlier work are not counted and every
      * event of `body` is.
      */
    def during[T](body: => T): (T, Profile) = {
      Bridge.drainListeners(sc)
      synchronized { jobs = 0; stages = 0; stageMs = 0; readBytes = 0; writeBytes = 0 }
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val out = body
      Bridge.drainListeners(sc)
      (out, synchronized(Profile(jobs, stages, stageMs, readBytes, writeBytes,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles)))
    }
  }

  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .propertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE).build()

  /** `v` (maps, sequences, case classes, numbers, strings) as one line of
    * compact JSON; map keys keep their iteration order, case class fields
    * are written in snake_case.
    */
  def json(v: Any): String = mapper.writeValueAsString(v)

  def readJson(text: String): JsonNode = mapper.readTree(text)

  /** `v` rounded half-up to `digits` decimals: a JSON number in any locale. */
  def decimals(v: Double, digits: Int): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(v).setScale(digits, RoundingMode.HALF_UP)
}
