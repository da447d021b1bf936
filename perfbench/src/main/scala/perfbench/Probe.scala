package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** JVM-wide counters read at op boundaries: GC and whole-stage codegen. */
object Jvm {
  def gcCount: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionCount.max(0L)).sum
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Total codegen compile time so far. The histogram keeps every sample
    * until its reservoir (1028 values) fills; past that the total is
    * estimated as mean × count.
    */
  def compileMs: Double = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    if (h.getCount <= snap.size) snap.getValues.sum.toDouble else snap.getMean * h.getCount
  }

  /** Heap in use after a full collection. */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    System.gc(); System.gc()
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** One timed call (serve) or query execution (analytics). Times are epoch
  * milliseconds so they line up with Spark's listener timestamps; `durNs`
  * is the latency reported end to end.
  */
final case class OpSpan(id: Int, kind: String, startMs: Long, endMs: Long, durNs: Long,
    ok: Boolean, gcCount: Long, gcMs: Long, compiles: Long)

final case class JobRec(id: Int, op: Int, startMs: Long, var endMs: Long, stageIds: Seq[Int])
final case class StageRec(id: Int, job: Int, startMs: Long, endMs: Long, tasks: Int, runMs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long, inputBytes: Long)
final case class QeRec(phases: Seq[(String, Long, Long)], filesRead: Long)

/** Equal starting state and (optionally) tracing for every timed op.
  *
  * Untraced runs register no listener: `run` only resets the session state,
  * times the body and records the span. Traced runs attribute Spark jobs to
  * the running op through a local property set on the calling thread, and
  * planning phases and scans through a `QueryExecutionListener` (one caller
  * thread, so the op whose span holds a query's phases owns it).
  */
final class Probe(spark: SparkSession, val tracing: Boolean) {
  private val sc = spark.sparkContext
  private val OpProp = "perfbench.op"
  val ops = mutable.ArrayBuffer[OpSpan]()
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.LinkedHashMap[Int, StageRec]()
  val qes = mutable.ArrayBuffer[QeRec]()
  /** Peak bytes of cached/checkpointed blocks per op id. */
  val blockPeak = mutable.Map[Int, Long]().withDefaultValue(0L)
  private val blocks = mutable.Map[String, Long]()
  private var blockBytes = 0L
  @volatile private var currentOp = -1
  private var nextId = 0

  private val listener = new SparkListener {
    private val stageJob = mutable.Map[Int, Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit = Probe.this.synchronized {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProp))).map(_.toInt).getOrElse(-1)
      jobs(e.jobId) = JobRec(e.jobId, op, e.time, -1L, e.stageIds)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Probe.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Probe.this.synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      val (start, end) = (si.submissionTime.getOrElse(-1L), si.completionTime.getOrElse(-1L))
      if (m != null && start > 0 && end >= start)
        stages(si.stageId) = StageRec(si.stageId, stageJob.getOrElse(si.stageId, -1), start, end,
          si.numTasks, m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead)
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Probe.this.synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val key = info.blockManagerId.executorId + "/" + info.blockId.name
        val size = info.memSize + info.diskSize
        blockBytes += size - blocks.getOrElse(key, 0L)
        if (size == 0) blocks.remove(key) else blocks(key) = size
        val op = currentOp
        if (op >= 0 && blockBytes > blockPeak(op)) blockPeak(op) = blockBytes
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.toSeq.map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }
      val files = try scans(qe.executedPlan).map(s => s.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
        catch { case _: Throwable => 0L }
      Probe.this.synchronized { qes += QeRec(phases, files) }
    }
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case s: FileSourceScanExec => Seq(s)
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  if (tracing) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Blocking cleanup before a timed op: drop every cached and
    * checkpointed block, clear cached plans, and wait for the listener bus
    * to go idle.
    */
  def settle(): Unit = {
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(r => try r.unpersist(blocking = true) catch { case _: Throwable => () })
    PerfbenchBridge.drainListenerBus(sc)
  }

  /** Run one op on a settled session; returns its result or the failure. */
  def run[T](kind: String)(body: => T): (Either[Throwable, T], OpSpan) = {
    settle()
    val id = nextId; nextId += 1
    val (gc0, gcMs0, cg0) = if (tracing) (Jvm.gcCount, Jvm.gcMs, Jvm.compiles) else (0L, 0L, 0L)
    sc.setLocalProperty(OpProp, id.toString)
    currentOp = id
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case t: Throwable => Left(t) }
    val durNs = System.nanoTime() - t0
    val endMs = System.currentTimeMillis()
    sc.setLocalProperty(OpProp, null)
    if (tracing) PerfbenchBridge.drainListenerBus(sc)
    currentOp = -1
    val span = if (tracing)
      OpSpan(id, kind, startMs, endMs, durNs, res.isRight, Jvm.gcCount - gc0, Jvm.gcMs - gcMs0, Jvm.compiles - cg0)
    else OpSpan(id, kind, startMs, endMs, durNs, res.isRight, 0, 0, 0)
    synchronized { ops += span }
    (res, span)
  }

  def close(): Unit = if (tracing) {
    PerfbenchBridge.drainListenerBus(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}
