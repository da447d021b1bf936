package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** Benchmark driver. Runs one workload in one JVM and writes the full
  * record (metrics, environment, per-kind and per-query breakdown, trace
  * split) as JSON to `--out`. `perfbench/run.py` builds, launches and
  * summarises it.
  *
  * {{{
  * Main --workload serve_mixed|analytics --seed N --seconds S --trace 0|1
  *      --work DIR --out FILE [--data DIR] [--cpus N]
  * }}}
  */
object Main {
  val Workloads = Seq("serve_mixed", "analytics")

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  def parse(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0, s"arguments come in --key value pairs: ${args.mkString(" ")}")
    args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"unexpected argument $k"); k.drop(2) -> v
    }.toMap
  }

  def session(work: String, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.checkpoint.dir", s"$work/checkpoint")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(s"$work/checkpoint")
    s
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload '$workload' (known: ${Workloads.mkString(", ")})")
    val seed = a("seed").toLong
    require(seed >= 0, s"seed must be a non-negative integer: $seed")
    val seconds = a("seconds").toDouble
    require(seconds > 0, "seconds must be positive")
    val tracing = a("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace takes 0 or 1, not $t")
    }
    val work = a("work")
    val cpus = a.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val started = System.nanoTime()
    val spark = session(work, cpus)
    val sessionS = (System.nanoTime() - started) / 1e9
    val probe = new Probe(spark, tracing)
    val cg0 = Jvm.compileMs
    val record = try workload match {
      case "serve_mixed" => serve(spark, probe, seed, seconds, work)
      case "analytics" => analytics(spark, probe, seed, seconds, work, a("data"))
    } finally probe.close()
    val compileMs = Jvm.compileMs - cg0
    val heap = Jvm.liveHeapMb()
    val traced = if (tracing) traceRecord(probe, record, compileMs, heap) else ListMap.empty[String, Any]
    val out = summaryFields(record) ++ ListMap(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> tracing,
      "cpus" -> cpus, "session_s" -> sessionS, "heap_live_mb" -> heap,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version) ++ traced
    Files.writeString(Paths.get(a("out")), Json.render(out))
    spark.stop()
  }

  /** What a workload hands back: the window's ops (timed, checked) and the
    * workload's own fields for the record.
    */
  final case class Outcome(ops: Seq[OpSpan], failures: Seq[String], attempted: Int,
      setupS: Double, windowS: Double, light: Seq[String], heavy: Seq[String],
      fields: ListMap[String, Any])

  /** The record's common part: end-to-end metrics, failures, per-kind latencies.
    *
    * Latency is gated per class, not as one score over every kind, so a
    * slower class cannot hide behind a faster one. Each workload splits its
    * kinds into a light and a heavy class (serve: read calls and write calls;
    * analytics: one-pass pipeline queries and iterative graph queries); a
    * class's figure is the geometric mean of its kinds' median latencies, so
    * each kind weighs the same however many samples it has.
    */
  private def summaryFields(o: Outcome): ListMap[String, Any] = {
    val ok = o.ops.filter(_.ok)
    val byKind = ok.groupBy(_.kind)
    val perKind = ListMap((o.light ++ o.heavy).filter(byKind.contains).map { k =>
      val ms = byKind(k).map(_.durNs / 1e6)
      k -> ListMap("n" -> ms.size, "p50_ms" -> median(ms), "p90_ms" -> quantile(ms, 0.9),
        "mean_ms" -> ms.sum / ms.size)
    }: _*)
    // no time at all when nothing in the class succeeded: a failed op never reports one
    def classP50(kinds: Seq[String]): Double = {
      val p50s = kinds.flatMap(perKind.get).map(_("p50_ms").asInstanceOf[Double])
      if (p50s.isEmpty) 0.0 else geomean(p50s)
    }
    ListMap(
      "setup_s" -> o.setupS,
      // per second of the calls' own time: the client's checks and the
      // settling between calls are the benchmark's, not the system's
      "ops_per_s" -> (if (ok.isEmpty) 0.0 else ok.size / (o.ops.map(_.durNs).sum / 1e9)),
      "light_p50_ms" -> classP50(o.light),
      "heavy_p50_ms" -> classP50(o.heavy),
      "classes" -> ListMap("light" -> o.light, "heavy" -> o.heavy),
      "window_s" -> o.windowS,
      "attempted" -> o.attempted,
      "failed" -> o.failures.size,
      "failures" -> o.failures.take(20),
      "per_kind" -> perKind) ++ o.fields
  }


  // ── serve ─────────────────────────────────────────────────────────────

  val ServeEntities = 5000
  val ServeRelations = 200
  /** The timed window is a fixed number of whole units (a schedule block, a
    * pass over the query sample), so every window does the same work with
    * the same mix: a window sized by elapsed time would run an extra unit in
    * fast runs only, and mix warmer samples into exactly those runs. The
    * count follows `seconds` at the workload's `seconds` per unit, never
    * below two, so each call kind or query has at least two samples.
    */
  def windowUnits(seconds: Double, nominalS: Double): Int =
    math.max(2, math.round(seconds / nominalS).toInt)

  /** Warm-up length in cycles of one call of every kind. A fixed count, like
    * the window: a warm-up cut by the clock would run more cycles in fast
    * runs only, and since warm-up and window share the store and the seeded
    * call sequence, that would change the window's inputs too.
    */
  val WarmCycles = 1
  /** `--seconds` per window unit (see [[windowUnits]]): at `--seconds 15`,
    * 2 serve blocks (~8 s each on 4 cores) or 2 analytics passes (~8 s
    * each). A third unit did not fit the run budget.
    */
  val UnitS = 7.5

  def serve(spark: SparkSession, probe: Probe, seed: Long, seconds: Double, work: String): Outcome = {
    val data = ServeData.generate(seed, ServeEntities, ServeRelations)
    val wl = new ServeWorkload(spark, seed, data)
    // one build, cold: the median of three builds in one JVM (two of them
    // warm) spread more between runs than the first build alone (0.12-0.13
    // against 0.06-0.10 over ten seeds, on a 1,500-entity store)
    val t0 = System.nanoTime()
    val (store, setupSplit) = wl.build(s"$work/store")
    val setupS = (System.nanoTime() - t0) / 1e9
    val root = Paths.get(store.root)
    val failures = Vector.newBuilder[String]
    var attempted = 0
    var (filesWritten, bytesWritten, userBytesWritten, writes) = (0L, 0L, 0L, 0)
    def call(kind: String): OpSpan = {
      val c = wl.next(kind)
      // file-system accounting of writes, traced runs only and outside the timer
      val before = if (probe.tracing && c.userBytes >= 0) Some((countFiles(root), dirBytes(root))) else None
      val (res, span) = probe.run(kind)(c.run(store))
      attempted += 1
      before.foreach { case (f, b) =>
        filesWritten += countFiles(root) - f; bytesWritten += dirBytes(root) - b
        userBytesWritten += c.userBytes; writes += 1
      }
      val err = res match {
        case Right(v) => c.check(v)
        case Left(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      if (err.isEmpty) c.apply() else failures += s"$kind: ${err.get}".take(300)
      if (err.isEmpty) span else span.copy(ok = false)
    }
    val warm0 = System.nanoTime()
    (1 to WarmCycles).foreach(_ => wl.cycle().foreach(call))
    val warmS = (System.nanoTime() - warm0) / 1e9
    val warmOps = probe.ops.size
    filesWritten = 0; bytesWritten = 0; userBytesWritten = 0; writes = 0

    val window = Vector.newBuilder[OpSpan]
    val w0 = System.nanoTime()
    (1 to windowUnits(seconds, UnitS)).foreach(_ => window ++= wl.blockOrder().map(call))
    val windowS = (System.nanoTime() - w0) / 1e9
    attempted += 1 // the whole-store comparison counts as one more check
    val c0 = System.nanoTime()
    wl.finalCheck(store).foreach(e => failures += s"final store check: $e")
    val checkS = (System.nanoTime() - c0) / 1e9
    val bytesOnDisk = dirBytes(root)
    Outcome(window.result(), failures.result(), attempted, setupS, windowS,
      wl.ReadKinds, wl.WriteKinds, ListMap(
        "setup_split" -> ListMap(setupSplit: _*),
        "final_check_s" -> checkS,
        "warmup" -> ListMap("cycles" -> WarmCycles, "ops" -> warmOps, "s" -> warmS),
        "store" -> ListMap("entities" -> wl.model.entities.size, "edges" -> wl.model.edges.values.sum,
          "bytes_on_disk" -> bytesOnDisk, "user_bytes" -> wl.model.userBytes,
          "space_amp" -> bytesOnDisk.toDouble / wl.model.userBytes,
          "versions" -> store.storeVersions.size, "files" -> countFiles(root),
          "window_writes" -> writes, "files_written" -> filesWritten, "bytes_written" -> bytesWritten,
          "user_bytes_written" -> userBytesWritten,
          "bytes_written_per_user_byte" -> (if (userBytesWritten > 0) bytesWritten.toDouble / userBytesWritten else 0.0),
          "files_written_per_write" -> (if (writes > 0) filesWritten.toDouble / writes else 0.0))))
  }

  def dirBytes(p: java.nio.file.Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
  }
  def countFiles(p: java.nio.file.Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).count() finally s.close()
  }

  // ── analytics ─────────────────────────────────────────────────────────

  def analytics(spark: SparkSession, probe: Probe, seed: Long, seconds: Double, work: String,
      data: String): Outcome = {
    val dump = s"$work/results"
    val r = Analytics.run(spark, probe, data, dump, seed, windowUnits(seconds, UnitS))
    val failures = (r.primed ++ r.execs).collect { case e if e.error.isDefined => s"${e.query}: ${e.error.get}".take(300) }
    val ops = r.execs.map(e => if (e.error.isEmpty) e.span else e.span.copy(ok = false))
    val byQuery = ops.filter(_.ok).groupBy(_.kind)
    val perFamily = byQuery.toSeq.groupBy { case (q, _) => Analytics.family(q) }.map { case (f, qs) =>
      f -> qs.map { case (_, s) => median(s.map(_.durNs / 1e9)) }.sum
    }
    val (graph, pipeline) = Analytics.Sample.partition(_.startsWith("graph_"))
    Outcome(ops, failures, r.primed.size + r.execs.size, r.primeS, r.windowS, pipeline, graph, ListMap(
      "queries" -> Analytics.Sample, "passes" -> r.passes, "results_dir" -> dump,
      "prime_s" -> ListMap(r.primed.map(e => e.query -> e.span.durNs / 1e9): _*),
      "oracle_sql" -> ListMap(Analytics.Sample.map(q => q -> graft.SparkEntry.oracleSql(q)): _*),
      "family_s" -> scala.collection.immutable.TreeMap(perFamily.toSeq: _*)))
  }

  // ── traced run: per-layer metrics ─────────────────────────────────────

  def traceRecord(probe: Probe, o: Outcome, compileMs: Double, heapMb: Double): ListMap[String, Any] = {
    val windowIds = o.ops.map(_.id).toSet
    val traces = Trace.attribute(probe).filter(t => windowIds(t.span.id))
    val n = traces.size.toDouble.max(1)
    val jobWall = traces.map(_.jobCoveredMs).sum.toDouble
    val graph = traces.filter(_.span.kind.startsWith("graph_"))
    val pipe = traces.filter(t => Analytics.Sample.contains(t.span.kind) && !t.span.kind.startsWith("graph_"))
    val cpus = Runtime.getRuntime.availableProcessors
    // store metrics exist on serve_mixed only and read 0 elsewhere
    val store = o.fields.get("store").map(_.asInstanceOf[ListMap[String, Any]])
    def storeStat(k: String): Double = store.map(_(k).asInstanceOf[Double]).getOrElse(0.0)
    val perLayer = ListMap[String, Double](
      "exec.jobs_per_op" -> traces.map(_.jobs.size).sum / n,
      "exec.tasks_per_op" -> traces.map(_.tasks).sum / n,
      "exec.task_ms_per_op" -> traces.map(_.taskMs).sum / n,
      "exec.driver_ms_per_op" -> traces.map(t => t.durMs - t.jobCoveredMs).sum / n,
      "exec.shuffle_bytes_per_op" -> traces.map(_.shuffleBytes).sum / n,
      "exec.spill_bytes" -> traces.map(_.spillBytes).sum.toDouble,
      "exec.core_util" -> (if (jobWall > 0) traces.map(_.taskMs).sum / (jobWall * cpus) else 0.0),
      "plans.planning_ms_per_op" -> traces.map(_.planningMs).sum / n,
      "plans.queries_per_op" -> traces.map(_.qes.size).sum / n,
      "codegen.compiles" -> traces.map(_.span.compiles).sum.toDouble,
      "codegen.compile_ms" -> compileMs,
      "jvm.gc_ms_per_op" -> traces.map(_.span.gcMs).sum / n,
      "store.files_read_per_op" -> (if (store.isDefined) traces.map(_.filesRead).sum / n else 0.0),
      "store.space_amp" -> storeStat("space_amp"),
      "store.bytes_written_per_user_byte" -> storeStat("bytes_written_per_user_byte"),
      "store.files_written_per_write" -> storeStat("files_written_per_write"),
      "operators.jobs_per_query" -> (if (graph.nonEmpty) graph.map(_.jobs.size).sum.toDouble / graph.size else 0.0),
      "operators.storage_mb_peak" -> graph.map(t => probe.blockPeak(t.span.id)).maxOption.getOrElse(0L) / 1048576.0,
      "jvm.heap_live_mb" -> heapMb,
      "trace.ops_per_s" -> o.ops.count(_.ok) / (o.ops.map(_.durNs).sum / 1e9).max(1e-9))
    val byKind = traces.groupBy(_.span.kind).toSeq.sortBy(_._1).map { case (k, ts) =>
      val m = ts.size.toDouble
      k -> ListMap(
        "n" -> ts.size,
        "dur_ms" -> ts.map(_.durMs).sum / m,
        "self_ms" -> ListMap(Trace.Categories.map(c => c -> ts.map(_.selfMs(c)).sum / m): _*),
        "jobs" -> ts.map(_.jobs.size).sum / m,
        "stages" -> ts.map(_.stages.size).sum / m,
        "tasks" -> ts.map(_.tasks).sum / m,
        "planning_ms" -> ts.map(_.planningMs).sum / m,
        "queries" -> ts.map(_.qes.size).sum / m,
        "files_read" -> ts.map(_.filesRead).sum / m,
        "input_bytes" -> ts.map(_.inputBytes).sum / m,
        "shuffle_bytes" -> ts.map(_.shuffleBytes).sum / m,
        "gc_ms" -> ts.map(_.span.gcMs).sum / m,
        "compiles" -> ts.map(_.span.compiles).sum / m,
        "storage_mb_peak" -> ts.map(t => probe.blockPeak(t.span.id)).max / 1048576.0)
    }
    ListMap(
      "per_layer" -> perLayer,
      "trace_by_kind" -> ListMap(byKind: _*),
      "trace_self_ms" -> ListMap(Trace.Categories.map(c => c -> traces.map(_.selfMs(c)).sum / n): _*),
      // The self times add up to each op's span by construction. These two
      // can fail: child spans (jobs, stages, planning phases) reaching
      // outside the op they are attributed to, and the span's wall-clock
      // length disagreeing with the nanoTime latency reported end to end.
      "trace_checks" -> ListMap(
        "outside_ms_per_op" -> traces.map(_.outsideMs).sum / n,
        "max_wall_gap_ms" -> traces.map(t => math.abs(t.durMs - t.span.durNs / 1e6)).maxOption.getOrElse(0.0)),
      "trace_extra" -> (ListMap[String, Any](
        "exec.stages_per_op" -> traces.map(_.stages.size).sum / n,
        "jvm.gc_count" -> traces.map(_.span.gcCount).sum,
        "store.bytes_read_per_op" -> traces.map(_.inputBytes).sum / n,
        "pipeline.jobs_per_query" -> (if (pipe.nonEmpty) pipe.map(_.jobs.size).sum.toDouble / pipe.size else 0.0)) ++
        store.map(s => ListMap("store.versions" -> s("versions"), "store.live_files" -> s("files"))).getOrElse(ListMap.empty)))
  }
}
