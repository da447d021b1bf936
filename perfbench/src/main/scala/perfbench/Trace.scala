package perfbench

/** Per-op split of the traced spans. Within one op span, every instant is
  * given to the most specific activity running then: a stage (task
  * execution), else a job with no stage running (scheduling, result fetch),
  * else a planning phase, else the driver itself (store file-system work,
  * plan construction, collecting rows). The four self times therefore add up
  * to the op's duration exactly. `outsideMs` is the child time that lay
  * outside the op's span and was cut off: nonzero means misattribution.
  */
final case class OpTrace(span: OpSpan, jobs: Seq[JobRec], stages: Seq[StageRec], qes: Seq[QeRec],
    selfMs: Map[String, Long], outsideMs: Long) {
  def durMs: Long = span.endMs - span.startMs
  def jobCoveredMs: Long = selfMs("stage") + selfMs("scheduler")
  def planningMs: Long = qes.flatMap(_.phases).map { case (_, s, e) => e - s }.sum
  def tasks: Long = stages.map(_.tasks.toLong).sum
  def taskMs: Long = stages.map(_.runMs).sum
  def shuffleBytes: Long = stages.map(_.shuffleWrite).sum
  def spillBytes: Long = stages.map(_.spill).sum
  def inputBytes: Long = stages.map(_.inputBytes).sum
  def filesRead: Long = qes.map(_.filesRead).sum
}

object Trace {
  val Categories = Seq("stage", "scheduler", "planning", "driver")

  def attribute(p: Probe): Seq[OpTrace] = p.synchronized {
    val jobsByOp = p.jobs.values.toSeq.groupBy(_.op)
    val stagesByJob = p.stages.values.toSeq.groupBy(_.job)
    val ops = p.ops.toSeq
    val qeByOp = p.qes.toSeq.groupBy { q =>
      val t = q.phases.map(_._2).minOption.getOrElse(-1L)
      ops.find(o => t >= o.startMs && t <= o.endMs).map(_.id).getOrElse(-1)
    }
    ops.map { o =>
      val js = jobsByOp.getOrElse(o.id, Nil)
      val ss = js.flatMap(j => stagesByJob.getOrElse(j.id, Nil))
      val qs = qeByOp.getOrElse(o.id, Nil)
      val raw =
        ss.map(s => ((s.startMs, s.endMs), 3)) ++
          js.map(j => ((j.startMs, if (j.endMs < 0) o.endMs else j.endMs), 2)) ++
          qs.flatMap(_.phases).map { case (_, s, e) => ((s, e), 1) }
      val clipped = raw.map { case ((s, e), pr) => ((math.max(s, o.startMs), math.min(e, o.endMs)), pr) }
        .filter { case ((s, e), _) => e > s }
      val outside = raw.map { case ((s, e), _) => math.max(0L, e - s) }.sum - clipped.map { case ((s, e), _) => e - s }.sum
      OpTrace(o, js, ss, qs, selfTimes(o.startMs, o.endMs, clipped), outside)
    }
  }

  private def selfTimes(start: Long, end: Long, iv: Seq[((Long, Long), Int)]): Map[String, Long] = {
    val cuts = (Seq(start, end) ++ iv.flatMap { case ((s, e), _) => Seq(s, e) }).distinct.sorted
    val acc = Array.fill(4)(0L)
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val prio = iv.collect { case ((s, e), pr) if s <= a && e >= b => pr }.maxOption.getOrElse(0)
        acc(3 - prio) += b - a
      case _ =>
    }
    Categories.zip(acc).toMap
  }
}
