package graft.perfbench

import java.nio.file.{Files, Path}

/** Distributions, engine-layer numbers, reconciliation and output. */
object Report {
  /** Linear-interpolated quantile of `xs` (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private def criticalNs(o: OpRec, js: Seq[JobRec]): Long = {
    val iv = js.map(j => (math.max(j.startMs, o.startMs) * 1000000L,
      math.min(j.endMs, o.endMs) * 1000000L))
    Tracer.unionLength(iv)
  }

  /** Job critical path (union of job intervals) of one op, seconds. */
  def criticalPathS(o: OpRec, jobs: Map[Int, Seq[JobRec]]): Double =
    criticalNs(o, jobs.getOrElse(o.id, Nil)) / 1e9

  /** Engine-layer numbers, per op of the timed region. */
  def sparkLayers(t: Tracer, jobs: Map[Int, Seq[JobRec]],
      parallelism: Int): Map[String, Double] = {
    val ops = t.ops.toSeq
    val n = math.max(1, ops.size).toDouble
    val js = ops.map(o => jobs.getOrElse(o.id, Nil))
    val stageIds = js.map(_.flatMap(_.stageIds).distinct)
    def stageSum(i: Int) = stageIds.map(_.map(s =>
      Option(t.stages.get(s)).map(_.v(i)).getOrElse(0L)).sum).sum.toDouble
    val crit = ops.map(o => criticalPathS(o, jobs))
    val busy = stageSum(1) / 1e3
    Map(
      "spark.jobs" -> js.map(_.size).sum / n,
      "spark.stages" -> stageIds.map(_.size).sum / n,
      "spark.tasks" -> stageSum(0) / n,
      "spark.job_critical_path_s" -> crit.sum / n,
      "spark.outside_job_s" ->
        ops.zip(crit).map { case (o, c) => o.wall - c }.sum / n,
      "spark.task_busy_s" -> busy / n,
      "spark.core_use" ->
        (if (crit.sum > 0) busy / (crit.sum * parallelism) else 0.0),
      "spark.codegen_compiles" -> ops.map(_.compiles).sum / n,
      "spark.codegen_compile_s" -> ops.map(_.compileNs).sum / 1e9 / n,
      "spark.shuffle_read_bytes" -> stageSum(2) / n,
      "spark.shuffle_write_bytes" -> stageSum(3) / n,
      "spark.spill_bytes" -> stageSum(4) / n,
      "spark.input_bytes" -> stageSum(5) / n)
  }

  /** Self time of each span: its duration minus the union of its
    * children. Returns (non-job self time, per-parent job-only cover).
    */
  def selfTimes(spans: Seq[Span]): (Map[Int, Long], Map[Int, Long]) = {
    val kids = spans.groupBy(_.parent)
    val self = spans.filterNot(isJob).map { s =>
      val cs = kids.getOrElse(s.id, Nil)
      s.id -> ((s.end - s.start) - Tracer.unionLength(cs.map(c => (c.start, c.end))))
    }.toMap
    val jobCover = spans.filterNot(isJob).map { s =>
      val cs = kids.getOrElse(s.id, Nil)
      s.id -> (Tracer.unionLength(cs.map(c => (c.start, c.end))) -
        Tracer.unionLength(cs.filterNot(isJob).map(c => (c.start, c.end))))
    }.toMap
    (self, jobCover)
  }

  private def isJob(s: Span) = s.name.startsWith("job ")

  /** The traced run's own consistency checks: each op's job critical
    * path is within its wall, and the self times of its span tree (job
    * time counted once, as their union) sum to its wall.
    */
  def reconcile(t: Tracer, jobs: Map[Int, Seq[JobRec]]): Seq[Check] = {
    val tolNs = 2000000L // job events carry millisecond timestamps
    val overWall = t.ops.filter(o =>
      criticalNs(o, jobs.getOrElse(o.id, Nil)) > (o.endNs - o.startNs) + tolNs)
    val byOp = t.spans.toSeq.filter(s => s.name == "op" || s.parent >= 0)
      .groupBy(_.op)
    val badSelf = t.ops.filter { o =>
      val sp = byOp.getOrElse(o.id, Nil)
      val (self, cover) = selfTimes(sp)
      math.abs(self.values.sum + cover.values.sum - (o.endNs - o.startNs)) > 1000L
    }
    Seq(
      Check("recon.critical_path_le_wall", overWall.isEmpty,
        s"${overWall.size} of ${t.ops.size} ops over", counted = 0),
      Check("recon.self_times_sum_to_wall", badSelf.isEmpty,
        s"${badSelf.size} of ${t.ops.size} ops off", counted = 0))
  }

  def writeSpans(t: Tracer, path: Path): Unit = {
    val (self, cover) = selfTimes(t.spans.toSeq)
    val lines = t.spans.map { s =>
      json(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "op_name" -> t.ops(s.op).name, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end,
        "self_ns" -> self.getOrElse(s.id, s.end - s.start),
        "job_cover_ns" -> cover.getOrElse(s.id, 0L)))
    }
    Files.writeString(path, lines.mkString("", "\n", "\n"))
  }

  def json(v: AnyRef): String =
    org.json4s.jackson.Serialization.write(v)(org.json4s.DefaultFormats)
}
