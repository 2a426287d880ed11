package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed operation of a workload's closed loop. `kind` groups ops
  * for the latency distributions (`query`, `commit`, `door`, ...).
  */
final class OpRec(val id: Int, val name: String, val kind: String) {
  var startNs = 0L
  var endNs = 0L
  var startMs = 0L
  var endMs = 0L
  var compiles = 0L
  var compileNs = 0L
  var failed = false
  def wall: Double = (endNs - startNs) / 1e9
}

/** A traced interval. Times are `System.nanoTime`; spans built from
  * Spark job events are mapped onto that clock through their op's
  * (nanoTime, wall-clock) start pair.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    start: Long, end: Long)

/** Spark job as seen by the listener, in wall-clock milliseconds. */
final case class JobRec(jobId: Int, group: String, startMs: Long,
    endMs: Long, stageIds: Seq[Int])

/** Per-stage task totals: count, busy ms, shuffle read/write bytes,
  * spill bytes, input bytes.
  */
final class StageAgg {
  val v = new Array[Long](6)
  def add(i: Int, x: Long): Unit = synchronized { v(i) += x }
}

/** Streaming progress of one micro-batch. */
final case class BatchRec(durationS: Double, addBatchS: Double,
    triggerS: Double)

/** Records operations, spans and — when `on` — the Spark engine's job,
  * stage, task and streaming events through listeners it registers
  * itself. With tracing off only op walls are kept.
  */
final class Tracer(spark: SparkSession, val on: Boolean) {
  import Tracer._
  private val sc = spark.sparkContext
  val ops = ArrayBuffer[OpRec]()
  val spans = ArrayBuffer[Span]()
  private var nextSpan = 0
  private var stack = List.empty[Int]
  private var current: OpRec = _

  val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobStarts = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageAgg]()
  val batches = new ConcurrentLinkedQueue[BatchRec]()
  private val streamsStarted = new java.util.concurrent.atomic.AtomicInteger
  private val streamsEnded = new java.util.concurrent.atomic.AtomicInteger

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties)
        .flatMap(p => Option(p.getProperty(SparkJobGroup))).getOrElse("")
      jobStarts.put(e.jobId, JobRec(e.jobId, g, e.time, e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobStarts.remove(e.jobId)
      if (s != null) jobs.add(s.copy(endMs = e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
      a.add(0, 1)
      a.add(1, e.taskInfo.duration)
      val m = e.taskMetrics
      if (m != null) {
        a.add(2, m.shuffleReadMetrics.totalBytesRead)
        a.add(3, m.shuffleWriteMetrics.bytesWritten)
        a.add(4, m.memoryBytesSpilled + m.diskBytesSpilled)
        a.add(5, m.inputMetrics.bytesRead)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit =
      streamsStarted.incrementAndGet()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      // progress is also reported for triggers that found no new data
      if (p.numInputRows > 0) {
        def d(k: String) =
          Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
        batches.add(BatchRec(p.batchDuration / 1e3, d("addBatch"),
          d("triggerExecution")))
      }
    }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      streamsEnded.incrementAndGet()
  }

  if (on) {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until every streaming query started so far has reported its
    * termination (the progress events precede it on the bus).
    */
  def awaitStreams(): Unit = if (on) {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (streamsEnded.get() < streamsStarted.get() &&
        System.nanoTime() < deadline) Thread.sleep(2)
  }

  /** Time one operation; an exception marks it failed and is rethrown
    * after the record is closed.
    */
  def op[T](name: String, kind: String)(body: => T): T = {
    val o = new OpRec(ops.size, name, kind)
    ops += o
    current = o
    val cm = org.apache.spark.metrics.source.CodegenMetrics
    val cg = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val c0 = if (on) cm.METRIC_COMPILATION_TIME.getCount else 0L
    val t0 = if (on) cg.compileTime else 0L
    if (on) sc.setJobGroup(s"$OpGroupPrefix${o.id}", name, false)
    o.startMs = System.currentTimeMillis()
    o.startNs = System.nanoTime()
    val root = if (on) open() else -1
    try body
    catch { case e: Throwable => o.failed = true; throw e }
    finally {
      o.endNs = System.nanoTime()
      o.endMs = System.currentTimeMillis()
      if (on) {
        close(root, "op", o.startNs, o.endNs)
        sc.clearJobGroup()
        o.compiles = cm.METRIC_COMPILATION_TIME.getCount - c0
        o.compileNs = cg.compileTime - t0
      }
      current = null
    }
  }

  /** A child span of the innermost open span of the current op. */
  def span[T](name: String)(body: => T): T =
    if (!on || current == null) body
    else {
      val id = open()
      val s = System.nanoTime()
      try body finally close(id, name, s, System.nanoTime())
    }

  /** A span outside any op's wall, sharing op `opId` — the benchmark's
    * own probes after an operation.
    */
  def probe[T](opId: Int, name: String)(body: => T): T =
    if (!on) body
    else {
      val s = System.nanoTime()
      try body finally {
        val id = nextSpan; nextSpan += 1
        spans += Span(id, -1, opId, name, s, System.nanoTime())
      }
    }

  private def open(): Int = {
    val id = nextSpan; nextSpan += 1
    stack = id :: stack
    id
  }

  private def close(id: Int, name: String, s: Long, e: Long): Unit = {
    stack = stack.tail
    spans += Span(id, stack.headOption.getOrElse(-1), current.id, name, s, e)
  }

  /** After the timed region: drain the bus, then attribute each job to
    * the op whose job group it carries, or — for jobs started on
    * threads that do not carry the op's group (streaming micro-batches,
    * pooled helper threads) — to the op running when it started. The
    * loop has a single client thread, so that op is unique.
    */
  def finish(): Map[Int, Seq[JobRec]] = {
    if (!on) return Map.empty
    org.apache.spark.BenchBus.drain(sc)
    awaitStreams()
    val byGroup = ops.map(o => s"$OpGroupPrefix${o.id}" -> o).toMap
    val sorted = ops.sortBy(_.startMs).toArray
    def byTime(ms: Long): Option[OpRec] =
      sorted.find(o => o.startMs <= ms && ms <= o.endMs)
    val out = jobs.asScala.toSeq.flatMap { j =>
      byGroup.get(j.group).orElse(byTime(j.startMs)).map(_.id -> j)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    // job spans: children of the innermost span open at the job's
    // start, clipped to it (job times have millisecond resolution)
    val opSpans = spans.toSeq.groupBy(_.op)
    out.foreach { case (opId, js) =>
      val o = ops(opId)
      val tree = opSpans.getOrElse(opId, Nil)
        .filter(s => s.name == "op" || s.parent >= 0)
      js.foreach { j =>
        val s = o.startNs + (j.startMs - o.startMs) * 1000000L
        val e = o.startNs + (j.endMs - o.startMs) * 1000000L
        val at = math.min(math.max(s, o.startNs), o.endNs)
        val parent = tree.filter(p => p.start <= at && at <= p.end)
          .sortBy(-_.start).headOption
        parent.foreach { p =>
          val id = nextSpan; nextSpan += 1
          spans += Span(id, p.id, opId, s"job ${j.jobId}",
            math.max(s, p.start), math.max(math.min(e, p.end),
              math.max(s, p.start)))
        }
      }
    }
    out
  }

  def close(): Unit = if (on) {
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }
}

object Tracer {
  private val SparkJobGroup = "spark.jobGroup.id"
  private val OpGroupPrefix = "bench-op-"

  /** Total length of the union of [start, end] intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
