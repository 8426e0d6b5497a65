package graft.bench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{Appender, LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{BenchAccess, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call from the benchmark into one graft layer. */
final case class Span(id: String, name: String, req: String, parent: String,
                      startNs: Long, endNs: Long)

/** Spans around the benchmark's calls into graft's layers, plus the
  * listeners that charge Spark work to them.
  *
  * Each span sets its id as the calling thread's job group, so every job
  * the call submits (also from threads it creates, which inherit local
  * properties) carries the span id. The SparkListener maps jobs, stages
  * and SQL executions to spans; the QueryExecutionListener adds Catalyst
  * planning time per execution; a log appender on the code generator
  * counts compiles per span. Outside attach..detach, or when tracing is
  * off, `span` only runs the body: no job group, no listener, no record.
  */
final class Tracer(val enabled: Boolean) {
  @volatile private var on = false
  private val seq = new AtomicLong()
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[String]] { override def initialValue() = Nil }
  private val counters = new ConcurrentHashMap[String, Double]()
  // epoch-ns of nanoTime 0, so listener event times (epoch ms) and span
  // times share one clock
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  final case class JobRec(span: String, startMs: Long, var endMs: Long = -1L)
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val execSpan = new ConcurrentHashMap[Long, String]()
  private val execPlanMs = new ConcurrentHashMap[Long, Double]()
  private val execEndPlanMs = new ConcurrentHashMap[Long, Double]()

  /** Catalyst analysis + optimization + planning time of one execution. */
  private def planMs(qe: QueryExecution): Double =
    qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum.toDouble
  private val stageTotals = new ConcurrentHashMap[String, Array[Double]]()
  private val stageCounts = new ConcurrentHashMap[String, Integer]()
  private val codegen = new ConcurrentHashMap[String, Array[Double]]()
  private var sc: org.apache.spark.SparkContext = _
  private var appender: Appender = _
  private var qeListener: QueryExecutionListener = _

  /** Run `body` as one span of layer `name`, for request `req`. */
  def span[A](name: String, req: String = "")(body: => A): A = {
    if (!on) return body
    val id = s"s${seq.incrementAndGet()}"
    val parents = stack.get()
    val parent = parents.headOption.getOrElse("")
    val prevGroup = if (sc != null) sc.getLocalProperty("spark.jobGroup.id") else null
    stack.set(id :: parents)
    if (sc != null) sc.setJobGroup(id, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      spans.add(Span(id, name, req, parent, t0, t1))
      stack.set(parents)
      if (sc != null) {
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, "", interruptOnCancel = false)
      }
    }
  }

  /** Add `v` to a named counter (rows out, bytes written, pairs, ...). */
  def count(name: String, v: Double): Unit =
    if (on) counters.merge(name, v, (a, b) => a + b)

  private def currentSpan: String = {
    val tc = TaskContext.get()
    if (tc != null) Option(tc.getLocalProperty("spark.jobGroup.id")).getOrElse("")
    else stack.get().headOption.getOrElse("")
  }

  // per-span stage totals: task cpu ns, shuffle write/read bytes, spill
  // bytes, output bytes, output records
  private val Cpu = 0; private val ShW = 1; private val ShR = 2; private val Spill = 3
  private val BytesW = 4; private val RecsW = 5

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      jobs.put(e.jobId, JobRec(g, e.time))
      e.stageIds.foreach(stageSpan.put(_, g))
      // stages counted at job start, skipped ones included: the plan's
      // shape, not only what ran
      stageCounts.merge(g, e.stageIds.size, (a, b) => a + b)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val g = stageSpan.getOrDefault(si.stageId, "")
      val m = si.taskMetrics
      if (m != null) {
        val a = stageTotals.computeIfAbsent(g, _ => new Array[Double](6))
        a.synchronized {
          a(Cpu) += m.executorCpuTime
          a(ShW) += m.shuffleWriteMetrics.bytesWritten
          a(ShR) += m.shuffleReadMetrics.totalBytesRead
          a(Spill) += m.diskBytesSpilled + m.memoryBytesSpilled
          a(BytesW) += m.outputMetrics.bytesWritten
          a(RecsW) += m.outputMetrics.recordsWritten
        }
      }
      stageSpan.remove(si.stageId)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.foreach(execSpan.put(s.executionId, _))
      // executions that are not Dataset actions (eager checkpoints, writes
      // under a command) never reach the QueryExecutionListener: take
      // their planning time from the end event
      case e: SparkListenerSQLExecutionEnd =>
        Option(BenchAccess.queryExecution(e)).foreach(qe => execEndPlanMs.put(e.executionId, planMs(qe)))
      case _ =>
    }
  }

  /** Attach the listeners to a session (no-op when tracing is off). */
  def attach(spark: SparkSession): Unit = if (enabled) {
    on = true
    sc = spark.sparkContext
    sc.addSparkListener(listener)
    qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = {
        execPlanMs.merge(qe.id, planMs(qe), (a, b) => a + b)
      }
      override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = ()
    }
    spark.listenerManager.register(qeListener)
    // the code generator logs one line per compiled class, on the
    // compiling thread: count them per span
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val msRe = """Code generated in ([0-9.]+) ms""".r.unanchored
    appender = new AbstractAppender("graft-bench-codegen", null, null, true, Property.EMPTY_ARRAY) {
      override def append(ev: LogEvent): Unit = ev.getMessage.getFormattedMessage match {
        case msRe(ms) =>
          val a = codegen.computeIfAbsent(currentSpan, _ => new Array[Double](2))
          a.synchronized { a(0) += 1; a(1) += ms.toDouble }
        case _ =>
      }
    }
    appender.start()
    cfg.addAppender(appender)
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val lc = new org.apache.logging.log4j.core.config.LoggerConfig(
      name, org.apache.logging.log4j.Level.INFO, false)
    lc.addAppender(appender, org.apache.logging.log4j.Level.INFO, null)
    cfg.addLogger(name, lc)
    ctx.updateLoggers()
  }

  /** Wait for every queued listener event, then detach. */
  def detach(spark: SparkSession): Unit = if (enabled && sc != null) {
    on = false
    org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.removeLogger("org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator")
    ctx.updateLoggers()
    appender.stop()
    sc = null
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Spans as JSON lines: name, start/end (epoch ms), parent, request. */
  def spanLines: Seq[String] = allSpans.map { s =>
    Json.obj("id" -> s.id, "name" -> s.name, "req" -> s.req, "parent" -> s.parent,
      "start_ms" -> (s.startNs + epochOffsetNs) / 1e6, "end_ms" -> (s.endNs + epochOffsetNs) / 1e6)
  }

  /** Per-layer table over the spans that started in [fromNs, toNs).
    *
    * Self time is a span's duration minus the part of it its child spans
    * cover. Driver gap is the part of a span's self time in which none of
    * its own jobs ran. Counts charge jobs, stages, SQL executions and code
    * generation to the span whose id was the job group.
    */
  def layers(fromNs: Long, toNs: Long): Map[String, Map[String, Double]] = {
    val sel = allSpans.filter(s => s.startNs >= fromNs && s.startNs < toNs)
    val children = sel.groupBy(_.parent)
    val jobsBySpan = jobs.asScala.values.filter(_.endMs > 0).groupBy(_.span)
    val plan = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    (execEndPlanMs.asScala ++ execPlanMs.asScala).foreach { case (ex, ms) =>
      Option(execSpan.get(ex)).foreach(sp => plan(sp) += ms)
    }
    val out = mutable.Map.empty[String, mutable.Map[String, Double]]
    def add(layer: String, k: String, v: Double): Unit =
      out.getOrElseUpdate(layer, mutable.Map.empty[String, Double].withDefaultValue(0.0))(k) += v
    for (s <- sel) {
      val dur = (s.endNs - s.startNs) / 1e6
      val kids = merge(children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)))
      val selfMs = dur - kids.map { case (a, b) => (b - a) / 1e6 }.sum
      val js = jobsBySpan.getOrElse(s.id, Nil)
      val jobIv = merge(js.map(j => (j.startMs * 1000000L - epochOffsetNs, j.endMs * 1000000L - epochOffsetNs)).toSeq)
      // job time inside the span's own (non-child) intervals
      val selfIv = subtract(Seq((s.startNs, s.endNs)), kids)
      val busy = intersectLen(selfIv, jobIv) / 1e6
      add(s.name, "self_ms", selfMs)
      add(s.name, "spans", 1)
      add(s.name, "jobs", js.size)
      add(s.name, "driver_gap_ms", math.max(0.0, selfMs - busy))
      add(s.name, "plan_ms", plan(s.id))
      val st = Option(stageTotals.get(s.id)).getOrElse(new Array[Double](6))
      add(s.name, "task_cpu_ms", st(Cpu) / 1e6)
      add(s.name, "shuffle_write_mb", st(ShW) / 1048576.0)
      add(s.name, "shuffle_mb", (st(ShW) + st(ShR)) / 1048576.0)
      add(s.name, "spill_mb", st(Spill) / 1048576.0)
      add(s.name, "bytes_written", st(BytesW))
      add(s.name, "rows_out", st(RecsW))
      val cg = Option(codegen.get(s.id)).getOrElse(new Array[Double](2))
      add(s.name, "codegen_compiles", cg(0))
      add(s.name, "codegen_ms", cg(1))
      add(s.name, "stages", Option(stageCounts.get(s.id)).map(_.toDouble).getOrElse(0.0))
      add(s.name, "wall_ms", dur)
    }
    out.map { case (k, m) => k -> m.toMap }.toMap
  }

  def counterMap: Map[String, Double] = counters.asScala.toMap

  /** Share (%) of [fromNs, toNs) during which at least one span was open. */
  def coverPct(fromNs: Long, toNs: Long): Double = {
    val iv = merge(allSpans.map(s => (math.max(s.startNs, fromNs), math.min(s.endNs, toNs)))
      .filter { case (a, b) => b > a })
    100.0 * iv.map { case (a, b) => b - a }.sum / (toNs - fromNs)
  }

  private def merge(iv: Seq[(Long, Long)]): Seq[(Long, Long)] =
    iv.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((a, b) :: rest, (c, d)) if c <= b => (a, math.max(b, d)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  private def subtract(base: Seq[(Long, Long)], cut: Seq[(Long, Long)]): Seq[(Long, Long)] =
    cut.foldLeft(base) { case (acc, (c, d)) =>
      acc.flatMap { case (a, b) =>
        if (d <= a || c >= b) Seq((a, b))
        else Seq((a, c), (d, b)).filter { case (x, y) => y > x }
      }
    }

  private def intersectLen(xs: Seq[(Long, Long)], ys: Seq[(Long, Long)]): Long =
    (for ((a, b) <- xs; (c, d) <- ys) yield math.max(0L, math.min(b, d) - math.max(a, c))).sum
}
