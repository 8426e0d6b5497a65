package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import scala.util.control.NonFatal

/** Per-JOB wall-clock attribution for one query's cold run — the
  * guide-§1 "where does the time go" instrument at bench conditions.
  * The solo graph builds' bench seconds at sf0.1 (2k vectors) are
  * dominated by SEQUENTIAL JOB COUNT (eager memo materializations,
  * localCheckpoint barriers, count/collect jobs), not by compute, so
  * the first question for each is "how many jobs, how long each".
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.JobProbe <query> [query...]
  * Prints one line per Spark job (ordered by start): jobId, seconds,
  * gap-before (driver think time between jobs), callsite. Gaps are
  * where planning/codegen/driver work hides.
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors).toString)
    val spark = Graft.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    final case class Rec(id: Int, desc: String, start: Long, var end: Long = -1L)
    val recs = new java.util.concurrent.ConcurrentHashMap[Int, Rec]()
    val order = new java.util.concurrent.CopyOnWriteArrayList[Int]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(js.stageInfos.lastOption.map(si =>
            si.name + " | " + si.details.linesIterator
              .find(l => l.contains("graft") && !l.contains("JobProbe"))
              .getOrElse("").trim))
          .getOrElse("?")
        recs.put(js.jobId, Rec(js.jobId, desc, js.time))
        order.add(js.jobId)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(recs.get(je.jobId)).foreach(_.end = je.time)
      }
    }

    // per-ACTION Catalyst phase durations (analysis/optimization/
    // planning), summed over every action a query triggers — the
    // "driver think" between jobs
    val phaseTotals = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val qeListener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = {
        qe.tracker.phases.foreach { case (ph, sm) =>
          phaseTotals.merge(ph, sm.endTimeMs - sm.startTimeMs, Long.box(_) + Long.box(_))
        }
        phaseTotals.merge("action_total_ms", durationNs / 1000000L, Long.box(_) + Long.box(_))
        phaseTotals.merge("actions", 1L, Long.box(_) + Long.box(_))
      }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(qeListener)
    def codegenMs(): (Long, Double) = {
      val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      (h.getCount, h.getSnapshot.getMean * h.getCount)
    }

    // same warmup as a bench chunk so the first timed query is not
    // charged JVM/codegen bring-up
    Seq("search_pipeline", "q1_agg", "events_hourly").foreach { w =>
      try SparkEntry.queries.get(w).foreach(_(spark, sfDir).count())
      catch { case NonFatal(e) => System.err.println(s"warm-up query $w failed: $e") }
    }
    Graft.releaseCaches()

    // SPARK_GRAFT_PROBE_WARM=1 keeps session memos across the argument
    // list, so repeating a name measures the memoized (bench
    // iteration-2) cost instead of a fresh cold build
    val warm = sys.env.get("SPARK_GRAFT_PROBE_WARM").contains("1")
    for (name <- args) {
      if (!warm) Graft.releaseCaches()
      recs.clear(); order.clear(); phaseTotals.clear()
      val (cg0, cgMs0) = codegenMs()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      val total = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      val (cg1, cgMs1) = codegenMs()
      println(f"%n=== $name: $total%.2fs total, ${order.size()} jobs ===")
      import scala.jdk.CollectionConverters._
      println("phases: " + phaseTotals.asScala.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k=${v}ms" }.mkString(" ") +
        f" codegen_compiles=${cg1 - cg0} codegen_ms=${cgMs1 - cgMs0}%.0f")
      var prevEnd = -1L
      for (id <- order.asScala) {
        val r = recs.get(id)
        val dur = if (r.end > 0) (r.end - r.start) / 1e3 else -1.0
        val gap = if (prevEnd > 0) (r.start - prevEnd) / 1e3 else 0.0
        prevEnd = if (r.end > 0) r.end else prevEnd
        println(f"job ${r.id}%4d ${dur}%7.3fs gap ${gap}%7.3fs  ${r.desc.take(110)}")
      }
    }
    Graft.releaseCaches()
    spark.stop()
  }
}
