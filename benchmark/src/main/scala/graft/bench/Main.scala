package graft.bench

import java.io.{File, PrintWriter}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.Graft
import graft.operators._

/** One timed operation of an open-loop run. Times are ms since the
  * schedule's origin; `early` marks an op a worker picked up before it
  * was due, so its start-minus-due is the generator's own lateness.
  */
final case class Op(i: Int, kind: String, arg: Int, dueMs: Double, var startMs: Double = 0,
                    var endMs: Double = 0, var early: Boolean = false, var ok: Boolean = false,
                    var ids: Seq[Long] = Nil, var err: String = "")

/** The benchmark runner: runs one workload against graft's layer entry
  * points on one local[4] session and writes `result.json` (and, when
  * traced, `spans.jsonl`) into the work directory. The seeded inputs and
  * the request schedule come from `corpus.py`; output checks run in
  * `run.py` after this process ends.
  *
  * Usage: Main --workload serve|build --corpus DIR --inputs DIR
  *             --work DIR --seconds S --trace 0|1
  */
object Main {
  val Workers = 4
  val K = Ann.GraphSearchK
  val Beam = Ann.GraphSearchBeam
  val Rounds = Ann.GraphSearchRounds

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val cfg = Cfg(a("workload"), a("corpus"), a("inputs"), a("work"), a("seconds").toDouble,
      a("trace") == "1")
    val tracer = new Tracer(cfg.trace)
    val res = cfg.workload match {
      case "serve" => new Serve(cfg, tracer).run()
      case "build" => new Build(cfg, tracer).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val oracle = Map("serve" -> Seq("search_from_index"),
      "build" -> Seq("doc_embed_meanpool", "dedup_minhash_verified", "dedup_tfidf_cosine"))
      .getOrElse(cfg.workload, Nil).map(k => k -> graft.SparkEntry.oracleSql(k)).toMap
    write(s"${cfg.work}/result.json", Json.value(res + ("oracle_sql" -> oracle)))
    if (cfg.trace) write(s"${cfg.work}/spans.jsonl", tracer.spanLines.mkString("\n") + "\n")
  }

  final case class Cfg(workload: String, corpus: String, inputs: String, work: String,
                       seconds: Double, trace: Boolean)

  def write(path: String, s: String): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try w.write(s) finally w.close()
  }

  def session(work: String): SparkSession = {
    val s = Graft.configure(SparkSession.builder()
      .master(s"local[$Workers]")
      .config("spark.sql.shuffle.partitions", Workers.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(s: SparkSession): Unit = {
    Graft.releaseCaches()
    s.stop()
  }

  /** Bytes of the files under a directory (0 when missing). */
  def dirBytes(path: String): Long = files(new File(path.stripPrefix("file:"))).map(_.length).sum

  def fileCount(path: String): Int =
    files(new File(path.stripPrefix("file:"))).count(_.getName.endsWith(".parquet"))

  private def files(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(files) else if (f.isFile) Seq(f) else Nil

  /** Storage memory Spark holds for cached and checkpointed blocks. A GC
    * first lets the context cleaner drop checkpoint blocks nothing
    * references any more, so the figure does not depend on GC timing.
    */
  def storageMb(s: SparkSession): Double = {
    System.gc()
    Thread.sleep(500)
    s.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Seeded query vectors: `queries.bin` holds little-endian float32
    * rows of 64; query q gets q_id q.
    */
  def loadQueries(inputs: String): Array[(Long, Array[Float])] = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$inputs/queries.bin"))
    val fb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN).asFloatBuffer()
    Array.tabulate(fb.remaining() / 64) { q =>
      val v = new Array[Float](64); fb.get(v); (q.toLong, v)
    }
  }

  /** The schedule: one `due_ms,kind,query` line per op, in due-time
    * order.
    */
  def loadSchedule(inputs: String, name: String): IndexedSeq[Op] = {
    val src = scala.io.Source.fromFile(s"$inputs/$name", "UTF-8")
    try src.getLines().filter(_.nonEmpty).zipWithIndex.map { case (l, i) =>
      val Array(due, kind, arg) = l.split(",")
      Op(i, kind, arg.toInt, due.toDouble)
    }.toIndexedSeq
    finally src.close()
  }

  /** Seeded queries as one (q_id, qv) frame. */
  def batchFrame(s: SparkSession, qs: Array[(Long, Array[Float])], idx: Seq[Int]): DataFrame = {
    import s.implicits._
    idx.map(i => (qs(i)._1, qs(i)._2.toSeq)).toDF("q_id", "qv")
  }

  /** Ranked result ids per query of a batch walk. */
  def idsByQuery(rows: Array[Row]): Map[Long, Seq[Long]] =
    rows.groupBy(_.getAs[Long]("q_id")).map { case (q, rs) => q -> rankedIds(rs) }

  /** The check batches: `check.csv` lists one query per line; each walk
    * kind's queries run as one batch through `walk`, outside the timed
    * region. Returns kind -> query -> ranked ids.
    */
  def checkWalks(inputs: String, s: SparkSession, qs: Array[(Long, Array[Float])])
                (walk: (String, DataFrame) => DataFrame): Map[String, Map[Long, Seq[Long]]] =
    loadSchedule(inputs, "check.csv").groupBy(_.kind).map { case (kind, ops) =>
      kind -> idsByQuery(walk(kind, batchFrame(s, qs, ops.map(_.arg))).collect())
    }

  /** Walk result ids in rank order. */
  def rankedIds(rows: Array[Row]): Seq[Long] =
    rows.map(r => (r.getAs[Long]("rn"), r.getAs[Long]("vec_id"))).sortBy(_._1).map(_._2).toSeq

  /** Run `ops` as an open loop on `threads` workers sharing one queue:
    * each worker takes the next op, sleeps until it is due, and runs it.
    * Due times are ms after `t0` (nanoTime). Returns when every op ran.
    */
  def openLoop(ops: Seq[Op], threads: Int, t0: Long)(body: Op => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(threads)
    val done = new CountDownLatch(threads)
    val errs = new ConcurrentLinkedQueue[Throwable]()
    val next = new AtomicInteger(0)
    def now = (System.nanoTime() - t0) / 1e6
    (0 until threads).foreach { _ =>
      pool.submit(new Runnable {
        def run(): Unit = try {
          var i = next.getAndIncrement()
          while (i < ops.size) {
            val op = ops(i)
            val wait = op.dueMs - now
            op.early = wait > 0
            if (wait > 0) Thread.sleep(wait.toLong, ((wait - wait.toLong) * 1e6).toInt)
            op.startMs = now
            try { body(op); op.ok = op.err.isEmpty }
            catch { case scala.util.control.NonFatal(e) => op.err = e.toString }
            op.endMs = now
            i = next.getAndIncrement()
          }
        } catch { case e: Throwable => errs.add(e) } finally done.countDown()
      })
    }
    done.await()
    pool.shutdown()
    pool.awaitTermination(1, TimeUnit.MINUTES)
    errs.asScala.headOption.foreach(e => throw e)
  }

  def opJson(o: Op): Map[String, Any] = Map(
    "i" -> o.i, "kind" -> o.kind, "arg" -> o.arg, "due_ms" -> o.dueMs, "start_ms" -> o.startMs,
    "end_ms" -> o.endMs, "early" -> o.early, "ok" -> o.ok, "ids" -> o.ids, "err" -> o.err)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
