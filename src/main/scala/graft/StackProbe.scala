package graft

import org.apache.spark.sql.SparkSession

import scala.util.control.NonFatal

/** Driver stack sampler — the guide-§7.3 thread-dump loop as a main:
  * runs each named query like JobProbe but samples the driver thread
  * every 25 ms and prints the hottest collapsed frames, attributing
  * driver "gap" time (work between jobs that Catalyst's phase tracker
  * does not cover: AQE re-optimization, plan canonicalization, codegen
  * cache lookups, RDD DAG construction).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.StackProbe <query> [query...]
  */
object StackProbe {
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

    Seq("search_pipeline", "q1_agg", "events_hourly").foreach { w =>
      try SparkEntry.queries.get(w).foreach(_(spark, sfDir).count())
      catch { case NonFatal(e) => System.err.println(s"warm-up query $w failed: $e") }
    }
    Graft.releaseCaches()

    val warm = sys.env.get("SPARK_GRAFT_PROBE_WARM").contains("1")
    val main = Thread.currentThread()
    for (name <- args) {
      if (!warm) Graft.releaseCaches()
      val hist = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
      @volatile var live = true
      val sampler = new Thread(() => {
        while (live) {
          val st = main.getStackTrace
          // keep the deepest INTERESTING frame (spark/graft/janino), plus
          // its caller for context; skip pure JDK frames
          val frames = st.iterator.map(_.toString)
            .filter(f => f.startsWith("org.apache.spark") ||
              f.startsWith("graft") || f.startsWith("org.codehaus") ||
              f.startsWith("scala.collection"))
            .take(2).mkString(" <- ")
          val key = if (frames.isEmpty) st.headOption.map(_.toString).getOrElse("?") else frames
          hist.merge(key, 1, (a, b) => a + b)
          Thread.sleep(25)
        }
      }, "graft-stack-sampler")
      sampler.setDaemon(true)
      val t0 = System.nanoTime()
      sampler.start()
      SparkEntry.queries(name)(spark, sfDir).count()
      live = false
      val total = (System.nanoTime() - t0) / 1e9
      sampler.join(200)
      println(f"%n=== $name: $total%.2fs total ===")
      import scala.jdk.CollectionConverters._
      hist.asScala.toSeq.sortBy(-_._2).take(30).foreach { case (k, n) =>
        println(f"${n * 0.025}%6.2fs  $k")
      }
    }
    Graft.releaseCaches()
    spark.stop()
  }
}
