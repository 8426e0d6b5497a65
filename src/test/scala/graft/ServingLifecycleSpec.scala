package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Ann
import graft.streaming.IndexStreams

/** The full production serving loop over ONE stream-maintained layered
  * generation root — seed build → streamed growth → artifact publish →
  * serve → GC → publish again — composed end-to-end from the tested
  * pieces, at a `file:`-scheme root. What this pins beyond the unit
  * specs: publish FAITHFULNESS (the artifact walk equals the direct
  * in-session walk over the same generation state), GC NEUTRALITY (a
  * fresh publish from the pruned root serves byte-identical rows — the
  * compacted member chain reconstructs the exact serving state), and
  * CROSS-TIER composition (the same root's layer-0 edges feed the int8
  * quantized tier). The driver-ranked walks' two neighbour sources —
  * the in-process snapshot of a loaded index and the Spark-probe source
  * (one probe job per round) — must return the same rows as each other
  * and as the distributed rounds, across the serving matrix and its
  * corners, and the snapshot source must run no Spark job per round.
  */
class ServingLifecycleSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("seed -> stream -> publish -> serve -> GC -> publish: one root serves every tier") {
    val lroot = java.nio.file.Files.createTempDirectory("graft-life").toString
    val root = "file:" + lroot
    val inDir = java.nio.file.Files.createTempDirectory("graft-lifein").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-lifeck").toString
    val e = Graft.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val n = e.count()
    val (cut1, cut2) = (n * 3 / 5, n * 4 / 5)

    // 1. seed generation: layered build over the first 3/5
    Ann.hnswStoredGraph(spark, dir, cut1, 4, 3)
      .select(col("layer"), col("src"), col("dst"), col("cos"), col("rn"))
      .write.parquet(s"$root/gen=0/edges")
    e.filter(col("vec_id") < cut1).write.parquet(s"$root/gen=0/members")

    // 2. stream two microbatches of arrivals into gen=1, gen=2
    val q = IndexStreams.maintainHnswIndex(
      IndexStreams.fromParquetDir(spark, inDir, e), root, ckpt)
    try {
      e.filter(col("vec_id") >= cut1 && col("vec_id") < cut2)
        .coalesce(1).write.mode("append").parquet(inDir)
      q.processAllAvailable()
      e.filter(col("vec_id") >= cut2)
        .coalesce(1).write.mode("append").parquet(inDir)
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"maintenance stream failed: ${q.exception}")
    } finally q.stop()
    assert(IndexStreams.currentGen(spark, root) === 2L)

    // 3. publish the layered artifact from the maintained root
    val members = IndexStreams.membersThrough(spark, root, 2L)
    val edges = spark.read.parquet(s"$root/gen=2/edges")
    val out1 = "file:" + java.nio.file.Files.createTempDirectory("graft-lifeart").toString
    val (adj, entry) = Ann.publishHnswGen(spark, members, edges, out1)
    val queries = Ann.graphSearchQueries(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Double)] =
      df.select("q_id", "rn", "vec_id", "score").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2)).toSeq
    val ml = entry.agg(max(col("level"))).collect().head.getLong(0)
    val served = rows(Ann.hnswWalkDriverOver(spark, adj, entry, ml, queries, 4, 32, 8))

    // publish FAITHFULNESS: the artifact walk equals the direct
    // in-session walk over the same generation state (adjacency built
    // from members+edges without the write/read round-trip)
    val en = members.select(col("vec_id").as("dst"), col("embedding").as("dv"),
      graft.functions.VectorOps.norm(col("embedding")).as("dnrm"))
    val directAdj = edges.select(col("layer"), col("src"), col("dst"))
      .union(edges.select(col("layer"), col("dst").as("src"), col("src").as("dst")))
      .distinct().join(en, "dst")
      .select(col("layer"), col("src"), col("dst"), col("dv"), col("dnrm"))
    val direct = rows(Ann.hnswWalkDriverOver(spark, directAdj,
      entry.select(col("node"), col("nv")), ml, queries, 4, 32, 8))
    assert(served.nonEmpty && served === direct,
      "published artifact diverged from the direct in-session walk")
    // the serving contract: every query gets its full top-k
    assert(served.groupBy(_._1).forall(_._2.size === 4))

    // 4. GC the root, then publish AGAIN: the compacted chain must
    // reconstruct the exact serving state (byte-identical artifact rows)
    val base = IndexStreams.pruneGenerations(spark, root, keep = 2)
    assert(base === 1L && !new java.io.File(s"$lroot/gen=0").exists())
    val out2 = "file:" + java.nio.file.Files.createTempDirectory("graft-lifeart2").toString
    val (adj2, entry2) = Ann.publishHnswGen(spark,
      IndexStreams.membersThrough(spark, root, 2L),
      spark.read.parquet(s"$root/gen=2/edges"), out2)
    val ml2 = entry2.agg(max(col("level"))).collect().head.getLong(0)
    val served2 = rows(Ann.hnswWalkDriverOver(spark, adj2, entry2, ml2, queries, 4, 32, 8))
    assert(served2 === served,
      "post-GC publish diverged — the compacted chain lost serving state")

    // 5. CROSS-TIER: the same root's layer-0 edges are the flat NSW
    // graph; quantize-publish the int8 tier from the identical state
    val out3 = "file:" + java.nio.file.Files.createTempDirectory("graft-lifeart3").toString
    val (adj8, entry8) = Ann.publishInt8Gen(spark,
      IndexStreams.membersThrough(spark, root, 2L),
      spark.read.parquet(s"$root/gen=2/edges")
        .filter(col("layer") === 0L).select(col("src"), col("dst")), out3)
    val served8 = rows(Ann.graphSearchInt8DriverOver(spark, adj8, entry8, queries, 4, 32, 8))
    assert(served8.nonEmpty && served8.groupBy(_._1).forall(_._2.size === 4))
    // the quantized tier serves the whole grown corpus
    assert(adj8.select("src").distinct().count() === n)
    info(s"one streamed root served the layered walk (${served.size} rows, " +
      s"identical across GC) and the int8 tier (${served8.size} rows) over all $n vectors")
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Long, Double)] =
    df.select("q_id", "rn", "vec_id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq

  /** Publish the layered generation of `members` (edges restricted to
    * them) under `root`; returns (adjacency, entry, max level).
    */
  private def publish(members: DataFrame, root: String) = {
    val ids = members.select(col("vec_id"))
    val edges = Ann.hnswGraph(spark, dir)
      .join(ids.withColumnRenamed("vec_id", "src"), "src")
      .join(ids.withColumnRenamed("vec_id", "dst"), "dst")
    val (adj, entry) = Ann.publishHnswGen(spark, members, edges, root)
    (adj, entry, entry.agg(max(col("level"))).collect().head.getLong(0))
  }

  test("a generation's snapshot: built once under racing first walks, rebuilt after release") {
    val members = Graft.embeddings(spark, dir).select(col("vec_id"), col("embedding"), col("label"))
    val root = "file:" + java.nio.file.Files.createTempDirectory("graft-snap").toString
    val (adj, entry, ml) = publish(members, root)
    val queries = Ann.graphSearchQueries(spark, dir)
    val qrows = queries.collect()
    val q = spark.createDataFrame(java.util.Arrays.asList(qrows: _*), queries.schema)
    def walk() = rows(Ann.hnswWalkDriverOver(spark, adj, entry, ml, q, 4, 32, 8))

    // 4 threads make the FIRST walk over the generation at once
    val before = Ann.snapshotBuilds.get()
    val go = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val results = try {
      val fs = (1 to 4).map(_ => pool.submit(new java.util.concurrent.Callable[Seq[(Long, Long, Long, Double)]] {
        def call() = { go.await(); walk() }
      }))
      go.countDown()
      fs.map(_.get())
    } finally pool.shutdown()
    assert(Ann.snapshotBuilds.get() - before === 1L, "racing first walks built more than one snapshot")
    assert(results.distinct.size === 1 && results.head.nonEmpty)
    assert(results.head === rows(Ann.hnswWalkDriverOver(spark, adj, entry, ml, q, 4, 32, 8,
      probe = true)), "snapshot walk diverged from the probe source")

    // a warm walk reuses it; after releaseCaches the next walk rebuilds
    walk()
    assert(Ann.snapshotBuilds.get() - before === 1L)
    Graft.releaseCaches()
    assert(walk() === results.head)
    assert(Ann.snapshotBuilds.get() - before === 2L, "releaseCaches kept the snapshot")
  }

  test("a republished generation is served from its own snapshot") {
    val members = Graft.embeddings(spark, dir).select(col("vec_id"), col("embedding"), col("label"))
    val root = "file:" + java.nio.file.Files.createTempDirectory("graft-repub").toString
    val queries = Ann.graphSearchQueries(spark, dir)
    val (adj1, entry1, ml1) = publish(members, root)
    val first = rows(Ann.hnswWalkDriverOver(spark, adj1, entry1, ml1, queries, 4, 32, 8))
    // the same root republished with the odd ids gone
    val (adj2, entry2, ml2) = publish(members.filter(col("vec_id") % 2 === 0), root)
    val second = rows(Ann.hnswWalkDriverOver(spark, adj2, entry2, ml2, queries, 4, 32, 8))
    assert(first.exists(_._3 % 2 == 1), "the first generation never served an odd id")
    assert(second.nonEmpty && second.forall(_._3 % 2 == 0),
      "the republished generation served a node it no longer holds")
    assert(second === rows(Ann.hnswWalkDriverOver(spark, adj2, entry2, ml2, queries, 4, 32, 8,
      probe = true)))
  }

  /** `n` corpus vectors as a query batch (every 7th, residue 3). */
  private def queries(n: Int): DataFrame = Graft.embeddings(spark, dir)
    .filter(pmod(col("vec_id"), lit(7L)) === 3L)
    .orderBy(col("vec_id")).limit(n)
    .select(col("vec_id").as("q_id"), col("embedding").as("qv"))

  /** One query as a local frame: collecting it runs no job. */
  private def localQuery(id: Long): DataFrame = {
    import spark.implicits._
    val v = Graft.embeddings(spark, dir).filter(col("vec_id") === id)
      .select("embedding").head().getSeq[Float](0)
    Seq((id, v)).toDF("q_id", "qv")
  }

  private def flatCents(d: String): DataFrame = Graft.embeddings(spark, d)
    .filter(col("vec_id") < Ann.sqrtFanout(Graft.tableRows(spark, d, "embeddings")))
    .select(col("vec_id").as("node"), col("embedding").as("nv"), col("label").as("nlabel"))

  /** Each serving walk over the corpus `d` as (distThreshold, probe) => rows. */
  private def matrix(q: DataFrame, d: String = dir): Seq[(String, (Int, Boolean) => DataFrame)] = Seq(
    "flat" -> ((t, p) => Ann.beamSearchBatch(spark, Ann.graphSearchIndex(spark, d), flatCents(d),
      q, 4, 32, 8, distThreshold = t, probe = p)),
    "flat-filtered" -> ((t, p) => Ann.graphSearchFilteredBatch(spark, d, q, 4, 32, 8,
      byId = false, Ann.GraphSearchFilterMod, Ann.GraphSearchFilterRes, t, p)),
    "layered" -> ((t, p) => Ann.hnswSearchBatch(spark, d, Ann.hnswGraph(spark, d),
      "hnsw_search_index", q, 4, 32, 8, t, p)),
    "layered-filtered" -> ((t, p) => Ann.hnswSearchFilteredBatch(spark, d, q, 4, 32, 8, t, p)),
    "int8" -> ((t, p) => Ann.graphSearchInt8Batch(spark, d, q, 4, 32, 8, t, p)),
    "int8-filtered" -> ((t, p) => Ann.graphSearchInt8FilteredBatch(spark, d, q, 4, 32, 8, t, p)))

  test("every walk: snapshot source == Spark-probe source == distributed path") {
    // the same vectors with every label moved off the keyed filter's
    // residue: the filter passes no node of this corpus
    val noPass = tempSfDir("embeddings" -> Graft.embeddings(spark, dir).withColumn("label",
      when(pmod(col("label"), lit(Ann.GraphSearchFilterMod)) === Ann.GraphSearchFilterRes,
        col("label") + 1).otherwise(col("label")).cast("int")))
    Seq(dir, noPass).foreach { d =>
      matrix(queries(30), d).foreach { case (name, walk) =>
        val snap = rows(walk(Int.MaxValue, false))
        val probe = rows(walk(Int.MaxValue, true))
        val dist = rows(walk(0, false))
        if (d == noPass && name.endsWith("filtered"))
          assert(snap.isEmpty, s"$name: a filter no node passes returned rows")
        else assert(snap.nonEmpty, name)
        assert(snap === probe, s"$name: snapshot source diverged from the probe source")
        assert(snap === dist, s"$name: snapshot source diverged from the distributed rounds")
      }
    }
  }

  test("selective filter: arrival nodes that fail it, both sources agree") {
    val q = queries(30)
    val gen = Ann.writtenHnswGen(spark, dir)
    val (entry, ml) = Ann.hnswEntryState(spark, dir)
    // the descent's arrival per query: the layered walk with no base round
    val arrivals = rows(Ann.hnswWalkDriverOver(spark, gen, entry, ml, q, 1, 1, 0)).map(_._3)
    // a 1% id filter: most arrivals fail it, so the accumulator starts empty
    assert(arrivals.count(_ % 100 != 2) > arrivals.size / 2)
    def walk(p: Boolean) = rows(Ann.hnswWalkFilteredDriver(spark, dir, gen, q, 4, 32, 8,
      100L, 2L, byId = true, probe = p))
    val snap = walk(false)
    assert(snap.nonEmpty && snap.forall(_._3 % 100 == 2))
    assert(snap === walk(true))
    // the distributed walk seeds its accumulator by the corpus join
    assert(snap === rows(Ann.walkBatch(spark, gen, entry, Ann.FloatCos, q, 4, 32, 8, Some(ml),
      Some(Ann.WalkFilter(dir, byId = true, 100L, 2L)), distThreshold = 0, probe = false)))
  }

  test("an arrival node absent from the snapshot payload keeps the corpus lookup") {
    val q = queries(30)
    val (entry, ml) = Ann.hnswEntryState(spark, dir)
    val entryIds = entry.select("node").collect().map(_.getLong(0))
    // no upper-layer edges and no edge INTO an entry node: the descent
    // stays at its entry node, which no payload row carries
    val cut = Ann.writtenHnswGen(spark, dir)
      .filter(col("layer") === 0L && !col("dst").isin(entryIds.toSeq: _*))
    val arrivals = rows(Ann.hnswWalkDriverOver(spark, cut, entry, ml, q, 1, 1, 0)).map(_._3)
    assert(arrivals.forall(entryIds.contains))
    // a residue some arrival's label passes, so the lookup decides a seed
    val label = Graft.embeddings(spark, dir).filter(col("vec_id") === arrivals.head)
      .select(col("label").cast("long")).head().getLong(0)
    val res = Math.floorMod(label, Ann.GraphSearchFilterMod)
    def walk(p: Boolean) = rows(Ann.hnswWalkFilteredDriver(spark, dir, cut, q, 4, 32, 8,
      Ann.GraphSearchFilterMod, res, probe = p))
    val snap = walk(false)
    assert(snap.nonEmpty)
    assert(snap === walk(true))
    assert(snap === rows(Ann.walkBatch(spark, cut, entry, Ann.FloatCos, q, 4, 32, 8, Some(ml),
      Some(Ann.WalkFilter(dir, byId = false, Ann.GraphSearchFilterMod, res)),
      distThreshold = 0, probe = false)))
  }

  test("a zero-norm query fails on every path, as the probe's division by zero does") {
    import spark.implicits._
    val zero = Seq((999999L, Seq.fill(64)(0.0f))).toDF("q_id", "qv")
    matrix(zero).filter(c => c._1 == "flat" || c._1 == "int8").foreach { case (name, walk) =>
      Seq((Int.MaxValue, false), (Int.MaxValue, true), (0, false)).foreach { case (t, p) =>
        intercept[Exception](rows(walk(t, p)))
      }
      info(s"$name: snapshot, probe and distributed paths all fail")
    }
  }

  /** Counts the jobs submitted from the test thread inside
    * [[jobsDuring]] (a local property tags them, so jobs of any other
    * thread are not counted); a marker job flushes the listener bus, so
    * the count is read after every such job was delivered.
    */
  private class JobCounter extends SparkListener {
    private val (tag, marker) = ("graft.spec.counted", "graft.spec.marker")
    val jobs = new AtomicInteger()
    private var seen = Set.empty[String]
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).foreach { p =>
        Option(p.getProperty(marker)).foreach(m => synchronized { seen += m; notifyAll() })
        if (p.getProperty(tag) != null) jobs.incrementAndGet()
      }
    private def flush(): Unit = {
      val token = java.util.UUID.randomUUID().toString
      val sc = spark.sparkContext
      sc.setLocalProperty(marker, token)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(marker, null)
      synchronized {
        val deadline = System.currentTimeMillis() + 30000
        while (!seen(token) && System.currentTimeMillis() < deadline) wait(100)
        assert(seen(token), "listener bus did not deliver the marker job")
      }
    }
    def jobsDuring(body: => Unit): Int = {
      val before = jobs.get()
      spark.sparkContext.setLocalProperty(tag, "1")
      try body finally spark.sparkContext.setLocalProperty(tag, null)
      flush()
      jobs.get() - before
    }
  }

  test("a Q=1 walk over a loaded generation runs no job per round") {
    val (fa, fe) = Ann.writtenGraphGen(spark, dir)
    val ha = Ann.writtenHnswGen(spark, dir)
    val (he, ml) = Ann.hnswEntryState(spark, dir)
    val (ia, ie) = Ann.writtenInt8Gen(spark, dir)
    val (m, r) = (Ann.GraphSearchFilterMod, Ann.GraphSearchFilterRes)
    val walks: Seq[(String, DataFrame => DataFrame)] = Seq(
      "flat" -> (q => Ann.beamSearchBatch(spark, fa, fe, q, 4, 32, 8)),
      "flat-filtered" -> (q => Ann.graphSearchFilteredDriverOver(spark, dir, fa, fe, q, 4, 32, 8,
        byId = false, m, r)),
      "layered" -> (q => Ann.hnswWalkDriverOver(spark, ha, he, ml, q, 4, 32, 8)),
      "layered-filtered" -> (q => Ann.hnswWalkFilteredDriver(spark, dir, ha, q, 4, 32, 8, m, r)),
      "int8" -> (q => Ann.graphSearchInt8DriverOver(spark, ia, ie, q, 4, 32, 8)),
      "int8-filtered" -> (q => Ann.graphSearchInt8FilteredDriverOver(spark, dir, ia, ie, q,
        4, 32, 8, m, r)))
    val ids = Seq(3L, 10L, 17L, 24L)
    val qs = ids.map(localQuery)
    val counter = new JobCounter
    spark.sparkContext.addSparkListener(counter)
    try {
      walks.foreach { case (name, walk) =>
        walk(qs.head).collect() // loads the snapshot
        val jobs = counter.jobsDuring(qs.tail.foreach(q => assert(walk(q).collect().nonEmpty)))
        assert(jobs <= qs.tail.size, s"$name: $jobs jobs for ${qs.tail.size} requests")
        info(s"$name: $jobs jobs over ${qs.tail.size} requests")
      }
      // the listener sees the probe source's per-round jobs
      val probeJobs = counter.jobsDuring(
        Ann.beamSearchBatch(spark, fa, fe, qs.head, 4, 32, 8, probe = true).collect())
      assert(probeJobs >= 2, s"probe source ran $probeJobs jobs")
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  test("a distributed walk runs no more jobs than the per-kind executors it replaced") {
    // the jobs this batch ran when each kind had its own distributed
    // executor, before they became one (Spark's adaptive execution
    // submits a job per query stage)
    val bound = Map("flat" -> 69, "flat-filtered" -> 106, "layered" -> 125,
      "layered-filtered" -> 162, "int8" -> 72, "int8-filtered" -> 108)
    val counter = new JobCounter
    spark.sparkContext.addSparkListener(counter)
    try {
      matrix(queries(30)).foreach { case (name, walk) =>
        walk(0, false).collect() // builds the memoized index and filter statistics
        val jobs = counter.jobsDuring(walk(0, false).collect())
        assert(jobs <= bound(name), s"$name: $jobs jobs, above the ${bound(name)} it ran before")
        info(s"$name: $jobs jobs")
      }
    } finally spark.sparkContext.removeSparkListener(counter)
  }
}
