package graft

import org.apache.spark.sql.functions._
import graft.operators.Ann

/** Round-15 depth work: the serving walk's Q-routed execution. The beam
  * rounds have two physical shapes — driver-ranked state for a small
  * serving request, fully distributed rounds for a batch-serving job —
  * and they must be VALUE-IDENTICAL: same scoring expression, same
  * (score desc, node) total order, same distinct-then-cut semantics.
  * Routing changes the plan, never the result.
  */
class Round15OpsSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def servingParts(): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val undE = Ann.graphSearchIndex(spark, dir)
    val cents = Graft.embeddings(spark, dir)
      .filter(col("vec_id") < Ann.sqrtFanout(Graft.tableRows(spark, dir, "embeddings")))
      .select(col("vec_id").as("node"), col("embedding").as("nv"))
    (undE, cents)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Double)] =
    df.select("q_id", "rn", "vec_id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq

  test("routed beam search: distributed rounds equal the driver-ranked path") {
    val (undE, cents) = servingParts()
    // a batch bigger than the keyed 20-query request: every 7th vector
    // (residue 3), 60 queries — large enough that the distributed path
    // does real multi-partition work, small enough to stay a unit test
    val queries = Graft.embeddings(spark, dir)
      .filter(pmod(col("vec_id"), lit(7L)) === 3L)
      .orderBy(col("vec_id")).limit(60)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val driver = rows(Ann.beamSearchBatch(spark, undE, cents, queries, 4, 32, 8,
      distThreshold = Int.MaxValue))
    val dist = rows(Ann.beamSearchBatch(spark, undE, cents, queries, 4, 32, 8,
      distThreshold = 0))
    assert(driver.nonEmpty)
    assert(dist === driver,
      "distributed beam rounds diverged from the driver-ranked walk")
    // the router itself: at the default threshold this 60-query batch
    // takes the driver path (60 <= GraphSearchDistQ = 8192) and still
    // produces the same rows
    val routed = rows(Ann.beamSearchBatch(spark, undE, cents, queries, 4, 32, 8))
    assert(routed === driver)
    info(s"${driver.map(_._1).distinct.size} queries, ${driver.size} result rows, paths identical")
  }

  test("layered insert: untouched pass-through, per-layer recall near rebuild, descent serves the merge") {
    val vecs: Map[Long, Array[Float]] =
      Graft.embeddings(spark, dir).select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cosR(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val (x, y) = (a(i).toDouble, b(i).toDouble)
        d += x * y; na += x * x; nb += y * y; i += 1
      }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val n = vecs.size.toLong
    val split = n * Ann.InsertSplitNum / Ann.InsertSplitDen
    val levels = Ann.hnswLevels(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val merged = Ann.hnswGraphInsert(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    val stored = Ann.hnswStoredGraph(spark, dir, split, 4, 3)
      .select("layer", "src", "dst", "cos", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    val mByKey = merged.groupBy(t => (t._1, t._2))
    val sByKey = stored.groupBy(t => (t._1, t._2))
    // every (node, layer <= its level) has an edge list, out-degree <= 4,
    // for batch nodes up to the stored hierarchy's height
    val maxStoredLayer = stored.map(_._1).max
    val expectKeys = vecs.keys.flatMap(v =>
      (0L to math.min(levels(v), maxStoredLayer)).map(l => (l, v))).toSet
    assert(mByKey.keySet === expectKeys)
    mByKey.values.foreach(es => assert(es.size <= 4))
    // untouched (layer, src) keep bit-identical rows; touched never worsen
    var untouchedN = 0; var repairedN = 0
    for ((key, se) <- sByKey) {
      val me = mByKey(key)
      if (me.toSet == se.toSet) untouchedN += 1
      else {
        assert(me.map(_._4).sum >= se.map(_._4).sum - 1e-9, s"touched $key got WORSE")
        repairedN += 1
      }
    }
    assert(untouchedN > 0 && repairedN > 0)
    // per-layer new-node edge recall vs the exact in-layer top-4, and the
    // same for the full rebuild — insert must land within 0.05 per layer
    // (the layered twin of the flat insert's 0.02 bound; upper layers are
    // thin at this sf so the tolerance is looser)
    val rebuild = Ann.hnswGraph(spark, dir)
      .select("layer", "src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).groupBy(t => (t._1, t._2))
    val newSrcs = (split until n).toSeq
    for (l <- 0L to math.min(2L, maxStoredLayer)) {
      val members = vecs.keys.filter(v => levels(v) >= l).toSet
      val lsrcs = newSrcs.filter(members)
      if (lsrcs.nonEmpty) {
        def recallOf(edges: Long => Set[Long]): Double = {
          val hits = lsrcs.map { q =>
            val exact = (members - q).toSeq
              .map(id => (id, cosR(vecs(id), vecs(q))))
              .sortBy { case (id, c) => (-c, id) }.take(4).map(_._1).toSet
            (edges(q) & exact).size
          }.sum
          hits.toDouble / (4.0 * lsrcs.size)
        }
        val ins = recallOf(q => mByKey.getOrElse((l, q), Array.empty).map(_._3).toSet)
        val reb = recallOf(q => rebuild.getOrElse((l, q), Array.empty).map(_._3).toSet)
        info(f"layer $l: insert recall@4 $ins%.3f vs rebuild $reb%.3f (${lsrcs.size} new nodes)")
        assert(ins >= reb - 0.05, f"layer $l insert recall $ins%.3f not within 0.05 of rebuild $reb%.3f")
      }
    }
    // the layered DESCENT serves the merged generation: same machinery,
    // merged edge frame — hits must come back for every query with the
    // walk's deterministic shape (rn dense 1..k)
    val served = Ann.hnswSearchOver(spark, dir,
        Ann.hnswGraphInsert(spark, dir).select("layer", "src", "dst", "cos", "rn"),
        "hnsw_search_index_merged")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val qids = served.map(_._1).distinct
    assert(qids.length === Ann.GraphSearchQueryCount)
    assert(served.length === qids.length * Ann.GraphSearchK)
    qids.foreach { q =>
      assert(served.filter(_._1 == q).map(_._2).sorted.toSeq ===
        (1L to Ann.GraphSearchK.toLong))
    }
    // serving quality over the merged index: recall@4 vs exact, within
    // 0.1 of serving the full rebuild (the insert's documented trade)
    def servedRecall(rows: Array[(Long, Long, Long, Double)]): Double = {
      val hits = rows.map(_._1).distinct.map { q =>
        val exact = (vecs - q).toSeq
          .map { case (id, v) => (id, cosR(v, vecs(q))) }
          .sortBy { case (id, c) => (-c, id) }.take(4).map(_._1).toSet
        (rows.filter(_._1 == q).map(_._3).toSet & exact).size
      }.sum
      hits.toDouble / (4.0 * rows.map(_._1).distinct.length)
    }
    val rebuilt = Ann.hnswSearch(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val sIns = servedRecall(served)
    val sReb = servedRecall(rebuilt)
    info(f"descent recall@4 over merged $sIns%.3f vs rebuild $sReb%.3f")
    assert(sIns >= sReb - 0.1,
      f"serving the merged index lost too much recall: $sIns%.3f vs $sReb%.3f")
  }

  test("distributed rounds reuse the index partitioning: only the frontier exchanges") {
    // the scale contract of Ann.distWalk: the 2kN-row index is
    // pre-partitioned by src ONCE (persisted with its hash partitioning
    // intact), so each of the 8 rounds exchanges only the Q·beam
    // frontier — at 100 TB the index never reshuffles per round. This
    // pins the plan shape that contract rests on.
    val (undE, _) = servingParts()
    val idx = undE.repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      idx.count() // materialize the cache
      val state = Graft.embeddings(spark, dir).limit(64)
        .select(col("vec_id").as("q_id"), col("vec_id").as("node"))
      val joined = idx.join(state, col("src") === col("node"))
      val plan = joined.queryExecution.executedPlan
      def exchanges(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike] = p match {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
          e +: e.children.flatMap(exchanges)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          exchanges(a.executedPlan)
        case other => other.children.flatMap(exchanges)
      }
      def hasCacheScan(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p.collectFirst {
          case _: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => true
        }.nonEmpty
      // walk to the join, then: the index child must carry NO exchange
      // above its cache scan; at most the state child exchanges
      val join = plan.collectFirst {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }.orElse(plan.collectFirst {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a
      }.flatMap(_.executedPlan.collectFirst {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }))
      assert(join.nonEmpty, s"no join found in:\n$plan")
      val Seq(left, right) = join.get.children
      val idxSide = if (hasCacheScan(left)) left else right
      assert(hasCacheScan(idxSide), s"no cache scan under either join child:\n$plan")
      assert(exchanges(idxSide).isEmpty,
        s"the persisted index side must NOT re-exchange per round:\n$idxSide")
    } finally idx.unpersist(false)
  }

  test("routed beam search: keyed 20-query batch is path-independent too") {
    val (undE, cents) = servingParts()
    val queries = Graft.embeddings(spark, dir)
      .filter(pmod(col("vec_id"), lit(25L)) === 7L)
      .orderBy(col("vec_id")).limit(Ann.GraphSearchQueryCount)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val driver = rows(Ann.beamSearchBatch(spark, undE, cents, queries, 4, 32, 8,
      distThreshold = Int.MaxValue))
    val dist = rows(Ann.beamSearchBatch(spark, undE, cents, queries, 4, 32, 8,
      distThreshold = 0))
    assert(dist === driver)
    // and the keyed operator (which routes internally) agrees with both
    val keyed = rows(Ann.graphSearch(spark, dir))
    assert(keyed === driver)
  }
}
