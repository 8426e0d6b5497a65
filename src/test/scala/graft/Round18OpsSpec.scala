package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import graft.operators.{Ann, Dedup}

/** Round-18 mandate evidence: the ExactSubstr keeper rule without the
  * 10⁶-position bound, the hashed gram shuffle key, and maxSimPruned's
  * un-forced candidate broadcast.
  */
class Round18OpsSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  private val dir = "/root/testdata/sf0.001"

  test("substringCut keeper is scale-independent: a >10^6-token doc keeps canonical rank") {
    // the r17 keeper encoding min(doc_id*1e6 + pos) mis-orders once a
    // position crosses 1e6: here doc 2's shared span sits at pos
    // 1,500,001 (old key 3,500,001) while doc 3's sits at pos 3 (old
    // key 3,000,003) — the OLD rule would crown doc 3 keeper and cut
    // doc 2; the struct-min total order (2, 1500001) < (3, 3) keeps
    // doc 2 canonical, independent of document length.
    val L = 1500000
    val shared = (0 until 8).map(i => s"s$i")
    val doc2 = ((0 until L).map(i => s"a$i") ++ shared).mkString(" ")
    val doc3 = (Seq("b0", "b1") ++ shared).mkString(" ")
    import spark.implicits._
    val sf = tempSfDir("documents" -> Seq((2L, doc2), (3L, doc3)).toDF("doc_id", "text"))
    val out = Dedup.substringCut(spark, sf, 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    val (n2, rem2, _) = out(2L)
    assert(n2 === L + 8L)
    assert(rem2 === 0L, "the canonical (lowest doc_id) occurrence must never be cut")
    val (n3, rem3, kept3) = out(3L)
    assert(n3 === 10L && rem3 === 8L)
    assert(kept3 === "b0 b1", s"non-keeper span must be cut, got: $kept3")
  }

  test("hash-keyed gram-shuffle variants equal the string-keyed defaults") {
    // the 128-bit gid variant replaces the ~50-byte gram string on the
    // corpus's largest exchange for network-bound fleets (measured
    // 1.7x fewer exchange bytes at 100x, slower locally — the default
    // stays string-keyed); grouped results must be identical (collision
    // bound 2^-128) — checked on the real corpus for account and cut
    val dupH = Dedup.substringDupHashKeyed(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val dupS = Dedup.substringDup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(dupH === dupS, "hash-keyed substringDup diverged from the string-keyed route")
    assert(dupH.nonEmpty)
    val cutH = Dedup.substringCutHashKeyed(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val cutS = Dedup.substringCut(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(cutH === cutS, "hash-keyed substringCut diverged from the string-keyed route")
    assert(cutH.nonEmpty)
  }

  test("decontaminate flags exactly the training docs sharing a 13-gram with the eval slice") {
    // planted corpus: doc 0 IS the eval slice (0 % 50 == 0); doc 1
    // embeds doc 0's 13-token window verbatim mid-document; doc 2 is
    // clean but long enough to emit grams. Only doc 1 may be flagged,
    // with exactly the positions whose window matches.
    val evalSpan = (0 until 13).map(i => s"e$i")
    val doc0 = (evalSpan ++ Seq("tail0")).mkString(" ")
    val doc1 = (Seq("pre0", "pre1") ++ evalSpan ++ Seq("post0")).mkString(" ")
    val doc2 = (0 until 20).map(i => s"c$i").mkString(" ")
    import spark.implicits._
    val sf = tempSfDir("documents" ->
      Seq((0L, doc0), (1L, doc1), (51L, doc2)).toDF("doc_id", "text"))
    val out = Dedup.decontaminate(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(!out.contains(0L), "the eval slice itself must not be reported")
    // doc 1: 16 tokens -> 4 positions; only pos 3 (the verbatim span) hits
    assert(out(1L) === ((4L, 1L, 1L)))
    assert(out(51L) === ((8L, 0L, 0L)))
  }

  test("decontaminateCut excises exactly the leaked spans, keeping clean text") {
    // span excision, not document dropping: doc 1 embeds the eval
    // 13-gram mid-document and must lose exactly those 13 tokens
    // (prefix/suffix retained); a fully-contaminated doc drops out; a
    // clean doc is rewritten verbatim; the eval doc is never reported
    val evalSpan = (0 until 13).map(i => s"e$i")
    val doc0 = (evalSpan ++ Seq("tail0")).mkString(" ")
    val doc1 = (Seq("pre0", "pre1") ++ evalSpan ++ Seq("post0")).mkString(" ")
    val doc2 = evalSpan.mkString(" ") // fully contaminated
    val doc3 = (0 until 20).map(i => s"c$i").mkString(" ")
    import spark.implicits._
    val sf = tempSfDir("documents" ->
      Seq((0L, doc0), (1L, doc1), (2L, doc2), (51L, doc3)).toDF("doc_id", "text"))
    val out = Dedup.decontaminateCut(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(!out.contains(0L), "the eval slice itself must not be rewritten")
    assert(out(1L) === ((16L, 13L, "pre0 pre1 post0")),
      "exactly the leaked span must be excised")
    assert(!out.contains(2L), "a fully contaminated document drops out")
    assert(out(51L) === ((20L, 0L, doc3)), "clean text must be retained verbatim")
  }

  test("decontaminateAgainst takes an explicit benchmark table, id collisions harmless") {
    // the production entry point: a real eval SUITE as its own frame.
    // The eval doc deliberately shares doc_id 1 with a training doc —
    // the eval side contributes only its gram census, never output
    // rows, so the collision must not leak or suppress anything.
    val evalSpan = (0 until 13).map(i => s"e$i")
    import spark.implicits._
    val evalDocs = Seq((1L, evalSpan.mkString(" "))).toDF("doc_id", "text")
    val train = Seq(
      (1L, (Seq("pre0", "pre1") ++ evalSpan ++ Seq("post0")).mkString(" ")),
      (2L, (0 until 20).map(i => s"c$i").mkString(" "))).toDF("doc_id", "text")
    val out = Dedup.decontaminateAgainst(train, evalDocs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.keySet === Set(1L, 2L))
    assert(out(1L) === ((4L, 1L, 1L)))
    assert(out(2L) === ((8L, 0L, 0L)))
    val cut = Dedup.decontaminateCutAgainst(train, evalDocs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(cut(1L) === ((16L, 13L, "pre0 pre1 post0")))
    assert(cut(2L)._2 === 0L)
  }

  test("graphConnectivity is a monotone census reaching the full corpus") {
    val out = Ann.graphConnectivity(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(out.map(_._1) === (0L to Ann.GraphConnRounds.toLong).toArray)
    val n = out.head._3
    // round 0 is the entry set; reach is monotone nondecreasing, never
    // exceeds the corpus, and micros are consistent with the counts
    assert(out.head._2 === Ann.sqrtFanout(n))
    out.sliding(2).foreach { case Array(a, b) => assert(b._2 >= a._2); case _ => () }
    out.foreach { case (_, r, t, m) =>
      assert(r <= t && m === r * 1000000L / t)
    }
    // the sf0.001 serving graph is fully connected within the census
    // horizon — the healthy-index baseline the metric exists to monitor
    assert(out.last._2 === n, s"expected full reach, got ${out.last._2}/$n")
  }

  test("a census whose adjacency names a node outside the corpus fails at its cap") {
    import spark.implicits._
    // corpus {0, 1, 2}; node 99 is not in it, so round 1 reaches 4 of a
    // 3-node corpus — the early fill would report 133% reach
    val und = Seq((0L, 1L), (0L, 2L), (0L, 99L)).toDF("src", "dst")
    val entries = Seq(0L).toDF("node")
    val e = intercept[IllegalStateException](Ann.censusCountsOver(und, entries, 4, cap = 3L))
    assert(e.getMessage.contains("cap of 3"), e.getMessage)
    // inside the corpus the same census fills at the cap
    val inside = Ann.censusCountsOver(und.filter(col("dst") =!= 99L), entries, 4, cap = 3L)
    assert(inside === Seq((0L, 1L), (1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)))
  }

  test("connectivity census: duplicate-heavy corpus fragments, dedup restores full reach") {
    // the docs/bench_r18_connectivity.md pathology as a pinned planted
    // case, closing the loop between the dedup and ANN families: exact
    // duplicates wire the k-NN graph into per-copy cliques (cos=1.0
    // beats every genuine neighbor), so the census collapses toward
    // entry-set x replica-count; deduplicating BEFORE indexing restores
    // full reach. This is the quantified form of "dedup before index".
    import spark.implicits._
    val base = Graft.embeddings(spark, dir)
      .filter(col("vec_id") < 50)
      .select(col("vec_id"), col("embedding"), col("label"))
    // 10 exact copies of each base vector under offset ids
    val dupCorpus = base.crossJoin(spark.range(10).toDF("rep"))
      .select((col("vec_id") + col("rep") * 50L).as("vec_id"),
        col("embedding"), col("label"))
    val dupDir = tempSfDir("embeddings" -> dupCorpus)
    val dedupDir = tempSfDir("embeddings" -> base)
    def finalReach(d: String): (Long, Long) = {
      val last = Ann.graphConnectivity(spark, d).collect().maxBy(_.getLong(0))
      (last.getLong(1), last.getLong(2))
    }
    val (dupReach, dupN) = finalReach(dupDir)
    val (dedupReach, dedupN) = finalReach(dedupDir)
    assert(dupN === 500L && dedupN === 50L)
    // fragmented: the dup corpus reaches well under half of itself
    // (each entry's neighborhood is dominated by its own copy-clique)
    assert(dupReach < dupN / 2,
      s"expected duplicate-induced fragmentation, reached $dupReach/$dupN")
    // deduplicated: full reach within the same census horizon
    assert(dedupReach === dedupN,
      s"deduped corpus must be fully connected, reached $dedupReach/$dedupN")
  }

  test("connectivityFanout: reach is monotone in entry size and embeds the base census") {
    val out = Ann.connectivityFanout(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byThr = out.groupBy(_._1)
    assert(byThr.size === 3, s"expected 3 fanouts, got ${byThr.keySet}")
    // per fanout: a full 0..R curve, monotone over rounds
    byThr.values.foreach { rows =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (0L to Ann.GraphConnRounds.toLong))
      sorted.sliding(2).foreach { case Array(a, b) => assert(b._3 >= a._3); case _ => () }
    }
    // at every round, a bigger entry set reaches at least as much
    val thrs = byThr.keySet.toSeq.sorted
    for (r <- 0L to Ann.GraphConnRounds.toLong; Seq(lo, hi) <- thrs.sliding(2)) {
      val rl = byThr(lo).find(_._2 == r).get._3
      val rh = byThr(hi).find(_._2 == r).get._3
      assert(rh >= rl, s"round $r: entry $hi reached $rh < entry $lo's $rl")
    }
    // the BASE fanout row reproduces the keyed census exactly
    val base = Ann.graphConnectivity(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    byThr(thrs(1)).foreach { case (_, r, c, _) => assert(base(r) === c) }
  }

  test("maxSimPruned's small candidate set still broadcasts (AQE), un-forced") {
    // the r17 advisory: the candidate-label set is data-dependent, so
    // its broadcast must not be forced (a low-selectivity probe could
    // collect an unbounded frame driver-side). At test scale the set is
    // tiny, so AQE must still pick a broadcast LeftSemi — the fast plan
    // without the unbounded-collect hazard.
    val df = Ann.maxSimPruned(spark, dir)
    df.collect()
    val semis = collectWithSubqueries(df.queryExecution.executedPlan) {
      case j: BroadcastHashJoinExec if j.joinType.sql == "LEFT SEMI" => j
    }
    assert(semis.nonEmpty,
      s"expected an AQE-broadcast LeftSemi for the candidate labels:\n" +
        s"${df.queryExecution.executedPlan}")
  }
}
