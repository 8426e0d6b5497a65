package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, ExprId, Expression, SpecifiedWindowFrame, UnboundedFollowing, UnboundedPreceding, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, CollectList, CollectSet, Complete, Median, Partial, Percentile}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{GlobalLimitExec, SortExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import graft.plans.TopKPerKeyExec

/** Plan lint over the ENTIRE query inventory: no operator may plan a
  * Cartesian product (both sides unbounded — the accidental-cross-join
  * scale killer), a global sort (single-partition ordering; top-k
  * must be TakeOrderedAndProject / TopKPerKey, ordering inside keys a
  * local window sort), or a low-cardinality window over raw input (the
  * round-8/9 scale-killer family: a window/heap partitioned only by a
  * fixed-enum key funnels ~N/|enum| corpus rows through single reduce
  * tasks — see the windowSweep rules below). Runs on the static
  * physical plan of every SparkEntry query, so a regression in any
  * operator's join/order/window shape fails CI before it ships.
  * Partition keys are resolved to their BASE columns by exprId lineage
  * (an alias or cast cannot evade the sweep — the hole ADVICE flagged
  * in ScaleLayoutSpec's literal-name `layer` match).
  *
  * AQE wraps every plan with an exchange in AdaptiveSparkPlanExec — a
  * leaf to plain `plan.collect` — so the lint traverses with
  * AdaptiveSparkPlanHelper.collectWithSubqueries (which descends into
  * adaptive plans AND subquery plans); two canary tests prove the lint
  * actually fires on deliberately bad plans under AQE.
  */
class PlanLintSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  private val dir = "/root/testdata/sf0.001"

  /** The linted plan plus, transitively, every cached subplan: an operator
    * that persist()s an intermediate (pagerank's edge/degree frames) shows
    * an InMemoryTableScanExec leaf whose relation.cachedPlan is the real
    * physical subtree — collectWithSubqueries does not descend into it, so
    * without this expansion a persisted query would be exempt from the lint.
    */
  private def withCachedPlans(plan: SparkPlan): Seq[SparkPlan] = {
    val cached = collectWithSubqueries(plan) { case s: InMemoryTableScanExec =>
      s.relation.cachedPlan
    }
    plan +: cached.flatMap(withCachedPlans)
  }

  /** True when `p` (descending through at most a local Sort) is a shuffle
    * that gathers EVERYTHING onto one partition. This is the plan shape an
    * unpartitioned ranking window leaves: Window <- Sort(local) <-
    * Exchange(SinglePartition) — the sort is local so the `global Sort`
    * lint never fires, but one task still sorts the whole input. The
    * legitimate bounded twin (orderBy.limit(n) then rank) plans
    * TakeOrderedAndProject, whose output is already SinglePartition
    * WITHOUT an exchange node, so it does not trip this.
    */
  private def gathersAllRows(p: SparkPlan): Boolean = p match {
    case s: SortExec => gathersAllRows(s.child)
    case e: ShuffleExchangeExec => e.outputPartitioning == SinglePartition
    case _ => false
  }

  /** Columns whose value set is a fixed enum — bounded regardless of
    * corpus size (a language tag, an order priority, …). NOT here:
    * `label` (embeddings' owning-document id — scales with the corpus;
    * per-label windows are per-doc semantics), `user_id`, `doc_id`.
    */
  private val boundedCols = Set(
    "lang", "source", "event_type", "layer", "level",
    "o_orderpriority", "o_orderstatus", "c_mktsegment",
    "l_returnflag", "l_linestatus", "l_linenumber",
    "p_brand", "p_mfgr", "p_container", "p_type", "n_name", "r_name")

  /** The base (scan-level) column names an expression ultimately reads,
    * chased through Alias chains BY exprId — so `withColumn("k",
    * col("lang"))` then partitionBy("k") still resolves to `lang` (the
    * literal-name matching hole ADVICE flagged in ScaleLayoutSpec).
    */
  private def baseNames(e: Expression, aliases: Map[ExprId, Expression],
                        seen: Set[ExprId]): Set[String] = e match {
    case a: Attribute =>
      aliases.get(a.exprId) match {
        case Some(child) if !seen(a.exprId) => baseNames(child, aliases, seen + a.exprId)
        case _ => Set(a.name)
      }
    case other => other.children.flatMap(baseNames(_, aliases, seen)).toSet
  }

  /** True when every partition key resolves ONLY to bounded-enum base
    * columns: hash(key) then spreads the corpus over |enum| reduce
    * tasks — ~N/|enum| rows in one task at 100 TB.
    */
  private def boundedKeysOnly(keys: Seq[Expression], aliases: Map[ExprId, Expression],
                              bounded: Set[String] = boundedCols): Boolean =
    keys.nonEmpty && {
      val ns = keys.flatMap(baseNames(_, aliases, Set.empty)).toSet
      ns.nonEmpty && ns.forall(bounded)
    }

  /** True when the subtree's row count is already bounded below the
    * window: an aggregate (output ≤ |group keys| rows), a limit, or a
    * partial TopKPerKey heap (≤ k·|keys| rows per partition) sits
    * between the window and the scans, so the window runs over a tiny
    * frame, not the raw corpus stream.
    */
  private def boundedInput(p: SparkPlan): Boolean =
    collectWithSubqueries(p) {
      case a: BaseAggregateExec => a
      case l: GlobalLimitExec => l
      case t: TakeOrderedAndProjectExec => t
      case t: TopKPerKeyExec if t.partial => t
    }.nonEmpty ||
      // a persisted aggregate hides behind an InMemoryTableScan leaf
      // (q_market_share's memoized nation x year rollup)
      collectWithSubqueries(p) { case s: InMemoryTableScanExec => s.relation.cachedPlan }
        .exists(boundedInput) ||
      // ... and a bounding subtree behind an AQE-reused exchange hides
      // under a ReusedExchangeExec LEAF whose `child` is the original
      // exchange (see boundedRowsBelow)
      collectWithSubqueries(p) { case r: ReusedExchangeExec => r.child }
        .exists(boundedInput)

  /** Key set for the whole-frame-aggregate rule: the bounded enums PLUS
    * `label` (10 values at every SF). A whole-partition aggregate over a
    * low-cardinality key funnels ~N/|enum| raw rows through single
    * reduce tasks to compute a handful of scalars — the groupBy +
    * broadcast join-back twin (events_zscore / embed_norm_outliers) is
    * strictly better. Over a CORPUS-SCALING key (doc_id, fp, o_custkey)
    * the window is legitimate: groups stay small, the stats frame would
    * not broadcast, and the window often reuses an exchange a
    * neighboring join needs anyway (dedup_winnow_pairs). `label` stays
    * out of the RANKING rule because the per-document top-k window
    * family (topk_chunks_filtered) is the sanctioned window-rank
    * exhibition twin of TopKPerKey, with `label` standing in for the
    * owning-document id of the real mapping.
    */
  private val aggWindowCols = boundedCols + "label"

  /** True when the window computes an aggregate over the WHOLE
    * partition frame (unbounded preceding..unbounded following): a
    * per-group scalar recomputed per row. Running/sliding frames
    * (cumsum, EWMA) do not trip this.
    */
  private def wholeFrameAgg(w: WindowExec): Boolean =
    w.windowExpression.exists(_.collect {
      case WindowExpression(_: AggregateExpression, spec) => spec.frameSpecification
    }.exists {
      case SpecifiedWindowFrame(_, UnboundedPreceding, UnboundedFollowing) => true
      case _ => false
    })

  /** Dense unique-id columns: a LITERAL upper bound on one of these
    * (`vec_id < 8`) selects a fixed number of rows at ANY corpus size —
    * the deterministic-sample idiom the IVF/LSH/PQ codebook builders
    * use before collecting their (budget-contracted) centroid arrays.
    * An equality/bound on a non-dense column (`event_type = 'x'`)
    * bounds nothing and stays out.
    */
  private val denseKeyCols = Set("vec_id")

  private def literallyBounded(cond: Expression, aliases: Map[ExprId, Expression]): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{And, LessThan, LessThanOrEqual, Literal}
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    conjuncts(cond).exists {
      case LessThan(a, _: Literal) =>
        baseNames(a, aliases, Set.empty).forall(denseKeyCols)
      case LessThanOrEqual(a, _: Literal) =>
        baseNames(a, aliases, Set.empty).forall(denseKeyCols)
      case _ => false
    }
  }

  /** STRICTER row-bound test for the buffering-aggregate rule: an
    * aggregate below only bounds the frame when its OWN grouping keys
    * are empty (one row) or all bounded enums (≤ |enum| rows). The
    * looser [[boundedInput]] counts ANY aggregate — which would have
    * exempted the r11 `weak` family (a global percentile over a
    * per-customer frame: aggregated, but to corpus-scaling
    * cardinality, so the buffer still holds ~|customers| values in one
    * task). A literal bound on a dense id column ([[literallyBounded]])
    * also counts: `filter(vec_id < 8).agg(collect_list(...))` is the
    * sanctioned fixed-size-sample shape.
    */
  private def boundedRowsBelow(p: SparkPlan, aliases: Map[ExprId, Expression]): Boolean =
    collectWithSubqueries(p) {
      case a: BaseAggregateExec if a.groupingExpressions.isEmpty ||
          boundedKeysOnly(a.groupingExpressions, aliases, aggWindowCols) => a: SparkPlan
      case l: GlobalLimitExec => l
      case t: TakeOrderedAndProjectExec => t
      case t: TopKPerKeyExec if t.partial => t
      case f: org.apache.spark.sql.execution.FilterExec
          if literallyBounded(f.condition, aliases) => f
    }.nonEmpty ||
      collectWithSubqueries(p) { case s: InMemoryTableScanExec => s.relation.cachedPlan }
        .exists(boundedRowsBelow(_, aliases)) ||
      // AQE serves repeated subtrees as ReusedExchangeExec — a LEAF whose
      // `child` still holds the original exchange subtree. Without this
      // recursion a bounding aggregate/filter that happens to sit behind
      // a reused exchange is invisible and the rule false-positives on
      // plans whose boundedness lives in the reused original (the r20
      // ann_hnsw_insert_deduped cached-cents plan: every input arrived
      // via ReusedExchange, census included).
      collectWithSubqueries(p) { case r: ReusedExchangeExec => r.child }
        .exists(boundedRowsBelow(_, aliases))

  /** Aggregate functions whose buffer holds EVERY input value of a
    * group (TypedImperativeAggregate value-buffering): ~group-size
    * values in ONE task's aggregation buffer at 100 TB. The sketching
    * twins (approx_percentile, HLL) and algebraic aggregates merge in
    * constant space and are fine.
    */
  private def isBuffering(ae: AggregateExpression): Boolean =
    ae.aggregateFunction match {
      case _: Percentile | _: Median | _: CollectList | _: CollectSet => true
      case _ => false
    }

  /** The r8-scale-killer sweep: windows/heaps whose partitioning melts
    * to a handful of tasks at corpus scale, over un-reduced input —
    * plus (r12) value-buffering AGGREGATES in the same situation: a
    * percentile/collect over a global or bounded-enum grouping whose
    * input still scales with the corpus buffers ~N/|enum| values in
    * one task (the r11 `weak` family — the histogram-cumsum rewrite in
    * [[graft.operators.Percentiles]] is the scale-safe twin). The
    * Partial/Complete mode guard pins the rule to the node that reads
    * the input stream; a grouping by a corpus-scaling key (per-doc
    * collect of its chunks, the IVF per-cell centroid lists) keeps
    * small groups and stays green.
    */
  private def windowSweep(plans: Seq[SparkPlan]): Seq[String] = plans.flatMap { plan =>
    val aliases: Map[ExprId, Expression] =
      collectWithSubqueries(plan) { case n => n.expressions }.flatten
        .flatMap(_.collect { case a: Alias => a.exprId -> a.child }).toMap
    collectWithSubqueries(plan) {
      // no partitionBy at all (Spark logs "WindowExec: No Partition
      // Defined"): one task holds the whole input, so a row bound below
      // must make it tiny — the inventory's two such windows (new_users'
      // running total, hybrid_rrf_graph's BM25 rank) sit on a
      // TakeOrderedAndProject of at most 10000 / n rows
      case w: WindowExec if w.partitionSpec.isEmpty && !boundedRowsBelow(w.child, aliases) =>
        "unpartitioned window over unbounded input"
      case w: WindowExec if boundedKeysOnly(w.partitionSpec, aliases) && !boundedInput(w.child) =>
        s"low-cardinality window over raw input (keys=${w.partitionSpec.flatMap(baseNames(_, aliases, Set.empty)).distinct.mkString(",")})"
      case w: WindowGroupLimitExec if boundedKeysOnly(w.partitionSpec, aliases) && !boundedInput(w.child) =>
        s"low-cardinality group-limit over raw input (keys=${w.partitionSpec.flatMap(baseNames(_, aliases, Set.empty)).distinct.mkString(",")})"
      case t: TopKPerKeyExec if !t.partial && boundedKeysOnly(t.keys, aliases) &&
          collectWithSubqueries(t.child) { case p: TopKPerKeyExec if p.partial => p }.isEmpty &&
          !boundedInput(t.child) =>
        s"final TopKPerKey without partial heap (keys=${t.keys.flatMap(baseNames(_, aliases, Set.empty)).distinct.mkString(",")})"
      case w: WindowExec if wholeFrameAgg(w) &&
          boundedKeysOnly(w.partitionSpec, aliases, aggWindowCols) && !boundedInput(w.child) =>
        "whole-partition aggregate window over raw input (use groupBy + broadcast join-back)"
      case a: BaseAggregateExec if a.aggregateExpressions.exists(ae =>
          (ae.mode == Partial || ae.mode == Complete) && isBuffering(ae)) &&
          (a.groupingExpressions.isEmpty ||
            boundedKeysOnly(a.groupingExpressions, aliases, aggWindowCols)) &&
          !boundedRowsBelow(a.child, aliases) =>
        val fns = a.aggregateExpressions.filter(isBuffering)
          .map(_.aggregateFunction.prettyName).distinct.mkString(",")
        s"value-buffering aggregate ($fns) over un-reduced input (use the histogram-cumsum shape)"
    }
  }

  private def offenses(df: DataFrame): Seq[String] = {
    val plans = withCachedPlans(df.queryExecution.executedPlan)
    val cartesian = plans.flatMap(p =>
      collectWithSubqueries(p) { case c: CartesianProductExec => c })
    val globalSorts = plans.flatMap(p =>
      collectWithSubqueries(p) { case s: SortExec if s.global => s })
    val singlePartRank = plans.flatMap(p =>
      collectWithSubqueries(p) {
        case w: WindowExec if gathersAllRows(w.child) => w
        case s: SortExec if !s.global && gathersAllRows(s.child) => s
      })
    (if (cartesian.nonEmpty) Seq("CartesianProduct") else Nil) ++
      (if (globalSorts.nonEmpty) Seq("global Sort") else Nil) ++
      (if (singlePartRank.nonEmpty) Seq("SinglePartition exchange feeding Window/Sort") else Nil) ++
      windowSweep(plans)
  }

  test("canary: the lint catches a deliberate CartesianProduct under AQE") {
    import spark.implicits._
    // disable auto-broadcast so the cross join can't degrade to a
    // BroadcastNestedLoopJoin (tiny test frames always fit the threshold)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val big = spark.range(1000).toDF("a")
      val alsoBig = spark.range(1000).toDF("b")
      val bad = big.crossJoin(alsoBig).filter($"a" + $"b" > 0)
      assert(offenses(bad).contains("CartesianProduct"),
        s"lint is vacuous: missed a cross join in\n${bad.queryExecution.executedPlan}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("canary: the lint catches a deliberate global Sort under AQE") {
    import spark.implicits._
    // groupBy forces an exchange so AQE wraps the plan; orderBy without
    // a limit plans a global SortExec above it
    val bad = spark.range(1000).toDF("a").groupBy($"a" % 7).count().orderBy($"count")
    assert(offenses(bad).contains("global Sort"),
      s"lint is vacuous: missed a global sort in\n${bad.queryExecution.executedPlan}")
  }

  test("canary: the lint catches an unpartitioned ranking window (SinglePartition exchange)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.row_number
    // the round-6 hybrid_rrf shape: rank EVERY group with no partitionBy —
    // a local Sort under Exchange(SinglePartition), invisible to the
    // global-Sort lint
    val bad = spark.range(1000).toDF("a").groupBy($"a" % 7).count()
      .withColumn("r", row_number().over(Window.orderBy($"count".desc)))
    assert(offenses(bad).contains("SinglePartition exchange feeding Window/Sort"),
      s"lint is vacuous: missed an unpartitioned window in\n${bad.queryExecution.executedPlan}")
    // ...while the bounded twin (top-n first, then rank within <= n rows)
    // stays green: TakeOrderedAndProject needs no exchange
    val good = spark.range(1000).toDF("a").groupBy($"a" % 7).count()
      .orderBy($"count".desc).limit(10)
      .withColumn("r", row_number().over(Window.orderBy($"count".desc)))
    assert(!offenses(good).contains("SinglePartition exchange feeding Window/Sort"),
      s"lint over-fires on a bounded ranking:\n${good.queryExecution.executedPlan}")
    // the sweep's row-bound rule: an unpartitioned window over raw rows
    // fires, the limited twin does not
    val raw = Graft.embeddings(spark, dir)
      .withColumn("r", row_number().over(Window.orderBy($"vec_id")))
    assert(offenses(raw).contains("unpartitioned window over unbounded input"),
      s"sweep missed an unpartitioned window over raw rows:\n${raw.queryExecution.executedPlan}")
    assert(!offenses(good).contains("unpartitioned window over unbounded input"),
      s"sweep over-fires on a limited unpartitioned window:\n${good.queryExecution.executedPlan}")
  }

  test("canary: the lint descends into persisted (InMemoryRelation) subplans") {
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val bad = spark.range(1000).toDF("a")
      .crossJoin(spark.range(1000).toDF("b")).filter($"a" + $"b" > 0)
      .persist()
    try {
      // downstream of the cache the visible plan is just an
      // InMemoryTableScan — the offense hides in relation.cachedPlan
      val downstream = bad.groupBy($"a").count()
      assert(offenses(downstream).contains("CartesianProduct"),
        s"lint is blind to cached subplans:\n${downstream.queryExecution.executedPlan}")
    } finally {
      bad.unpersist()
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("canary: the sweep catches a ranking window partitioned only by a bounded-enum key") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    // the r9 sample_per_key / q_ship_delay_pcts shape: rank EVERY raw
    // document inside per-language partitions — ~N/|langs| rows in one
    // task at corpus scale
    val bad = Graft.documents(spark, dir)
      .withColumn("rn", row_number().over(Window.partitionBy(col("lang")).orderBy(col("doc_id"))))
    assert(offenses(bad).exists(_.startsWith("low-cardinality")),
      s"sweep is vacuous: missed a lang-partitioned rank over raw documents\n${bad.queryExecution.executedPlan}")
  }

  test("canary: the sweep resolves aliased partition keys by exprId lineage") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    // the ScaleLayoutSpec:175 hole ADVICE flagged: a literal-name match
    // on `lang` is evaded by renaming — lineage is not
    val bad = Graft.documents(spark, dir)
      .withColumn("k", col("lang"))
      .select(col("doc_id"), col("k"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("k")).orderBy(col("doc_id"))))
    assert(offenses(bad).exists(_.contains("keys=lang")),
      s"sweep misses an aliased low-cardinality key:\n${bad.queryExecution.executedPlan}")
  }

  test("canary: the sweep catches a whole-partition aggregate window over raw input") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{avg, col}
    // the r9 embed_norm_outliers shape: a per-group scalar recomputed
    // per row over a 10-value key — ~N/10 raw rows through each reduce
    // task with no map-side combine; groupBy + broadcast join-back is
    // the right twin
    val bad = Graft.embeddings(spark, dir)
      .withColumn("mean_v0", avg(col("vec_id")).over(Window.partitionBy(col("label"))))
    assert(offenses(bad).exists(_.startsWith("whole-partition aggregate window")),
      s"sweep is vacuous: missed a whole-frame aggregate window\n${bad.queryExecution.executedPlan}")
    // ...but by a corpus-scaling key (vec_id here; fp/doc_id/o_custkey in
    // the inventory) the same frame shape is legitimate: groups stay
    // small, the per-group stats frame would not broadcast at 100 TB,
    // and the window often reuses an exchange a neighboring join needs
    // anyway (dedup_winnow_pairs)
    val highCard = Graft.embeddings(spark, dir)
      .withColumn("m", avg(col("label")).over(Window.partitionBy(col("vec_id"))))
    assert(windowSweep(Seq(highCard.queryExecution.executedPlan)).isEmpty,
      s"sweep over-fires on a whole-frame aggregate by a corpus-scaling key:\n${highCard.queryExecution.executedPlan}")
  }

  test("canary: the sweep catches value-buffering aggregates over un-reduced input") {
    import org.apache.spark.sql.functions.{col, collect_set, count, expr, lit, sum}
    // the r11 `weak` family, shape 1: percentile grouped by a 5-value
    // enum over the RAW events stream — ~N/5 doubles in one
    // aggregation buffer at 100 TB
    val bad = Graft.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("med"))
    assert(offenses(bad).exists(_.startsWith("value-buffering aggregate")),
      s"sweep is vacuous: missed a grouped buffering percentile\n${bad.queryExecution.executedPlan}")
    // shape 2: a GLOBAL percentile over a frame aggregated only by a
    // corpus-scaling key (the reverted q_spend_quartiles) — aggregated,
    // but the buffer still holds ~|customers| values in one task; the
    // looser window-rule boundedInput would have exempted it
    val badGlobal = Graft.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice")).as("spend"))
      .agg(expr("floor(percentile(spend, 0.5))").as("t"))
    assert(offenses(badGlobal).exists(_.startsWith("value-buffering aggregate")),
      s"sweep misses a global percentile over a corpus-scaling frame\n${badGlobal.queryExecution.executedPlan}")
    // collect_set is the same buffer shape
    val badCollect = Graft.events(spark, dir)
      .groupBy(col("event_type")).agg(collect_set(col("user_id")).as("users"))
    assert(offenses(badCollect).exists(_.startsWith("value-buffering aggregate")),
      s"sweep misses a grouped collect_set over raw events\n${badCollect.queryExecution.executedPlan}")
    // green twin 1: percentile over an ALREADY bounded-enum-aggregated
    // frame (≤ |event_type| rows) buffers a handful of values
    val good = Graft.events(spark, dir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .agg(expr("percentile(n, 0.5)").as("med_n"))
    assert(windowSweep(Seq(good.queryExecution.executedPlan)).isEmpty,
      s"sweep over-fires on a percentile above a bounded aggregate:\n${good.queryExecution.executedPlan}")
    // green twin 2: collect grouped by a corpus-scaling key — groups
    // stay small (per-vector/per-document semantics), the sanctioned
    // shape the IVF per-cell centroid lists use
    val goodCollect = Graft.embeddings(spark, dir)
      .groupBy(col("vec_id")).agg(collect_set(col("label")).as("ls"))
    assert(windowSweep(Seq(goodCollect.queryExecution.executedPlan)).isEmpty,
      s"sweep over-fires on a collect by a corpus-scaling key:\n${goodCollect.queryExecution.executedPlan}")
  }

  test("canary: the sweep stays green on reduced input and on corpus-scaling keys") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, count, row_number, sum}
    // the fixed histogram-cumsum shape: the window runs over the
    // ALREADY-AGGREGATED (source, n_chars) frame — bounded input, green
    val hist = Graft.documents(spark, dir).groupBy(col("source"), col("n_chars")).agg(count("*").as("c"))
    val good = hist.withColumn("cum",
      sum(col("c")).over(Window.partitionBy(col("source")).orderBy(col("n_chars"))))
    assert(windowSweep(Seq(good.queryExecution.executedPlan)).isEmpty,
      s"sweep over-fires on a window above an aggregate:\n${good.queryExecution.executedPlan}")
    // per-document ranking (key scales with the corpus): green
    val perDoc = Graft.embeddings(spark, dir)
      .withColumn("rn", row_number().over(Window.partitionBy(col("label")).orderBy(col("vec_id"))))
    assert(windowSweep(Seq(perDoc.queryExecution.executedPlan)).isEmpty,
      s"sweep over-fires on a corpus-scaling partition key:\n${perDoc.queryExecution.executedPlan}")
  }

  test("no query plans a CartesianProduct, a global Sort, or a low-cardinality window over raw input") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      offenses(fn(spark, dir)).map(o => s"$name: $o")
    }
    assert(offenders.isEmpty, s"scale-hostile plan shapes:\n${offenders.mkString("\n")}")
  }
}
