package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StructField, StructType}
import graft.Graft
import graft.functions.{VecKernels, VectorOps}

/** Approximate-nearest-neighbor search over the embedding column.
  *
  * Brute-force cosine top-k is the exact baseline (TakeOrderedAndProject:
  * per-partition heaps, no global sort — scales as one scan). The IVF
  * variant is the 100-TB path: vectors are assigned to centroids once
  * (write-time partitioning in a real deployment), queries probe only the
  * best cluster — the scan shrinks by the cluster fanout, and the
  * centroid table stays broadcastable. kNN-join broadcasts the (small)
  * query side and turns per-query top-k into one window rank.
  */
object Ann {

  /** Exact brute-force top-k by cosine for the deterministic query vector
    * (embedding of min vec_id).
    */
  def bruteForce(s: SparkSession, dir: String, k: Int = 10): DataFrame =
    Graft.embeddings(s, dir)
      .crossJoin(broadcast(SemanticSearch.queryVec(s, dir)))
      .select(col("vec_id"), VectorOps.cosine6(col("embedding"), col("qvec")).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)

  /** Vector→centroid assignment (centroids = vec_id < 8, deterministic
    * seeding; a real pipeline would k-means these — assignment plumbing
    * is identical).
    */
  private def assignments(s: SparkSession, dir: String): DataFrame =
    // the centroid set rides along as ONE broadcast row holding an
    // array<struct<cid,cvec>>; the native ivf_assign kernel computes the
    // (rounded-cosine desc, cid asc) argmax per vector in a single
    // projection — no x-centroids fanout join, no argmax agg shuffle.
    // (collect_list order is irrelevant: the kernel tie-breaks totally.)
    // The assignment IS the IVF index: every probe-side consumer (ivf,
    // multiprobe, ivf-pq, recall eval, kmeans step) reads the same frame,
    // so one memoized copy per session serves them all — exactly how a
    // real deployment stores assignments instead of re-deriving them.
    Graft.memoCache("ann_assign", dir) {
      val cents = Graft.embeddings(s, dir).filter(col("vec_id") < 8)
        .agg(collect_list(struct(col("vec_id").as("cid"), col("embedding").as("cvec"))).as("cents"))
      Graft.embeddings(s, dir)
        .crossJoin(broadcast(cents))
        .select(col("vec_id"), col("embedding"),
          call_function("ivf_assign", col("embedding"), col("cents")).as("cid"))
    }

  /** IVF probe: assign all vectors to centroids, route the query to its
    * best centroid, exact top-k inside that cluster only.
    */
  def ivf(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val assign = assignments(s, dir)
    // probe selection IS centroid assignment of the query vector — the
    // same ivf_assign kernel on the 1-row query frame (tie-break
    // identical to the orderBy cscore desc, cid asc formulation)
    val cents = Graft.embeddings(s, dir).filter(col("vec_id") < 8)
      .agg(collect_list(struct(col("vec_id").as("cid"), col("embedding").as("cvec"))).as("cents"))
    val probe = SemanticSearch.queryVec(s, dir)
      .crossJoin(broadcast(cents))
      .select(call_function("ivf_assign", col("qvec"), col("cents")).as("probe_cid"))
    assign
      .join(broadcast(probe), col("cid") === col("probe_cid"))
      .crossJoin(broadcast(SemanticSearch.queryVec(s, dir)))
      .select(col("vec_id"), col("cid"),
        VectorOps.cosine6(col("embedding"), col("qvec")).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
  }

  /** Multi-probe IVF: scan the query's best `nprobe` clusters instead of
    * one — the recall/latency knob of every IVF deployment. Probe list
    * comes from the (broadcastable) centroid set; the scan grows by
    * nprobe/fanout, never back to full.
    */
  def ivfMultiProbe(s: SparkSession, dir: String, k: Int = 5, nprobe: Int = 2): DataFrame = {
    val assign = assignments(s, dir)
    val probes = Graft.embeddings(s, dir).filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      .crossJoin(broadcast(SemanticSearch.queryVec(s, dir)))
      .select(col("cid"), VectorOps.cosine6(col("cvec"), col("qvec")).as("cscore"))
      .orderBy(col("cscore").desc, col("cid")).limit(nprobe)
      .select(col("cid").as("probe_cid"))
    assign
      .join(broadcast(probes), col("cid") === col("probe_cid"))
      .crossJoin(broadcast(SemanticSearch.queryVec(s, dir)))
      .select(col("vec_id"), col("cid"),
        VectorOps.cosine6(col("embedding"), col("qvec")).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
  }

  /** Signed-random-projection LSH ANN: each vector gets an 8-bit bucket
    * (bit p = sign of dot with hyperplane p; hyperplanes are the vectors
    * with id 8..15 — deterministic stand-ins for sampled planes), the
    * query probes only its own bucket, exact cosine top-k inside. The
    * LSH complement to IVF: bucketing is a pure per-row projection (no
    * training/assignment pass at all), so index build is a map stage and
    * bucket routing is a hash-partition at scale.
    */
  def lsh(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val planes = Graft.embeddings(s, dir)
      .filter(col("vec_id") >= 8 && col("vec_id") < 16)
      .agg(sort_array(collect_list(struct(col("vec_id").as("pid"), col("embedding").as("pvec"))))
        .as("ps"))
      .select(expr("transform(ps, x -> x.pvec)").as("planes"))
    val sig = Graft.embeddings(s, dir)
      .crossJoin(broadcast(planes))
      .select(col("vec_id"), col("embedding"),
        concat_ws("", expr("transform(planes, p -> IF(fvec_dot(embedding, p) >= 0, '1', '0'))"))
          .as("bucket"))
    val q = sig.orderBy(col("vec_id")).limit(1)
      .select(col("embedding").as("qvec"), col("bucket").as("qbucket"))
    sig.join(broadcast(q), col("bucket") === col("qbucket"))
      .select(col("vec_id"), col("bucket"),
        VectorOps.cosine6(col("embedding"), col("qvec")).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
  }

  /** Per-vector int8 scalar quantization summary: scale = max |v_i|,
    * q_i = round(v_i / scale * 127). The 4x-memory-reduction layout every
    * large vector index stores; emitted as exact integer summaries
    * (component sum + sum of squares) so the oracle comparison is pure
    * integer arithmetic. Pure map stage.
    */
  def quantize(s: SparkSession, dir: String): DataFrame =
    Graft.embeddings(s, dir)
      .select(col("vec_id"), call_function("fvec_q8_stats", col("embedding")).as("st"))
      .select(col("vec_id"),
        element_at(col("st"), 1).as("scale_micros"),
        element_at(col("st"), 2).as("q_sum"),
        element_at(col("st"), 3).as("q_norm2"))

  /** Top-k by QUANTIZED dot product against the quantized query vector —
    * the int8 search path: exact integer arithmetic end to end, 4x less
    * memory traffic than float32, re-rank with full precision downstream
    * if needed.
    */
  def quantizedSearch(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val q8 = Graft.embeddings(s, dir)
      .select(col("vec_id"), call_function("fvec_quantize", col("embedding")).as("q"))
    val qq = q8.orderBy(col("vec_id")).limit(1).select(col("q").as("qq"))
    q8.crossJoin(broadcast(qq))
      .select(col("vec_id"), call_function("lvec_dot", col("q"), col("qq")).as("qdot"))
      .orderBy(col("qdot").desc, col("vec_id"))
      .limit(k)
  }

  /** kNN join: top-k neighbors for every query-side vector, one
    * broadcast + one window — never a per-query job. The query side is
    * a FIXED-size deterministic batch (the first `q` vec_ids), so the
    * broadcast stays bounded and total work is O(|corpus| * q) no
    * matter how large the corpus grows — a corpus-proportional query
    * predicate (e.g. vec_id % 100 = 0) would make this quadratic.
    */
  def knnJoin(s: SparkSession, dir: String, k: Int = 3, q: Int = 100): DataFrame = {
    val queries = Graft.embeddings(s, dir).filter(col("vec_id") < q)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("nb_id"))
    Graft.embeddings(s, dir)
      .crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("nb_id"),
        VectorOps.cosine6(col("embedding"), col("qv")).as("score"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
  }

  /** NSW-style neighbor-graph construction — the batch half of the
    * graph-ANN paradigm (the reference's serving index is HNSW,
    * qdrant.py:73): build the k-NN edge list offline, mark the
    * reciprocal (mutual) edges that form the navigable core an
    * NSW/HNSW search descends, bound out-degree at k by construction.
    * A serving tier loads this edge list directly.
    *
    * Build = blocked candidates + one NN-descent refinement, each stage
    * bounded AND the blocking fanout scales with the corpus:
    *  1. the centroid count is max(8, floor(sqrt N)) — computed inside
    *     the plan from a broadcast 1-row count, the way a real IVF
    *     build sizes nlist — so per-cell size stays ~nprobe*sqrt(N)
    *     and the per-cell SHUFFLE_HASH self-join does p^2 * N^1.5 pair
    *     work (a FIXED fanout makes cells grow linearly and the join
    *     quadratic: measured 8-centroid cells stall the 10x bench);
    *  2. every vector joins its top-`nprobe`=3 cells (multiprobe
    *     blocking recalls the boundary neighbors single-cell blocking
    *     misses: 0.26 single-probe -> 0.70 edge recall at sf0.001);
    *  3. one NN-descent round: neighbors-of-neighbors over the
    *     UNDIRECTED k-bounded round-1 graph — |V| * (2k)^2 candidate
    *     pairs, the classic graph-ANN construction step (a second
    *     round adds ~nothing here, measured 0.705 -> 0.711);
    *  4. per-node top-k ranks are per-key bounded windows
    *     (WindowTopKRule -> bounded heap), and the reciprocity join
    *     runs on the k-bounded edge list (|V| * k rows), never raw
    *     pairs.
    */
  /** Top-`nprobe` cell assignment over an arbitrary node frame, given a
    * pre-aggregated broadcast centroid array (one row holding
    * array<struct<cid,cvec>>): ONE map-stage projection scoring all
    * centroids per vector, sorting the (neg cscore, cid) structs and
    * slicing the best nprobe — no N*ncents fanout join, no N*ncents
    * window shuffle, no embedding-carrying exchange. Shared by the flat
    * NSW build (dense vec_ids: centroid set derivable in-plan) and the
    * per-layer HNSW builds (sparse vec_ids: centroid set via
    * orderBy+limit).
    */
  private def cellsOver(e: DataFrame, cents: DataFrame, nprobe: Int): DataFrame =
    e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        explode(expr(s"slice(array_sort(transform(cents, c -> named_struct(" +
          s"'negc', -round(fvec_dot(embedding, c.cvec) / (nrm * c.cnrm), 6), 'cid', c.cid))), 1, $nprobe)"))
          .as("cc"))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cc.cid").as("cid"))

  /** One dot-accumulation loop per pair instead of three: the cosine
    * denominator's norms are per-VECTOR quantities, so they are
    * computed once here and carried as a column; every pair-stage
    * cosine is then `fvec_dot / (nrm_x * nrm_y)` — BIT-identical to
    * `fvec_cos` (same accumulation order, same sqrt-then-multiply
    * grouping), at a third of the FLOPs on the N^1.5 candidate stream.
    *
    * FIXED-DIMENSION invariant: every embedding must share one width
    * (SemanticSearch.Dim here; a real encoder emits fixed-width
    * vectors). `fvec_dot` truncates to the SHORTER operand, so a
    * mixed-dimension corpus would silently skew cosines toward
    * truncated prefixes rather than error — audit a new corpus with
    * `embed_dim_stats` (one row per dimension; a short row count or
    * null-bearing tail exposes ragged vectors) before building on it.
    */
  private def withNorm(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("embedding"), VectorOps.norm(col("embedding")).as("nrm"))

  /** Serialized bytes per broadcast centroid row: 64 float32 dims
    * (256 B) + id + norm + struct overhead ≈ 300 B.
    */
  val centroidRowBytes: Long = 300L

  /** Budget for the √N centroid broadcast the NSW/HNSW builders ship to
    * every task (64 MiB — half the conventional 128 MiB task-memory
    * yardstick, leaving room for the probe side). The curve:
    * √N × ~300 B ≈ 0.3 MB at 10^6 vectors, 3 MB at 10^8, 30 MB at
    * 10^10, ~95 MB at 10^11 — so a single flat build stops being
    * broadcastable around N ≈ 5×10^10 and [[requireCentroidBudget]]
    * refuses LOUDLY there instead of letting the driver OOM or silently
    * degrade. Past the budget, [[nswGraph]] now ROUTES to the
    * shard-and-merge build ([[nswGraphSharded]]) whose per-shard
    * √(N/S) broadcasts each fit; [[requireCentroidBudget]] still
    * refuses paths with no sharded variant. Retune against the
    * [[nswCellStats]] occupancy report.
    *
    * A `var` ONLY so specs can lower it to drive the sharded routing on
    * spec-scale corpora (the SkewSpec lowered-threshold trick);
    * production code treats it as a constant.
    */
  @volatile var centroidBroadcastBudgetBytes: Long = 64L << 20

  /** Centroid count a corpus of n vectors draws under the √N seed rule. */
  def sqrtFanout(n: Long): Long =
    math.max(8L, math.floor(math.sqrt(n.toDouble)).toLong)

  /** The loud contract behind [[centroidBroadcastBudgetBytes]]: refuse a
    * build whose centroid frame would not broadcast, with the retune
    * path in the message. `ncents` is the TOTAL centroid rows the build
    * broadcasts (the flat build's √N; the layered build's ~2√N stack).
    */
  private[graft] def requireCentroidBudget(ncents: Long, what: String): Unit = {
    val bytes = ncents * centroidRowBytes
    require(bytes <= centroidBroadcastBudgetBytes,
      s"$what: centroid broadcast of $ncents rows x $centroidRowBytes B = $bytes B " +
        s"exceeds the $centroidBroadcastBudgetBytes B budget; shrink the fanout " +
        "(coarser nlist / shard the corpus and merge per-shard graphs) and retune " +
        "against ann_nsw_cell_stats before building at this scale")
  }

  /** MEMOIZED embedding-carrying cell assignment, keyed per
    * (dir, nprobe) in [[Graft.memoCache]] — the NSW twin of
    * `ann_assign`: the assignment IS the blocking index, and every
    * consumer ([[nswCellStats]], [[nswGraph]], [[semanticDedup]],
    * knnOutliers via the graph) shares ONE N·√N scoring pass per
    * session instead of re-deriving it per query. The FULL frame
    * (vec_id, embedding, nrm, cid) is what persists: measured at 10×,
    * a pair-join side scanning this cache costs 0.77s vs 2.42s for the
    * un-shared inline recompute (ReusedExchange does not collapse
    * identical subtrees above InMemoryTableScan leaves, so the
    * alternative narrow-memo + vec_id join-back shape recomputed the
    * vector re-attach per reference — 1.18s — and the r12 inline shape
    * paid the full scoring per consumer QUERY).
    *
    * Broadcast contract: the collected centroid frame is √N rows
    * (~300 B each — see [[centroidBroadcastBudgetBytes]] for the curve);
    * [[requireCentroidBudget]] refuses the build past the budget
    * (consumers route to [[nswGraphSharded]] there).
    */
  private[graft] def nswCells(s: SparkSession, dir: String, nprobe: Int): DataFrame =
    Graft.memoFlat(s"nsw_cells_$nprobe", dir) {
      requireCentroidBudget(sqrtFanout(Graft.tableRows(s, dir, "embeddings")), "nswCells")
      val e = withNorm(Graft.embeddings(s, dir))
      val nc = e.agg(greatest(lit(8L), expr("cast(floor(sqrt(count(1))) as bigint)"))
        .as("ncents"))
      val cents = e.crossJoin(broadcast(nc)).filter(col("vec_id") < col("ncents"))
        .agg(sort_array(collect_list(struct(col("vec_id").as("cid"), col("embedding").as("cvec"),
          col("nrm").as("cnrm")))).as("cents"))
      cellsOver(e, cents, nprobe)
    }

  /** Narrow (vec_id, cid) view of the memoized [[nswCells]] frame — the
    * health probe's input: the vector columns are pruned at the cache
    * scan, so [[nswCellStats]] costs only the histogram once ANY cell
    * consumer has run (and one shared scoring pass otherwise).
    */
  private[graft] def nswAssign(s: SparkSession, dir: String, nprobe: Int): DataFrame =
    nswCells(s, dir, nprobe).select(col("vec_id"), col("cid"))

  /** The graph IS an index: like `ann_assign` and [[nswCells]], the
    * finished edge frame memoizes per (dir, k, nprobe) — a session
    * builds it once and every consumer (the keyed query, knnOutliers,
    * repeat calls) reads the ≤k·N-row persisted result, exactly how a
    * deployment stores the serving index instead of rebuilding per
    * query (measured at 10×: repeat build 13.7s → cache read, outlier
    * report 13.8s → sub-second marginal aggregate).
    */
  def nswGraph(s: SparkSession, dir: String, k: Int = 4, nprobe: Int = 3): DataFrame = {
    // route-instead-of-refuse: past the √N centroid broadcast budget a
    // single flat build cannot ship its centroid table; the sharded
    // build's per-shard √(N/S) broadcasts each fit (see nswGraphSharded)
    val nTot = Graft.tableRows(s, dir, "embeddings")
    if (sqrtFanout(nTot) * centroidRowBytes > centroidBroadcastBudgetBytes)
      return nswGraphSharded(s, dir, k, nprobe, shardCountFor(nTot))
    Graft.memoCache(s"nsw_graph_${k}_$nprobe", dir) {
      nswMutual(nswEdgesFlat(s, dir, k, nprobe))
    }
  }

  /** The NSW edge machinery over a blocked cell assignment: blocked
    * pairs → per-(src,cell) heap → per-src top-k → one NN-descent round
    * (neighbors-of-neighbors) → final top-k with reciprocity flags.
    * Factored out so the flat build ([[nswGraph]]) and the per-layer
    * HNSW builds ([[hnswGraph]]) share one plan shape; the round-1 and
    * finishing halves split so the sharded build ([[nswGraphSharded]])
    * can pool round-1 edges from several per-shard builds before ONE
    * shared NN-descent round.
    */
  /** Round-1 k-NN edges from a blocked cell assignment. */
  private def nswR1(cells: DataFrame, k: Int): DataFrame = {
    // cosine is computed INLINE in the pair-producing join projection,
    // so vectors never ride a pair-sized shuffle. The per-src top-k is
    // a distributed merge: first a bounded heap per (src, cell) — its
    // ClusteredDistribution(src, cid) is already satisfied by the
    // join's hash(cid) partitioning, so the FULL candidate stream never
    // hits an exchange at all — then the global top-k over the
    // <= nprobe*k survivors per src. distinct() (now on the tiny
    // frame) collapses pairs that met in more than one shared cell.
    val pairs = cells.as("x").join(cells.as("y"),
        col("x.cid") === col("y.cid") && col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("src"), col("x.cid").as("cid"), col("y.vec_id").as("dst"),
        round(VectorOps.dot(col("x.embedding"), col("y.embedding"))
          / (col("x.nrm") * col("y.nrm")), 6).as("cos"))
    val wCell = Window.partitionBy(col("src"), col("cid"))
      .orderBy(col("cos").desc, col("dst"))
    val perCell = pairs
      .withColumn("rn", row_number().over(wCell)).filter(col("rn") <= k)
      .select(col("src"), col("dst"), col("cos")) // rank dropped -> TopKPerKey heap
    val wTop = Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))
    // per-src top-k of the distinct blocked pairs == top-k of the merged
    // per-cell top-k lists: every true top-k pair appears in some shared
    // cell, where at most k-1 better candidates can outrank it
    perCell.distinct()
      .withColumn("rn", row_number().over(wTop)).filter(col("rn") <= k)
      .select(col("src"), col("dst"), col("cos"))
  }

  /** NN-descent + final reciprocal top-k over a pooled round-1 edge
    * frame (≤ 2k rows per src when two sharding passes pool — the final
    * window re-ranks).
    *
    * The round-1 frame is PERSISTED (narrow: three scalars per edge, ≤
    * k·N rows): it feeds the undirected expansion twice, the hop-2 join
    * twice through that, and the final union once, and with the r13
    * memoized assignment those references sit above InMemoryTableScan
    * leaves where ReusedExchange no longer collapses identical subtrees
    * (measured: the un-persisted shape recomputed the full pair
    * pipeline ~5× — 17.9s vs 3.8s at 10×). Same for the final edge
    * frame (read twice by the reciprocity self-join). Both register in
    * the tracked-cache registry so at most one generation lives per
    * session.
    */
  private def nswFinish(e: DataFrame, r1raw: DataFrame, k: Int): DataFrame = {
    // the final edge frame is read twice by the reciprocity self-join —
    // persist it (the r13 measured reason; consumers of the CORE below
    // persist/memoize at their own call sites instead)
    val edges = nswFinishEdges(e, r1raw, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Graft.trackCaches("nsw_finish_edges", edges)
    nswMutual(edges)
  }

  /** Pre-reciprocity finished edge frame (src, dst, cos, rn) — the
    * NN-descent + final top-k WITHOUT the mutual flag (r21 split,
    * guide §2.4): the reciprocity self-join is ROW-PRESERVING — (src,
    * dst) is unique after the distinct + per-src row_number cut, so
    * every edge meets at most one reverse edge and the left join emits
    * exactly one row per edge — which makes any consumer that never
    * reads `mutual` (per-src aggregates, undirected closures, the
    * insert merge that re-selects (src,dst,cos,rn)) bit-identical over
    * this frame while skipping the join's two kN-row exchanges.
    */
  private def nswFinishEdges(e: DataFrame, r1raw: DataFrame, k: Int): DataFrame = {
    val r1 = r1raw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Graft.trackCaches("nsw_finish_r1", r1)
    val wTop = Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))
    val und = r1.select(col("src"), col("dst"))
      .union(r1.select(col("dst").as("src"), col("src").as("dst")))
    val hop2 = und.as("a").join(und.as("b"),
        col("a.dst") === col("b.src") && col("a.src") =!= col("b.dst"))
      .select(col("a.src").as("src"), col("b.dst").as("dst"))
      .distinct()
    val en = withNorm(e)
    val hop2Scored = hop2
      .join(en.select(col("vec_id").as("src"), col("embedding").as("sv"),
        col("nrm").as("snrm")).hint("SHUFFLE_HASH"), "src")
      .join(en.select(col("vec_id").as("dst"), col("embedding").as("dv"),
        col("nrm").as("dnrm")).hint("SHUFFLE_HASH"), "dst")
      .select(col("src"), col("dst"),
        round(VectorOps.dot(col("sv"), col("dv")) / (col("snrm") * col("dnrm")), 6).as("cos"))
    // ranking r1 ∪ hop2 equals ranking cand0 ∪ hop2: per src, r1 is the
    // exact top-k of cand0, so every other cand0 pair is strictly worse
    // than all k of them and can never enter the final top-k
    r1.union(hop2Scored).distinct()
      .withColumn("rn", row_number().over(wTop).cast("long")).filter(col("rn") <= k)
  }

  /** The reciprocity flag over a finished edge frame. */
  private def nswMutual(edges: DataFrame): DataFrame = {
    val rev = edges.select(col("src").as("r_src"), col("dst").as("r_dst"))
    edges.join(rev, col("src") === col("r_dst") && col("dst") === col("r_src"), "left")
      .select(col("src"), col("dst"), col("cos"), col("rn"),
        col("r_src").isNotNull.as("mutual"))
  }

  /** Memoized pre-reciprocity flat edge frame — [[nswGraph]] is
    * [[nswMutual]] over this, and mutual-blind consumers
    * ([[graphSearchIndex]]'s undirected closure, [[knnOutliers]]) read
    * it directly, so a serving session materializes the expensive build
    * once and pays the reciprocity join only when the published graph
    * contract (which carries `mutual`) is actually requested.
    */
  private[graft] def nswEdgesFlat(s: SparkSession, dir: String, k: Int = 4,
                                  nprobe: Int = 3): DataFrame =
    Graft.memoCache(s"nsw_edges_${k}_$nprobe", dir) {
      val e = Graft.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val cells = nswCells(s, dir, nprobe).hint("SHUFFLE_HASH")
      nswFinishEdges(e, nswR1(cells, k), k)
    }

  /** Routed flat edge frame WITHOUT the mutual flag: under the centroid
    * budget, the memoized pre-reciprocity frame; past it, the sharded
    * build's published graph with the flag projected away (that path
    * materializes `mutual` anyway).
    */
  private[graft] def nswEdgesNoMutual(s: SparkSession, dir: String, k: Int = 4,
                                      nprobe: Int = 3): DataFrame = {
    val nTot = Graft.tableRows(s, dir, "embeddings")
    if (sqrtFanout(nTot) * centroidRowBytes > centroidBroadcastBudgetBytes)
      nswGraph(s, dir, k, nprobe).select(col("src"), col("dst"), col("cos"), col("rn"))
    else nswEdgesFlat(s, dir, k, nprobe)
  }

  /** Smallest power-of-2 shard count whose per-shard ~2√(N/S) centroid
    * stack (×2 = seed-threshold slack) fits the broadcast budget — the
    * same bound [[nswGraphSharded]]'s own [[requireCentroidBudget]]
    * enforces, so the routed build can never re-refuse.
    */
  def shardCountFor(n: Long): Int = {
    var sh = 2
    // n / sh + 1, not n / sh: the EXACT expression nswGraphSharded's
    // requireCentroidBudget tests — a perfect-square n/sh would otherwise
    // grow the fanout by 1 between the two checks and re-refuse on a
    // boundary corpus size
    while (2L * sqrtFanout(n / sh + 1) * centroidRowBytes > centroidBroadcastBudgetBytes
      && sh < (1 << 20)) sh *= 2
    sh
  }

  /** Shard-and-merge NSW build — the retune path the 64 MiB centroid
    * budget refusal used to only point at. Past N ≈ 5×10^10 the flat
    * build's √N centroid table no longer broadcasts; here the corpus is
    * hash-sharded S ways and each shard gets its own √(N/S) centroid
    * set (each broadcast fits the budget by construction):
    *
    *  1. per shard t: HOME nodes (vec_id % S = t) join their
    *     top-`nprobe` cells of cents_t — the existing blocked builder
    *     on a 1/S corpus slice;
    *  2. cross-shard probe round: every FOREIGN node joins its top-1
    *     cell of cents_t, so a node meets each true neighbor inside the
    *     neighbor's home shard exactly the way a flat-probe query would
    *     (home membership is nprobe-wide; the prober is 1-wide);
    *  3. per-shard round-1 k-NN edges pool across shards, are cut back
    *     to a global per-src top-k (bounded WindowGroupLimit heap), and
    *     ONE shared NN-descent round + reciprocal top-k finish the
    *     graph ([[nswFinish]] — the same tail as the flat build).
    *
    * Cost: each node scores S·√(N/S) = √(N·S) centroids (√S × the flat
    * build — the price of budget-fitting) and the per-shard pair blocks
    * stay on the p·N^1.5-flavored bound; the plan is a UNION of S
    * per-shard subtrees, each with its own under-budget broadcast, so S
    * must stay small (it grows as (N/5×10^10)^(1/3)… ≤ 8 through
    * 10^12 vectors). Recall is spec-gated ≥ 0.6 against exact top-k on
    * the spec corpus (AnnSpec's flat-build bound) via a lowered test
    * budget.
    */
  def nswGraphSharded(s: SparkSession, dir: String, k: Int = 4, nprobe: Int = 3,
                      nshards: Int = 2): DataFrame = {
    require(nshards >= 2, s"nswGraphSharded: nshards=$nshards must be >= 2")
    val nTot = Graft.tableRows(s, dir, "embeddings")
    requireCentroidBudget(2L * sqrtFanout(nTot / nshards + 1),
      s"nswGraphSharded(S=$nshards) per-shard")
    Graft.memoCache(s"nsw_graph_sharded_${k}_${nprobe}_$nshards", dir) {
      nswGraphShardedBuild(s, dir, k, nprobe, nshards)
    }
  }

  private def nswGraphShardedBuild(s: SparkSession, dir: String, k: Int, nprobe: Int,
                                   nshards: Int): DataFrame = {
    val e = Graft.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val en = withNorm(e)
    val home = en.withColumn("shard", pmod(col("vec_id"), lit(nshards.toLong)))
    val r1All = (0 until nshards).map { t =>
      val sub = home.filter(col("shard") === t.toLong).drop("shard")
      val nc = sub.agg(greatest(lit(8L), expr("cast(floor(sqrt(count(1))) as bigint)"))
        .as("ncents"))
      // seed rule: shard t's members are {t, t+S, …}, so the first
      // ncents of them sit exactly below S·ncents — a pure filter, no
      // ordering (the hnswGraph dense-id threshold specialized to
      // residue sharding)
      val cents = sub.crossJoin(broadcast(nc))
        .filter(col("vec_id") < lit(nshards.toLong) * col("ncents"))
        .agg(sort_array(collect_list(struct(col("vec_id").as("cid"),
          col("embedding").as("cvec"), col("nrm").as("cnrm")))).as("cents"))
      val homeCells = cellsOver(sub, cents, nprobe)
      val foreignCells = cellsOver(home.filter(col("shard") =!= t.toLong).drop("shard"),
        cents, 1)
      nswR1(homeCells.union(foreignCells).hint("SHUFFLE_HASH"), k)
    }.reduce(_ union _)
    // pool the per-shard round-1 lists back to one global per-src top-k
    // before NN-descent, so hop-2 fanout stays (2k)^2, not (2Sk)^2
    val wTop = Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))
    val r1Pooled = r1All.distinct()
      .withColumn("rn", row_number().over(wTop)).filter(col("rn") <= k)
      .select(col("src"), col("dst"), col("cos"))
    nswFinish(e, r1Pooled, k)
  }

  /** Stored-corpus fraction of the incremental-insert keyed query:
    * vec_id < 4N/5 is the stored index, the top fifth is the arriving
    * batch — both derivable in-plan by each engine.
    */
  val InsertSplitNum = 4L
  val InsertSplitDen = 5L

  /** Memoized embedding-carrying cell assignment of the STORED slice
    * (vec_id < split) — the incremental insert's stored index, built
    * once per session exactly like [[nswCells]] but over the slice.
    */
  private def nswStoredCells(s: SparkSession, dir: String, split: Long,
                             nprobe: Int): DataFrame =
    Graft.memoFlat(s"nsw_cells_ins_${split}_$nprobe", dir) {
      requireCentroidBudget(sqrtFanout(split), "nswGraphInsert stored")
      val e = withNorm(Graft.embeddings(s, dir).filter(col("vec_id") < split))
      val nc = e.agg(greatest(lit(8L), expr("cast(floor(sqrt(count(1))) as bigint)"))
        .as("ncents"))
      val cents = e.crossJoin(broadcast(nc)).filter(col("vec_id") < col("ncents"))
        .agg(sort_array(collect_list(struct(col("vec_id").as("cid"), col("embedding").as("cvec"),
          col("nrm").as("cnrm")))).as("cents"))
      cellsOver(e, cents, nprobe)
    }

  /** The stored slice's finished NSW graph (full blocked build +
    * NN-descent over vec_id < split), memoized — the index generation
    * the incremental insert maintains.
    */
  private[graft] def nswStoredGraph(s: SparkSession, dir: String, split: Long,
                                    k: Int, nprobe: Int): DataFrame =
    Graft.memoCache(s"nsw_graph_ins_${split}_${k}_$nprobe", dir) {
      val stored = Graft.embeddings(s, dir).filter(col("vec_id") < split)
        .select(col("vec_id"), col("embedding"))
      // r21: the insert merge re-selects (src, dst, cos, rn) — build the
      // stored generation WITHOUT the mutual flag (row-preserving join
      // skipped, see nswFinishEdges)
      nswFinishEdges(stored,
        nswR1(nswStoredCells(s, dir, split, nprobe).hint("SHUFFLE_HASH"), k), k)
    }

  /** INCREMENTAL graph-index maintenance — the [[dedup_incremental]]
    * asymmetric pattern pointed at the NSW index (until r14 the only
    * path was a full rebuild per corpus generation): a batch of new
    * vectors (vec_id >= split) is inserted into the STORED graph
    * (vec_id < split) without re-scoring the stored corpus.
    *
    *  1. the batch assigns to its top-`nprobe` cells of the STORED
    *     centroid set (|B|·√|S| scoring — ∝ batch, the probe cost a
    *     flat query pays);
    *  2. candidate pairs = batch cells ⋈ (stored ∪ batch) cells on the
    *     shared cell id — every pair has ≥ 1 new side, so pair work is
    *     ∝ batch · cell occupancy, never |S|^1.5;
    *  3. both directions of the scored pairs pool: new srcs take their
    *     top-k (their out-edges), TOUCHED stored srcs re-rank their
    *     existing edge list ∪ the new arrivals (HNSW's insert-time
    *     neighbor-list repair), and untouched stored srcs pass through
    *     via a broadcast anti join — one streaming read of the stored
    *     edge frame emits the new generation (the IndexBuilder.upsert
    *     write pattern), with ALL ranking work ∝ batch.
    *
    * ONE bounded NN-descent repair round runs after the merge (r15),
    * restricted to touched+new srcs — neighbors-of-neighbors through
    * the merged graph, work ∝ batch·k² — recovering most of the edge
    * recall the r14 no-descent insert traded away (0.653 vs the 0.70
    * flat rebuild; Round14OpsSpec measures the merged graph's recall
    * against the flat-rebuild bound).
    * Determinism: same tie-breaks as the build, so the whole operator
    * unrolls to a generated DuckDB oracle (keyed `ann_graph_insert`).
    */
  def nswGraphInsert(s: SparkSession, dir: String, k: Int = 4, nprobe: Int = 3): DataFrame = {
    val nTot = Graft.tableRows(s, dir, "embeddings")
    val split = nTot * InsertSplitNum / InsertSplitDen
    val e = Graft.embeddings(s, dir)
    val storedCells = nswStoredCells(s, dir, split, nprobe)
    val storedEdges = nswStoredGraph(s, dir, split, k, nprobe)
    // batch assignment against the STORED centroid set (derived by the
    // same dense-id threshold — √|S| rows, no stored-corpus rescore)
    val eS = withNorm(e.filter(col("vec_id") < split))
    val nc = eS.agg(greatest(lit(8L), expr("cast(floor(sqrt(count(1))) as bigint)"))
      .as("ncents"))
    val cents = eS.crossJoin(broadcast(nc)).filter(col("vec_id") < col("ncents"))
      .agg(sort_array(collect_list(struct(col("vec_id").as("cid"), col("embedding").as("cvec"),
        col("nrm").as("cnrm")))).as("cents"))
    nswInsertCore(storedCells, cents, storedEdges, e.filter(col("vec_id") >= split), e, k, nprobe)
  }

  /** Incremental insert over an ARBITRARY stored generation — the core
    * of [[nswGraphInsert]] (which fixes stored = the vec_id < 4N/5
    * slice for the keyed oracle) and of the streaming index
    * maintenance ([[graft.streaming.IndexStreams]]: each microbatch is
    * a `batchEmb`). `storedEmb`/`batchEmb` are (vec_id, embedding)
    * frames with DISJOINT ids; stored ids must be dense from 0 (the
    * corpus-generation id contract — the √|S| centroid set is the
    * dense-id threshold pick, a pure per-row filter, never a sort).
    */
  def nswInsertBatch(storedEmb: DataFrame, storedEdges: DataFrame,
                     batchEmb: DataFrame, k: Int = 4, nprobe: Int = 3): DataFrame = {
    val eS = withNorm(storedEmb.select(col("vec_id"), col("embedding")))
    val nc = eS.agg(greatest(lit(8L), expr("cast(floor(sqrt(count(1))) as bigint)"))
      .as("ncents"))
    val cents = eS.crossJoin(broadcast(nc)).filter(col("vec_id") < col("ncents"))
      .agg(sort_array(collect_list(struct(col("vec_id").as("cid"), col("embedding").as("cvec"),
        col("nrm").as("cnrm")))).as("cents"))
    nswInsertCore(cellsOver(eS, cents, nprobe), cents, storedEdges, batchEmb,
      storedEmb.select(col("vec_id"), col("embedding"))
        .unionByName(batchEmb.select(col("vec_id"), col("embedding"))), k, nprobe)
  }

  private def nswInsertCore(storedCells: DataFrame, cents: DataFrame,
                            storedEdges0: DataFrame, batchEmb: DataFrame,
                            allEmb: DataFrame, k: Int, nprobe: Int): DataFrame =
    nswInsertCoreT(storedCells, cents, storedEdges0, batchEmb, allEmb, k, nprobe)._1

  /** [[nswInsertCore]] also returning the TOUCHED src set — the deduped
    * insert refreshes exactly the attach edges whose canonical's
    * neighborhood the merge re-ranked, so it needs the set the core
    * already derives.
    */
  private def nswInsertCoreT(storedCells: DataFrame, cents: DataFrame,
                             storedEdges0: DataFrame, batchEmb: DataFrame,
                             allEmb: DataFrame, k: Int, nprobe: Int)
      : (DataFrame, DataFrame) = {
    val storedEdges = storedEdges0.select(col("src"), col("dst"), col("cos"), col("rn"))
    val batchCells =
      cellsOver(withNorm(batchEmb.select(col("vec_id"), col("embedding"))), cents, nprobe)
    val allCells = storedCells.select(col("vec_id"), col("embedding"), col("nrm"), col("cid"))
      .withColumn("stored", lit(true))
      .union(batchCells.withColumn("stored", lit(false)))
      .hint("SHUFFLE_HASH")
    val pairs = batchCells.as("x").join(allCells.as("y"),
        col("x.cid") === col("y.cid") && col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("src"), col("x.cid").as("cid"), col("y.vec_id").as("dst"),
        col("y.stored").as("dst_stored"),
        round(VectorOps.dot(col("x.embedding"), col("y.embedding"))
          / (col("x.nrm") * col("y.nrm")), 6).as("cos"))
    // both directions: new→any out-edges AND the touched-old repair
    // side. Only batch→STORED pairs reverse: batch→batch pairs already
    // appear in both orientations from the x-side join, and a duplicate
    // row inside one (src, cell) would let k-1 better candidates occupy
    // 2(k-1) heap rows and evict a true top-k pair from the pre-cut
    // below.
    val undRaw = pairs.select(col("src"), col("cid"), col("dst"), col("cos")).union(
      pairs.filter(col("dst_stored"))
        .select(col("dst").as("src"), col("cid"), col("src").as("dst"), col("cos")))
    // per-(src, cell) bounded heap BEFORE pooling — nswR1's lossless
    // pre-cut (every true top-k pair shares a cell where at most k-1
    // better candidates outrank it), satisfied by the join's hash(cid)
    // partitioning. Without it the raw pair stream hits the distinct
    // (MEASURED at 100×: 360M undirected pair rows, insert 333s —
    // MORE than the 198s stored build it was supposed to beat; with
    // the cut the distinct sees ≤ k rows per (src, cell)).
    val wCell = Window.partitionBy(col("src"), col("cid"))
      .orderBy(col("cos").desc, col("dst"))
    // localCheckpoint (not persist): read by touched + reranked, and a
    // SQL cache would re-plan the pair-join tree per stage (see merged)
    val undp = undRaw
      .withColumn("rn", row_number().over(wCell)).filter(col("rn") <= k)
      .select(col("src"), col("dst"), col("cos"))
      .localCheckpoint(true)
    // No broadcast hint on `touched`: for the keyed 4N/5-split insert the
    // batch is N/5, so the touched set grows LINEARLY with the corpus and
    // a forced broadcast would blow past driver/broadcast limits exactly
    // at the scale the insert's cost contract targets. AQE still converts
    // these to broadcast joins at runtime when the set is actually small
    // (the common incremental-batch case) — measured no regression.
    val touched = undp.select(col("src")).distinct()
    val touchedOld = storedEdges.join(touched, Seq("src"), "left_semi")
      .select(col("src"), col("dst"), col("cos"))
    val wTop = Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))
    val reranked = touchedOld.union(undp).distinct()
      .withColumn("rn", row_number().over(wTop).cast("long")).filter(col("rn") <= k)
      .select(col("src"), col("dst"), col("cos"), col("rn"))
    val untouched = storedEdges.join(touched, Seq("src"), "left_anti")
    // eager localCheckpoint, not persist: the repair stage builds on a
    // DEEP plan (stored build memo → insert merge), and a SQL-cached
    // frame pays per-stage AQE re-planning over that whole tree — the
    // memoFlat lesson (measured on this operator: 17.5s → ~6s marginal
    // at sf0.1 from this one change); the flattened scan also frees the
    // repair joins from the lineage
    val merged = untouched.unionByName(reranked).localCheckpoint(true)
    // ONE bounded NN-descent repair round over touched+new srcs — the
    // r14 insert skipped descent entirely and paid 0.05 edge recall vs
    // the flat rebuild (0.653 vs 0.70, the documented no-descent
    // trade). Candidates are neighbors-of-neighbors THROUGH the merged
    // graph, restricted to touched srcs: work ∝ |touched|·(2k)^2 — the
    // insert's ∝-batch cost contract holds (one more corpus-frame read
    // for the score attach, never corpus-pair work). Untouched srcs
    // keep bit-identical rows: the repair re-ranks only touched lists.
    val mg = merged.select(col("src"), col("dst"), col("cos"))
    val undM = mg.select(col("src"), col("dst"))
      .union(mg.select(col("dst").as("src"), col("src").as("dst")))
    val hop2 = undM.join(touched, Seq("src"), "left_semi").as("a")
      .join(undM.as("b"), col("a.dst") === col("b.src"))
      .filter(col("a.src") =!= col("b.dst"))
      .select(col("a.src").as("src"), col("b.dst").as("dst")).distinct()
    val vecs = withNorm(allEmb.select(col("vec_id"), col("embedding")))
    val h2c = hop2
      .join(vecs.select(col("vec_id").as("src"), col("embedding").as("xe"), col("nrm").as("xn")), "src")
      .join(vecs.select(col("vec_id").as("dst"), col("embedding").as("ye"), col("nrm").as("yn")), "dst")
      .select(col("src"), col("dst"),
        round(VectorOps.dot(col("xe"), col("ye")) / (col("xn") * col("yn")), 6).as("cos"))
    val tch = mg.join(touched, Seq("src"), "left_semi")
    val repaired = tch.union(h2c).distinct()
      .withColumn("rn", row_number().over(wTop).cast("long")).filter(col("rn") <= k)
      .select(col("src"), col("dst"), col("cos"), col("rn"))
    // the untouched slice comes back out of the FLAT merged frame, not
    // by re-planning the deep storedEdges tree a second time
    (merged.join(touched, Seq("src"), "left_anti").unionByName(repaired), touched)
  }

  /** NSW blocking-index health report: log2-bucketed histogram of cell
    * occupancy over the memoized [[nswAssign]] narrow frame. The
    * graph build's cost bound — nprobe^2 * N^1.5 candidate pairs —
    * assumes cells stay near their expected occupancy nprobe*sqrt(N)
    * (nlist = sqrt(N) cells, each vector in its top-nprobe). A skewed
    * corpus (a hot centroid attracting far more than nprobe*sqrt(N)
    * members) quadratically inflates that cell's pair block, so this
    * histogram is the signal to retune the sqrt(N)/nprobe fanout BEFORE
    * a build blows past its budget — the NSW twin of [[ivfBalance]].
    * Buckets are binary-digit counts (integer-exact in both engines),
    * so the report stays ~40 rows at any corpus scale; occ_bits much
    * above log2(nprobe*sqrt(N)) with non-trivial n_cells = hot cells.
    */
  def nswCellStats(s: SparkSession, dir: String, nprobe: Int = 3): DataFrame =
    nswAssign(s, dir, nprobe)
      .groupBy(col("cid")).agg(count(lit(1)).as("occ"))
      .groupBy(length(bin(col("occ"))).cast("long").as("occ_bits"))
      .agg(count(lit(1)).as("n_cells"),
        min(col("occ")).as("min_occ"),
        max(col("occ")).as("max_occ"),
        sum(col("occ")).as("n_assignments"))

  /** Portable (Spark `instr` / DuckDB `strpos`) 48-bit integer from the
    * first 12 hex digits of hex-string expression `h`.
    */
  private def hex12ToLong(h: String, posFn: String): String =
    (1 to 12).map { i =>
      s"CAST($posFn('0123456789abcdef', substring($h, $i, 1)) - 1 AS BIGINT) * ${1L << (4 * (12 - i))}"
    }.mkString("(", " + ", ")")

  /** HNSW level draw as trailing base-4 zeros of integer expression `h`:
    * P(level >= l) = 4^-l, exactly the geometric floor(-ln(u) * mL)
    * assignment at mL = 1/ln(4) (i.e. M = 4), but in PURE INTEGER
    * arithmetic — no ln/floor doubles whose boundary rounding could
    * disagree across engines. Capped at 16 (P ≈ 2e-10: unreachable
    * until ~4^16 ≈ 4e9 nodes per partition-of-draws; the cap only
    * flattens the astronomically rare tail into one level).
    */
  private def levelFromH(h: String): String =
    (1 to 16).map(l => s"(CASE WHEN $h % ${1L << (2 * l)} = 0 THEN 1 ELSE 0 END)")
      .mkString("(", " + ", ")")

  /** Deterministic HNSW layer assignment per vector (reference serving
    * index: qdrant.py:73-79 delegates this to Qdrant's HNSW; here the
    * draw is explicit): level = trailing base-4 zeros of a 48-bit
    * md5-derived integer — the classic geometric level distribution
    * (Malkov & Yashunin 2016, level = floor(-ln(u)·mL)) made
    * integer-exact and cross-engine portable, so the DuckDB oracle
    * reproduces every draw bit-for-bit. A pure per-row projection: at
    * 100 TB this is a map stage over the vector ids, no shuffle at all.
    */
  def hnswLevels(s: SparkSession, dir: String): DataFrame =
    hnswLevelsOver(Graft.embeddings(s, dir))

  /** Session-memoized descent entry state of the LIVE layered walks:
    * (top-layer entry node set with vectors, max level). Every layered
    * serving walk starts by (a) aggregating the level draw for the max
    * level and (b) scanning embeddings ⋈ levels for the top layer's
    * node set — two jobs of ~0.1-0.4 s each that are a pure function of
    * the corpus dir and were re-run by EVERY walk query (r20 JobProbe:
    * the two biggest jobs of a warm walk). The entry set is ≤ a handful
    * of rows (4^-Lmax of the corpus); maxLevel is one long. Memoizing
    * them is the serving-tier reality — a deployment holds the entry
    * points in its generation manifest (publishHnswGen already writes
    * exactly this state) — and changes no values: same frame, same agg.
    */
  private val maxLevelMemo = scala.collection.mutable.Map.empty[String, Long]
  private[graft] def hnswEntryState(s: SparkSession, dir: String): (DataFrame, Long) = {
    // lazy: reading the corpus infers its parquet schema with a job, which
    // a warm call (both memos hit) must not pay
    lazy val lv = hnswLevels(s, dir)
    val ml = synchronized(maxLevelMemo.get(dir)).getOrElse {
      val mlRow = lv.agg(max(col("level")).as("ml")).collect().head
      val v = if (mlRow.isNullAt(0)) 0L else mlRow.getLong(0)
      synchronized(maxLevelMemo.getOrElseUpdate(dir, v))
    }
    val entry = Graft.memoFlat("hnsw_entry_nodes", dir) {
      Graft.embeddings(s, dir)
        .join(lv.filter(col("level") === ml).select(col("vec_id")), "vec_id")
        .select(col("vec_id").as("node"), col("embedding").as("nv"))
    }
    (entry, ml)
  }
  Graft.onRelease(() => synchronized(maxLevelMemo.clear()))

  /** The deterministic level draw over any (vec_id, ...) frame — a pure
    * per-row function of vec_id, so stored-slice and full-corpus builds
    * agree on every node's level (the property the layered INSERT needs:
    * a node's layer membership never changes when the corpus grows).
    */
  private[graft] def hnswLevelsOver(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
        expr(hex12ToLong("md5(cast(vec_id as string))", "instr")).as("h"))
      .select(col("vec_id"), expr(levelFromH("h")).cast("long").as("level"))

  /** Level histogram of the HNSW layer assignment — the keyed,
    * oracle-checked face of [[hnswLevels]]: n_nodes at each level, so
    * the expected 4^-l geometric decay (and the resulting per-layer
    * build budgets) is verified against the exact cross-engine draw.
    */
  def hnswLayerHistogram(s: SparkSession, dir: String): DataFrame =
    hnswLevels(s, dir).groupBy(col("level")).agg(count(lit(1)).as("n_nodes"))

  /** Layer-mass health report: per-LAYER membership (suffix sums of the
    * level histogram — a node of level v belongs to layers 0..v) vs the
    * expected 4^-layer geometric decay, as an exact integer ratio in
    * micros. This is the monitoring face of [[hnswGraph]]'s census: a
    * ratio drifting from ~1e6 means the level draw is biased (bad hash,
    * corrupted ids) and the per-layer build budgets (sqrt(n_l) seeds,
    * (n/4^l)^1.5 pair bound) no longer hold. Cost: one map-side
    * combinable groupBy over a vec_id-only projection of the corpus,
    * then arithmetic on <= 17 rows.
    */
  def hnswLayerMass(s: SparkSession, dir: String): DataFrame = {
    val nTot = Graft.tableRows(s, dir, "embeddings")
    val expected = s"CAST($nTot AS BIGINT) div shiftleft(CAST(1 AS BIGINT), CAST(2 * layer AS INT))"
    hnswLevels(s, dir).groupBy(col("level"))
      .agg(count(lit(1)).as("cl"))
      .select(explode(expr("sequence(0L, level)")).as("layer"), col("cl"))
      .groupBy(col("layer")).agg(sum(col("cl")).as("n_members"))
      .select(col("layer"), col("n_members"),
        expr(expected).as("expected_n"),
        expr(s"n_members * 1000000 div greatest($expected, 1)").as("mass_ratio_micros"))
  }

  /** Batch HNSW index construction: the layered completion of
    * [[nswGraph]] (reference serving index: qdrant.py:73-79). Each node
    * draws its geometric [[hnswLevels]] level and belongs to layers
    * 0..level (so layers shrink 4× per step and upper layers are tiny
    * by construction); every layer gets k-NN edges from the same
    * blocked algorithm as the flat graph, with per-layer sqrt(n_l)
    * centroid fanout. Greedy search then descends: coarse long-range
    * hops in the sparse upper layers, refinement in layer 0 (HnswSpec
    * asserts the descent finds at least as many true NNs as flat-NSW
    * search at lower expansion cost).
    *
    * Scale shape — ONE declarative plan for the whole stack, `layer` is
    * just another key column (a driver loop building one DAG per layer
    * measured 91s at sf0.1 on pure stage/codegen overhead; this plan
    * runs the same work in a handful of shuffles):
    *  1. explode each node into its 0..level layer memberships
    *     (Σ(level+1) ≈ 4N/3 rows — the geometric draw bounds the blowup);
    *  2. a per-layer census (`groupBy(layer).count` — map-side
    *     combinable, ≤ 17 output rows) broadcast back picks each
    *     layer's ~max(8, √n_l) centroid seeds by a dense-id THRESHOLD
    *     (see below) — never a window partitioned by `layer` alone,
    *     which would put the whole base layer (ALL N nodes are layer-0
    *     members) into one window partition: a single-task full-corpus
    *     sort at 100 TB (the round-8 shape; ScaleLayoutSpec and
    *     PlanLintSpec now pin its absence);
    *  3. per-layer centroid arrays collapse to <= 17 rows, broadcast,
    *     and the top-nprobe cell assignment is one projection;
    *  4. blocked pairs join on (layer, cid) — ONE shuffle carries every
    *     layer's candidate stream; hash(layer, cid) already satisfies
    *     the per-(src, layer, cid) heap's clustering, so the full
    *     stream again hits no extra exchange;
    *  5. NN-descent + reciprocity run layer-qualified, k-bounded.
    * Layer l >= 1 pays the (n/4^l)^1.5 pair bound, so the upper stack
    * costs < 15% of the base build.
    *
    * Seed rule: vec_ids are dense over [0, N) and layer-l membership
    * (md5 draw) is pseudo-uniform over ids, so a layer with n_l members
    * has ≈ t·n_l/N of them below any id threshold t. Taking
    * thr_l = ceil(N·target_l/n_l) with target_l = min(n_l, max(8, ⌊√n_l⌋))
    * yields ~target_l seeds per layer from a PURE per-row filter — no
    * ordering anywhere. The layer's min vec_id is OR-ed in so even an
    * unluckily thresholded sparse layer keeps ≥ 1 centroid. Layer 0
    * (n_0 = N) reduces to exactly the flat build's `vec_id < max(8, √N)`
    * rule ([[nswCells]], Ann.scala:247).
    */
  def hnswGraph(s: SparkSession, dir: String, k: Int = 4, nprobe: Int = 3): DataFrame =
    // like the flat build: the layered index memoizes per session — the
    // keyed query, the layer-mass report and HnswSpec's descent all read
    // one persisted edge stack
    Graft.memoCache(s"hnsw_graph_${k}_$nprobe", dir) {
      hnswGraphBuild(s, dir, k, nprobe)
    }

  private def hnswGraphBuild(s: SparkSession, dir: String, k: Int, nprobe: Int): DataFrame = {
    val e = Graft.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    hnswEdgesFromCells(e, hnswFullCells(s, dir, nprobe).hint("SHUFFLE_HASH"), k)
  }

  /** Memoized per-layer cell assignment of the FULL corpus — the
    * layered twin of [[nswCells]] (r20 opt): the layered build's pair
    * self-join references its cells frame twice, and inline that meant
    * the whole nodes→census→centroid→assignment subtree was re-planned
    * and re-executed per reference (the flat build learned this in r12
    * — see nswCells' measured 0.77s-vs-2.42s note). memoFlat flattens
    * both references to one materialized scan; the SHUFFLE_HASH hint is
    * re-applied at the use site because a hint inside a checkpointed
    * plan is stranded (the hnswStoredGraph lesson).
    */
  private[graft] def hnswFullCells(s: SparkSession, dir: String, nprobe: Int): DataFrame =
    Graft.memoFlat(s"hnsw_cells_full_$nprobe", dir) {
      val e = Graft.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val nTot = Graft.tableRows(s, dir, "embeddings")
      val nodes = hnswNodesOver(e)
      val cents = hnswCentsOver(nodes, hnswLevelsOver(e), nTot, "hnswGraph")
      hnswCellsOver(nodes, cents, nprobe)
    }

  /** Layered membership frame (vec_id, embedding, nrm, layer) — norms
    * once per VECTOR, before the layer explode, so every later pair
    * cosine is dot-only.
    */
  private def hnswNodesOver(e: DataFrame): DataFrame =
    withNorm(e).join(hnswLevelsOver(e), "vec_id")
      .select(col("vec_id"), col("embedding"), col("nrm"),
        explode(expr("sequence(0L, level)")).as("layer"))

  /** Per-layer centroid arrays (layer, cents) of the layered build —
    * census DERIVED from the N-row level frame, not a pass over the
    * 4N/3-row membership explode: layer-l members are exactly the nodes
    * with level >= l, so nl/mid are suffix aggregates of the <= 17-row
    * per-LEVEL histogram (itself a map-side-combinable groupBy over a
    * vec_id-only projection — the scan prunes the vector column).
    * Layered centroid stack: Σ_l √(N·4^-l) = √N · Σ_l 2^-l < 2√N rows
    * broadcast in total — same ~300 B/row curve as the flat build
    * (see centroidBroadcastBudgetBytes), refused loudly past budget.
    */
  private def hnswCentsOver(nodes: DataFrame, levels: DataFrame, nTot: Long,
                            who: String): DataFrame = {
    requireCentroidBudget(2L * sqrtFanout(nTot), who)
    val census = levels.groupBy(col("level"))
      .agg(count(lit(1)).as("cl"), min(col("vec_id")).as("lmid"))
      .select(explode(expr("sequence(0L, level)")).as("layer"), col("cl"), col("lmid"))
      .groupBy(col("layer"))
      .agg(sum(col("cl")).as("nl"), min(col("lmid")).as("mid"))
    val seedThr = census.select(col("layer"), col("mid"),
      expr(s"(CAST($nTot AS BIGINT) * least(nl, greatest(CAST(8 AS BIGINT), " +
        "cast(floor(sqrt(nl)) as bigint))) + nl - 1) div nl").as("thr"))
    nodes.join(broadcast(seedThr), "layer")
      .filter(col("vec_id") < col("thr") || col("vec_id") === col("mid"))
      .groupBy(col("layer"))
      .agg(sort_array(collect_list(struct(col("vec_id").as("cid"), col("embedding").as("cvec"),
        col("nrm").as("cnrm")))).as("cents"))
  }

  /** Per-layer top-nprobe cell assignment of `nodes` against the
    * (broadcast) per-layer centroid arrays.
    */
  private def hnswCellsOver(nodes: DataFrame, cents: DataFrame, nprobe: Int): DataFrame =
    nodes.join(broadcast(cents), "layer")
      .select(col("layer"), col("vec_id"), col("embedding"), col("nrm"),
        explode(expr(s"slice(array_sort(transform(cents, c -> named_struct(" +
          s"'negc', -round(fvec_dot(embedding, c.cvec) / (nrm * c.cnrm), 6), 'cid', c.cid))), 1, $nprobe)"))
          .as("cc"))
      .select(col("layer"), col("vec_id"), col("embedding"), col("nrm"), col("cc.cid").as("cid"))
      .hint("SHUFFLE_HASH")

  /** The layered build's edge stage over a prepared cell assignment:
    * blocked pairs in ONE (layer, cid) shuffle (cosine inline in the
    * join projection so vectors never ride a pair shuffle), per-cell
    * heap, per-(src,layer) round-1 cut, one hop2 NN-descent round, and
    * the mutual flag. Shared by the full build and the stored-slice
    * build of the layered INSERT (`ann_hnsw_insert`).
    */
  private def hnswEdgesFromCells(e: DataFrame, cells: DataFrame, k: Int): DataFrame = {
    val edges = hnswEdgesCore(e, cells, k)
    val rev = edges.select(col("layer").as("r_layer"),
      col("src").as("r_src"), col("dst").as("r_dst"))
    edges.join(rev, col("layer") === col("r_layer") &&
        col("src") === col("r_dst") && col("dst") === col("r_src"), "left")
      .select(col("layer"), col("src"), col("dst"), col("cos"), col("rn"),
        col("r_src").isNotNull.as("mutual"))
  }

  /** [[hnswEdgesFromCells]] minus the mutual flag — the ranked per-layer
    * edge stack (layer, src, dst, cos, rn) shared with the dedup-gated
    * layered build, whose output contract carries `is_attach` instead
    * of `mutual`.
    */
  private def hnswEdgesCore(e: DataFrame, cells: DataFrame, k: Int): DataFrame = {
    val pairs = cells.as("x").join(cells.as("y"),
        col("x.layer") === col("y.layer") && col("x.cid") === col("y.cid") &&
          col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.layer").as("layer"), col("x.vec_id").as("src"), col("x.cid").as("cid"),
        col("y.vec_id").as("dst"),
        round(VectorOps.dot(col("x.embedding"), col("y.embedding"))
          / (col("x.nrm") * col("y.nrm")), 6).as("cos"))
    val wCell = Window.partitionBy(col("src"), col("layer"), col("cid"))
      .orderBy(col("cos").desc, col("dst"))
    val perCell = pairs
      .withColumn("rn", row_number().over(wCell)).filter(col("rn") <= k)
      .select(col("layer"), col("src"), col("dst"), col("cos"))
    val wTop = Window.partitionBy(col("src"), col("layer"))
      .orderBy(col("cos").desc, col("dst"))
    val r1 = perCell.distinct()
      .withColumn("rn", row_number().over(wTop)).filter(col("rn") <= k)
      .select(col("layer"), col("src"), col("dst"), col("cos"))
    val und = r1.select(col("layer"), col("src"), col("dst"))
      .union(r1.select(col("layer"), col("dst").as("src"), col("src").as("dst")))
    val hop2 = und.as("a").join(und.as("b"),
        col("a.layer") === col("b.layer") && col("a.dst") === col("b.src") &&
          col("a.src") =!= col("b.dst"))
      .select(col("a.layer").as("layer"), col("a.src").as("src"), col("b.dst").as("dst"))
      .distinct()
    val en = withNorm(e)
    val hop2Scored = hop2
      .join(en.select(col("vec_id").as("src"), col("embedding").as("sv"),
        col("nrm").as("snrm")).hint("SHUFFLE_HASH"), "src")
      .join(en.select(col("vec_id").as("dst"), col("embedding").as("dv"),
        col("nrm").as("dnrm")).hint("SHUFFLE_HASH"), "dst")
      .select(col("layer"), col("src"), col("dst"),
        round(VectorOps.dot(col("sv"), col("dv")) / (col("snrm") * col("dnrm")), 6).as("cos"))
    r1.union(hop2Scored).distinct()
      .withColumn("rn", row_number().over(wTop).cast("long")).filter(col("rn") <= k)
  }

  /** Stored-slice layered cells, memoized — the layered INSERT's probe
    * structure (the flat insert's nswStoredCells with a layer key).
    */
  private[graft] def hnswStoredCells(s: SparkSession, dir: String, split: Long,
                                     nprobe: Int): DataFrame =
    Graft.memoFlat(s"hnsw_cells_ins_${split}_$nprobe", dir) {
      val eS = Graft.embeddings(s, dir).filter(col("vec_id") < split)
        .select(col("vec_id"), col("embedding"))
      hnswCellsOver(hnswNodesOver(eS), hnswStoredCents(s, dir, split), nprobe)
    }

  /** Stored-slice per-layer centroid stack (dense-id contract: stored
    * ids run 0..split-1, so |stored| = split). Session-memoized (r20
    * opt): the layered insert evaluated this ≤ 17-row census-and-
    * collect subtree TWICE per run — once inside the memoized stored
    * cells, once again for the batch's cell assignment — and the
    * subtree is several stages deep (per-level census, suffix explode,
    * threshold join, collect_list agg).
    */
  private def hnswStoredCents(s: SparkSession, dir: String, split: Long): DataFrame =
    Graft.memoFlat(s"hnsw_cents_stored_$split", dir) {
      val eS = Graft.embeddings(s, dir).filter(col("vec_id") < split)
        .select(col("vec_id"), col("embedding"))
      hnswCentsOver(hnswNodesOver(eS), hnswLevelsOver(eS), split, "hnswGraphInsert stored")
    }

  /** Stored-slice layered build, memoized — the generation the layered
    * insert folds into.
    */
  private[graft] def hnswStoredGraph(s: SparkSession, dir: String, split: Long,
                                     k: Int, nprobe: Int): DataFrame =
    Graft.memoCache(s"hnsw_graph_ins_${split}_${k}_$nprobe", dir) {
      val eS = Graft.embeddings(s, dir).filter(col("vec_id") < split)
        .select(col("vec_id"), col("embedding"))
      // re-apply the join hint AFTER the cache read: the hint embedded
      // by hnswCellsOver is stranded inside the cached plan (Spark logs
      // "join hint ... not part of a join relation"), so without this
      // the pair self-join degrades to SortMergeJoin — sorting the fat
      // exploded vectors frame twice. Measured at the 30x corpus:
      // stored build 57.3s -> SHJ restores the flat-build shape (the
      // flat nswStoredGraph always re-hinted; this path forgot to).
      // r21: every consumer re-selects (layer, src, dst, cos, rn) — the
      // stored generation is built WITHOUT the mutual flag (the
      // reciprocity join is row-preserving, see nswFinishEdges)
      hnswEdgesCore(eS, hnswStoredCells(s, dir, split, nprobe).hint("SHUFFLE_HASH"), k)
    }

  /** INCREMENTAL maintenance of the LAYERED index — [[nswGraphInsert]]'s
    * asymmetric pattern applied to the structure the serving walk
    * ([[hnswSearch]]) actually reads (until r15 the layered index was
    * rebuilt per corpus generation while only the flat NSW graph had an
    * insert path). A batch of new vectors (vec_id >= 4N/5) folds into
    * the STORED layered build:
    *
    *  1. each new vector draws its level from the SAME deterministic
    *     md5 draw as the build ([[hnswLevelsOver]] is a pure function
    *     of vec_id — a node's layer membership never changes when the
    *     corpus grows), and joins layers 0..level;
    *  2. per layer, the batch members assign to their top-`nprobe`
    *     STORED centroids (|B_l|·√|S_l| scoring — ∝ batch, the layered
    *     probe cost a descent pays);
    *  3. candidate pairs, touched-src re-rank and untouched
    *     pass-through run per (layer, src) — [[nswGraphInsert]]'s merge
    *     with `layer` added to every key, all ranking work ∝ batch;
    *  4. ONE bounded NN-descent repair round per layer over
    *     touched+new srcs (work ∝ batch·k² per layer, geometrically
    *     thinner per level).
    *
    * HIERARCHY-HEIGHT CAP (deliberate trade): batch nodes assign via
    * the STORED per-layer centroids, so a new node whose level draw
    * exceeds the stored hierarchy's max layer gets edges only up to
    * that stored height — its top-layer memberships materialize at the
    * next full rebuild. P(draw > Lmax(stored)) ≈ 4^-Lmax per insert
    * (one in ~4^5 ≈ 1000 at the 500-node verify corpus, vanishing as
    * the stored corpus grows), and a missing top-layer edge only
    * shortens the descent's express lanes — recall degrades by at most
    * the descent-entry difference, never correctness. Seeding a fresh
    * centroid for a newly drawn top layer would grow height online but
    * makes the merge order-dependent; rebuild-on-epoch is the
    * deployment answer.
    *
    * Output (layer, src, dst, cos, rn) — the merged generation
    * [[hnswSearch]]'s descent serves (spec-verified in HnswSpec; the
    * keyed `ann_hnsw_insert` oracle unrolls stored-build + insert per
    * layer).
    */
  def hnswGraphInsert(s: SparkSession, dir: String, k: Int = 4, nprobe: Int = 3): DataFrame = {
    val nTot = Graft.tableRows(s, dir, "embeddings")
    val split = nTot * InsertSplitNum / InsertSplitDen
    val e = Graft.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val eB = e.filter(col("vec_id") >= split)
    val storedEdges = hnswStoredGraph(s, dir, split, k, nprobe)
      .select(col("layer"), col("src"), col("dst"), col("cos"), col("rn"))
    val storedCells = hnswStoredCells(s, dir, split, nprobe)
    val batchCells = hnswCellsOver(hnswNodesOver(eB), hnswStoredCents(s, dir, split), nprobe)
    hnswInsertCore(storedCells, batchCells, storedEdges, e, k)
  }

  /** Layered incremental insert over an ARBITRARY stored generation —
    * [[nswInsertBatch]]'s contract applied to the hierarchy: the core
    * of [[hnswGraphInsert]] (which fixes stored = the vec_id < 4N/5
    * slice for the keyed oracle) and of the LAYERED streaming index
    * maintenance ([[graft.streaming.IndexStreams.maintainHnswIndex]]:
    * each microbatch is a `batchEmb`). Same id contract as the flat
    * batch insert: `storedEmb`/`batchEmb` are (vec_id, embedding)
    * frames with DISJOINT ids, stored ids dense from 0 (the per-layer
    * centroid stacks are dense-id threshold picks). One count job
    * sizes the stored corpus for the centroid budget — bounded
    * driver-side metadata, exactly what a generation manifest holds.
    */
  def hnswInsertBatch(storedEmb: DataFrame, storedEdges: DataFrame,
                      batchEmb: DataFrame, k: Int = 4, nprobe: Int = 3): DataFrame = {
    val eS = storedEmb.select(col("vec_id"), col("embedding"))
    val nS = eS.count()
    val nodesS = hnswNodesOver(eS)
    val cents = hnswCentsOver(nodesS, hnswLevelsOver(eS), nS, "hnswInsertBatch stored")
    val storedCells = hnswCellsOver(nodesS, cents, nprobe)
    val batchCells =
      hnswCellsOver(hnswNodesOver(batchEmb.select(col("vec_id"), col("embedding"))), cents, nprobe)
    val allEmb = eS.unionByName(batchEmb.select(col("vec_id"), col("embedding")))
    hnswInsertCore(storedCells, batchCells,
      storedEdges.select(col("layer"), col("src"), col("dst"), col("cos"), col("rn")),
      allEmb, k)
  }

  /** The shared merge+repair core of the layered insert (see
    * [[hnswGraphInsert]] for the full semantics & cost contract):
    * blocked batch→all pairs per (layer, cell), lossless per-cell
    * pre-cut, touched-src re-rank with untouched pass-through, one
    * bounded per-layer NN-descent repair round. `allEmb` = stored ∪
    * batch vectors, read once for the repair's score attach.
    */
  private def hnswInsertCore(storedCells: DataFrame, batchCells: DataFrame,
                             storedEdges: DataFrame, allEmb: DataFrame,
                             k: Int): DataFrame =
    hnswInsertCoreT(storedCells, batchCells, storedEdges, allEmb, k)._1

  /** [[hnswInsertCore]] also returning the TOUCHED base-layer srcs —
    * the [[nswInsertCoreT]] split applied to the hierarchy: the layered
    * DEDUPED fold needs them to refresh stored dups whose canonical's
    * layer-0 neighborhood the merge changed.
    */
  private def hnswInsertCoreT(storedCells: DataFrame, batchCells: DataFrame,
                              storedEdges: DataFrame, allEmb: DataFrame,
                              k: Int): (DataFrame, DataFrame) = {
    val allCells = storedCells
      .select(col("layer"), col("vec_id"), col("embedding"), col("nrm"), col("cid"))
      .withColumn("stored", lit(true))
      .union(batchCells.withColumn("stored", lit(false)))
      .hint("SHUFFLE_HASH")
    val pairs = batchCells.as("x").join(allCells.as("y"),
        col("x.layer") === col("y.layer") && col("x.cid") === col("y.cid") &&
          col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.layer").as("layer"), col("x.vec_id").as("src"), col("x.cid").as("cid"),
        col("y.vec_id").as("dst"), col("y.stored").as("dst_stored"),
        round(VectorOps.dot(col("x.embedding"), col("y.embedding"))
          / (col("x.nrm") * col("y.nrm")), 6).as("cos"))
    // batch→batch pairs already appear in both orientations; only
    // batch→stored reverses (the flat insert's duplicate-row argument)
    val undRaw = pairs.select(col("layer"), col("src"), col("cid"), col("dst"), col("cos"))
      .union(pairs.filter(col("dst_stored"))
        .select(col("layer"), col("dst").as("src"), col("cid"), col("src").as("dst"), col("cos")))
    // per-(src, layer, cell) lossless pre-cut before the distinct —
    // nswInsertCore's heap argument, layer-keyed
    val wCell = Window.partitionBy(col("src"), col("layer"), col("cid"))
      .orderBy(col("cos").desc, col("dst"))
    // localCheckpoint, not persist — the flat-insert planning lesson
    // (per-stage AQE re-planning over the deep pair-join tree)
    val undp = undRaw
      .withColumn("rn", row_number().over(wCell)).filter(col("rn") <= k)
      .select(col("layer"), col("src"), col("dst"), col("cos"))
      .localCheckpoint(true)
    val touched = undp.select(col("layer"), col("src")).distinct()
    val touchedOld = storedEdges.join(touched, Seq("layer", "src"), "left_semi")
      .select(col("layer"), col("src"), col("dst"), col("cos"))
    val wTop = Window.partitionBy(col("src"), col("layer"))
      .orderBy(col("cos").desc, col("dst"))
    val reranked = touchedOld.union(undp).distinct()
      .withColumn("rn", row_number().over(wTop).cast("long")).filter(col("rn") <= k)
      .select(col("layer"), col("src"), col("dst"), col("cos"), col("rn"))
    val untouched = storedEdges.join(touched, Seq("layer", "src"), "left_anti")
    val merged = untouched.unionByName(reranked).localCheckpoint(true)
    // bounded per-layer NN-descent repair round over touched+new srcs
    val mg = merged.select(col("layer"), col("src"), col("dst"), col("cos"))
    val undM = mg.select(col("layer"), col("src"), col("dst"))
      .union(mg.select(col("layer"), col("dst").as("src"), col("src").as("dst")))
    val hop2 = undM.join(touched, Seq("layer", "src"), "left_semi").as("a")
      .join(undM.as("b"),
        col("a.layer") === col("b.layer") && col("a.dst") === col("b.src") &&
          col("a.src") =!= col("b.dst"))
      .select(col("a.layer").as("layer"), col("a.src").as("src"), col("b.dst").as("dst"))
      .distinct()
    val vecs = withNorm(allEmb)
    val h2c = hop2
      .join(vecs.select(col("vec_id").as("src"), col("embedding").as("xe"), col("nrm").as("xn")), "src")
      .join(vecs.select(col("vec_id").as("dst"), col("embedding").as("ye"), col("nrm").as("yn")), "dst")
      .select(col("layer"), col("src"), col("dst"),
        round(VectorOps.dot(col("xe"), col("ye")) / (col("xn") * col("yn")), 6).as("cos"))
    val tch = mg.join(touched, Seq("layer", "src"), "left_semi")
    val repaired = tch.union(h2c).distinct()
      .withColumn("rn", row_number().over(wTop).cast("long")).filter(col("rn") <= k)
      .select(col("layer"), col("src"), col("dst"), col("cos"), col("rn"))
    (merged.join(touched, Seq("layer", "src"), "left_anti").unionByName(repaired),
      touched.filter(col("layer") === 0L).select(col("src")).localCheckpoint(true))
  }

  /** Beam width of the batch graph search (HNSW's ef). Measured recall
    * curve at sf0.01 (k=4 out-degree graph, rounds=8): ef 8 → 0.31,
    * 16 → 0.55, 32 → 0.79, 48 → 0.85 — the classic ef/recall trade;
    * 32 is the registered operating point. The expansion budget is
    * ef·2k nodes scored per round regardless of corpus size.
    */
  val GraphSearchBeam = 32

  /** Fixed expansion rounds of the batch graph search: each round every
    * query's beam expands one hop, so `rounds` bounds the graph distance
    * travelled from the entry point — the batch analog of an ef-bounded
    * best-first search's expansion budget. Measured: recall converges by
    * round 6-8 at every ef (the beam reaches its basin and stops
    * improving), so 8 buys the full converged recall.
    */
  val GraphSearchRounds = 8

  /** Result depth k of the batch graph search. */
  val GraphSearchK = 4

  /** Query batch size of the keyed graph-search queries. */
  val GraphSearchQueryCount = 20

  /** Deterministic query batch for the graph-search queries: every 25th
    * vector (residue 7 — never the entry node), capped at
    * [[GraphSearchQueryCount]].
    */
  private[graft] def graphSearchQueries(s: SparkSession, dir: String): DataFrame =
    // session-memoized (r20 opt): ~20 serving-walk queries each collect
    // this 20-row batch, and un-memoized every one re-ran the parquet
    // scan + sort + limit (~0.1-0.35 s per walk). memoFlat materializes
    // it once per dir; the batch is a pure function of the corpus.
    Graft.memoFlat("graph_search_queries", dir) {
      Graft.embeddings(s, dir)
        .filter(pmod(col("vec_id"), lit(25L)) === 7L)
        .orderBy(col("vec_id")).limit(GraphSearchQueryCount)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    }

  /** Batch search THROUGH the built NSW graph — the reference's actual
    * serving operation (qdrant.py:210-246 queries Qdrant's HNSW; until
    * r14 the repo only BUILT the graph and spec'd descent). Semantics:
    * HNSW-style descent-then-refine, batch-formulated —
    *
    *  1. ENTRY: each query scores the graph's √N centroid set (the
    *    flat graph's navigable coarse layer — the exact node set the
    *    build blocked on) and starts its beam at the best one; this is
    *    the batch analog of descending HNSW's sparse upper layers to a
    *    layer-0 entry (one Q×√N scoring pass, the same cost shape as
    *    the build's own assignment stage);
    *  2. REFINE: `rounds` synchronized beam-expansion rounds — every
    *    round expands ALL beam nodes one hop along the undirected edge
    *    frame, rescores, keeps the per-query top-`beam` — the batch
    *    formulation of an ef-bounded best-first search (deterministic:
    *    fixed round count, (score desc, node) total-order tie-breaks; a
    *    sequential pop-one-node frontier would be driver-side and
    *    unverifiable cross-engine).
    *
    * Scale shape: the graph is the big side (k·N edges, memoized — a
    * serving tier's loaded index); per round the state is Q·beam rows,
    * candidates ≤ Q·beam·2k. At the keyed query's bounded Q the rounds
    * run in process over a driver snapshot of the index
    * ([[driverWalk]]); a production-sized query batch runs them as
    * Spark jobs — cost per round is Q·beam·2k score kernels,
    * INDEPENDENT of corpus size N, which is the entire point of serving
    * through a navigable graph instead of scanning.
    */
  /** THE SERVING INDEX of the flat-graph searches: undirected adjacency
    * with the destination's vector, norm and label metadata attached
    * ONCE (2kN rows, memoFlat: eagerly materialized + plan-flattened,
    * session-shared) — the frame a serving tier holds in memory, read
    * whole by the driver walks' snapshot and probed per round by the
    * distributed walks: no per-round vector re-attach and no
    * per-action re-planning of the deep build plan (the memoFlat
    * rationale — measured 7× per probe; serving off this frame now
    * matches serving off a written generation). The label rides along
    * (one int per row) so the filtered search reads the SAME index — a
    * serving tier stores filterable payload next to the vectors
    * (qdrant.py:139-176 puts the article metadata in the point payload
    * for exactly this reason).
    */
  private[graft] def graphSearchIndex(s: SparkSession, dir: String): DataFrame =
    Graft.memoFlat("graph_search_index", dir) {
      // r21: the undirected closure reads only (src, dst) — ride the
      // routed no-mutual edge frame so a serving session never pays the
      // reciprocity join just to throw its flag away
      val edges = nswEdgesNoMutual(s, dir)
      val en = Graft.embeddings(s, dir)
        .select(col("vec_id").as("dst"), col("embedding").as("dv"),
          VectorOps.norm(col("embedding")).as("dnrm"), col("label").as("dlabel"))
      edges.select(col("src"), col("dst"))
        .union(edges.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
        .join(en.hint("SHUFFLE_HASH"), "dst")
        .select(col("src"), col("dst"), col("dv"), col("dnrm"), col("dlabel"))
        .repartition(indexPartitions(Graft.tableRows(s, dir, "embeddings")), col("src"))
    }

  /** Size-derived partition count for a SERVING INDEX frame: ~2kN
    * undirected edge rows × ~300 B payload, sized to ≥128 MB per
    * partition (guide §2.2: partitions in the 100 MB–1 GB range, never
    * a core-count constant). Every distributed (or Spark-probe) round
    * probes the checkpointed index with one job, and each job runs one
    * task per index partition: at sf0.1 (2k vectors → ~5 MB index) the
    * warm layered walk measured job-count-bound at ~45 ms/job across 32
    * micro-partitions of ~150 KB — this collapses those to ONE task —
    * while at 10^9 vectors it yields ~4.5k partitions of ~128 MB. AQE
    * cannot make this choice for the frame: coalescePartitions'
    * parallelismFirst default deliberately keeps defaultParallelism
    * partitions for reduce-side parallelism, which is the right call
    * for compute stages and the wrong one for a many-times-probed
    * materialized index.
    */
  private def indexPartitions(nRows: Long, fanout: Long = 8L,
                              rowBytes: Long = centroidRowBytes): Int =
    math.max(1L, math.min(1L << 18, (nRows * fanout * rowBytes) >> 27)).toInt

  /** Serving-graph connectivity census: cumulative share of the corpus
    * reachable from the √N entry set within 0..`rounds` BFS hops over
    * the undirected serving adjacency — the index-health metric behind
    * every beam-walk recall number (an unreachable island never
    * surfaces in ANY search, whatever the beam; HNSW papers call this
    * the connectivity property the long-range links exist to buy).
    * Stagnating reach across rounds localizes WHERE the graph is
    * fragmented: a low round-0 share means a too-small entry fanout, a
    * flat tail means disconnected components.
    *
    * Scale shape — frontier-pruned distributed BFS: per round the
    * adjacency is probed by the FRONTIER only (nodes first reached last
    * round, shrinking geometrically once coverage saturates), new nodes
    * drop already-reached ones with an anti join, and both running
    * frames are lineage-cut per round (the clustersUnionFind iteration
    * pattern). Driver state is the ROUNDS-sized count list, never a
    * node set; every node-scaling structure stays distributed. Rounds
    * are a bounded constant, so the oracle unrolls to a static CTE
    * chain over the same generated graph.
    */
  def graphConnectivity(s: SparkSession, dir: String, rounds: Int = GraphConnRounds): DataFrame = {
    val nTot = Graft.tableRows(s, dir, "embeddings")
    // censusFrame's greatest(n,1): an empty corpus reports 0/0 as 0
    // micros instead of an ANSI divide-by-zero throw
    censusFrame(s, censusCounts(s, dir, sqrtFanout(nTot), rounds), nTot)
  }

  /** The frontier-BFS census core over an ARBITRARY undirected adjacency
    * frame (src, dst) and entry frame (node) — the frame-parameterized
    * face of the census, so the same walk audits the live session index,
    * a deduped/repaired build, and a WRITTEN generation artifact (the
    * thing a fleet actually monitors) without three copies of the BFS.
    */
  private[graft] def censusCountsOver(und: DataFrame, entries: DataFrame,
                                      rounds: Int,
                                      cap: Long = Long.MaxValue): Seq[(Long, Long)] = {
    // r21 (§5 fewer eager barriers): `reached` is never materialized —
    // round frontiers are DISJOINT by construction (each is distinct'd
    // and anti-joined against everything before it), so the reached set
    // is a plan-only union of the ≤rounds checkpointed frontier frames
    // and its count is the running sum of frontier counts. That drops
    // one O(reach)-row checkpoint job per round (the old code re-wrote
    // the whole cumulative set every round — O(rounds·N) checkpointed
    // bytes; now each node is materialized exactly once, O(N) total).
    var frontier = entries.select(col("node")).localCheckpoint(true)
    val frontiers = scala.collection.mutable.ArrayBuffer(frontier)
    val counts = scala.collection.mutable.ArrayBuffer((0L, frontier.count()))
    // FIXED-POINT EARLY FILL (r20 opt): a round that adds no nodes had
    // an empty frontier (reached grows iff the frontier is non-empty),
    // so every later round leaves `reached` unchanged — emit the same
    // count for the remaining rounds without running their jobs. Exact:
    // the output rows are identical to running all rounds; each skipped
    // round saves ~3 jobs + 2 checkpoints. A connected graph census
    // converges by round 2-3 of 4 at every probed scale.
    // `cap` = the number of census-visible nodes when the caller knows
    // it (the corpus size): reached ⊆ corpus, so hitting the cap IS the
    // fixed point — the remaining rounds fill without jobs. At the
    // probed scales every census reaches 100% one round before the
    // budget, so this saves the final full BFS round per census query.
    var r = 1
    var grew = true
    while (r <= rounds && grew && counts.last._2 < cap) {
      val reached = frontiers.reduce(_ unionByName _)
      val nbrs = und.join(frontier, col("src") === col("node"))
        .select(col("dst").as("node")).distinct()
      frontier = nbrs.join(reached, Seq("node"), "left_anti").localCheckpoint(true)
      val fc = frontier.count()
      if (fc > 0) frontiers += frontier
      grew = fc > 0
      counts += ((r.toLong, counts.last._2 + fc))
      // reached ⊆ corpus: a count past the cap means the adjacency names
      // a node outside it, and the early fill would report a false census
      if (counts.last._2 > cap)
        throw new IllegalStateException(
          s"census reached ${counts.last._2} nodes, past its cap of $cap census-visible nodes")
      r += 1
    }
    while (r <= rounds) { counts += ((r.toLong, counts.last._2)); r += 1 }
    counts.toSeq
  }

  /** The census core over the live session index, parameterized by the
    * dense-id entry threshold — shared by the keyed census and the
    * fanout sweep.
    */
  private def censusCounts(s: SparkSession, dir: String, entryThr: Long,
                           rounds: Int): Seq[(Long, Long)] =
    censusCountsOver(
      graphSearchIndex(s, dir).select(col("src"), col("dst")),
      Graft.embeddings(s, dir).filter(col("vec_id") < entryThr)
        .select(col("vec_id").as("node")),
      rounds, cap = Graft.tableRows(s, dir, "embeddings"))

  /** (round, n_reached, n_total, reach_micros) frame from a census count
    * list — shared result shaping for the census variants.
    */
  private def censusFrame(s: SparkSession, counts: Seq[(Long, Long)],
                          nTot: Long): DataFrame = {
    import s.implicits._
    counts.toDF("round", "n_reached")
      .select(col("round"), col("n_reached"), lit(nTot).as("n_total"),
        expr(s"n_reached * 1000000 div greatest(${nTot}L, 1L)").as("reach_micros"))
  }

  /** [[graphConnectivity]] read off the WRITTEN index generation instead
    * of the live session memo — what a serving fleet actually monitors
    * (the published artifact, not the build session's cache): adjacency
    * and entry set both come from [[writtenGraphGen]]'s parquet
    * generation, which ships the identical undirected closure and
    * √N entry rows the live census walks, so the two reports are
    * row-equal by the walks' read-equivalence convention (and checked so
    * by Round19OpsSpec + the shared DuckDB oracle).
    */
  def graphConnectivityFromGen(s: SparkSession, dir: String,
                               rounds: Int = GraphConnRounds): DataFrame = {
    val (adj, entry) = writtenGraphGen(s, dir)
    // eager checkpoint of the NARROW (src, dst) projection — the
    // graphConnectivityDeduped fix applied to the written artifact:
    // without it every BFS round re-plans and re-scans the full
    // payload-carrying generation frame (the persisted read-back holds
    // dv/dnrm/dlabel too), so the artifact is read once per round × two
    // references — at 100 TB that is 2×rounds object-store scans vs ONE
    // here (the checkpoint materializes the 16-byte-row adjacency in a
    // single pass and the rounds probe the flat blocks).
    val und = adj.select(col("src"), col("dst")).localCheckpoint(true)
    censusFrame(s,
      censusCountsOver(und, entry.select(col("node")), rounds,
        cap = Graft.tableRows(s, dir, "embeddings")),
      Graft.tableRows(s, dir, "embeddings"))
  }

  /** Entry-fanout SWEEP of the connectivity census — the tuning face of
    * [[graphConnectivity]]: the same 0..rounds reach curve at HALF,
    * BASE (= the serving walk's sqrt(N) entry set) and DOUBLE the entry
    * threshold. A low round-0 share with healthy growth says the entry
    * fanout, not the graph, is the bottleneck (grow the entry set); a
    * flat curve at every fanout says the graph itself is fragmented
    * (dedup or re-wire) — the census's two failure modes separated by
    * one report. Cost: three censuses over the one memoized adjacency;
    * the oracle shares the generated graph prelude across all three
    * chains in one statement.
    */
  def connectivityFanout(s: SparkSession, dir: String,
                         rounds: Int = GraphConnRounds): DataFrame = {
    import s.implicits._
    val nTot = Graft.tableRows(s, dir, "embeddings")
    val base = sqrtFanout(nTot)
    // the three fanout censuses are independent BFS sweeps over the one
    // memoized index — run them concurrently (Graft.inParallel): each
    // branch's per-round jobs back-fill the others' scheduling gaps
    val rows = Graft.inParallel(Seq(math.max(base / 2, 1L), base, base * 2)) { f =>
      censusCounts(s, dir, f, rounds).map { case (r, c) => (f, r, c) }
    }.flatten
    rows.toDF("entry_thr", "round", "n_reached")
      .select(col("entry_thr"), col("round"), col("n_reached"),
        expr(s"n_reached * 1000000 div greatest(${nTot}L, 1L)").as("reach_micros"))
  }

  /** Serving index over the DEDUP-GATED build — the undirected closure
    * of survivor + attach edges with vector/label payload, the
    * `graph_search_index` twin for the repaired graph (one hashed
    * payload join over the memoized edge frame; memoFlat so every
    * serving consumer shares the materialization).
    */
  private[graft] def dedupedSearchIndex(s: SparkSession, dir: String): DataFrame =
    Graft.memoFlat("dedup_search_index", dir) {
      val edges = nswGraphDeduped(s, dir)
      val en = Graft.embeddings(s, dir)
        .select(col("vec_id").as("dst"), col("embedding").as("dv"),
          VectorOps.norm(col("embedding")).as("dnrm"), col("label").as("dlabel"))
      edges.select(col("src"), col("dst"))
        .union(edges.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
        .join(en.hint("SHUFFLE_HASH"), "dst")
        .select(col("src"), col("dst"), col("dv"), col("dnrm"), col("dlabel"))
        .repartition(indexPartitions(Graft.tableRows(s, dir, "embeddings")), col("src"))
    }

  /** The batch beam walk SERVED OFF the dedup-gated build — the serving
    * face of the repair: on a replica-heavy corpus the plain walk is
    * trapped inside the entry set's copy-cliques (a query whose
    * duplicates lie outside them can never reach ANY of its true
    * neighbors, whatever the beam), while this walk crosses the attach
    * edges to canonicals and back out to every duplicate
    * (Round19OpsSpec: all 20 queries recover a score-1.0 copy of
    * themselves vs half on the plain index). Entry rule, beam, rounds
    * and driver/distributed routing are [[graphSearch]]'s — only the
    * adjacency differs; on a dup-free corpus the two walks are
    * identical.
    */
  def graphSearchDeduped(s: SparkSession, dir: String, k: Int = GraphSearchK,
                         beam: Int = GraphSearchBeam,
                         rounds: Int = GraphSearchRounds): DataFrame = {
    val cents = Graft.embeddings(s, dir)
      .filter(col("vec_id") < sqrtFanout(Graft.tableRows(s, dir, "embeddings")))
      .select(col("vec_id").as("node"), col("embedding").as("nv"))
    beamSearchOver(s, dedupedSearchIndex(s, dir), cents, dir, k, beam, rounds)
  }

  /** Full-corpus canonical map of the dedup-gated build — the artifact
    * a training pipeline consumes directly (route duplicates' traffic,
    * weights, and labels to their canonical): (vec_id, canon, is_dup)
    * for EVERY vector, canonical rows mapping to themselves. Rides the
    * memoized build at zero marginal scoring: the rn-0 attach edges ARE
    * the dup→canonical map, so this is one left join over the edge
    * cache.
    */
  def dedupCanonMap(s: SparkSession, dir: String): DataFrame = {
    val rn0 = nswGraphDeduped(s, dir)
      .filter(col("is_attach") && col("rn") === 0L)
      .select(col("src").as("vec_id"), col("dst").as("cn"))
    Graft.embeddings(s, dir).select(col("vec_id"))
      .join(rn0, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cn"), col("vec_id")).as("canon"),
        col("cn").isNotNull.cast("long").as("is_dup"))
  }

  /** Per-canonical training weights of the dedup-gated collapse — the
    * reweight half of dedup-then-reweight: collapsing duplicates
    * WITHOUT re-weighting their canonical silently shifts the training
    * distribution, so the pipeline that routes traffic through
    * [[dedupCanonMap]] consumes this report to scale each survivor by
    * its collapsed multiplicity. One row per attach target:
    * (canon, weight = member count incl. itself, n_dups). A map-side
    * combinable groupBy over the memoized map — zero marginal scoring.
    */
  def dedupCanonWeights(s: SparkSession, dir: String): DataFrame =
    dedupCanonMap(s, dir)
      .groupBy(col("canon"))
      .agg(count(lit(1)).as("weight"), sum(col("is_dup")).as("n_dups"))

  /** BFS depth of the keyed [[graphConnectivity]] census. */
  val GraphConnRounds: Int = 4

  /** Near-duplicate cosine threshold (micros) of the dedup-gated build:
    * two vectors at/above it are trivially-perturbed copies of one
    * point, not genuine neighbors. Far stricter than the SemDeDup
    * curation threshold ([[SemDedupTauMicros]] = 0.35): the build
    * collapse must only merge vectors whose neighborhoods are
    * interchangeable — 0.98 is the "same point up to noise" regime —
    * while curation-grade thresholds would rewrite the index's topology.
    */
  val BuildDedupTauMicros: Long = 980000L

  /** Min-label propagation rounds resolving near-dup clusters in the
    * dedup-gated build. Bounded like [[GraphConnRounds]] so the DuckDB
    * oracle unrolls the identical static chain; with the two final
    * pointer jumps the collapse resolves chains of 4×3 = 12 hops —
    * far beyond any real near-dup clique at cos ≥ 0.98 (copies of one
    * point are a 1-hop clique; Round20OpsSpec pins the exact radius on
    * a planted drift chain). An unresolved longer chain is BENIGN: its
    * members stay in the graph as ordinary nodes and its attach edges
    * still chain to a survivor (canon pointers strictly decrease, so
    * iterating the map terminates at a survivor), so connectivity
    * never regresses — the bound trades collapse aggressiveness, not
    * correctness.
    */
  val BuildDedupRounds: Int = 3

  /** DEDUP-GATED serving-graph build — the repair for the measured
    * failure mode the connectivity census detects
    * (docs/bench_r18_connectivity.md): exact duplicates wire the k-NN
    * graph into per-copy cliques (cos = 1.0 beats every genuine
    * neighbor), so reach collapses to entry×replicas. Here duplicates
    * are collapsed BEFORE the graph is wired and re-attached AFTER, so
    * the published index keeps full-corpus reach (the connectivity
    * property HNSW's long-range links exist to buy — the reference
    * serves filtered HNSW on exactly this assumption, qdrant.py:73):
    *
    *  1. EXACT collapse — one hash groupBy on the vector value, smallest
    *     vec_id canonical (the `dedup_exact` rule applied to vectors).
    *     Runs BEFORE any scoring, so a 10×-replica corpus pays the
    *     N·√N assignment pass on N/10 canonicals, not N — the collapse
    *     is a cost CUT at exactly the corpus shape that needs it.
    *  2. NEAR-DUP collapse — within-cell pairs of the canonical
    *     assignment at cos ≥ `tauMicros`, resolved to clusters by
    *     [[BuildDedupRounds]] min-label rounds + two pointer jumps
    *     (bounded ⇒ oracle-unrollable, `dedup_clusters`' rule). The
    *     build's own cells are the RIGHT blocking: identical-up-to-noise
    *     vectors share cells by construction, and a pair that never
    *     shares a cell could not have corrupted the cell-blocked
    *     build's neighborhoods in the first place.
    *  3. GRAPH over survivors — the standard blocked NSW machinery
    *     ([[nswEdgesFromCells]]) over the canonical set, reusing the
    *     step-2 assignment restricted to survivors (no second scoring
    *     pass). Centroids are the first √n_canon survivors by id
    *     (orderBy+limit, density-independent), which on a dup-free
    *     corpus equals the flat build's `vec_id < √N` rule exactly —
    *     so with no duplicates this build IS [[nswGraph]].
    *  4. RE-ATTACH — every collapsed duplicate gets edges to its
    *     canonical (rn 0) and its canonical's top-k neighborhood
    *     (the neighbors' own ranks), ≤ k+1 rows per duplicate: the
    *     serving walk reaches duplicates through their canonical and
    *     vice versa, so the census returns to ~100% reach on the
    *     replica corpus (Round19OpsSpec pins both properties: repaired
    *     reach AND graph-edge equality with the clean-corpus build).
    *
    * Output: (src, dst, cos, rn, is_attach) — survivor graph edges
    * (is_attach = false) plus attach edges (true).
    *
    * 100 TB shape: the collapse is one value-keyed groupBy (map-side
    * combinable; a deployment would key by a 128-bit vector digest —
    * here the value itself so DuckDB groups identically), the near-dup
    * stage rides the build's own blocked pairs, label rounds are
    * corpus-keyed joins with per-round lineage cuts, and the attach
    * stage is one broadcast-free hashed join per side, ∝ duplicates.
    */
  /** The shared COLLAPSE of the dedup-gated builds (steps 1-2 of
    * [[nswGraphDeduped]]'s contract), memoized per frame so the flat
    * and the LAYERED ([[hnswGraphDeduped]]) dedup-gated builds compute
    * it ONCE per session — the canonical map is a property of the
    * corpus, not of the index shape consuming it. Returns
    * `(eEx, cells1, fin)`:
    *
    *  - `eEx` (vec_id, embedding, nrm, ec): every vector with its
    *    EXACT-collapse canonical (min vec_id per identical value);
    *  - `cells1` (vec_id, embedding, nrm, cid): the exact-survivor
    *    top-`nprobe` cell assignment (first-√n₁-survivors centroids) —
    *    the blocking the near-dup stage AND the flat survivor graph
    *    both ride;
    *  - `fin` (vec_id, canon): exact-survivor → near-dup canonical,
    *    resolved by [[BuildDedupRounds]] min-label rounds + TWO pointer
    *    jumps. The second jump doubles the resolved chain radius to
    *    ~4×[[BuildDedupRounds]] hops at one extra bounded self-join
    *    (r19 ADVICE): with one jump, a near-dup chain longer than
    *    2×rounds hops emitted canons that were themselves dups
    *    (canon(canon) != canon), splitting one cluster's training
    *    weight across pseudo-canonicals. Chains beyond even the doubled
    *    radius stay BENIGN (members keep strictly-decreasing canon
    *    pointers, so iterating the map always lands on a survivor —
    *    Round20OpsSpec pins the exact resolved radius and the residual).
    */
  private[graft] def dedupCollapse(s: SparkSession, dir: String, nprobe: Int = 3,
                                   tauMicros: Long = BuildDedupTauMicros)
      : (DataFrame, DataFrame, DataFrame) = {
    val (eEx, cells1, fin, _) = dedupCollapseOver(s,
      Graft.embeddings(s, dir).select(col("vec_id"), col("embedding")),
      "nsw_dedup", dir, nprobe, tauMicros)
    (eEx, cells1, fin)
  }

  /** [[dedupCollapse]] over an ARBITRARY corpus frame, memoized under
    * `tag` — the frame-parameterized collapse, so the stored-slice
    * generation of the DEDUPED insert ([[dedupedInsertBatch]]) shares
    * the exact code path (and oracle shape) of the full-corpus builds.
    * Also returns the collected survivor centroid array (`cents`) —
    * the probe structure the insert assigns its batch against.
    */
  private[graft] def dedupCollapseOver(s: SparkSession, eIn: DataFrame, tag0: String,
                                       dir: String, nprobe: Int,
                                       tauMicros: Long,
                                       collapseByDigest: Boolean = false)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val tag = if (collapseByDigest) s"${tag0}dig" else tag0
    val e = withNorm(eIn.select(col("vec_id"), col("embedding")))
    // 1. exact collapse (min vec_id per identical vector). The default
    // keys the groupBy + join-back on the raw d×4-byte VALUE so DuckDB
    // groups identically (oracle parity); `collapseByDigest` keys them
    // on a 128-bit digest instead — two independent xxhash64 words over
    // the vector and its reversal — which is what a deployment ships: at
    // d = 768 the digest cuts the collapse's shuffle key from ~3 KB to
    // 16 B per row (the map-side partial-agg rows shrink by the same
    // ratio — ProbeDedupDigest measures the cut at 10×/30×), at the
    // cost of treating a 2^-128 digest collision as an exact duplicate.
    // Spec-pinned equal to the value-keyed collapse on collision-free
    // corpora (Round20OpsSpec).
    // min-per-value via a whole-frame window instead of groupBy +
    // join-back (r20 opt): the two shapes return identical rows, but the
    // window establishes the hash(key) partitioning ONCE — one Exchange
    // of the corpus frame vs the join's exchange-agg-then-SMJ-back,
    // which shuffled the frame AND sorted both sides by the d×4-byte
    // key a second time (guide §2.4: operations keyed the same way
    // share one exchange). The key is corpus-scaling, so the per-group
    // window state is the group itself (duplicate copies of one value),
    // never a corpus fraction.
    val eEx = Graft.memoCache(s"${tag}_eex", dir) {
      if (collapseByDigest) {
        val wDig = Window.partitionBy(col("dig"))
        e.withColumn("dig",
            struct(xxhash64(col("embedding")), xxhash64(reverse(col("embedding")))))
          .withColumn("ec", min(col("vec_id")).over(wDig))
          .select(col("vec_id"), col("embedding"), col("nrm"), col("ec"))
      } else {
        // r21 (r20 VERDICT: embed_canon_map regressed 0.85× — WindowExec
        // SORTS its input by the partition expressions, and the raw
        // d×4-byte array key made every comparison an element-wise array
        // walk). Prefixing the key with xxhash64(embedding) leaves the
        // partitions — and therefore min(vec_id) — IDENTICAL (the hash
        // is a function of the value, so (hash, value) groups = value
        // groups), but the sort now decides on one long compare except
        // between rows of equal hash (true duplicates or 2^-64
        // collisions), where the array tiebreak keeps exactness.
        val wVal = Window.partitionBy(xxhash64(col("embedding")), col("embedding"))
        e.withColumn("ec", min(col("vec_id")).over(wVal))
          .select(col("vec_id"), col("embedding"), col("nrm"), col("ec"))
      }
    }
    val c1 = eEx.filter(col("vec_id") === col("ec"))
      .select(col("vec_id"), col("embedding"), col("nrm"))
    val cents = Graft.memoCache(s"${tag}_cents", dir) {
      val n1 = c1.count()
      requireCentroidBudget(sqrtFanout(n1), "dedupCollapse")
      // density-independent centroid pick: first sqrtFanout(n1) survivors
      // by id (TakeOrdered top-k — the <=sqrt(N) rows the build broadcasts
      // anyway); equals the flat build's vec_id < sqrt(N) on dense ids
      c1.orderBy(col("vec_id")).limit(sqrtFanout(n1).toInt)
        .agg(sort_array(collect_list(struct(col("vec_id").as("cid"),
          col("embedding").as("cvec"), col("nrm").as("cnrm")))).as("cents"))
    }
    val cells1 = Graft.memoCache(s"${tag}_cells_$nprobe", dir) {
      cellsOver(c1, cents, nprobe)
    }
    val fin = Graft.memoFlat(s"${tag}_fin_${nprobe}_$tauMicros", dir) {
      // 2. near-dup pairs within shared cells (symmetric: x != y, so the
      // pair frame needs no explicit undirection), integer-micros
      // threshold so Spark and the oracle compare identical quantities
      val nd = cells1.as("x").join(cells1.as("y"),
          col("x.cid") === col("y.cid") && col("x.vec_id") =!= col("y.vec_id"))
        .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
          round(VectorOps.dot(col("x.embedding"), col("y.embedding"))
            / (col("x.nrm") * col("y.nrm")), 6).as("cos"))
        .filter(expr("cast(round(cos * 1000000) as bigint)") >= lit(tauMicros))
        .select(col("a"), col("b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Graft.trackCaches(s"${tag}_ndpairs", nd)
      // FAST PATH (r20 opt, the insert route's empty-pair argument
      // applied to the full builds): min-label propagation over an
      // empty pair frame is the identity, so a corpus with NO near-dup
      // pairs at τ — the common clean-corpus case — skips the rounds'
      // ~5 eager lineage-cut barriers (at 100 TB: 4+ full-corpus
      // materializations) and emits the identity map directly.
      if (nd.isEmpty) {
        c1.select(col("vec_id"), col("vec_id").as("canon"))
      } else {
        // MEMBER-RESTRICTED propagation (r20 opt): only vectors that
        // appear in a near-dup pair can ever change label (a non-member
        // has no nd rows, so every round recomputes lbl = vec_id for
        // it), so the bounded rounds run over the pair MEMBERS only —
        // work ∝ dup-cluster mass, not ∝ survivor count — and the
        // identity rows join back at the end. Result rows are
        // bit-identical to propagating over the full survivor set
        // (Round20OpsSpec's planted drift chain pins the radius).
        val mem = nd.select(col("a").as("vec_id"))
          .union(nd.select(col("b").as("vec_id")))
          .distinct()
        // bounded min-label propagation (per-round lineage cuts — the
        // census/clustersUnionFind iteration pattern) + two pointer jumps
        var lbl = mem.select(col("vec_id"), col("vec_id").as("lbl")).localCheckpoint(true)
        for (_ <- 1 to BuildDedupRounds) {
          lbl = lbl
            .join(nd.withColumnRenamed("a", "vec_id"), Seq("vec_id"), "left")
            .join(lbl.select(col("vec_id").as("b"), col("lbl").as("nlbl")), Seq("b"), "left")
            .groupBy(col("vec_id"))
            .agg(least(min(col("lbl")), coalesce(min(col("nlbl")), min(col("lbl")))).as("lbl"))
            .localCheckpoint(true)
        }
        def jump(m: DataFrame): DataFrame = m.as("p")
          .join(m.select(col("vec_id").as("j"), col("canon").as("jc")).as("q"),
            col("p.canon") === col("j"))
          .select(col("p.vec_id").as("vec_id"), col("jc").as("canon"))
        // members carry their propagated canon (a member's canon is
        // always itself a member — labels start as member ids and only
        // min-merge); non-members are identity
        val memMap = jump(jump(lbl.withColumnRenamed("lbl", "canon")))
        c1.select(col("vec_id"))
          .join(memMap.withColumnRenamed("canon", "mcanon"), Seq("vec_id"), "left")
          .select(col("vec_id"), coalesce(col("mcanon"), col("vec_id")).as("canon"))
      }
    }
    (eEx, cells1, fin, cents)
  }

  /** Survivor-restricted FLAT cell assignment (vec_id, embedding, nrm,
    * cid), memoized under `tag0` (r21): the dedup-gated flat build's
    * round-1 pair self-join references this join twice, and the flat
    * deduped insert reads it twice more (the routing probe's stored
    * side + the merge's stored cells) — previously each reference
    * re-ran the cells1⋈survivors join over the persisted inputs. One
    * memoFlat serves every reader as a flat block scan.
    */
  private def dedupSurvivorCells(s: SparkSession, eIn: DataFrame, tag0: String,
                                 dir: String, nprobe: Int,
                                 tauMicros: Long,
                                 collapseByDigest: Boolean = false): DataFrame = {
    val tag = if (collapseByDigest) s"${tag0}dig" else tag0
    val (_, cells1, fin, _) =
      dedupCollapseOver(s, eIn, tag0, dir, nprobe, tauMicros, collapseByDigest)
    Graft.memoFlat(s"${tag}_surv_cells_$nprobe", dir) {
      cells1.join(fin.filter(col("canon") === col("vec_id"))
        .select(col("vec_id")), "vec_id")
    }
  }

  def nswGraphDeduped(s: SparkSession, dir: String, k: Int = 4, nprobe: Int = 3,
                      tauMicros: Long = BuildDedupTauMicros): DataFrame =
    nswGraphDedupedOver(s, Graft.embeddings(s, dir).select(col("vec_id"), col("embedding")),
      "nsw_dedup", dir, k, nprobe, tauMicros)

  /** [[nswGraphDeduped]] over an ARBITRARY corpus frame, memoized under
    * `tag` — the stored-slice generation the DEDUPED insert folds into
    * rides the identical code path as the full build.
    */
  private[graft] def nswGraphDedupedOver(s: SparkSession, eIn: DataFrame, tag0: String,
                                         dir: String, k: Int, nprobe: Int,
                                         tauMicros: Long,
                                         collapseByDigest: Boolean = false): DataFrame = {
    val tag = if (collapseByDigest) s"${tag0}dig" else tag0
    Graft.memoCache(s"${tag}_graph_deduped_${k}_${nprobe}_$tauMicros", dir) {
      val e = withNorm(eIn.select(col("vec_id"), col("embedding")))
      // 1-2. the shared collapse (memoized across the flat + layered builds)
      val (eEx, cells1, fin, _) =
        dedupCollapseOver(s, eIn, tag0, dir, nprobe, tauMicros, collapseByDigest)
      val c1 = eEx.filter(col("vec_id") === col("ec"))
        .select(col("vec_id"), col("embedding"), col("nrm"))
      // 3. survivor graph: step-2 assignment restricted to survivors
      val c2ids = fin.filter(col("canon") === col("vec_id")).select(col("vec_id"))
      // r21: the deduped contract carries is_attach, not mutual — build
      // the survivor graph off the pre-reciprocity core (row-preserving
      // join skipped, see nswFinishEdges). The survivor cell assignment
      // is the shared memoFlat (the self-join reads it twice; hint
      // re-applied at the use site — checkpointed hints are stranded).
      val graph = nswFinishEdges(
        c1.join(c2ids, "vec_id").select(col("vec_id"), col("embedding")),
        nswR1(dedupSurvivorCells(s, eIn, tag0, dir, nprobe, tauMicros, collapseByDigest)
          .hint("SHUFFLE_HASH"), k), k)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Graft.trackCaches(s"${tag}_graph", graph)
      // 4. re-attach: full-corpus canonical map (exact then near), then
      // canonical + canonical's neighborhood per duplicate
      val dups = eEx.select(col("vec_id"), col("ec"))
        .join(fin.select(col("vec_id").as("ec"), col("canon")), "ec")
        .select(col("vec_id"), col("canon"))
        .filter(col("vec_id") =!= col("canon"))
      val attTargets = dups.select(col("vec_id"), col("canon").as("dst"), lit(0L).as("rn"))
        .unionByName(dups
          .join(graph.select(col("src").as("canon"), col("dst"), col("rn")), "canon")
          .select(col("vec_id"), col("dst"), col("rn")))
      val att = attTargets
        .join(e.select(col("vec_id"), col("embedding").as("xv"), col("nrm").as("xn"))
          .hint("SHUFFLE_HASH"), "vec_id")
        .join(e.select(col("vec_id").as("dst"), col("embedding").as("yv"),
          col("nrm").as("yn")).hint("SHUFFLE_HASH"), "dst")
        .select(col("vec_id").as("src"), col("dst"),
          round(VectorOps.dot(col("xv"), col("yv")) / (col("xn") * col("yn")), 6).as("cos"),
          col("rn"), lit(true).as("is_attach"))
      graph.select(col("src"), col("dst"), col("cos"), col("rn"),
          lit(false).as("is_attach"))
        .unionByName(att)
    }
  }

  /** [[graphConnectivity]] over the DEDUP-GATED build — the proof query
    * that the repair works: census the [[nswGraphDeduped]] adjacency
    * (survivor graph + attach edges, undirected) from the standard √N
    * entry set. On the replica corpora where the plain census collapses
    * to entry×replicas, this returns to full reach (Round19OpsSpec);
    * on a dup-free corpus it equals the plain census.
    */
  def graphConnectivityDeduped(s: SparkSession, dir: String,
                               rounds: Int = GraphConnRounds): DataFrame = {
    val edges = nswGraphDeduped(s, dir)
    // eager checkpoint: the BFS probes this adjacency once per round ×
    // two frame references — without materialization each round would
    // re-run the union+distinct over the edge cache (measured 31.5s vs
    // the plain census's 3.5s on its memoized index at 10×)
    val und = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)
    val nTot = Graft.tableRows(s, dir, "embeddings")
    censusFrame(s,
      censusCountsOver(und,
        Graft.embeddings(s, dir).filter(col("vec_id") < sqrtFanout(nTot))
          .select(col("vec_id").as("node")),
        rounds, cap = nTot),
      nTot)
  }

  /** DEDUP-GATED LAYERED index build — [[nswGraphDeduped]]'s repair
    * applied to the hierarchy the reference actually serves
    * (qdrant.py:73 — Qdrant = HNSW): the plain [[hnswGraph]] wires
    * per-copy cliques into EVERY layer of a replica-heavy corpus, and
    * the upper layers — whose whole job is long-range reachability —
    * fragment exactly like the flat graph (Round20OpsSpec measures the
    * layered census collapse). The collapse runs ONCE
    * ([[dedupCollapse]], shared with the flat build's memo) and its
    * canonical map gates every layer:
    *
    *  1. survivors = the collapse's canonical set; their level draws
    *     are untouched ([[hnswLevelsOver]] is a pure function of
    *     vec_id, so survivor levels are already deterministic and
    *     stable under the collapse);
    *  2. the layered stack builds over survivors ONLY, with the same
    *     per-layer machinery as [[hnswGraph]] — except the dense-id
    *     seed thresholds scale by the survivor ID RANGE (max survivor
    *     id + 1) instead of the row count: survivor ids are a
    *     pseudo-uniform subset of [0, N), so range-scaled thresholds
    *     keep ~√n_l seeds per layer whatever the duplicate mass; on a
    *     dup-free dense corpus the range equals the count and this
    *     build IS [[hnswGraph]] edge-for-edge;
    *  3. every duplicate re-attaches at LAYER 0 — its canonical (rn 0)
    *     plus the canonical's base-layer neighborhood, ≤ k+1 rows per
    *     duplicate. Duplicates never enter the upper layers: the
    *     descent reaches them through their canonical's base
    *     neighborhood, mirroring the flat repair.
    *
    * Output: (layer, src, dst, cos, rn, is_attach) — the survivor
    * layer stack (is_attach = false) plus the layer-0 attach edges.
    *
    * 100 TB shape: identical to [[hnswGraph]] over the survivor mass
    * (one (layer, cid) shuffle for the whole stack) plus the flat
    * repair's attach joins ∝ duplicates; on a replica-heavy corpus the
    * collapse CUTS the dominant per-layer pair cost before any scoring,
    * the same cost-advantage-widens-with-replicas curve measured for
    * the flat build (docs/bench_r19_scale_probes.jsonl).
    */
  def hnswGraphDeduped(s: SparkSession, dir: String, k: Int = 4, nprobe: Int = 3,
                       tauMicros: Long = BuildDedupTauMicros): DataFrame =
    hnswGraphDedupedOver(s,
      Graft.embeddings(s, dir).select(col("vec_id"), col("embedding")),
      "nsw_dedup", dir, k, nprobe, tauMicros)

  /** [[hnswGraphDeduped]] over an ARBITRARY corpus frame, memoized
    * under `tag0` — the stored-slice layered generation the LAYERED
    * deduped insert ([[hnswInsertDedupedBatch]]) folds into rides the
    * identical code path as the full build, and shares `tag0`'s
    * collapse memo with the flat stored state.
    */
  /** Survivor per-layer centroid stack + cell assignment of the
    * dedup-gated LAYERED build, memoized under `tag0` (r21): the build's
    * pair self-join references its cells frame twice, and the layered
    * deduped INSERT needs the same cents/cells as its probe structure —
    * previously a second, independently-derived copy of the whole
    * nodes→census→centroid→assignment chain (plus its own survivor
    * ID-RANGE collect). One memoFlat build now serves every reader.
    * The ID bound (survivor ID RANGE, the seed-threshold scale for
    * sparse survivor ids) is collected INSIDE the memo body, so a
    * session runs it once per stored corpus.
    */
  private def hnswDedupSurvivorState(s: SparkSession, eIn: DataFrame, tag0: String,
                                     dir: String, nprobe: Int,
                                     tauMicros: Long): (DataFrame, DataFrame) = {
    val (_, _, fin, _) = dedupCollapseOver(s, eIn, tag0, dir, nprobe, tauMicros)
    val c2ids = fin.filter(col("canon") === col("vec_id")).select(col("vec_id"))
    val eS = eIn.select(col("vec_id"), col("embedding")).join(c2ids, "vec_id")
    val cents = Graft.memoCache(s"${tag0}_hnsw_surv_cents", dir) {
      // survivor ID RANGE for the per-layer seed thresholds (one
      // footer-cheap agg job; null-safe for the empty corpus)
      val idRow = eS.agg(max(col("vec_id"))).collect().head
      val idBound = if (idRow.isNullAt(0)) 0L else idRow.getLong(0) + 1L
      hnswCentsOver(hnswNodesOver(eS), hnswLevelsOver(eS), idBound,
        "hnswGraphDeduped survivors")
    }
    val cells = Graft.memoFlat(s"${tag0}_hnsw_surv_cells_$nprobe", dir) {
      hnswCellsOver(hnswNodesOver(eS), cents, nprobe)
    }
    (cents, cells)
  }

  private[graft] def hnswGraphDedupedOver(s: SparkSession, eIn: DataFrame, tag0: String,
                                          dir: String, k: Int, nprobe: Int,
                                          tauMicros: Long): DataFrame =
    Graft.memoCache(s"${tag0}_hnsw_graph_deduped_${k}_${nprobe}_$tauMicros", dir) {
      val e = withNorm(eIn.select(col("vec_id"), col("embedding")))
      val (eEx, _, fin, _) = dedupCollapseOver(s, eIn, tag0, dir, nprobe, tauMicros)
      val c2ids = fin.filter(col("canon") === col("vec_id")).select(col("vec_id"))
      val eS = eIn.select(col("vec_id"), col("embedding"))
        .join(c2ids, "vec_id")
      // shared survivor cents/cells memo (r21): the pair self-join below
      // reads the cell assignment TWICE, and the layered deduped insert
      // re-derived the identical cents+cells chain under its own keys —
      // one memoized build serves all three readers (the hnswFullCells
      // lesson applied to the dedup-gated stack). Hint re-applied at the
      // use site: a hint inside a checkpointed plan is stranded.
      val (_, cells) = hnswDedupSurvivorState(s, eIn, tag0, dir, nprobe, tauMicros)
      val graph = hnswEdgesCore(eS, cells.hint("SHUFFLE_HASH"), k)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Graft.trackCaches("hnsw_dedup_graph", graph)
      // layer-0 attach: full-corpus canonical map, then canonical +
      // canonical's base-layer neighborhood per duplicate
      val dups = eEx.select(col("vec_id"), col("ec"))
        .join(fin.select(col("vec_id").as("ec"), col("canon")), "ec")
        .select(col("vec_id"), col("canon"))
        .filter(col("vec_id") =!= col("canon"))
      val l0 = graph.filter(col("layer") === 0L)
      val attTargets = dups.select(col("vec_id"), col("canon").as("dst"), lit(0L).as("rn"))
        .unionByName(dups
          .join(l0.select(col("src").as("canon"), col("dst"), col("rn")), "canon")
          .select(col("vec_id"), col("dst"), col("rn")))
      val att = attTargets
        .join(e.select(col("vec_id"), col("embedding").as("xv"), col("nrm").as("xn"))
          .hint("SHUFFLE_HASH"), "vec_id")
        .join(e.select(col("vec_id").as("dst"), col("embedding").as("yv"),
          col("nrm").as("yn")).hint("SHUFFLE_HASH"), "dst")
        .select(lit(0L).as("layer"), col("vec_id").as("src"), col("dst"),
          round(VectorOps.dot(col("xv"), col("yv")) / (col("xn") * col("yn")), 6).as("cos"),
          col("rn"), lit(true).as("is_attach"))
      graph.select(col("layer"), col("src"), col("dst"), col("cos"), col("rn"),
          lit(false).as("is_attach"))
        .unionByName(att)
    }

  /** [[graphConnectivity]] over the DEDUP-GATED LAYERED build — the
    * layered twin of [[graphConnectivityDeduped]]'s proof query: census
    * the [[hnswGraphDeduped]] adjacency (every layer's survivor edges +
    * the layer-0 attach edges, undirected, layer-blind — the node set a
    * descent can reach) from the standard √N entry set. On replica
    * corpora where the plain layered census collapses to
    * entry×replicas, this returns to full reach (Round20OpsSpec); on a
    * dup-free corpus it equals a census of the plain layered stack.
    */
  def hnswConnectivityDeduped(s: SparkSession, dir: String,
                              rounds: Int = GraphConnRounds): DataFrame = {
    val edges = hnswGraphDeduped(s, dir)
    // eager checkpoint — the BFS probes the adjacency once per round ×
    // two references (graphConnectivityDeduped's measured fix)
    val und = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)
    val nTot = Graft.tableRows(s, dir, "embeddings")
    censusFrame(s,
      censusCountsOver(und,
        Graft.embeddings(s, dir).filter(col("vec_id") < sqrtFanout(nTot))
          .select(col("vec_id").as("node")),
        rounds, cap = nTot),
      nTot)
  }

  /** The layered descent SERVED OFF the dedup-gated hierarchy — the
    * serving face of the layered repair, [[graphSearchDeduped]]'s
    * contract through [[hnswSearch]]'s walk: entry at the top SURVIVOR
    * layer, greedy descent through the survivor stack, beam refinement
    * in the base layer whose adjacency includes the attach edges — so
    * the walk crosses from canonicals out to every duplicate and back
    * (Round20OpsSpec: on the 10×-replica corpus every query recovers a
    * score-1.0 copy THROUGH the layered descent, vs entry-clique
    * trapping on the plain hierarchy). On a dup-free corpus the walk
    * equals [[hnswSearch]].
    */
  def hnswSearchDeduped(s: SparkSession, dir: String, k: Int = GraphSearchK,
                        beam: Int = GraphSearchBeam,
                        rounds: Int = GraphSearchRounds): DataFrame = {
    val edges = hnswGraphDeduped(s, dir)
    val undL = layeredIndex(s, dir, edges, "hnsw_dedup_search_index")
    val (entryNodes, maxLevel) = hnswDedupedEntryState(s, dir)
    hnswWalkDriverOver(s, undL, entryNodes, maxLevel,
      graphSearchQueries(s, dir), k, beam, rounds)
  }

  /** [[hnswEntryState]] over the SURVIVOR set of the dedup collapse —
    * entry = survivors at the top SURVIVOR level (dups hold no layer
    * membership; the level draw stays the pure vec_id function).
    * Session-memoized for the same reason: the plain and filtered
    * deduped walks each re-derived this two-job state per query.
    */
  private[graft] def hnswDedupedEntryState(s: SparkSession, dir: String): (DataFrame, Long) = {
    // lazy for the same reason as hnswEntryState's level frame
    lazy val eS = Graft.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      .join(dedupCollapse(s, dir)._3.filter(col("canon") === col("vec_id")).select(col("vec_id")),
        "vec_id")
    lazy val lvS = hnswLevelsOver(eS)
    val ml = synchronized(maxLevelMemo.get(s"dedup:$dir")).getOrElse {
      val mlRow = lvS.agg(max(col("level")).as("ml")).collect().head
      val v = if (mlRow.isNullAt(0)) 0L else mlRow.getLong(0)
      synchronized(maxLevelMemo.getOrElseUpdate(s"dedup:$dir", v))
    }
    val entry = Graft.memoFlat("hnsw_dedup_entry_nodes", dir) {
      eS.join(lvS.filter(col("level") === ml).select(col("vec_id")), "vec_id")
        .select(col("vec_id").as("node"), col("embedding").as("nv"))
    }
    (entry, ml)
  }

  /** INCREMENTAL maintenance of the DEDUPED generation —
    * [[nswInsertBatch]]'s asymmetric pattern applied to the REPAIRED
    * index: without it, a new batch containing duplicates of stored
    * vectors re-fragments the graph the dedup-gated build just fixed
    * (each arriving copy would wire a fresh clique). A batch folds into
    * the stored deduped generation in dup-routed stages, every one of
    * them work ∝ batch:
    *
    *  1. EXACT probe — batch values hash-join the stored exact-group
    *     map (value → stored exact-canonical); hits route to the stored
    *     canonical's canon, misses form batch-internal exact groups
    *     (min batch id). One value-keyed probe of the stored map.
    *  2. NEAR-DUP probe — batch exact-survivors assign to the STORED
    *     survivor centroids (|B|·√n₁ scoring) and pair against the
    *     stored CANONICALS in their cells plus each other at
    *     `tauMicros`; bounded min-label rounds + two pointer jumps over
    *     the batch-side pair graph (stored canonicals are terminal —
    *     the stored map is immutable until rebuild), seeded by the
    *     minimum matched stored canonical. A batch near-dup of a stored
    *     near-DUP (not its canonical) stays a survivor — the bounded
    *     chain residual, resolved at the next rebuild.
    *  3. SURVIVORS take the standard insert path ([[nswInsertCore]])
    *     into the stored SURVIVOR graph, probing the same stored
    *     centroid set.
    *  4. ATTACH maintenance — new dups get rn-0 + canonical-neighborhood
    *     edges off the MERGED graph; stored dups whose canonical the
    *     merge TOUCHED get their neighborhood rows refreshed; all other
    *     stored attach rows pass through bit-identical. Work ∝ batch +
    *     affected dups, never ∝ stored dup mass.
    *
    * Returns (edges, canon_map, weights): the merged deduped edge frame
    * (src, dst, cos, rn, is_attach), the post-insert full canonical map
    * (vec_id, canon, is_dup), and the INCREMENTALLY-updated per-canon
    * training weights (stored weights + batch deltas — spec-pinned
    * equal to a recompute over the merged map, and equal to the batch
    * rebuild's on a pure-dup batch).
    */
  def dedupedInsertBatch(s: SparkSession, dir: String, storedEmb: DataFrame,
                         storedTag: String, batchEmb: DataFrame, k: Int = 4,
                         nprobe: Int = 3, tauMicros: Long = BuildDedupTauMicros)
      : (DataFrame, DataFrame, DataFrame) = {
    val st = dedupedStoredState(s, dir, storedEmb, storedTag, k, nprobe, tauMicros)
    val storedMap = st.storedMap
    // overlap the batch routing with the stored survivor graph's
    // materialization (r21, guide §2.6 — the layered fold's pattern):
    // independent given the warm collapse memos, values unchanged
    val route = Graft.inParallel(Seq(
      () => Some(dedupedRouteOver(s, st, batchEmb, nprobe, tauMicros)),
      () => { st.storedGraph.count(); None }))(f => f()).flatten.head
    val (edges, bMap, _, _) =
      dedupedInsertOver(s, st, batchEmb, k, nprobe, tauMicros, Some(route))
    val canonMap = storedMap.unionByName(bMap)
      .select(col("vec_id"), col("canon"),
        (col("vec_id") =!= col("canon")).cast("long").as("is_dup"))
    val oldW = storedMap
      .groupBy(col("canon"))
      .agg(count(lit(1)).as("w0"),
        sum((col("vec_id") =!= col("canon")).cast("long")).as("d0"))
    val deltaW = bMap
      .groupBy(col("canon"))
      .agg(count(lit(1)).as("w1"),
        sum((col("vec_id") =!= col("canon")).cast("long")).as("d1"))
    val weights = oldW.join(deltaW, Seq("canon"), "full")
      .select(col("canon"),
        (coalesce(col("w0"), lit(0L)) + coalesce(col("w1"), lit(0L))).as("weight"),
        (coalesce(col("d0"), lit(0L)) + coalesce(col("d1"), lit(0L))).as("n_dups"))
    (edges, canonMap, weights)
  }

  /** [[DedupStoredState]] derived from the in-session collapse memo —
    * the batch API's state source ([[dedupedInsertBatch]]); the
    * streaming tier reads the SAME frames off a generation artifact
    * instead ([[graft.streaming.IndexStreams.maintainDedupedIndex]]).
    */
  private[graft] def dedupedStoredState(s: SparkSession, dir: String,
                                        storedEmb: DataFrame, storedTag: String,
                                        k: Int = 4, nprobe: Int = 3,
                                        tauMicros: Long = BuildDedupTauMicros)
      : DedupStoredState = {
    val (eExS, _, finS, centsS) =
      dedupCollapseOver(s, storedEmb, storedTag, dir, nprobe, tauMicros)
    val storedDeduped = nswGraphDedupedOver(s, storedEmb, storedTag, dir, k, nprobe, tauMicros)
    val c2S = finS.filter(col("canon") === col("vec_id")).select(col("vec_id"))
    // the stored map and the (value -> canon) probe map are GENERATION
    // STATE, not per-batch work — memoized here exactly as the
    // streaming tier persists them as artifacts, so a fold's marginal
    // cost never re-derives a stored-corpus-wide groupBy
    val storedMap = Graft.memoCache(s"${storedTag}_smap", dir) {
      eExS.select(col("vec_id"), col("ec"))
        .join(finS.select(col("vec_id").as("ec"), col("canon")), "ec")
        .select(col("vec_id"), col("canon"))
    }
    val valueCanon = Graft.memoCache(s"${storedTag}_vcanon", dir) {
      eExS.select(col("embedding"), col("ec"))
        .join(finS.select(col("vec_id").as("ec"), col("canon")), "ec")
        .groupBy(col("embedding")).agg(min(col("canon")).as("scanon"))
    }
    DedupStoredState(
      storedEmb = storedEmb.select(col("vec_id"), col("embedding")),
      valueCanon = valueCanon,
      survivorCells =
        dedupSurvivorCells(s, storedEmb, storedTag, dir, nprobe, tauMicros),
      cents = centsS,
      survivors = c2S,
      storedMap = storedMap,
      storedGraph = storedDeduped.filter(!col("is_attach"))
        .select(col("src"), col("dst"), col("cos"), col("rn")),
      storedAtt = storedDeduped.filter(col("is_attach")))
  }

  /** The published stored-state face of a DEDUPED generation — exactly
    * the frames [[dedupedInsertOver]] needs to fold a batch in with
    * work ∝ batch, and exactly what
    * [[graft.streaming.IndexStreams.maintainDedupedIndex]] persists per
    * generation so NO stored-corpus recompute (collapse, assignment)
    * ever runs on the microbatch path.
    */
  private[graft] case class DedupStoredState(
      storedEmb: DataFrame,     // (vec_id, embedding) — every stored member
      valueCanon: DataFrame,    // (embedding, scanon) — distinct stored values
      survivorCells: DataFrame, // (vec_id, embedding, nrm, cid) — canonical cells
      cents: DataFrame,         // the collected survivor centroid array
      survivors: DataFrame,     // (vec_id) — stored canonicals
      storedMap: DataFrame,     // (vec_id, canon) — full stored map
      storedGraph: DataFrame,   // (src, dst, cos, rn) — survivor graph
      storedAtt: DataFrame)     // (src, dst, cos, rn, is_attach) — attach rows

  /** The dup-ROUTING stages (1-3) of the deduped fold — exact probe,
    * near-dup probe, full batch map — shared by the FLAT insert
    * ([[dedupedInsertOver]]) and the LAYERED one
    * ([[hnswInsertDedupedBatch]]): the routing decision is
    * graph-shape-independent, so both folds consume the identical
    * (bMap, bFin, bCells, bExm) frames. Every stage is work ∝ batch.
    */
  private[graft] case class DedupRoute(
      bMap: DataFrame,   // (vec_id, canon) — full batch map
      bFin: DataFrame,   // (vec_id, canon) — batch exact-survivor resolution
      bCells: DataFrame, // batch exact-survivor cell assignment (flat cells)
      bExm: DataFrame)   // (vec_id, embedding, nrm, scanon, bmin)

  private[graft] def dedupedRouteOver(s: SparkSession, st: DedupStoredState,
                                      batchEmb: DataFrame, nprobe: Int,
                                      tauMicros: Long): DedupRoute = {
    val c2S = st.survivors
    // 1. exact probe: stored value->canon map first, batch-internal
    // groups second (stored ids are below batch ids, so a stored match
    // always wins the min-id rule)
    val eBn = withNorm(batchEmb.select(col("vec_id"), col("embedding")))
    val bGrp = eBn.groupBy(col("embedding")).agg(min(col("vec_id")).as("bmin"))
    val bExm = eBn.join(st.valueCanon, Seq("embedding"), "left")
      .join(bGrp, Seq("embedding"))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("scanon"), col("bmin"))
      .localCheckpoint(true)
    // 2. near-dup probe of batch exact-survivors
    val bC1 = bExm.filter(col("scanon").isNull && col("vec_id") === col("bmin"))
      .select(col("vec_id"), col("embedding"), col("nrm"))
    val bCells = cellsOver(bC1, st.cents, nprobe)
      .localCheckpoint(true)
    val sCells = st.survivorCells
    val pS = bCells.as("x").join(sCells.as("y").hint("SHUFFLE_HASH"),
        col("x.cid") === col("y.cid"))
      .select(col("x.vec_id").as("b"), col("y.vec_id").as("c"),
        round(VectorOps.dot(col("x.embedding"), col("y.embedding"))
          / (col("x.nrm") * col("y.nrm")), 6).as("cos"))
      .filter(expr("cast(round(cos * 1000000) as bigint)") >= lit(tauMicros))
      .select(col("b"), col("c"))
    val pB = bCells.as("x").join(bCells.as("y"),
        col("x.cid") === col("y.cid") && col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
        round(VectorOps.dot(col("x.embedding"), col("y.embedding"))
          / (col("x.nrm") * col("y.nrm")), 6).as("cos"))
      .filter(expr("cast(round(cos * 1000000) as bigint)") >= lit(tauMicros))
      .select(col("a"), col("b"))
      .localCheckpoint(true)
    // FAST PATH: a batch with no near-dup pairs at all (the common
    // no-new-duplicates arrival, and every pure-exact-dup batch) needs
    // no label rounds and no jumps — the propagation over an empty pair
    // frame is the identity, so short-circuiting it changes nothing but
    // skips ~8 eager lineage-cut jobs of fixed per-batch latency.
    val bFin = if (pS.isEmpty && pB.isEmpty) {
      bC1.select(col("vec_id"), col("vec_id").as("canon")).localCheckpoint(true)
    } else {
      val seedS = pS.groupBy(col("b")).agg(min(col("c")).as("sc"))
        .withColumnRenamed("b", "vec_id")
      var lbl = bC1.select(col("vec_id"))
        .join(seedS, Seq("vec_id"), "left")
        .select(col("vec_id"),
          least(col("vec_id"), coalesce(col("sc"), col("vec_id"))).as("lbl"))
        .localCheckpoint(true)
      for (_ <- 1 to BuildDedupRounds) {
        lbl = lbl
          .join(pB.withColumnRenamed("a", "vec_id"), Seq("vec_id"), "left")
          .join(lbl.select(col("vec_id").as("b"), col("lbl").as("nlbl")), Seq("b"), "left")
          .groupBy(col("vec_id"))
          .agg(least(min(col("lbl")), coalesce(min(col("nlbl")), min(col("lbl")))).as("lbl"))
          .localCheckpoint(true)
      }
      def jumpIns(m: DataFrame): DataFrame = {
        val res = m.select(col("vec_id").as("j"), col("canon").as("jc"))
          .unionByName(c2S.select(col("vec_id").as("j"), col("vec_id").as("jc")))
        m.join(res, col("canon") === col("j"))
          .select(col("vec_id"), col("jc").as("canon"))
      }
      jumpIns(jumpIns(lbl.withColumnRenamed("lbl", "canon"))).localCheckpoint(true)
    }
    // 3. route: full batch map, dups vs survivors. Stored-value hits
    // carry their canon directly; batch-internal groups resolve through
    // their exact representative's near-dup canon.
    val bMap = bExm.filter(col("scanon").isNotNull)
        .select(col("vec_id"), col("scanon").as("canon"))
      .unionByName(bExm.filter(col("scanon").isNull)
        .select(col("vec_id"), col("bmin").as("ec"))
        .join(bFin.withColumnRenamed("vec_id", "ec"), "ec")
        .select(col("vec_id"), col("canon")))
      .localCheckpoint(true)
    DedupRoute(bMap, bFin, bCells, bExm)
  }

  /** [[dedupedInsertBatch]]'s core over EXPLICIT stored state — shared
    * by the batch API (state from the in-session collapse memo) and the
    * streaming generation fold (state off the parquet artifact).
    * Returns (merged edge frame, batch canon-map rows, batch-survivor
    * cells — the `newcells` delta a generation chain persists).
    */
  private[graft] def dedupedInsertOver(s: SparkSession, st: DedupStoredState,
                                       batchEmb: DataFrame, k: Int, nprobe: Int,
                                       tauMicros: Long,
                                       routeIn: Option[DedupRoute] = None)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val storedGraph = st.storedGraph
    val storedAtt = st.storedAtt
    val sCells = st.survivorCells
    // routeIn: the batch API overlaps the routing chain with the stored
    // graph's materialization and passes the result in; the streaming
    // fold (stored state off a parquet generation) computes it inline
    val route = routeIn.getOrElse(dedupedRouteOver(s, st, batchEmb, nprobe, tauMicros))
    val bMap = route.bMap
    val bFin = route.bFin
    val bCells = route.bCells
    val bExm = route.bExm
    val bDups = bMap.filter(col("vec_id") =!= col("canon"))
    val bSurvEmb = batchEmb.select(col("vec_id"), col("embedding"))
      .join(bFin.filter(col("canon") === col("vec_id")).select(col("vec_id")), "vec_id")
    // 4. survivors take the standard insert path into the survivor graph
    val allEmb = st.storedEmb.select(col("vec_id"), col("embedding"))
      .unionByName(batchEmb.select(col("vec_id"), col("embedding")))
    // FAST PATH: a pure-dup batch inserts no survivors — the core over
    // an empty batch returns the stored graph bit-identically (untouched
    // pass-through of everything), so skip its ~4 eager merge jobs.
    val (merged, touched) =
      if (bSurvEmb.isEmpty)
        (storedGraph,
          storedGraph.select(col("src")).limit(0).localCheckpoint(true))
      else nswInsertCoreT(sCells, st.cents, storedGraph, bSurvEmb, allEmb, k, nprobe)
    // 5. attach maintenance: refresh = new dups + stored dups whose
    // canonical the merge touched; everything else passes through
    val sDups = st.storedMap.filter(col("vec_id") =!= col("canon"))
    val refresh = sDups
      .join(touched.withColumnRenamed("src", "canon"), Seq("canon"), "left_semi")
      .unionByName(bDups)
      .localCheckpoint(true)
    val keepAtt = storedAtt
      .join(refresh.select(col("vec_id").as("src")), Seq("src"), "left_anti")
    val attTargets = refresh.select(col("vec_id"), col("canon").as("dst"), lit(0L).as("rn"))
      .unionByName(refresh
        .join(merged.select(col("src").as("canon"), col("dst"), col("rn")), "canon")
        .select(col("vec_id"), col("dst"), col("rn")))
    val eU = withNorm(allEmb)
    val freshAtt = attTargets
      .join(eU.select(col("vec_id"), col("embedding").as("xv"), col("nrm").as("xn"))
        .hint("SHUFFLE_HASH"), "vec_id")
      .join(eU.select(col("vec_id").as("dst"), col("embedding").as("yv"),
        col("nrm").as("yn")).hint("SHUFFLE_HASH"), "dst")
      .select(col("vec_id").as("src"), col("dst"),
        round(VectorOps.dot(col("xv"), col("yv")) / (col("xn") * col("yn")), 6).as("cos"),
        col("rn"), lit(true).as("is_attach"))
    val edges = merged.select(col("src"), col("dst"), col("cos"), col("rn"),
        lit(false).as("is_attach"))
      .unionByName(keepAtt)
      .unionByName(freshAtt)
    // batch-survivor cells with vectors+norms — the `newcells` delta a
    // generation chain persists (deterministic per vector, so the
    // stored artifact equals a recompute)
    val bSurvCells = bCells.join(bSurvEmb.select(col("vec_id")), "vec_id")
    // value-map delta: one row per distinct NEW value (a value already
    // stored routes through valueCanon and never lands here)
    val newValueCanon = bExm.filter(col("scanon").isNull)
      .select(col("embedding"), col("bmin").as("ec")).distinct()
      .join(bFin.withColumnRenamed("vec_id", "ec"), "ec")
      .select(col("embedding"), col("canon").as("scanon"))
    (edges, bMap, bSurvCells, newValueCanon)
  }

  /** The keyed face of [[dedupedInsertBatch]]: stored = the vec_id <
    * 4N/5 slice, batch = the rest (the [[nswGraphInsert]] split
    * convention), all three outputs memoized off ONE probe+insert pass.
    */
  private def insertDedupedParts(s: SparkSession, dir: String, k: Int = 4,
                                 nprobe: Int = 3,
                                 tauMicros: Long = BuildDedupTauMicros)
      : (DataFrame, DataFrame, DataFrame) = {
    lazy val parts = {
      val nTot = Graft.tableRows(s, dir, "embeddings")
      val split = nTot * InsertSplitNum / InsertSplitDen
      val eAll = Graft.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      dedupedInsertBatch(s, dir, eAll.filter(col("vec_id") < split),
        s"nsw_dedup_ins_$split", eAll.filter(col("vec_id") >= split), k, nprobe, tauMicros)
    }
    val tag = s"nsw_dedup_ins_out_${k}_${nprobe}_$tauMicros"
    (Graft.memoCache(s"${tag}_edges", dir) { parts._1 },
      Graft.memoCache(s"${tag}_map", dir) { parts._2 },
      Graft.memoCache(s"${tag}_weights", dir) { parts._3 })
  }

  def nswGraphInsertDeduped(s: SparkSession, dir: String): DataFrame =
    insertDedupedParts(s, dir)._1

  def dedupCanonMapInsert(s: SparkSession, dir: String): DataFrame =
    insertDedupedParts(s, dir)._2

  def dedupCanonWeightsInsert(s: SparkSession, dir: String): DataFrame =
    insertDedupedParts(s, dir)._3

  /** INCREMENTAL maintenance of the DEDUPED LAYERED generation —
    * [[dedupedInsertBatch]]'s dup-routed fold applied to the hierarchy
    * the reference actually serves (qdrant.py:73 = HNSW): without it, a
    * batch containing duplicates of stored vectors re-fragments the
    * repaired hierarchy [[hnswGraphDeduped]] builds — each arriving
    * copy would wire fresh cliques into EVERY layer it draws. The fold
    * reuses the flat insert's routing verbatim (stages 1-2 are
    * graph-shape-independent, [[dedupedRouteOver]]), then:
    *
    *  3. SURVIVORS take the LAYERED insert path ([[hnswInsertCoreT]])
    *     into the stored SURVIVOR stack: per-layer assignment against
    *     the stored survivor centroids (seed thresholds scaled by the
    *     STORED survivor ID RANGE — the stored generation's structure
    *     is fixed, the asymmetric-insert convention), blocked pairs,
    *     touched re-rank, one bounded per-layer NN-descent repair.
    *     Survivor levels stay the pure vec_id draw, so a survivor
    *     enters exactly the layers the batch REBUILD would give it.
    *  4. ATTACH maintenance at LAYER 0 (dups never enter upper layers):
    *     new dups get rn-0 + canonical-neighborhood edges off the
    *     merged base layer; stored dups whose canonical's layer-0
    *     neighborhood the merge touched refresh; the rest pass through
    *     bit-identical. Work ∝ batch + affected, never ∝ stored mass.
    *
    * Returns the merged layered frame (layer, src, dst, cos, rn,
    * is_attach). Round20OpsSpec pins that a pure-dup batch streams to
    * the EXACT [[hnswGraphDeduped]] rebuild on the union corpus.
    */
  def hnswInsertDedupedBatch(s: SparkSession, dir: String, storedEmb: DataFrame,
                             storedTag: String, batchEmb: DataFrame, k: Int = 4,
                             nprobe: Int = 3, tauMicros: Long = BuildDedupTauMicros)
      : DataFrame = {
    val st = dedupedStoredState(s, dir, storedEmb, storedTag, k, nprobe, tauMicros)
    // stored survivor per-layer probe structure = the SAME memoized
    // cents/cells the stored layered build reads (r21 — previously an
    // independent second derivation of the census+assignment chain with
    // its own ID-RANGE collect)
    val (centsL, storedCells) =
      hnswDedupSurvivorState(s, storedEmb, storedTag, dir, nprobe, tauMicros)
    // the stored LAYERED deduped generation (collapse memo shared with
    // the flat stored state via storedTag)
    val storedL = hnswGraphDedupedOver(s, storedEmb, storedTag, dir, k, nprobe, tauMicros)
    // overlap the two independent eager chains (r21, guide §2.6): the
    // batch ROUTING (a ~5-barrier lineage-cut pipeline over batch-sized
    // frames) and the stored-stack MATERIALIZATION (the memoCache
    // persist above, otherwise computed serially inside the first
    // downstream job) share no state beyond the already-warm collapse
    // memos, so their wall-clock can overlap; values are unchanged.
    // Batch-API-only: the streaming fold reads its stored stack off a
    // parquet generation where an extra materializing pass is waste.
    val route = Graft.inParallel(Seq(
      () => Some(dedupedRouteOver(s, st, batchEmb, nprobe, tauMicros)),
      () => { storedL.count(); None }))(f => f()).flatten.head
    val bDups = route.bMap.filter(col("vec_id") =!= col("canon"))
    val bSurvEmb = batchEmb.select(col("vec_id"), col("embedding"))
      .join(route.bFin.filter(col("canon") === col("vec_id")).select(col("vec_id")), "vec_id")
    val storedStack = storedL.filter(!col("is_attach"))
      .select(col("layer"), col("src"), col("dst"), col("cos"), col("rn"))
    val storedAttL = storedL.filter(col("is_attach"))
    val eSurvS = storedEmb.select(col("vec_id"), col("embedding"))
      .join(st.survivors, "vec_id")
    val survEmbAll = eSurvS.unionByName(bSurvEmb.select(col("vec_id"), col("embedding")))
    // FAST PATH: a pure-dup batch inserts no survivors — the stored
    // stack passes through bit-identically (the flat fold's argument)
    val (merged, touchedL0) =
      if (bSurvEmb.isEmpty)
        (storedStack, storedStack.select(col("src")).limit(0).localCheckpoint(true))
      else
        hnswInsertCoreT(storedCells,
          hnswCellsOver(hnswNodesOver(bSurvEmb.select(col("vec_id"), col("embedding"))),
            centsL, nprobe),
          storedStack, survEmbAll, k)
    // layer-0 attach maintenance: refresh = new dups + stored dups
    // whose canonical's base neighborhood the merge touched
    val sDups = st.storedMap.filter(col("vec_id") =!= col("canon"))
    val refresh = sDups
      .join(touchedL0.withColumnRenamed("src", "canon"), Seq("canon"), "left_semi")
      .unionByName(bDups)
      .localCheckpoint(true)
    val keepAtt = storedAttL
      .join(refresh.select(col("vec_id").as("src")), Seq("src"), "left_anti")
    val l0 = merged.filter(col("layer") === 0L)
    val attTargets = refresh.select(col("vec_id"), col("canon").as("dst"), lit(0L).as("rn"))
      .unionByName(refresh
        .join(l0.select(col("src").as("canon"), col("dst"), col("rn")), "canon")
        .select(col("vec_id"), col("dst"), col("rn")))
    val eU = withNorm(storedEmb.select(col("vec_id"), col("embedding"))
      .unionByName(batchEmb.select(col("vec_id"), col("embedding"))))
    val freshAtt = attTargets
      .join(eU.select(col("vec_id"), col("embedding").as("xv"), col("nrm").as("xn"))
        .hint("SHUFFLE_HASH"), "vec_id")
      .join(eU.select(col("vec_id").as("dst"), col("embedding").as("yv"),
        col("nrm").as("yn")).hint("SHUFFLE_HASH"), "dst")
      .select(lit(0L).as("layer"), col("vec_id").as("src"), col("dst"),
        round(VectorOps.dot(col("xv"), col("yv")) / (col("xn") * col("yn")), 6).as("cos"),
        col("rn"), lit(true).as("is_attach"))
    merged.select(col("layer"), col("src"), col("dst"), col("cos"), col("rn"),
        lit(false).as("is_attach"))
      .unionByName(keepAtt)
      .unionByName(freshAtt)
  }

  /** The keyed face of [[hnswInsertDedupedBatch]]: stored = the vec_id
    * < 4N/5 slice, batch = the rest — the [[nswGraphInsert]] split
    * convention, sharing the collapse + routing memos with
    * [[nswGraphInsertDeduped]] through the same storedTag.
    */
  def hnswGraphInsertDeduped(s: SparkSession, dir: String): DataFrame =
    Graft.memoCache("hnsw_dedup_ins_edges", dir) {
      val nTot = Graft.tableRows(s, dir, "embeddings")
      val split = nTot * InsertSplitNum / InsertSplitDen
      val eAll = Graft.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      hnswInsertDedupedBatch(s, dir, eAll.filter(col("vec_id") < split),
        s"nsw_dedup_ins_$split", eAll.filter(col("vec_id") >= split))
    }

  def graphSearch(s: SparkSession, dir: String, k: Int = GraphSearchK,
                  beam: Int = GraphSearchBeam,
                  rounds: Int = GraphSearchRounds): DataFrame =
    beamSearchOver(s, graphSearchIndex(s, dir), flatEntrySet(s, dir), dir, k, beam, rounds)

  /** Query-batch size above which the beam rounds run fully distributed
    * instead of driver-ranked. The driver path holds Q·beam state and
    * scores Q·beam·2k candidates per round on the driver — provably
    * bounded for a keyed Q=20 request, linear-in-Q driver state for a
    * batch-serving job. Above this cutoff the SAME round semantics run
    * as Spark jobs (distinct + per-query window per round) whose
    * per-round exchange overhead is amortized by the batch (the
    * clustersOf threshold pattern, Dedup.scala clustersOf).
    *
    * Placement is measured on BOTH sides of the threshold (r17,
    * docs/bench_r17_crossover.md) with the driver path on the
    * Spark-probe neighbour source (one collect job per round); the
    * in-process snapshot source only makes the driver side cheaper, and
    * the crossover was not re-measured with it. Below it the driver path wins
    * wall-clock locally (Q=2000 at 10×: driver 4.0-6.7s vs dist
    * 8.3-17.5s across the four walks — single-JVM collects are cheap);
    * above it the DISTRIBUTED path wins on every walk (Q=16384: flat
    * 1.8×, filtered 4.2×, int8 1.8×, layered 1.1×), and at Q=65536 the
    * driver path is fragile — it collects 16.8M scored rows per round
    * and either limps to parity or dies on heap depending on JVM
    * state. Any value in ~4000..16000 routes the measured points
    * identically; 8192 = 2M scored rows ≈ 10^2 MB per round sits in
    * the middle. A cluster deployment whose driver is smaller (or
    * whose Q is 10^5) lowers it; the routed path is spec-equal either
    * way (Round15OpsSpec/Round16OpsSpec).
    */
  val GraphSearchDistQ = 8192

  /** The routed entry of every EXPLICIT query batch (batch-serving
    * jobs, the large-Q probe, the parity specs): at or below
    * `distThreshold` query rows the [[driverWalk]], above it the
    * [[distWalk]] over the same frames, scorer and filter — both compute
    * identical rows (Round15/16/17OpsSpec, ServingLifecycleSpec).
    * Collecting at most threshold+1 rows is both the routing probe and
    * the driver walk's one query read, so the probe costs no job of its
    * own, is bounded by the threshold rather than the batch, and a
    * non-deterministic caller frame is walked with exactly the rows it
    * was routed on. `probe` forces the driver walk's Spark-probe source.
    */
  private[graft] def walkBatch(s: SparkSession, adj: DataFrame, entryNodes: DataFrame,
                               sc: WalkScorer, queries: DataFrame, k: Int, beam: Int,
                               rounds: Int, descent: Option[Long], filter: Option[WalkFilter],
                               distThreshold: Int, probe: Boolean): DataFrame = {
    // clamped +1: specs pin a path with distThreshold = Int.MaxValue,
    // which a naive +1 would overflow into a negative LIMIT
    val rows = queries.select(col("q_id"), col("qv"))
      .limit(math.min(distThreshold.toLong + 1, Int.MaxValue).toInt).collect()
    if (rows.length > distThreshold)
      distWalk(s, adj, entryNodes, sc, queries, k, beam, rounds, descent, filter)
    else driverWalk(s, adj, entryNodes, sc, rows, k, beam, rounds, descent, filter, probe)
  }

  private def queryRows(queries: DataFrame): Array[Row] =
    queries.select(col("q_id"), col("qv")).collect()

  /** How a walk scores a query against a node: the float cosine
    * round(fvec_dot(v, qv) / (nrm·qnrm), 6) or the int8 one
    * round(lvec_dot(q, q8) / (n8·qn8), 6). The in-process fold
    * ([[VecKernels]]) is the same double arithmetic as the Catalyst
    * expression ([[scoreCol]], which the Spark-probe source and the
    * distributed walk use), so every path returns bit-identical
    * scores; node norms come from the frames, query norms are
    * sqrt(dot(q, q)).
    */
  private[graft] sealed abstract class WalkScorer(val vec: String, val nrm: String,
                                                  val entryVec: String, val elemBytes: Int,
                                                  val qType: DataType) extends Serializable {
    def query(qv: Array[Float]): (AnyRef, Double)
    def dot(a: AnyRef, b: AnyRef): Double
    /** A vector cell of a collected row, as the array [[dot]] reads. */
    def read(r: Row, i: Int): AnyRef
    def dotCol(a: Column, b: Column): Column
    /** Norm of an entry row: float entry sets carry no norm column. */
    def entryNrm: Column
    /** The (qv, qnrm) query columns [[scoreCol]] reads, from the float
      * query vector: the frame form of [[query]].
      */
    def queryCols(qv: Column): (Column, Column)
    def score(v: AnyRef, n: Double, q: WalkQuery): Double = VecKernels.cos6(dot(v, q.vec), n, q.nrm)
    def scoreCol(v: Column, n: Column): Column = round(dotCol(v, col("qv")) / (n * col("qnrm")), 6)
  }

  private[graft] object FloatCos extends WalkScorer("dv", "dnrm", "nv", 4, ArrayType(FloatType, false)) {
    def query(qv: Array[Float]): (AnyRef, Double) = (qv, math.sqrt(VecKernels.dot(qv, qv)))
    def dot(a: AnyRef, b: AnyRef): Double =
      VecKernels.dot(a.asInstanceOf[Array[Float]], b.asInstanceOf[Array[Float]])
    def read(r: Row, i: Int): AnyRef = r.getSeq[Float](i).toArray
    def dotCol(a: Column, b: Column): Column = VectorOps.dot(a, b)
    def entryNrm: Column = VectorOps.norm(col("nv"))
    def queryCols(qv: Column): (Column, Column) = (qv, VectorOps.norm(qv))
  }

  private[graft] object Int8Cos extends WalkScorer("dq", "dn8", "nq", 8, ArrayType(LongType, false)) {
    def query(qv: Array[Float]): (AnyRef, Double) = {
      val q8 = VecKernels.quantize(qv)
      (q8, math.sqrt(VecKernels.lvecDot(q8, q8).toDouble))
    }
    def dot(a: AnyRef, b: AnyRef): Double =
      VecKernels.lvecDot(a.asInstanceOf[Array[Long]], b.asInstanceOf[Array[Long]]).toDouble
    def read(r: Row, i: Int): AnyRef = r.getSeq[Long](i).toArray
    def dotCol(a: Column, b: Column): Column = call_function("lvec_dot", a, b).cast("double")
    def entryNrm: Column = col("nn8")
    def queryCols(qv: Column): (Column, Column) = {
      val q8 = call_function("fvec_quantize", qv)
      (q8, sqrt(dotCol(q8, q8)))
    }
  }

  private[graft] final case class WalkQuery(id: Long, vec: AnyRef, nrm: Double)

  /** The metadata filter of a filtered walk: pmod(label or id, mod) ==
    * res, over the corpus under `dir` (the adaptive ef's statistics and
    * the arrival lookup read it).
    */
  private[graft] final case class WalkFilter(dir: String, byId: Boolean, mod: Long, res: Long) {
    /** Spark's pmod, so negative labels and moduli match the column. */
    def pass(node: Long, label: java.lang.Long): Boolean = {
      if (!byId && label == null) false
      else {
        val r = (if (byId) node else label.longValue) % mod
        (if (r < 0) (r + mod) % mod else r) == res
      }
    }
    def column(id: Column, label: Column): Column =
      pmod((if (byId) id else label).cast("long"), lit(mod)) === lit(res)
    /** The rows of `nodes` (a bounded frame with a `node` column) whose
      * corpus row passes the filter: a corpus join with `nodes`
      * broadcast onto it, run on the executors.
      */
    def passingRows(s: SparkSession, nodes: DataFrame): DataFrame =
      Graft.embeddings(s, dir).select(col("vec_id").as("node"), col("label").as("nlabel"))
        .join(broadcast(nodes), "node")
        .filter(column(col("node"), col("nlabel")))
    /** The bounded corpus lookup: which of `nodes` pass the filter. */
    def lookup(s: SparkSession, nodes: Seq[Long]): Set[Long] = {
      import s.implicits._
      passingRows(s, nodes.distinct.toDF("node"))
        .select(col("node")).collect().map(_.getLong(0)).toSet
    }
  }

  /** A candidate a walk scored: (q_id, node, score, passes the filter). */
  private type Cand = (Long, Long, Double, Boolean)

  /** Where a driver-ranked walk reads entry points and neighbours. Both
    * sources score with the walk's [[WalkScorer]] and return the same
    * candidates; they differ only in where the work runs.
    */
  private sealed trait WalkSource {
    /** Every entry node scored against every query (node ≠ q_id); the
      * pass flag is computed when `f` is given.
      */
    def entry(qs: Seq[WalkQuery], f: Option[WalkFilter]): Seq[Cand]
    /** The frontier's neighbours in `layer`, scored (dst ≠ q_id). */
    def expand(layer: Long, frontier: Seq[(WalkQuery, Long)], f: Option[WalkFilter]): Seq[Cand]
    /** The nodes among `nodes` that pass `f`. */
    def passing(nodes: Seq[Long], f: WalkFilter): Set[Long]
  }

  /** The Spark-probe source: one broadcast-join probe job of the index
    * frame per round, entry scoring and the arrival lookup as jobs. It
    * serves an index whose snapshot would not fit the driver, and is
    * the reference the snapshot source is spec-checked against.
    */
  private final class ProbeSource(s: SparkSession, adj: DataFrame, entryNodes: DataFrame,
                                  sc: WalkScorer) extends WalkSource {
    private def passCol(f: Option[WalkFilter], id: Column, label: Column): Column =
      f.fold(lit(false))(_.column(id, label)).as("pass")

    private def frame(rows: Seq[Row], withNode: Boolean): DataFrame = {
      val fields = Seq(StructField("q_id", LongType, false)) ++
        (if (withNode) Seq(StructField("node", LongType, false)) else Nil) ++
        Seq(StructField("qv", sc.qType, false), StructField("qnrm", DoubleType, false))
      s.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(fields))
    }

    private def cands(df: DataFrame): Seq[Cand] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSeq

    def entry(qs: Seq[WalkQuery], f: Option[WalkFilter]): Seq[Cand] = {
      val qsDf = frame(qs.map(q => Row(q.id, q.vec, q.nrm)), withNode = false)
      cands(entryNodes.crossJoin(broadcast(qsDf))
        .filter(col("node") =!= col("q_id"))
        .select(col("q_id"), col("node"), sc.scoreCol(col(sc.entryVec), sc.entryNrm).as("score"),
          passCol(f, col("node"), col("nlabel"))))
    }

    def expand(layer: Long, frontier: Seq[(WalkQuery, Long)], f: Option[WalkFilter]): Seq[Cand] = {
      val stDf = frame(frontier.map { case (q, n) => Row(q.id, n, q.vec, q.nrm) }, withNode = true)
      val idx = if (adj.columns.contains("layer")) adj.filter(col("layer") === layer) else adj
      cands(idx.join(broadcast(stDf), col("src") === col("node"))
        .filter(col("dst") =!= col("q_id"))
        .select(col("q_id"), col("dst"), sc.scoreCol(col(sc.vec), col(sc.nrm)).as("score"),
          passCol(f, col("dst"), col("dlabel"))))
    }

    def passing(nodes: Seq[Long], f: WalkFilter): Set[Long] = f.lookup(s, nodes)
  }

  /** Nodes held on the driver: id, scoring vector, norm, label (null
    * when the frame carries none).
    */
  private final class NodeRows(val ids: Array[Long], val vecs: Array[AnyRef],
                               val nrms: Array[Double], val labels: Array[java.lang.Long])
    extends Serializable

  /** Builds [[NodeRows]], keeping the first row of each id; `pos` maps
    * an id to its position.
    */
  private final class NodeRowsBuilder {
    val pos = scala.collection.mutable.LongMap.empty[Int]
    private val ids = Array.newBuilder[Long]; private val vecs = Array.newBuilder[AnyRef]
    private val nrms = Array.newBuilder[Double]
    private val labels = Array.newBuilder[java.lang.Long]
    def add(id: Long, vec: => AnyRef, nrm: Double, label: java.lang.Long): Unit =
      if (!pos.contains(id)) {
        pos(id) = pos.size
        ids += id; vecs += vec; nrms += nrm; labels += label
      }
    def result(): NodeRows = new NodeRows(ids.result(), vecs.result(), nrms.result(), labels.result())
  }

  /** Per-layer CSR adjacency over [[NodeRows]] positions. */
  private final class Csr(val off: Array[Int], val nbr: Array[Int])

  /** A driver-resident copy of one loaded serving index: one row per
    * node (vector, norm, label payload) and a CSR adjacency per layer
    * (the flat index is layer 0).
    */
  private final class IndexSnapshot(val nodes: NodeRows,
                                    val pos: scala.collection.mutable.LongMap[Int],
                                    val layers: Map[Long, Csr])

  /** The in-process source over a snapshot of the index frame and of
    * its entry set: no Spark job per round. A node the index payload
    * does not carry (an entry node no edge reaches) keeps the bounded
    * corpus lookup of the probe source.
    */
  private final class SnapshotSource(s: SparkSession, idx: IndexSnapshot, entrySet: NodeRows,
                                     sc: WalkScorer) extends WalkSource {
    def entry(qs: Seq[WalkQuery], f: Option[WalkFilter]): Seq[Cand] =
      for (q <- qs; i <- entrySet.ids.indices if entrySet.ids(i) != q.id) yield {
        val n = entrySet.ids(i)
        (q.id, n, sc.score(entrySet.vecs(i), entrySet.nrms(i), q),
          f.exists(_.pass(n, entrySet.labels(i))))
      }

    def expand(layer: Long, frontier: Seq[(WalkQuery, Long)], f: Option[WalkFilter]): Seq[Cand] = {
      val nodes = idx.nodes
      idx.layers.get(layer).fold(Seq.empty[Cand]) { g =>
        val out = Seq.newBuilder[Cand]
        frontier.foreach { case (q, n) =>
          idx.pos.get(n).foreach { i =>
            var e = g.off(i)
            while (e < g.off(i + 1)) {
              val j = g.nbr(e)
              val d = nodes.ids(j)
              if (d != q.id)
                out += ((q.id, d, sc.score(nodes.vecs(j), nodes.nrms(j), q),
                  f.exists(_.pass(d, nodes.labels(j)))))
              e += 1
            }
          }
        }
        out.result()
      }
    }

    def passing(nodes: Seq[Long], f: WalkFilter): Set[Long] = {
      def label(n: Long): java.lang.Long =
        idx.pos.get(n).map(idx.nodes.labels(_)).orNull
      val (known, absent) =
        if (f.byId) (nodes, Nil) else nodes.partition(n => label(n) != null)
      known.filter(n => f.pass(n, label(n))).toSet ++
        (if (absent.isEmpty) Set.empty[Long] else f.lookup(s, absent))
    }
  }

  /** Driver memory one index snapshot may take: an eighth of the heap,
    * so a few loaded generations fit beside the collect that builds
    * each one.
    */
  private def snapshotBudgetBytes: Long = Runtime.getRuntime.maxMemory / 8

  /** Snapshots built so far (the per-key latch makes this one per
    * index frame however many walks race on it).
    */
  private[graft] val snapshotBuilds = new java.util.concurrent.atomic.AtomicLong()

  /** A value built once under its own monitor — the per-key latch of the
    * snapshot memo. The thunk is dropped after the build so the value
    * never pins the frame it was built from.
    */
  private final class Once(private var thunk: () => AnyRef) {
    private var v: AnyRef = _
    def get: AnyRef = synchronized {
      if (thunk != null) { v = thunk(); thunk = null }
      v
    }
  }

  /** Snapshots keyed by the IDENTITY of the frame they copy: a
    * republished generation is a new frame and never reads an old
    * snapshot, and a frame nothing references any more drops its entry.
    * The registry lock is held only to find or insert a key's latch;
    * the collect runs under the latch alone.
    */
  private val snapshots = new java.util.WeakHashMap[DataFrame, Once]()
  Graft.onRelease(() => snapshots.synchronized(snapshots.clear()))

  private def memoByFrame[T <: AnyRef](df: DataFrame)(build: => T): T = {
    val once = snapshots.synchronized {
      Option(snapshots.get(df)).getOrElse {
        val o = new Once(() => build)
        snapshots.put(df, o)
        o
      }
    }
    once.get.asInstanceOf[T]
  }

  private def labelCol(df: DataFrame, name: String): Column =
    if (df.columns.contains(name)) col(name).cast("long") else lit(null).cast("long")

  /** The snapshot of an index frame (layer, src, dst, vector, norm[,
    * dlabel]), or None when it would not fit [[snapshotBudgetBytes]]:
    * one aggregate sizes the frame, one collect copies it — each
    * partition compacted on its executor to edge triples plus one
    * payload per distinct destination.
    */
  private def indexSnapshot(adj: DataFrame, sc: WalkScorer): Option[IndexSnapshot] =
    memoByFrame(adj) {
      snapshotBuilds.incrementAndGet()
      val frame = adj.select(
        if (adj.columns.contains("layer")) col("layer").cast("long") else lit(0L),
        col("src"), col("dst"), col(sc.vec), col(sc.nrm), labelCol(adj, "dlabel"))
      val stats = frame.agg(count(lit(1)), max(size(col(sc.vec)))).head()
      val width = if (stats.isNullAt(1)) 0L else stats.getInt(1).toLong
      // per row: an edge triple and at most one (id, vector, norm, label)
      if (stats.getLong(0) * (56L + width * sc.elemBytes) > snapshotBudgetBytes) None
      else {
        val chunks = frame.rdd.mapPartitions { it =>
          val edges = Array.newBuilder[Long]
          val nodes = new NodeRowsBuilder
          it.foreach { r =>
            edges += r.getLong(0); edges += r.getLong(1); edges += r.getLong(2)
            nodes.add(r.getLong(2), sc.read(r, 3), r.getDouble(4),
              if (r.isNullAt(5)) null else r.getLong(5))
          }
          Iterator((edges.result(), nodes.result()))
        }.collect()
        val nodes = new NodeRowsBuilder
        chunks.foreach { case (_, c) =>
          c.ids.indices.foreach(i => nodes.add(c.ids(i), c.vecs(i), c.nrms(i), c.labels(i)))
        }
        val edges = Array.concat(chunks.map(_._1): _*)
        val ne = edges.length / 3
        // a source that is nobody's destination (a one-way frame) still
        // needs a position; it is never scored, so it carries no payload
        (0 until ne).foreach(e => nodes.add(edges(3 * e + 1), null, 0.0, null))
        val n = nodes.pos.size
        val layers = (0 until ne).groupBy(e => edges(3 * e)).map { case (layer, es) =>
          val off = new Array[Int](n + 1)
          es.foreach(e => off(nodes.pos(edges(3 * e + 1)) + 1) += 1)
          for (i <- 0 until n) off(i + 1) += off(i)
          val fill = off.clone()
          val nbr = new Array[Int](es.size)
          es.foreach { e =>
            val i = nodes.pos(edges(3 * e + 1))
            nbr(fill(i)) = nodes.pos(edges(3 * e + 2))
            fill(i) += 1
          }
          layer -> new Csr(off, nbr)
        }
        Some(new IndexSnapshot(nodes.result(), nodes.pos, layers))
      }
    }

  /** The snapshot of an entry set (node, nv | nq, nn8[, nlabel]). */
  private def entrySnapshot(entryNodes: DataFrame, sc: WalkScorer): NodeRows =
    memoByFrame(entryNodes) {
      val rows = entryNodes.select(col("node"), col(sc.entryVec), sc.entryNrm,
        labelCol(entryNodes, "nlabel")).collect()
      new NodeRows(rows.map(_.getLong(0)), rows.map(sc.read(_, 1)), rows.map(_.getDouble(2)),
        rows.map(r => if (r.isNullAt(3)) null else java.lang.Long.valueOf(r.getLong(3))))
    }

  /** Per-query (score desc, node) cut of pooled candidates — the one
    * beam/accumulator cut of every driver-ranked walk. Score is a pure
    * function of (q_id, node), so the distinct collapses re-discovered
    * nodes exactly.
    */
  private def topPerQ(rows: Iterable[(Long, Long, Double)], cut: Int): Map[Long, Seq[(Long, Double)]] =
    rows.groupBy(_._1).map { case (q, rs) =>
      q -> rs.map(r => (r._2, r._3)).toSeq.distinct
        .sortBy { case (n, sc) => (-sc, n) }.take(cut)
    }

  /** A walk's base-layer beam width: `beam`, or for a filtered walk the
    * adaptive ef of its filter's pass rate.
    */
  private def baseWidth(s: SparkSession, beam: Int, filter: Option[WalkFilter]): Int =
    filter.fold(beam) { f =>
      adaptiveEf(beam, Graft.tableRows(s, f.dir, "embeddings"),
        filterPassCount(s, f.dir, f.byId, f.mod, f.res))
    }

  /** One walk phase: up to `maxRounds` rounds, stopping after the first
    * round that leaves every state unchanged. A round's scored set is a
    * pure function of its frontier, so every later round of the phase
    * would be the identity — stopping there is exact.
    */
  private def untilFixed(maxRounds: Int)(round: => Boolean): Unit = {
    var r = 0
    var converged = false
    while (r < maxRounds && !converged) { r += 1; converged = round }
  }

  /** THE driver-ranked walk: beam state lives on the driver, bounded by
    * the query batch (Q·beam rows — the serving request's working set,
    * never the corpus). Entry and strategy:
    *
    *  - flat (`descent` = None): every entry node is scored, each query
    *    starts at its best; a filtered walk seeds its result
    *    accumulator with the passing entry nodes;
    *  - layered (`descent` = Some(maxLevel)): the same start over the
    *    top layer's nodes, then [[HnswDescentRounds]] greedy rounds per
    *    layer maxLevel..1 (state of 1); a filtered walk seeds its
    *    accumulator with the descent's arrival node where it passes.
    *
    * Then up to `rounds` base-layer rounds: expand the frontier one hop,
    * keep the per-query top `beam` (the adaptive ef when filtered) and,
    * when filtered, the top-k passing nodes ever scored. A round that
    * leaves every state unchanged proves the remaining rounds of that
    * phase are no-ops (the scored set is a pure function of the
    * frontier), so they are skipped — exact.
    *
    * The neighbour source is the snapshot of the index frame unless it
    * would not fit the driver, or `probe` forces the Spark-probe
    * source; both compute the same rows.
    */
  private def driverWalk(s: SparkSession, adj: DataFrame, entryNodes: DataFrame, sc: WalkScorer,
                         queries: Array[Row], k: Int, beam: Int, rounds: Int,
                         descent: Option[Long] = None, filter: Option[WalkFilter] = None,
                         probe: Boolean = false): DataFrame = {
    import s.implicits._
    val cut = baseWidth(s, beam, filter)
    val src: WalkSource = (if (probe) None else indexSnapshot(adj, sc))
      .map(idx => new SnapshotSource(s, idx, entrySnapshot(entryNodes, sc), sc))
      .getOrElse(new ProbeSource(s, adj, entryNodes, sc))
    val qs = queries.map { r =>
      val (v, n) = sc.query(r.getSeq[Float](1).toArray)
      WalkQuery(r.getLong(0), v, n)
    }.toSeq
    val byQ = qs.map(q => q.id -> q).toMap
    def pooled(m: Map[Long, Seq[(Long, Double)]]) =
      m.toSeq.flatMap { case (q, ns) => ns.map(n => (q, n._1, n._2)) }
    def scored(cs: Seq[Cand]) = cs.map(c => (c._1, c._2, c._3))

    val seedRes = filter.isDefined && descent.isEmpty
    val entry = src.entry(qs, if (seedRes) filter else None)
    var state = topPerQ(scored(entry), 1)
    var res = if (seedRes) topPerQ(scored(entry.filter(_._4)), k) else Map.empty[Long, Seq[(Long, Double)]]
    // one round; true when it left the state(s) unchanged
    def step(layer: Long, width: Int, f: Option[WalkFilter]): Boolean = {
      val frontier = state.toSeq.flatMap { case (q, ns) => ns.map(n => (byQ(q), n._1)) }
      if (frontier.isEmpty) true
      else {
        val cs = src.expand(layer, frontier, f)
        val next = topPerQ(pooled(state) ++ scored(cs), width)
        val nextRes = if (f.isEmpty) res else topPerQ(pooled(res) ++ scored(cs.filter(_._4)), k)
        val unchanged = next == state && nextRes == res
        state = next
        res = nextRes
        unchanged
      }
    }
    // layers above maxLevel are empty by construction, so skipping them
    // equals the oracle's static OracleMaxLayer..1 descent over zero-row
    // layer CTEs
    descent.foreach { maxLevel =>
      for (l <- maxLevel to 1L by -1L) untilFixed(HnswDescentRounds)(step(l, 1, None))
      filter.foreach { f =>
        val arrivals = pooled(state)
        val pass = if (arrivals.isEmpty) Set.empty[Long] else src.passing(arrivals.map(_._2), f)
        res = topPerQ(arrivals.filter(a => pass(a._2)), k)
      }
    }
    untilFixed(rounds)(step(0L, cut, filter))
    (if (filter.isDefined) res else state).toSeq.flatMap { case (q, ns) =>
      ns.take(k).zipWithIndex.map { case ((n, score), i) => (q, (i + 1).toLong, n, score) }
    }.sortBy(r => (r._1, r._2)).toDF("q_id", "rn", "vec_id", "score")
  }

  /** The keyed flat walks' √N entry set (node, nv, nlabel): the graph's
    * navigable coarse layer, with the filterable payload.
    */
  private def flatEntrySet(s: SparkSession, dir: String): DataFrame =
    Graft.embeddings(s, dir)
      .filter(col("vec_id") < sqrtFanout(Graft.tableRows(s, dir, "embeddings")))
      .select(col("vec_id").as("node"), col("embedding").as("nv"), col("label").as("nlabel"))

  /** The shared beam core of [[graphSearch]] and [[graphSearchFromGen]]:
    * entry scoring over `cents` (node, nv), then `rounds` synchronized
    * beam expansions over the prepared serving index `undE`
    * (src, dst, dv, dnrm) — the two callers differ ONLY in where the
    * index frame comes from (session memo vs a written generation).
    * The keyed query batch is statically bounded (limit
    * GraphSearchQueryCount = 20 < GraphSearchDistQ), so it takes the
    * driver-ranked walk without a routing probe.
    */
  private def beamSearchOver(s: SparkSession, undE: DataFrame, cents: DataFrame,
                             dir: String, k: Int, beam: Int, rounds: Int): DataFrame =
    driverWalk(s, undE, cents, FloatCos, queryRows(graphSearchQueries(s, dir)), k, beam, rounds)

  /** Routed entry for EXPLICIT query batches through the flat walk
    * ([[walkBatch]]): the float scorer over the caller's index `undE`
    * and entry set `cents`. Both paths compute identical values —
    * spec-asserted in Round15OpsSpec.
    */
  private[graft] def beamSearchBatch(s: SparkSession, undE: DataFrame, cents: DataFrame,
                                     queries: DataFrame, k: Int, beam: Int, rounds: Int,
                                     distThreshold: Int = GraphSearchDistQ,
                                     probe: Boolean = false): DataFrame =
    walkBatch(s, undE, cents, FloatCos, queries, k, beam, rounds, None, None, distThreshold, probe)

  /** Per-query (score desc, node) top-`cut` of (q_id, node, score)
    * rows, with an eager localCheckpoint cutting the lineage.
    */
  private def distTop(rows: DataFrame, cut: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("node"))
    rows.withColumn("rn", row_number().over(w)).filter(col("rn") <= cut)
      .select(col("q_id"), col("node"), col("score"))
      .localCheckpoint(true)
  }

  /** One distributed beam-state round: (state ∪ scored) → distinct →
    * [[distTop]] — the exact frame twin of the driver walk's `topPerQ`
    * (score is a pure function of (q_id, node), so the frame distinct
    * collapses re-discovered nodes identically).
    */
  private def distCutRound(state: DataFrame, scored: DataFrame, cut: Int): DataFrame =
    distTop(state.unionByName(scored).distinct(), cut)

  /** Exact fixed-point test for the distributed walk rounds (r21, r20
    * VERDICT item 9 — the driver loops got this in r20): `next` came
    * out of a distCutRound over candidates ⊇ `state`, so per query the
    * kept set has |next_q| = min(cut, |cands_q|) ≥ |state_q| (state was
    * itself cut at `cut`). `next ⊆ state` (an empty exceptAll) then
    * forces next == state, and because a round's `scored` frame is a
    * pure deterministic function of the state, every remaining round
    * would be the identity — exiting early is bit-exact. Both frames
    * are eager localCheckpoints of Q·beam rows, so the check is one
    * bounded-frame job per round; at scale it trades that against a
    * full frontier⋈index shuffle round (guide §1.2: don't compute what
    * you throw away).
    */
  private def distUnchanged(next: DataFrame, state: DataFrame): Boolean =
    next.exceptAll(state).isEmpty

  /** The distributed walk's final (q_id, rn, vec_id, score) cut. */
  private def distFinal(state: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("node"))
    state.withColumn("rn", row_number().over(w).cast("long")).filter(col("rn") <= k)
      .select(col("q_id"), col("rn"), col("node").as("vec_id"), col("score"))
      .orderBy(col("q_id"), col("rn"))
  }

  /** THE distributed walk — the large-Q twin of [[driverWalk]], with
    * the same arguments, entry, phases, cut widths and filter seeds, but
    * every per-query state a (q_id, node, score) frame of Q·width rows
    * that never visits the driver. Per round:
    *
    *  1. PROBE: state ⋈ index on node = src (restricted to the round's
    *     layer when the index has one). The index is repartitioned by
    *     src and persisted ONCE per call, so a round exchanges only the
    *     Q·beam frontier, never the 2kN-edge index;
    *  2. SCORE: the query frame joined on q_id, scored inline in the
    *     projection by the walk's [[WalkScorer]] (the same expression
    *     the Spark-probe source uses), the filter's pass flag riding
    *     along;
    *  3. CUT: [[distCutRound]] at the phase's width and, when filtered,
    *     again at k over the passing rows — both cuts read one scored
    *     frame, so it is checkpointed first.
    *
    * Each phase stops at its [[distUnchanged]] fixed point (a filtered
    * phase only when both states are unchanged). A layered filtered walk
    * seeds its accumulator with the arrival nodes that pass by a corpus
    * join with the Q-row state broadcast onto it — on the executors,
    * never through a collect. Per-round cost: Q·beam·2k score kernels
    * plus exchanges of Q·beam-row frames — independent of corpus size,
    * no driver funnel.
    */
  private def distWalk(s: SparkSession, adj: DataFrame, entryNodes: DataFrame, sc: WalkScorer,
                       queries: DataFrame, k: Int, beam: Int, rounds: Int,
                       descent: Option[Long], filter: Option[WalkFilter]): DataFrame = {
    val cut = baseWidth(s, beam, filter)
    val (qv, qnrm) = sc.queryCols(col("qv"))
    // Both frames are call-scoped: every round ends in an EAGER
    // localCheckpoint, so by the time this returns nothing downstream
    // reads them — unpersist here rather than parking a GB-scale index
    // copy in the cache registry under a shared key (interleaved
    // searches over different dirs evicted each other).
    val qn = queries.select(col("q_id"), qv.as("qv"), qnrm.as("qnrm"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val idx = adj.repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = Seq(col("q_id"), col("node"), col("score"))
    // (q_id, node, score[, pass]) of `pairs`' candidates `id` (≠ q_id)
    def scored(pairs: DataFrame, id: Column, vec: Column, nrm: Column, label: Column,
               f: Option[WalkFilter]): DataFrame = {
      val out = pairs.filter(id =!= col("q_id"))
        .select(Seq(col("q_id"), id.as("node"), sc.scoreCol(vec, nrm).as("score")) ++
          f.map(_.column(id, label).as("pass")): _*)
      if (f.isDefined) out.localCheckpoint(true) else out
    }

    val seedRes = filter.isDefined && descent.isEmpty
    val entry = scored(qn.crossJoin(entryNodes), col("node"), col(sc.entryVec), sc.entryNrm,
      col("nlabel"), if (seedRes) filter else None)
    var state = distTop(entry.select(cands: _*), 1)
    var res =
      if (seedRes) Some(distTop(entry.filter(col("pass")).select(cands: _*).distinct(), k)) else None
    // one round; true when it left the state(s) unchanged
    def step(layer: Long, width: Int, f: Option[WalkFilter]): Boolean = {
      val hop = scored(
        (if (adj.columns.contains("layer")) idx.filter(col("layer") === layer) else idx)
          .join(state.select(col("q_id"), col("node")), col("src") === col("node"))
          .join(qn, "q_id"),
        col("dst"), col(sc.vec), col(sc.nrm), col("dlabel"), f)
      val next = distCutRound(state, hop.select(cands: _*), width)
      val nextRes = f.map(_ => distCutRound(res.get, hop.filter(col("pass")).select(cands: _*), k))
      val unchanged = distUnchanged(next, state) && nextRes.forall(distUnchanged(_, res.get))
      state = next
      if (nextRes.isDefined) res = nextRes
      unchanged
    }
    descent.foreach { maxLevel =>
      for (l <- maxLevel to 1L by -1L) untilFixed(HnswDescentRounds)(step(l, 1, None))
      // the accumulator seed: the arrival nodes that pass
      filter.foreach { f =>
        res = Some(distTop(f.passingRows(s, state).select(cands: _*).distinct(), k))
      }
    }
    untilFixed(rounds)(step(0L, cut, filter))
    qn.unpersist(false)
    idx.unpersist(false)
    distFinal(res.getOrElse(state), k)
  }

  private val writtenGraphGens =
    scala.collection.mutable.Map.empty[String, (DataFrame, DataFrame)]
  Graft.onRelease(() => writtenGraphGens.clear())

  /** Session-memoized WRITTEN graph-index generation per data dir — the
    * disk twin of the `graph_search_index` memo, [[IndexBuilder
    * .writtenIndex]]'s convention applied to the ANN serving graph: the
    * first consumer WRITES the adjacency-with-payload frame and the
    * centroid entry set as parquet (the build job publishing an index
    * generation — exactly what the streaming maintenance's `gen=<n>`
    * dirs hold), every later consumer READS that artifact (the serving
    * tier loading the index from storage, qdrant.py:139-176's
    * collection-on-disk). Returns (adjacency, entry) DataFrames backed
    * by file scans.
    */
  def writtenGraphGen(s: SparkSession, dir: String): (DataFrame, DataFrame) = synchronized {
    writtenGraphGens.getOrElseUpdate(dir, {
      val safe = dir.replaceAll("[^A-Za-z0-9]", "_")
      val out = s"${Graft.artifactRoot}/graft_gen/$safe"
      graphSearchIndex(s, dir).write.mode("overwrite").parquet(s"$out/adjacency")
      // the entry set ships its filterable payload (nlabel) next to the
      // vectors — the adjacency already carries dlabel — so the FILTERED
      // walk serves off the same generation (qdrant payload-storage shape)
      flatEntrySet(s, dir).write.mode("overwrite").parquet(s"$out/entry")
      // the serving tier LOADS the artifact once: persist the read-back
      // frames so the snapshot build and any probed rounds hit RAM, not
      // a repeated parquet scan (at 100x the adjacency is GBs per
      // scan) — spill-safe via the default MEMORY_AND_DISK, and
      // registered with the cache registry so releaseCaches() frees the
      // blocks (the onRelease hook above clears the memo map in step)
      val adj = s.read.parquet(s"$out/adjacency").persist()
      val entry = s.read.parquet(s"$out/entry").persist()
      Graft.trackCaches(s"written_graph_gen_$safe", adj, entry)
      (adj, entry)
    })
  }

  private val writtenDedupedGens =
    scala.collection.mutable.Map.empty[String, (DataFrame, DataFrame)]
  Graft.onRelease(() => writtenDedupedGens.clear())

  /** Session-memoized WRITTEN generation of the DEDUP-GATED serving
    * index — [[writtenGraphGen]]'s convention applied to the repaired
    * graph: the first consumer writes the deduped
    * adjacency-with-payload (survivor + attach edges, undirected) and
    * the √N entry set as parquet; every later consumer reads the
    * artifact. A fleet that repairs its index publishes the REPAIRED
    * generation — shipping the fragmented one would serve the exact
    * failure mode the build fixed.
    */
  def writtenDedupedGen(s: SparkSession, dir: String): (DataFrame, DataFrame) = synchronized {
    writtenDedupedGens.getOrElseUpdate(dir, {
      val safe = dir.replaceAll("[^A-Za-z0-9]", "_")
      val out = s"${Graft.artifactRoot}/graft_dedup_gen/$safe"
      dedupedSearchIndex(s, dir).write.mode("overwrite").parquet(s"$out/adjacency")
      flatEntrySet(s, dir).write.mode("overwrite").parquet(s"$out/entry")
      val adj = s.read.parquet(s"$out/adjacency").persist()
      val entry = s.read.parquet(s"$out/entry").persist()
      Graft.trackCaches(s"written_dedup_gen_$safe", adj, entry)
      (adj, entry)
    })
  }

  /** [[graphSearchDeduped]] run OFF THE WRITTEN generation — the
    * repaired index's deployment split, closing the serving matrix
    * (flat/layered/int8/filtered/deduped × live/written).
    * Read-equivalence ⇒ identical results to the live walk, so the
    * DuckDB oracle is shared verbatim.
    */
  def graphSearchDedupedFromGen(s: SparkSession, dir: String, k: Int = GraphSearchK,
                                beam: Int = GraphSearchBeam,
                                rounds: Int = GraphSearchRounds): DataFrame = {
    val (adjacency, entry) = writtenDedupedGen(s, dir)
    beamSearchOver(s, adjacency, entry, dir, k, beam, rounds)
  }

  private val writtenHnswGens = scala.collection.mutable.Map.empty[String, DataFrame]
  Graft.onRelease(() => writtenHnswGens.clear())

  /** Session-memoized WRITTEN generation of the LAYERED serving index —
    * [[writtenGraphGen]]'s convention applied to the hierarchical
    * structure: the build job publishes the prepared per-layer
    * adjacency-with-payload frame (layer, src, dst, dv, dnrm) as
    * parquet once; every later consumer LOADS that artifact (persisted
    * read-back so the per-phase probes hit RAM). No separate entry
    * artifact: the layered walk's entry set is the top level's nodes,
    * a pure function of vec_id via the deterministic level draw.
    */
  def writtenHnswGen(s: SparkSession, dir: String): DataFrame = synchronized {
    writtenHnswGens.getOrElseUpdate(dir, {
      val safe = dir.replaceAll("[^A-Za-z0-9]", "_")
      val out = s"${Graft.artifactRoot}/graft_hnsw_gen/$safe"
      layeredIndex(s, dir, hnswGraph(s, dir), "hnsw_search_index")
        .write.mode("overwrite").parquet(s"$out/adjacency")
      val adj = s.read.parquet(s"$out/adjacency").persist()
      Graft.trackCaches(s"written_hnsw_gen_$safe", adj)
      adj
    })
  }

  /** A loaded layered deduped generation: the artifact frames plus the
    * walk's entry nodes and top level, derived once at load.
    */
  private final case class HnswDedupGen(adj: DataFrame, entry: DataFrame,
                                        entryNodes: DataFrame, maxLevel: Long)
  private val writtenHnswDedupGens = scala.collection.mutable.Map.empty[String, HnswDedupGen]
  Graft.onRelease(() => writtenHnswDedupGens.clear())

  /** Session-memoized WRITTEN generation of the DEDUP-GATED LAYERED
    * index — [[writtenHnswGen]]'s convention applied to the repaired
    * hierarchy: the per-layer adjacency-with-payload (attach edges in
    * the base layer) plus an explicit ENTRY artifact (node, nv, level)
    * — unlike the plain layered generation, the entry set is NOT a pure
    * vec_id function (it is the top SURVIVOR level, a product of the
    * collapse), so a self-contained artifact must ship it.
    */
  def writtenHnswDedupedGen(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val g = hnswDedupGen(s, dir)
    (g.adj, g.entry)
  }

  private def hnswDedupGen(s: SparkSession, dir: String): HnswDedupGen =
    synchronized {
      writtenHnswDedupGens.getOrElseUpdate(dir, {
        val safe = dir.replaceAll("[^A-Za-z0-9]", "_")
        val out = s"${Graft.artifactRoot}/graft_hnsw_dedup_gen/$safe"
        layeredIndex(s, dir, hnswGraphDeduped(s, dir), "hnsw_dedup_search_index")
          .write.mode("overwrite").parquet(s"$out/adjacency")
        val (_, _, fin) = dedupCollapse(s, dir)
        val eS = Graft.embeddings(s, dir).select(col("vec_id"), col("embedding"))
          .join(fin.filter(col("canon") === col("vec_id")).select(col("vec_id")), "vec_id")
        val lvS = hnswLevelsOver(eS)
        val mlRow = lvS.agg(max(col("level")).as("ml")).collect().head
        val maxLevel = if (mlRow.isNullAt(0)) 0L else mlRow.getLong(0)
        eS.join(lvS.filter(col("level") === maxLevel), "vec_id")
          .select(col("vec_id").as("node"), col("embedding").as("nv"), col("level"))
          .write.mode("overwrite").parquet(s"$out/entry")
        val adj = s.read.parquet(s"$out/adjacency").persist()
        val entry = s.read.parquet(s"$out/entry").persist()
        Graft.trackCaches(s"written_hnsw_dedup_gen_$safe", adj, entry)
        HnswDedupGen(adj, entry, entry.select(col("node"), col("nv")), maxLevel)
      })
    }

  /** [[hnswConnectivityDeduped]] read off the WRITTEN layered deduped
    * generation — what a fleet monitoring the repaired hierarchy
    * actually censuses (the published artifact, not the build session's
    * memo). The generation's adjacency is already the undirected
    * per-layer closure, so the layer-blind node census is one narrow
    * projection + distinct, eagerly checkpointed (one artifact scan per
    * census, the from-gen convention); read-equivalence ⇒ row-equal to
    * the live census, shared oracle.
    */
  def hnswConnectivityDedupedFromGen(s: SparkSession, dir: String,
                                     rounds: Int = GraphConnRounds): DataFrame = {
    val (adj, _) = writtenHnswDedupedGen(s, dir)
    val und = adj.select(col("src"), col("dst")).distinct().localCheckpoint(true)
    val nTot = Graft.tableRows(s, dir, "embeddings")
    censusFrame(s,
      censusCountsOver(und,
        Graft.embeddings(s, dir).filter(col("vec_id") < sqrtFanout(nTot))
          .select(col("vec_id").as("node")),
        rounds, cap = nTot),
      nTot)
  }

  /** [[hnswSearchDeduped]] served OFF THE WRITTEN generation — the
    * layered repaired index's deployment split, completing the serving
    * matrix (flat/layered × plain/deduped × live/written).
    * Read-equivalence ⇒ identical rows to the live descent, so the
    * generated oracle is shared verbatim.
    */
  def hnswSearchDedupedFromGen(s: SparkSession, dir: String, k: Int = GraphSearchK,
                               beam: Int = GraphSearchBeam,
                               rounds: Int = GraphSearchRounds): DataFrame = {
    val g = hnswDedupGen(s, dir)
    hnswWalkDriverOver(s, g.adj, g.entryNodes, g.maxLevel, graphSearchQueries(s, dir),
      k, beam, rounds)
  }

  private val writtenInt8Gens =
    scala.collection.mutable.Map.empty[String, (DataFrame, DataFrame)]
  Graft.onRelease(() => writtenInt8Gens.clear())

  /** Session-memoized WRITTEN generation of the QUANTIZED serving
    * index — [[writtenGraphGen]]'s convention applied to the int8 tier
    * (the 4× memory-cut artifact a serving fleet actually ships,
    * qdrant.py:73's scalar-quantization analog): the build job
    * publishes the adjacency with int8 codes + integer-exact norms
    * (src, dst, dq, dn8) and the quantized √N entry set (node, nq,
    * nn8) as parquet once; every later consumer LOADS those artifacts
    * (persisted read-back, so re-reads hit RAM). The float
    * vectors never enter the artifact — the whole point of shipping
    * the quantized generation.
    */
  def writtenInt8Gen(s: SparkSession, dir: String): (DataFrame, DataFrame) = synchronized {
    writtenInt8Gens.getOrElseUpdate(dir, {
      val safe = dir.replaceAll("[^A-Za-z0-9]", "_")
      val out = s"${Graft.artifactRoot}/graft_int8_gen/$safe"
      int8Index(s, dir).write.mode("overwrite").parquet(s"$out/adjacency")
      int8Cents(s, dir).write.mode("overwrite").parquet(s"$out/entry")
      val adj = s.read.parquet(s"$out/adjacency").persist()
      val entry = s.read.parquet(s"$out/entry").persist()
      Graft.trackCaches(s"written_int8_gen_$safe", adj, entry)
      (adj, entry)
    })
  }

  /** Publish the QUANTIZED serving artifact from arbitrary (members,
    * edges) frames — the periodic job a serving fleet runs against a
    * STREAM-MAINTAINED generation root ([[graft.streaming.IndexStreams
    * .maintainNswIndex]]): quantize the member vectors once, attach
    * codes + integer-exact norms to the undirected adjacency, quantize
    * the √N entry set, and write both under `outRoot` — the same
    * (src, dst, dq, dn8) / (node, nq, nn8) layout [[writtenInt8Gen]]
    * publishes from a live session build, with the same no-float-vector
    * guarantee. Work is one projection over members + one hashed join
    * onto the edge frame — ∝ index size, no rebuild. Returns the loaded
    * artifact frames, walkable by the shared int8 driver core.
    *
    * Payload parity with [[writtenInt8Gen]]: when the members frame
    * carries a `label` column, the filterable payload ships in the
    * artifact too (`dlabel` on the adjacency, `nlabel` on the entry
    * set), so a stream-published generation serves the FILTERED int8
    * walk ([[graphSearchInt8FilteredDriverOver]]) exactly like a
    * session-built one. Label-less members publish the two-column
    * layout, which serves only the unfiltered walk.
    */
  def publishInt8Gen(s: SparkSession, members: DataFrame, edges: DataFrame,
                     outRoot: String): (DataFrame, DataFrame) = {
    val hasLabel = members.columns.contains("label")
    val enBase = members
      .select(col("vec_id").as("dst"),
        call_function("fvec_quantize", col("embedding")).as("dq"),
        (if (hasLabel) col("label") else lit(null)).as("dlabel"))
      .select(col("dst"), col("dq"),
        sqrt(call_function("lvec_dot", col("dq"), col("dq")).cast("double")).as("dn8"),
        col("dlabel"))
    val adjCols = Seq(col("src"), col("dst"), col("dq"), col("dn8")) ++
      (if (hasLabel) Seq(col("dlabel")) else Seq.empty)
    edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .join(enBase.hint("SHUFFLE_HASH"), "dst")
      .select(adjCols: _*)
      .write.mode("overwrite").parquet(s"$outRoot/adjacency")
    val nm = members.count()
    val entryCols = Seq(col("node"), col("nq"),
      sqrt(call_function("lvec_dot", col("nq"), col("nq")).cast("double")).as("nn8")) ++
      (if (hasLabel) Seq(col("nlabel")) else Seq.empty)
    members.filter(col("vec_id") < sqrtFanout(nm))
      .select(col("vec_id").as("node"),
        call_function("fvec_quantize", col("embedding")).as("nq"),
        (if (hasLabel) col("label") else lit(null)).as("nlabel"))
      .select(entryCols: _*)
      .write.mode("overwrite").parquet(s"$outRoot/entry")
    (s.read.parquet(s"$outRoot/adjacency"), s.read.parquet(s"$outRoot/entry"))
  }

  /** Publish the LAYERED serving artifact from arbitrary (members,
    * edges) frames — [[publishInt8Gen]]'s periodic-fleet-job contract
    * applied to the hierarchy: the job a serving tier runs against a
    * STREAM-MAINTAINED layered generation root
    * ([[graft.streaming.IndexStreams.maintainHnswIndex]]), so the
    * hierarchy serves off a restart-safe artifact without a per-session
    * rebuild. Attaches member vectors + norms (and the filterable
    * `dlabel` payload when members carry `label`) to the undirected
    * per-layer adjacency — the exact (layer, src, dst, dv, dnrm[,
    * dlabel]) layout [[writtenHnswGen]] publishes from a live build —
    * and writes the top-layer entry set (node, nv, level) alongside
    * (the descent's start set is a pure function of the member ids via
    * the deterministic level draw, so the artifact is self-contained:
    * a walk needs no corpus access). Work is one projection over
    * members + one hashed join onto the edge frame — ∝ index size, no
    * rebuild. Returns the loaded (adjacency, entry) frames, walkable by
    * [[hnswWalkDriverOver]].
    */
  def publishHnswGen(s: SparkSession, members: DataFrame, edges: DataFrame,
                     outRoot: String): (DataFrame, DataFrame) = {
    val hasLabel = members.columns.contains("label")
    val en = members
      .select(col("vec_id").as("dst"), col("embedding").as("dv"),
        graft.functions.VectorOps.norm(col("embedding")).as("dnrm"),
        (if (hasLabel) col("label") else lit(null)).as("dlabel"))
    val adjCols = Seq(col("layer"), col("src"), col("dst"), col("dv"), col("dnrm")) ++
      (if (hasLabel) Seq(col("dlabel")) else Seq.empty)
    edges.select(col("layer"), col("src"), col("dst"))
      .union(edges.select(col("layer"), col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .join(en.hint("SHUFFLE_HASH"), "dst")
      .select(adjCols: _*)
      .write.mode("overwrite").parquet(s"$outRoot/adjacency")
    val lv = hnswLevelsOver(members)
    val mlRow = lv.agg(max(col("level")).as("ml")).collect().head
    val maxLevel = if (mlRow.isNullAt(0)) 0L else mlRow.getLong(0)
    members.join(lv.filter(col("level") === maxLevel).select(col("vec_id")), "vec_id")
      .select(col("vec_id").as("node"), col("embedding").as("nv"),
        lit(maxLevel).as("level"))
      .write.mode("overwrite").parquet(s"$outRoot/entry")
    (s.read.parquet(s"$outRoot/adjacency"), s.read.parquet(s"$outRoot/entry"))
  }

  /** The int8 graph search run OFF THE WRITTEN INDEX GENERATION —
    * [[graphSearchFromGen]]'s deployment split applied to the
    * quantized tier: a build job publishes the int8 adjacency + entry
    * artifacts once ([[writtenInt8Gen]]), the search LOADS and walks
    * them through the shared driver core. Read-equivalence makes the
    * result IDENTICAL to [[graphSearchInt8]]'s — the same generated
    * oracle verifies both — which closes the deployment-split family:
    * flat (18p11), layered (18p13) and now quantized serving all run
    * off restart-safe on-disk generations.
    */
  def graphSearchInt8FromGen(s: SparkSession, dir: String, k: Int = GraphSearchK,
                             beam: Int = GraphSearchBeam,
                             rounds: Int = GraphSearchRounds): DataFrame = {
    val (adjacency, entry) = writtenInt8Gen(s, dir)
    graphSearchInt8DriverOver(s, adjacency, entry, graphSearchQueries(s, dir), k, beam, rounds)
  }

  /** The layered HNSW search run OFF THE WRITTEN INDEX GENERATION —
    * [[graphSearchFromGen]]'s deployment split applied to the
    * hierarchical index: a build job publishes the layered adjacency
    * artifact once ([[writtenHnswGen]]), the search loads and descends
    * it. Read-equivalence makes the result IDENTICAL to
    * [[hnswSearch]]'s — the same generated oracle verifies both — while
    * the walk's index side is a parquet scan of the generation: the
    * restart-safe serving shape (a fresh session, or another machine,
    * serves the hierarchy without rebuilding it).
    */
  def hnswSearchFromGen(s: SparkSession, dir: String, k: Int = GraphSearchK,
                        beam: Int = GraphSearchBeam,
                        rounds: Int = GraphSearchRounds): DataFrame =
    hnswWalkDriver(s, dir, writtenHnswGen(s, dir), queryRows(graphSearchQueries(s, dir)),
      k, beam, rounds)

  /** The FILTERED layered walk run OFF THE WRITTEN INDEX GENERATION —
    * completes the serving matrix (all five walks × {live, written}):
    * [[writtenHnswGen]]'s artifact carries the filterable payload
    * (dlabel rides [[layeredIndex]]), so the metadata-constrained
    * hierarchical query serves off the same restart-safe generation
    * the unfiltered descent reads. Read-equivalence ⇒ identical rows
    * to [[hnswSearchFiltered]]; the same generated oracle verifies
    * both.
    */
  def hnswSearchFilteredFromGen(s: SparkSession, dir: String, k: Int = GraphSearchK,
                                beam: Int = GraphSearchBeam,
                                rounds: Int = GraphSearchRounds): DataFrame =
    hnswWalkFilteredDriver(s, dir, writtenHnswGen(s, dir), graphSearchQueries(s, dir),
      k, beam, rounds, GraphSearchFilterMod, GraphSearchFilterRes)

  /** The batch graph search run OFF THE WRITTEN INDEX GENERATION — the
    * deployment split `search_from_index` gave the flagship search,
    * applied to the ANN serving graph: a build job publishes the
    * adjacency + entry artifacts once ([[writtenGraphGen]]), the search
    * LOADS and walks them. Read-equivalence means the result is
    * IDENTICAL to [[graphSearch]]'s (the same generated oracle verifies
    * both), and the probe plan's index side is a parquet file scan of
    * the generation instead of the in-memory memo — the restart-safe
    * serving shape: a fresh session (or another machine) serves the
    * index without rebuilding it.
    */
  def graphSearchFromGen(s: SparkSession, dir: String, k: Int = GraphSearchK,
                         beam: Int = GraphSearchBeam,
                         rounds: Int = GraphSearchRounds): DataFrame = {
    val (adjacency, entry) = writtenGraphGen(s, dir)
    beamSearchOver(s, adjacency, entry, dir, k, beam, rounds)
  }

  /** The FILTERED walk run OFF THE WRITTEN INDEX GENERATION — the last
    * serving walk without a deployment split (flat 18p11, layered
    * 18p13, int8 18p14 already have one): [[writtenGraphGen]]'s
    * adjacency carries the label payload (dlabel) and its entry set
    * ships nlabel, so a metadata-constrained query serves off the same
    * restart-safe on-disk generation the unfiltered walk reads — the
    * reference's payload-indexed collection shape (qdrant.py:210-246's
    * query_filter over stored payload). Read-equivalence ⇒ identical
    * rows to [[graphSearchFiltered]], so the same generated oracle
    * verifies both.
    */
  def graphSearchFilteredFromGen(s: SparkSession, dir: String, k: Int = GraphSearchK,
                                 beam: Int = GraphSearchBeam,
                                 rounds: Int = GraphSearchRounds): DataFrame = {
    val (adjacency, entry) = writtenGraphGen(s, dir)
    graphSearchFilteredDriverOver(s, dir, adjacency, entry,
      graphSearchQueries(s, dir), k, beam, rounds,
      byId = false, GraphSearchFilterMod, GraphSearchFilterRes)
  }

  /** Recall@k of the batch graph search vs the exact per-query top-k —
    * the graph-QUALITY metric made oracle-visible the way
    * [[pqRecallEval]] did for PQ: a serving deployment monitors exactly
    * this number when retuning k/beam/rounds. The exact side is the
    * knnJoin pattern (broadcast query batch, one corpus scan, per-query
    * bounded window); the overlap join runs on two k·Q-row frames.
    */
  def graphSearchRecall(s: SparkSession, dir: String, k: Int = GraphSearchK): DataFrame = {
    val found = graphSearch(s, dir, k).select(col("q_id"), col("vec_id"))
    val qs = graphSearchQueries(s, dir)
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
    val exact = Graft.embeddings(s, dir)
      .crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        VectorOps.cosine6(col("embedding"), col("qv")).as("score"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id"))
    found.join(exact, Seq("q_id", "vec_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .crossJoin(broadcast(qs.agg(count(lit(1)).as("n_queries"))))
      .select(lit(k.toLong).as("k"), col("n_queries"), col("n_overlap"),
        // greatest(..., 1): an empty query batch (empty corpus slice)
        // reports 0, not DIVIDE_BY_ZERO under ANSI
        expr(s"n_overlap * 1000000 div greatest($k * n_queries, 1)").as("recall_micros"))
  }

  /** Metadata filter of [[graphSearchFiltered]]: keep nodes whose label
    * satisfies label % Mod == Res — two of the corpus's ten labels,
    * ~20% selectivity: selective enough that the filtered top-k differs
    * from the unfiltered one (the filter actually bites), dense enough
    * that every beam neighborhood contains passing nodes (the regime
    * where filter-during-walk serving works at all; past ~99%
    * selectivity every engine, Qdrant included, flips to brute-force
    * over the filtered set — that route already exists here as
    * `topk_chunks_filtered`).
    */
  val GraphSearchFilterMod = 5L

  /** Residue of the [[graphSearchFiltered]] label filter. */
  val GraphSearchFilterRes = 2L

  /** Batch FILTERED search through the built NSW graph — the serving
    * shape of a metadata-constrained vector query (qdrant.py:210-246
    * passes a Qdrant query_filter: the reference's serving tier applies
    * the chunk-id filter DURING the HNSW walk, not by post-filtering a
    * fixed top-k). Two coupled per-query states:
    *
    *  - the NAVIGATION beam — [[graphSearch]]'s, deliberately
    *    UNFILTERED: dropping non-passing nodes from the traversal
    *    itself disconnects the graph exactly when the filter is
    *    selective (the classic filtered-HNSW failure mode), so the walk
    *    routes THROUGH non-matching regions;
    *  - a RESULT accumulator — the best k among every node the walk
    *    ever SCORED (entry pass included) that passes the filter. The
    *    walk already paid for those score kernels; the accumulator just
    *    refuses to forget the passing ones a wider beam would keep.
    *
    * Same determinism contract as [[graphSearch]] (fixed entry, fixed
    * rounds, (score desc, node) tie-breaks), so the filtered walk
    * unrolls to a generated DuckDB oracle: per round one scored-
    * candidates CTE feeding BOTH the beam cut and the accumulator cut.
    * Scale shape identical to the unfiltered search — the filter is one
    * int comparison inline in the probe join's projection, evaluated on
    * the SAME shared serving index (the label column rides the memoized
    * adjacency; a serving tier stores filterable payload next to the
    * vectors). Queries whose walk never scores a passing node emit no
    * rows — the serving contract for an over-selective filter.
    *
    * ADAPTIVE ef (r15): a fixed navigation width degrades hard as the
    * filter gets selective — the known filtered-HNSW failure mode: at
    * pass rate p the walk scores ~1/p non-answers per answer, so the
    * accumulator starves unless the beam widens. The rule is one
    * integer expression of two corpus counts (deterministic, so the
    * generated oracle computes the SAME width as a scalar subquery):
    * ef = clamp(beam · nTot / (5 · nPass), beam, [[GraphSearchEfMax]])
    * — normalized so the design selectivity (the 20% label filter the
    * keyed query runs) keeps ef = beam, and a 1% filter saturates at
    * EfMax. nPass is one count over the corpus — the cost of a
    * selectivity ESTIMATE a real serving tier keeps as a statistic.
    */
  def graphSearchFiltered(s: SparkSession, dir: String, k: Int = GraphSearchK,
                          beam: Int = GraphSearchBeam,
                          rounds: Int = GraphSearchRounds): DataFrame =
    graphSearchFilteredWalk(s, dir, k, beam, rounds,
      byId = false, GraphSearchFilterMod, GraphSearchFilterRes)

  /** Navigation-beam ceiling of the adaptive-ef rule: past this the
    * walk's per-round cost stops growing and an even-more-selective
    * filter trades recall instead (the regime where a deployment flips
    * to brute-force over the filtered subset — that route exists as
    * `ann_filtered`).
    */
  val GraphSearchEfMax = 128L

  /** The adaptive navigation width: beam · nTot / (designMod · nPass),
    * clamped to [beam, EfMax] — integer floor division in BOTH engines.
    */
  private def adaptiveEf(beam: Int, nTot: Long, nPass: Long): Int =
    math.min(GraphSearchEfMax,
      math.max(beam.toLong,
        beam.toLong * nTot / (GraphSearchFilterMod * math.max(nPass, 1L)))).toInt

  /** Session-memoized filter pass count — the selectivity statistic the
    * adaptive-ef rule reads (one footer-cheap count per (dir, filter)
    * per session, the [[Graft.tableRows]] pattern).
    */
  private val passCounts = scala.collection.mutable.Map.empty[(String, Boolean, Long, Long), Long]
  private def filterPassCount(s: SparkSession, dir: String, byId: Boolean,
                              fMod: Long, fRes: Long): Long = {
    val key = (dir, byId, fMod, fRes)
    synchronized(passCounts.get(key)).getOrElse {
      val c = if (byId) col("vec_id") else col("label")
      val n = Graft.embeddings(s, dir)
        .filter(pmod(c.cast("long"), lit(fMod)) === lit(fRes)).count()
      synchronized(passCounts.getOrElseUpdate(key, n))
    }
  }
  Graft.onRelease(() => passCounts.clear())

  /** The filtered walk over an arbitrary (mod, res) filter on either
    * the label payload (`byId = false` — the keyed query's metadata
    * filter) or the vector id (`byId = true` — the selectivity CURVE's
    * axis: labels quantize to 10% steps, ids reach 1%). Driver-ranked
    * dual state (navigation beam at adaptive ef + filter-passing
    * result heap at k), bounded by the keyed request — batch-serving
    * jobs route through [[graphSearchFilteredBatch]] instead.
    */
  private[graft] def graphSearchFilteredWalk(s: SparkSession, dir: String, k: Int,
                                             beam: Int, rounds: Int, byId: Boolean,
                                             fMod: Long, fRes: Long): DataFrame =
    graphSearchFilteredDriverOver(s, dir, graphSearchIndex(s, dir), flatEntrySet(s, dir),
      graphSearchQueries(s, dir), k, beam, rounds, byId, fMod, fRes)

  /** Routed entry for EXPLICIT query batches through the FILTERED walk
    * ([[walkBatch]]): the flat walk's frames with the (mod, res) filter,
    * so both routes run the dual state (navigation beam at the adaptive
    * ef, filter-passing accumulator at k). Values identical on both
    * paths — spec-asserted in Round16OpsSpec.
    */
  private[graft] def graphSearchFilteredBatch(s: SparkSession, dir: String, queries: DataFrame,
                                              k: Int, beam: Int, rounds: Int, byId: Boolean,
                                              fMod: Long, fRes: Long,
                                              distThreshold: Int = GraphSearchDistQ,
                                              probe: Boolean = false): DataFrame =
    walkBatch(s, graphSearchIndex(s, dir), flatEntrySet(s, dir), FloatCos, queries, k, beam, rounds,
      None, Some(WalkFilter(dir, byId, fMod, fRes)), distThreshold, probe)

  /** The filtered walk over CALLER-SUPPLIED index frames: `undE` = the
    * undirected adjacency with payload (src, dst, dv, dnrm, dlabel) and
    * `cents` = the √N entry set with its filterable payload (node, nv,
    * nlabel) — the shapes [[writtenGraphGen]] publishes. Corpus
    * statistics (row count, filter pass count) still come from `dir`:
    * a serving tier ships them as index metadata next to the artifact.
    */
  private[graft] def graphSearchFilteredDriverOver(s: SparkSession, dir: String, undE: DataFrame,
                                                   cents: DataFrame, queries: DataFrame,
                                                   k: Int, beam: Int, rounds: Int, byId: Boolean,
                                                   fMod: Long, fRes: Long): DataFrame =
    driverWalk(s, undE, cents, FloatCos, queryRows(queries), k, beam, rounds,
      filter = Some(WalkFilter(dir, byId, fMod, fRes)))

  /** Recall@k of the FILTERED graph search vs the exact top-k over the
    * passing subset — the number a filtered-ANN deployment actually
    * watches: selective filters degrade graph recall (fewer passing
    * nodes per neighborhood ⇒ the walk must score more non-answers per
    * answer). r15 makes the whole DEGRADATION CURVE oracle-visible:
    * one row per selectivity (20%, 5%, 1% via vec_id-residue filters —
    * labels quantize to 10% steps, ids reach 1%), each row carrying the
    * adaptive ef the walk actually ran at, so the ef rule's effect is
    * hash-checked next to the unfiltered `ann_graph_search_recall`
    * baseline. The exact side is [[graphSearchRecall]]'s
    * broadcast-batch scan restricted to filter-passing rows.
    */
  val FilterCurveMods: Seq[Long] = Seq(5L, 20L, 100L)
  val FilterCurveRes = 2L

  def graphSearchFilteredRecall(s: SparkSession, dir: String, k: Int = GraphSearchK): DataFrame = {
    val nTot = Graft.tableRows(s, dir, "embeddings")
    val qs = graphSearchQueries(s, dir)
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
    // independent selectivity branches overlapped — see
    // hnswSearchFilteredRecall (values and union order unchanged)
    Graft.inParallel(FilterCurveMods) { m =>
      val nPass = filterPassCount(s, dir, byId = true, m, FilterCurveRes)
      val ef = adaptiveEf(GraphSearchBeam, nTot, nPass)
      val found = graphSearchFilteredWalk(s, dir, k, GraphSearchBeam, GraphSearchRounds,
          byId = true, m, FilterCurveRes)
        .select(col("q_id"), col("vec_id"))
      val exact = Graft.embeddings(s, dir)
        .filter(pmod(col("vec_id"), lit(m)) === lit(FilterCurveRes))
        .crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          VectorOps.cosine6(col("embedding"), col("qv")).as("score"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
        .select(col("q_id"), col("vec_id"))
      found.join(exact, Seq("q_id", "vec_id"))
        .agg(count(lit(1)).as("n_overlap"))
        .crossJoin(broadcast(qs.agg(count(lit(1)).as("n_queries"))))
        .select(lit(m).as("f_mod"), lit(ef.toLong).as("ef"),
          lit(k.toLong).as("k"), col("n_queries"), col("n_overlap"),
          expr(s"n_overlap * 1000000 div greatest($k * n_queries, 1)").as("recall_micros"))
    }.reduce(_.unionByName(_))
  }

  /** Greedy rounds per upper layer of [[hnswSearch]]'s descent: each
    * round the per-query state (1 node) expands one hop in the current
    * layer and keeps the best — the batch analog of HNSW's
    * greedy-to-local-minimum upper-layer walk. Upper layers shrink 4×
    * per level, so 2 hops cross a layer's diameter with high
    * probability; fixed (not walk-until-stable) keeps the whole descent
    * a bounded, cross-engine-unrollable round count.
    */
  val HnswDescentRounds = 2

  /** Batch search through the FULL LAYERED HNSW index — the exact
    * serving walk of the reference's vector store (qdrant.py:210-246;
    * Qdrant's query path is hierarchical descent, Malkov & Yashunin
    * 2016 Alg. 5): where [[graphSearch]] enters the flat NSW graph via
    * its √N centroid layer, this enters at the structure's own sparse
    * top layer and DESCENDS —
    *
    *  1. ENTRY: each query scores the top layer's node set (geometric
    *     4^-l decay ⇒ O(N/4^Lmax) ≈ a handful of nodes) and keeps the
    *     best;
    *  2. DESCEND: for each layer Lmax..1, [[HnswDescentRounds]] greedy
    *     rounds — the 1-node state expands along that layer's edges,
    *     rescores, keeps the per-query best (state ∪ neighbors, so the
    *     walk never regresses);
    *  3. REFINE: `rounds` beam-expansion rounds at width `beam` in
    *     layer 0 — identical machinery to [[graphSearch]]'s refine
    *     stage, but seeded by the descent instead of a centroid scan.
    *
    * Deterministic end-to-end (fixed round counts, (score desc, node)
    * total-order tie-breaks, integer-exact level draws), so the whole
    * layered walk unrolls to a generated DuckDB oracle: the 17-layer
    * build stack, then one chained MATERIALIZED CTE per descent/beam
    * round. Scale shape: the layered index (≈ 8N/3 undirected edges,
    * memoized with destination vectors attached) is the serving tier's
    * loaded structure; each round scores the frontier's layer
    * neighbours (in process over the index snapshot, or as a join
    * per round on the distributed path) — per-query cost
    * O(ef·2k + Lmax·2k) score kernels, INDEPENDENT of N (vs
    * [[graphSearch]]'s Q×√N entry scan: at 10^12 vectors the √N entry
    * pass scores 10^6 centroids/query while the descent scores ~40·2k —
    * the entire reason serving indexes are hierarchical).
    */
  def hnswSearch(s: SparkSession, dir: String, k: Int = GraphSearchK,
                 beam: Int = GraphSearchBeam,
                 rounds: Int = GraphSearchRounds): DataFrame =
    hnswSearchOver(s, dir, hnswGraph(s, dir), "hnsw_search_index", k, beam, rounds)

  /** The layered descent over an ARBITRARY layered edge frame — the
    * serving walk of [[hnswSearch]] (which reads the full rebuild) and
    * of the spec that serves the MERGED [[hnswGraphInsert]] generation
    * (the deployment's post-insert state). `memoKey` keys the prepared
    * search index per edge source.
    */
  private[graft] def hnswSearchOver(s: SparkSession, dir: String, edges: DataFrame,
                                    memoKey: String, k: Int = GraphSearchK,
                                    beam: Int = GraphSearchBeam,
                                    rounds: Int = GraphSearchRounds): DataFrame =
    // keyed batch is statically bounded — driver path, no routing probe
    hnswWalkDriver(s, dir, layeredIndex(s, dir, edges, memoKey),
      queryRows(graphSearchQueries(s, dir)), k, beam, rounds)

  /** The layered search index over an edge frame — per-layer undirected
    * adjacency with the destination's vector attached ONCE
    * (session-shared under `memoKey`): the frame a serving tier holds
    * in memory, layer as just another key column.
    */
  private def layeredIndex(s: SparkSession, dir: String, edges: DataFrame,
                           memoKey: String): DataFrame =
    Graft.memoFlat(memoKey, dir) {
      val en = Graft.embeddings(s, dir)
        .select(col("vec_id").as("dst"), col("embedding").as("dv"),
          VectorOps.norm(col("embedding")).as("dnrm"), col("label").as("dlabel"))
      edges.select(col("layer"), col("src"), col("dst"))
        .union(edges.select(col("layer"), col("dst").as("src"), col("src").as("dst")))
        .distinct()
        .join(en.hint("SHUFFLE_HASH"), "dst")
        // dlabel rides the prepared index like the flat twin's
        // (graphSearchIndex): the filterable payload a serving tier
        // stores next to the vectors, read by hnswSearchFiltered
        .select(col("layer"), col("src"), col("dst"), col("dv"), col("dnrm"), col("dlabel"))
        .repartition(indexPartitions(Graft.tableRows(s, dir, "embeddings")), col("src"))
    }

  /** Routed entry for EXPLICIT query batches through the layered HNSW
    * walk ([[walkBatch]]) — the hierarchical descent; values identical
    * on both paths (Round16OpsSpec).
    */
  private[graft] def hnswSearchBatch(s: SparkSession, dir: String, edges: DataFrame,
                                     memoKey: String, queries: DataFrame,
                                     k: Int = GraphSearchK, beam: Int = GraphSearchBeam,
                                     rounds: Int = GraphSearchRounds,
                                     distThreshold: Int = GraphSearchDistQ,
                                     probe: Boolean = false): DataFrame = {
    val (entryNodes, maxLevel) = hnswEntryState(s, dir)
    walkBatch(s, layeredIndex(s, dir, edges, memoKey), entryNodes, FloatCos, queries, k, beam,
      rounds, Some(maxLevel), None, distThreshold, probe)
  }

  /** The driver-ranked layered walk over a PREPARED per-layer serving
    * index (layer, src, dst, dv, dnrm), entered at the corpus's top
    * level — shared by the live build ([[hnswSearchOver]]) and the
    * written-generation load ([[hnswSearchFromGen]]).
    */
  private def hnswWalkDriver(s: SparkSession, dir: String, undL: DataFrame,
                             queries: Array[Row], k: Int, beam: Int, rounds: Int,
                             probe: Boolean = false): DataFrame = {
    // entry: the top layer's node set is O(N·4^-Lmax) ≈ a handful —
    // session-memoized with the max level (hnswEntryState)
    val (entryNodes, maxLevel) = hnswEntryState(s, dir)
    driverWalk(s, undL, entryNodes, FloatCos, queries, k, beam, rounds,
      descent = Some(maxLevel), probe = probe)
  }

  /** The layered driver walk over fully EXPLICIT serving state — the
    * (layer, src, dst, dv, dnrm) adjacency, the top-layer entry node
    * set (node, nv) and its level — so a SELF-CONTAINED published
    * artifact ([[publishHnswGen]]: entry rows carry `level` = the top
    * layer) serves the descent without any corpus access.
    */
  private[graft] def hnswWalkDriverOver(s: SparkSession, undL: DataFrame,
                                        entryNodes: DataFrame, maxLevel: Long,
                                        queries: DataFrame, k: Int, beam: Int,
                                        rounds: Int, probe: Boolean = false): DataFrame =
    driverWalk(s, undL, entryNodes, FloatCos, queryRows(queries), k, beam, rounds,
      descent = Some(maxLevel), probe = probe)

  /** Metadata-FILTERED layered descent — [[graphSearchFiltered]]'s dual
    * state applied to the hierarchy [[hnswSearch]] serves, which is the
    * reference deployment's actual shape: Qdrant applies the
    * query_filter DURING the HNSW search over the layered index
    * (qdrant.py:73 builds HNSW, qdrant.py:220-239 filters the walk).
    * The descent through layers max..1 navigates UNFILTERED (dropping
    * non-passing nodes from navigation disconnects the hierarchy
    * exactly when the filter is selective — the same failure mode the
    * flat filtered walk avoids), and the base layer runs the two
    * coupled states: the navigation beam at the same adaptive ef, plus
    * a filter-passing result accumulator over every base-phase scored
    * node, seeded by the descent's arrival node when it passes. Same
    * determinism contract as both parents ((score desc, node) cuts,
    * cosine6), so the whole walk unrolls to a generated oracle — the
    * layered descent CTEs feeding the filtered base-round CTEs.
    */
  def hnswSearchFiltered(s: SparkSession, dir: String, k: Int = GraphSearchK,
                         beam: Int = GraphSearchBeam,
                         rounds: Int = GraphSearchRounds): DataFrame =
    hnswWalkFilteredDriver(s, dir,
      layeredIndex(s, dir, hnswGraph(s, dir), "hnsw_search_index"),
      graphSearchQueries(s, dir), k, beam, rounds,
      GraphSearchFilterMod, GraphSearchFilterRes)

  /** Routed entry for EXPLICIT query batches through the FILTERED
    * layered walk ([[walkBatch]]): the layered index entered at the
    * corpus's top level, with the keyed label filter. Values identical
    * on both paths — spec-asserted in Round17OpsSpec.
    */
  private[graft] def hnswSearchFilteredBatch(s: SparkSession, dir: String, queries: DataFrame,
                                             k: Int = GraphSearchK,
                                             beam: Int = GraphSearchBeam,
                                             rounds: Int = GraphSearchRounds,
                                             distThreshold: Int = GraphSearchDistQ,
                                             probe: Boolean = false): DataFrame = {
    val (entryNodes, maxLevel) = hnswEntryState(s, dir)
    walkBatch(s, layeredIndex(s, dir, hnswGraph(s, dir), "hnsw_search_index"), entryNodes,
      FloatCos, queries, k, beam, rounds, Some(maxLevel),
      Some(WalkFilter(dir, false, GraphSearchFilterMod, GraphSearchFilterRes)), distThreshold, probe)
  }

  /** The driver-ranked filtered layered walk (see
    * [[hnswSearchFiltered]]) over a prepared per-layer index: the
    * descent, then the flat filtered walk's dual base state. The entry
    * is the corpus's top level; the DEDUP-GATED callers pass the top
    * SURVIVOR level instead (a product of the collapse there, not a
    * pure vec_id function).
    */
  private[graft] def hnswWalkFilteredDriver(s: SparkSession, dir: String, undL: DataFrame,
                                            queries: DataFrame, k: Int, beam: Int, rounds: Int,
                                            fMod: Long, fRes: Long,
                                            byId: Boolean = false,
                                            entryOverride: Option[(DataFrame, Long)] = None,
                                            probe: Boolean = false): DataFrame = {
    val (entryNodes, maxLevel) = entryOverride.getOrElse(hnswEntryState(s, dir))
    driverWalk(s, undL, entryNodes, FloatCos, queryRows(queries), k, beam, rounds,
      descent = Some(maxLevel), filter = Some(WalkFilter(dir, byId, fMod, fRes)), probe = probe)
  }

  /** Recall degradation CURVE of the FILTERED LAYERED walk — the
    * hierarchy twin of [[graphSearchFilteredRecall]]: one row per
    * selectivity (20%, 5%, 1% via vec_id-residue filters), each
    * carrying the adaptive ef the descent's base phase ran at, exact
    * side restricted to the passing subset. Makes the filtered-HNSW
    * degradation the reference's deployment actually monitors
    * oracle-visible next to the flat curve.
    */
  def hnswSearchFilteredRecall(s: SparkSession, dir: String, k: Int = GraphSearchK): DataFrame = {
    val nTot = Graft.tableRows(s, dir, "embeddings")
    val qs = graphSearchQueries(s, dir)
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
    val undL = layeredIndex(s, dir, hnswGraph(s, dir), "hnsw_search_index")
    // the three selectivity branches are independent walks over the one
    // memoized index — overlap them (Graft.inParallel, guide §2.6); the
    // racing first walks share one snapshot build (its per-key latch);
    // branch order (and therefore the unioned output) is preserved
    Graft.inParallel(FilterCurveMods) { m =>
      val nPass = filterPassCount(s, dir, byId = true, m, FilterCurveRes)
      val ef = adaptiveEf(GraphSearchBeam, nTot, nPass)
      val found = hnswWalkFilteredDriver(s, dir, undL, qs, k, GraphSearchBeam,
          GraphSearchRounds, m, FilterCurveRes, byId = true)
        .select(col("q_id"), col("vec_id"))
      val exact = Graft.embeddings(s, dir)
        .filter(pmod(col("vec_id"), lit(m)) === lit(FilterCurveRes))
        .crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          VectorOps.cosine6(col("embedding"), col("qv")).as("score"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
        .select(col("q_id"), col("vec_id"))
      found.join(exact, Seq("q_id", "vec_id"))
        .agg(count(lit(1)).as("n_overlap"))
        .crossJoin(broadcast(qs.agg(count(lit(1)).as("n_queries"))))
        .select(lit(m).as("f_mod"), lit(ef.toLong).as("ef"),
          lit(k.toLong).as("k"), col("n_queries"), col("n_overlap"),
          expr(s"n_overlap * 1000000 div greatest($k * n_queries, 1)").as("recall_micros"))
    }.reduce(_.unionByName(_))
  }

  /** Batch graph search over an int8-QUANTIZED index — the compressed
    * serving tier (FAISS SQ8 / Qdrant scalar quantization): the graph
    * is built offline at full precision ([[nswGraph]] — build quality
    * is not sacrificed), but the serving index attaches the
    * [[FloatVecDot.quantize]] int8 codes instead of the float vectors,
    * a 4× memory cut (at 10^12 × 64 dims: 256 TB of float32 index
    * shrinks to 64 TB — the difference between an index that fits the
    * serving fleet's RAM and one that doesn't). Scoring is the
    * int8-reconstructed cosine: round(qdot / (‖d8‖·‖q8‖), 6) with the
    * dot EXACT integer arithmetic (lvec_dot) — deterministic
    * cross-engine, so the whole quantized walk has a generated DuckDB
    * oracle like the float one. Beam machinery identical to
    * [[graphSearch]]; the quantization penalty is measured by the spec
    * (top-k overlap vs the float search and vs exact).
    */
  def graphSearchInt8(s: SparkSession, dir: String, k: Int = GraphSearchK,
                      beam: Int = GraphSearchBeam,
                      rounds: Int = GraphSearchRounds): DataFrame =
    // the keyed query batch is statically bounded (20 < GraphSearchDistQ)
    // — driver path without a routing probe
    graphSearchInt8DriverOver(s, int8Index(s, dir), int8Cents(s, dir),
      graphSearchQueries(s, dir), k, beam, rounds)

  /** The int8 ENTRY SET: the √N centroid ids with their quantized
    * codes + integer-exact norms — the quantized twin of the flat
    * walk's entry frame, shared by the driver and distributed paths
    * and written out as the generation's `entry` artifact.
    */
  private def int8Cents(s: SparkSession, dir: String): DataFrame =
    Graft.embeddings(s, dir)
      .filter(col("vec_id") < sqrtFanout(Graft.tableRows(s, dir, "embeddings")))
      .select(col("vec_id").as("node"),
        call_function("fvec_quantize", col("embedding")).as("nq"),
        col("label").as("nlabel"))
      .select(col("node"), col("nq"),
        sqrt(call_function("lvec_dot", col("nq"), col("nq")).cast("double")).as("nn8"),
        col("nlabel"))

  /** The COMPRESSED serving index over `edges` (session-memoized under
    * `memoKey`): undirected adjacency carrying int8 codes + their
    * integer-exact norms, not float vectors. Built over [[nswGraph]]
    * (`graph_search_index_int8`) and over the DEDUP-GATED build
    * [[nswGraphDeduped]] (`dedup_search_index_int8`) — the quantized
    * tier of the repaired graph, the composition a fleet ships (Qdrant =
    * scalar quantization + HNSW, and a fleet that repairs its index
    * quantizes the repaired one).
    */
  private def int8IndexOver(s: SparkSession, dir: String, edges: => DataFrame,
                            memoKey: String): DataFrame =
    Graft.memoFlat(memoKey, dir) {
      val e = edges
      val en = Graft.embeddings(s, dir)
        .select(col("vec_id").as("dst"),
          call_function("fvec_quantize", col("embedding")).as("dq"),
          col("label").as("dlabel"))
        .select(col("dst"), col("dq"),
          sqrt(call_function("lvec_dot", col("dq"), col("dq")).cast("double")).as("dn8"),
          col("dlabel"))
      e.select(col("src"), col("dst"))
        .union(e.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
        .join(en.hint("SHUFFLE_HASH"), "dst")
        // the filterable payload ships with the quantized index too —
        // Qdrant composes scalar quantization WITH query filters; the
        // int8-filtered walk reads dlabel/nlabel from the same artifact
        .select(col("src"), col("dst"), col("dq"), col("dn8"), col("dlabel"))
        .repartition(indexPartitions(Graft.tableRows(s, dir, "embeddings")), col("src"))
    }

  private def int8Index(s: SparkSession, dir: String): DataFrame =
    int8IndexOver(s, dir, nswGraph(s, dir), "graph_search_index_int8")

  private def int8DedupIndex(s: SparkSession, dir: String): DataFrame =
    int8IndexOver(s, dir, nswGraphDeduped(s, dir), "dedup_search_index_int8")

  /** The int8 beam walk SERVED OFF the dedup-gated build — quantized ×
    * deduped, the serving-matrix cell a deployment actually runs (4×
    * memory cut AND clique-free reach): [[graphSearchInt8]]'s walk with
    * only the adjacency swapped, so on a dup-free corpus the two walks
    * are identical, and on a replica corpus the attach edges carry the
    * walk out of the entry copy-cliques exactly like the float deduped
    * walk (Round20OpsSpec).
    */
  def graphSearchInt8Deduped(s: SparkSession, dir: String, k: Int = GraphSearchK,
                             beam: Int = GraphSearchBeam,
                             rounds: Int = GraphSearchRounds): DataFrame =
    graphSearchInt8DriverOver(s, int8DedupIndex(s, dir), int8Cents(s, dir),
      graphSearchQueries(s, dir), k, beam, rounds)

  /** The metadata-FILTERED dual-state walk over the DEDUP-GATED build —
    * filtered × deduped, the reference's full deployed composition
    * (Qdrant applies the query_filter DURING the search over an index
    * whose long-range reach the repair restores): the exact
    * [[graphSearchFiltered]] machinery — unfiltered navigation beam at
    * the adaptive ef, filter-passing result accumulator — with only the
    * adjacency swapped for the survivor+attach index, so a query whose
    * passing answers live in OTHER copy-cliques can still reach them.
    * On a dup-free corpus it equals [[graphSearchFiltered]].
    */
  def graphSearchFilteredDeduped(s: SparkSession, dir: String, k: Int = GraphSearchK,
                                 beam: Int = GraphSearchBeam,
                                 rounds: Int = GraphSearchRounds): DataFrame =
    graphSearchFilteredDriverOver(s, dir, dedupedSearchIndex(s, dir), flatEntrySet(s, dir),
      graphSearchQueries(s, dir), k, beam, rounds, byId = false,
      GraphSearchFilterMod, GraphSearchFilterRes)

  /** [[graphSearchFilteredDeduped]] run OFF THE WRITTEN generation —
    * the filtered×deduped cell's deployment split:
    * [[writtenDedupedGen]]'s adjacency already carries the filterable
    * payload (dlabel rides [[dedupedSearchIndex]]) and its entry set
    * ships nlabel, so the metadata-constrained walk serves off the
    * same restart-safe repaired generation the unfiltered deduped walk
    * reads. Read-equivalence ⇒ identical rows to the live walk, shared
    * generated oracle.
    */
  def graphSearchFilteredDedupedFromGen(s: SparkSession, dir: String, k: Int = GraphSearchK,
                                        beam: Int = GraphSearchBeam,
                                        rounds: Int = GraphSearchRounds): DataFrame = {
    val (adjacency, entry) = writtenDedupedGen(s, dir)
    graphSearchFilteredDriverOver(s, dir, adjacency, entry,
      graphSearchQueries(s, dir), k, beam, rounds,
      byId = false, GraphSearchFilterMod, GraphSearchFilterRes)
  }

  private val writtenInt8DedupGens =
    scala.collection.mutable.Map.empty[String, (DataFrame, DataFrame)]
  Graft.onRelease(() => writtenInt8DedupGens.clear())

  /** Session-memoized WRITTEN generation of the QUANTIZED DEDUP-GATED
    * serving index — [[writtenInt8Gen]]'s convention applied to the
    * repaired graph: the build job publishes the survivor+attach
    * adjacency with int8 codes + integer-exact norms (and the
    * filterable payload) plus the quantized √N entry set; the float
    * vectors never enter the artifact. The composition a fleet
    * actually ships: the 4× memory cut AND the clique-free reach in
    * one restart-safe generation.
    */
  def writtenInt8DedupedGen(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    synchronized {
      writtenInt8DedupGens.getOrElseUpdate(dir, {
        val safe = dir.replaceAll("[^A-Za-z0-9]", "_")
        val out = s"${Graft.artifactRoot}/graft_int8_dedup_gen/$safe"
        int8DedupIndex(s, dir).write.mode("overwrite").parquet(s"$out/adjacency")
        int8Cents(s, dir).write.mode("overwrite").parquet(s"$out/entry")
        val adj = s.read.parquet(s"$out/adjacency").persist()
        val entry = s.read.parquet(s"$out/entry").persist()
        Graft.trackCaches(s"written_int8_dedup_gen_$safe", adj, entry)
        (adj, entry)
      })
    }

  /** [[graphSearchInt8Deduped]] run OFF THE WRITTEN generation — the
    * quantized×deduped cell's deployment split through the shared int8
    * driver core. Read-equivalence ⇒ identical rows to the live walk,
    * so [[duckGraphSearchInt8DedupedSql]] verifies both.
    */
  def graphSearchInt8DedupedFromGen(s: SparkSession, dir: String, k: Int = GraphSearchK,
                                    beam: Int = GraphSearchBeam,
                                    rounds: Int = GraphSearchRounds): DataFrame = {
    val (adjacency, entry) = writtenInt8DedupedGen(s, dir)
    graphSearchInt8DriverOver(s, adjacency, entry, graphSearchQueries(s, dir), k, beam, rounds)
  }

  /** The metadata-FILTERED layered descent over the DEDUP-GATED
    * hierarchy — filtered × layered × deduped, the last uncovered
    * serving composition (the reference's deployed shape is exactly
    * this stack: Qdrant applies query_filter DURING the HNSW search,
    * qdrant.py:73 + 220-239, and a fleet that repairs its hierarchy
    * filters the repaired one): [[hnswSearchFiltered]]'s machinery —
    * unfiltered greedy descent through the survivor stack from the top
    * SURVIVOR level, then the dual-state base phase (navigation beam at
    * the adaptive ef + filter-passing accumulator) over the
    * attach-augmented base layer — with only the index swapped for
    * [[hnswGraphDeduped]]'s. On a dup-free corpus it equals
    * [[hnswSearchFiltered]] whenever the survivor set is the corpus; on
    * a replica corpus the attach edges carry the filtered walk out of
    * the entry copy-cliques to passing copies the plain hierarchy can
    * never reach (Round20OpsSpec).
    */
  def hnswSearchFilteredDeduped(s: SparkSession, dir: String, k: Int = GraphSearchK,
                                beam: Int = GraphSearchBeam,
                                rounds: Int = GraphSearchRounds): DataFrame = {
    val edges = hnswGraphDeduped(s, dir)
    val undL = layeredIndex(s, dir, edges, "hnsw_dedup_search_index")
    val (entryNodes, maxLevel) = hnswDedupedEntryState(s, dir)
    hnswWalkFilteredDriver(s, dir, undL, graphSearchQueries(s, dir), k, beam, rounds,
      GraphSearchFilterMod, GraphSearchFilterRes, byId = false,
      entryOverride = Some((entryNodes, maxLevel)))
  }

  /** [[hnswSearchFilteredDeduped]] served OFF THE WRITTEN generation —
    * [[writtenHnswDedupedGen]]'s artifact carries the filterable
    * payload (dlabel rides [[layeredIndex]]) and ships the survivor
    * entry set explicitly, so the filtered repaired descent serves off
    * the same generation the unfiltered one reads. Read-equivalence ⇒
    * identical rows to the live walk, shared generated oracle.
    */
  def hnswSearchFilteredDedupedFromGen(s: SparkSession, dir: String, k: Int = GraphSearchK,
                                       beam: Int = GraphSearchBeam,
                                       rounds: Int = GraphSearchRounds): DataFrame = {
    val g = hnswDedupGen(s, dir)
    hnswWalkFilteredDriver(s, dir, g.adj, graphSearchQueries(s, dir), k, beam, rounds,
      GraphSearchFilterMod, GraphSearchFilterRes, byId = false,
      entryOverride = Some((g.entryNodes, g.maxLevel)))
  }

  /** Routed entry for EXPLICIT query batches through the int8 walk
    * ([[walkBatch]]) — the quantized serving tier; values identical on
    * both paths (Round16OpsSpec).
    */
  private[graft] def graphSearchInt8Batch(s: SparkSession, dir: String, queries: DataFrame,
                                          k: Int, beam: Int, rounds: Int,
                                          distThreshold: Int = GraphSearchDistQ,
                                          probe: Boolean = false): DataFrame =
    walkBatch(s, int8Index(s, dir), int8Cents(s, dir), Int8Cos, queries, k, beam, rounds,
      None, None, distThreshold, probe)

  /** The driver-ranked int8 walk (see [[graphSearchInt8]]) over
    * EXPLICIT index frames: callers differ only in where the (src, dst,
    * dq, dn8) adjacency and the (node, nq, nn8) entry set come from
    * (session memo vs a written generation).
    */
  private[graft] def graphSearchInt8DriverOver(s: SparkSession, und8: DataFrame, cents8: DataFrame,
                                               queries: DataFrame,
                                               k: Int, beam: Int, rounds: Int): DataFrame =
    driverWalk(s, und8, cents8, Int8Cos, queryRows(queries), k, beam, rounds)

  /** Metadata-FILTERED search over the QUANTIZED index — the remaining
    * combination a serving fleet runs (Qdrant composes scalar
    * quantization WITH query filters on the same collection): the int8
    * walk's integer-exact scoring, the flat filtered walk's two
    * coupled states (unfiltered navigation beam at the adaptive ef +
    * filter-passing accumulator seeded from the quantized entry
    * census). The filterable payload rides the quantized index
    * (dlabel/nlabel) — no float vectors enter the serving path. Same
    * determinism contract, so the walk unrolls to a generated oracle.
    */
  def graphSearchInt8Filtered(s: SparkSession, dir: String, k: Int = GraphSearchK,
                              beam: Int = GraphSearchBeam,
                              rounds: Int = GraphSearchRounds): DataFrame =
    graphSearchInt8FilteredDriverOver(s, dir, int8Index(s, dir), int8Cents(s, dir),
      graphSearchQueries(s, dir), k, beam, rounds,
      GraphSearchFilterMod, GraphSearchFilterRes)

  /** The int8-FILTERED walk off the WRITTEN quantized generation —
    * [[writtenInt8Gen]] ships the payload columns, so the
    * metadata-constrained quantized query serves from the same on-disk
    * artifact; read-equivalence ⇒ the same oracle verifies both.
    */
  def graphSearchInt8FilteredFromGen(s: SparkSession, dir: String, k: Int = GraphSearchK,
                                     beam: Int = GraphSearchBeam,
                                     rounds: Int = GraphSearchRounds): DataFrame = {
    val (adjacency, entry) = writtenInt8Gen(s, dir)
    graphSearchInt8FilteredDriverOver(s, dir, adjacency, entry,
      graphSearchQueries(s, dir), k, beam, rounds,
      GraphSearchFilterMod, GraphSearchFilterRes)
  }

  /** Routed entry for EXPLICIT query batches through the int8-FILTERED
    * walk ([[walkBatch]]); values identical on both paths
    * (Round17OpsSpec).
    */
  private[graft] def graphSearchInt8FilteredBatch(s: SparkSession, dir: String,
                                                  queries: DataFrame,
                                                  k: Int = GraphSearchK,
                                                  beam: Int = GraphSearchBeam,
                                                  rounds: Int = GraphSearchRounds,
                                                  distThreshold: Int = GraphSearchDistQ,
                                                  probe: Boolean = false): DataFrame =
    walkBatch(s, int8Index(s, dir), int8Cents(s, dir), Int8Cos, queries, k, beam, rounds,
      None, Some(WalkFilter(dir, false, GraphSearchFilterMod, GraphSearchFilterRes)),
      distThreshold, probe)

  /** The dual-state int8 walk over caller-supplied quantized index
    * frames (und8 with dlabel, cents8 with nlabel).
    */
  private[graft] def graphSearchInt8FilteredDriverOver(s: SparkSession, dir: String,
                                                       und8: DataFrame, cents8: DataFrame,
                                                       queries: DataFrame, k: Int, beam: Int,
                                                       rounds: Int, fMod: Long,
                                                       fRes: Long): DataFrame =
    driverWalk(s, und8, cents8, Int8Cos, queryRows(queries), k, beam, rounds,
      filter = Some(WalkFilter(dir, false, fMod, fRes)))

  /** Recall@k of the layered HNSW search vs the exact per-query top-k —
    * [[graphSearchRecall]]'s twin over [[hnswSearch]], so the two entry
    * strategies (√N centroid scan vs hierarchical descent) are
    * monitored by the SAME metric on the SAME query batch and the
    * descent's N-independent entry is shown to cost no recall.
    */
  def hnswSearchRecall(s: SparkSession, dir: String, k: Int = GraphSearchK): DataFrame = {
    val found = hnswSearch(s, dir, k).select(col("q_id"), col("vec_id"))
    val qs = graphSearchQueries(s, dir)
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
    val exact = Graft.embeddings(s, dir)
      .crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        VectorOps.cosine6(col("embedding"), col("qv")).as("score"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id"))
    found.join(exact, Seq("q_id", "vec_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .crossJoin(broadcast(qs.agg(count(lit(1)).as("n_queries"))))
      .select(lit(k.toLong).as("k"), col("n_queries"), col("n_overlap"),
        expr(s"n_overlap * 1000000 div greatest($k * n_queries, 1)").as("recall_micros"))
  }

  /** Filtered vector search: cosine top-k restricted by a metadata
    * predicate (label subset) — the payload-filter + search combination
    * every vector DB exposes (reference: qdrant.py:227 filters CHUNKS
    * by article_id). The filter lands in the scan (PushedFilters), so
    * the probe cost is proportional to the selected slice.
    */
  def filteredSearch(s: SparkSession, dir: String, k: Int = 5): DataFrame =
    Graft.embeddings(s, dir)
      .filter(col("label").isin(1, 3, 5, 7, 9))
      .crossJoin(broadcast(SemanticSearch.queryVec(s, dir)))
      .select(col("vec_id"), col("label"),
        VectorOps.cosine6(col("embedding"), col("qvec")).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)

  /** Index-quality evaluation: recall@k of the IVF probe against the
    * exact brute-force top-k for the query vector — the metric every
    * ANN deployment monitors when retuning nlist/nprobe. Both sides are
    * k-row frames, so the evaluation adds one broadcast join to the two
    * searches. Integer output (micros) for exact cross-engine compare.
    */
  def recallEval(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val exact = bruteForce(s, dir, k).select(col("vec_id"))
    val approx = ivf(s, dir, k).select(col("vec_id").as("a_id"))
    exact.join(broadcast(approx), col("vec_id") === col("a_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .select(lit(k.toLong).as("k"), col("n_overlap"),
        expr(s"n_overlap * 1000000 div $k").as("recall_micros"))
  }

  /** IVF recall SWEEP: recall@k against exact brute-force at
    * nprobe ∈ {1, 2, 4} — the nlist/nprobe tuning curve every ANN
    * deployment plots before picking its operating point, where
    * [[recallEval]] is the single-point monitor. Three probe subsets
    * over the ONE memoized assignment frame (each probe list is a
    * ≤4-row broadcast; the exact top-k is computed once and broadcast
    * to all three overlap joins), so the sweep costs three
    * cluster-slice scans, not three index builds. Integer micros
    * output, one row per nprobe.
    */
  def recallSweep(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val assign = assignments(s, dir)
    val qv = SemanticSearch.queryVec(s, dir)
    val exact = bruteForce(s, dir, k).select(col("vec_id").as("x_id"))
    val centScores = Graft.embeddings(s, dir).filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      .crossJoin(broadcast(qv))
      .select(col("cid"), VectorOps.cosine6(col("cvec"), col("qvec")).as("cscore"))
    Seq(1, 2, 4).map { p =>
      val probes = centScores.orderBy(col("cscore").desc, col("cid")).limit(p)
        .select(col("cid").as("probe_cid"))
      val approx = assign
        .join(broadcast(probes), col("cid") === col("probe_cid"))
        .crossJoin(broadcast(qv))
        .select(col("vec_id"), VectorOps.cosine6(col("embedding"), col("qvec")).as("score"))
        .orderBy(col("score").desc, col("vec_id")).limit(k)
      approx.join(broadcast(exact), col("vec_id") === col("x_id"))
        .agg(count(lit(1)).as("n_overlap"))
        .select(lit(p.toLong).as("nprobe"), lit(k.toLong).as("k"), col("n_overlap"),
          expr(s"n_overlap * 1000000 div $k").as("recall_micros"))
    }.reduce(_ unionByName _)
  }

  /** Matryoshka truncation evaluation (MRL-style): recall@k of
    * prefix-dimension cosine search vs the full-dim exact top-k, at
    * dims ∈ {8, 16, 32, 64} — the quality/cost curve behind storing
    * truncated embeddings (a d/8 prefix is an 8× memory and bandwidth
    * cut IF its ranking agrees; this report says where it stops
    * agreeing). Each dim is one TakeOrderedAndProject scan with the
    * prefix slice + norm computed inline (at deployment scale you'd
    * materialize the truncated column once and scan that — the ranking
    * is identical by construction); the full-dim top-k computes once
    * and broadcasts to all four overlap joins. d=64 is the built-in
    * sanity row: identical ranking, recall exactly 10^6.
    */
  def matryoshkaEval(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val qv = SemanticSearch.queryVec(s, dir)
    val full = bruteForce(s, dir, k).select(col("vec_id").as("x_id"))
    Seq(8, 16, 32, 64).map { d =>
      val approx = Graft.embeddings(s, dir)
        .crossJoin(broadcast(qv))
        .select(col("vec_id"),
          round(VectorOps.dot(expr(s"slice(embedding, 1, $d)"), expr(s"slice(qvec, 1, $d)"))
            / (VectorOps.norm(expr(s"slice(embedding, 1, $d)"))
              * VectorOps.norm(expr(s"slice(qvec, 1, $d)"))), 6).as("score"))
        .orderBy(col("score").desc, col("vec_id")).limit(k)
      approx.join(broadcast(full), col("vec_id") === col("x_id"))
        .agg(count(lit(1)).as("n_overlap"))
        .select(lit(d.toLong).as("dims"), lit(k.toLong).as("k"), col("n_overlap"),
          expr(s"n_overlap * 1000000 div $k").as("recall_micros"))
    }.reduce(_ unionByName _)
  }

  /** PQ recall evaluation: recall@k of the compressed-domain ADC top-k
    * AND of the refined (exact re-rank) top-k against brute force — the
    * two-row report that quantifies what 16× compression costs and how
    * much the standard 5k-shortlist re-rank recovers. The exact top-k
    * computes once and broadcasts to both overlap joins; the PQ stages
    * are the existing [[pq]]/[[pqRefine]] plans (one codebook pass,
    * bounded broadcasts).
    */
  def pqRecallEval(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val exact = bruteForce(s, dir, k).select(col("vec_id").as("x_id"))
    def overlap(stage: String, approx: DataFrame) =
      approx.join(broadcast(exact), col("vec_id") === col("x_id"))
        .agg(count(lit(1)).as("n_overlap"))
        .select(lit(stage).as("stage"), lit(k.toLong).as("k"), col("n_overlap"),
          expr(s"n_overlap * 1000000 div $k").as("recall_micros"))
    overlap("adc", pq(s, dir, k).select(col("vec_id")))
      .unionByName(overlap("refined", pqRefine(s, dir, k).select(col("vec_id"))))
  }

  /** Per-label embedding cluster statistics: member count, centroid
    * norm, mean cosine of members to their centroid — the quality
    * metrics an IVF/clustering pipeline monitors. One grouped pass for
    * centroids + one broadcast join for the member cosines.
    */
  def clusterStats(s: SparkSession, dir: String): DataFrame = {
    val cents = SemanticSearch.docVectors(s, dir)
      .select(col("label").as("c_label"), col("dvec"))
    Graft.embeddings(s, dir)
      .join(broadcast(cents), col("label") === col("c_label"))
      .select(col("label"),
        VectorOps.cosine(col("embedding"), col("dvec")).as("cos_raw"),
        VectorOps.norm(col("dvec")).as("cnorm"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_members"),
        round(first(col("cnorm")), 6).as("centroid_norm"),
        round(avg(col("cos_raw")), 6).as("mean_cos_to_centroid"))
  }

  /** One Lloyd iteration of k-means over the IVF centroids: assign all
    * vectors (ivf_assign projection kernel), recompute each centroid as
    * the member mean (fvec_avg partial aggregate — clusters x 65 doubles
    * shuffle, never the vectors), report member count, the cosine
    * between old and new centroid (convergence signal), and the new
    * centroid norm. This is the index-training loop every IVF
    * deployment runs; one iteration per pass keeps every stage
    * partial-agg shaped at 100 TB.
    */
  def kmeansStep(s: SparkSession, dir: String): DataFrame = {
    val newCents = assignments(s, dir)
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"),
        call_function("fvec_avg", col("embedding"), lit(64)).as("nvec"))
    val oldCents = Graft.embeddings(s, dir).filter(col("vec_id") < 8)
      .select(col("vec_id").as("ocid"), col("embedding").as("ovec"))
    newCents.join(broadcast(oldCents), col("cid") === col("ocid"))
      .select(col("cid"), col("n_members"),
        round(VectorOps.cosine(col("ovec"), col("nvec")), 6).as("shift_cos6"),
        round(VectorOps.norm(col("nvec")), 6).as("new_norm6"))
  }

  /** Product-quantization ANN (ADC search): the 64-dim space splits into
    * 4 subspaces of 16; each subspace has a 16-codeword codebook
    * (deterministic: the sub-slices of vectors 16..31). Encoding is the
    * ivf_assign argmax kernel per (vector, subspace); query scoring is
    * asymmetric distance computation — the exact query sub-slices dotted
    * with each code's centroid, summed across subspaces in fixed order.
    * PQ stores 4 bytes/vector instead of 256: THE memory-bound scale
    * path for 100 TB vector search (codebooks always broadcast; encoding
    * and scoring are per-row projections + one 4-rows-per-vector sum).
    */
  private val toSubs = "transform(sequence(0, 3), m -> slice(%s, m * 16 + 1, 16))"

  /** PQ codebook rows: (cm = subspace, cid = codeword id, cvec). */
  private def pqCodebook(s: SparkSession, dir: String): DataFrame =
    Graft.embeddings(s, dir)
      .filter(col("vec_id") >= 16 && col("vec_id") < 32)
      .select((col("vec_id") - 16).as("cid"),
        posexplode(expr(toSubs.format("embedding"))).as(Seq("cm", "cvec")))

  /** PQ codes (vec_id, m, code) for the whole corpus — the stored
    * compressed index every PQ consumer (flat ADC, refine shortlist,
    * IVF-PQ) reads. Memoized per session+dir like the IVF assignment:
    * coding is the one pass that touches full vectors, everything after
    * runs on 4 B/vector codes.
    */
  private def pqCodes(s: SparkSession, dir: String): DataFrame =
    Graft.memoCache("ann_pq_codes", dir) {
      val cents = pqCodebook(s, dir).groupBy(col("cm"))
        .agg(collect_list(struct(col("cid"), col("cvec"))).as("cents"))
      Graft.embeddings(s, dir)
        .select(col("vec_id"), posexplode(expr(toSubs.format("embedding"))).as(Seq("m", "sub")))
        .join(broadcast(cents), col("m") === col("cm"))
        .select(col("vec_id"), col("m"),
          call_function("ivf_assign", col("sub"), col("cents")).as("code"))
    }

  /** ADC scoring of a (vec_id, m, code) frame against the query's
    * sub-vectors: codeword-dot lookup join + the fixed-order four-term
    * sum (double addition is order-sensitive; a bare sum() would merge
    * in partition order).
    */
  private def adcScores(s: SparkSession, dir: String, codes: DataFrame): DataFrame = {
    val cb = pqCodebook(s, dir)
    val qsubs = SemanticSearch.queryVec(s, dir)
      .select(posexplode(expr(toSubs.format("qvec"))).as(Seq("qm", "qsub")))
    codes
      .join(broadcast(cb.select(col("cm").as("wm"), col("cid").as("wcid"), col("cvec").as("wvec"))),
        col("m") === col("wm") && col("code") === col("wcid"))
      .join(broadcast(qsubs), col("m") === col("qm"))
      .select(col("vec_id"), col("m"), VectorOps.dot(col("qsub"), col("wvec")).as("d"))
      .groupBy(col("vec_id"))
      .agg(round(
        max(when(col("m") === 0, col("d"))) + max(when(col("m") === 1, col("d"))) +
          max(when(col("m") === 2, col("d"))) + max(when(col("m") === 3, col("d"))), 6)
        .as("adc6"))
  }

  def pq(s: SparkSession, dir: String, k: Int = 10): DataFrame =
    adcScores(s, dir, pqCodes(s, dir))
      .orderBy(col("adc6").desc, col("vec_id"))
      .limit(k)

  /** Two-stage PQ search: ADC candidates (cheap, compressed domain) →
    * exact cosine re-rank of the shortlist — the standard
    * quality-recovery pattern of every PQ deployment. The candidate set
    * (here 5x the final k) is a k-row frame, so the re-rank join
    * broadcasts it and touches only shortlist vectors.
    */
  def pqRefine(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val shortlist = pq(s, dir, 5 * k).select(col("vec_id").as("cand_id"))
    Graft.embeddings(s, dir)
      .join(broadcast(shortlist), col("vec_id") === col("cand_id"))
      .crossJoin(broadcast(SemanticSearch.queryVec(s, dir)))
      .select(col("vec_id"), VectorOps.cosine6(col("embedding"), col("qvec")).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
  }

  /** IVF-PQ: the FAISS-style composition of the two scale techniques —
    * IVF routing prunes the corpus to the query's cluster, then ADC
    * scoring runs in the compressed (4 B/vector) domain inside it, with
    * the same fixed-order 4-term sum as [[pq]]. At 100 TB this is the
    * shape that matters: the cluster filter bounds the scan and the
    * codebook join touches code columns only — full vectors are never
    * read past the (one-off) coding pass. Every lookup side (centroids,
    * probe, codebooks, query sub-vectors) is a bounded broadcast.
    */
  def ivfPq(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val cents = Graft.embeddings(s, dir).filter(col("vec_id") < 8)
      .agg(collect_list(struct(col("vec_id").as("cid"), col("embedding").as("cvec"))).as("cents"))
    val probe = SemanticSearch.queryVec(s, dir)
      .crossJoin(broadcast(cents))
      .select(call_function("ivf_assign", col("qvec"), col("cents")).as("probe_cid"))
    val members = assignments(s, dir)
      .join(broadcast(probe), col("cid") === col("probe_cid"))
      .select(col("vec_id").as("m_id"))
    // score only the probed cluster's stored codes — the memoized
    // full-corpus code frame is the index; the cluster filter bounds
    // everything downstream
    val codes = pqCodes(s, dir)
      .join(members, col("vec_id") === col("m_id"))
      .select(col("vec_id"), col("m"), col("code"))
    adcScores(s, dir, codes)
      .orderBy(col("adc6").desc, col("vec_id"))
      .limit(k)
  }

  /** Range search: EVERY vector within cosine >= tau of the query — the
    * radius-query sibling of top-k (dedup thresholding, recall floors,
    * "all sufficiently similar" retrieval). One scan + broadcast query
    * row, no limit: result size is data-dependent by design. The
    * predicate compares the 6dp-rounded score both engines compute
    * identically, so the boundary is deterministic.
    */
  def rangeSearch(s: SparkSession, dir: String, tau: Double = 0.2): DataFrame =
    Graft.embeddings(s, dir)
      .crossJoin(broadcast(SemanticSearch.queryVec(s, dir)))
      .select(col("vec_id"), VectorOps.cosine6(col("embedding"), col("qvec")).as("score"))
      .filter(col("score") >= lit(tau))

  /** ColBERT-style late-interaction scoring (MaxSim): the query is a SET
    * of vectors (vec_id < 4 — a multi-token query), and each document
    * group (label) scores sum over query tokens of the max cosine to any
    * member vector. Two grouped aggregations — (label, qtoken) max, then
    * per-label sum — both partial-agg friendly; the query set broadcasts
    * (O(query tokens), corpus-independent). Per-token maxima are
    * quantized to integer micros BEFORE the cross-token sum, so the
    * 4-term addition is order-independent and bit-identical across
    * engines and partitionings.
    */
  def maxSim(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val qs = Graft.embeddings(s, dir).filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    Graft.embeddings(s, dir)
      .crossJoin(broadcast(qs))
      .select(col("label"), col("qid"),
        VectorOps.cosine6(col("embedding"), col("qv")).as("c"))
      .groupBy(col("label"), col("qid"))
      .agg(max(col("c")).as("mx"))
      .groupBy(col("label"))
      .agg(sum(expr("cast(round(mx * 1000000) as bigint)")).as("maxsim_micros"))
      .orderBy(col("maxsim_micros").desc, col("label"))
      .limit(k)
  }

  /** Centroid-pruned MaxSim (PLAID-style late interaction at scale):
    * [[maxSim]] scores EVERY corpus vector against every query token —
    * correct, but a full scan per query set. The deployed form prunes
    * with the IVF structure first: each query token probes its top
    * `nprobe` centroid cells (the [[ivfMultiProbe]] rule per token),
    * candidate documents are the label groups owning at least one
    * vector in a probed cell, and the exact MaxSim runs over candidate
    * groups only. The statically tiny pruning state broadcasts — the
    * token×centroid score table (|Q|·√N rows), the probed-cell union —
    * while the data-dependent candidate-label set is left to AQE
    * (broadcast when small, shuffled semi join when a probe is
    * unselective); so the plan is two linear projections
    * over the corpus (assignment, then the pruned exact scan) with no
    * shuffle wider than the per-(label, qid) partial-agg. Probe
    * selection is a groupBy argmax over sorted structs (no window, no
    * driver collect); determinism comes from cosine6 rounding with cid
    * tie-break, so the SQL oracle replays the identical pruning.
    */
  def maxSimPruned(s: SparkSession, dir: String, k: Int = 5, nprobe: Int = 2): DataFrame = {
    val qs = Graft.embeddings(s, dir).filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val cents = Graft.embeddings(s, dir).filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    // per query token: top-nprobe cells, sorted-struct slice (the
    // token×centroid frame is |Q|×fanout — never windowed, never big)
    val probed = cents.crossJoin(broadcast(qs))
      .select(col("qid"),
        struct((-VectorOps.cosine6(col("cvec"), col("qv"))).as("negc"),
          col("cid").as("cid")).as("sc"))
      .groupBy(col("qid"))
      .agg(expr(s"slice(sort_array(collect_list(sc)), 1, $nprobe)").as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t.cid").as("cid")).distinct()
    // candidate labels: one assignment projection over the corpus (the
    // memoized ivf_assign kernel shape, with the label carried)
    val centsRow = Graft.embeddings(s, dir).filter(col("vec_id") < 8)
      .agg(collect_list(struct(col("vec_id").as("cid"), col("embedding").as("cvec"))).as("cents"))
    val candLabels = Graft.embeddings(s, dir)
      .crossJoin(broadcast(centsRow))
      .select(col("label"),
        call_function("ivf_assign", col("embedding"), col("cents")).as("cid"))
      .join(broadcast(probed), "cid")
      .select(col("label")).distinct()
    // the candidate-label set is data-dependent (how many labels own a
    // vector in a probed cell), so its broadcast is NOT forced: AQE
    // broadcasts it when the runtime size is small (the plan the spec
    // asserts at test scale) and falls back to a shuffled semi join when
    // a low-selectivity probe makes the set large — a forced broadcast
    // there would collect an unbounded frame onto the driver
    Graft.embeddings(s, dir)
      .join(candLabels, Seq("label"), "left_semi")
      .crossJoin(broadcast(qs))
      .select(col("label"), col("qid"),
        VectorOps.cosine6(col("embedding"), col("qv")).as("c"))
      .groupBy(col("label"), col("qid"))
      .agg(max(col("c")).as("mx"))
      .groupBy(col("label"))
      .agg(sum(expr("cast(round(mx * 1000000) as bigint)")).as("maxsim_micros"))
      .orderBy(col("maxsim_micros").desc, col("label"))
      .limit(k)
  }

  /** Embedding QA: per-label vector-norm outliers — broken encoders
    * produce near-zero or blown-up norms, and this is the standard
    * batch health check before indexing. Norms are quantized to integer
    * millis; the |z| > 2 test runs in exact integer algebra,
    * (n·m − S)² > 4·(n·Q − S²)  ⇔  ((m − mean)/sd)² > 4,
    * so no float mean/stddev ever crosses an engine boundary.
    *
    * Scale shape (the [[Analytics.zscoreOutliers]] pattern): the
    * per-label moments come from a map-side-combinable
    * `groupBy(label).agg` — each task reduces to <= |labels| partial
    * rows before the exchange — and the tiny stats frame broadcasts
    * back onto a second parallel scan whose outlier test is a pure
    * projection. A `Window.partitionBy(label)` would instead gather
    * EVERY vector of a label into one window partition (label has ~10
    * values: N/10 rows on one task at 100 TB — the round-8 HNSW
    * scale-killer shape, now linted by PlanLintSpec's low-cardinality
    * window sweep). (Long headroom: millis keep n·Q < 9e18 up to ~10^8
    * rows per label; rescale to centis beyond.)
    */
  def normOutliers(s: SparkSession, dir: String): DataFrame = {
    def norms = Graft.embeddings(s, dir)
      .select(col("label"),
        expr("cast(round(sqrt(fvec_dot(embedding, embedding)) * 1000) as bigint)").as("m"))
    val stats = norms.groupBy(col("label").as("lb"))
      .agg(count(lit(1)).as("n"), sum(col("m")).as("sm"),
        sum(col("m") * col("m")).as("qm"))
    norms.join(broadcast(stats), col("label") === col("lb"))
      .groupBy(col("label"))
      .agg(first(col("n")).as("n_vecs"),
        expr("first(sm div n)").as("mean_norm_millis"),
        sum(when(expr("(n*m - sm)*(n*m - sm) > 4 * (n*qm - sm*sm)"), lit(1L))
          .otherwise(lit(0L))).as("n_outliers"))
  }

  /** IVF index balance: cluster occupancies and the imbalance factor
    * (max/mean in micros) — THE partition-health number for an IVF
    * index (one hot cluster = one hot probe = the straggler at query
    * time; same failure mode as a skewed shuffle key). Reads the
    * memoized assignment frame; two tiny aggregates.
    */
  def ivfBalance(s: SparkSession, dir: String): DataFrame = {
    val sizes = assignments(s, dir)
      .groupBy(col("cid")).agg(count(lit(1)).as("sz"))
    sizes.agg(count(lit(1)).as("n_clusters"),
        min(col("sz")).as("min_size"), max(col("sz")).as("max_size"),
        sum(col("sz")).as("n_vecs"))
      .select(col("n_clusters"), col("min_size"), col("max_size"), col("n_vecs"),
        expr("max_size * n_clusters * 1000000 div n_vecs").as("imbalance_micros"))
  }

  /** Per-dimension embedding health: mean, mean-|v| and positive-count
    * per coordinate — the dead-dimension / scale-drift profile an
    * embedding pipeline monitors after every encoder change. Values are
    * quantized to integer micros PER ELEMENT before any sum (the
    * entropy/logprob discipline), so the posexplode → 64-group partial
    * aggregate is order-independent and map-side combinable: the
    * shuffle carries dims × 4 longs, never vectors.
    */
  def dimStats(s: SparkSession, dir: String): DataFrame =
    Graft.embeddings(s, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim").cast("long").as("dim"),
        expr("cast(round(cast(v as double) * 1000000) as bigint)").as("q"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        expr("sum(q) div count(1)").as("mean_micros"),
        expr("sum(abs(q)) div count(1)").as("mean_abs_micros"),
        sum(when(col("q") > 0L, 1L).otherwise(0L)).as("n_pos"))

  /** One distributed power-iteration step toward the top principal axis
    * of the (uncentered) second-moment matrix E[x xᵀ]: with a fixed
    * deterministic start vector v₀ (+1 on even dims, −1 on odd), compute
    * w_i = ⟨x_i, v₀⟩ per row and s = Σ_i w_i·x_i per dim — the dominant
    * eigendirection emerges after repeated steps; ONE step is already
    * the encoder-drift / anisotropy monitor (embedding collapse shows up
    * as one dim dominating the ratio column). Determinism: vectors are
    * quantized to integer millis FIRST, so w_i and every product are
    * exact integers and the per-dim sum is order-independent. Overflow
    * bound: |w_i·x_ij| ≤ (d·1000)·1000 = 6.4e7 for unit-range dims, so
    * the bigint per-dim sum holds to N ≈ 1.4e11 rows — beyond the 100 TB
    * corpus; past that, shard the sum and merge. Shape: per-row scalar
    * w in the projection (no shuffle), then posexplode + one map-side-
    * combinable 64-row aggregate — the exchange carries d longs per
    * partition, never vectors; the max-|s| normalizer is a one-row
    * broadcast.
    */
  def pcaPowerStep(s: SparkSession, dir: String): DataFrame = {
    val q = Graft.embeddings(s, dir)
      .select(expr(
        "transform(embedding, x -> cast(round(cast(x as double) * 1000) as bigint))").as("xq"))
      .select(col("xq"),
        expr("""aggregate(transform(xq, (x, i) -> IF(i % 2 = 0, x, -x)),
               | cast(0 as bigint), (a, v) -> a + v)""".stripMargin).as("w"))
    // memoized: the d-row aggregate feeds the output projection AND the
    // max-|s| normalizer — uncached, each reference is a full corpus pass
    val sByDim = Graft.memoCache("pca_s", dir)(
      q.select(col("w"), posexplode(col("xq")).as(Seq("dim", "x")))
        .groupBy(col("dim").cast("long").as("dim"))
        .agg(sum(col("w") * col("x")).as("s_q")))
    val m = sByDim.agg(max(abs(col("s_q"))).as("m"))
    sByDim.crossJoin(broadcast(m))
      .select(col("dim"), col("s_q"),
        expr("cast(round(cast(s_q as double) / cast(m as double) * 1000000) as bigint)")
          .as("ratio_micros"))
  }

  /** Iterated power method: [[pcaPowerStep]] run for `steps` normalized
    * rounds — the actual top principal axis of the second-moment matrix,
    * not just its first Krylov vector. Between rounds the d-row spectrum
    * frame is collected (bounded driver state, the kmeans-step pattern)
    * and re-broadcast as the next start vector, re-quantized to integer
    * millis (v = round(s/max|s|·1000)) so every round works in the same
    * exact-integer regime: per-row w = (Σ x_q·v) div 1000 stays ≤ d·10⁶
    * div 10³, and the per-dim products bound the bigint sum to
    * N ≈ 1.4e11 rows (shard-and-merge past that). Each round is ONE
    * map-side-combinable d-row aggregate over the memoized quantized
    * frame — the corpus is scanned once for the whole iteration, rounds
    * 2+ read the cache.
    */
  def pcaIterate(s: SparkSession, dir: String, steps: Int = PcaSteps): DataFrame = {
    val xq = Graft.memoCache("pca_xq", dir)(Graft.embeddings(s, dir)
      .select(col("vec_id"), expr(
        "transform(embedding, x -> cast(round(cast(x as double) * 1000) as bigint))").as("xq")))
    // SQL round() is half-away-from-zero; scala math.round is half-up,
    // which differs on negative halves — match the engines exactly
    def rnd(x: Double): Long = if (x >= 0) math.round(x) else -math.round(-x)
    val first = xq.select(size(col("xq"))).take(1)
    if (first.isEmpty)
      return s.createDataFrame(Seq.empty[(Long, Long, Long)])
        .toDF("dim", "s_q", "ratio_micros")
    val d = first.head.getInt(0)
    var v = Array.tabulate(d)(j => if (j % 2 == 0) 1000L else -1000L)
    var rows = Array.empty[(Long, Long)]
    for (_ <- 1 to steps) {
      val vExpr = v.mkString("array(", ",", ")")
      rows = xq
        .select(col("xq"),
          expr(s"aggregate(zip_with(xq, $vExpr, (x, vv) -> x * vv)," +
            " cast(0 as bigint), (a, p) -> a + p) div 1000").as("w"))
        .select(col("w"), posexplode(col("xq")).as(Seq("dim", "x")))
        .groupBy(col("dim").cast("long").as("dim"))
        .agg(sum(col("w") * col("x")).as("s_q"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val m = rows.map(r => math.abs(r._2)).max
      v = rows.map(r => rnd(r._2.toDouble / m * 1000))
    }
    // the d-row spectrum is already on the driver (bounded) — emit it
    // directly instead of re-running the last round's aggregate
    val mAbs = rows.map(r => math.abs(r._2)).max
    s.createDataFrame(rows.toSeq.map { case (dim, sq) =>
      (dim, sq, rnd(sq.toDouble / mAbs * 1000000))
    }).toDF("dim", "s_q", "ratio_micros")
  }

  /** Per-dimension embedding drift between two corpus halves (vec_id
    * parity standing in for the before/after split of an encoder
    * refresh): mean per dim on each side plus the signed delta — a
    * per-dim t-like drift monitor that catches an encoder change
    * shifting the embedding space before any index is rebuilt against
    * it. Values quantized to integer micros in the projection, so the
    * conditional sums are order-independent; ONE map-side-combinable
    * aggregate — the exchange carries dims × 4 longs per partition,
    * never vectors. Per-side counts (n_a, n_b) are part of the report:
    * a corpus whose vec_ids are all one parity yields NULL means on
    * the empty side, and the zero count makes that degenerate split
    * visible to consumers instead of silent.
    */
  def driftSplit(s: SparkSession, dir: String): DataFrame =
    Graft.embeddings(s, dir)
      .select(expr("vec_id % 2").as("grp"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("grp"), col("dim").cast("long").as("dim"),
        expr("cast(round(cast(v as double) * 1000000) as bigint)").as("q"))
      .groupBy(col("dim"))
      .agg(sum(when(col("grp") === 0L, col("q")).otherwise(0L)).as("sum_a"),
        sum(when(col("grp") === 0L, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("grp") === 1L, col("q")).otherwise(0L)).as("sum_b"),
        sum(when(col("grp") === 1L, 1L).otherwise(0L)).as("n_b"))
      .select(col("dim"), col("n_a"), col("n_b"),
        expr("sum_a div n_a").as("mean_a_micros"),
        expr("sum_b div n_b").as("mean_b_micros"),
        expr("sum_b div n_b - sum_a div n_a").as("delta_micros"))

  /** kNN-distance outlier report over the blocked-NSW graph: per node
    * the mean cosine to its top-k graph neighbors (quantized to integer
    * micros pre-sum), lowest-k = the most isolated vectors — the
    * mislabeled/garbage-point detector a cleaning pipeline runs after
    * every embedding refresh. Rides the [[nswGraph]] build (no extra
    * candidate generation): one map-side-combinable per-src aggregate
    * over the edge frame, then a TakeOrderedAndProject cut with a
    * total-order tie-break. Cost beyond the graph build is one linear
    * pass over O(k·N) edges.
    */
  def knnOutliers(s: SparkSession, dir: String, bottom: Int = 10): DataFrame =
    // r21: the report never reads the mutual flag, and the reciprocity
    // join is row-preserving — aggregating over the pre-reciprocity
    // edge frame is bit-identical and skips that join outright
    nswEdgesNoMutual(s, dir)
      .select(col("src"), expr("cast(round(cos * 1000000) as bigint)").as("q"))
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_neighbors"), sum(col("q")).as("sum_q"))
      .select(col("src").as("vec_id"), col("n_neighbors"),
        expr("sum_q div n_neighbors").as("mean_cos_micros"))
      .orderBy(col("mean_cos_micros").asc, col("vec_id").asc)
      .limit(bottom)

  /** Cosine threshold (micros) for [[semanticDedup]] — the SINGLE
    * constant the Scala default and the DuckDB oracle both derive from.
    * Mirrors dedup_embedding's tau on this synthetic corpus.
    */
  val SemDedupTauMicros: Long = 350000L

  /** SemDeDup-style semantic deduplication (Abbas et al.: prune
    * near-duplicate SEMANTICS, not just near-duplicate text) riding the
    * same √N NSW cell blocking as the graph builds: within each cell,
    * a vector is DROPPED when some lower-id cell-mate sits above the
    * cosine threshold; the report is one row per dropped vector with
    * its keeper (lowest-id qualifying mate — min-struct pick, total
    * order) and the cosine that doomed it. Candidate pairs are
    * per-cell (the p²·N^1.5 bound with nprobe=1, never all-pairs
    * global); the keeper pick is a map-side-combinable min-struct
    * aggregate keyed by the corpus-scaling vec_id. The √N centroid
    * broadcast rides [[requireCentroidBudget]] like every cell
    * consumer. Citation: the reference stores one vector per chunk and
    * relies on Qdrant-side dedup of exact point-id matches
    * (qdrant.py:137); this is the semantic completion of that contract
    * at corpus scale.
    */
  def semanticDedup(s: SparkSession, dir: String,
                    tauMicros: Long = SemDedupTauMicros): DataFrame = {
    val cells = nswCells(s, dir, nprobe = 1).hint("SHUFFLE_HASH")
    cells.as("x").join(cells.as("y"),
        col("x.cid") === col("y.cid") && col("y.vec_id") < col("x.vec_id"))
      .select(col("x.vec_id").as("vec_id"), col("x.cid").as("cid"),
        col("y.vec_id").as("keeper"),
        round(VectorOps.dot(col("x.embedding"), col("y.embedding"))
          / (col("x.nrm") * col("y.nrm")), 6).as("cos"))
      .withColumn("cos_micros", expr("cast(round(cos * 1000000) as bigint)"))
      .filter(col("cos_micros") >= tauMicros)
      .groupBy(col("vec_id"))
      .agg(min(struct(col("keeper"), col("cid"), col("cos_micros"))).as("kc"))
      .select(col("vec_id"), col("kc.cid").as("cid"),
        col("kc.keeper").as("keeper_id"), col("kc.cos_micros").as("cos_micros"))
  }

  /** Embedding isotropy report: the EXACT mean pairwise cosine across
    * the whole corpus from ONE linear scan, via the identity
    * Σ_{i≠j} cos(i,j) = ‖Σ û‖² − N over unit-normalized vectors û —
    * an isotropic (healthy) embedding space sits near 0, a collapsed
    * space (all vectors pointing one way — the failure mode after a bad
    * encoder refresh) nears 1. The naive formulation is an N² pair
    * join; this is a d-row map-side-combinable aggregate: û components
    * quantize to integer micros BEFORE the per-dimension sums (exact,
    * order-independent — the unigramLogprob technique), the closed form
    * divides in integer space. Complements [[pcaPowerStep]]'s dominant-
    * direction view with the scalar everyone plots over time.
    */
  def isotropy(s: SparkSession, dir: String): DataFrame =
    withNorm(Graft.embeddings(s, dir))
      .select(posexplode(expr(
        "transform(embedding, x -> cast(round(cast(x as double) / nrm * 1000000) as bigint))"))
        .as(Seq("dim", "q")))
      .groupBy(col("dim").cast("long").as("dim"))
      // per-dim component sum and the exact self-term; both ride ONE
      // exchange of d rows. Wide decimals: at 10^10 vectors the squared
      // sums reach ~10^26 — far past int64, comfortably inside
      // decimal(38) (DuckDB's oracle uses HUGEINT for the same reason).
      .agg(sum(col("q").cast("decimal(38,0)")).as("sq"),
        sum(col("q").cast("decimal(38,0)") * col("q")).as("qq"),
        count(lit(1)).as("n"))
      .agg(sum(col("sq") * col("sq")).as("ss"), sum(col("qq")).as("selfss"),
        max(col("n")).as("n"))
      .select(col("n"),
        when(col("n") > 1, expr(
          """cast(round(cast(ss - selfss as double)
            | / (cast(n as double) * (cast(n as double) - 1.0))
            | / 1000000.0) as bigint)""".stripMargin))
          .otherwise(lit(null).cast("long")).as("mean_pairwise_cos_micros"))
      // the global aggregate yields one all-null row on an empty corpus
      .filter(col("n").isNotNull)

  /** Greedy k-center pick count — the SINGLE constant the Scala default
    * and the generated DuckDB oracle both derive from.
    */
  val KCenterPicks: Int = 6

  /** Greedy k-center coreset selection (Gonzalez 2-approximation — the
    * diversity-sampling primitive of coreset-based training-data
    * selection): seed with the lowest vec_id, then k−1 rounds of "pick
    * the point FARTHEST (max cosine distance, micros-quantized, vec_id
    * tie-break) from everything chosen so far". Output is the selection
    * order with each pick's distance-at-selection — the k-center RADIUS
    * CURVE, the coverage diagnostic that says how many centers a corpus
    * needs. Scale shape: each round is ONE map-side-combinable
    * min-struct aggregate over the embeddings scan with the ≤k chosen
    * vectors riding as a single broadcast row holding
    * array<struct<cvec,cnrm>> (k·d floats — the pcaIterate
    * bounded-driver-state pattern, no string-built SQL so the plan
    * shape is stable across rounds); k scans total, never a pairwise
    * join. The per-row distance is array_min over ≤k codegen'd kernel
    * dots. The loop STOPS EARLY when the selected max distance is 0:
    * every remaining point then duplicates a chosen center, so further
    * rounds could only re-emit covered points — a k above the distinct
    * vector count returns fewer than k rows, not padded duplicates
    * (the generated oracle's per-round WHERE dm > 0 mirrors this).
    */
  def kcenterSample(s: SparkSession, dir: String, k: Int = KCenterPicks): DataFrame = {
    import s.implicits._
    val e = withNorm(Graft.embeddings(s, dir))
    val seed = e.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id"), col("embedding"), col("nrm")).collect()
    if (seed.isEmpty)
      return s.createDataFrame(Seq.empty[(Long, Long, Long)])
        .toDF("pick", "vec_id", "dist_micros")
    var chosen = List((seed.head.getLong(0),
      seed.head.getSeq[Float](1), seed.head.getDouble(2)))
    val out = scala.collection.mutable.ArrayBuffer(
      (1L, seed.head.getLong(0), Option.empty[Long]))
    var exhausted = false
    // pick 1 is the seed: no chosen set yet, so its distance is NULL
    for (rank <- 2 to k if !exhausted) {
      val chosenArr = chosen.map { case (_, v, n) => (v, n) }
        .toDF("cvec", "cnrm")
        .agg(collect_list(struct(col("cvec"), col("cnrm"))).as("chosen"))
      val pick = e.crossJoin(broadcast(chosenArr))
        .select(expr("min(named_struct('nd', -array_min(transform(chosen, " +
          "c -> cast(round((1 - round(fvec_dot(embedding, c.cvec) / (nrm * c.cnrm), 6))" +
          " * 1000000) as bigint))), " +
          "'vec_id', vec_id, 'embedding', embedding, 'nrm', nrm))").as("p"))
        .select(col("p.nd"), col("p.vec_id"), col("p.embedding"), col("p.nrm"))
        .collect().head
      val d = -pick.getLong(0)
      if (d == 0L) exhausted = true
      else {
        out += ((rank.toLong, pick.getLong(1), Some(d)))
        chosen = chosen :+ ((pick.getLong(1), pick.getSeq[Float](2), pick.getDouble(3)))
      }
    }
    s.createDataFrame(out.toSeq.map { case (r, id, d) =>
      (r, id, d.map(java.lang.Long.valueOf).orNull)
    }).toDF("pick", "vec_id", "dist_micros")
  }

  private val duckCosPair =
    """list_sum(list_transform(range(1,65), i -> x.v[i] * y.v[i]))
      | / (sqrt(list_sum(list_transform(range(1,65), i -> x.v[i] * x.v[i])))
      |    * sqrt(list_sum(list_transform(range(1,65), i -> y.v[i] * y.v[i]))))""".stripMargin

  private[operators] val duckE =
    """e AS MATERIALIZED (SELECT vec_id, label,
      | list_transform(embedding, z -> CAST(z AS DOUBLE)) AS v FROM embeddings)""".stripMargin

  /** The md5 trailing-base-4-zeros level draw as DuckDB CTEs (`h0`,
    * `lv`) — the exact cross-engine twin of [[hnswLevels]].
    */
  private val duckLevels =
    s"""h0 AS (SELECT vec_id, ${hex12ToLong("md5(CAST(vec_id AS VARCHAR))", "strpos")} AS h FROM e),
       |lv AS MATERIALIZED (SELECT vec_id, CAST(${levelFromH("h")} AS BIGINT) AS level FROM h0)""".stripMargin

  /** One full blocked-NSW build (assignment → blocked pairs → NN-descent
    * → reciprocal top-k) over the nodes of HNSW layer `l` drawn from
    * base relation `base` (name suffix `f`), as a DuckDB CTE chain
    * ending in `lay$f$l`. Empty layers flow through as zero rows, so a
    * static 0..16 stack covers every drawable level. `f = ""` over `e`
    * is the full layered build; `f = "s"` over the stored slice `es` is
    * the generation the layered INSERT oracle folds into.
    */
  /** `bound` is the per-layer seed-threshold scale: the node-count of a
    * dense-id corpus (default — the full/stored builds), or the
    * survivor ID RANGE for the dedup-gated build whose ids are sparse.
    */
  private def duckHnswLayerOver(l: Int, base: String, f: String,
                                bound: String = ""): String = {
    val b = if (bound.nonEmpty) bound else s"(SELECT CAST(count(*) AS BIGINT) FROM $base)"
    s"""el$f$l AS MATERIALIZED (SELECT b.vec_id, b.v FROM $base b JOIN lv ON b.vec_id = lv.vec_id WHERE lv.level >= $l),
       |nl$f$l AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS nl, min(vec_id) AS mid FROM el$f$l),
       |c$f$l AS MATERIALIZED (SELECT vec_id AS cid, v FROM el$f$l, nl$f$l
       |  WHERE vec_id < ($b
       |      * least(nl, greatest(CAST(8 AS BIGINT), CAST(floor(sqrt(nl)) AS BIGINT))) + nl - 1) // nl
       |     OR vec_id = mid),
       |sc$f$l AS (SELECT x.vec_id, y.cid, round($duckCosPair, 6) AS cscore
       |       FROM el$f$l x JOIN (SELECT cid, v FROM c$f$l) y ON true),
       |asg$f$l AS MATERIALIZED (SELECT vec_id, cid FROM (
       |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |          ORDER BY cscore DESC, cid) AS rn FROM sc$f$l) WHERE rn <= 3),
       |cand0$f$l AS MATERIALIZED (SELECT DISTINCT x.vec_id AS src, y.vec_id AS dst
       |          FROM asg$f$l x JOIN asg$f$l y ON x.cid = y.cid AND x.vec_id != y.vec_id),
       |cos0$f$l AS (SELECT src, dst, round($duckCosPair, 6) AS cos
       |         FROM cand0$f$l JOIN el$f$l x ON x.vec_id = src JOIN el$f$l y ON y.vec_id = dst),
       |r1$f$l AS MATERIALIZED (SELECT src, dst FROM (SELECT src, dst, row_number() OVER (
       |         PARTITION BY src ORDER BY cos DESC, dst) AS rn FROM cos0$f$l) WHERE rn <= 4),
       |und$f$l AS MATERIALIZED (SELECT src, dst FROM r1$f$l UNION SELECT dst, src FROM r1$f$l),
       |hop2$f$l AS (SELECT DISTINCT a.src AS src, b.dst AS dst
       |         FROM und$f$l a JOIN und$f$l b ON a.dst = b.src WHERE a.src != b.dst),
       |allc$f$l AS (SELECT src, dst FROM hop2$f$l UNION SELECT src, dst FROM cand0$f$l),
       |csA$f$l AS (SELECT src, dst, round($duckCosPair, 6) AS cos
       |        FROM allc$f$l JOIN el$f$l x ON x.vec_id = src JOIN el$f$l y ON y.vec_id = dst),
       |topk$f$l AS MATERIALIZED (SELECT src, dst, cos, CAST(rn AS BIGINT) AS rn FROM (
       |  SELECT src, dst, cos, row_number() OVER (PARTITION BY src
       |          ORDER BY cos DESC, dst) AS rn FROM csA$f$l) WHERE rn <= 4),
       |lay$f$l AS (SELECT CAST($l AS BIGINT) AS layer, t.src, t.dst, t.cos, t.rn,
       |  (r.src IS NOT NULL) AS mutual
       |  FROM topk$f$l t LEFT JOIN topk$f$l r ON t.src = r.dst AND t.dst = r.src)""".stripMargin
  }

  private def duckHnswLayer(l: Int): String = duckHnswLayerOver(l, "e", "")

  /** One layer of the layered-INSERT oracle: batch members of layer l
    * assign to the STORED layer centroids (`cs$l` from the stored-slice
    * chain), candidate pairs vs stored+batch cells, touched re-rank,
    * one NN-descent repair round, untouched pass-through — the exact
    * per-layer twin of [[hnswGraphInsert]]'s merge (and a layer-keyed
    * [[duckGraphInsertSql]]). Ends in `outi$l`.
    */
  private def duckHnswInsertLayer(l: Int): String =
    s"""topkims$l AS MATERIALIZED (SELECT * FROM topks$l),
       |bli$l AS MATERIALIZED (SELECT e.vec_id, e.v FROM e JOIN lv ON e.vec_id = lv.vec_id
       |          WHERE lv.level >= $l AND e.vec_id >= (SELECT v FROM spl)),
       |bsci$l AS (SELECT x.vec_id, y.cid, round($duckCosPair, 6) AS cscore
       |        FROM bli$l x JOIN (SELECT cid, v FROM cs$l) y ON true),
       |basgi$l AS MATERIALIZED (SELECT vec_id, cid FROM (
       |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |          ORDER BY cscore DESC, cid) AS rn FROM bsci$l) WHERE rn <= 3),
       |acelli$l AS (SELECT vec_id, cid FROM asgs$l UNION ALL SELECT vec_id, cid FROM basgi$l),
       |npi$l AS (SELECT DISTINCT x.vec_id AS src, y.vec_id AS dst
       |       FROM basgi$l x JOIN acelli$l y ON x.cid = y.cid AND x.vec_id != y.vec_id),
       |npci$l AS MATERIALIZED (SELECT src, dst, round($duckCosPair, 6) AS cos
       |       FROM npi$l JOIN e x ON x.vec_id = src JOIN e y ON y.vec_id = dst),
       |undpi$l AS MATERIALIZED (SELECT src, dst, cos FROM npci$l
       |        UNION ALL SELECT dst, src, cos FROM npci$l),
       |tsrci$l AS MATERIALIZED (SELECT DISTINCT src FROM undpi$l),
       |toldi$l AS (SELECT t.src, t.dst, t.cos FROM topkims$l t JOIN tsrci$l ts ON t.src = ts.src),
       |reri$l AS (SELECT src, dst, cos FROM (
       |  SELECT src, dst, cos, row_number() OVER (PARTITION BY src
       |          ORDER BY cos DESC, dst) AS rn
       |  FROM (SELECT DISTINCT src, dst, cos FROM (
       |    SELECT * FROM toldi$l UNION ALL SELECT * FROM undpi$l))) WHERE rn <= 4),
       |mgi$l AS MATERIALIZED (
       |  SELECT t.src, t.dst, t.cos FROM topkims$l t
       |  WHERE t.src NOT IN (SELECT src FROM tsrci$l)
       |  UNION ALL SELECT src, dst, cos FROM reri$l),
       |undmi$l AS (SELECT src, dst FROM mgi$l UNION SELECT dst, src FROM mgi$l),
       |h2i$l AS (SELECT DISTINCT a.src AS src, b.dst AS dst
       |       FROM undmi$l a JOIN undmi$l b ON a.dst = b.src
       |       WHERE a.src != b.dst AND a.src IN (SELECT src FROM tsrci$l)),
       |h2ci$l AS (SELECT src, dst, round($duckCosPair, 6) AS cos
       |        FROM h2i$l JOIN e x ON x.vec_id = src JOIN e y ON y.vec_id = dst),
       |tchi$l AS (SELECT m.src, m.dst, m.cos FROM mgi$l m JOIN tsrci$l ts ON m.src = ts.src),
       |repi$l AS (SELECT src, dst, cos, CAST(rn AS BIGINT) AS rn FROM (
       |  SELECT src, dst, cos, row_number() OVER (PARTITION BY src
       |          ORDER BY cos DESC, dst) AS rn
       |  FROM (SELECT DISTINCT src, dst, cos FROM (
       |    SELECT * FROM tchi$l UNION ALL SELECT * FROM h2ci$l))) WHERE rn <= 4),
       |outi$l AS (SELECT CAST($l AS BIGINT) AS layer, t.src, t.dst, t.cos, t.rn
       |  FROM topkims$l t WHERE t.src NOT IN (SELECT src FROM tsrci$l)
       |  UNION ALL SELECT CAST($l AS BIGINT) AS layer, src, dst, cos, rn FROM repi$l)""".stripMargin

  /** Static layer-stack height of the generated ORACLES (the Spark
    * side stays dynamic over the actual max drawn level). Levels are a
    * deterministic function of vec_id (trailing base-4 zeros of a
    * 48-bit md5 prefix, P(level >= l) = 4^-l): over ids 0..N-1 the max
    * draw is 5 at N <= 5000 (every driver/verify scale) and 9 at
    * N = 50000 (the local 10x gate corpus), so a 0..9 stack produces
    * the identical result to the old 0..16 one at every scale an
    * oracle ever runs — while nearly halving the CTE count of the
    * three monster statements. r15's driver gate died on exactly
    * these statements (CORRECTNESS_r15.json came back empty; the
    * one-connection replica measured 276s of single-threaded DuckDB
    * PLANNING on ann_graph_hnsw_layers alone), so oracle-side peak
    * cost is a correctness-gate requirement, not a nicety.
    */
  val OracleMaxLayer: Int =
    // env-overridable for the next corpus notch (the level draw is a
    // pure function of vec_id: the first id drawing level >= 10 is
    // 204596, so any corpus whose id range crosses it needs 10). The
    // default stays 9 so driver artifacts are hash-stable; the ML=10
    // gate recipe is docs/gate_r19_ml10_summary.txt (priced +18% on the
    // layered family by the r18 A/B, run GREEN end-to-end in r19).
    sys.env.get("SPARK_GRAFT_ORACLE_MAX_LAYER").flatMap(_.toIntOption).getOrElse(9)

  /** Verify-time guard for the generated layered oracles: the DuckDB
    * statements carry a STATIC 0..[[OracleMaxLayer]] CTE stack while
    * the Spark build is dynamic over the actual max drawn level
    * (capped at 16). The 9 cap is verified empirically (max draw over
    * ids 0..N-1 is 9 up to N = 50000; the first id drawing level >= 10
    * is 204596), so a gate run on a ~205k+ row corpus would generate
    * an oracle silently missing layers 10+ — fail the dump loudly at
    * oracle-generation time instead of producing an unattributable
    * hash mismatch. Cost: one max() over a vec_id-only projection.
    */
  def assertOracleLayerCap(s: SparkSession, dir: String): Unit = {
    val maxLvl = hnswLevels(s, dir).agg(max(col("level"))).head.getLong(0)
    require(maxLvl <= OracleMaxLayer,
      s"corpus at $dir draws HNSW level $maxLvl > OracleMaxLayer=$OracleMaxLayer: " +
        s"the generated layered oracles would omit layers ${OracleMaxLayer + 1}..$maxLvl; " +
        "raise OracleMaxLayer (and re-measure the one-connection gate cost) before trusting the gate")
  }

  /** The layered incremental insert (`ann_hnsw_insert`) as one DuckDB
    * statement: stored-slice layered build (suffix `s`,
    * 0..[[OracleMaxLayer]]) + one insert chain per layer, unioned.
    */
  private def duckHnswInsertSql: String = {
    val stored = (0 to OracleMaxLayer).map(duckHnswLayerOver(_, "es", "s")).mkString(",\n")
    val inserts = (0 to OracleMaxLayer).map(duckHnswInsertLayer).mkString(",\n")
    val union = (0 to OracleMaxLayer).map(l => s"SELECT * FROM outi$l").mkString("\nUNION ALL ")
    s"""WITH $duckE,
       |$duckLevels,
       |spl AS MATERIALIZED (SELECT count(*) * $InsertSplitNum // $InsertSplitDen AS v FROM e),
       |es AS MATERIALIZED (SELECT vec_id, v FROM e WHERE vec_id < (SELECT v FROM spl)),
       |$stored,
       |$inserts
       |$union""".stripMargin
  }

  private def duckHnswLayersSql: String = {
    val chains = (0 to OracleMaxLayer).map(duckHnswLayer).mkString(",\n")
    val union = (0 to OracleMaxLayer).map(l => s"SELECT * FROM lay$l").mkString("\nUNION ALL ")
    s"WITH $duckE,\n$duckLevels,\n$chains\n$union"
  }

  /** Shared PQ CTE chain ending in `adc` = (vec_id, adc6). */
  private val duckPqAdc =
    """sub AS (SELECT vec_id, m, list_slice(v, m * 16 + 1, m * 16 + 16) AS s
      |        FROM e, range(0, 4) t(m)),
      |cb AS (SELECT vec_id - 16 AS cid, m, list_slice(v, m * 16 + 1, m * 16 + 16) AS s
      |       FROM e, range(0, 4) t(m) WHERE vec_id >= 16 AND vec_id < 32),
      |pqsc AS (SELECT x.vec_id, x.m, y.cid,
      |        round(list_sum(list_transform(range(1, 17), i -> x.s[i] * y.s[i]))
      |         / (sqrt(list_sum(list_transform(range(1, 17), i -> x.s[i] * x.s[i])))
      |            * sqrt(list_sum(list_transform(range(1, 17), i -> y.s[i] * y.s[i])))), 6) AS cs
      |       FROM sub x JOIN cb y ON x.m = y.m),
      |code AS (SELECT vec_id, m, cid FROM (
      |  SELECT vec_id, m, cid, row_number() OVER (PARTITION BY vec_id, m
      |          ORDER BY cs DESC, cid) AS rn FROM pqsc) WHERE rn = 1),
      |pqq AS (SELECT m, s FROM sub WHERE vec_id = (SELECT min(vec_id) FROM e)),
      |contrib AS (SELECT code.vec_id, code.m,
      |        list_sum(list_transform(range(1, 17), i -> pqq.s[i] * cb.s[i])) AS d
      |       FROM code JOIN cb ON code.m = cb.m AND code.cid = cb.cid
      |            JOIN pqq ON pqq.m = code.m),
      |adc AS (SELECT vec_id,
      |  round(max(CASE WHEN m = 0 THEN d END) + max(CASE WHEN m = 1 THEN d END)
      |      + max(CASE WHEN m = 2 THEN d END) + max(CASE WHEN m = 3 THEN d END), 6) AS adc6
      | FROM contrib GROUP BY vec_id)""".stripMargin

  /** Binary-quantization search (the Qdrant/RaBitQ-style memory path:
    * 64 dims → 64 sign bits = 8 B/vector, a 32× compression): candidates
    * are vectors within a fixed hamming RADIUS of the query's sign
    * signature (the deployed shape for binary pre-filters — a
    * data-independent radius keeps the candidate test a pure per-row
    * filter: scan → signature kernel → filter → exact cosine re-rank →
    * TakeOrderedAndProject, zero shuffles and no mid-plan global
    * ordering; a top-C shortlist would force a global sort inside the
    * plan). Unrelated 64-bit signatures concentrate at hamming ≈ 32 ± 4,
    * so radius 24 (−2σ) passes ~3% of the corpus to the float re-rank.
    * Signatures come from the native fvec_signbits kernel (one codegen'd
    * pass/row vs a 64-step interpreted HOF fold).
    */
  def binarySearch(s: SparkSession, dir: String, k: Int = 10, radius: Int = 24): DataFrame = {
    // both words in ONE projection calling the kernel twice (1-row frame):
    // an intermediate `qs` column referenced twice blocks CollapseProject,
    // and the uncollapsed Project stack breaks the Limit(Project(Sort)) →
    // TakeOrderedAndProject pattern, leaving a global Sort in the plan
    val q = SemanticSearch.queryVec(s, dir)
      .select(col("qvec"),
        expr("element_at(fvec_signbits(qvec), 1)").as("q_hi"),
        expr("element_at(fvec_signbits(qvec), 2)").as("q_lo"))
    Graft.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
        call_function("fvec_signbits", col("embedding")).as("sg"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("embedding"), col("qvec"),
        expr("cast(bit_count(element_at(sg, 1) ^ q_hi) + bit_count(element_at(sg, 2) ^ q_lo) as bigint)")
          .as("hamming"))
      .filter(col("hamming") <= radius)
      .select(col("vec_id"), col("hamming"),
        graft.functions.VectorOps.cosine6(col("embedding"), col("qvec")).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
  }

  /** The blocked-NSW build as a DuckDB CTE chain ending in `topk$f`
    * (src, dst, cos, rn), parameterized over the source CTE `src` and a
    * CTE-name suffix `f` — the exact cross-engine twin of
    * [[nswEdgesFromCells]]; shared (at src="e", f="") by the
    * `ann_graph_nsw` edge oracle, the graph-search chain and the
    * `embed_outlier_knn` isolation aggregate, and (at src="es", f="i")
    * by the incremental insert's stored-slice build.
    */
  /** The NSW chain AFTER the cell assignment `m$f` (vec_id, cid):
    * blocked pairs → round-1 cut → NN-descent → final top-k, ending in
    * `topk$f`. Split out of [[duckNswTopkOver]] so the dedup-gated
    * build's oracle can feed it a RESTRICTED assignment (survivors
    * only) — one chain, two centroid regimes.
    */
  private def duckNswChainFromM(src: String, f: String): String =
    s"""cand0$f AS MATERIALIZED (SELECT DISTINCT x.vec_id AS src, y.vec_id AS dst
       |          FROM m$f x JOIN m$f y ON x.cid = y.cid AND x.vec_id != y.vec_id),
       |cos0$f AS (SELECT src, dst, round($duckCosPair, 6) AS cos
       |         FROM cand0$f JOIN $src x ON x.vec_id = src JOIN $src y ON y.vec_id = dst),
       |r1$f AS MATERIALIZED (SELECT src, dst FROM (SELECT src, dst, row_number() OVER (
       |         PARTITION BY src ORDER BY cos DESC, dst) AS rn FROM cos0$f) WHERE rn <= 4),
       |und$f AS MATERIALIZED (SELECT src, dst FROM r1$f UNION SELECT dst, src FROM r1$f),
       |hop2$f AS (SELECT DISTINCT a.src AS src, b.dst AS dst
       |         FROM und$f a JOIN und$f b ON a.dst = b.src WHERE a.src != b.dst),
       |allc$f AS (SELECT src, dst FROM hop2$f UNION SELECT src, dst FROM cand0$f),
       |csA$f AS (SELECT src, dst, round($duckCosPair, 6) AS cos
       |        FROM allc$f JOIN $src x ON x.vec_id = src JOIN $src y ON y.vec_id = dst),
       |topk$f AS MATERIALIZED (SELECT src, dst, cos, CAST(rn AS BIGINT) AS rn FROM (
       |  SELECT src, dst, cos, row_number() OVER (PARTITION BY src
       |          ORDER BY cos DESC, dst) AS rn FROM csA$f) WHERE rn <= 4)""".stripMargin

  private def duckNswTopkOver(src: String, f: String): String =
    s"""c$f AS MATERIALIZED (SELECT vec_id AS cid, v FROM $src WHERE vec_id <
       |        greatest(8, CAST(floor(sqrt((SELECT count(*) FROM $src))) AS BIGINT))),
       |sc$f AS (SELECT x.vec_id, y.cid, round($duckCosPair, 6) AS cscore
       |       FROM $src x JOIN (SELECT cid, v FROM c$f) y ON true),
       |asg$f AS (SELECT vec_id, cid FROM (
       |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |          ORDER BY cscore DESC, cid) AS rn FROM sc$f) WHERE rn <= 3),
       |m$f AS MATERIALIZED (SELECT s.vec_id, a.cid FROM $src s JOIN asg$f a ON s.vec_id = a.vec_id),
       |${duckNswChainFromM(src, f)}""".stripMargin

  private val duckNswTopk = duckNswTopkOver("e", "")

  /** The batch beam walk over the dedup-gated build as one DuckDB
    * statement — shared verbatim by `ann_graph_search_deduped` and its
    * written-generation twin (read-equivalence).
    */
  private lazy val duckDedupedWalkSql: String = {
    val rounds = (1 to GraphSearchRounds).map { r =>
      s"""std$r AS MATERIALIZED (SELECT q_id, node, score FROM (
         |  SELECT q_id, node, score, row_number() OVER (PARTITION BY q_id
         |          ORDER BY score DESC, node) AS rn
         |  FROM (SELECT DISTINCT q_id, node, score FROM (
         |    SELECT q_id, node, score FROM std${r - 1}
         |    UNION ALL
         |    SELECT s.q_id, u.dst AS node, round($duckCosQ, 6) AS score
         |    FROM std${r - 1} s JOIN gundd u ON u.src = s.node
         |         JOIN e x ON x.vec_id = u.dst JOIN qs q ON q.q_id = s.q_id
         |    WHERE u.dst != s.q_id))
         | ) WHERE rn <= $GraphSearchBeam)""".stripMargin
    }.mkString(",\n")
    s"""WITH $duckE,
       |$duckDedupedBuild,
       |gundd AS MATERIALIZED (SELECT src, dst FROM dedup_edges
       |       UNION SELECT dst, src FROM dedup_edges),
       |qs AS MATERIALIZED (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 25 = 7
       |       ORDER BY vec_id LIMIT $GraphSearchQueryCount),
       |cdw AS (SELECT vec_id, v FROM e WHERE vec_id <
       |        greatest(8, CAST(floor(sqrt((SELECT count(*) FROM e))) AS BIGINT))),
       |std0 AS MATERIALIZED (SELECT q_id, node, score FROM (
       |  SELECT q_id, node, score, row_number() OVER (PARTITION BY q_id
       |          ORDER BY score DESC, node) AS rn
       |  FROM (SELECT q.q_id, x.vec_id AS node, round($duckCosQ, 6) AS score
       |        FROM cdw x JOIN qs q ON x.vec_id != q.q_id)) WHERE rn <= 1),
       |$rounds,
       |fin AS MATERIALIZED (SELECT q_id, CAST(rn AS BIGINT) AS rn, node AS vec_id, score FROM (
       |  SELECT q_id, node, score, row_number() OVER (PARTITION BY q_id
       |          ORDER BY score DESC, node) AS rn FROM std$GraphSearchRounds)
       | WHERE rn <= $GraphSearchK)
       |SELECT q_id, rn, vec_id, score FROM fin""".stripMargin
  }

  /** The dedup-gated build ([[nswGraphDeduped]]) as DuckDB CTEs, ending
    * in `dedup_edges` (src, dst, cos, rn, is_attach) — exact collapse by
    * vector-value GROUP BY, rank-based √n centroid pick, within-cell
    * near-dup pairs at [[BuildDedupTauMicros]], the
    * [[BuildDedupRounds]]-round min-label unroll + two pointer jumps, the
    * shared NSW chain over survivors, and the duplicate re-attach.
    * Shared by the `ann_graph_build_deduped` edge oracle and the
    * `ann_conn_deduped` census oracle.
    */
  /** The COLLAPSE stage of the dedup-gated builds as DuckDB CTEs —
    * [[dedupCollapse]]'s cross-engine twin, ending in `exm` (vec_id,
    * ec), `finp` (exact-survivor vec_id, canon — min-label rounds + two
    * pointer jumps), `c2d` (survivors) and `dupd` (full-corpus dup →
    * canon). Shared by the flat chain ([[duckDedupedBuild]]) and the
    * LAYERED dedup-gated oracles, exactly as the Spark collapse is.
    */
  private def duckDedupCollapse: String = duckDedupCollapseOver("e", "")

  /** The collapse CTEs over an arbitrary base table with CTE-name
    * suffix `f` — the cross-engine [[dedupCollapseOver]]: default
    * ("e", "") emits the full-corpus chain verbatim; the DEDUPED-insert
    * oracle instantiates the stored slice ("es", "i").
    */
  private def duckDedupCollapseOver(base: String, f: String): String = {
    val rounds = (1 to BuildDedupRounds).map { r =>
      s"""l$f$r AS MATERIALIZED (SELECT c.vec_id,
         |      least(min(c.lbl), coalesce(min(n.lbl), min(c.lbl))) AS lbl
         |      FROM l$f${r - 1} c LEFT JOIN ndp$f ON ndp$f.a = c.vec_id
         |      LEFT JOIN l$f${r - 1} n ON n.vec_id = ndp$f.b
         |      GROUP BY c.vec_id)""".stripMargin
    }.mkString(",\n")
    s"""exg$f AS (SELECT v, min(vec_id) AS ec FROM $base GROUP BY v),
       |exm$f AS MATERIALIZED (SELECT b.vec_id, x.ec FROM $base b JOIN exg$f x ON b.v = x.v),
       |c1d$f AS MATERIALIZED (SELECT b.vec_id, b.v FROM $base b JOIN exm$f ON b.vec_id = exm$f.vec_id
       |      WHERE exm$f.ec = b.vec_id),
       |cend$f AS MATERIALIZED (SELECT vec_id AS cid, v FROM (
       |  SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rnk FROM c1d$f)
       |  WHERE rnk <= greatest(8, CAST(floor(sqrt((SELECT count(*) FROM c1d$f))) AS BIGINT))),
       |scd$f AS (SELECT x.vec_id, y.cid, round($duckCosPair, 6) AS cscore
       |       FROM c1d$f x JOIN (SELECT cid, v FROM cend$f) y ON true),
       |asgd$f AS (SELECT vec_id, cid FROM (
       |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |          ORDER BY cscore DESC, cid) AS rn FROM scd$f) WHERE rn <= 3),
       |mc1$f AS MATERIALIZED (SELECT s.vec_id, a.cid, s.v FROM c1d$f s JOIN asgd$f a ON s.vec_id = a.vec_id),
       |ndp$f AS MATERIALIZED (SELECT x.vec_id AS a, y.vec_id AS b FROM mc1$f x JOIN mc1$f y
       |      ON x.cid = y.cid AND x.vec_id != y.vec_id
       |      WHERE CAST(round(round($duckCosPair, 6) * 1000000) AS BIGINT) >= $BuildDedupTauMicros),
       |l${f}0 AS (SELECT vec_id, vec_id AS lbl FROM c1d$f),
       |$rounds,
       |finj$f AS MATERIALIZED (SELECT p.vec_id, q.lbl AS canon
       |      FROM l$f$BuildDedupRounds p JOIN l$f$BuildDedupRounds q ON p.lbl = q.vec_id),
       |finp$f AS MATERIALIZED (SELECT a.vec_id, b.canon
       |      FROM finj$f a JOIN finj$f b ON a.canon = b.vec_id),
       |c2d$f AS MATERIALIZED (SELECT c.vec_id, c.v FROM c1d$f c JOIN finp$f f ON c.vec_id = f.vec_id
       |      WHERE f.canon = c.vec_id),
       |dupd$f AS (SELECT x.vec_id, f.canon FROM exm$f x JOIN finp$f f ON x.ec = f.vec_id
       |      WHERE x.vec_id != f.canon)""".stripMargin
  }

  private def duckDedupedBuild: String = duckDedupedBuildOver("e", "")

  /** The full flat dedup-gated build over (`base`, suffix `f`), ending
    * in `dedup_edges$f` — collapse + survivor chain + attach.
    */
  private def duckDedupedBuildOver(base: String, f: String): String =
    s"""${duckDedupCollapseOver(base, f)},
       |md$f AS MATERIALIZED (SELECT m.vec_id, m.cid FROM mc1$f m JOIN c2d$f ON m.vec_id = c2d$f.vec_id),
       |${duckNswChainFromM(s"c2d$f", s"d$f")},
       |att0d$f AS (SELECT d.vec_id AS src, d.canon AS dst, CAST(0 AS BIGINT) AS rn FROM dupd$f d
       |      UNION ALL SELECT d.vec_id, t.dst, t.rn FROM dupd$f d JOIN topkd$f t ON t.src = d.canon),
       |attd$f AS (SELECT a.src, a.dst, round($duckCosPair, 6) AS cos, a.rn FROM att0d$f a
       |      JOIN $base x ON x.vec_id = a.src JOIN $base y ON y.vec_id = a.dst),
       |dedup_edges$f AS MATERIALIZED (
       |  SELECT src, dst, cos, rn, false AS is_attach FROM topkd$f
       |  UNION ALL SELECT src, dst, cos, rn, true AS is_attach FROM attd$f)""".stripMargin

  /** The dedup-gated LAYERED build ([[hnswGraphDeduped]]) as DuckDB
    * CTEs ending in `hnsw_dedup_edges` (layer, src, dst, cos, rn,
    * is_attach): the shared collapse, one [[duckHnswLayerOver]] chain
    * per layer over the survivor set `c2d` with the seed thresholds
    * scaled by the survivor ID RANGE (`hdb` = max survivor id + 1 — the
    * Spark build's idBound), and the layer-0 duplicate attach. Requires
    * `$duckE` and `$duckLevels` in scope.
    */
  private def duckHnswDedupedBuild: String = {
    val chains = (0 to OracleMaxLayer)
      .map(duckHnswLayerOver(_, "c2d", "hd", "(SELECT hb FROM hdb)")).mkString(",\n")
    val stack = (0 to OracleMaxLayer)
      .map(l => s"SELECT CAST($l AS BIGINT) AS layer, src, dst, cos, rn FROM topkhd$l")
      .mkString("\n  UNION ALL ")
    s"""$duckDedupCollapse,
       |hdb AS (SELECT coalesce(max(vec_id) + 1, 0) AS hb FROM c2d),
       |$chains,
       |atth0 AS (SELECT d.vec_id AS src, d.canon AS dst, CAST(0 AS BIGINT) AS rn FROM dupd d
       |      UNION ALL SELECT d.vec_id, t.dst, t.rn FROM dupd d JOIN topkhd0 t ON t.src = d.canon),
       |atthd AS (SELECT a.src, a.dst, round($duckCosPair, 6) AS cos, a.rn FROM atth0 a
       |      JOIN e x ON x.vec_id = a.src JOIN e y ON y.vec_id = a.dst),
       |hnsw_dedup_edges AS MATERIALIZED (
       |  SELECT layer, src, dst, cos, rn, false AS is_attach FROM ($stack)
       |  UNION ALL SELECT CAST(0 AS BIGINT) AS layer, src, dst, cos, rn, true AS is_attach
       |  FROM atthd)""".stripMargin
  }

  /** Shared CTE chain of the DEDUPED-insert oracles
    * ([[dedupedInsertBatch]] at the keyed 4N/5 split): the stored-slice
    * dedup-gated build (suffix `i`), the exact probe of the stored
    * group map, the near-dup probe against stored canonicals + batch
    * pairs with the bounded rounds + two jumps (stored canonicals
    * terminal), the survivor insert (the [[duckGraphInsertSql]] merge
    * against the stored SURVIVOR graph `topkdi`), and the attach
    * refresh. Ends in `dedup_ins_edges` / `bmap` / `smap`.
    */
  /** The shared ROUTE prelude of the DEDUPED-insert oracles — the
    * stored-slice COLLAPSE (suffix `i`) + the batch's dup-routing
    * (exact probe, near-dup probe with bounded rounds + two jumps,
    * full batch map) — [[dedupedRouteOver]]'s cross-engine twin, shared
    * by the FLAT fold chain ([[duckDedupedInsertCtes]]) and the LAYERED
    * one ([[duckHnswDedupedInsertSql]]) exactly as the Spark routing
    * is. Ends in `bmap`/`bdup`/`bsurv`/`bcellv`/`smap`.
    */
  private def duckDedupedRouteCtes: String = {
    val rounds = (1 to BuildDedupRounds).map { r =>
      s"""sld$r AS MATERIALIZED (SELECT c.vec_id,
         |      least(min(c.lbl), coalesce(min(n.lbl), min(c.lbl))) AS lbl
         |      FROM sld${r - 1} c LEFT JOIN pbd ON pbd.a = c.vec_id
         |      LEFT JOIN sld${r - 1} n ON n.vec_id = pbd.b
         |      GROUP BY c.vec_id)""".stripMargin
    }.mkString(",\n")
    s"""spl AS MATERIALIZED (SELECT count(*) * $InsertSplitNum // $InsertSplitDen AS v FROM e),
       |es AS MATERIALIZED (SELECT vec_id, v FROM e WHERE vec_id < (SELECT v FROM spl)),
       |${duckDedupCollapseOver("es", "i")},
       |mdi AS MATERIALIZED (SELECT m.vec_id, m.cid FROM mc1i m JOIN c2di ON m.vec_id = c2di.vec_id),
       |smap AS (SELECT x.vec_id, f.canon FROM exmi x JOIN finpi f ON x.ec = f.vec_id),
       |bat AS MATERIALIZED (SELECT vec_id, v FROM e WHERE vec_id >= (SELECT v FROM spl)),
       |bgrp AS (SELECT v, min(vec_id) AS bmin FROM bat GROUP BY v),
       |bexm AS MATERIALIZED (SELECT b.vec_id, b.v, coalesce(x.ec, g.bmin) AS ec
       |      FROM bat b LEFT JOIN exgi x ON b.v = x.v JOIN bgrp g ON b.v = g.v),
       |bc1 AS MATERIALIZED (SELECT vec_id, v FROM bexm WHERE ec = vec_id),
       |bscd AS (SELECT x.vec_id, y.cid, round($duckCosPair, 6) AS cscore
       |      FROM bc1 x JOIN (SELECT cid, v FROM cendi) y ON true),
       |bcell AS MATERIALIZED (SELECT vec_id, cid FROM (
       |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |          ORDER BY cscore DESC, cid) AS rn FROM bscd) WHERE rn <= 3),
       |psd0 AS (SELECT DISTINCT c.vec_id AS b, m.vec_id AS c FROM bcell c JOIN mdi m ON c.cid = m.cid),
       |psd AS MATERIALIZED (SELECT p.b, p.c FROM psd0 p
       |      JOIN e x ON x.vec_id = p.b JOIN e y ON y.vec_id = p.c
       |      WHERE CAST(round(round($duckCosPair, 6) * 1000000) AS BIGINT) >= $BuildDedupTauMicros),
       |pbd0 AS (SELECT DISTINCT c.vec_id AS a, d.vec_id AS b FROM bcell c JOIN bcell d
       |      ON c.cid = d.cid AND c.vec_id != d.vec_id),
       |pbd AS MATERIALIZED (SELECT p.a, p.b FROM pbd0 p
       |      JOIN e x ON x.vec_id = p.a JOIN e y ON y.vec_id = p.b
       |      WHERE CAST(round(round($duckCosPair, 6) * 1000000) AS BIGINT) >= $BuildDedupTauMicros),
       |sld0 AS (SELECT b.vec_id, least(b.vec_id, coalesce(m.sc, b.vec_id)) AS lbl
       |      FROM bc1 b LEFT JOIN (SELECT b AS vec_id, min(c) AS sc FROM psd GROUP BY 1) m
       |      ON b.vec_id = m.vec_id),
       |$rounds,
       |jm1 AS (SELECT vec_id, lbl FROM sld$BuildDedupRounds
       |      UNION ALL SELECT vec_id, vec_id FROM c2di),
       |bfj AS MATERIALIZED (SELECT p.vec_id, q.lbl AS canon
       |      FROM sld$BuildDedupRounds p JOIN jm1 q ON p.lbl = q.vec_id),
       |jm2 AS (SELECT vec_id, canon FROM bfj UNION ALL SELECT vec_id, vec_id FROM c2di),
       |bfin AS MATERIALIZED (SELECT a.vec_id, b.canon FROM bfj a JOIN jm2 b ON a.canon = b.vec_id),
       |ecmap AS (SELECT vec_id, canon FROM bfin UNION ALL SELECT vec_id, canon FROM finpi),
       |bmap AS MATERIALIZED (SELECT x.vec_id, m.canon FROM bexm x JOIN ecmap m ON x.ec = m.vec_id),
       |bdup AS (SELECT vec_id, canon FROM bmap WHERE vec_id != canon),
       |bsurv AS MATERIALIZED (SELECT vec_id FROM bfin WHERE canon = vec_id),
       |bcellv AS MATERIALIZED (SELECT c.vec_id, c.cid FROM bcell c JOIN bsurv ON c.vec_id = bsurv.vec_id)""".stripMargin
  }

  /** Shared CTE chain of the FLAT DEDUPED-insert oracles
    * ([[dedupedInsertBatch]] at the keyed 4N/5 split): the route
    * prelude, the stored-slice survivor NSW chain + attach, the
    * survivor insert (the [[duckGraphInsertSql]] merge against the
    * stored SURVIVOR graph `topkdi`), and the attach refresh. Ends in
    * `dedup_ins_edges` / `bmap` / `smap`.
    */
  private def duckDedupedInsertCtes: String = {
    s"""$duckDedupedRouteCtes,
       |${duckNswChainFromM("c2di", "di")},
       |att0di AS (SELECT d.vec_id AS src, d.canon AS dst, CAST(0 AS BIGINT) AS rn FROM dupdi d
       |      UNION ALL SELECT d.vec_id, t.dst, t.rn FROM dupdi d JOIN topkdi t ON t.src = d.canon),
       |attdi AS (SELECT a.src, a.dst, round($duckCosPair, 6) AS cos, a.rn FROM att0di a
       |      JOIN es x ON x.vec_id = a.src JOIN es y ON y.vec_id = a.dst),
       |acelld AS (SELECT vec_id, cid FROM mdi UNION ALL SELECT vec_id, cid FROM bcellv),
       |npd AS (SELECT DISTINCT x.vec_id AS src, y.vec_id AS dst
       |      FROM bcellv x JOIN acelld y ON x.cid = y.cid AND x.vec_id != y.vec_id),
       |npcd AS MATERIALIZED (SELECT src, dst, round($duckCosPair, 6) AS cos
       |      FROM npd JOIN e x ON x.vec_id = src JOIN e y ON y.vec_id = dst),
       |undpd AS MATERIALIZED (SELECT src, dst, cos FROM npcd
       |      UNION ALL SELECT dst, src, cos FROM npcd),
       |tsrcd AS MATERIALIZED (SELECT DISTINCT src FROM undpd),
       |toldd AS (SELECT t.src, t.dst, t.cos FROM topkdi t JOIN tsrcd ON t.src = tsrcd.src),
       |rerd AS (SELECT src, dst, cos, CAST(rn AS BIGINT) AS rn FROM (
       |  SELECT src, dst, cos, row_number() OVER (PARTITION BY src
       |          ORDER BY cos DESC, dst) AS rn
       |  FROM (SELECT DISTINCT src, dst, cos FROM (
       |    SELECT * FROM toldd UNION ALL SELECT * FROM undpd))) WHERE rn <= 4),
       |mgd AS MATERIALIZED (
       |  SELECT t.src, t.dst, t.cos FROM topkdi t
       |  WHERE t.src NOT IN (SELECT src FROM tsrcd)
       |  UNION ALL SELECT src, dst, cos FROM rerd),
       |undmd AS (SELECT src, dst FROM mgd UNION SELECT dst, src FROM mgd),
       |h2d AS (SELECT DISTINCT a.src AS src, b.dst AS dst
       |      FROM undmd a JOIN undmd b ON a.dst = b.src
       |      WHERE a.src != b.dst AND a.src IN (SELECT src FROM tsrcd)),
       |h2cd AS (SELECT src, dst, round($duckCosPair, 6) AS cos
       |      FROM h2d JOIN e x ON x.vec_id = src JOIN e y ON y.vec_id = dst),
       |tchd AS (SELECT m.src, m.dst, m.cos FROM mgd m JOIN tsrcd ON m.src = tsrcd.src),
       |repd AS (SELECT src, dst, cos, CAST(rn AS BIGINT) AS rn FROM (
       |  SELECT src, dst, cos, row_number() OVER (PARTITION BY src
       |          ORDER BY cos DESC, dst) AS rn
       |  FROM (SELECT DISTINCT src, dst, cos FROM (
       |    SELECT * FROM tchd UNION ALL SELECT * FROM h2cd))) WHERE rn <= 4),
       |mergedd AS MATERIALIZED (
       |  SELECT t.src, t.dst, t.cos, t.rn FROM topkdi t
       |  WHERE t.src NOT IN (SELECT src FROM tsrcd)
       |  UNION ALL SELECT src, dst, cos, rn FROM repd),
       |refr AS MATERIALIZED (SELECT d.vec_id, d.canon FROM dupdi d JOIN tsrcd t ON d.canon = t.src
       |      UNION ALL SELECT vec_id, canon FROM bdup),
       |keepatt AS (SELECT a.src, a.dst, a.cos, a.rn FROM attdi a
       |      WHERE a.src NOT IN (SELECT vec_id FROM refr)),
       |att0n AS (SELECT r.vec_id AS src, r.canon AS dst, CAST(0 AS BIGINT) AS rn FROM refr r
       |      UNION ALL SELECT r.vec_id, m.dst, m.rn FROM refr r JOIN mergedd m ON m.src = r.canon),
       |attn AS (SELECT a.src, a.dst, round($duckCosPair, 6) AS cos, a.rn FROM att0n a
       |      JOIN e x ON x.vec_id = a.src JOIN e y ON y.vec_id = a.dst),
       |dedup_ins_edges AS (
       |  SELECT src, dst, cos, rn, false AS is_attach FROM mergedd
       |  UNION ALL SELECT src, dst, cos, rn, true AS is_attach FROM keepatt
       |  UNION ALL SELECT src, dst, cos, rn, true AS is_attach FROM attn)""".stripMargin
  }

  /** One layer of the LAYERED DEDUPED-insert oracle — the exact twin of
    * [[duckHnswInsertLayer]] with the batch restricted to ROUTE
    * SURVIVORS (`bsurv`) and the stored side the survivor chains
    * (suffix `hdi`). Ends in `outz$l`.
    */
  private def duckHnswDedupedInsertLayer(l: Int): String =
    s"""topkimz$l AS MATERIALIZED (SELECT * FROM topkhdi$l),
       |blz$l AS MATERIALIZED (SELECT e.vec_id, e.v FROM e JOIN lv ON e.vec_id = lv.vec_id
       |          JOIN bsurv ON e.vec_id = bsurv.vec_id WHERE lv.level >= $l),
       |bscz$l AS (SELECT x.vec_id, y.cid, round($duckCosPair, 6) AS cscore
       |        FROM blz$l x JOIN (SELECT cid, v FROM chdi$l) y ON true),
       |basgz$l AS MATERIALIZED (SELECT vec_id, cid FROM (
       |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |          ORDER BY cscore DESC, cid) AS rn FROM bscz$l) WHERE rn <= 3),
       |acellz$l AS (SELECT vec_id, cid FROM asghdi$l UNION ALL SELECT vec_id, cid FROM basgz$l),
       |npz$l AS (SELECT DISTINCT x.vec_id AS src, y.vec_id AS dst
       |       FROM basgz$l x JOIN acellz$l y ON x.cid = y.cid AND x.vec_id != y.vec_id),
       |npcz$l AS MATERIALIZED (SELECT src, dst, round($duckCosPair, 6) AS cos
       |       FROM npz$l JOIN e x ON x.vec_id = src JOIN e y ON y.vec_id = dst),
       |undpz$l AS MATERIALIZED (SELECT src, dst, cos FROM npcz$l
       |        UNION ALL SELECT dst, src, cos FROM npcz$l),
       |tsrcz$l AS MATERIALIZED (SELECT DISTINCT src FROM undpz$l),
       |toldz$l AS (SELECT t.src, t.dst, t.cos FROM topkimz$l t JOIN tsrcz$l ts ON t.src = ts.src),
       |rerz$l AS (SELECT src, dst, cos FROM (
       |  SELECT src, dst, cos, row_number() OVER (PARTITION BY src
       |          ORDER BY cos DESC, dst) AS rn
       |  FROM (SELECT DISTINCT src, dst, cos FROM (
       |    SELECT * FROM toldz$l UNION ALL SELECT * FROM undpz$l))) WHERE rn <= 4),
       |mgz$l AS MATERIALIZED (
       |  SELECT t.src, t.dst, t.cos FROM topkimz$l t
       |  WHERE t.src NOT IN (SELECT src FROM tsrcz$l)
       |  UNION ALL SELECT src, dst, cos FROM rerz$l),
       |undmz$l AS (SELECT src, dst FROM mgz$l UNION SELECT dst, src FROM mgz$l),
       |h2z$l AS (SELECT DISTINCT a.src AS src, b.dst AS dst
       |       FROM undmz$l a JOIN undmz$l b ON a.dst = b.src
       |       WHERE a.src != b.dst AND a.src IN (SELECT src FROM tsrcz$l)),
       |h2cz$l AS (SELECT src, dst, round($duckCosPair, 6) AS cos
       |        FROM h2z$l JOIN e x ON x.vec_id = src JOIN e y ON y.vec_id = dst),
       |tchz$l AS (SELECT m.src, m.dst, m.cos FROM mgz$l m JOIN tsrcz$l ts ON m.src = ts.src),
       |repz$l AS (SELECT src, dst, cos, CAST(rn AS BIGINT) AS rn FROM (
       |  SELECT src, dst, cos, row_number() OVER (PARTITION BY src
       |          ORDER BY cos DESC, dst) AS rn
       |  FROM (SELECT DISTINCT src, dst, cos FROM (
       |    SELECT * FROM tchz$l UNION ALL SELECT * FROM h2cz$l))) WHERE rn <= 4),
       |outz$l AS (SELECT CAST($l AS BIGINT) AS layer, t.src, t.dst, t.cos, t.rn
       |  FROM topkimz$l t WHERE t.src NOT IN (SELECT src FROM tsrcz$l)
       |  UNION ALL SELECT CAST($l AS BIGINT) AS layer, src, dst, cos, rn FROM repz$l)""".stripMargin

  /** The LAYERED deduped insert ([[hnswInsertDedupedBatch]] at the
    * keyed 4N/5 split) as one DuckDB statement: the shared route
    * prelude, the stored-slice SURVIVOR layered chains (seed thresholds
    * scaled by the stored survivor ID RANGE — [[duckHnswDedupedBuild]]'s
    * convention), one insert chain per layer over route survivors, and
    * the layer-0 attach refresh.
    */
  private def duckHnswDedupedInsertSql: String = {
    val stored = (0 to OracleMaxLayer)
      .map(duckHnswLayerOver(_, "c2di", "hdi", "(SELECT hb FROM hdbi)")).mkString(",\n")
    val inserts = (0 to OracleMaxLayer).map(duckHnswDedupedInsertLayer).mkString(",\n")
    val union = (0 to OracleMaxLayer).map(l => s"SELECT * FROM outz$l").mkString("\n  UNION ALL ")
    s"""WITH $duckE,
       |$duckLevels,
       |$duckDedupedRouteCtes,
       |hdbi AS (SELECT coalesce(max(vec_id) + 1, 0) AS hb FROM c2di),
       |$stored,
       |$inserts,
       |atth0i AS (SELECT d.vec_id AS src, d.canon AS dst, CAST(0 AS BIGINT) AS rn FROM dupdi d
       |      UNION ALL SELECT d.vec_id, t.dst, t.rn FROM dupdi d JOIN topkhdi0 t ON t.src = d.canon),
       |atthdi AS (SELECT a.src, a.dst, round($duckCosPair, 6) AS cos, a.rn FROM atth0i a
       |      JOIN es x ON x.vec_id = a.src JOIN es y ON y.vec_id = a.dst),
       |refrz AS MATERIALIZED (SELECT d.vec_id, d.canon FROM dupdi d JOIN tsrcz0 t ON d.canon = t.src
       |      UNION ALL SELECT vec_id, canon FROM bdup),
       |keepattz AS (SELECT a.src, a.dst, a.cos, a.rn FROM atthdi a
       |      WHERE a.src NOT IN (SELECT vec_id FROM refrz)),
       |att0z AS (SELECT r.vec_id AS src, r.canon AS dst, CAST(0 AS BIGINT) AS rn FROM refrz r
       |      UNION ALL SELECT r.vec_id, m.dst, m.rn FROM refrz r
       |      JOIN (SELECT src, dst, rn FROM outz0) m ON m.src = r.canon),
       |attz AS (SELECT a.src, a.dst, round($duckCosPair, 6) AS cos, a.rn FROM att0z a
       |      JOIN e x ON x.vec_id = a.src JOIN e y ON y.vec_id = a.dst)
       |SELECT layer, src, dst, cos, rn, false AS is_attach FROM ($union)
       |UNION ALL SELECT CAST(0 AS BIGINT) AS layer, src, dst, cos, rn, true AS is_attach FROM keepattz
       |UNION ALL SELECT CAST(0 AS BIGINT) AS layer, src, dst, cos, rn, true AS is_attach FROM attz""".stripMargin
  }

  /** The layered deduped census as one DuckDB statement — shared by
    * `ann_hnsw_conn_deduped` and its written-generation twin
    * (read-equivalence).
    */
  private lazy val duckHnswConnDedupedSql: String = {
    val steps = (1 to GraphConnRounds).map { r =>
      s"""cchd$r AS MATERIALIZED (SELECT DISTINCT node FROM (
         |  SELECT node FROM cchd${r - 1} UNION ALL
         |  SELECT u.dst AS node FROM cchd${r - 1} s JOIN gundhd u ON u.src = s.node))""".stripMargin
    }.mkString(",\n")
    val rows = (0 to GraphConnRounds).map(r =>
      s"SELECT CAST($r AS BIGINT) AS round, " +
        s"(SELECT CAST(count(*) AS BIGINT) FROM cchd$r) AS n_reached")
      .mkString("\nUNION ALL ")
    s"""WITH $duckE,
       |$duckLevels,
       |$duckHnswDedupedBuild,
       |gundhd AS MATERIALIZED (SELECT src, dst FROM hnsw_dedup_edges
       |       UNION SELECT dst, src FROM hnsw_dedup_edges),
       |fbhd AS (SELECT greatest(8, CAST(floor(sqrt(count(*))) AS BIGINT)) AS t FROM e),
       |cchd0 AS MATERIALIZED (SELECT vec_id AS node FROM e, fbhd WHERE vec_id < fbhd.t),
       |$steps,
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM e)
       |SELECT r.round, r.n_reached, n.n_total,
       | r.n_reached * 1000000 // greatest(n.n_total, 1) AS reach_micros
       |FROM ($rows) r, n""".stripMargin
  }

  /** The deduped layered descent ([[hnswSearchDeduped]]) as one DuckDB
    * statement — [[duckHnswSearchCtes]]'s walk with the survivor stack
    * as the per-layer adjacency, the layer-0 adjacency including the
    * attach edges, and entry at the top SURVIVOR level.
    */
  private def duckHnswDedupedWalkSql: String = {
    val gu = (0 to OracleMaxLayer).map { l =>
      val src = if (l == 0)
        s"(SELECT src, dst FROM hnsw_dedup_edges WHERE layer = 0)"
      else s"topkhd$l"
      s"""tkhd${l}u AS MATERIALIZED (SELECT src, dst FROM $src),
         |guhd$l AS MATERIALIZED (SELECT src, dst FROM tkhd${l}u UNION SELECT dst, src FROM tkhd${l}u)""".stripMargin
    }.mkString(",\n")
    val steps = (OracleMaxLayer to 1 by -1).flatMap(l => Seq.fill(HnswDescentRounds)((l, 1))) ++
      Seq.fill(GraphSearchRounds)((0, GraphSearchBeam))
    val roundCtes = steps.zipWithIndex.map { case ((l, cut), i) =>
      s"""hsd${i + 1} AS MATERIALIZED (SELECT q_id, node, score FROM (
         |  SELECT q_id, node, score, row_number() OVER (PARTITION BY q_id
         |          ORDER BY score DESC, node) AS rn
         |  FROM (SELECT DISTINCT q_id, node, score FROM (
         |    SELECT q_id, node, score FROM hsd$i
         |    UNION ALL
         |    SELECT s.q_id, u.dst AS node, round($duckCosQ, 6) AS score
         |    FROM hsd$i s JOIN guhd$l u ON u.src = s.node
         |         JOIN e x ON x.vec_id = u.dst JOIN qs q ON q.q_id = s.q_id
         |    WHERE u.dst != s.q_id))
         | ) WHERE rn <= $cut)""".stripMargin
    }.mkString(",\n")
    s"""WITH $duckE,
       |$duckLevels,
       |$duckHnswDedupedBuild,
       |$gu,
       |qs AS MATERIALIZED (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 25 = 7
       |       ORDER BY vec_id LIMIT $GraphSearchQueryCount),
       |mxd AS (SELECT max(lv.level) AS ml FROM lv JOIN c2d ON lv.vec_id = c2d.vec_id),
       |hsd0 AS MATERIALIZED (SELECT q_id, node, score FROM (
       |  SELECT q_id, node, score, row_number() OVER (PARTITION BY q_id
       |          ORDER BY score DESC, node) AS rn
       |  FROM (SELECT q.q_id, x.vec_id AS node, round($duckCosQ, 6) AS score
       |        FROM c2d x JOIN lv ON x.vec_id = lv.vec_id JOIN mxd ON lv.level = mxd.ml
       |             JOIN qs q ON x.vec_id != q.q_id)) WHERE rn <= 1),
       |$roundCtes,
       |hdfin AS MATERIALIZED (SELECT q_id, CAST(rn AS BIGINT) AS rn, node AS vec_id, score FROM (
       |  SELECT q_id, node, score, row_number() OVER (PARTITION BY q_id
       |          ORDER BY score DESC, node) AS rn FROM hsd${steps.size})
       | WHERE rn <= $GraphSearchK)
       |SELECT q_id, rn, vec_id, score FROM hdfin""".stripMargin
  }

  /** The FILTERED dual-state walk over the DEDUP-GATED flat build as
    * one DuckDB statement ([[graphSearchFilteredDeduped]] and, by
    * read-equivalence, its written-generation split): the deduped build
    * prelude feeding [[duckFilteredWalkCtes]]'s dual-state rounds.
    */
  private lazy val duckFilteredDedupedSql: String =
    s"""WITH $duckE,
       |$duckDedupedBuild,
       |gund AS MATERIALIZED (SELECT src, dst FROM dedup_edges
       |       UNION SELECT dst, src FROM dedup_edges),
       |c AS MATERIALIZED (SELECT vec_id AS cid, v FROM e WHERE vec_id <
       |        greatest(8, CAST(floor(sqrt((SELECT count(*) FROM e))) AS BIGINT))),
       |qs AS MATERIALIZED (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 25 = 7
       |       ORDER BY vec_id LIMIT $GraphSearchQueryCount),
       |${duckFilteredWalkCtes("", "label", GraphSearchFilterMod, GraphSearchFilterRes)}
       |SELECT q_id, rn, vec_id, score FROM finf""".stripMargin

  /** The FILTERED layered descent over the DEDUP-GATED hierarchy as
    * one DuckDB statement ([[hnswSearchFilteredDeduped]]):
    * [[duckHnswDedupedWalkSql]]'s build + survivor-entry + unfiltered
    * descent chain, then [[duckFilteredWalkCtes]]'s dual-state base
    * rounds (navigation beam at the adaptive ef, filter-passing
    * accumulator at k) over the attach-augmented base layer, seeded by
    * the descent's arrival node where it passes.
    */
  private def duckHnswFilteredDedupedSql: String = {
    val fMod = GraphSearchFilterMod
    val fRes = GraphSearchFilterRes
    val pass = s"(x.label % $fMod = $fRes)"
    val gu = (0 to OracleMaxLayer).map { l =>
      val src = if (l == 0)
        s"(SELECT src, dst FROM hnsw_dedup_edges WHERE layer = 0)"
      else s"topkhd$l"
      s"""tkhd${l}u AS MATERIALIZED (SELECT src, dst FROM $src),
         |guhd$l AS MATERIALIZED (SELECT src, dst FROM tkhd${l}u UNION SELECT dst, src FROM tkhd${l}u)""".stripMargin
    }.mkString(",\n")
    val descentSteps = (OracleMaxLayer to 1 by -1).flatMap(l => Seq.fill(HnswDescentRounds)(l))
    val descent = descentSteps.zipWithIndex.map { case (l, i) =>
      s"""hfd${i + 1} AS MATERIALIZED (SELECT q_id, node, score FROM (
         |  SELECT q_id, node, score, row_number() OVER (PARTITION BY q_id
         |          ORDER BY score DESC, node) AS rn
         |  FROM (SELECT DISTINCT q_id, node, score FROM (
         |    SELECT q_id, node, score FROM hfd$i
         |    UNION ALL
         |    SELECT s.q_id, u.dst AS node, round($duckCosQ, 6) AS score
         |    FROM hfd$i s JOIN guhd$l u ON u.src = s.node
         |         JOIN e x ON x.vec_id = u.dst JOIN qs q ON q.q_id = s.q_id
         |    WHERE u.dst != s.q_id))
         | ) WHERE rn <= 1)""".stripMargin
    }.mkString(",\n")
    val d = descentSteps.size
    val ef = "(SELECT ef FROM efchd)"
    val baseRounds = (1 to GraphSearchRounds).map { r =>
      s"""scbd$r AS MATERIALIZED (
         |  SELECT s.q_id, u.dst AS node, round($duckCosQ, 6) AS score, $pass AS pass
         |  FROM sthd_${r - 1} s JOIN guhd0 u ON u.src = s.node
         |       JOIN e x ON x.vec_id = u.dst JOIN qs q ON q.q_id = s.q_id
         |  WHERE u.dst != s.q_id),
         |sthd_$r AS MATERIALIZED (SELECT q_id, node, score FROM (
         |  SELECT q_id, node, score, row_number() OVER (PARTITION BY q_id
         |          ORDER BY score DESC, node) AS rn
         |  FROM (SELECT DISTINCT q_id, node, score FROM (
         |    SELECT q_id, node, score FROM sthd_${r - 1}
         |    UNION ALL
         |    SELECT q_id, node, score FROM scbd$r))
         | ) WHERE rn <= $ef),
         |resd_$r AS MATERIALIZED (SELECT q_id, node, score FROM (
         |  SELECT q_id, node, score, row_number() OVER (PARTITION BY q_id
         |          ORDER BY score DESC, node) AS rn
         |  FROM (SELECT DISTINCT q_id, node, score FROM (
         |    SELECT q_id, node, score FROM resd_${r - 1}
         |    UNION ALL
         |    SELECT q_id, node, score FROM scbd$r WHERE pass))
         | ) WHERE rn <= $GraphSearchK)""".stripMargin
    }.mkString(",\n")
    s"""WITH $duckE,
       |$duckLevels,
       |$duckHnswDedupedBuild,
       |$gu,
       |qs AS MATERIALIZED (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 25 = 7
       |       ORDER BY vec_id LIMIT $GraphSearchQueryCount),
       |mxd AS (SELECT max(lv.level) AS ml FROM lv JOIN c2d ON lv.vec_id = c2d.vec_id),
       |hfd0 AS MATERIALIZED (SELECT q_id, node, score FROM (
       |  SELECT q_id, node, score, row_number() OVER (PARTITION BY q_id
       |          ORDER BY score DESC, node) AS rn
       |  FROM (SELECT q.q_id, x.vec_id AS node, round($duckCosQ, 6) AS score
       |        FROM c2d x JOIN lv ON x.vec_id = lv.vec_id JOIN mxd ON lv.level = mxd.ml
       |             JOIN qs q ON x.vec_id != q.q_id)) WHERE rn <= 1),
       |$descent,
       |efchd AS MATERIALIZED (SELECT least($GraphSearchEfMax, greatest($GraphSearchBeam,
       |  $GraphSearchBeam * (SELECT count(*) FROM e)
       |    // ($GraphSearchFilterMod * greatest((SELECT count(*) FROM e x WHERE $pass), 1)))) AS ef),
       |sthd_0 AS MATERIALIZED (SELECT q_id, node, score FROM hfd$d),
       |resd_0 AS MATERIALIZED (SELECT s.q_id, s.node, s.score FROM hfd$d s
       |  JOIN e x ON x.vec_id = s.node WHERE $pass),
       |$baseRounds,
       |hfdfin AS (SELECT q_id, CAST(rn AS BIGINT) AS rn, node AS vec_id, score FROM (
       |  SELECT q_id, node, score, row_number() OVER (PARTITION BY q_id
       |          ORDER BY score DESC, node) AS rn FROM resd_$GraphSearchRounds)
       | WHERE rn <= $GraphSearchK)
       |SELECT q_id, rn, vec_id, score FROM hfdfin""".stripMargin
  }

  /** The incremental insert as DuckDB CTEs — the exact twin of
    * [[nswGraphInsert]]: stored-slice build (suffix `i`), batch
    * assignment to the stored centroids, new-side-only candidate
    * pairs, touched-src re-rank, untouched pass-through. Heavy CTEs
    * are MATERIALIZED (referenced more than once; DuckDB inlines CTEs
    * by default, which would re-expand the whole stored build per
    * reference).
    */
  private def duckGraphInsertSql: String =
    s"""WITH $duckE,
       |spl AS MATERIALIZED (SELECT count(*) * $InsertSplitNum // $InsertSplitDen AS v FROM e),
       |es AS MATERIALIZED (SELECT vec_id, v FROM e WHERE vec_id < (SELECT v FROM spl)),
       |${duckNswTopkOver("es", "i")},
       |topkim AS MATERIALIZED (SELECT * FROM topki),
       |bat AS MATERIALIZED (SELECT vec_id, v FROM e WHERE vec_id >= (SELECT v FROM spl)),
       |bsc AS (SELECT x.vec_id, y.cid, round($duckCosPair, 6) AS cscore
       |        FROM bat x JOIN (SELECT cid, v FROM ci) y ON true),
       |basg AS (SELECT vec_id, cid FROM (
       |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |          ORDER BY cscore DESC, cid) AS rn FROM bsc) WHERE rn <= 3),
       |bcell AS MATERIALIZED (SELECT b.vec_id, a.cid FROM bat b JOIN basg a ON b.vec_id = a.vec_id),
       |acell AS (SELECT vec_id, cid FROM mi UNION ALL SELECT vec_id, cid FROM bcell),
       |np AS (SELECT DISTINCT x.vec_id AS src, y.vec_id AS dst
       |       FROM bcell x JOIN acell y ON x.cid = y.cid AND x.vec_id != y.vec_id),
       |npc AS MATERIALIZED (SELECT src, dst, round($duckCosPair, 6) AS cos
       |       FROM np JOIN e x ON x.vec_id = src JOIN e y ON y.vec_id = dst),
       |undp AS MATERIALIZED (SELECT src, dst, cos FROM npc
       |        UNION ALL SELECT dst, src, cos FROM npc),
       |tsrc AS MATERIALIZED (SELECT DISTINCT src FROM undp),
       |told AS (SELECT t.src, t.dst, t.cos FROM topkim t JOIN tsrc ON t.src = tsrc.src),
       |rer AS (SELECT src, dst, cos, CAST(rn AS BIGINT) AS rn FROM (
       |  SELECT src, dst, cos, row_number() OVER (PARTITION BY src
       |          ORDER BY cos DESC, dst) AS rn
       |  FROM (SELECT DISTINCT src, dst, cos FROM (
       |    SELECT * FROM told UNION ALL SELECT * FROM undp))) WHERE rn <= 4),
       |mg AS MATERIALIZED (
       |  SELECT t.src, t.dst, t.cos FROM topkim t
       |  WHERE t.src NOT IN (SELECT src FROM tsrc)
       |  UNION ALL SELECT src, dst, cos FROM rer),
       |undm AS (SELECT src, dst FROM mg UNION SELECT dst, src FROM mg),
       |h2 AS (SELECT DISTINCT a.src AS src, b.dst AS dst
       |       FROM undm a JOIN undm b ON a.dst = b.src
       |       WHERE a.src != b.dst AND a.src IN (SELECT src FROM tsrc)),
       |h2c AS (SELECT src, dst, round($duckCosPair, 6) AS cos
       |        FROM h2 JOIN e x ON x.vec_id = src JOIN e y ON y.vec_id = dst),
       |tch AS (SELECT m.src, m.dst, m.cos FROM mg m JOIN tsrc ON m.src = tsrc.src),
       |rep AS (SELECT src, dst, cos, CAST(rn AS BIGINT) AS rn FROM (
       |  SELECT src, dst, cos, row_number() OVER (PARTITION BY src
       |          ORDER BY cos DESC, dst) AS rn
       |  FROM (SELECT DISTINCT src, dst, cos FROM (
       |    SELECT * FROM tch UNION ALL SELECT * FROM h2c))) WHERE rn <= 4)
       |SELECT t.src, t.dst, t.cos, t.rn FROM topkim t
       |WHERE t.src NOT IN (SELECT src FROM tsrc)
       |UNION ALL SELECT src, dst, cos, rn FROM rep""".stripMargin

  /** One shard of the shard-and-merge NSW build as DuckDB CTEs ending
    * in `r1s$t`: shard-t seeds (first √n_t member ids via the residue
    * threshold), HOME members' top-3 cells, FOREIGN nodes' top-1 probe
    * cell, blocked candidate pairs, per-src round-1 top-k — the exact
    * cross-engine twin of one iteration of [[nswGraphSharded]]'s shard
    * loop at S = [[ShardedOracleShards]].
    */
  private def duckShard(t: Int, s: Int): String =
    s"""nl$t AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS nl FROM e WHERE vec_id % $s = $t),
       |c$t AS MATERIALIZED (SELECT vec_id AS cid, v FROM e, nl$t WHERE vec_id % $s = $t
       |        AND vec_id < $s * greatest(8, CAST(floor(sqrt(nl)) AS BIGINT))),
       |sch$t AS (SELECT x.vec_id, y.cid, round($duckCosPair, 6) AS cscore
       |       FROM e x JOIN (SELECT cid, v FROM c$t) y ON true WHERE x.vec_id % $s = $t),
       |asgh$t AS (SELECT vec_id, cid FROM (
       |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |          ORDER BY cscore DESC, cid) AS rn FROM sch$t) WHERE rn <= 3),
       |scf$t AS (SELECT x.vec_id, y.cid, round($duckCosPair, 6) AS cscore
       |       FROM e x JOIN (SELECT cid, v FROM c$t) y ON true WHERE x.vec_id % $s != $t),
       |asgf$t AS (SELECT vec_id, cid FROM (
       |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |          ORDER BY cscore DESC, cid) AS rn FROM scf$t) WHERE rn <= 1),
       |asg$t AS (SELECT vec_id, cid FROM asgh$t UNION ALL SELECT vec_id, cid FROM asgf$t),
       |mm$t AS MATERIALIZED (SELECT e.vec_id, a.cid, e.v FROM e JOIN asg$t a ON e.vec_id = a.vec_id),
       |cnd$t AS (SELECT DISTINCT x.vec_id AS src, y.vec_id AS dst
       |          FROM mm$t x JOIN mm$t y ON x.cid = y.cid AND x.vec_id != y.vec_id),
       |cs$t AS (SELECT src, dst, round($duckCosPair, 6) AS cos
       |         FROM cnd$t JOIN e x ON x.vec_id = src JOIN e y ON y.vec_id = dst),
       |r1s$t AS MATERIALIZED (SELECT src, dst, cos FROM (SELECT src, dst, cos, row_number() OVER (
       |         PARTITION BY src ORDER BY cos DESC, dst) AS rn FROM cs$t) WHERE rn <= 4)""".stripMargin

  /** Shard count the `ann_graph_sharded` keyed query (and its generated
    * oracle) both run at — the verify-scale exercise of the past-budget
    * retune path.
    */
  val ShardedOracleShards: Int = 2

  private def duckShardedSql: String = {
    val s = ShardedOracleShards
    s"""WITH $duckE,
       |${(0 until s).map(duckShard(_, s)).mkString(",\n")},
       |r1p AS MATERIALIZED (SELECT src, dst, cos FROM (SELECT src, dst, cos, row_number() OVER (
       |        PARTITION BY src ORDER BY cos DESC, dst) AS rn FROM (
       |   SELECT DISTINCT src, dst, cos FROM (
       |     ${(0 until s).map(t => s"SELECT src, dst, cos FROM r1s$t").mkString(" UNION ALL ")})
       |  )) WHERE rn <= 4),
       |und AS MATERIALIZED (SELECT src, dst FROM r1p UNION SELECT dst, src FROM r1p),
       |hop2 AS (SELECT DISTINCT a.src AS src, b.dst AS dst
       |         FROM und a JOIN und b ON a.dst = b.src WHERE a.src != b.dst),
       |hcs AS (SELECT src, dst, round($duckCosPair, 6) AS cos
       |        FROM hop2 JOIN e x ON x.vec_id = src JOIN e y ON y.vec_id = dst),
       |edges AS MATERIALIZED (SELECT src, dst, cos, CAST(rn AS BIGINT) AS rn FROM (
       |  SELECT src, dst, cos, row_number() OVER (PARTITION BY src
       |          ORDER BY cos DESC, dst) AS rn FROM (
       |    SELECT DISTINCT src, dst, cos FROM (
       |      SELECT src, dst, cos FROM r1p UNION ALL SELECT src, dst, cos FROM hcs))
       |  ) WHERE rn <= 4)
       |SELECT t.src, t.dst, t.cos, t.rn, (r.src IS NOT NULL) AS mutual
       |FROM edges t LEFT JOIN edges r ON t.src = r.dst AND t.dst = r.src""".stripMargin
  }

  /** Query-vs-node cosine for the graph-search oracle (aliases: `x` =
    * the node row from `e`, `q` = the query row from `qs`).
    */
  private val duckCosQ =
    """list_sum(list_transform(range(1,65), i -> x.v[i] * q.qv[i]))
      | / (sqrt(list_sum(list_transform(range(1,65), i -> x.v[i] * x.v[i])))
      |    * sqrt(list_sum(list_transform(range(1,65), i -> q.qv[i] * q.qv[i]))))""".stripMargin

  /** The batch graph search as a DuckDB CTE chain ending in `fin`
    * (q_id, rn, vec_id, score) — [[duckNswTopk]]'s graph, then the
    * [[GraphSearchRounds]] synchronized beam-expansion rounds UNROLLED
    * one CTE per round (the bpe_merge_steps oracle technique: a bounded
    * iterative algorithm becomes a chained-CTE pipeline), exactly
    * mirroring [[graphSearch]]'s per-round
    * state ∪ rescored-neighbors → distinct → top-beam.
    */
  private[operators] def duckGraphSearchCtes: String = {
    val rounds = (1 to GraphSearchRounds).map { r =>
      s"""st$r AS MATERIALIZED (SELECT q_id, node, score FROM (
         |  SELECT q_id, node, score, row_number() OVER (PARTITION BY q_id
         |          ORDER BY score DESC, node) AS rn
         |  FROM (SELECT DISTINCT q_id, node, score FROM (
         |    SELECT q_id, node, score FROM st${r - 1}
         |    UNION ALL
         |    SELECT s.q_id, u.dst AS node, round($duckCosQ, 6) AS score
         |    FROM st${r - 1} s JOIN gund u ON u.src = s.node
         |         JOIN e x ON x.vec_id = u.dst JOIN qs q ON q.q_id = s.q_id
         |    WHERE u.dst != s.q_id))
         | ) WHERE rn <= $GraphSearchBeam)""".stripMargin
    }.mkString(",\n")
    s"""$duckNswTopk,
       |gund AS MATERIALIZED (SELECT src, dst FROM topk UNION SELECT dst, src FROM topk),
       |qs AS MATERIALIZED (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 25 = 7
       |       ORDER BY vec_id LIMIT $GraphSearchQueryCount),
       |st0 AS MATERIALIZED (SELECT q_id, node, score FROM (
       |  SELECT q_id, node, score, row_number() OVER (PARTITION BY q_id
       |          ORDER BY score DESC, node) AS rn
       |  FROM (SELECT q.q_id, x.cid AS node, round($duckCosQ, 6) AS score
       |        FROM c x JOIN qs q ON x.cid != q.q_id)) WHERE rn <= 1),
       |$rounds,
       |fin AS MATERIALIZED (SELECT q_id, CAST(rn AS BIGINT) AS rn, node AS vec_id, score FROM (
       |  SELECT q_id, node, score, row_number() OVER (PARTITION BY q_id
       |          ORDER BY score DESC, node) AS rn FROM st$GraphSearchRounds)
       | WHERE rn <= $GraphSearchK)""".stripMargin
  }

  /** Shared prelude of the filtered-walk oracles: graph, undirected
    * adjacency, query batch (referenced by every per-selectivity walk).
    */
  private def duckFilteredPrelude: String =
    s"""$duckNswTopk,
       |gund AS MATERIALIZED (SELECT src, dst FROM topk UNION SELECT dst, src FROM topk),
       |qs AS MATERIALIZED (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 25 = 7
       |       ORDER BY vec_id LIMIT $GraphSearchQueryCount)""".stripMargin

  /** One FILTERED batch graph-search walk as a DuckDB CTE chain ending
    * in `finf$x` (q_id, rn, vec_id, score) — [[duckGraphSearchCtes]]'s
    * walk with each round's scored candidates MATERIALIZED once
    * (`scf${x}_r`) and read twice: by the beam cut (`stf${x}_r`, width =
    * the ADAPTIVE ef computed by the `efc$x` scalar CTE — the exact
    * integer twin of [[adaptiveEf]]) and by the filter-passing result
    * accumulator (`resf${x}_r`), exactly mirroring
    * [[graphSearchFilteredWalk]]'s two coupled per-query states.
    * `attr` is the filtered column (label for the keyed metadata
    * filter, vec_id for the selectivity curve).
    */
  private def duckFilteredWalkCtes(x: String, attr: String, fMod: Long, fRes: Long): String = {
    val pass = s"(x.$attr % $fMod = $fRes)"
    val ef = s"(SELECT ef FROM efc$x)"
    val rounds = (1 to GraphSearchRounds).map { r =>
      s"""scf${x}_$r AS MATERIALIZED (
         |  SELECT s.q_id, u.dst AS node, round($duckCosQ, 6) AS score, $pass AS pass
         |  FROM stf${x}_${r - 1} s JOIN gund u ON u.src = s.node
         |       JOIN e x ON x.vec_id = u.dst JOIN qs q ON q.q_id = s.q_id
         |  WHERE u.dst != s.q_id),
         |stf${x}_$r AS MATERIALIZED (SELECT q_id, node, score FROM (
         |  SELECT q_id, node, score, row_number() OVER (PARTITION BY q_id
         |          ORDER BY score DESC, node) AS rn
         |  FROM (SELECT DISTINCT q_id, node, score FROM (
         |    SELECT q_id, node, score FROM stf${x}_${r - 1}
         |    UNION ALL
         |    SELECT q_id, node, score FROM scf${x}_$r))
         | ) WHERE rn <= $ef),
         |resf${x}_$r AS MATERIALIZED (SELECT q_id, node, score FROM (
         |  SELECT q_id, node, score, row_number() OVER (PARTITION BY q_id
         |          ORDER BY score DESC, node) AS rn
         |  FROM (SELECT DISTINCT q_id, node, score FROM (
         |    SELECT q_id, node, score FROM resf${x}_${r - 1}
         |    UNION ALL
         |    SELECT q_id, node, score FROM scf${x}_$r WHERE pass))
         | ) WHERE rn <= $GraphSearchK)""".stripMargin
    }.mkString(",\n")
    s"""efc$x AS MATERIALIZED (SELECT least($GraphSearchEfMax, greatest($GraphSearchBeam,
       |  $GraphSearchBeam * (SELECT count(*) FROM e)
       |    // ($GraphSearchFilterMod * greatest((SELECT count(*) FROM e x WHERE $pass), 1)))) AS ef),
       |entf$x AS MATERIALIZED (
       |  SELECT q.q_id, x.vec_id AS node, round($duckCosQ, 6) AS score, $pass AS pass
       |  FROM c cc JOIN e x ON x.vec_id = cc.cid
       |       JOIN qs q ON x.vec_id != q.q_id),
       |stf${x}_0 AS MATERIALIZED (SELECT q_id, node, score FROM (
       |  SELECT q_id, node, score, row_number() OVER (PARTITION BY q_id
       |          ORDER BY score DESC, node) AS rn FROM entf$x) WHERE rn <= 1),
       |resf${x}_0 AS MATERIALIZED (SELECT q_id, node, score FROM (
       |  SELECT q_id, node, score, row_number() OVER (PARTITION BY q_id
       |          ORDER BY score DESC, node) AS rn FROM entf$x WHERE pass)
       | WHERE rn <= $GraphSearchK),
       |$rounds,
       |finf$x AS (SELECT q_id, CAST(rn AS BIGINT) AS rn, node AS vec_id, score FROM (
       |  SELECT q_id, node, score, row_number() OVER (PARTITION BY q_id
       |          ORDER BY score DESC, node) AS rn FROM resf${x}_$GraphSearchRounds)
       | WHERE rn <= $GraphSearchK)""".stripMargin
  }

  /** One selectivity point of the filtered-recall CURVE oracle: the
    * exact filtered top-k (`exf$x`) and the aggregate row (`row$x`).
    */
  private def duckFilteredRecallRow(x: String, fMod: Long, fRes: Long): String =
    s"""exf$x AS (SELECT q_id, vec_id FROM (
       |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
       |          ORDER BY score DESC, vec_id) AS rn
       |  FROM (SELECT q.q_id, x.vec_id, round($duckCosQ, 6) AS score
       |        FROM e x JOIN qs q ON x.vec_id != q.q_id
       |        WHERE x.vec_id % $fMod = $fRes))
       | WHERE rn <= $GraphSearchK),
       |row$x AS (SELECT CAST($fMod AS BIGINT) AS f_mod,
       |  (SELECT CAST(ef AS BIGINT) FROM efc$x) AS ef,
       |  CAST($GraphSearchK AS BIGINT) AS k,
       |  (SELECT CAST(count(*) AS BIGINT) FROM qs) AS n_queries,
       |  CAST(count(*) AS BIGINT) AS n_overlap,
       |  CAST(count(*) AS BIGINT) * 1000000
       |    // greatest($GraphSearchK * (SELECT count(*) FROM qs), 1) AS recall_micros
       |FROM finf$x f JOIN exf$x ex ON ex.q_id = f.q_id AND ex.vec_id = f.vec_id)""".stripMargin

  /** Int8-code-vs-query score for the quantized search oracle
    * (aliases: `x` = a row of `e8`, `q` = a row of `qs8`): EXACT
    * integer dot over the int8 codes, then the double normalize+round.
    */
  private val duckCosQ8 =
    """CAST(list_sum(list_transform(range(1,65), i -> x.qv[i] * q.qqv[i])) AS DOUBLE)
      | / (x.n8 * q.qn8)""".stripMargin

  /** The int8-index graph search as a DuckDB CTE chain ending in
    * `fin8` (q_id, rn, vec_id, score): [[duckNswTopk]]'s FLOAT-built
    * graph, the int8 quantization of every vector (`e8` — the exact
    * twin of fvec_quantize: q_i = round(v_i / max|v| * 127)), then
    * [[graphSearchInt8]]'s beam rounds unrolled with the quantized
    * score.
    */
  private def duckGraphSearchInt8Ctes: String = {
    val rounds = (1 to GraphSearchRounds).map { r =>
      s"""s8$r AS MATERIALIZED (SELECT q_id, node, score FROM (
         |  SELECT q_id, node, score, row_number() OVER (PARTITION BY q_id
         |          ORDER BY score DESC, node) AS rn
         |  FROM (SELECT DISTINCT q_id, node, score FROM (
         |    SELECT q_id, node, score FROM s8${r - 1}
         |    UNION ALL
         |    SELECT s.q_id, u.dst AS node, round($duckCosQ8, 6) AS score
         |    FROM s8${r - 1} s JOIN gund u ON u.src = s.node
         |         JOIN e8 x ON x.vec_id = u.dst JOIN qs8 q ON q.q_id = s.q_id
         |    WHERE u.dst != s.q_id))
         | ) WHERE rn <= $GraphSearchBeam)""".stripMargin
    }.mkString(",\n")
    s"""$duckNswTopk,
       |gund AS MATERIALIZED (SELECT src, dst FROM topk UNION SELECT dst, src FROM topk),
       |e8 AS MATERIALIZED (SELECT vec_id, qv,
       |  sqrt(CAST(list_sum(list_transform(range(1,65), i -> qv[i] * qv[i])) AS DOUBLE)) AS n8
       | FROM (SELECT vec_id,
       |   CASE WHEN scale = CAST(0 AS DOUBLE) THEN list_transform(v, x -> CAST(0 AS BIGINT))
       |   ELSE list_transform(v, x -> CAST(round(x / scale * CAST(127 AS DOUBLE)) AS BIGINT)) END AS qv
       |  FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS scale FROM e))),
       |qs8 AS MATERIALIZED (SELECT vec_id AS q_id, qv AS qqv, n8 AS qn8 FROM e8
       |       WHERE vec_id % 25 = 7 ORDER BY vec_id LIMIT $GraphSearchQueryCount),
       |s80 AS MATERIALIZED (SELECT q_id, node, score FROM (
       |  SELECT q_id, node, score, row_number() OVER (PARTITION BY q_id
       |          ORDER BY score DESC, node) AS rn
       |  FROM (SELECT q.q_id, x.vec_id AS node, round($duckCosQ8, 6) AS score
       |        FROM e8 x JOIN qs8 q ON x.vec_id != q.q_id
       |        WHERE x.vec_id < (SELECT greatest(8,
       |          CAST(floor(sqrt(count(*))) AS BIGINT)) FROM e))) WHERE rn <= 1),
       |$rounds,
       |fin8 AS (SELECT q_id, CAST(rn AS BIGINT) AS rn, node AS vec_id, score FROM (
       |  SELECT q_id, node, score, row_number() OVER (PARTITION BY q_id
       |          ORDER BY score DESC, node) AS rn FROM s8$GraphSearchRounds)
       | WHERE rn <= $GraphSearchK)""".stripMargin
  }

  /** The quantized walk over the DEDUP-GATED adjacency as one DuckDB
    * statement ([[graphSearchInt8Deduped]]): [[duckGraphSearchInt8Ctes]]
    * with the plain topk chain swapped for the deduped build — same
    * quantization, same entry threshold, same integer-exact score.
    */
  private def duckGraphSearchInt8DedupedSql: String = {
    val rounds = (1 to GraphSearchRounds).map { r =>
      s"""s8d$r AS MATERIALIZED (SELECT q_id, node, score FROM (
         |  SELECT q_id, node, score, row_number() OVER (PARTITION BY q_id
         |          ORDER BY score DESC, node) AS rn
         |  FROM (SELECT DISTINCT q_id, node, score FROM (
         |    SELECT q_id, node, score FROM s8d${r - 1}
         |    UNION ALL
         |    SELECT s.q_id, u.dst AS node, round($duckCosQ8, 6) AS score
         |    FROM s8d${r - 1} s JOIN gundd u ON u.src = s.node
         |         JOIN e8 x ON x.vec_id = u.dst JOIN qs8 q ON q.q_id = s.q_id
         |    WHERE u.dst != s.q_id))
         | ) WHERE rn <= $GraphSearchBeam)""".stripMargin
    }.mkString(",\n")
    s"""WITH $duckE,
       |$duckDedupedBuild,
       |gundd AS MATERIALIZED (SELECT src, dst FROM dedup_edges
       |       UNION SELECT dst, src FROM dedup_edges),
       |e8 AS MATERIALIZED (SELECT vec_id, qv,
       |  sqrt(CAST(list_sum(list_transform(range(1,65), i -> qv[i] * qv[i])) AS DOUBLE)) AS n8
       | FROM (SELECT vec_id,
       |   CASE WHEN scale = CAST(0 AS DOUBLE) THEN list_transform(v, x -> CAST(0 AS BIGINT))
       |   ELSE list_transform(v, x -> CAST(round(x / scale * CAST(127 AS DOUBLE)) AS BIGINT)) END AS qv
       |  FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS scale FROM e))),
       |qs8 AS MATERIALIZED (SELECT vec_id AS q_id, qv AS qqv, n8 AS qn8 FROM e8
       |       WHERE vec_id % 25 = 7 ORDER BY vec_id LIMIT $GraphSearchQueryCount),
       |s8d0 AS MATERIALIZED (SELECT q_id, node, score FROM (
       |  SELECT q_id, node, score, row_number() OVER (PARTITION BY q_id
       |          ORDER BY score DESC, node) AS rn
       |  FROM (SELECT q.q_id, x.vec_id AS node, round($duckCosQ8, 6) AS score
       |        FROM e8 x JOIN qs8 q ON x.vec_id != q.q_id
       |        WHERE x.vec_id < (SELECT greatest(8,
       |          CAST(floor(sqrt(count(*))) AS BIGINT)) FROM e))) WHERE rn <= 1),
       |$rounds,
       |fin8d AS (SELECT q_id, CAST(rn AS BIGINT) AS rn, node AS vec_id, score FROM (
       |  SELECT q_id, node, score, row_number() OVER (PARTITION BY q_id
       |          ORDER BY score DESC, node) AS rn FROM s8d$GraphSearchRounds)
       | WHERE rn <= $GraphSearchK)
       |SELECT q_id, rn, vec_id, score FROM fin8d""".stripMargin
  }

  /** The FILTERED quantized walk as a DuckDB CTE chain ending in
    * `fin8f`: [[duckGraphSearchInt8Ctes]]'s float-built graph +
    * quantization with the label carried, then
    * [[duckFilteredWalkCtes]]'s dual-state rounds under the
    * integer-exact int8 score — the exact twin of
    * [[graphSearchInt8Filtered]].
    */
  private def duckInt8FilteredCtes(fMod: Long, fRes: Long): String = {
    val pass = s"(x.label % $fMod = $fRes)"
    val ef = "(SELECT ef FROM efc8)"
    val rounds = (1 to GraphSearchRounds).map { r =>
      s"""sc8f_$r AS MATERIALIZED (
         |  SELECT s.q_id, u.dst AS node, round($duckCosQ8, 6) AS score, $pass AS pass
         |  FROM st8f_${r - 1} s JOIN gund u ON u.src = s.node
         |       JOIN e8 x ON x.vec_id = u.dst JOIN qs8 q ON q.q_id = s.q_id
         |  WHERE u.dst != s.q_id),
         |st8f_$r AS MATERIALIZED (SELECT q_id, node, score FROM (
         |  SELECT q_id, node, score, row_number() OVER (PARTITION BY q_id
         |          ORDER BY score DESC, node) AS rn
         |  FROM (SELECT DISTINCT q_id, node, score FROM (
         |    SELECT q_id, node, score FROM st8f_${r - 1}
         |    UNION ALL
         |    SELECT q_id, node, score FROM sc8f_$r))
         | ) WHERE rn <= $ef),
         |res8f_$r AS MATERIALIZED (SELECT q_id, node, score FROM (
         |  SELECT q_id, node, score, row_number() OVER (PARTITION BY q_id
         |          ORDER BY score DESC, node) AS rn
         |  FROM (SELECT DISTINCT q_id, node, score FROM (
         |    SELECT q_id, node, score FROM res8f_${r - 1}
         |    UNION ALL
         |    SELECT q_id, node, score FROM sc8f_$r WHERE pass))
         | ) WHERE rn <= $GraphSearchK)""".stripMargin
    }.mkString(",\n")
    s"""$duckNswTopk,
       |gund AS MATERIALIZED (SELECT src, dst FROM topk UNION SELECT dst, src FROM topk),
       |e8 AS MATERIALIZED (SELECT vec_id, label, qv,
       |  sqrt(CAST(list_sum(list_transform(range(1,65), i -> qv[i] * qv[i])) AS DOUBLE)) AS n8
       | FROM (SELECT vec_id, label,
       |   CASE WHEN scale = CAST(0 AS DOUBLE) THEN list_transform(v, x -> CAST(0 AS BIGINT))
       |   ELSE list_transform(v, x -> CAST(round(x / scale * CAST(127 AS DOUBLE)) AS BIGINT)) END AS qv
       |  FROM (SELECT vec_id, label, v, list_max(list_transform(v, x -> abs(x))) AS scale FROM e))),
       |qs8 AS MATERIALIZED (SELECT vec_id AS q_id, qv AS qqv, n8 AS qn8 FROM e8
       |       WHERE vec_id % 25 = 7 ORDER BY vec_id LIMIT $GraphSearchQueryCount),
       |efc8 AS MATERIALIZED (SELECT least($GraphSearchEfMax, greatest($GraphSearchBeam,
       |  $GraphSearchBeam * (SELECT count(*) FROM e)
       |    // ($GraphSearchFilterMod * greatest((SELECT count(*) FROM e8 x WHERE $pass), 1)))) AS ef),
       |ent8f AS MATERIALIZED (
       |  SELECT q.q_id, x.vec_id AS node, round($duckCosQ8, 6) AS score, $pass AS pass
       |  FROM e8 x JOIN qs8 q ON x.vec_id != q.q_id
       |  WHERE x.vec_id < (SELECT greatest(8,
       |    CAST(floor(sqrt(count(*))) AS BIGINT)) FROM e)),
       |st8f_0 AS MATERIALIZED (SELECT q_id, node, score FROM (
       |  SELECT q_id, node, score, row_number() OVER (PARTITION BY q_id
       |          ORDER BY score DESC, node) AS rn FROM ent8f) WHERE rn <= 1),
       |res8f_0 AS MATERIALIZED (SELECT q_id, node, score FROM (
       |  SELECT q_id, node, score, row_number() OVER (PARTITION BY q_id
       |          ORDER BY score DESC, node) AS rn FROM ent8f WHERE pass)
       | WHERE rn <= $GraphSearchK),
       |$rounds,
       |fin8f AS (SELECT q_id, CAST(rn AS BIGINT) AS rn, node AS vec_id, score FROM (
       |  SELECT q_id, node, score, row_number() OVER (PARTITION BY q_id
       |          ORDER BY score DESC, node) AS rn FROM res8f_$GraphSearchRounds)
       | WHERE rn <= $GraphSearchK)""".stripMargin
  }

  /** The layered HNSW search as a DuckDB CTE chain ending in `hfin`
    * (q_id, rn, vec_id, score) — [[duckHnswLayersSql]]'s full layered
    * build stack (0..[[OracleMaxLayer]]), per-layer undirected
    * adjacency, then [[hnswSearch]]'s
    * walk UNROLLED one MATERIALIZED CTE per round: entry at the top
    * non-empty layer, [[HnswDescentRounds]] greedy rounds per layer
    * [[OracleMaxLayer]]..1 (empty layers flow the state through unchanged — the
    * cross-engine twin of the driver skipping layers above Lmax), then
    * the [[GraphSearchRounds]] beam rounds in layer 0.
    */
  private def duckHnswSearchCtes: String = {
    val chains = (0 to OracleMaxLayer).map(duckHnswLayer).mkString(",\n")
    // tk$l materializes each layer build ONCE; gu$l's UNION would
    // otherwise inline (= re-evaluate) the whole topk$l chain twice —
    // measured 2x on the oracle's dominant layer-0 build
    val gu = (0 to OracleMaxLayer).map(l =>
      s"""tk$l AS MATERIALIZED (SELECT src, dst FROM topk$l),
         |gu$l AS MATERIALIZED (SELECT src, dst FROM tk$l UNION SELECT dst, src FROM tk$l)""".stripMargin)
      .mkString(",\n")
    val steps = (OracleMaxLayer to 1 by -1).flatMap(l => Seq.fill(HnswDescentRounds)((l, 1))) ++
      Seq.fill(GraphSearchRounds)((0, GraphSearchBeam))
    val roundCtes = steps.zipWithIndex.map { case ((l, cut), i) =>
      s"""hs${i + 1} AS MATERIALIZED (SELECT q_id, node, score FROM (
         |  SELECT q_id, node, score, row_number() OVER (PARTITION BY q_id
         |          ORDER BY score DESC, node) AS rn
         |  FROM (SELECT DISTINCT q_id, node, score FROM (
         |    SELECT q_id, node, score FROM hs$i
         |    UNION ALL
         |    SELECT s.q_id, u.dst AS node, round($duckCosQ, 6) AS score
         |    FROM hs$i s JOIN gu$l u ON u.src = s.node
         |         JOIN e x ON x.vec_id = u.dst JOIN qs q ON q.q_id = s.q_id
         |    WHERE u.dst != s.q_id))
         | ) WHERE rn <= $cut)""".stripMargin
    }.mkString(",\n")
    s"""$duckLevels,
       |$chains,
       |$gu,
       |qs AS MATERIALIZED (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 25 = 7
       |       ORDER BY vec_id LIMIT $GraphSearchQueryCount),
       |mx AS (SELECT max(level) AS ml FROM lv),
       |hs0 AS MATERIALIZED (SELECT q_id, node, score FROM (
       |  SELECT q_id, node, score, row_number() OVER (PARTITION BY q_id
       |          ORDER BY score DESC, node) AS rn
       |  FROM (SELECT q.q_id, x.vec_id AS node, round($duckCosQ, 6) AS score
       |        FROM e x JOIN lv ON x.vec_id = lv.vec_id JOIN mx ON lv.level = mx.ml
       |             JOIN qs q ON x.vec_id != q.q_id)) WHERE rn <= 1),
       |$roundCtes,
       |hfin AS MATERIALIZED (SELECT q_id, CAST(rn AS BIGINT) AS rn, node AS vec_id, score FROM (
       |  SELECT q_id, node, score, row_number() OVER (PARTITION BY q_id
       |          ORDER BY score DESC, node) AS rn FROM hs${steps.size})
       | WHERE rn <= $GraphSearchK)""".stripMargin
  }

  /** The FILTERED layered walk as a DuckDB CTE chain ending in `hffin`
    * (q_id, rn, vec_id, score): [[duckHnswSearchCtes]]'s layer builds +
    * unfiltered descent, then [[duckFilteredWalkCtes]]'s dual-state
    * base rounds (beam cut at the adaptive ef, filter-passing
    * accumulator at k) seeded by the descent's arrival node where it
    * passes — the exact twin of [[hnswSearchFiltered]].
    */
  /** Shared prelude of the filtered-layered oracles: levels, the full
    * per-layer builds, per-layer undirected adjacency, query batch and
    * top-level census — emitted ONCE per statement so a multi-walk
    * statement (the recall curve) shares the dominant layer-build
    * cost across its walks.
    */
  private def duckHnswFilteredPrelude: String = {
    val chains = (0 to OracleMaxLayer).map(duckHnswLayer).mkString(",\n")
    val gu = (0 to OracleMaxLayer).map(l =>
      s"""tk$l AS MATERIALIZED (SELECT src, dst FROM topk$l),
         |gu$l AS MATERIALIZED (SELECT src, dst FROM tk$l UNION SELECT dst, src FROM tk$l)""".stripMargin)
      .mkString(",\n")
    s"""$duckLevels,
       |$chains,
       |$gu,
       |qs AS MATERIALIZED (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 25 = 7
       |       ORDER BY vec_id LIMIT $GraphSearchQueryCount),
       |mx AS (SELECT max(level) AS ml FROM lv),
       |hs0 AS MATERIALIZED (SELECT q_id, node, score FROM (
       |  SELECT q_id, node, score, row_number() OVER (PARTITION BY q_id
       |          ORDER BY score DESC, node) AS rn
       |  FROM (SELECT q.q_id, x.vec_id AS node, round($duckCosQ, 6) AS score
       |        FROM e x JOIN lv ON x.vec_id = lv.vec_id JOIN mx ON lv.level = mx.ml
       |             JOIN qs q ON x.vec_id != q.q_id)) WHERE rn <= 1),
       |${duckHnswDescent("")}""".stripMargin
  }

  /** The unfiltered greedy descent rounds hs{x}1..hs{x}D off `hs0`
    * (shared by every walk in a statement — the descent is filter-
    * independent by design).
    */
  private def duckHnswDescent(x: String): String = {
    val descentSteps = (OracleMaxLayer to 1 by -1).flatMap(l => Seq.fill(HnswDescentRounds)(l))
    descentSteps.zipWithIndex.map { case (l, i) =>
      val prev = if (i == 0) "hs0" else s"hs$x${i}"
      s"""hs$x${i + 1} AS MATERIALIZED (SELECT q_id, node, score FROM (
         |  SELECT q_id, node, score, row_number() OVER (PARTITION BY q_id
         |          ORDER BY score DESC, node) AS rn
         |  FROM (SELECT DISTINCT q_id, node, score FROM (
         |    SELECT q_id, node, score FROM $prev
         |    UNION ALL
         |    SELECT s.q_id, u.dst AS node, round($duckCosQ, 6) AS score
         |    FROM $prev s JOIN gu$l u ON u.src = s.node
         |         JOIN e x ON x.vec_id = u.dst JOIN qs q ON q.q_id = s.q_id
         |    WHERE u.dst != s.q_id))
         | ) WHERE rn <= 1)""".stripMargin
    }.mkString(",\n")
  }

  /** One filtered BASE phase (suffix `x`) off the shared descent's
    * arrival state: adaptive-ef scalar, dual-state rounds, final cut
    * `hffin$x`. `attr` = label (keyed metadata filter) or vec_id (the
    * selectivity curve's axis).
    */
  private def duckHnswFilteredWalk(x: String, attr: String, fMod: Long, fRes: Long): String = {
    val pass = s"(x.$attr % $fMod = $fRes)"
    val ef = s"(SELECT ef FROM efch$x)"
    val d = (OracleMaxLayer - 1 + 1) * HnswDescentRounds
    val baseRounds = (1 to GraphSearchRounds).map { r =>
      s"""schf$x$r AS MATERIALIZED (
         |  SELECT s.q_id, u.dst AS node, round($duckCosQ, 6) AS score, $pass AS pass
         |  FROM sthf${x}_${r - 1} s JOIN gu0 u ON u.src = s.node
         |       JOIN e x ON x.vec_id = u.dst JOIN qs q ON q.q_id = s.q_id
         |  WHERE u.dst != s.q_id),
         |sthf${x}_$r AS MATERIALIZED (SELECT q_id, node, score FROM (
         |  SELECT q_id, node, score, row_number() OVER (PARTITION BY q_id
         |          ORDER BY score DESC, node) AS rn
         |  FROM (SELECT DISTINCT q_id, node, score FROM (
         |    SELECT q_id, node, score FROM sthf${x}_${r - 1}
         |    UNION ALL
         |    SELECT q_id, node, score FROM schf$x$r))
         | ) WHERE rn <= $ef),
         |reshf${x}_$r AS MATERIALIZED (SELECT q_id, node, score FROM (
         |  SELECT q_id, node, score, row_number() OVER (PARTITION BY q_id
         |          ORDER BY score DESC, node) AS rn
         |  FROM (SELECT DISTINCT q_id, node, score FROM (
         |    SELECT q_id, node, score FROM reshf${x}_${r - 1}
         |    UNION ALL
         |    SELECT q_id, node, score FROM schf$x$r WHERE pass))
         | ) WHERE rn <= $GraphSearchK)""".stripMargin
    }.mkString(",\n")
    s"""efch$x AS MATERIALIZED (SELECT least($GraphSearchEfMax, greatest($GraphSearchBeam,
       |  $GraphSearchBeam * (SELECT count(*) FROM e)
       |    // ($GraphSearchFilterMod * greatest((SELECT count(*) FROM e x WHERE $pass), 1)))) AS ef),
       |sthf${x}_0 AS MATERIALIZED (SELECT q_id, node, score FROM hs$d),
       |reshf${x}_0 AS MATERIALIZED (SELECT s.q_id, s.node, s.score FROM hs$d s
       |  JOIN e x ON x.vec_id = s.node WHERE $pass),
       |$baseRounds,
       |hffin$x AS (SELECT q_id, CAST(rn AS BIGINT) AS rn, node AS vec_id, score FROM (
       |  SELECT q_id, node, score, row_number() OVER (PARTITION BY q_id
       |          ORDER BY score DESC, node) AS rn FROM reshf${x}_$GraphSearchRounds)
       | WHERE rn <= $GraphSearchK)""".stripMargin
  }

  private def duckHnswFilteredCtes(attr: String, fMod: Long, fRes: Long): String =
    s"""$duckHnswFilteredPrelude,
       |${duckHnswFilteredWalk("", attr, fMod, fRes)}""".stripMargin

  /** One selectivity point of the LAYERED filtered-recall curve: exact
    * filtered top-k (`exh$x`) + the aggregate row (`rowh$x`).
    */
  private def duckHnswFilteredRecallRow(x: String, fMod: Long, fRes: Long): String =
    s"""exh$x AS (SELECT q_id, vec_id FROM (
       |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
       |          ORDER BY score DESC, vec_id) AS rn
       |  FROM (SELECT q.q_id, x.vec_id, round($duckCosQ, 6) AS score
       |        FROM e x JOIN qs q ON x.vec_id != q.q_id
       |        WHERE x.vec_id % $fMod = $fRes))
       | WHERE rn <= $GraphSearchK),
       |rowh$x AS (SELECT CAST($fMod AS BIGINT) AS f_mod,
       |  (SELECT CAST(ef AS BIGINT) FROM efch$x) AS ef,
       |  CAST($GraphSearchK AS BIGINT) AS k,
       |  (SELECT CAST(count(*) AS BIGINT) FROM qs) AS n_queries,
       |  CAST(count(*) AS BIGINT) AS n_overlap,
       |  CAST(count(*) AS BIGINT) * 1000000
       |    // greatest($GraphSearchK * (SELECT count(*) FROM qs), 1) AS recall_micros
       |FROM hffin$x f JOIN exh$x ex ON ex.q_id = f.q_id AND ex.vec_id = f.vec_id)""".stripMargin

  /** Prefix-dim cosine for the matryoshka oracle: [[duckCosPair]]
    * truncated to the first `d` list positions.
    */
  private def duckCosPrefix(d: Int): String =
    s"""list_sum(list_transform(range(1,${d + 1}), i -> x.v[i] * y.v[i]))
       | / (sqrt(list_sum(list_transform(range(1,${d + 1}), i -> x.v[i] * x.v[i])))
       |    * sqrt(list_sum(list_transform(range(1,${d + 1}), i -> y.v[i] * y.v[i]))))""".stripMargin

  /** Generated oracle for [[recallSweep]] — the ann_recall_eval chain
    * with the probe list parameterized over nprobe ∈ {1,2,4}.
    */
  private def duckRecallSweepSql: String = {
    val per = Seq(1, 2, 4).map { p =>
      s"""pr$p AS (SELECT cid AS probe_cid FROM qp ORDER BY cscore DESC, cid LIMIT $p),
         |cl$p AS (SELECT e.vec_id, e.v FROM e JOIN asg ON e.vec_id = asg.vec_id
         |         JOIN pr$p ON asg.cid = pr$p.probe_cid),
         |ap$p AS (SELECT x.vec_id, round($duckCosPair, 6) AS score
         |        FROM cl$p x, (SELECT v FROM q) y
         |        ORDER BY score DESC, vec_id LIMIT 5),
         |ov$p AS (SELECT CAST($p AS BIGINT) AS nprobe, CAST(5 AS BIGINT) AS k,
         |          CAST(count(*) AS BIGINT) AS n_overlap,
         |          CAST(count(*) AS BIGINT) * 1000000 // 5 AS recall_micros
         |         FROM ex JOIN ap$p ON ex.vec_id = ap$p.vec_id)""".stripMargin
    }
    s"""WITH $duckE,
       |q AS (SELECT v FROM e WHERE vec_id = (SELECT min(vec_id) FROM e)),
       |ex AS (SELECT x.vec_id, round($duckCosPair, 6) AS score
       |       FROM e x, (SELECT v FROM q) y ORDER BY score DESC, vec_id LIMIT 5),
       |c AS (SELECT vec_id AS cid, v FROM e WHERE vec_id < 8),
       |sc AS (SELECT x.vec_id, y.cid, round($duckCosPair, 6) AS cscore
       |       FROM e x JOIN (SELECT cid, v FROM c) y ON true),
       |asg AS (SELECT vec_id, cid FROM (
       |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |          ORDER BY cscore DESC, cid) AS rn FROM sc) WHERE rn = 1),
       |qp AS (SELECT x.cid, round($duckCosPair, 6) AS cscore
       |       FROM c x, (SELECT v FROM q) y),
       |${per.mkString(",\n")}
       |SELECT * FROM ov1 UNION ALL SELECT * FROM ov2
       |UNION ALL SELECT * FROM ov4""".stripMargin
  }

  /** Generated oracle for [[matryoshkaEval]] — prefix-dim top-k vs the
    * full-dim exact top-k, one overlap row per dims ∈ {8,16,32,64}.
    */
  private def duckMatryoshkaSql: String = {
    val per = Seq(8, 16, 32, 64).map { d =>
      s"""ap$d AS (SELECT x.vec_id, round(${duckCosPrefix(d)}, 6) AS score
         |         FROM e x, (SELECT v FROM q) y ORDER BY score DESC, vec_id LIMIT 10),
         |ov$d AS (SELECT CAST($d AS BIGINT) AS dims, CAST(10 AS BIGINT) AS k,
         |          CAST(count(*) AS BIGINT) AS n_overlap,
         |          CAST(count(*) AS BIGINT) * 1000000 // 10 AS recall_micros
         |         FROM ex JOIN ap$d ON ex.vec_id = ap$d.vec_id)""".stripMargin
    }
    s"""WITH $duckE,
       |q AS (SELECT v FROM e WHERE vec_id = (SELECT min(vec_id) FROM e)),
       |ex AS (SELECT x.vec_id, round($duckCosPair, 6) AS score
       |       FROM e x, (SELECT v FROM q) y ORDER BY score DESC, vec_id LIMIT 10),
       |${per.mkString(",\n")}
       |${Seq(8, 16, 32, 64).map(d => s"SELECT * FROM ov$d").mkString("\nUNION ALL ")}""".stripMargin
  }

  /** Power-iteration round count — the SINGLE constant both
    * [[pcaIterate]]'s default and the generated DuckDB oracle derive
    * from, so changing it can never silently desync Spark from its
    * oracle (the ADVICE r11 hazard).
    */
  val PcaSteps: Int = 3

  /** One normalized power round as DuckDB CTEs: from vector frame `v$p`
    * (dim, v in millis) over the shared `xd` explode to spectrum `s$k`
    * and next vector `v$k`. Integer products keep the per-vec and
    * per-dim sums order-independent, matching the Spark aggregate.
    */
  private def duckPcaRound(k: Int, prev: String): String =
    s"""w$k AS (SELECT vec_id, CAST(sum(x * v) AS BIGINT) // 1000 AS w
       |       FROM xd JOIN $prev USING (dim) GROUP BY 1),
       |s$k AS (SELECT dim, CAST(sum(w * x) AS BIGINT) AS s_q
       |       FROM xd JOIN w$k USING (vec_id) GROUP BY 1),
       |m$k AS (SELECT max(abs(s_q)) AS m FROM s$k),
       |v$k AS (SELECT dim, CAST(round(CAST(s_q AS DOUBLE) / CAST(m AS DOUBLE) * 1000)
       |        AS BIGINT) AS v FROM s$k, m$k)""".stripMargin

  /** Greedy k-center rounds as chained DuckDB CTEs: d_r carries every
    * vector's min distance (micros) to the chosen set after r picks;
    * t_{r+1} is the argmax pick with the same (dm desc, vec_id) total
    * order the Spark min-struct uses.
    */
  private def duckKcenterSql: String = {
    val parts = scala.collection.mutable.ArrayBuffer[String](
      duckE,
      """c1 AS (SELECT vec_id, v FROM e WHERE vec_id = (SELECT min(vec_id) FROM e))""",
      s"""d1 AS (SELECT x.vec_id, x.v,
         |  CAST(round((1 - round($duckCosPair, 6)) * 1000000) AS BIGINT) AS dm
         | FROM e x, c1 y)""".stripMargin)
    for (r <- 2 to KCenterPicks) {
      // WHERE dm > 0 mirrors kcenterSample's early stop: once the max
      // distance hits 0 the point set is exhausted and tN (and every
      // later CTE, via the cascading cross joins) goes empty
      parts += s"t$r AS (SELECT vec_id, dm FROM d${r - 1} WHERE dm > 0 " +
        "ORDER BY dm DESC, vec_id LIMIT 1)"
      if (r < KCenterPicks) {
        parts += s"c$r AS (SELECT vec_id, v FROM e WHERE vec_id = (SELECT vec_id FROM t$r))"
        parts += s"""d$r AS (SELECT x.vec_id, x.v, least(x.dm,
           |  CAST(round((1 - round($duckCosPair, 6)) * 1000000) AS BIGINT)) AS dm
           | FROM d${r - 1} x, c$r y)""".stripMargin
      }
    }
    val union = (s"SELECT CAST(1 AS BIGINT) AS pick, vec_id, CAST(NULL AS BIGINT) AS dist_micros FROM c1" +:
      (2 to KCenterPicks).map(r =>
        s"SELECT CAST($r AS BIGINT) AS pick, vec_id, dm AS dist_micros FROM t$r"))
      .mkString("\nUNION ALL ")
    s"WITH ${parts.mkString(",\n")}\n$union"
  }

  val oracle: Map[String, String] = Map(
    "embed_isotropy" ->
      s"""WITH $duckE,
         |nv AS (SELECT vec_id,
         |  sqrt(list_sum(list_transform(range(1,65), i -> v[i] * v[i]))) AS nrm, v FROM e),
         |q AS (SELECT CAST(t.j - 1 AS BIGINT) AS dim,
         |        CAST(round(v[t.j] / nrm * 1000000) AS BIGINT) AS q
         |      FROM nv, unnest(range(1, len(v) + 1)) AS t(j)),
         |d AS (SELECT dim, CAST(sum(CAST(q AS HUGEINT)) AS HUGEINT) AS sq,
         |        CAST(sum(CAST(q AS HUGEINT) * q) AS HUGEINT) AS qq,
         |        CAST(count(*) AS BIGINT) AS n
         |      FROM q GROUP BY 1),
         |a AS (SELECT CAST(sum(sq * sq) AS HUGEINT) AS ss,
         |        CAST(sum(qq) AS HUGEINT) AS selfss, max(n) AS n FROM d)
         |SELECT n, CASE WHEN n > 1 THEN
         |  CAST(round(CAST(ss - selfss AS DOUBLE)
         |    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
         |    / 1000000.0) AS BIGINT) ELSE NULL END AS mean_pairwise_cos_micros
         |FROM a WHERE n IS NOT NULL""".stripMargin,
    "sample_kcenter" -> duckKcenterSql,
    "embed_pca_iterate" ->
      s"""WITH $duckE,
         |q AS (SELECT vec_id, list_transform(v, z -> CAST(round(z * 1000) AS BIGINT)) AS xq
         |      FROM e),
         |xd AS (SELECT vec_id, CAST(t.j - 1 AS BIGINT) AS dim, xq[t.j] AS x
         |       FROM q, unnest(range(1, len(xq) + 1)) AS t(j)),
         |v0 AS (SELECT DISTINCT dim,
         |        CASE WHEN dim % 2 = 0 THEN 1000 ELSE -1000 END AS v FROM xd),
         |${(1 to PcaSteps).map(k => duckPcaRound(k, s"v${k - 1}")).mkString(",\n")}
         |SELECT dim, s_q,
         | CAST(round(CAST(s_q AS DOUBLE) / CAST(m AS DOUBLE) * 1000000) AS BIGINT)
         |   AS ratio_micros
         |FROM s$PcaSteps, m$PcaSteps""".stripMargin,
    "embed_drift_split" ->
      s"""WITH $duckE,
         |x AS (SELECT vec_id % 2 AS grp, CAST(t.j - 1 AS BIGINT) AS dim,
         |        CAST(round(v[t.j] * 1000000) AS BIGINT) AS q
         |      FROM e, unnest(range(1, len(v) + 1)) AS t(j))
         |SELECT dim,
         | CAST(count(*) FILTER (WHERE grp = 0) AS BIGINT) AS n_a,
         | CAST(count(*) FILTER (WHERE grp = 1) AS BIGINT) AS n_b,
         | CAST(sum(q) FILTER (WHERE grp = 0) AS BIGINT) // count(*) FILTER (WHERE grp = 0)
         |   AS mean_a_micros,
         | CAST(sum(q) FILTER (WHERE grp = 1) AS BIGINT) // count(*) FILTER (WHERE grp = 1)
         |   AS mean_b_micros,
         | CAST(sum(q) FILTER (WHERE grp = 1) AS BIGINT) // count(*) FILTER (WHERE grp = 1)
         |  - CAST(sum(q) FILTER (WHERE grp = 0) AS BIGINT) // count(*) FILTER (WHERE grp = 0)
         |   AS delta_micros
         |FROM x GROUP BY 1""".stripMargin,
    "embed_pca_power" ->
      s"""WITH $duckE,
         |q AS (SELECT list_transform(v, z -> CAST(round(z * 1000) AS BIGINT)) AS xq FROM e),
         |wv AS (SELECT xq, CAST(list_sum(list_transform(range(1, len(xq) + 1),
         |    j -> CASE WHEN j % 2 = 1 THEN xq[j] ELSE -xq[j] END)) AS BIGINT) AS w FROM q),
         |s AS (SELECT CAST(t.j - 1 AS BIGINT) AS dim, CAST(sum(w * xq[t.j]) AS BIGINT) AS s_q
         |      FROM wv, unnest(range(1, len(xq) + 1)) AS t(j) GROUP BY 1),
         |m AS (SELECT max(abs(s_q)) AS m FROM s)
         |SELECT dim, s_q,
         | CAST(round(CAST(s_q AS DOUBLE) / CAST(m AS DOUBLE) * 1000000) AS BIGINT) AS ratio_micros
         |FROM s, m""".stripMargin,
    "ann_ivf_balance" ->
      s"""WITH $duckE,
         |c AS (SELECT vec_id AS cid, v FROM e WHERE vec_id < 8),
         |sc AS (SELECT x.vec_id, y.cid, round($duckCosPair, 6) AS cscore
         |       FROM e x JOIN (SELECT cid, v FROM c) y ON true),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
         |          ORDER BY cscore DESC, cid) AS rn FROM sc) WHERE rn = 1),
         |sz AS (SELECT cid, CAST(count(*) AS BIGINT) AS sz FROM asg GROUP BY 1)
         |SELECT count(*) AS n_clusters, CAST(min(sz) AS BIGINT) AS min_size,
         | CAST(max(sz) AS BIGINT) AS max_size, CAST(sum(sz) AS BIGINT) AS n_vecs,
         | CAST(max(sz) AS BIGINT) * count(*) * 1000000 // CAST(sum(sz) AS BIGINT)
         |   AS imbalance_micros
         |FROM sz""".stripMargin,
    "embed_dim_stats" ->
      """WITH x AS (SELECT generate_subscripts(embedding, 1) - 1 AS dim,
        |  CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS q
        | FROM embeddings)
        |SELECT CAST(dim AS BIGINT) AS dim, count(*) AS n_vecs,
        | CAST(sum(q) // count(*) AS BIGINT) AS mean_micros,
        | CAST(sum(abs(q)) // count(*) AS BIGINT) AS mean_abs_micros,
        | CAST(sum(CASE WHEN q > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
        |FROM x GROUP BY 1""".stripMargin,
    "ann_binary" ->
      s"""WITH $duckE,
         |sg AS (SELECT vec_id,
         |  CAST(list_sum(list_transform(range(1, 33), i ->
         |    CASE WHEN v[i] > 0 THEN CAST(1 AS BIGINT) << (32 - i) ELSE 0 END)) AS BIGINT) AS sig_hi,
         |  CAST(list_sum(list_transform(range(33, 65), i ->
         |    CASE WHEN v[i] > 0 THEN CAST(1 AS BIGINT) << (64 - i) ELSE 0 END)) AS BIGINT) AS sig_lo
         | FROM e),
         |qs AS (SELECT sig_hi AS q_hi, sig_lo AS q_lo FROM sg
         |  WHERE vec_id = (SELECT min(vec_id) FROM sg)),
         |hm AS (SELECT vec_id,
         |  CAST(bit_count(xor(sig_hi, q_hi)) + bit_count(xor(sig_lo, q_lo)) AS BIGINT) AS hamming
         | FROM sg, qs),
         |cand AS (SELECT vec_id, hamming FROM hm WHERE hamming <= 24),
         |qv AS (SELECT v FROM e WHERE vec_id = (SELECT min(vec_id) FROM e))
         |SELECT x.vec_id, cand.hamming, round($duckCosPair, 6) AS score
         |FROM e x JOIN cand ON x.vec_id = cand.vec_id, (SELECT v FROM qv) y
         |ORDER BY score DESC, x.vec_id LIMIT 10""".stripMargin,
    "kmeans_step" ->
      s"""WITH $duckE,
         |c AS (SELECT vec_id AS cid, v FROM e WHERE vec_id < 8),
         |sc AS (SELECT x.vec_id, y.cid, round($duckCosPair, 6) AS cscore
         |       FROM e x JOIN (SELECT cid, v FROM c) y ON true),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
         |          ORDER BY cscore DESC, cid) AS rn FROM sc) WHERE rn = 1),
         |m AS (SELECT asg.cid, e.vec_id, e.v FROM e JOIN asg ON e.vec_id = asg.vec_id),
         |nm AS (SELECT cid, count(*) AS n_members FROM m GROUP BY 1),
         |nc AS (SELECT cid, i AS pos, avg(v[i]) AS nv
         |       FROM m, range(1, 65) t(i) GROUP BY 1, 2),
         |oc AS (SELECT vec_id AS cid, v AS ov FROM e WHERE vec_id < 8),
         |d AS (SELECT nc.cid,
         |        sum(oc.ov[nc.pos] * nc.nv) AS dot,
         |        sqrt(sum(oc.ov[nc.pos] * oc.ov[nc.pos])) AS onorm,
         |        sqrt(sum(nc.nv * nc.nv)) AS nnorm
         |      FROM nc JOIN oc ON nc.cid = oc.cid GROUP BY 1)
         |SELECT d.cid, nm.n_members,
         | round(dot / (onorm * nnorm), 6) AS shift_cos6,
         | round(nnorm, 6) AS new_norm6
         |FROM d JOIN nm ON d.cid = nm.cid""".stripMargin,
    "ann_ivf_pq" ->
      s"""WITH $duckE,
         |c AS (SELECT vec_id AS cid, v FROM e WHERE vec_id < 8),
         |csc AS (SELECT x.vec_id, y.cid, round($duckCosPair, 6) AS cscore
         |        FROM e x JOIN (SELECT cid, v FROM c) y ON true),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
         |          ORDER BY cscore DESC, cid) AS rn FROM csc) WHERE rn = 1),
         |probe AS (SELECT cid AS probe_cid FROM asg
         |          WHERE vec_id = (SELECT min(vec_id) FROM e)),
         |mem AS (SELECT e.vec_id FROM e
         |        JOIN asg ON e.vec_id = asg.vec_id
         |        JOIN probe ON asg.cid = probe.probe_cid),
         |$duckPqAdc
         |SELECT adc.vec_id AS vec_id, adc.adc6 AS adc6
         |FROM adc JOIN mem ON adc.vec_id = mem.vec_id
         |ORDER BY adc.adc6 DESC, adc.vec_id LIMIT 5""".stripMargin,
    "ann_pq" ->
      s"""WITH $duckE,
         |$duckPqAdc
         |SELECT vec_id, adc6 FROM adc ORDER BY adc6 DESC, vec_id LIMIT 10""".stripMargin,
    "ann_pq_refine" ->
      s"""WITH $duckE,
         |$duckPqAdc,
         |cand AS (SELECT vec_id AS cand_id FROM adc ORDER BY adc6 DESC, vec_id LIMIT 25),
         |qv AS (SELECT v FROM e WHERE vec_id = (SELECT min(vec_id) FROM e))
         |SELECT x.vec_id, round($duckCosPair, 6) AS score
         |FROM e x JOIN cand ON x.vec_id = cand.cand_id, (SELECT v FROM qv) y
         |ORDER BY score DESC, vec_id LIMIT 5""".stripMargin,
    "ann_bruteforce" ->
      s"""WITH $duckE,
         |q AS (SELECT v FROM e WHERE vec_id = (SELECT min(vec_id) FROM e))
         |SELECT x.vec_id, round($duckCosPair, 6) AS score
         |FROM e x, (SELECT v FROM q) y
         |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,
    "ann_range_search" ->
      s"""WITH $duckE,
         |q AS (SELECT v FROM e WHERE vec_id = (SELECT min(vec_id) FROM e))
         |SELECT x.vec_id, round($duckCosPair, 6) AS score
         |FROM e x, (SELECT v FROM q) y
         |WHERE round($duckCosPair, 6) >= CAST(0.2 AS DOUBLE)""".stripMargin,
    "ann_maxsim" ->
      s"""WITH $duckE,
         |sc AS (SELECT x.label, y.qid, round($duckCosPair, 6) AS c
         |       FROM e x, (SELECT vec_id AS qid, v FROM e WHERE vec_id < 4) y),
         |mx AS (SELECT label, qid, max(c) AS mx FROM sc GROUP BY 1, 2)
         |SELECT label,
         | CAST(sum(CAST(round(mx * 1000000) AS BIGINT)) AS BIGINT) AS maxsim_micros
         |FROM mx GROUP BY 1 ORDER BY maxsim_micros DESC, label LIMIT 5""".stripMargin,
    "ann_maxsim_pruned" ->
      s"""WITH $duckE,
         |c AS (SELECT vec_id AS cid, v FROM e WHERE vec_id < 8),
         |qv AS (SELECT vec_id AS qid, v FROM e WHERE vec_id < 4),
         |sc AS (SELECT x.vec_id, y.cid, round($duckCosPair, 6) AS cscore
         |       FROM e x JOIN c y ON true),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
         |          ORDER BY cscore DESC, cid) AS rn FROM sc) WHERE rn = 1),
         |qc AS (SELECT x.qid, y.cid, round($duckCosPair, 6) AS cscore
         |       FROM qv x JOIN c y ON true),
         |probed AS (SELECT DISTINCT cid FROM (
         |  SELECT qid, cid, row_number() OVER (PARTITION BY qid
         |          ORDER BY cscore DESC, cid) AS rn FROM qc) WHERE rn <= 2),
         |cl AS (SELECT DISTINCT e2.label FROM e e2
         |       JOIN asg ON e2.vec_id = asg.vec_id JOIN probed USING (cid)),
         |ms AS (SELECT x.label, y.qid, max(round($duckCosPair, 6)) AS mx
         |       FROM e x JOIN qv y ON true
         |       WHERE x.label IN (SELECT label FROM cl)
         |       GROUP BY 1, 2)
         |SELECT label,
         | CAST(sum(CAST(round(mx * 1000000) AS BIGINT)) AS BIGINT) AS maxsim_micros
         |FROM ms GROUP BY 1 ORDER BY maxsim_micros DESC, label LIMIT 5""".stripMargin,
    "embed_norm_outliers" ->
      s"""WITH $duckE,
         |m AS (SELECT label, CAST(round(sqrt(list_sum(
         |        list_transform(range(1, 65), i -> v[i] * v[i]))) * 1000) AS BIGINT) AS m
         |      FROM e),
         |st AS (SELECT label, CAST(count(*) AS BIGINT) AS n,
         |        CAST(sum(m) AS BIGINT) AS sm, CAST(sum(m * m) AS BIGINT) AS qm
         |       FROM m GROUP BY 1)
         |SELECT m.label, n AS n_vecs, sm // n AS mean_norm_millis,
         | CAST(sum(CASE WHEN (n*m.m - sm)*(n*m.m - sm) > 4 * (n*qm - sm*sm)
         |          THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
         |FROM m JOIN st ON m.label = st.label
         |GROUP BY 1, n, sm, qm""".stripMargin,
    "ann_ivf" ->
      s"""WITH $duckE,
         |c AS (SELECT vec_id AS cid, v FROM e WHERE vec_id < 8),
         |sc AS (SELECT x.vec_id, y.cid, round($duckCosPair, 6) AS cscore
         |       FROM e x JOIN (SELECT cid, v FROM c) y ON true),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
         |          ORDER BY cscore DESC, cid) AS rn FROM sc) WHERE rn = 1),
         |probe AS (SELECT cid AS probe_cid FROM asg
         |          WHERE vec_id = (SELECT min(vec_id) FROM e)),
         |clus AS (SELECT e.vec_id, asg.cid, e.v FROM e
         |         JOIN asg ON e.vec_id = asg.vec_id
         |         JOIN probe ON asg.cid = probe.probe_cid)
         |SELECT x.vec_id, x.cid, round($duckCosPair, 6) AS score
         |FROM clus x, (SELECT v FROM e WHERE vec_id = (SELECT min(vec_id) FROM e)) y
         |ORDER BY score DESC, vec_id LIMIT 5""".stripMargin,
    "embed_cluster_stats" ->
      """WITH d AS (SELECT label, i AS pos, avg(CAST(embedding[i] AS DOUBLE)) AS v
        |      FROM embeddings, range(1,65) t(i) GROUP BY 1, 2),
        |cn AS (SELECT label, sqrt(sum(v * v)) AS cnorm FROM d GROUP BY label),
        |mc AS (SELECT e.label, e.vec_id,
        |        sum(CAST(e.embedding[d.pos] AS DOUBLE) * d.v) AS dot,
        |        sqrt(sum(CAST(e.embedding[d.pos] AS DOUBLE) * CAST(e.embedding[d.pos] AS DOUBLE))) AS enorm
        |       FROM embeddings e JOIN d ON e.label = d.label
        |       GROUP BY e.label, e.vec_id)
        |SELECT mc.label, count(*) AS n_members,
        | round(max(cn.cnorm), 6) AS centroid_norm,
        | round(avg(dot / (enorm * cn.cnorm)), 6) AS mean_cos_to_centroid
        |FROM mc JOIN cn ON mc.label = cn.label
        |GROUP BY mc.label""".stripMargin,
    "ann_ivf_multiprobe" ->
      s"""WITH $duckE,
         |c AS (SELECT vec_id AS cid, v FROM e WHERE vec_id < 8),
         |sc AS (SELECT x.vec_id, y.cid, round($duckCosPair, 6) AS cscore
         |       FROM e x JOIN (SELECT cid, v FROM c) y ON true),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
         |          ORDER BY cscore DESC, cid) AS rn FROM sc) WHERE rn = 1),
         |qp AS (SELECT x.cid, round($duckCosPair, 6) AS cscore
         |       FROM c x, (SELECT v FROM e WHERE vec_id = (SELECT min(vec_id) FROM e)) y),
         |probes AS (SELECT cid AS probe_cid FROM qp ORDER BY cscore DESC, cid LIMIT 2),
         |clus AS (SELECT e.vec_id, asg.cid, e.v FROM e
         |         JOIN asg ON e.vec_id = asg.vec_id
         |         JOIN probes ON asg.cid = probes.probe_cid)
         |SELECT x.vec_id, x.cid, round($duckCosPair, 6) AS score
         |FROM clus x, (SELECT v FROM e WHERE vec_id = (SELECT min(vec_id) FROM e)) y
         |ORDER BY score DESC, vec_id LIMIT 5""".stripMargin,
    "ann_filtered" ->
      s"""WITH $duckE,
         |q AS (SELECT v FROM e WHERE vec_id = (SELECT min(vec_id) FROM e))
         |SELECT x.vec_id, x.label, round($duckCosPair, 6) AS score
         |FROM (SELECT * FROM e WHERE label IN (1, 3, 5, 7, 9)) x, (SELECT v FROM q) y
         |ORDER BY score DESC, vec_id LIMIT 5""".stripMargin,
    "ann_recall_eval" ->
      s"""WITH $duckE,
         |q AS (SELECT v FROM e WHERE vec_id = (SELECT min(vec_id) FROM e)),
         |ex AS (SELECT x.vec_id,
         |        round($duckCosPair, 6) AS score
         |       FROM e x, (SELECT v FROM q) y
         |       ORDER BY score DESC, vec_id LIMIT 5),
         |c AS (SELECT vec_id AS cid, v FROM e WHERE vec_id < 8),
         |sc AS (SELECT x.vec_id, y.cid, round($duckCosPair, 6) AS cscore
         |       FROM e x JOIN (SELECT cid, v FROM c) y ON true),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
         |          ORDER BY cscore DESC, cid) AS rn FROM sc) WHERE rn = 1),
         |probe AS (SELECT cid AS probe_cid FROM asg
         |          WHERE vec_id = (SELECT min(vec_id) FROM e)),
         |clus AS (SELECT e.vec_id, asg.cid, e.v FROM e
         |         JOIN asg ON e.vec_id = asg.vec_id
         |         JOIN probe ON asg.cid = probe.probe_cid),
         |ap AS (SELECT x.vec_id,
         |        round($duckCosPair, 6) AS score
         |       FROM clus x, (SELECT v FROM q) y
         |       ORDER BY score DESC, vec_id LIMIT 5),
         |ov AS (SELECT count(*) AS n_overlap FROM ex JOIN ap ON ex.vec_id = ap.vec_id)
         |SELECT CAST(5 AS BIGINT) AS k, n_overlap,
         | n_overlap * 1000000 // 5 AS recall_micros FROM ov""".stripMargin,
    "embed_quantize" ->
      s"""WITH $duckE,
         |sc AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS scale FROM e),
         |q AS (SELECT vec_id, scale,
         |        CASE WHEN scale = CAST(0 AS DOUBLE) THEN list_transform(v, x -> CAST(0 AS BIGINT))
         |        ELSE list_transform(v, x -> CAST(round(x / scale * CAST(127 AS DOUBLE)) AS BIGINT)) END AS qv
         |      FROM sc)
         |SELECT vec_id,
         | CAST(round(scale * CAST(1000000 AS DOUBLE)) AS BIGINT) AS scale_micros,
         | CAST(list_sum(qv) AS BIGINT) AS q_sum,
         | CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS q_norm2
         |FROM q""".stripMargin,
    "ann_quantized" ->
      s"""WITH $duckE,
         |sc AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS scale FROM e),
         |q AS (SELECT vec_id,
         |        CASE WHEN scale = CAST(0 AS DOUBLE) THEN list_transform(v, x -> CAST(0 AS BIGINT))
         |        ELSE list_transform(v, x -> CAST(round(x / scale * CAST(127 AS DOUBLE)) AS BIGINT)) END AS qv
         |      FROM sc),
         |qq AS (SELECT qv AS qqv FROM q WHERE vec_id = (SELECT min(vec_id) FROM q))
         |SELECT q.vec_id,
         | CAST(list_sum(list_transform(range(1, 65), i -> q.qv[i] * y.qqv[i])) AS BIGINT) AS qdot
         |FROM q, qq y
         |ORDER BY qdot DESC, vec_id LIMIT 10""".stripMargin,
    "ann_lsh" ->
      s"""WITH $duckE,
         |p AS (SELECT vec_id AS pid, v AS pv FROM e WHERE vec_id >= 8 AND vec_id < 16),
         |sig AS (SELECT x.vec_id, string_agg(
         |          CASE WHEN list_sum(list_transform(range(1,65), i -> x.v[i] * p.pv[i])) >= 0
         |          THEN '1' ELSE '0' END, '' ORDER BY p.pid) AS bucket
         |        FROM e x, p GROUP BY x.vec_id),
         |qb AS (SELECT bucket AS qbucket FROM sig
         |       WHERE vec_id = (SELECT min(vec_id) FROM e)),
         |qv AS (SELECT v FROM e WHERE vec_id = (SELECT min(vec_id) FROM e))
         |SELECT s.vec_id, s.bucket,
         | round(list_sum(list_transform(range(1,65), i -> x.v[i] * y.v[i]))
         |  / (sqrt(list_sum(list_transform(range(1,65), i -> x.v[i] * x.v[i])))
         |     * sqrt(list_sum(list_transform(range(1,65), i -> y.v[i] * y.v[i])))), 6) AS score
         |FROM sig s JOIN e x ON s.vec_id = x.vec_id
         |     JOIN qb ON s.bucket = qb.qbucket, qv y
         |ORDER BY score DESC, s.vec_id LIMIT 5""".stripMargin,
    "dedup_semantic" ->
      s"""WITH $duckE,
         |c AS (SELECT vec_id AS cid, v FROM e WHERE vec_id <
         |        greatest(8, CAST(floor(sqrt((SELECT count(*) FROM e))) AS BIGINT))),
         |sc AS (SELECT x.vec_id, y.cid, round($duckCosPair, 6) AS cscore
         |       FROM e x JOIN (SELECT cid, v FROM c) y ON true),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
         |          ORDER BY cscore DESC, cid) AS rn FROM sc) WHERE rn = 1),
         |m AS (SELECT e.vec_id, asg.cid, e.v FROM e JOIN asg ON e.vec_id = asg.vec_id),
         |p AS (SELECT x.vec_id AS vec_id, x.cid AS cid, y.vec_id AS keeper,
         |        CAST(round(round($duckCosPair, 6) * 1000000) AS BIGINT) AS cos_micros
         |      FROM m x JOIN m y ON x.cid = y.cid AND y.vec_id < x.vec_id),
         |f AS (SELECT * FROM p WHERE cos_micros >= $SemDedupTauMicros),
         |r AS (SELECT vec_id, cid, keeper, cos_micros,
         |        row_number() OVER (PARTITION BY vec_id ORDER BY keeper) AS rn FROM f)
         |SELECT vec_id, cid, keeper AS keeper_id, cos_micros FROM r WHERE rn = 1""".stripMargin,
    "ann_graph_nsw" ->
      s"""WITH $duckE,
         |$duckNswTopk
         |SELECT t.src, t.dst, t.cos, t.rn, (r.src IS NOT NULL) AS mutual
         |FROM topk t LEFT JOIN topk r ON t.src = r.dst AND t.dst = r.src""".stripMargin,
    "ann_graph_connectivity" -> {
      val steps = (1 to GraphConnRounds).map { r =>
        s"""cc$r AS MATERIALIZED (SELECT DISTINCT node FROM (
           |  SELECT node FROM cc${r - 1} UNION ALL
           |  SELECT u.dst AS node FROM cc${r - 1} s JOIN gund u ON u.src = s.node))""".stripMargin
      }.mkString(",\n")
      val rows = (0 to GraphConnRounds).map(r =>
        s"SELECT CAST($r AS BIGINT) AS round, " +
          s"(SELECT CAST(count(*) AS BIGINT) FROM cc$r) AS n_reached")
        .mkString("\nUNION ALL ")
      s"""WITH $duckE,
         |$duckNswTopk,
         |gund AS MATERIALIZED (SELECT src, dst FROM topk UNION SELECT dst, src FROM topk),
         |cc0 AS MATERIALIZED (SELECT cid AS node FROM c),
         |$steps,
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM e)
         |SELECT r.round, r.n_reached, n.n_total,
         | r.n_reached * 1000000 // greatest(n.n_total, 1) AS reach_micros
         |FROM ($rows) r, n""".stripMargin
    },
    // the written-generation census is read-equivalent to the live one
    // (same undirected closure + entry rows through the parquet artifact),
    // so it shares the live census's oracle verbatim — the walks'
    // from-gen convention
    "ann_conn_from_gen" -> {
      val steps = (1 to GraphConnRounds).map { r =>
        s"""cc$r AS MATERIALIZED (SELECT DISTINCT node FROM (
           |  SELECT node FROM cc${r - 1} UNION ALL
           |  SELECT u.dst AS node FROM cc${r - 1} s JOIN gund u ON u.src = s.node))""".stripMargin
      }.mkString(",\n")
      val rows = (0 to GraphConnRounds).map(r =>
        s"SELECT CAST($r AS BIGINT) AS round, " +
          s"(SELECT CAST(count(*) AS BIGINT) FROM cc$r) AS n_reached")
        .mkString("\nUNION ALL ")
      s"""WITH $duckE,
         |$duckNswTopk,
         |gund AS MATERIALIZED (SELECT src, dst FROM topk UNION SELECT dst, src FROM topk),
         |cc0 AS MATERIALIZED (SELECT cid AS node FROM c),
         |$steps,
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM e)
         |SELECT r.round, r.n_reached, n.n_total,
         | r.n_reached * 1000000 // greatest(n.n_total, 1) AS reach_micros
         |FROM ($rows) r, n""".stripMargin
    },
    "ann_graph_build_deduped" ->
      s"""WITH $duckE,
         |$duckDedupedBuild
         |SELECT src, dst, cos, rn, is_attach FROM dedup_edges""".stripMargin,
    "ann_conn_deduped" -> {
      val steps = (1 to GraphConnRounds).map { r =>
        s"""ccd$r AS MATERIALIZED (SELECT DISTINCT node FROM (
           |  SELECT node FROM ccd${r - 1} UNION ALL
           |  SELECT u.dst AS node FROM ccd${r - 1} s JOIN gundd u ON u.src = s.node))""".stripMargin
      }.mkString(",\n")
      val rows = (0 to GraphConnRounds).map(r =>
        s"SELECT CAST($r AS BIGINT) AS round, " +
          s"(SELECT CAST(count(*) AS BIGINT) FROM ccd$r) AS n_reached")
        .mkString("\nUNION ALL ")
      s"""WITH $duckE,
         |$duckDedupedBuild,
         |gundd AS MATERIALIZED (SELECT src, dst FROM dedup_edges
         |       UNION SELECT dst, src FROM dedup_edges),
         |fbd AS (SELECT greatest(8, CAST(floor(sqrt(count(*))) AS BIGINT)) AS t FROM e),
         |ccd0 AS MATERIALIZED (SELECT vec_id AS node FROM e, fbd WHERE vec_id < fbd.t),
         |$steps,
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM e)
         |SELECT r.round, r.n_reached, n.n_total,
         | r.n_reached * 1000000 // greatest(n.n_total, 1) AS reach_micros
         |FROM ($rows) r, n""".stripMargin
    },
    "embed_canon_map" ->
      s"""WITH $duckE,
         |$duckDedupedBuild,
         |fmapq AS (SELECT x.vec_id, f.canon FROM exm x JOIN finp f ON x.ec = f.vec_id)
         |SELECT vec_id, canon, CAST(vec_id != canon AS BIGINT) AS is_dup FROM fmapq""".stripMargin,
    "embed_canon_weights" ->
      s"""WITH $duckE,
         |$duckDedupedBuild,
         |fmapq AS (SELECT x.vec_id, f.canon FROM exm x JOIN finp f ON x.ec = f.vec_id)
         |SELECT canon, CAST(count(*) AS BIGINT) AS weight,
         | CAST(sum(CASE WHEN vec_id != canon THEN 1 ELSE 0 END) AS BIGINT) AS n_dups
         |FROM fmapq GROUP BY canon""".stripMargin,
    "ann_hnsw_build_deduped" ->
      s"""WITH $duckE,
         |$duckLevels,
         |$duckHnswDedupedBuild
         |SELECT layer, src, dst, cos, rn, is_attach FROM hnsw_dedup_edges""".stripMargin,
    "ann_hnsw_conn_deduped" -> duckHnswConnDedupedSql,
    // read-equivalence: the written generation ships the identical
    // undirected closure, so the census shares the live oracle
    "ann_hnsw_conn_deduped_from_gen" -> duckHnswConnDedupedSql,
    "ann_hnsw_search_deduped" -> duckHnswDedupedWalkSql,
    // read-equivalence: the layered deduped descent off the written
    // generation returns identical rows to the live walk — shared oracle
    "ann_hnsw_search_deduped_from_gen" -> duckHnswDedupedWalkSql,
    "ann_graph_insert_deduped" ->
      s"""WITH $duckE,
         |$duckDedupedInsertCtes
         |SELECT src, dst, cos, rn, is_attach FROM dedup_ins_edges""".stripMargin,
    "embed_canon_map_insert" ->
      s"""WITH $duckE,
         |$duckDedupedInsertCtes,
         |allmap AS (SELECT vec_id, canon FROM smap UNION ALL SELECT vec_id, canon FROM bmap)
         |SELECT vec_id, canon, CAST(vec_id != canon AS BIGINT) AS is_dup FROM allmap""".stripMargin,
    "embed_canon_weights_insert" ->
      s"""WITH $duckE,
         |$duckDedupedInsertCtes,
         |allmap AS (SELECT vec_id, canon FROM smap UNION ALL SELECT vec_id, canon FROM bmap)
         |SELECT canon, CAST(count(*) AS BIGINT) AS weight,
         | CAST(sum(CASE WHEN vec_id != canon THEN 1 ELSE 0 END) AS BIGINT) AS n_dups
         |FROM allmap GROUP BY canon""".stripMargin,
    "ann_graph_search_deduped" -> duckDedupedWalkSql,
    "ann_graph_search_int8_deduped" -> duckGraphSearchInt8DedupedSql,
    // read-equivalence: the quantized deduped walk off the written
    // generation returns identical rows to the live walk — shared oracle
    "ann_graph_search_int8_deduped_from_gen" -> duckGraphSearchInt8DedupedSql,
    "ann_graph_search_filtered_deduped" -> duckFilteredDedupedSql,
    // read-equivalence: the filtered deduped walk off the written
    // generation returns identical rows to the live walk — shared oracle
    "ann_graph_search_filtered_deduped_from_gen" -> duckFilteredDedupedSql,
    "ann_hnsw_search_filtered_deduped" -> duckHnswFilteredDedupedSql,
    // read-equivalence: the filtered layered deduped descent off the
    // written generation returns identical rows — shared oracle
    "ann_hnsw_search_filtered_deduped_from_gen" -> duckHnswFilteredDedupedSql,
    // the written-generation deduped walk is read-equivalent to the
    // live one (identical adjacency + entry rows through the parquet
    // artifact) — shared oracle, the walks' from-gen convention
    "ann_graph_search_deduped_from_gen" -> duckDedupedWalkSql,
    "ann_conn_fanout" -> {
      val tags = Seq(("h", "greatest(fb.v // 2, 1)"), ("b", "fb.v"), ("d", "fb.v * 2"))
      val chains = tags.map { case (t, thr) =>
        val steps = (1 to GraphConnRounds).map { r =>
          s"""cc$t$r AS MATERIALIZED (SELECT DISTINCT node FROM (
             |  SELECT node FROM cc$t${r - 1} UNION ALL
             |  SELECT u.dst AS node FROM cc$t${r - 1} s JOIN gund u ON u.src = s.node))""".stripMargin
        }.mkString(",\n")
        s"""thr$t AS (SELECT CAST($thr AS BIGINT) AS t FROM fb),
           |cc${t}0 AS MATERIALIZED (SELECT vec_id AS node FROM e, thr$t WHERE vec_id < thr$t.t),
           |$steps""".stripMargin
      }.mkString(",\n")
      val rows = tags.flatMap { case (t, _) =>
        (0 to GraphConnRounds).map(r =>
          s"SELECT (SELECT t FROM thr$t) AS entry_thr, CAST($r AS BIGINT) AS round, " +
            s"(SELECT CAST(count(*) AS BIGINT) FROM cc$t$r) AS n_reached")
      }.mkString("\nUNION ALL ")
      s"""WITH $duckE,
         |$duckNswTopk,
         |gund AS MATERIALIZED (SELECT src, dst FROM topk UNION SELECT dst, src FROM topk),
         |fb AS (SELECT greatest(8, CAST(floor(sqrt((SELECT count(*) FROM e))) AS BIGINT)) AS v),
         |$chains,
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM e)
         |SELECT r.entry_thr, r.round, r.n_reached,
         | r.n_reached * 1000000 // greatest(n.n_total, 1) AS reach_micros
         |FROM ($rows) r, n""".stripMargin
    },
    "ann_graph_sharded" -> duckShardedSql,
    "ann_graph_insert" -> duckGraphInsertSql,
    "ann_hnsw_insert" -> duckHnswInsertSql,
    "ann_hnsw_insert_deduped" -> duckHnswDedupedInsertSql,
    "ann_graph_search" ->
      s"""WITH $duckE,
         |$duckGraphSearchCtes
         |SELECT q_id, rn, vec_id, score FROM fin""".stripMargin,
    // read-equivalent to ann_graph_search by construction (the walk is
    // identical; only the index frame's storage differs) — the SAME
    // generated oracle verifies the written-generation serving path
    "ann_graph_search_from_gen" ->
      s"""WITH $duckE,
         |$duckGraphSearchCtes
         |SELECT q_id, rn, vec_id, score FROM fin""".stripMargin,
    "ann_graph_search_recall" ->
      s"""WITH $duckE,
         |$duckGraphSearchCtes,
         |ex AS (SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |          ORDER BY score DESC, vec_id) AS rn
         |  FROM (SELECT q.q_id, x.vec_id, round($duckCosQ, 6) AS score
         |        FROM e x JOIN qs q ON x.vec_id != q.q_id))
         | WHERE rn <= $GraphSearchK)
         |SELECT CAST($GraphSearchK AS BIGINT) AS k,
         | (SELECT CAST(count(*) AS BIGINT) FROM qs) AS n_queries,
         | CAST(count(*) AS BIGINT) AS n_overlap,
         | CAST(count(*) AS BIGINT) * 1000000
         |   // greatest($GraphSearchK * (SELECT count(*) FROM qs), 1) AS recall_micros
         |FROM fin f JOIN ex ON ex.q_id = f.q_id AND ex.vec_id = f.vec_id""".stripMargin,
    "ann_graph_search_int8" ->
      s"""WITH $duckE,
         |$duckGraphSearchInt8Ctes
         |SELECT q_id, rn, vec_id, score FROM fin8""".stripMargin,
    // read-equivalent to ann_graph_search_int8 by construction (the
    // walk is identical; only the index frames' storage differs) — the
    // SAME generated oracle verifies the quantized written generation
    "ann_graph_search_int8_from_gen" ->
      s"""WITH $duckE,
         |$duckGraphSearchInt8Ctes
         |SELECT q_id, rn, vec_id, score FROM fin8""".stripMargin,
    "ann_graph_search_filtered" ->
      s"""WITH $duckE,
         |$duckFilteredPrelude,
         |${duckFilteredWalkCtes("", "label", GraphSearchFilterMod, GraphSearchFilterRes)}
         |SELECT q_id, rn, vec_id, score FROM finf""".stripMargin,
    // read-equivalence: the filtered walk off the written generation
    // returns identical rows to the live walk, so the same chain
    // verifies both (the ann_graph_search_from_gen precedent)
    "ann_graph_search_filtered_from_gen" ->
      s"""WITH $duckE,
         |$duckFilteredPrelude,
         |${duckFilteredWalkCtes("", "label", GraphSearchFilterMod, GraphSearchFilterRes)}
         |SELECT q_id, rn, vec_id, score FROM finf""".stripMargin,
    "ann_graph_search_filtered_recall" ->
      s"""WITH $duckE,
         |$duckFilteredPrelude,
         |${FilterCurveMods.map(m =>
            duckFilteredWalkCtes(s"m$m", "vec_id", m, FilterCurveRes)).mkString(",\n")},
         |${FilterCurveMods.map(m =>
            duckFilteredRecallRow(s"m$m", m, FilterCurveRes)).mkString(",\n")}
         |${FilterCurveMods.map(m => s"SELECT * FROM rowm$m").mkString("\nUNION ALL ")}""".stripMargin,
    "ann_hnsw_search" ->
      s"""WITH $duckE,
         |$duckHnswSearchCtes
         |SELECT q_id, rn, vec_id, score FROM hfin""".stripMargin,
    "ann_hnsw_search_filtered" ->
      s"""WITH $duckE,
         |${duckHnswFilteredCtes("label", GraphSearchFilterMod, GraphSearchFilterRes)}
         |SELECT q_id, rn, vec_id, score FROM hffin""".stripMargin,
    // read-equivalence: the filtered layered walk off the written
    // generation returns identical rows to the live walk
    "ann_hnsw_search_filtered_from_gen" ->
      s"""WITH $duckE,
         |${duckHnswFilteredCtes("label", GraphSearchFilterMod, GraphSearchFilterRes)}
         |SELECT q_id, rn, vec_id, score FROM hffin""".stripMargin,
    "ann_hnsw_search_filtered_recall" ->
      s"""WITH $duckE,
         |$duckHnswFilteredPrelude,
         |${FilterCurveMods.map(m =>
            duckHnswFilteredWalk(s"m$m", "vec_id", m, FilterCurveRes)).mkString(",\n")},
         |${FilterCurveMods.map(m =>
            duckHnswFilteredRecallRow(s"m$m", m, FilterCurveRes)).mkString(",\n")}
         |${FilterCurveMods.map(m => s"SELECT * FROM rowhm$m").mkString("\nUNION ALL ")}""".stripMargin,
    "ann_graph_search_int8_filtered" ->
      s"""WITH $duckE,
         |${duckInt8FilteredCtes(GraphSearchFilterMod, GraphSearchFilterRes)}
         |SELECT q_id, rn, vec_id, score FROM fin8f""".stripMargin,
    // read-equivalence: the filtered quantized walk off the written
    // generation returns identical rows to the live walk
    "ann_graph_search_int8_filtered_from_gen" ->
      s"""WITH $duckE,
         |${duckInt8FilteredCtes(GraphSearchFilterMod, GraphSearchFilterRes)}
         |SELECT q_id, rn, vec_id, score FROM fin8f""".stripMargin,
    // read-equivalence: serving the WRITTEN layered generation returns
    // byte-identical rows to the live walk, so the same chain verifies
    // both (the ann_graph_search_from_gen precedent)
    "ann_hnsw_search_from_gen" ->
      s"""WITH $duckE,
         |$duckHnswSearchCtes
         |SELECT q_id, rn, vec_id, score FROM hfin""".stripMargin,
    "ann_hnsw_search_recall" ->
      s"""WITH $duckE,
         |$duckHnswSearchCtes,
         |ex AS (SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |          ORDER BY score DESC, vec_id) AS rn
         |  FROM (SELECT q.q_id, x.vec_id, round($duckCosQ, 6) AS score
         |        FROM e x JOIN qs q ON x.vec_id != q.q_id))
         | WHERE rn <= $GraphSearchK)
         |SELECT CAST($GraphSearchK AS BIGINT) AS k,
         | (SELECT CAST(count(*) AS BIGINT) FROM qs) AS n_queries,
         | CAST(count(*) AS BIGINT) AS n_overlap,
         | CAST(count(*) AS BIGINT) * 1000000
         |   // greatest($GraphSearchK * (SELECT count(*) FROM qs), 1) AS recall_micros
         |FROM hfin f JOIN ex ON ex.q_id = f.q_id AND ex.vec_id = f.vec_id""".stripMargin,
    "ann_recall_sweep" -> duckRecallSweepSql,
    "embed_matryoshka" -> duckMatryoshkaSql,
    "ann_pq_recall" ->
      s"""WITH $duckE,
         |$duckPqAdc,
         |q AS (SELECT v FROM e WHERE vec_id = (SELECT min(vec_id) FROM e)),
         |ex AS (SELECT x.vec_id, round($duckCosPair, 6) AS score
         |       FROM e x, (SELECT v FROM q) y ORDER BY score DESC, vec_id LIMIT 5),
         |adck AS (SELECT vec_id FROM adc ORDER BY adc6 DESC, vec_id LIMIT 5),
         |cand AS (SELECT vec_id AS cand_id FROM adc ORDER BY adc6 DESC, vec_id LIMIT 25),
         |ref AS (SELECT x.vec_id FROM e x JOIN cand ON x.vec_id = cand.cand_id,
         |          (SELECT v FROM q) y
         |        ORDER BY round($duckCosPair, 6) DESC, vec_id LIMIT 5),
         |oa AS (SELECT 'adc' AS stage, CAST(5 AS BIGINT) AS k,
         |         CAST(count(*) AS BIGINT) AS n_overlap,
         |         CAST(count(*) AS BIGINT) * 1000000 // 5 AS recall_micros
         |       FROM ex JOIN adck ON ex.vec_id = adck.vec_id),
         |orf AS (SELECT 'refined' AS stage, CAST(5 AS BIGINT) AS k,
         |         CAST(count(*) AS BIGINT) AS n_overlap,
         |         CAST(count(*) AS BIGINT) * 1000000 // 5 AS recall_micros
         |       FROM ex JOIN ref ON ex.vec_id = ref.vec_id)
         |SELECT * FROM oa UNION ALL SELECT * FROM orf""".stripMargin,
    "embed_outlier_knn" ->
      s"""WITH $duckE,
         |$duckNswTopk
         |SELECT src AS vec_id, CAST(count(*) AS BIGINT) AS n_neighbors,
         | CAST(sum(CAST(round(cos * 1000000) AS BIGINT)) AS BIGINT) // count(*)
         |   AS mean_cos_micros
         |FROM topk GROUP BY 1 ORDER BY mean_cos_micros, vec_id LIMIT 10""".stripMargin,
    "ann_hnsw_levels" ->
      s"""WITH $duckE,
         |$duckLevels
         |SELECT level, count(*) AS n_nodes FROM lv GROUP BY 1""".stripMargin,
    "ann_graph_hnsw_layers" -> duckHnswLayersSql,
    "ann_hnsw_layer_mass" ->
      s"""WITH $duckE,
         |$duckLevels,
         |hist AS (SELECT level, count(*) AS cl FROM lv GROUP BY 1),
         |mem AS (SELECT l AS layer, CAST(sum(cl) AS BIGINT) AS n_members
         |        FROM (SELECT unnest(generate_series(0, level)) AS l, cl FROM hist)
         |        GROUP BY 1),
         |n0 AS (SELECT count(*) AS n FROM e)
         |SELECT layer, n_members,
         | n // (CAST(1 AS BIGINT) << CAST(2 * layer AS INTEGER)) AS expected_n,
         | n_members * 1000000 // greatest(n // (CAST(1 AS BIGINT) << CAST(2 * layer AS INTEGER)), 1) AS mass_ratio_micros
         |FROM mem, n0""".stripMargin,
    "ann_nsw_cell_stats" ->
      s"""WITH $duckE,
         |c AS (SELECT vec_id AS cid, v FROM e WHERE vec_id <
         |        greatest(8, CAST(floor(sqrt((SELECT count(*) FROM e))) AS BIGINT))),
         |sc AS (SELECT x.vec_id, y.cid, round($duckCosPair, 6) AS cscore
         |       FROM e x JOIN (SELECT cid, v FROM c) y ON true),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
         |          ORDER BY cscore DESC, cid) AS rn FROM sc) WHERE rn <= 3),
         |occ AS (SELECT cid, count(*) AS occ FROM asg GROUP BY cid)
         |SELECT CAST(length(bin(occ)) AS BIGINT) AS occ_bits,
         | count(*) AS n_cells, min(occ) AS min_occ, max(occ) AS max_occ,
         | CAST(sum(occ) AS BIGINT) AS n_assignments
         |FROM occ GROUP BY 1""".stripMargin,
    "knn_join" ->
      s"""WITH $duckE,
         |qs AS (SELECT vec_id AS q_id, v FROM e WHERE vec_id < 100)
         |SELECT q_id, nb_id, score, rn FROM (
         | SELECT y.q_id, x.vec_id AS nb_id, round($duckCosPair, 6) AS score,
         |  row_number() OVER (PARTITION BY y.q_id
         |    ORDER BY round($duckCosPair, 6) DESC, x.vec_id) AS rn
         | FROM e x JOIN qs y ON x.vec_id != y.q_id)
         |WHERE rn <= 3""".stripMargin,
  )
}
