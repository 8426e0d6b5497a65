package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Graft
import graft.operators._

/** `serve`: Q=1 read requests at a fixed arrival rate against published
  * generations — the flat walk, the layered walk, the label-filtered
  * layered walk and the two-level `searchFromIndex`.
  */
final class Serve(cfg: Main.Cfg, tr: Tracer) {
  import Main._

  /** Loaded serving state of one session. */
  final case class State(flatAdj: DataFrame, flatEntry: DataFrame, hnswAdj: DataFrame,
                         hnswEntry: DataFrame, maxLevel: Long, bytes: Long)

  /** Publish the three generations and load them for serving. */
  def publish(s: SparkSession): State = {
    val dir = cfg.corpus
    tr.span("ann_build") { Ann.hnswGraph(s, dir).count() }
    val (fa, fe) = tr.span("ann_publish") {
      val (a, e) = Ann.writtenGraphGen(s, dir)
      a.count(); e.count(); (a, e)
    }
    val ha = tr.span("ann_publish") { val a = Ann.writtenHnswGen(s, dir); a.count(); a }
    val (he, ml) = tr.span("ann_publish") {
      val (e, l) = Ann.hnswEntryState(s, dir); e.count(); (e, l)
    }
    tr.span("index_builder") {
      val (m, c) = IndexBuilder.writtenIndex(s, dir); m.count(); c.count()
    }
    val root = Graft.artifactRoot
    tr.count("index_builder.files_written", fileCount(s"$root/graft_index"))
    val bytes = Seq("graft_gen", "graft_hnsw_gen", "graft_index").map(d => dirBytes(s"$root/$d")).sum
    State(fa, fe, ha, he, ml, bytes)
  }

  /** Run one read op; its spans carry the request id `<prefix><op index>`. */
  def request(s: SparkSession, st: State, qs: Array[(Long, Array[Float])], op: Op,
              prefix: String): Unit = {
    val req = s"$prefix${op.i}"
    op.kind match {
      case "search" =>
        val rows = tr.span("semantic_search", req) { SemanticSearch.searchFromIndex(s, cfg.corpus).collect() }
        op.ids = rows.map(_.getAs[Int]("label").toLong).toSeq
      case kind =>
        val rows = tr.span("ann_walk", req) { walk(s, st, kind, batchFrame(s, qs, Seq(op.arg))).collect() }
        op.ids = rankedIds(rows)
    }
  }

  /** The flat, layered or label-filtered walk of a query frame. */
  def walk(s: SparkSession, st: State, kind: String, q: DataFrame): DataFrame = kind match {
    case "flat" => Ann.beamSearchBatch(s, st.flatAdj, st.flatEntry, q, K, Beam, Rounds)
    case "hnsw" => Ann.hnswWalkDriverOver(s, st.hnswAdj, st.hnswEntry, st.maxLevel, q, K, Beam, Rounds)
    case "filtered" => Ann.hnswWalkFilteredDriver(s, cfg.corpus, st.hnswAdj, q, K, Beam, Rounds,
      Ann.GraphSearchFilterMod, Ann.GraphSearchFilterRes)
  }

  def run(): Map[String, Any] = {
    val qs = loadQueries(cfg.inputs)
    val ops = loadSchedule(cfg.inputs, "schedule.csv")
    val t0 = System.nanoTime()
    val s = session(cfg.work)
    tr.attach(s)
    val tp = System.nanoTime()
    val st = publish(s)
    val publishS = secs(tp)
    // fixed warm-up: whole cycles of the mix on the workers, every op due
    // at once; the first ops of each kind after a one-op warm-up still ran
    // up to twice as slow as later ones
    val warm = loadSchedule(cfg.inputs, "warmup.csv")
    openLoop(warm, Workers, System.nanoTime())(op => request(s, st, qs, op, "w"))
    warm.find(!_.ok).foreach(op => throw new IllegalStateException(s"warm-up ${op.kind}: ${op.err}"))
    val setupS = secs(t0)
    val storage = storageMb(s)
    val tt = System.nanoTime()
    openLoop(ops, Workers, tt)(op => request(s, st, qs, op, "r"))
    val wall = secs(tt)
    val t1 = System.nanoTime()
    tr.detach(s)
    // outside the timed region: the recall batches and the flagship
    // result for the oracle
    val checks = checkWalks(cfg.inputs, s, qs)((kind, q) => walk(s, st, kind, q))
    SemanticSearch.searchFromIndex(s, cfg.corpus).write.mode("overwrite")
      .parquet(s"${cfg.work}/dumps/search_from_index")
    val out = Map[String, Any](
      "setup_s" -> setupS, "publish_s" -> publishS, "storage_mb" -> storage,
      "bytes_published" -> st.bytes, "timed_wall_s" -> wall, "ops" -> ops.map(opJson),
      "check" -> checks,
      "layers" -> tr.layers(t0, t1), "span_cover_pct" -> tr.coverPct(tt, t1),
      "counters" -> tr.counterMap,
      "kernels" -> (if (cfg.trace) Kernels.run(s) else Map.empty))
    stop(s)
    out
  }
}
