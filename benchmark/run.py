#!/usr/bin/env python3
"""The graft benchmark: serve and build workloads.

    python3 benchmark/run.py --workload serve|build --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds graft and the
benchmark runner from source with sbt (benchmark/build.sbt) and caches
the classpath in .bench_build/; later runs start the runner JVM directly.
Inputs are generated from the seed (corpus.py) and cached per
(seed, size). The runner runs one workload on one local[4] Spark
session; this script then checks its outputs outside the timed region
(recall@4 against exact brute force, oracle SQL through tools/gatelib)
and prints a report, then one JSON line as the last line of stdout:

  --trace 0: every end-to-end metric;
  --trace 1: every per-layer metric, from a traced run of the workload
             that follows an untraced run of the same inputs; the
             difference between the two is the tracing overhead.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import corpus  # noqa: E402

# Per-workload sizes and rates. The serve rate is about half the read
# capacity measured with 4 workers; the latency limit is pinned. The
# serve mix follows the reference's request path (METRICS.md): per two
# requests answered by walks, one unfiltered walk each (flat, then
# layered) and k = 3 article-filtered walks each; per two requests
# answered by the two-level plan, one searchFromIndex each.
PARAMS = {
    "serve": {"docs": 400, "rate": 2.5, "warm_cycles": 3, "check_queries": 120,
              "mix": ["flat", "filtered", "filtered", "filtered", "search",
                      "hnsw", "filtered", "filtered", "filtered", "search"]},
    "build": {"docs": 1200, "batch": 60, "check_reads": 20, "check_queries": 480},
}
READ_LIMIT_MS = 2500.0
JVM_TIMEOUT_S = 170
FILTER_MOD, FILTER_RES = 5, 2

LAYERS = {
    "ann_walk": ["self_ms", "jobs", "driver_gap_ms", "task_cpu_ms"],
    "semantic_search": ["self_ms", "jobs", "plan_ms"],
    "ann_publish": ["self_ms", "jobs", "bytes_written"],
    "ann_insert": ["self_ms", "jobs", "shuffle_mb", "driver_gap_ms"],
    "ann_build": ["self_ms", "jobs", "shuffle_write_mb", "spill_mb", "task_cpu_ms", "cpu_util"],
    "index_builder": ["self_ms", "bytes_written", "files_written"],
    "chunking": ["self_ms", "rows_out"],
    "dedup": ["self_ms", "shuffle_mb", "candidate_pairs", "verified_pairs", "verify_yield"],
    "text_analysis": ["self_ms"],
}
EVERY_SPAN = ["plan_ms", "codegen_compiles", "codegen_ms", "stages"]
KERNELS = ["fvec_dot", "fvec_avg", "minhash_sigs", "word_ngram_hashes", "ivf_assign"]
UNITS = {"self_ms": "ms", "driver_gap_ms": "ms", "task_cpu_ms": "ms", "plan_ms": "ms",
         "codegen_ms": "ms", "jobs": "count", "stages": "count", "codegen_compiles": "count",
         "bytes_written": "bytes", "files_written": "count", "rows_out": "count",
         "shuffle_mb": "MB", "shuffle_write_mb": "MB", "spill_mb": "MB", "cpu_util": "ratio",
         "candidate_pairs": "count", "verified_pairs": "count", "verify_yield": "ratio"}
E2E_UNITS = {"setup_s": "s", "read_p50_ms": "ms", "read_slo_ratio": "ratio",
             "write_p50_ms": "ms", "write_amp": "ratio", "wall_s": "s", "recall_at_4": "ratio",
             "storage_mb": "MB"}
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"benchmark: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True) +
                   [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project/build.properties")])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Build with sbt when the sources changed; return the runtime classpath."""
    if not glob.glob(os.path.join(ROOT, "src/main/scala/graft/*.scala")):
        fail("graft sources (src/main/scala) not found: run from the root of a checkout")
    stamp = os.path.join(WORK, "classpath.json")
    digest = sources_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got["digest"] == digest:
            return got["classpath"]
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        # no sbt server and no boot-directory lock: the build writes only
        # inside the checkout
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.autostart=false", "-Dsbt.boot.lock=false",
                            f"-Djna.tmpdir={WORK}/tmp", "compile", "export Runtime/fullClasspath"],
                           cwd=HERE, stdout=out, stderr=subprocess.STDOUT, timeout=840)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = [l for l in lines if "scala-2.13/classes" in l and ":" in l and not l.startswith("[")]
    if r.returncode != 0 or not cp:
        fail(f"build failed, see {log}")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp[-1]}, f)
    return cp[-1]


def run_bench(cp, workload, inputs, info, work, seconds, trace):
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    heap = os.environ.get("SPARK_DRIVER_MEM", "3g")
    cmd = (["java", f"-Xmx{heap}", "-XX:+UseParallelGC", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.sql.session.timeZone=UTC"] +
           [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", cp, "graft.bench.Main", "--workload", workload, "--corpus", info["corpus"],
            "--inputs", inputs, "--work", work, "--seconds", str(seconds),
            "--trace", str(trace)])
    env = dict(os.environ, GRAFT_ARTIFACT_DIR=os.path.join(work, "artifacts"))
    with open(os.path.join(work, "bench.log"), "w") as log:
        try:
            r = subprocess.run(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"runner timed out after {JVM_TIMEOUT_S}s, see {work}/bench.log")
    if r.returncode != 0:
        fail(f"runner exited {r.returncode}, see {work}/bench.log")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def exact_top4(vectors, labels, q, filtered):
    sims = vectors.astype(np.float64) @ q.astype(np.float64) / np.linalg.norm(vectors, axis=1)
    if filtered:
        sims = np.where(labels % FILTER_MOD == FILTER_RES, sims, -np.inf)
    return set(np.argsort(-sims, kind="stable")[:4].tolist())


def oracle_checks(res, info, work):
    """Compare the runner's dumps with the oracle SQL on the corpus."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import gatelib
    out = {}
    con = duckdb.connect()
    gatelib.register_views(con, info["corpus"])
    for key, sql in res.get("oracle_sql", {}).items():
        exp = con.sql(sql).df()
        got = gatelib.load_result(os.path.join(work, "dumps"), key)
        status, _, _ = gatelib.compare(got, exp)
        out[key] = status or f"ok ({len(got)} rows)"
    con.close()
    return out


def pct(xs, q):
    return float(np.percentile(np.asarray(xs, dtype=float), q)) if len(xs) else float("nan")


def recall(vectors, labels, q, ids, filtered):
    return len(exact_top4(vectors, labels, q, filtered) & set(ids)) / 4.0


def evaluate(workload, res, info, work):
    """End-to-end metrics, failure counts and output checks of one run."""
    reads = res["ops"]
    checks = oracle_checks(res, info, work)
    if workload == "serve":
        vecs, labs = info["vectors"], info["labels"]
        dump = corpus.pq.read_table(os.path.join(work, "dumps", "search_from_index")).to_pandas()
        search_ref = dump.sort_values(["doc_score", "label"], ascending=[False, True])["label"].tolist()
    else:
        # build reads the generation published after the batch
        vecs, labs = info["final_vectors"], info["final_labels"]
        want_docs = len(np.unique(labs))
        checks["upsert"] = (f"ok ({len(vecs)} chunks, {want_docs} docs)"
                            if (res["index_rows"], res["index_docs"]) == (len(vecs), want_docs) else
                            f"index holds {res['index_rows']} chunks / {res['index_docs']} docs, "
                            f"expected {len(vecs)} / {want_docs}")
    wrong, timed_recalls = [], []
    for o in reads:
        ids, filt = o["ids"], o["kind"] == "filtered"
        if not o["ok"]:
            bad = True
        elif o["kind"] == "search":
            bad = ids != search_ref
        else:
            # a filtered walk returns the passing nodes it scored, so it
            # may return fewer than k (graft's contract); that counts
            # against recall, not as a wrong result
            bad = len(set(ids)) != len(ids) or (len(ids) > 4 if filt else len(ids) != 4) or (
                filt and any(labs[i] % FILTER_MOD != FILTER_RES for i in ids))
            timed_recalls.append(recall(vecs, labs, info["queries"][o["arg"]], ids, filt))
        wrong.append(bad)
    # recall_at_4 comes from the check batches: one walk per kind over many
    # queries on a fixed state, so it repeats exactly for a seed
    recalls = [recall(vecs, labs, info["queries"][int(q)], ids, kind == "filtered")
               for kind, got in res["check"].items() for q, ids in got.items()]
    if workload == "serve":
        lat = [o["end_ms"] - o["due_ms"] for o in reads]
    else:
        lat = [o["end_ms"] - o["start_ms"] for o in reads]
    in_limit = sum(l <= READ_LIMIT_MS and not w for l, w in zip(lat, wrong))
    vec_bytes = len(info["vectors"]) * corpus.DIM * 4
    m = {
        "setup_s": res["setup_s"],
        "read_p50_ms": pct(lat, 50),
        "read_slo_ratio": in_limit / len(reads),
        "recall_at_4": float(np.mean(recalls)),
        "storage_mb": res["storage_mb"],
    }
    if workload == "serve":
        m["write_p50_ms"] = res["publish_s"] * 1000
        m["write_amp"] = res["bytes_published"] / vec_bytes
        m["wall_s"] = res["timed_wall_s"]
        iv = sorted((o["start_ms"], o["end_ms"]) for o in reads)
        covered, end = 0.0, -1e18
        for a, b in iv:
            covered += max(0.0, b - max(a, end))
            end = max(end, b)
        busy = 100.0 * covered / (res["timed_wall_s"] * 1000.0)
    else:
        batch_bytes = PARAMS[workload]["batch"] * corpus.DIM * 4
        m["write_p50_ms"] = res["write_s"] * 1000
        m["write_amp"] = res["bytes_published"] / batch_bytes
        m["wall_s"] = res["wall_s"]
        busy = 100.0  # the pipeline is always in flight
    # build: the reads and the pipeline
    attempted = len(reads) + (1 if workload == "build" else 0)
    failed = sum(wrong)
    correct = failed == 0 and all(v.startswith("ok") for v in checks.values())
    early = [o["start_ms"] - o["due_ms"] for o in reads if o["early"]]
    # the tail is reported, not gated: even with 100 reads a run, serve's
    # read_p90_ms spread 0.14-0.22 of its median over seeds (METRICS.md)
    extra = {"reads": len(reads), "failed_ratio": failed / attempted,
             "read_p90_ms": pct(lat, 90),
             "gen_late_p95_ms": pct(early, 95) if early else 0.0, "busy_pct": busy,
             "read_mean_ms": float(np.mean(lat)),
             "timed_recall": float(np.mean(timed_recalls)), "checks": checks}
    return m, attempted, failed, correct, extra


def per_layer(res, extra, overhead_pct):
    """Per-layer metrics of a traced run, with its tracing overhead."""
    layers, counters, out = res["layers"], res["counters"], {}
    for name, metrics in LAYERS.items():
        row = layers.get(name, {})
        for k in metrics + EVERY_SPAN:
            if k == "cpu_util":
                busy = row.get("self_ms", 0.0) * 4
                v = row.get("task_cpu_ms", 0.0) / busy if busy else 0.0
            elif k == "verify_yield":
                c = counters.get("dedup.candidate_pairs", 0.0)
                v = counters.get("dedup.verified_pairs", 0.0) / c if c else 0.0
            else:
                v = counters.get(f"{name}.{k}", row.get(k, 0.0))
            out[f"{name}.{k}"] = (v, UNITS[k])
    for k in KERNELS:
        out[f"kernel.{k}.ns_per_row"] = (res["kernels"].get(f"kernel.{k}.ns_per_row", 0.0), "ns")
    out["harness.gen_late_p95_ms"] = (extra["gen_late_p95_ms"], "ms")
    # the layer spans account for the timed region: the share of it with
    # a span open, against the share with an operation in flight (the
    # build pipeline is always in flight)
    out["harness.span_cover_pct"] = (res["span_cover_pct"], "%")
    out["harness.busy_pct"] = (extra["busy_pct"], "%")
    out["harness.trace_overhead_pct"] = (overhead_pct, "%")
    return out


def primary(workload, m, extra):
    """The time the tracing overhead is measured on."""
    return m["wall_s"] if workload == "build" else extra["read_mean_ms"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(PARAMS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a SIGTERM unwinds like an exception, so subprocess.run kills and
    # reaps the runner JVM before this process exits
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cp = classpath()
    inputs = os.path.join(WORK, "inputs", f"{a.workload}-s{a.seed}-t{a.seconds:g}")
    # the corpus cache is keyed by the generator's source too, so an edit
    # to corpus.py never reuses a corpus it would no longer generate
    with open(os.path.join(HERE, "corpus.py"), "rb") as f:
        gen = hashlib.sha256(f.read()).hexdigest()[:12]
    info = corpus.write_inputs(inputs, a.workload, PARAMS[a.workload], a.seed, a.seconds,
                               os.path.join(WORK, "corpus", gen))
    # a traced run follows an untraced run of the same inputs, each in its
    # own JVM: the difference is the tracing overhead
    attempted = failed = 0
    correct = True
    for trace in range(a.trace + 1):
        work = os.path.join(WORK, "work", a.workload + ("-traced" if trace else ""))
        res = run_bench(cp, a.workload, inputs, info, work, a.seconds, trace)
        m, n, bad, ok, extra = evaluate(a.workload, res, info, work)
        attempted, failed, correct = attempted + n, failed + bad, correct and ok
        print(f"workload {a.workload} seed {a.seed}{' (traced)' if trace else ''}: "
              f"{extra['reads']} reads, read_p90_ms {extra['read_p90_ms']:.1f}, "
              f"failed_ratio {extra['failed_ratio']:.4f}, "
              f"recall of timed walks {extra['timed_recall']:.4f}")
        for k, v in extra["checks"].items():
            print(f"  check {k}: {v}")
        if trace:
            base = primary(a.workload, m0, extra0)
            out = per_layer(res, extra, (primary(a.workload, m, extra) - base) / base * 100.0)
            with open(os.path.join(work, "layers.json"), "w") as f:
                json.dump({k: {"value": v, "unit": u} for k, (v, u) in out.items()}, f, indent=1)
        else:
            m0, extra0 = m, extra
            out = {k: (v, E2E_UNITS[k]) for k, v in m.items()}
        for k, (v, u) in out.items():
            print(f"  {k:40s} {v:14.4f} {u}")
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in out.items()}
    print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
