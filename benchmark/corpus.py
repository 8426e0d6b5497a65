"""Seeded corpus and request-stream generator for the graft benchmark.

A corpus is a set of documents, each split into paragraphs; every
paragraph is one chunk with a 64-dim embedding. It is written in the
testdata schema graft reads:

  documents.parquet   doc_id bigint, text, lang, source, n_chars bigint
  embeddings.parquet  vec_id bigint (dense from 0), embedding float[64],
                      label int (the owning doc_id)

Vectors cluster by topic, then by document, so graph walks need several
rounds to converge. A seeded share of documents are near-duplicates of
an earlier document: the text with a graded share of its words changed
(from a few to half), and the chunk vectors with a little noise. So some
MinHash candidate pairs pass verification and some do not. Nothing is a
replica of the whole corpus.

The same (seed, size) always gives byte-identical arrays; the files are
cached per (seed, size) by the caller.

A run's corpus is generated from CORPUS_SEED, the same for every run;
the run's --seed draws everything else: the query vectors, the arrival
schedule, the mix offset and build's insert batch. Corpora drawn per
run seed differed enough to swamp the bounds: over five seeds, serve's
filtered-walk median ranged 681-864 ms, and over ten, build's pipeline
spread 0.10 to 0.16 of its median, against 0.08 to 0.10 on one corpus.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
CORPUS_SEED = 1
# vectors live near a 16-dim subspace of the 64 dims, as text embeddings
# do: topics, then documents, then chunks, each a gaussian step in it
INTRINSIC = 16
TOPICS = 64
LAYOUT_SEED = 20240607
NEAR_DUP_SHARE = 0.06
# share of words a near-duplicate changes, drawn uniformly per document
DUP_EDIT = (0.02, 0.5)
LANG_MARKERS = {
    "de": ["der", "die", "das", "und"],
    "fr": ["le", "la", "et", "les"],
    "es": ["el", "los", "las", "y"],
}
SYLLABLES = ["ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "ve", "zu",
             "an", "el", "or", "im", "us", "ba", "co", "de", "fi", "gu"]


def _unit(x):
    return (x / np.linalg.norm(x, axis=-1, keepdims=True)).astype(np.float32)


def _noise(rng, shape, norm):
    """Gaussian noise whose expected vector norm is `norm`."""
    return norm / np.sqrt(DIM) * rng.standard_normal(shape)


def _vocab(rng, n=3000):
    words = ["the", "a", "of", "is"]
    seen = set(words)
    while len(words) < n:
        k = int(rng.integers(2, 5))
        w = "".join(SYLLABLES[i] for i in rng.integers(0, len(SYLLABLES), k))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words, dtype=object)


def make_corpus(seed, n_docs):
    """Return (documents dict, vec_ids, labels, vectors) for n_docs docs."""
    rng = np.random.default_rng([seed, n_docs])
    vocab = _vocab(rng)
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    zipf /= zipf.sum()
    # the topic layout is part of the corpus model, not of the sample: it
    # is the same for every seed, so seeds differ only in the documents
    layout = np.random.default_rng(LAYOUT_SEED)
    basis = np.linalg.qr(layout.standard_normal((DIM, INTRINSIC)))[0].T
    topics = layout.standard_normal((TOPICS, INTRINSIC))
    doc_center = topics[rng.integers(0, TOPICS, n_docs)] + \
        0.5 * rng.standard_normal((n_docs, INTRINSIC))
    n_par = rng.integers(2, 7, n_docs)
    dup_of = np.where(rng.random(n_docs) < NEAR_DUP_SHARE,
                      (rng.random(n_docs) * np.arange(n_docs)).astype(np.int64), -1)
    dup_of[0] = -1
    langs = rng.choice(["en", "en", "en", "en", "de", "fr", "es"], n_docs)
    texts, vecs, labels = [], [], []
    for d in range(n_docs):
        src = dup_of[d]
        if src >= 0:
            # near-duplicate: a graded share of the words replaced, chunk
            # vectors perturbed a little, same paragraph count as the source
            words = texts[src].split(" ")
            flip = rng.random(len(words)) < rng.uniform(*DUP_EDIT)
            repl = vocab[rng.choice(len(vocab), int(flip.sum()), p=zipf)]
            for i, w in zip(np.flatnonzero(flip), repl):
                words[i] = w if "\n" not in words[i] and "." not in words[i] else words[i]
            texts.append(" ".join(words))
            base = vecs[src]
            vecs.append(_unit(base + _noise(rng, base.shape, 0.03)))
            langs[d] = langs[src]
            n_par[d] = len(base)
        else:
            paras = []
            for _ in range(n_par[d]):
                sents = []
                for _ in range(int(rng.integers(2, 5))):
                    ws = list(vocab[rng.choice(len(vocab), int(rng.integers(6, 15)), p=zipf)])
                    if langs[d] in LANG_MARKERS:
                        ws += list(rng.choice(LANG_MARKERS[langs[d]], 4))
                    sents.append(" ".join(ws))
                paras.append(". ".join(sents))
            texts.append("\n".join(paras))
            z = doc_center[d] + 0.35 * rng.standard_normal((n_par[d], INTRINSIC))
            vecs.append(_unit(z @ basis + _noise(rng, (n_par[d], DIM), 0.2)))
        labels.append(np.full(n_par[d], d, dtype=np.int32))
    # vec_ids are dense from 0 and in seeded random order: graft samples
    # centroids and entry points as a vec_id threshold, which assumes ids
    # carry no content order
    order = rng.permutation(int(n_par.sum()))
    vectors = np.concatenate(vecs)[order]
    docs = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": list(langs),
        "source": [f"src{d % 20}" for d in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    return docs, np.arange(len(vectors), dtype=np.int64), np.concatenate(labels)[order], vectors


def vector_table(vec_ids, labels, vectors):
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vectors.reshape(-1), pa.float32()), DIM)
    return pa.table({
        "vec_id": pa.array(vec_ids, pa.int64()),
        # graft reads embedding as array<float>: a variable-size list
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def query_vectors(rng, vectors, n, noise=0.2):
    """n query vectors near seeded corpus members (not equal to any)."""
    pick = rng.integers(0, len(vectors), n)
    return _unit(vectors[pick] + _noise(rng, (n, DIM), noise))


def write_corpus(out_dir, seed, n_docs):
    """Write documents + embeddings under out_dir once per (seed, size);
    return (labels, vectors, n_docs)."""
    docs, vec_ids, labels, vectors = make_corpus(seed, n_docs)
    if not os.path.exists(os.path.join(out_dir, "_COMPLETE")):
        os.makedirs(out_dir, exist_ok=True)
        pq.write_table(pa.table(docs), os.path.join(out_dir, "documents.parquet"))
        pq.write_table(vector_table(vec_ids, labels, vectors),
                       os.path.join(out_dir, "embeddings.parquet"))
        open(os.path.join(out_dir, "_COMPLETE"), "w").close()
    return labels, vectors, n_docs


def _schedule_lines(rows):
    return "".join(f"{due:.3f},{kind},{arg}\n" for due, kind, arg in rows)


def poisson_dues(rng, rate, seconds):
    """Arrival times (ms) of a Poisson process at `rate`/s over `seconds`,
    conditioned on its expected count: given the count, Poisson arrivals
    are uniform order statistics. Fixing the count keeps the bursts but
    gives every run the same load."""
    n = round(rate * seconds)
    return np.sort(rng.uniform(0.0, seconds * 1000.0, n))


def write_inputs(dest, workload, p, seed, seconds, corpus_root):
    """Write one run's inputs under dest: the schedule, warm-up and check
    query lists, the query vectors and, for build, the incremental
    batch. Return what run.py needs to check the run."""
    os.makedirs(dest, exist_ok=True)
    corpus = os.path.join(corpus_root, f"s{CORPUS_SEED}-d{p['docs']}")
    labels, vectors, n_docs = write_corpus(corpus, CORPUS_SEED, p["docs"])
    rng = np.random.default_rng([seed, 7, p["docs"]])
    info = {"corpus": corpus, "labels": labels, "vectors": vectors}
    if workload == "serve":
        # the request kinds cycle through a fixed mix from a seeded offset,
        # so every run serves the same proportions
        mix = p["mix"]
        kinds = list(dict.fromkeys(mix))
        dues = poisson_dues(rng, p["rate"], seconds)
        start = int(rng.integers(0, len(mix)))
        kind = [mix[(start + i) % len(mix)] for i in range(len(dues))]
        walks = [k for k in kinds if k != "search"]
        n_check = p["check_queries"] * len(walks)
        # the warm-up runs the whole mix, warm_cycles times
        warm_kinds = mix * p["warm_cycles"]
        qs = query_vectors(rng, vectors, len(warm_kinds) + len(dues) + n_check)
        warm = [(0.0, k, i) for i, k in enumerate(warm_kinds)]
        off = len(warm)
        sched = [(d, k, off + i) for i, (d, k) in enumerate(zip(dues, kind))]
        off += len(sched)
        check = [(0.0, walks[i % len(walks)], off + i) for i in range(n_check)]
    else:  # build
        # the incremental stage's batch
        info["final_vectors"], info["final_labels"] = _write_batch(
            dest, rng, p["batch"], vectors, labels, n_docs)
        qs = query_vectors(rng, info["final_vectors"], p["check_reads"] + p["check_queries"])
        warm = []
        sched = [(0.0, "hnsw", i) for i in range(p["check_reads"])]
        check = [(0.0, "hnsw", p["check_reads"] + i) for i in range(p["check_queries"])]
    qs.astype("<f4").tofile(os.path.join(dest, "queries.bin"))
    with open(os.path.join(dest, "warmup.csv"), "w") as f:
        f.write(_schedule_lines(warm))
    with open(os.path.join(dest, "schedule.csv"), "w") as f:
        f.write(_schedule_lines(sched))
    with open(os.path.join(dest, "check.csv"), "w") as f:
        f.write(_schedule_lines(check))
    info["queries"] = qs
    return info


def _write_batch(dest, rng, b, base_v, base_l, next_doc):
    """One insert batch of b chunks after the stored vectors base_v, in
    dense id order:
    near-duplicates of stored chunks, new chunks of stored documents and
    chunks of new documents. Writes batch.parquet (the graph insert) and
    upsert.parquet (every touched document with all its chunks, since an
    upsert replaces whole documents). Returns the grown vectors and
    labels."""
    kind = rng.random(b)
    src = rng.integers(0, len(base_v), b)
    noise = np.where(kind < 0.2, 0.03, 0.6)[:, None]
    v = _unit(base_v[src] + noise * _noise(rng, (b, DIM), 1.0))
    lab = base_l[src].copy()
    new_doc = kind > 0.7
    lab[new_doc] = next_doc + np.arange(int(new_doc.sum())) // 3
    ids = np.arange(len(base_v), len(base_v) + b, dtype=np.int64)
    pq.write_table(vector_table(ids, lab, v), os.path.join(dest, "batch.parquet"))
    all_v, all_l = np.concatenate([base_v, v]), np.concatenate([base_l, lab])
    touched = np.flatnonzero(np.isin(all_l, np.unique(lab)))
    t = vector_table(touched.astype(np.int64), all_l[touched], all_v[touched])
    pq.write_table(pa.table({"doc_key": t["label"], "chunk_id": t["vec_id"],
                             "embedding": t["embedding"]}),
                   os.path.join(dest, "upsert.parquet"))
    return all_v, all_l
