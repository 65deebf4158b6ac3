"""Seeded input generator for the `corpus` workload.

Writes the 10x near-duplicate corpus the workload builds from: a parquet
table of documents, a parquet table of 64-d embeddings with the schema of
the repo's `embeddings` testdata, and `corpus_truth.json` with the
exact-copy groups the output checks use. Every value derives from the
seed, so the same seed gives byte-identical files. (The `ingest` workload
generates its batches inside the JVM.)
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark line small fast group customer batch sort value hash filter big "
         "data dup query row stream the part column order scan a slow agg key "
         "window table merge vector join").split()
DIM = 64
BASE_DOCS = 500   # distinct documents before copying
BASE_VECS = 200   # distinct vectors before copying
FACTOR = 10       # corpus size = FACTOR x base
PROBES = 12       # kNN probes per corpus round


def _write(out, name, table):
    # one row group per file, like the repo's testdata: one scan split
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows))


def _doc_text(rng, n):
    lens = rng.integers(8, 100, n)
    return [" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k)) for k in lens]


def _unit_vectors(rng, labels, centers):
    v = centers[labels] + rng.normal(0.0, 0.6, (len(labels), DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _emb_table(ids, vecs, labels):
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, len(ids) * DIM + 1, DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(ids, type=pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels, type=pa.int32()),
    })


def generate(seed, out):
    """The 10x corpus: every base item gets 0-2 exact copies under fresh ids;
    the rest of the 10x budget is perturbed copies (word swaps for text,
    Gaussian jitter for vectors). Returns row counts and file sizes."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    centers = rng.normal(0.0, 1.0, (10, DIM))

    texts = _doc_text(rng, BASE_DOCS)
    n_total = BASE_DOCS * FACTOR
    copies = rng.integers(0, 3, BASE_DOCS)
    src = np.concatenate([np.arange(BASE_DOCS), np.repeat(np.arange(BASE_DOCS), copies)])
    pert_src = rng.integers(0, BASE_DOCS, n_total - len(src))
    all_text = [texts[i] for i in src]
    for i in pert_src:
        w = texts[i].split()
        for j in rng.integers(0, len(w), 1 + len(w) // 8):
            w[j] = WORDS[rng.integers(0, len(WORDS))]
        all_text.append(" ".join(w))
    order = rng.permutation(n_total)  # fresh ids: copies do not sit next to their source
    _write(out, "corpus_docs", pa.table({"doc_id": pa.array(order, type=pa.int64()),
                                         "text": all_text}))
    groups = {}
    for doc_id, t in zip(order.tolist(), all_text):
        groups.setdefault(t, []).append(doc_id)
    doc_groups = [sorted(g) for g in groups.values() if len(g) > 1]

    labels = rng.integers(0, 10, BASE_VECS)
    vecs = _unit_vectors(rng, labels, centers)
    v_total = BASE_VECS * FACTOR
    vcopies = rng.integers(0, 3, BASE_VECS)
    vsrc = np.concatenate([np.arange(BASE_VECS), np.repeat(np.arange(BASE_VECS), vcopies)])
    vpert = rng.integers(0, BASE_VECS, v_total - len(vsrc))
    jitter = rng.normal(0.0, 0.05, (len(vpert), DIM)).astype(np.float32)
    all_vecs = np.concatenate([vecs[vsrc], vecs[vpert] + jitter])
    all_labels = np.concatenate([labels[vsrc], labels[vpert]])
    vorder = rng.permutation(v_total)
    _write(out, "corpus_embeddings", _emb_table(vorder, all_vecs, all_labels))
    # probe queries: base vectors with their exact-copy id sets
    vec_groups = {}
    for vid, s in zip(vorder[:len(vsrc)].tolist(), vsrc.tolist()):
        vec_groups.setdefault(s, []).append(vid)
    probe_src = rng.choice(BASE_VECS, PROBES, replace=False)
    probes = [{"query": vecs[s].astype(np.float64).tolist(),
               "copies": sorted(vec_groups[int(s)])} for s in probe_src]
    with open(os.path.join(out, "corpus_truth.json"), "w") as f:
        json.dump({"doc_groups": doc_groups, "probes": probes}, f)

    sizes = {f[:-8]: os.path.getsize(os.path.join(out, f))
             for f in os.listdir(out) if f.endswith(".parquet")}
    return {"rows": {"corpus_docs": n_total, "corpus_embeddings": v_total}, "bytes": sizes}
