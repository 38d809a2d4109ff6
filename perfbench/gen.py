"""Seeded input generator for the benchmark.

Writes sf0.1-shaped tables (the schemas of the engine's test data) for
one seed into a directory of the caller's choosing:

- documents.parquet/  `copies` files, one per seeded copy of a 5,000-row
  base corpus. Each copy rewrites the base through its own permutation
  of the vocabulary (a bijection on words), so every copy keeps the
  base's exact-duplicate and near-duplicate structure while its texts
  differ from every other copy's. Doc ids are `copy * 5000 + i`.
- embeddings.parquet  2,000 clustered 64-d unit vectors with labels.
- events.parquet, orders.parquet, customer.parquet at sf0.1 row counts.
- serve_docs.parquet, serve_vecs.parquet  documents and vectors that
  the serve workload appends to its indexes (ids from 1,000,000).

The same seed gives byte-identical files; `manifest.json` records each
file's size, rows and row groups.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_DOCS = 5000
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EXACT_DUPS = 8          # planted exact-duplicate pairs in the base corpus
NEAR_DUPS = 40          # planted near-duplicate pairs (one word changed)
NEAR_DUP_JACCARD = 0.8  # word-3-gram Jaccard a planted near-dup pair keeps
SERVE_ID0 = 1_000_000
ROW_GROUP = 1250


def _base_corpus(rng):
    """Word-index arrays for the base corpus plus the planted pairs."""
    lens = rng.integers(8, 100, size=BASE_DOCS)
    words = [rng.integers(len(VOCAB), size=n) for n in lens]
    # the last 2 × (EXACT_DUPS + NEAR_DUPS) docs become copies of
    # earlier ones, so the planted share is fixed by construction
    long_docs = np.flatnonzero(lens[:BASE_DOCS // 2] >= 40)
    srcs = rng.choice(long_docs, size=EXACT_DUPS + NEAR_DUPS, replace=False)
    dst0 = BASE_DOCS - (EXACT_DUPS + NEAR_DUPS)
    exact, near = [], []
    for j, s in enumerate(srcs):
        d = dst0 + j
        w = words[s].copy()
        if j >= EXACT_DUPS:
            # one word changes: at most 3 of the >= 38 word 3-grams
            # differ, and a bijection on words keeps that exactly
            p = rng.integers(len(w))
            w[p] = (w[p] + rng.integers(1, len(VOCAB))) % len(VOCAB)
            near.append((int(s), d))
        else:
            exact.append((int(s), d))
        words[d] = w
    return words, exact, near


def _shingles(text):
    w = text.split()
    return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}


def _jaccard(a, b):
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


def _dup_profile(texts, exact, near):
    """(distinct texts, planted near-dup pairs at/over the threshold)."""
    return (len(set(texts)),
            sum(_jaccard(texts[a], texts[b]) >= NEAR_DUP_JACCARD
                for a, b in near))


def _write(table, path, manifest, root, row_group=None):
    pq.write_table(table, path, row_group_size=row_group,
                   compression="snappy")
    meta = pq.ParquetFile(path).metadata
    manifest["files"].append({
        "file": os.path.relpath(path, root),
        "bytes": os.path.getsize(path),
        "rows": meta.num_rows,
        "row_groups": meta.num_row_groups})


def _documents(rng, out, copies, manifest):
    words, exact, near = _base_corpus(rng)
    langs = rng.choice(LANGS, size=BASE_DOCS, p=LANG_P)
    vocab = np.array(VOCAB, dtype=object)
    base = [" ".join(vocab[w]) for w in words]
    base_profile = _dup_profile(base, exact, near)
    assert base_profile == (BASE_DOCS - EXACT_DUPS, NEAR_DUPS), base_profile
    os.makedirs(os.path.join(out, "documents.parquet"))
    seen = set()
    for c in range(copies):
        perm = rng.permutation(len(VOCAB))
        texts = [" ".join(vocab[perm[w]]) for w in words]
        # a bijection on words keeps every duplicate relation
        assert _dup_profile(texts, exact, near) == base_profile, c
        seen.update(texts)
        ids = np.arange(BASE_DOCS, dtype=np.int64) + c * BASE_DOCS
        table = pa.table({
            "doc_id": ids,
            "text": texts,
            "lang": langs.tolist(),
            "source": [f"src{i % 20}" for i in range(BASE_DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
        _write(table, os.path.join(out, "documents.parquet",
                                   f"part-{c:03d}.parquet"), manifest, out,
               ROW_GROUP)
    # copies never collide with each other
    assert len(seen) == copies * base_profile[0], "cross-copy duplicate"
    manifest["documents"] = {
        "copies": copies, "rows_per_copy": BASE_DOCS,
        "distinct_texts_per_copy": base_profile[0],
        "exact_dup_pairs_per_copy": EXACT_DUPS,
        "near_dup_pairs_per_copy": base_profile[1]}


def _vectors(rng, n, centroids, id0):
    labels = rng.integers(len(centroids), size=n)
    v = centroids[labels] + rng.normal(0.0, 0.08, size=(n, centroids.shape[1]))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64) + id0,
        "embedding": pa.array(list(v.astype(np.float32)),
                              type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})


def _events(rng):
    n = 100_000
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span = 30 * 86400 * 1_000_000
    ts = t0 + np.sort(rng.integers(0, span, size=n)).astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, size=n).astype(np.int64),
        "event_type": rng.choice(
            ["click", "view", "purchase", "signup", "error"], size=n).tolist(),
        "value": np.round(rng.exponential(50.0, size=n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]})


def _orders(rng):
    n = 150_000
    d0 = np.datetime64("1995-01-01", "D")
    days = rng.integers(0, 2404, size=n).astype("timedelta64[D]")
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, 15_000, size=n).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], size=n).tolist(),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, size=n), 2),
        "o_orderdate": pa.array((d0 + days).astype("datetime64[us]"),
                                type=pa.timestamp("us")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            size=n).tolist()})


def _customer(rng):
    n = 15_000
    return pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, size=n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, size=n), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            size=n).tolist()})


def generate(out, seed, copies):
    """Write every table for `seed` under `out` (which must not exist)."""
    os.makedirs(out)
    rng = np.random.default_rng(seed)
    manifest = {"seed": seed, "files": []}
    _documents(rng, out, copies, manifest)
    centroids = rng.normal(size=(10, 64))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    for name, table in [
            ("embeddings", _vectors(rng, 2000, centroids, 0)),
            ("serve_vecs", _vectors(rng, 400, centroids, SERVE_ID0)),
            ("events", _events(rng)),
            ("orders", _orders(rng)),
            ("customer", _customer(rng))]:
        _write(table, os.path.join(out, f"{name}.parquet"), manifest, out)
    # new documents for the serve workload's appends: fresh word draws
    vocab = np.array(VOCAB, dtype=object)
    lens = rng.integers(8, 100, size=400)
    _write(pa.table({
        "doc_id": np.arange(400, dtype=np.int64) + SERVE_ID0,
        "text": [" ".join(vocab[rng.integers(len(VOCAB), size=n)])
                 for n in lens]}),
        os.path.join(out, "serve_docs.parquet"), manifest, out)
    manifest["bytes_total"] = sum(f["bytes"] for f in manifest["files"])
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def tree_digest(root):
    """sha256 over every data file's relative path and bytes."""
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(root):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".parquet"):
                p = os.path.join(dirpath, name)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()
