"""Seeded input generators for the graft benchmark.

Every generator is a pure function of its seed: the same seed gives
byte-identical files. Outputs are cached on disk by (workload, seed,
generator version) under ``<checkout>/.bench_inputs``; a manifest keeps
the content hash, which is re-checked on every cache hit.
"""
import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- sizes (see perfbench/README.md for how they were chosen) -----------
N_POINTS = 150_000         # Gaussian cluster points of the timed cloud (plus the outliers)
N_WARMUP_POINTS = 12_000   # the untimed warm-up pass's cloud
N_OUTLIERS = 100
N_CATALOG_POINTS = 5_000   # points of the fixed cloud served as lineitem to the catalog queries
N_CATALOG_DOCS = 600       # catalog `documents`
N_CATALOG_VECS = 1_000     # catalog `embeddings`
N_CATALOG_EVENTS = 3_000   # catalog `events`
N_USERS = 60
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
N_ITEMS = 80_000           # HW3 stream length
N_CHUNKS = 4               # parquet chunks = micro-batches
N_HEAVY = 10               # planted heavy hitters, 8% each
N_DOCS = 2_000             # ingest corpus
EMB_DIM = 64
N_CENTROIDS = 10
CATALOG_SEED = 0           # the catalog table is the same for every --seed
LANGS = ["en", "de", "fr", "es", "zh"]
# the shipped corpus's vocabulary shape: a few dozen short words
VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream spark query "
         "window sort group part big fast the a of").split()


def _rng(seed, salt):
    return np.random.default_rng([int(seed), salt])


def _write_parquet(table, path):
    pq.write_table(table, path, compression="snappy")


def _cloud(seed, n, salt=1):
    """n points in 9 Gaussian clusters (sigma 1) plus uniform outliers,
    shuffled. The clusters sit on a jittered 3x3 grid and never overlap,
    so the pair-join work of Hw1 is about the same for every seed."""
    r = _rng(seed, salt)
    grid = np.array([(x, y) for x in (20.0, 50.0, 80.0) for y in (20.0, 50.0, 80.0)])
    centers = grid + r.uniform(-3.0, 3.0, size=(9, 2))
    per = np.full(9, n // 9)
    per[: n - per.sum()] += 1
    pts = np.concatenate([c + r.normal(0.0, 1.0, size=(k, 2)) for c, k in zip(centers, per)]
                         + [r.uniform(0.0, 100.0, size=(N_OUTLIERS, 2))])
    return pts[r.permutation(len(pts))]


def _write_csv(pts, path):
    with open(path, "w") as f:
        f.write("".join("%.6f,%.6f\n" % (x, y) for x, y in pts))


def gen_points(seed, out):
    _write_csv(_cloud(seed, N_POINTS), os.path.join(out, "points.csv"))
    _write_csv(_cloud(seed, N_WARMUP_POINTS, salt=4), os.path.join(out, "warmup.csv"))
    # the catalog table does not depend on the seed: the radius fft_outliers
    # derives from its outliers changes the plan, and so the latency, by a
    # third from one cloud to the next. The catalog's point projection is
    # x = l_extendedprice / 1000, y = l_quantity, id = l_orderkey * 8 + l_linenumber
    gen_catalog(out)


def gen_catalog(out):
    """The read-only tables of the catalog queries, the same for every
    seed so that their expected results (expected/catalog.json) can be
    committed: `lineitem` (the fixed cloud, plus the TPC-H Q1 columns;
    prices to the cent, so no rounding tie differs between engines),
    `documents`, `embeddings` and `events`."""
    d = os.path.join(out, "catalog")
    os.makedirs(d)
    sub = _cloud(CATALOG_SEED, N_CATALOG_POINTS)
    i = np.arange(len(sub), dtype=np.int64)
    r = _rng(CATALOG_SEED, 5)
    _write_parquet(pa.table({
        "l_orderkey": pa.array(i // 7),
        "l_linenumber": pa.array((i % 7 + 1).astype(np.int32)),
        "l_quantity": pa.array(np.round(sub[:, 1], 6)),
        "l_extendedprice": pa.array(np.round(sub[:, 0] * 1000.0, 2)),
        "l_returnflag": pa.array([("A", "N", "R")[k] for k in r.integers(0, 3, len(sub))]),
        "l_linestatus": pa.array([("F", "O")[k] for k in r.integers(0, 2, len(sub))]),
    }), os.path.join(d, "lineitem.parquet"))
    texts, _ = _corpus(r, N_CATALOG_DOCS)
    _write_parquet(pa.table({
        "doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[k] for k in r.integers(0, len(LANGS), len(texts))]),
        "source": pa.array(["src%d" % k for k in r.integers(0, 8, len(texts))]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }), os.path.join(d, "documents.parquet"))
    cents = r.normal(0.0, 1.0, size=(N_CENTROIDS, EMB_DIM))
    label = r.integers(0, N_CENTROIDS, N_CATALOG_VECS)
    vecs = (cents[label] + r.normal(0.0, 0.35, (N_CATALOG_VECS, EMB_DIM))).astype(np.float32)
    _write_parquet(pa.table({
        "vec_id": pa.array(np.arange(N_CATALOG_VECS, dtype=np.int64)),
        "embedding": pa.array([list(map(float, v)) for v in vecs], type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    }), os.path.join(d, "embeddings.parquet"))
    # whole seconds: the as-of query works on epoch seconds
    ts = 1_704_067_200 + np.cumsum(r.integers(1, 120, N_CATALOG_EVENTS))
    _write_parquet(pa.table({
        "event_id": pa.array(np.arange(N_CATALOG_EVENTS, dtype=np.int64)),
        "ts": pa.array((ts * 1_000_000).astype(np.int64), type=pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, N_USERS, N_CATALOG_EVENTS).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[k] for k in
                                r.choice(len(EVENT_TYPES), N_CATALOG_EVENTS,
                                         p=[0.4, 0.3, 0.1, 0.1, 0.1])]),
        "value": pa.array(np.round(r.uniform(1.0, 500.0, N_CATALOG_EVENTS), 2)),
        "props": pa.array(['{"k": %d}' % k for k in r.integers(0, 100, N_CATALOG_EVENTS)]),
    }), os.path.join(d, "events.parquet"))


def gen_items(seed, out):
    r = _rng(seed, 2)
    heavy = r.choice(np.arange(1_000_000, 2_000_000), size=N_HEAVY, replace=False)
    is_heavy = r.random(N_ITEMS) < 0.08 * N_HEAVY
    # long tail: Zipf-shaped over 50k ids, all below the heavy id range
    tail = np.minimum(r.zipf(1.3, size=N_ITEMS), 50_000) + r.integers(0, 1000, N_ITEMS) * 50_000
    items = np.where(is_heavy, heavy[r.integers(0, N_HEAVY, N_ITEMS)], tail % 999_983)
    d = os.path.join(out, "items")
    os.makedirs(d)
    bounds = np.linspace(0, N_ITEMS, N_CHUNKS + 1).astype(np.int64)
    for i in range(N_CHUNKS):
        lo, hi = bounds[i], bounds[i + 1]
        _write_parquet(pa.table({"ord": np.arange(lo, hi, dtype=np.int64),
                                 "item": items[lo:hi].astype(np.int64)}),
                       os.path.join(d, "chunk-%03d.parquet" % i))


def _words(r, lo, hi):
    return [VOCAB[j] for j in r.integers(0, len(VOCAB), r.integers(lo, hi + 1))]


def _corpus(r, n, cents=None):
    """(texts, embeddings) of docs 0..n-1 in arrival order; 10% exact
    copies and 5% near copies (a few words replaced) of earlier docs."""
    if cents is None:
        cents = r.normal(0.0, 1.0, size=(N_CENTROIDS, EMB_DIM))
    texts, embs = [], np.empty((n, EMB_DIM), dtype=np.float32)
    for i in range(n):
        u = r.random() if i >= 10 else 1.0
        if u < 0.10:
            j = int(r.integers(0, i))
            texts.append(texts[j])
            embs[i] = embs[j]
        elif u < 0.15:
            j = int(r.integers(0, i))
            w = texts[j].split()
            for _ in range(max(1, len(w) // 25)):
                w[int(r.integers(0, len(w)))] = VOCAB[int(r.integers(0, len(VOCAB)))]
            texts.append(" ".join(w))
            embs[i] = embs[j] + r.normal(0.0, 0.02, EMB_DIM)
        else:
            texts.append(" ".join(_words(r, 15, 75)))
            embs[i] = cents[r.integers(0, N_CENTROIDS)] + r.normal(0.0, 0.35, EMB_DIM)
    return texts, embs


def gen_docs(seed, out, n=N_DOCS):
    r = _rng(seed, 3)
    cents = r.normal(0.0, 1.0, size=(N_CENTROIDS, EMB_DIM))
    texts, embs = _corpus(r, n, cents)
    langs = [LANGS[k] for k in r.integers(0, len(LANGS), n)]
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array(["src%d" % k for k in r.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        "embedding": pa.array([list(map(float, e)) for e in embs], type=pa.list_(pa.float32())),
    })
    _write_parquet(table, os.path.join(out, "docs.parquet"))
    # ANN request vectors: half perturbed corpus vectors, half fresh
    q = np.empty((1024, EMB_DIM), dtype=np.float32)
    half = len(q) // 2
    q[:half] = embs[r.integers(0, n, half)] + r.normal(0.0, 0.05, (half, EMB_DIM))
    q[half:] = cents[r.integers(0, N_CENTROIDS, len(q) - half)] + r.normal(0.0, 0.35, (len(q) - half, EMB_DIM))
    _write_parquet(pa.table({"qid": pa.array(np.arange(len(q), dtype=np.int64)),
                             "embedding": pa.array([list(map(float, e)) for e in q],
                                                   type=pa.list_(pa.float32()))}),
                   os.path.join(out, "queries.parquet"))


GENERATORS = {
    "hw_pipelines": [gen_points, gen_items],
    "ingest": [gen_docs],
}


def content_hash(d):
    h = hashlib.sha256()
    for root, dirs, files in os.walk(d):
        dirs.sort()
        for f in sorted(files):
            if f == "manifest.json":
                continue
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _generate(workload, seed, out):
    os.makedirs(out)
    for g in GENERATORS[workload]:
        g(seed, out)


def ensure_inputs(checkout, workload, seed):
    """Return (input_dir, info). Generates on a cache miss — twice, to
    self-check determinism — and re-verifies the hash on a hit."""
    # the generator's own hash is part of the key: editing it never
    # serves inputs made by an older version
    with open(os.path.abspath(__file__), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    key = "%s-%d-%s" % (workload, seed, version)
    base = os.path.join(checkout, ".bench_inputs")
    out = os.path.join(base, key)
    man = os.path.join(out, "manifest.json")
    t0 = time.monotonic()
    if os.path.exists(man):
        with open(man) as f:
            m = json.load(f)
        if content_hash(out) == m["sha256"]:
            m["cached"] = True
            m["gen_s"] = time.monotonic() - t0
            return out, m
    shutil.rmtree(out, ignore_errors=True)
    tmp_a, tmp_b = out + ".tmp_a", out + ".tmp_b"
    for t in (tmp_a, tmp_b):
        shutil.rmtree(t, ignore_errors=True)
        _generate(workload, seed, t)
    ha, hb = content_hash(tmp_a), content_hash(tmp_b)
    shutil.rmtree(tmp_b)
    if ha != hb:
        shutil.rmtree(tmp_a)
        raise SystemExit("input generator is not deterministic for %s seed %d" % (workload, seed))
    size = sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(tmp_a) for f in fs)
    m = {"workload": workload, "seed": seed, "sha256": ha, "bytes": size}
    with open(os.path.join(tmp_a, "manifest.json"), "w") as f:
        json.dump(m, f)
    os.rename(tmp_a, out)
    m = dict(m, cached=False, gen_s=time.monotonic() - t0)
    return out, m
