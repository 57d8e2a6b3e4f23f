"""Seeded generator of the four catalog input tables the catalog_batch
faces read (events, documents, embeddings, part), in the schemas of
the engine's parquet fixtures (FIXTURES.md section 2). The same seed
always gives the same tables."""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group "
         "big sort query fast the").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
COLORS = ["red", "blue", "green", "small", "hot", "old", "cold", "big"]
NOUNS = ["widget", "plate", "ring", "bolt", "rod", "gear", "nut", "pipe"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]

FULL = dict(events=10000, users=150, documents=500, embeddings=500, parts=2000)
SMOKE = dict(events=2000, users=40, documents=120, embeddings=120, parts=400)


def _events(rng, n, users):
    base = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, span_us, n)) + base
    # exponential with mean 50, as in the fixtures (median 34.6, p99 ~230)
    value = np.round(rng.exponential(50.0, n), 2)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts * 1000, type=pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n)]),
        "value": pa.array(value),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)]),
    })


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document, marked as the
            # engine's fixtures mark theirs
            toks = texts[rng.integers(0, i)].split() + ["dup"]
        else:
            toks = [VOCAB[k] for k in rng.integers(0, len(VOCAB), rng.integers(10, 100))]
        texts.append(" ".join(toks))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[k] for k in rng.choice(5, n, p=LANG_P)]),
        "source": pa.array(["src%d" % k for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n):
    centers = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n)
    v = centers[label] + 0.6 * rng.normal(size=(n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def _part(rng, n):
    return pa.table({
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": pa.array(["%s %s" % (COLORS[a], NOUNS[b]) for a, b in
                            zip(rng.integers(0, 8, n), rng.integers(0, 8, n))]),
        "p_brand": pa.array(["Brand#%d" % k for k in rng.integers(1, 26, n)]),
        "p_type": pa.array([PTYPES[k] for k in rng.integers(0, 6, n)]),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n) % 1000) / 10.0, 1)),
    })


def generate(out_dir, seed, smoke=False):
    """Write the tables under out_dir; returns the row counts."""
    size = SMOKE if smoke else FULL
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "events": _events(rng, size["events"], size["users"]),
        "documents": _documents(rng, size["documents"]),
        "embeddings": _embeddings(rng, size["embeddings"]),
        "part": _part(rng, size["parts"]),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, name + ".parquet"))
    return {k: t.num_rows for k, t in tables.items()}
