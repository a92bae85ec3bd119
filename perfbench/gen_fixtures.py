"""Deterministic fixture tables for the batch workloads.

Writes `events`, `documents` and `embeddings` as single parquet files with
the engine's fixture schemas (FIXTURES.md), drawn from one numpy generator
seeded by `seed`, so the same arguments always give byte-identical data.
The value distributions follow the engine's own scaled-fixture generator
(graft.tools.GenScale): a month of events over a fixed user population,
documents over a 31-word vocabulary with planted exact and near
duplicates, and unit-norm 64-dimensional embeddings with ten labels.

Usage: python3 gen_fixtures.py <out_dir> <events> <documents> <embeddings> [seed]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
SHORT = [w for w in VOCAB if len(w) <= 5]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
ORIGIN_US = 1704067200000000  # 2024-01-01 00:00:00 UTC
SPAN_US = 30.9999 * 86400e6


def events(rng, n):
    ids = np.arange(n, dtype=np.int64)
    ts = ORIGIN_US + ((ids + rng.random(n)) * (SPAN_US / n)).astype(np.int64)
    users = max(n // 67, 10)  # ~67 events per user, as in the engine fixtures
    return pa.table({
        "event_id": pa.array(ids),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(
            [EVENT_TYPES[i] for i in rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.random(n) * 100.0, 2)),
        "props": pa.array(
            ['{"k": %d}' % k for k in rng.integers(0, 100, n)]),
    })


def documents(rng, n):
    dup_class = rng.integers(0, 500, n)  # 0: exact dup, 1-2: near dup
    texts = []
    for i in range(n):
        body = " ".join(VOCAB[w] for w in rng.integers(0, 31, rng.integers(10, 101)))
        line_class = rng.integers(0, 10)
        if line_class < 3:
            w = rng.integers(0, 31, 4)
            body += "\n• %s %s\n• %s %s" % tuple(VOCAB[x] for x in w)
        elif line_class == 3:
            w = rng.integers(0, 31, 2)
            body += "\n%s %s..." % (VOCAB[w[0]], VOCAB[w[1]])
        # a planted copy only points at a base that is itself original
        if dup_class[i] == 0 and i >= 17 and dup_class[i - 17] >= 3:
            body = texts[i - 17]
        elif dup_class[i] in (1, 2) and i >= 23 and dup_class[i - 23] >= 3:
            body = texts[i - 23] + " " + SHORT[rng.integers(0, len(SHORT))]
        texts.append(body)
    lang_roll = rng.integers(0, 100, n)
    lang = np.select([lang_roll < 41, lang_roll < 56, lang_roll < 71,
                      lang_roll < 86], ["en", "fr", "es", "zh"], "de")
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(lang.tolist()),
        "source": pa.array(["src%d" % s for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def embeddings(rng, n):
    raw = rng.standard_normal((n, 64))
    unit = (raw / np.linalg.norm(raw, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(unit), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def main(out, n_events, n_docs, n_vecs, seed=42):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name, table in (("events", events(rng, n_events)),
                        ("documents", documents(rng, n_docs)),
                        ("embeddings", embeddings(rng, n_vecs))):
        pq.write_table(table, os.path.join(out, name + ".parquet"))


if __name__ == "__main__":
    a = sys.argv[1:]
    main(a[0], int(a[1]), int(a[2]), int(a[3]), int(a[4]) if len(a) > 4 else 42)
