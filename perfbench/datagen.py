"""Deterministic input tables for the benchmark.

Writes `events`, `documents` and `embeddings` parquet files with the column
layout of the project's synthetic test data (see TESTDATA.md at the
repository root), at about the 0.01 scale factor. The tables are a fixed
input: they come from DATA_SEED, not from the workload seed, so every run
of every workload reads the same bytes and the stored oracle digests stay
valid. The workload seed drives only the requests, windows and payloads the
benchmark sends.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
EVENTS = 10_000
DOCUMENTS = 500
EMBEDDINGS = 500
EMBEDDING_DIM = 64
TABLES = ("events", "documents", "embeddings")

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def events(rng):
    start = datetime.datetime(2024, 1, 1)
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, EVENTS))
    users = max(1, round(EVENTS / 66.67))
    return pa.table({
        "event_id": pa.array(np.arange(EVENTS, dtype=np.int64)),
        "ts": pa.array([start + datetime.timedelta(microseconds=int(t)) for t in ts],
                       type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, EVENTS).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, EVENTS)]),
        "value": pa.array(np.round(rng.exponential(50.0, EVENTS), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, EVENTS)]),
    })


def documents(rng):
    texts = []
    for i in range(DOCUMENTS):
        r = rng.random()
        if i > 10 and r < 0.004:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
        elif i > 10 and r < 0.06:
            words = texts[int(rng.integers(0, i))].split(" ")  # near duplicate
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = "dup"
            texts.append(" ".join(words))
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), n)))
    return pa.table({
        "doc_id": pa.array(np.arange(DOCUMENTS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(5, DOCUMENTS, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(DOCUMENTS)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def embeddings(rng):
    v = rng.normal(size=(EMBEDDINGS, EMBEDDING_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(EMBEDDINGS, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, EMBEDDINGS).astype(np.int32)),
    })


def generate(out_dir):
    """Writes the tables into `out_dir` unless they are already there."""
    if all(os.path.exists(os.path.join(out_dir, f"{t}.parquet")) for t in TABLES):
        return
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    for name, make in (("events", events), ("documents", documents),
                       ("embeddings", embeddings)):
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(make(rng), tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    import sys
    generate(sys.argv[1])
