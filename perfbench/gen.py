"""Seeded input generator: the tables the engine reads in a benchmark run.

The shapes follow the sf0.1 test data (see workloads.json for every size,
skew and share); the seed changes only the draw. Each table is one parquet
file in the layout `graft.io.Tables` reads.

  events      event_id, ts, user_id, event_type, value, props
  documents   doc_id, text, lang, source, n_chars
  embeddings  vec_id, embedding (float[dim], unit norm), label

Usage: python3 perfbench/gen.py --seed N --out DIR [table ...]
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))


def zipf_weights(n, s):
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def events(rng, c):
    n = c["rows"]
    start = np.datetime64(c["start"], "us")
    span_us = c["days"] * 86400 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    # skewed users and items: ranks drawn from a Zipf law, mapped through a
    # seeded permutation so the hot keys differ from seed to seed
    users = rng.permutation(c["users"])[
        rng.choice(c["users"], n, p=zipf_weights(c["users"], c["user_zipf"]))]
    items = rng.permutation(c["items"])[
        rng.choice(c["items"], n, p=zipf_weights(c["items"], c["item_zipf"]))]
    kinds = np.array(c["kinds"], dtype=object)[rng.integers(0, len(c["kinds"]), n)]
    value = np.round(rng.exponential(c["value_mean"], n), 2)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(users.astype(np.int64)),
        "event_type": pa.array(kinds, pa.string()),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in items], pa.string()),
    })


def documents(rng, c):
    n, vocab = c["rows"], np.array(c["vocab"], dtype=object)
    lens = rng.integers(c["min_words"], c["max_words"] + 1, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    # near duplicates: a share of the docs copy an earlier doc and append a
    # marker word, as the sf0.1 documents do
    for i in np.flatnonzero(rng.random(n) < c["near_dup_share"]):
        if i > 0:
            texts[i] = texts[rng.integers(0, i)] + " " + c["dup_word"]
    langs = rng.choice(c["langs"], n, p=c["lang_weights"])
    sources = [f"src{s}" for s in rng.integers(0, c["sources"], n)]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, c):
    n, dim, k = c["rows"], c["dim"], c["labels"]
    labels = rng.integers(0, k, n)
    centers = rng.normal(0.0, c["center_scale"], (k, dim))
    x = centers[labels] + rng.normal(0.0, 1.0 / np.sqrt(dim), (n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


MAKERS = {"events": events, "documents": documents, "embeddings": embeddings}


def generate(seed, out, tables, spec=None):
    """Write `tables` for `seed` under `out` (skipping files already
    there: the same seed gives the same bytes)."""
    spec = spec or json.load(open(os.path.join(HERE, "workloads.json")))["inputs"]
    os.makedirs(out, exist_ok=True)
    for i, name in enumerate(sorted(MAKERS)):
        path = os.path.join(out, f"{name}.parquet")
        if name not in tables or os.path.exists(path):
            continue
        # one independent stream per table, so adding a table to a
        # workload never changes the draw of another
        rng = np.random.default_rng([seed, i])
        tmp = path + ".tmp"
        pq.write_table(MAKERS[name](rng, spec[name]), tmp)
        os.replace(tmp, path)


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("tables", nargs="*", default=sorted(MAKERS))
    a = ap.parse_args()
    generate(a.seed, a.out, a.tables)
