"""Seeded input generator for the graft benchmark.

Writes parquet tables with the exact arrow schemas of the engine's test
tables (`events`, `documents`, `embeddings`) plus the JSON-lines feed the
events pipeline polls. Every value is drawn from one numpy Generator
seeded by `--seed` (and the workload name), so the same seed gives
byte-identical files and a different seed gives different ones; the
printed `fingerprint` shows both.

The value domains are the ones the oracle SQL and the data-anchored
reports assume: events span 2024-01 (30 days, Poisson arrivals, five
event types, exponential values, `{"k": n}` props, 1500 users);
documents draw from the 31-token engine vocabulary with a 5% tail of
"<earlier doc> dup" near-duplicates (a few of them exact repeats);
embeddings are 64-d unit float vectors with ten labels.

Usage: python3 perfbench/gen.py --workload <name> --seed <n> --out <dir>
"""
import argparse
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per workload
SIZES = {
    "events_pipeline": {"events": 8_000},
    "curation_corpus": {"documents": 1200, "embeddings": 600},
}

VOCAB = ("query row stream the spark line small fast group customer batch sort "
         "value hash filter big data part column order scan a slow agg key "
         "window table merge vector join").split()
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

EPOCH_2024_US = 1_704_067_200_000_000
DAY_US = 86_400_000_000


def _ts(us):
    return pa.array(np.asarray(us, dtype=np.int64), type=pa.timestamp("us"))


def events(rng, n):
    gaps = rng.exponential(30 * DAY_US / n, n)
    ts = EPOCH_2024_US + np.minimum(np.cumsum(gaps), 30 * DAY_US - 1).astype(np.int64)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents(rng, n):
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate of an earlier doc; repeats of the same
            # source doc make the occasional exact duplicate
            src = texts[int(rng.integers(0, i))]
            texts.append(src if src.endswith(" dup") else src + " dup")
        else:
            k = int(rng.integers(8, 96))
            texts.append(" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n):
    v = rng.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def write_feed(path, rows):
    """JSON lines `(ts_us, line)`, oldest first, as a polled API serves them."""
    with open(path, "w") as f:
        for ts_us, obj in rows:
            f.write(f"{ts_us}\t{json.dumps(obj, separators=(',', ':'))}\n")


def generate(workload, seed, out):
    # the workload name is folded into the seed so each workload's
    # tables are independent draws
    key = int.from_bytes(hashlib.sha256(workload.encode()).digest()[:4], "little")
    rng = np.random.default_rng([seed, key])
    size = SIZES[workload]
    os.makedirs(out, exist_ok=True)
    tables = {}
    if workload == "events_pipeline":
        tables["events"] = events(rng, size["events"])
        ev = tables["events"].to_pydict()
        ts_us = tables["events"].column("ts").cast(pa.int64()).to_pylist()
        write_feed(os.path.join(out, "events.feed"), [
            (t, {"event_id": ev["event_id"][i], "ts_us": t, "user_id": ev["user_id"][i],
                 "event_type": ev["event_type"][i], "value": ev["value"][i],
                 "props": ev["props"][i]})
            for i, t in enumerate(ts_us)])
    elif workload == "curation_corpus":
        tables["documents"] = documents(rng, size["documents"])
        tables["embeddings"] = embeddings(rng, size["embeddings"])
    else:
        raise SystemExit(f"unknown workload {workload!r}")
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out, f"{name}.parquet"), compression="snappy")
    return {name: t.num_rows for name, t in tables.items()}


def fingerprint(out):
    """sha256 over every generated file, in name order."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(out)):
        p = os.path.join(out, name)
        if os.path.isfile(p):
            h.update(name.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    rows = generate(a.workload, a.seed, a.out)
    print(json.dumps({"rows": rows, "fingerprint": fingerprint(a.out)}))


if __name__ == "__main__":
    main()
