"""Seeded input generators for the benchmark.

Everything here is pure Python (plus numpy/pyarrow for the curation
tables): no Spark, so the same seed gives byte-identical files on any
machine, and each generator returns the facts the correctness checks
need (expected counts), computed from the generated records alone.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import zlib

TOPICS = ("t0", "t1", "t2", "t3")
N_PARTITIONS = 8
N_DAYS = 14
#: 2026-01-01T00:00:00Z — every generated timestamp lies in the 14 days after
EPOCH0 = 1767225600
EVENTS = ("view", "click", "cart", "purchase", "search", "login")
N_TAGS = 40

#: the JSON envelope schema the stream reader is given (Structured
#: Streaming cannot infer one)
ENVELOPE_SCHEMA = (
    "key string, topic string, partition int, offset long, "
    "timestamp timestamp, "
    "value_struct struct<event: string, amount: long, props: string>")


def _iso(epoch_s: int) -> str:
    return (dt.datetime.fromtimestamp(epoch_s, dt.timezone.utc)
            .strftime("%Y-%m-%dT%H:%M:%SZ"))


def key_partition(key: str) -> int:
    """A key lives in one partition, as with Kafka's default partitioner."""
    return zlib.crc32(key.encode()) % N_PARTITIONS


def zipf_weights(n_keys: int, s: float = 1.1) -> list[float]:
    return [1.0 / (r ** s) for r in range(1, n_keys + 1)]


def envelope_records(seed: int, n_records: int, n_keys: int = 3000,
                     tombstone_share: float = 0.02,
                     redelivery_share: float = 0.02) -> list[dict]:
    """Kafka envelope records in delivery order.

    Keys follow a Zipf law; each record's topic is uniform over
    TOPICS; its partition is fixed by its key; offsets count up per
    (topic, partition). Timestamps are distinct whole seconds over
    N_DAYS, rising with delivery order, so time-ordered requests have
    no ties. About ``tombstone_share`` of records carry a null value
    and about ``redelivery_share`` repeat an earlier record verbatim
    (same offset, same payload), which only dedup-on-read removes.
    """
    rng = random.Random(seed)
    keys = [f"k{r}" for r in range(1, n_keys + 1)]
    weights = zipf_weights(n_keys)
    n_fresh = n_records - int(n_records * redelivery_share)
    stamps = sorted(rng.sample(range(N_DAYS * 86400), n_fresh))
    chosen = rng.choices(keys, weights=weights, k=n_fresh)
    next_off: dict[tuple[str, int], int] = {}
    fresh: list[dict] = []
    for i, key in enumerate(chosen):
        topic = TOPICS[rng.randrange(len(TOPICS))]
        part = key_partition(key)
        off = next_off.get((topic, part), 0)
        next_off[(topic, part)] = off + 1
        if rng.random() < tombstone_share:
            value = None
        else:
            props = {"tag": f"tag{rng.randrange(N_TAGS)}",
                     "n": rng.randrange(100),
                     "flag": rng.random() < 0.5}
            value = {"event": EVENTS[rng.randrange(len(EVENTS))],
                     "amount": rng.randrange(10_000),
                     "props": json.dumps(props, sort_keys=True)}
        fresh.append({"key": key, "topic": topic, "partition": part,
                      "offset": off, "timestamp": _iso(EPOCH0 + stamps[i]),
                      "value_struct": value})
    out: list[dict] = []
    for rec in fresh:
        out.append(rec)
        if len(out) < n_records and rng.random() < redelivery_share:
            out.append(out[rng.randrange(len(out))])  # already sent
    while len(out) < n_records:
        out.append(out[rng.randrange(len(out))])
    return out


def expected_counts(records: list[dict]) -> dict:
    """What a correct store holds: distinct documents, live keys
    (latest record per (topic, key) by offset is not a tombstone) and
    distinct tombstone records."""
    ids: dict[tuple, dict] = {}
    for r in records:
        ids[(r["topic"], r["partition"], r["offset"])] = r
    latest: dict[tuple[str, str], dict] = {}
    for r in ids.values():
        k = (r["topic"], r["key"])
        cur = latest.get(k)
        if cur is None or (r["partition"], r["offset"]) > (
                cur["partition"], cur["offset"]):
            latest[k] = r
    return {
        "docs": len(ids),
        "live_keys": sum(1 for r in latest.values()
                         if r["value_struct"] is not None),
        "tombstones": sum(1 for r in ids.values()
                          if r["value_struct"] is None),
    }


def write_envelope_files(records: list[dict], out_dir: str,
                         n_files: int) -> list[str]:
    """Split records, in order, into ``n_files`` JSON-lines files named
    so that lexical order is delivery order. Returns the paths."""
    os.makedirs(out_dir, exist_ok=True)
    per = -(-len(records) // n_files)
    paths = []
    for f in range(n_files):
        chunk = records[f * per:(f + 1) * per]
        path = os.path.join(out_dir, f"part-{f:05d}.json")
        with open(path, "w", encoding="utf-8") as fh:
            for r in chunk:
                fh.write(json.dumps(r, sort_keys=True, separators=(",", ":")))
                fh.write("\n")
        paths.append(path)
    return paths


WORDS = ("spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
EMB_DIM = 64
EMB_LABELS = 10


def curation_tables(seed: int, out_dir: str, n_docs: int = 1500,
                    n_vecs: int = 600) -> dict[str, str]:
    """Write ``documents.parquet`` and ``embeddings.parquet`` in the
    layout of the repo's relational test tables: word-soup documents
    with some exact and near duplicates, and unit-ish vectors around
    EMB_LABELS cluster centres. Returns {table: path}."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n_docs):
        u = rng.random()
        if i > 10 and u < 0.02:           # exact duplicate
            texts.append(texts[rng.randrange(i)])
        elif i > 10 and u < 0.06:         # near duplicate: a few edits
            words = texts[rng.randrange(i)].split()
            for _ in range(max(1, len(words) // 25)):
                words[rng.randrange(len(words))] = rng.choice(WORDS)
            texts.append(" ".join(words + ["dup"]))
        else:
            n = rng.randint(10, 100)
            texts.append(" ".join(rng.choice(WORDS) for _ in range(n)))
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(LANGS) for _ in range(n_docs)],
                         pa.string()),
        "source": pa.array([f"src{rng.randrange(20)}"
                            for _ in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    nrng = np.random.default_rng(seed)
    centres = nrng.normal(size=(EMB_LABELS, EMB_DIM))
    labels = nrng.integers(0, EMB_LABELS, size=n_vecs)
    vecs = centres[labels] + 0.6 * nrng.normal(size=(n_vecs, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embs = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(vecs.astype(np.float32).tolist(),
                              pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    })
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in (("documents", docs), ("embeddings", embs)):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        paths[name] = path
    return paths
