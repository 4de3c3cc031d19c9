"""``ingest``: drain seeded envelope files through the exactly-once
streaming ingest, one file per micro-batch.

Closed loop: the next micro-batch starts when the previous one
commits. A round is one streaming query over the whole file set into
a fresh store and checkpoint; rounds repeat until the run's time is
up. The write path (sources → ingest → streaming.pipeline → store)
does the work; the query layer does none.
"""

from __future__ import annotations

import os
import sys
import time

from perfbench import gen
from perfbench.harness import Ctx, LoopResult, dir_stats, median, quantile

N_FILES = 6
RECORDS_PER_FILE = 2000

#: per-batch phases of StreamingQueryProgress.durationMs reported per layer
PHASES = ("latestOffset", "getBatch", "walCommit", "commitOffsets",
          "addBatch")


def make_inputs(ctx: Ctx, name: str, n_files: int = N_FILES,
                per_file: int = RECORDS_PER_FILE) -> dict:
    records = gen.envelope_records(ctx.seed, n_files * per_file)
    in_dir = ctx.subdir(name, "in")
    paths = gen.write_envelope_files(records, in_dir, n_files)
    return {"in_dir": in_dir, "paths": paths,
            "expected": gen.expected_counts(records),
            "records": len(records),
            "input_bytes": sum(os.path.getsize(p) for p in paths)}


def drain(ctx: Ctx, in_dir: str, store: str, ckpt: str) -> list[dict]:
    """One streaming query over every file in ``in_dir``; returns its
    per-batch progress reports."""
    from kafana_spark.sources.files import read_records
    from kafana_spark.streaming.pipeline import ingest_stream_exactly_once

    tr = ctx.tracer
    with tr.span("sources.read_records"):
        stream = read_records(ctx.spark, in_dir, "json", gen.ENVELOPE_SCHEMA,
                              streaming=True, maxFilesPerTrigger="1")
    with tr.span("streaming.ingest_stream_exactly_once"):
        q = ingest_stream_exactly_once(stream, store, ckpt)
        q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return [p for p in q.recentProgress if p["numInputRows"] > 0]


def setup(ctx: Ctx) -> dict:
    return make_inputs(ctx, "ingest")


def warm(ctx: Ctx, state: dict) -> None:
    """One full round: the first streaming queries of a session pay
    codegen, class loading and JIT compilation that later rounds do
    not."""
    warm = ctx.subdir("ingest", "warm")
    drain(ctx, state["in_dir"], os.path.join(warm, "store"),
          os.path.join(warm, "ckpt"))


def run(ctx: Ctx, state: dict, seconds: float) -> LoopResult:
    res = LoopResult()
    rounds = ctx.subdir("ingest", "rounds")
    t0 = time.perf_counter()
    r = 0
    while time.perf_counter() - t0 < seconds:
        store = os.path.join(rounds, f"r{r}", "store")
        progress = drain(ctx, state["in_dir"], store,
                         os.path.join(rounds, f"r{r}", "ckpt"))
        for p in progress:
            res.op_ms.append(float(p["durationMs"]["triggerExecution"]))
            res.items += p["numInputRows"]
        res.outputs.append({"store": store, "progress": progress})
        r += 1
    res.elapsed = time.perf_counter() - t0
    return res


def store_counts(store: str) -> dict:
    """Documents, live keys and tombstones in a store, read with DuckDB
    straight from its parquet files (deduplicated by ``_id``), so the
    check leaves the library's read path idle."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE TABLE docs AS SELECT * FROM read_parquet("
            f"'{store}/**/*.parquet', hive_partitioning = true) "
            "QUALIFY row_number() OVER (PARTITION BY _id) = 1")
        docs, tombstones = con.execute(
            "SELECT count(*), count(*) FILTER (message.value = 'TOMBSTONE') "
            "FROM docs").fetchone()
        live = con.execute(
            "SELECT count(*) FROM (SELECT message.value AS v FROM docs "
            "QUALIFY row_number() OVER (PARTITION BY topic, key ORDER BY "
            "\"partition\" DESC, \"offset\" DESC) = 1) "
            "WHERE v <> 'TOMBSTONE'").fetchone()[0]
    finally:
        con.close()
    return {"docs": docs, "live_keys": live, "tombstones": tombstones}


def check(ctx: Ctx, state: dict, res: LoopResult) -> int:
    """Failed micro-batches: every batch of a round whose store does
    not hold exactly the generated documents, live keys and
    tombstones counts as failed."""
    failed = 0
    for out in res.outputs:
        got = store_counts(out["store"])
        batches = len(out["progress"])
        if got != state["expected"] or batches != N_FILES:
            print(f"# ingest check failed: {got} != {state['expected']} "
                  f"(batches={batches})", file=sys.stderr)
            failed += batches
    return failed


def issue_metrics(state: dict, res: LoopResult) -> dict:
    return {
        "ingest_records_per_s": res.items / res.elapsed,
        "batch_commit_p50_ms": quantile(res.op_ms, 0.5),
        "batch_commit_p90_ms": quantile(res.op_ms, 0.9),
        "store_bytes_per_input_byte":
            dir_stats(res.outputs[-1]["store"])[1] / state["input_bytes"],
    }


def phase_medians(progress: list[dict]) -> dict:
    """Per-batch medians of the StreamingQueryProgress phases."""
    return {f"streaming.{ph}_ms": median(
        [float(p["durationMs"].get(ph, 0)) for p in progress])
        for ph in PHASES}


def write_path_probe(ctx: Ctx, paths: list[str]) -> dict:
    """Outside any timed loop: enrich alone to a ``noop`` sink, and
    ``store.write_store`` alone, on each of up to three input files."""
    from kafana_spark.ingest import enrich
    from kafana_spark.sources.files import read_records
    from kafana_spark.store import write_store

    tr = ctx.tracer
    enrich_ms, write_ms = [], []
    out_dir = ctx.subdir("probe", "write")
    for i, path in enumerate(paths[:3]):
        with tr.span("sources.read_records"):
            raw = read_records(ctx.spark, path, "json", gen.ENVELOPE_SCHEMA)
        t0 = time.perf_counter()
        with tr.span("ingest.enrich"):
            enrich(raw).write.format("noop").mode("overwrite").save()
        enrich_ms.append((time.perf_counter() - t0) * 1e3)
        t0 = time.perf_counter()
        with tr.span("store.write_store"):
            write_store(enrich(raw), os.path.join(out_dir, str(i)))
        write_ms.append((time.perf_counter() - t0) * 1e3)
    return {"ingest.enrich_ms": median(enrich_ms),
            "store.write_ms": median(write_ms)}


def layout_metrics(store: str, input_bytes: int) -> dict:
    """Files and bytes each micro-batch wrote, and store bytes per
    input byte, for a store written by ``drain``."""
    batch_files, batch_bytes = [], []
    for b in os.listdir(store):
        if b.startswith("batch="):
            f, s = dir_stats(os.path.join(store, b))
            batch_files.append(f)
            batch_bytes.append(s)
    return {"store.files_written_per_batch": median(batch_files),
            "store.bytes_written_per_batch": median(batch_bytes),
            "store.bytes_per_input_byte": dir_stats(store)[1] / input_bytes}


def layer_metrics(ctx: Ctx, state: dict, res: LoopResult) -> dict:
    m = phase_medians([p for out in res.outputs for p in out["progress"]])
    m.update(layout_metrics(res.outputs[-1]["store"], state["input_bytes"]))
    m.update(write_path_probe(ctx, state["paths"]))
    return m
