"""``curation``: a fixed list of LLM-data curation registry keys, each
run to completion, over seeded ``documents`` and ``embeddings`` tables.

Closed loop: the next key starts when the previous one's result is
collected; a pass is one run of every key. Each key's answer is
compared with its ``oracle_sql()`` twin run on DuckDB over the same
parquet files, by the row count and order-insensitive hash of
``tools/check_oracle.py``. The operators and their persisted indexes
do the work; the store and query layers are idle.
"""

from __future__ import annotations

import os
import sys
import time

from perfbench import gen
from perfbench.harness import Ctx, JobCounter, LoopResult, median

#: MinHash near-dup served from its stored index (the serving twin;
#: the index is built once, in the warm pass), ExactSubstr, and the
#: perplexity and Gopher gates. SemDeDup (x73), from-scratch MinHash
#: (x02) and the v5 funnel (x168) take 3-8 s each even on small tables,
#: more than one run's time budget allows.
KEYS = ("x57_stored_near_dup", "x69_exact_substr", "x110_ppl_gate",
        "x162_gopher_rules")
N_DOCS = 600
N_VECS = 300


def _oracle_mod():
    import importlib.util

    from perfbench.harness import ROOT

    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def setup(ctx: Ctx) -> dict:
    import duckdb

    from kafana_spark.operators.registry import EXTENSION_ORACLE

    sf_dir = ctx.subdir("curation", "sf")
    tables = gen.curation_tables(ctx.seed, sf_dir, N_DOCS, N_VECS)
    table_hash = _oracle_mod().table_hash
    con = duckdb.connect()
    try:
        for name, path in tables.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{path}')")
        answers = {}
        for key in KEYS:
            res = con.execute(EXTENSION_ORACLE[key])
            cols = [d[0] for d in res.description]
            answers[key] = (table_hash(res.fetchall(), cols), sorted(cols))
    finally:
        con.close()
    return {"sf_dir": sf_dir, "answers": answers, "table_hash": table_hash}


def run_key(ctx: Ctx, state: dict, key: str):
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    tr = ctx.tracer
    with tr.span(f"operators.{key}"):
        df = EXTENSION_QUERIES[key](ctx.spark, state["sf_dir"])
        rows = [tuple(r) for r in df.collect()]
    return state["table_hash"](rows, df.columns), sorted(df.columns)


def warm(ctx: Ctx, state: dict) -> None:
    """One pass: builds the stored indexes (index once, query many) and
    warms every key's plan."""
    for key in KEYS:
        run_key(ctx, state, key)


def run(ctx: Ctx, state: dict, seconds: float) -> LoopResult:
    res = LoopResult()
    t0 = time.perf_counter()
    passes = []
    while not passes or time.perf_counter() - t0 < seconds:
        p0 = time.perf_counter()
        for key in KEYS:
            ctx.tracer.request = key
            s = time.perf_counter()
            counter = JobCounter(ctx)
            try:
                with counter:
                    got = run_key(ctx, state, key)
            except Exception as exc:  # a failed key is counted, not fatal
                print(f"# {key} failed: {exc!r}", file=sys.stderr)
                got = exc
            res.op_ms.append((time.perf_counter() - s) * 1e3)
            res.outputs.append((key, got, counter.jobs, counter.tasks))
        passes.append(time.perf_counter() - p0)
    ctx.tracer.request = None
    res.elapsed = time.perf_counter() - t0
    res.items = len(res.op_ms)
    state["passes"] = passes
    return res


def check(ctx: Ctx, state: dict, res: LoopResult) -> int:
    failed = 0
    for key, got, _, _ in res.outputs:
        if got != state["answers"][key]:
            failed += 1
            print(f"# curation mismatch on {key}: {got} != "
                  f"{state['answers'][key]}", file=sys.stderr)
    return failed


def issue_metrics(state: dict, res: LoopResult) -> dict:
    return {"curation_pass_s": median(state["passes"])}


def layer_metrics(ctx: Ctx, state: dict, res: LoopResult) -> dict:
    """Median seconds per key and tasks per Spark job."""
    m: dict[str, float] = {}
    for key in KEYS:
        m[f"curation.{key}_s"] = median(
            [ms / 1e3 for (k, _, _, _), ms in zip(res.outputs, res.op_ms)
             if k == key])
    jobs = sum(o[2] for o in res.outputs)
    m["curation.tasks_per_job"] = sum(o[3] for o in res.outputs) / max(1, jobs)
    return m


def probe(ctx: Ctx) -> tuple[dict, int, int]:
    """The curation layer metrics for a traced run of another workload:
    set up, warm, then one checked pass over KEYS, outside that
    workload's timed loop. Returns (metrics, attempted, failed)."""
    state = setup(ctx)
    warm(ctx, state)
    res = run(ctx, state, 0.0)
    return layer_metrics(ctx, state, res), len(res.op_ms), check(ctx, state, res)
