"""``discover``: one Kibana client runs a closed loop of seeded
requests against a compacted store, in whole cycles over KINDS.

Set-up ingests seeded envelope files with the same streaming call as
the ``ingest`` workload, runs ``store.compact``, and computes every
request's answer with DuckDB over the store's parquet files,
deduplicated by ``_id``. Every timed request goes
``read_store(dedup=True)`` → query function → ``collect``; answers are
compared after timing stops. The read path does the work; redelivered
records keep dedup-on-read necessary for correct answers.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import sys
import time

from perfbench import gen
from perfbench.harness import (Ctx, JobCounter, LoopResult, dir_stats, median,
                               quantile)
from perfbench import ingest_workload

N_FILES = 1
RECORDS_PER_FILE = 8000
DISCOVER_N = 100
PAGE = 50
#: request kinds in loop order; each cycle of the loop visits all of them
KINDS = ("discover_1h", "search_key_hit", "terms", "search_qs_event",
         "discover_1d", "date_histogram", "search_key_miss", "metrics",
         "search_text", "discover_7d", "cardinality", "search_after",
         "search_qs_topic", "latest_state")
N_CYCLES = 3
#: approx cardinality (HLL, rsd 0.05) may miss the exact count by 3 rsd
CARDINALITY_TOL = 0.15


def _utc(epoch_s: int) -> dt.datetime:
    return dt.datetime.fromtimestamp(epoch_s, dt.timezone.utc)


def make_requests(seed: int) -> list[dict]:
    """N_CYCLES passes over KINDS with seeded parameters."""
    rng = random.Random(seed * 7919 + 1)
    span = gen.N_DAYS * 86400
    out = []
    for _ in range(N_CYCLES):
        for kind in KINDS:
            req = {"kind": kind}
            if kind.startswith("discover_"):
                width = {"1h": 3600, "1d": 86400, "7d": 7 * 86400}[
                    kind.split("_")[1]]
                t1 = gen.EPOCH0 + rng.randrange(width, span + 1)
                req.update(t0=t1 - width, t1=t1)
            elif kind == "search_key_hit":
                req["key"] = f"k{rng.randrange(5, 200)}"
            elif kind == "search_key_miss":
                req["key"] = f"absent{rng.randrange(10**6)}"
            elif kind == "search_qs_event":
                req.update(event=rng.choice(gen.EVENTS),
                           amount=rng.randrange(8000, 9900))
                req["qs"] = (f'message.event: "{req["event"]}" and '
                             f'message.amount >= {req["amount"]}')
            elif kind == "search_qs_topic":
                req.update(topic=rng.choice(gen.TOPICS),
                           event=rng.choice(gen.EVENTS))
                req["qs"] = (f'topic: "{req["topic"]}" and '
                             f'message.amount < 500 and '
                             f'not message.event: "{req["event"]}"')
            elif kind == "search_text":
                req["needle"] = f"tag{rng.randrange(10, gen.N_TAGS)}"
            elif kind == "search_after":
                req["after"] = (f"{rng.choice(gen.TOPICS)}+"
                                f"{rng.randrange(gen.N_PARTITIONS)}+"
                                f"{rng.randrange(500)}")
            elif kind == "latest_state":
                req["topic"] = rng.choice(gen.TOPICS)
            out.append(req)
    return out


# ------------------------------------------------------------ spark side

def build(df, req: dict):
    """The query-layer call for one request (lazy DataFrame)."""
    from pyspark.sql import functions as F

    from kafana_spark import query
    from kafana_spark.store import latest_state

    k = req["kind"]
    if k.startswith("discover_"):
        return query.discover(df, _utc(req["t0"]), _utc(req["t1"]),
                              n=DISCOVER_N)
    if k.startswith("search_key"):
        return query.search_key(df, req["key"])
    if k.startswith("search_qs"):
        return query.search(df, req["qs"])
    if k == "search_text":
        return query.search_text(df, req["needle"])
    if k == "terms":
        return query.terms(df, "key", 10)
    if k == "date_histogram":
        return query.date_histogram(df, "1 hour")
    if k == "metrics":
        return query.metrics(df, "message.amount", by=["topic"])
    if k == "cardinality":
        return query.cardinality(df, "key")
    if k == "search_after":
        return query.search_after(df, "_id", req["after"], PAGE)
    if k == "latest_state":
        return (latest_state(df).where(F.col("topic") == req["topic"])
                .select("key", "_id"))
    raise ValueError(k)


def _layer(kind: str) -> str:
    return "store.latest_state" if kind == "latest_state" else (
        "query." + ("discover" if kind.startswith("discover_") else
                    "search_key" if kind.startswith("search_key") else
                    "search" if kind.startswith("search_qs") else kind))


def canon_spark(kind: str, rows) -> object:
    """Spark rows → the comparable answer for a request kind."""
    if kind.startswith("discover_") or kind == "search_after":
        return [r["_id"] for r in rows]
    if kind.startswith("search"):
        return sorted(r["_id"] for r in rows)
    if kind == "terms":
        return [(r["key"], r["cnt"]) for r in rows]
    if kind == "date_histogram":
        return [(int(r["bucket_start"].replace(
            tzinfo=dt.timezone.utc).timestamp()), r["cnt"]) for r in rows]
    if kind == "metrics":
        return sorted((r["topic"], r["cnt"], r["min_v"], r["max_v"],
                       round(r["avg_v"], 6), r["sum_v"]) for r in rows)
    if kind == "cardinality":
        return rows[0]["cardinality"]
    if kind == "latest_state":
        return sorted((r["key"], r["_id"]) for r in rows)
    raise ValueError(kind)


def request(ctx: Ctx, store: str, req: dict, dedup: bool = True):
    from kafana_spark.store import read_store

    tr = ctx.tracer
    with tr.span("store.read_store"):
        df = read_store(ctx.spark, store, dedup=dedup)
    with tr.span(_layer(req["kind"])):
        out = build(df, req)
    with tr.span("query.execute"):
        rows = out.collect()
    return canon_spark(req["kind"], rows)


# ------------------------------------------------------------ duckdb oracle

def _oracle_sql(req: dict) -> str:
    k = req["kind"]
    if k.startswith("discover_"):
        return (f"SELECT _id FROM docs WHERE epoch(timestamp) >= {req['t0']} "
                f"AND epoch(timestamp) < {req['t1']} "
                f"ORDER BY timestamp DESC LIMIT {DISCOVER_N}")
    if k.startswith("search_key"):
        return f"SELECT _id FROM docs WHERE key = '{req['key']}'"
    if k == "search_qs_event":
        return (f"SELECT _id FROM docs WHERE message.event = '{req['event']}'"
                f" AND message.amount >= {req['amount']}")
    if k == "search_qs_topic":
        return (f"SELECT _id FROM docs WHERE topic = '{req['topic']}' AND "
                f"message.amount < 500 AND "
                f"NOT (message.event = '{req['event']}')")
    if k == "search_text":
        return (f"SELECT _id FROM docs WHERE "
                f"contains(message.value, '{req['needle']}')")
    if k == "terms":
        return ("SELECT key, count(*) FROM docs GROUP BY key "
                "ORDER BY count(*) DESC, key LIMIT 10")
    if k == "date_histogram":
        return ("SELECT CAST(epoch(date_trunc('hour', timestamp)) AS BIGINT) "
                "AS b, count(*) FROM docs GROUP BY b ORDER BY b")
    if k == "metrics":
        return ("SELECT topic, count(message.amount), min(message.amount), "
                "max(message.amount), avg(message.amount), "
                "CAST(sum(message.amount) AS BIGINT) FROM docs GROUP BY topic")
    if k == "cardinality":
        return "SELECT count(DISTINCT key) FROM docs"
    if k == "search_after":
        return (f"SELECT _id FROM docs WHERE _id > '{req['after']}' "
                f"ORDER BY _id LIMIT {PAGE}")
    if k == "latest_state":
        return ("SELECT key, _id FROM (SELECT * FROM docs QUALIFY row_number()"
                " OVER (PARTITION BY topic, key ORDER BY \"partition\" DESC, "
                "\"offset\" DESC) = 1) "
                f"WHERE topic = '{req['topic']}' "
                "AND message.value <> 'TOMBSTONE'")
    raise ValueError(k)


def canon_oracle(kind: str, rows: list[tuple]) -> object:
    if kind.startswith("discover_") or kind == "search_after":
        return [r[0] for r in rows]
    if kind.startswith("search"):
        return sorted(r[0] for r in rows)
    if kind in ("terms", "date_histogram"):
        return [tuple(r) for r in rows]
    if kind == "metrics":
        return sorted((t, c, lo, hi, round(avg, 6), s)
                      for t, c, lo, hi, avg, s in rows)
    if kind == "cardinality":
        return rows[0][0]
    if kind == "latest_state":
        return sorted(tuple(r) for r in rows)
    raise ValueError(kind)


def oracle_answers(store: str, requests: list[dict]) -> list[object]:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE TABLE docs AS SELECT * FROM read_parquet("
            f"'{store}/**/*.parquet', hive_partitioning = true) "
            "QUALIFY row_number() OVER (PARTITION BY _id) = 1")
        return [canon_oracle(r["kind"], con.execute(_oracle_sql(r)).fetchall())
                for r in requests]
    finally:
        con.close()


def matches(kind: str, got: object, want: object) -> bool:
    if kind == "cardinality":
        return abs(got - want) <= CARDINALITY_TOL * want
    return got == want


# ------------------------------------------------------------ workload

def setup(ctx: Ctx) -> dict:
    from kafana_spark.store import compact

    state = ingest_workload.make_inputs(ctx, "discover", N_FILES,
                                        RECORDS_PER_FILE)
    base = ctx.subdir("discover", "store")
    store = os.path.join(base, "docs")
    state["progress"] = ingest_workload.drain(
        ctx, state["in_dir"], store, os.path.join(base, "ckpt"))
    state["layout"] = ingest_workload.layout_metrics(
        store, state["input_bytes"])
    bytes_before = dir_stats(store)[1]
    t0 = time.perf_counter()
    compact(ctx.spark, store)
    state["compact_s"] = time.perf_counter() - t0
    state["compact_bytes_rewritten"] = bytes_before
    state["store"] = store
    state["requests"] = make_requests(ctx.seed)
    state["answers"] = oracle_answers(store, state["requests"])
    return state


def warm(ctx: Ctx, state: dict) -> None:
    """One request of each kind, so plan caches and codegen are warm."""
    for req in state["requests"][:len(KINDS)]:
        request(ctx, state["store"], req)


def run(ctx: Ctx, state: dict, seconds: float) -> LoopResult:
    res = LoopResult()
    reqs = state["requests"]
    t0 = time.perf_counter()
    i = 0
    # whole cycles only, so every run weighs the request kinds alike
    while i % len(KINDS) or time.perf_counter() - t0 < seconds:
        req = reqs[i % len(reqs)]
        ctx.tracer.request = f"r{i}"
        s = time.perf_counter()
        counter = JobCounter(ctx)
        try:
            with counter:
                got = request(ctx, state["store"], req)
        except Exception as exc:  # a failed request is counted, not fatal
            print(f"# request {req} failed: {exc!r}", file=sys.stderr)
            got = exc
        res.op_ms.append((time.perf_counter() - s) * 1e3)
        res.outputs.append((i % len(reqs), got, counter.jobs, counter.tasks))
        i += 1
    ctx.tracer.request = None
    res.elapsed = time.perf_counter() - t0
    res.items = i
    return res


def check(ctx: Ctx, state: dict, res: LoopResult) -> int:
    failed = 0
    for idx, got, _, _ in res.outputs:
        req = state["requests"][idx]
        want = state["answers"][idx]
        if isinstance(got, Exception) or not matches(req["kind"], got, want):
            failed += 1
            print(f"# discover mismatch on {req}", file=sys.stderr)
    return failed


def issue_metrics(state: dict, res: LoopResult) -> dict:
    return {"request_p50_ms": quantile(res.op_ms, 0.5),
            "request_p90_ms": quantile(res.op_ms, 0.9)}


def layer_metrics(ctx: Ctx, state: dict, res: LoopResult) -> dict:
    """Per-kind latency, the read/plan/execute split from the spans,
    job and task counts per request, store layout, and — outside the
    timed loop — dedup-on-read (each kind with and without dedup) and
    query-string compilation. The write-path metrics come from the
    set-up's ingest of the same store."""
    from kafana_spark.query_string import compile_query_string

    reqs = state["requests"]
    by_kind: dict[str, list[float]] = {}
    for (idx, _, _, _), ms in zip(res.outputs, res.op_ms):
        by_kind.setdefault(reqs[idx]["kind"], []).append(ms)
    m: dict[str, float] = {}
    for kind in KINDS:
        name = ("store.latest_state_ms" if kind == "latest_state"
                else f"query.{kind}.p50_ms")
        m[name] = median(by_kind.get(kind, []))

    def span_ms(pred) -> float:
        return median([(s.end - s.start) * 1e3 for s in ctx.tracer.spans
                       if pred(s.name)])

    m["store.read_store_ms"] = span_ms(lambda n: n == "store.read_store")
    m["query.execute_ms"] = span_ms(lambda n: n == "query.execute")
    m["query.plan_ms"] = span_ms(
        lambda n: n.startswith("query.") and n != "query.execute")
    m["query.jobs_per_request"] = median([o[2] for o in res.outputs])
    m["query.tasks_per_request"] = median([o[3] for o in res.outputs])
    m["store.files_listed"] = float(dir_stats(state["store"])[0])
    m["store.compact_s"] = state["compact_s"]
    m["store.compact_bytes_rewritten"] = float(
        state["compact_bytes_rewritten"])
    m.update(ingest_workload.phase_medians(state["progress"]))
    m.update(state["layout"])
    m.update(ingest_workload.write_path_probe(ctx, state["paths"]))

    tr = ctx.tracer
    saved = []
    for req in reqs[:len(KINDS):2]:  # every other kind keeps the run short
        t0 = time.perf_counter()
        request(ctx, state["store"], req, dedup=True)
        t1 = time.perf_counter()
        request(ctx, state["store"], req, dedup=False)
        saved.append(((t1 - t0) - (time.perf_counter() - t1)) * 1e3)
    m["store.dedup_on_read_ms"] = median(saved)
    compile_ms = []
    for req in reqs:
        if "qs" in req:
            t0 = time.perf_counter()
            with tr.span("query_string.compile"):
                compile_query_string(req["qs"], "message.value")
            compile_ms.append((time.perf_counter() - t0) * 1e3)
    m["query_string.compile_ms"] = median(compile_ms)
    return m
