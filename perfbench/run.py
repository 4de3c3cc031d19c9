"""kafana_spark benchmark: one command per workload.

    python3 perfbench/run.py --workload ingest|discover|curation \\
        --seed N --seconds S --trace 0|1

Each run starts one Spark session on ``local[nproc]`` with a single
client, generates its inputs from ``--seed``, sets up, times the
workload's closed loop for ``--seconds``, then checks every output
against an independent answer (generator counts or DuckDB). The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The line before it records the
workload's own named metrics, ``failed_share`` and host telemetry.

A traced run spends half its time untraced and half traced, so the
tracing overhead is measured in the same process; after the loop it
probes single layers (write path, dedup-on-read, query-string compile;
on ingest also one curation pass) and reports every per-layer metric,
0 for a layer the workload leaves idle. Everything the run writes lives under
``.perfbench_work/`` in the checkout; all but a traced run's spans
(``.perfbench_work/spans/``) is removed at the end.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("ingest", "discover", "curation")
#: set-ups per run; setup_s is session start + warm-up + their median +
#: the workload's one warm pass
SETUP_REPS = 3
#: end-to-end metric → unit. Wall-clock latency and throughput
#: (``op_p50_ms``, ``op_p90_ms``, ``items_per_s``) are printed on the
#: named-metrics line but not compared: on a shared 4-vCPU host with
#: 6-15 % steal their run-to-run spread reached 0.28-0.37 for ingest,
#: over the 0.25 a bound may allow, while CPU per operation held 0.05.
E2E_UNITS = {"setup_s": "s", "cpu_ms_per_op": "ms", "peak_rss_mb": "MB"}
LAYERS = ("session", "sources", "ingest", "streaming", "store", "query",
          "query_string", "operators")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit."""
    from perfbench import curation_workload, discover_workload, ingest_workload

    names = ["session.get_spark_s", "session.warmup_s"]
    names += [f"streaming.{ph}_ms" for ph in ingest_workload.PHASES]
    names += ["ingest.enrich_ms", "store.write_ms",
              "store.files_written_per_batch", "store.bytes_written_per_batch",
              "store.bytes_per_input_byte", "store.read_store_ms",
              "store.dedup_on_read_ms", "store.latest_state_ms",
              "store.files_listed", "store.compact_s",
              "store.compact_bytes_rewritten"]
    names += [f"query.{k}.p50_ms" for k in discover_workload.KINDS
              if k != "latest_state"]
    names += ["query.plan_ms", "query.execute_ms", "query_string.compile_ms",
              "query.jobs_per_request", "query.tasks_per_request"]
    names += [f"curation.{k}_s" for k in curation_workload.KEYS]
    names += ["curation.tasks_per_job"]
    names += [f"{layer}.self_ms_per_op" for layer in LAYERS]
    names += ["trace.overhead_pct", "trace.span_cost_us", "trace.spans"]
    return {n: _unit_of(n) for n in names}


def _unit_of(name: str) -> str:
    for suffix, unit in (("_ms_per_op", "ms"), ("_ms", "ms"), ("_s", "s"),
                         ("_pct", "%"), ("_us", "us"),
                         ("_per_input_byte", "ratio"),
                         ("bytes_written_per_batch", "bytes"),
                         ("bytes_rewritten", "bytes")):
        if name.endswith(suffix):
            return unit
    return "count"


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    from perfbench import harness
    from perfbench.spans import Tracer, self_times, span_cost_us

    harness.prepare_process_env(work)
    import kafana_spark  # noqa: F401 — fail before any output if absent

    wl = importlib.import_module(f"perfbench.{args.workload}_workload")
    host = harness.HostProbe()
    tracer = Tracer(False)
    t0 = time.perf_counter()
    spark = harness.start_spark(work)
    get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        t0 = time.perf_counter()
        harness.warm_up(spark)
        warmup_s = time.perf_counter() - t0
        ctx = harness.Ctx(spark, work, args.seed, tracer)

        setups = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            state = wl.setup(ctx)
            setups.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm(ctx, state)
        warm_s = time.perf_counter() - t0
        setup_s = get_spark_s + warmup_s + harness.median(setups) + warm_s
        _log(f"session {get_spark_s:.2f}s warm-up {warmup_s:.2f}s set-ups "
             f"{[round(x, 2) for x in setups]} warm {warm_s:.2f}s")

        cpu0 = harness.cpu_seconds(spark)
        if args.trace:
            runs = [wl.run(ctx, state, args.seconds / 2)]
            tracer.enabled = True
            runs.append(wl.run(ctx, state, args.seconds / 2))
        else:
            runs = [wl.run(ctx, state, args.seconds)]
        res = runs[-1]
        cpu_s = harness.cpu_seconds(spark) - cpu0
        loop_spans = list(tracer.spans)
        tracer.enabled = False
        t0 = time.perf_counter()
        failed = sum(wl.check(ctx, state, r) for r in runs)
        attempted = n_ops = sum(len(r.op_ms) for r in runs)
        rss = harness.peak_rss_mb(spark)
        _log(f"loop {res.elapsed:.2f}s check {time.perf_counter() - t0:.2f}s "
             f"cpu {cpu_s:.2f}s cpu/op {cpu_s * 1e3 / n_ops:.1f}ms "
             f"ops_ms {[round(x) for x in res.op_ms]}")

        if args.trace:
            tracer.enabled = True
            metrics = wl.layer_metrics(ctx, state, res)
            if args.workload == "ingest":
                # the operators layer has no workload in BENCHMARK.json;
                # one checked curation pass in the cheaper traced run
                # measures it (a traced discover run is already ~100 s)
                from perfbench import curation_workload

                cur, n, bad = curation_workload.probe(ctx)
                metrics.update(cur)
                attempted += n
                failed += bad
            tracer.enabled = False
            # self time per operation of the timed loop; probes excluded
            own = self_times(loop_spans)
            for layer in LAYERS:
                metrics[f"{layer}.self_ms_per_op"] = (
                    own.get(layer, 0.0) * 1e3 / max(1, len(res.op_ms)))
            metrics["session.get_spark_s"] = get_spark_s
            metrics["session.warmup_s"] = warmup_s
            plain = runs[0].op_ms
            mean_plain = sum(plain) / max(1, len(plain))
            mean_traced = sum(res.op_ms) / max(1, len(res.op_ms))
            metrics["trace.overhead_pct"] = (
                100.0 * (mean_traced - mean_plain) / mean_plain
                if mean_plain else 0.0)
            metrics["trace.span_cost_us"] = span_cost_us()
            metrics["trace.spans"] = float(len(tracer.spans))
            spans_dir = os.path.join(ROOT, ".perfbench_work", "spans")
            os.makedirs(spans_dir, exist_ok=True)
            tracer.write(os.path.join(
                spans_dir, f"{args.workload}-seed{args.seed}.jsonl"))
            out_metrics = {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
                           for k, u in per_layer_units().items()}
        else:
            vals = {"setup_s": setup_s, "cpu_ms_per_op": cpu_s * 1e3 / n_ops,
                    "peak_rss_mb": rss}
            out_metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                           for k, v in vals.items()}

        named = wl.issue_metrics(state, res)
        named.update({"op_p50_ms": harness.quantile(res.op_ms, 0.5),
                      "op_p90_ms": harness.quantile(res.op_ms, 0.9),
                      "items_per_s": res.items / res.elapsed,
                      "ops_timed": n_ops, "setup_s": setup_s,
                      "cpu_ms_per_op": cpu_s * 1e3 / n_ops,
                      "peak_rss_mb": rss,
                      "failed_share": failed / max(1, attempted)})
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "named_metrics": named, "host": host.report()}))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": out_metrics}))
        return 0
    finally:
        t0 = time.perf_counter()
        harness.stop_spark(spark)
        _log(f"stop {time.perf_counter() - t0:.2f}s")
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
