"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": sf}.

Timing = full query wall time (plan + execute + fetch) on a warm
session; the session build itself is excluded (it is constant overhead,
not query cost).

Usage: python bench.py [--min-of N] [--detail] [key ...]

- ``--min-of N`` (or env SPARK_GRAFT_MIN_OF): runs per query, reporting
  the min (default 2 — the driver contract; adjudication runs use 3).
- ``key ...``: restrict to a subset of queries() keys (adjudication).
- ``--detail`` (implied by a key subset): per-query secs/load1 lists in
  the output JSON, load sampled before every run.

One code path for driver runs AND quiet-box adjudications: an
adjudication is ``python bench.py --min-of 3 --detail <keys>``.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _cpu_jiffies() -> list[int]:
    """First /proc/stat cpu line: user nice system idle iowait irq
    softirq steal guest guest_nice (jiffies since boot)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def _host_delta(j0: list[int], j1: list[int]) -> dict:
    """Busy% and steal% of the machine over the suite window —
    three rounds of judge/builder time went to load-vs-code
    adjudication (r7–r9 'ambient box' findings); these fields end it
    (r9 verdict task 4)."""
    if len(j0) < 8 or len(j1) < 8:
        return {}
    d = [b - a for a, b in zip(j0, j1)]
    total = sum(d)
    if total <= 0:
        return {}
    idle = d[3] + d[4]  # idle + iowait
    return {"cpu_busy_pct": round(100.0 * (total - idle) / total, 2),
            "cpu_steal_pct": round(100.0 * d[7] / total, 2)}


def main(argv: list[str] | None = None, stop_session: bool = True) -> None:
    argv = list(sys.argv[1:] if argv is None else argv)
    min_of = int(os.environ.get("SPARK_GRAFT_MIN_OF", "2"))
    if "--min-of" in argv:
        i = argv.index("--min-of")
        min_of = int(argv[i + 1])
        del argv[i:i + 2]
    detail = "--detail" in argv
    if detail:
        argv.remove("--detail")
    only = argv  # remaining positionals are query keys
    detail = detail or bool(only)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    import __spark_entry__ as entrymod
    from kafana_spark.session import get_spark

    spark = get_spark("kafana-bench")
    # warm the JVM + file listing paths with a trivial action
    spark.range(1000).count()
    # warm the Python/Arrow worker pool: on a real cluster the workers
    # are long-lived and reused; locally the first mapInPandas pays the
    # fork+import cost (~5s across 32 workers), which is session setup,
    # not query cost
    (spark.range(64).repartition(32)
     .mapInPandas(lambda it: it, "id long").count())

    load_start = os.getloadavg()
    jiffies_start = _cpu_jiffies()

    qmap = entrymod.queries()
    if only:
        missing = [k for k in only if k not in qmap]
        if missing:
            raise SystemExit(f"unknown keys: {missing}")
        qmap = {k: qmap[k] for k in only}

    timings: dict[str, float] = {}
    runs_detail: dict[str, dict] = {}
    errors: dict[str, str] = {}
    for name, fn in qmap.items():
        # min of N runs (default 2): first run pays per-plan
        # JIT/codegen compilation (amortized away on a long-lived
        # cluster); min shaves scheduler noise on a shared box.
        # collect, not count: count() lets Catalyst prune payload
        # columns and under-measures.
        secs, loads, n = [], [], 0
        try:
            for _ in range(min_of):
                loads.append(round(os.getloadavg()[0], 2))
                t0 = time.time()
                df = fn(spark, sf_dir)
                n = len(df.collect())
                secs.append(round(time.time() - t0, 3))
        except Exception as exc:  # noqa: BLE001 — one bad query must
            # not void the whole suite (round-3 lesson: a testdata
            # schema change crashed q01 and erased every timing)
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            print(f"# {name}: ERROR {errors[name]}", file=sys.stderr)
            continue
        timings[name] = min(secs)
        if detail:
            runs_detail[name] = {"secs": secs, "min": min(secs),
                                 "load1": loads}
        print(f"# {name}: {timings[name]:.3f}s rows={n} runs={secs} "
              f"load1={os.getloadavg()[0]:.2f}", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    # Serving-path subtotal (r7 verdict): the suite's heavy tail is
    # capstone funnels that re-derive their full chains BY CONTRACT —
    # their cost drowns the signal that actually gates a serving
    # regression at 100×. The serving subset is EXPLICIT (ADVICE r8):
    # the declared q-set (the ES query surface) + the registry's
    # declared SERVING_KEYS (stored-index twins — the 100 TB
    # steady-state path). Logged so drift is visible.
    from kafana_spark.operators.registry import SERVING_KEYS
    serving_keys = [k for k in timings
                    if k.startswith("q") or k in SERVING_KEYS]
    print(f"# serving subset ({len(serving_keys)}): "
          + " ".join(serving_keys), file=sys.stderr)
    serving_total = round(sum(timings[k] for k in serving_keys), 3)
    # field order matters: the driver keeps only the TAIL of a long
    # line, so the per-query map goes FIRST and every summary field
    # (metric/value/s_per_query/...) comes after it — r2–r4 had the
    # summary up front and every recorded BENCH_r{N}.json lost it.
    out = {
        "queries": timings,
        "metric": "declared_query_suite_total",
        "value": total,
        "unit": "sec",
        "min_of": min_of,
        "n_queries": len(timings),
        # the suite grows every round; s/query is the honest
        # cross-round comparison metric (BASELINE.md bench history)
        "s_per_query": round(total / max(1, len(timings)), 4),
        "serving_total": serving_total,
        "serving_n": len(serving_keys),
        "serving_s_per_query": round(
            serving_total / max(1, len(serving_keys)), 4),
        "sf": sf,
        # host-load telemetry over the suite window (r9 verdict #4):
        # loadavg is the OTHER-work signal (this process contributes
        # too, so compare against n_cpus), steal% is the hypervisor
        # signal — both make the recurring "code or box?" bench
        # adjudication a one-field read
        "host": {
            "n_cpus": os.cpu_count(),
            # r11: the session keeps Spark's 1 GiB local default (a
            # 32 GB heap A/B'd WORSE on the short join-heavy keys —
            # see NOTES_r11 §6); KAFANA_SPARK_DRIVER_MEM overrides.
            # Recorded so cross-round bench deltas attribute config.
            "jvm_heap_gb": round(
                spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
                .maxMemory() / 1e9, 1),
            "load1_start": round(load_start[0], 2),
            "load5_start": round(load_start[1], 2),
            "load1_end": round(os.getloadavg()[0], 2),
            "load5_end": round(os.getloadavg()[1], 2),
            **_host_delta(jiffies_start, _cpu_jiffies()),
        },
    }
    if detail:
        out["runs"] = runs_detail
    if errors:
        # still exit 0: a partial suite with timings beats a void one
        # (the correctness gate is where per-query breakage is graded)
        out["errors"] = errors
    print(json.dumps(out))
    # compact per-query line (r12 verdict #5): the driver keeps only
    # the LAST ~2000 bytes of output, so the big line above loses all
    # but ~40 of its per-query entries. This line re-emits every
    # timing as integer CENTISECONDS keyed by the unique short prefix
    # ("q01", "x212") — ~3.4 KB for 322 keys, so its tail packs ~3x
    # more surviving entries per captured byte than the full-name map.
    # Printed BEFORE the summary guard so the guard stays the last
    # complete JSON line (what the driver's parser picks up).
    print(json.dumps(
        {"per_query_cs": {k.split("_", 1)[0]: int(round(v * 100))
                          for k, v in timings.items()}},
        separators=(",", ":")), file=sys.stderr)
    # short tail-safe summary line as a second guard: even if the big
    # line is truncated from the head, this one always survives intact
    print(json.dumps({"metric": "declared_query_suite_total",
                      "value": total, "unit": "sec",
                      "n_queries": len(timings),
                      "s_per_query": out["s_per_query"],
                      "serving_total": serving_total,
                      "serving_n": len(serving_keys),
                      "serving_s_per_query":
                          out["serving_s_per_query"], "sf": sf,
                      "host": out["host"]}),
          file=sys.stderr)
    if stop_session:
        spark.stop()


if __name__ == "__main__":
    main()
