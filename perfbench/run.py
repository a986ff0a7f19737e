#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {catchup,follow,curate} --seed N \
        --seconds S --trace {0,1}

Sets up the workload (untimed, reported as ``setup_s``: the median of
three set-ups, each a Spark session (re)start plus input generation),
runs its timed loop for ``--seconds``, checks every operation's output,
and prints one JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the ``end_to_end`` ones of ``BENCHMARK.json``; with
``--trace 1`` the loop runs once untraced and once traced, and the
metrics are the ``per_layer`` ones. Exits 1 when a check failed, 2 when
the program under test is missing.

Full results (every metric, the traffic dimensions, sample counts) go to
``.perfbench_out/<workload>-seed<N>-trace<T>.json``; a traced run also
writes its spans to ``.perfbench_out/spans-<workload>-seed<N>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import math
import sys
import time

from harness import ROOT, Env, log, median, write_out

SETUP_REPS = 3


def load_declared() -> dict:
    with open(ROOT / "BENCHMARK.json") as fh:
        return json.load(fh)


def declared_units(decl: dict, key: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in decl[key]}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import graphsense_ethereum_etl_spark  # noqa: F401
    except ImportError as exc:
        log(f"the program under test is not importable from {ROOT}: {exc}")
        return 2
    decl = load_declared()
    from layers import per_layer
    from tracing import NullTracer, Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    phases = 2 if args.trace else 1
    env = Env(args.workload)
    try:
        wl = WORKLOADS[args.workload](env, args.seed, args.seconds, phases)
        setups = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            env.start_session()
            wl.setup(rep)
            setups.append(time.perf_counter() - t0)
        wl.prepare()
        m = wl.measure(NullTracer(), args.seconds)
        attempted, failed = m.attempted, m.failed
        full = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "dimensions": wl.dimensions(),
            "setup_s_each": setups,
            "samples": {
                "items": m.items,
                "latencies": len(m.latencies),
                "lookups": len(m.lookups),
                "batches": m.batches,
            },
            "wall_s": m.wall_s,
            "op_s": m.op_s,
            "extra": m.extra,
            "lookup_p50_s_by_type": {
                kind: median([d for k, d, _ok, _r in m.lookups if k == kind])
                for kind in sorted({k for k, *_ in m.lookups})
            },
            "warmup_s": getattr(wl, "warmup_s", 0.0),
        }
        e2e = m.end_to_end()
        e2e["setup_s"] = median(setups)
        if args.trace:
            env.start_session(event_log=True)
            tracer = Tracer()
            wl.install(tracer)
            try:
                with tracer.span(f"bench.{args.workload}"):
                    mt = wl.measure(tracer, args.seconds)
            finally:
                tracer.unpatch()
            attempted += mt.attempted
            failed += mt.failed
            env.stop_spark()  # flushes the event log
            full["tasks_harvested"] = tracer.harvest(str(env.eventlog_dir))
            metrics = per_layer(wl, tracer, mt, m)
            units = declared_units(decl, "per_layer")
            write_out(f"spans-{args.workload}-seed{args.seed}.jsonl", tracer.records())
        else:
            e2e["peak_rss_mb"] = env.peak_rss_mb()
            metrics = e2e
            units = declared_units(decl, "end_to_end")
        full["end_to_end"] = e2e
        full["workload_metrics"] = workload_metrics(args.workload, m, e2e)
        full["metrics"] = metrics
    finally:
        env.close()

    for name in units:
        metrics.setdefault(name, 0.0)
        if not math.isfinite(metrics[name]):  # no samples: only after a failed operation
            metrics[name] = 0.0
    undeclared = sorted(set(metrics) - set(units))
    if undeclared:
        log(f"metrics not declared in BENCHMARK.json: {undeclared}")
        return 2
    full["attempted"], full["failed"] = attempted, failed
    write_out(f"{args.workload}-seed{args.seed}-trace{args.trace}.json", full)
    log(
        f"{args.workload}: "
        + " ".join(f"{k}={v:.6g}" for k, v in full["workload_metrics"].items())
    )
    correct = failed == 0 and attempted > 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    name: {"value": float(metrics[name]), "unit": units[name]} for name in units
                },
            }
        )
    )
    return 0 if correct else 1


def workload_metrics(workload: str, m, e2e: dict) -> dict[str, float]:
    """The workload's end-to-end figures under their per-workload names
    (the generic names above are the ones every workload reports)."""
    e2e = {**e2e, **m.tails()}
    out = {"setup_s": e2e["setup_s"]}
    if workload == "catchup":
        out["blocks_per_s"] = e2e["throughput_per_s"]
        out["write_bytes_per_block"] = e2e["write_bytes_per_item"]
    elif workload == "follow":
        out["head_lag_p50_s"] = e2e["latency_p50_s"]
        out["head_lag_p99_s"] = e2e["latency_p99_s"]
        out["write_bytes_per_block"] = e2e["write_bytes_per_item"]
        out["live_bytes_per_block"] = e2e["stored_bytes_per_item"]
        out["published_blocks_per_s"] = e2e["throughput_per_s"]
        out["ingest_blocks_per_busy_s"] = m.items / m.busy_s if m.busy_s else 0.0
        out["backlog_blocks_max"] = m.backlog_max
    else:
        out["docs_per_s"] = e2e["throughput_per_s"]
    if workload != "follow":
        out["latency_p50_s"] = e2e["latency_p50_s"]
        out["latency_p99_s"] = e2e["latency_p99_s"]
    out["lookup_p50_s"] = e2e["lookup_p50_s"]
    out["lookup_p90_s"] = e2e["lookup_p90_s"]
    out["lookup_samples"] = len(m.lookups)
    out["latency_samples"] = len(m.latencies)
    out["failed_ops_ratio"] = m.failed / m.attempted if m.attempted else 1.0
    if "peak_rss_mb" in e2e:
        out["peak_rss_mb"] = e2e["peak_rss_mb"]
    return out


if __name__ == "__main__":
    sys.exit(main())
