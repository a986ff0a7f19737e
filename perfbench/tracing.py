"""Tracing from outside the program: spans around calls into the repo's
modules, and Spark counters harvested from the event log per span.

A traced run patches the public functions each workload goes through,
where they are looked up (module attributes and class methods), so no
file of the package changes. Each wrapper records a span (name, start,
end, parent, op id). Spans stay in memory until the run ends. The
counters come from the Spark event log, read after the session stops: a
task or job belongs to the innermost span open when it was launched or
submitted (the benchmark drives Spark from a single client thread, so
open spans always nest).
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from dataclasses import dataclass, field

COUNTERS = (
    "jobs",
    "tasks",
    "executor_cpu_s",
    "executor_run_s",
    "shuffle_write_bytes",
    "input_bytes",
    "input_records",
    "output_bytes",
    "spill_bytes",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    self_counters: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0.0))
    counters: dict = field(default_factory=dict)  # inclusive, filled by harvest

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class NullTracer:
    """Tracing off: spans cost one context-manager call and record nothing."""

    enabled = False

    def span(self, name: str, **attrs):
        return contextlib.nullcontext(_NULL_SPAN)

    def new_op(self) -> None:
        pass


class _NullSpan:
    attrs: dict = {}


_NULL_SPAN = _NullSpan()


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.op = 0
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = Span(
            id=len(self.spans),
            name=name,
            parent=self.stack[-1].id if self.stack else None,
            op=self.op,
            start=time.time(),
            attrs=dict(attrs),
        )
        self.spans.append(s)
        self.stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self.stack.pop()

    def new_op(self) -> None:
        self.op += 1

    def patch(self, owner, attr: str, name: str, materialize: bool = False) -> None:
        """Replace ``owner.attr`` by a wrapper recording span ``name``. With
        ``materialize``, a DataFrame result is cached and counted inside
        the span, so a lazy stage is charged for its own work."""
        from pyspark.sql import DataFrame

        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as s:
                out = orig(*args, **kwargs)
                if materialize and isinstance(out, DataFrame):
                    out = out.cache()
                    s.attrs["rows_out"] = out.count()
                return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- derived figures ------------------------------------------------------

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def self_times(self) -> dict[str, float]:
        """Seconds per layer not covered by a child span. Children of one
        span never overlap (single client thread), so the layers' self
        times add up to the root spans' wall time."""
        kids = self.children()
        out: dict[str, float] = {}
        for s in self.spans:
            own = s.dur - sum(c.dur for c in kids.get(s.id, ()))
            out[s.layer] = out.get(s.layer, 0.0) + own
        return out

    def harvest(self, eventlog_dir: str) -> int:
        """Attach Spark counters to spans from the event log(s) under
        ``eventlog_dir``; returns the number of tasks read."""
        tasks: list[tuple[float, dict]] = []
        jobs: list[float] = []
        for path in _event_files(eventlog_dir):
            with open(path) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        jobs.append(ev["Submission Time"] / 1000.0)
                    elif kind == "SparkListenerTaskEnd" and "Task Metrics" in ev:
                        m = ev["Task Metrics"]
                        tasks.append(
                            (
                                ev["Task Info"]["Launch Time"] / 1000.0,
                                {
                                    "tasks": 1,
                                    "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                                    "executor_run_s": m.get("Executor Run Time", 0) / 1e3,
                                    "shuffle_write_bytes": m.get("Shuffle Write Metrics", {}).get(
                                        "Shuffle Bytes Written", 0
                                    ),
                                    "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
                                    "input_records": m.get("Input Metrics", {}).get("Records Read", 0),
                                    "output_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
                                    "spill_bytes": m.get("Memory Bytes Spilled", 0)
                                    + m.get("Disk Bytes Spilled", 0),
                                },
                            )
                        )
        for s, (_t, m) in zip(self._innermost([t for t, _ in tasks]), tasks):
            if s is not None:
                for k, v in m.items():
                    s.self_counters[k] += v
        for s in self._innermost(jobs):
            if s is not None:
                s.self_counters["jobs"] += 1
        kids = self.children()

        def inclusive(s: Span) -> dict:
            if not s.counters:
                acc = dict(s.self_counters)
                for c in kids.get(s.id, ()):
                    for k, v in inclusive(c).items():
                        acc[k] += v
                s.counters = acc
            return s.counters

        for s in self.spans:
            inclusive(s)
        return len(tasks)

    def _innermost(self, times: list[float]) -> list[Span | None]:
        """For each time, the innermost span open at it: one sweep over
        the spans (appended in start order) with a stack of open ones."""
        out: list[Span | None] = [None] * len(times)
        stack: list[Span] = []
        si = 0
        for idx in sorted(range(len(times)), key=times.__getitem__):
            t = times[idx]
            while si < len(self.spans) and self.spans[si].start <= t:
                nxt = self.spans[si]
                while stack and stack[-1].end < nxt.start:
                    stack.pop()
                stack.append(nxt)
                si += 1
            while stack and stack[-1].end < t:
                stack.pop()
            out[idx] = stack[-1] if stack else None
        return out

    def records(self) -> list[dict]:
        return [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "op": s.op,
                "start": s.start,
                "end": s.end,
                "attrs": s.attrs,
                "counters": s.counters,
            }
            for s in self.spans
        ]


def _event_files(eventlog_dir: str) -> list[str]:
    """Event-log files in write order (rolling ``events_<n>_<app>`` parts
    or single-file logs)."""
    paths = []
    for app in sorted(glob.glob(os.path.join(eventlog_dir, "*"))):
        if os.path.isdir(app):
            parts = glob.glob(os.path.join(app, "events_*"))
            paths.extend(sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1])))
        else:
            paths.append(app)
    return paths


def install_ingest_patches(tracer: Tracer) -> None:
    """Wrap the layers the ingest workloads go through."""
    from graphsense_ethereum_etl_spark import snapshots, versioned
    from graphsense_ethereum_etl_spark.sources import files
    from graphsense_ethereum_etl_spark.streaming import incremental

    for fn in ("run_incremental", "latest_ingested_block", "transform_and_write_batch"):
        tracer.patch(incremental, fn, f"incremental.{fn}")
    # the pipeline functions as ``incremental`` looks them up
    for fn in (
        "enrich_transactions",
        "transform_blocks",
        "transform_transactions",
        "transform_logs",
        "transform_traces",
    ):
        tracer.patch(incremental, fn, f"pipelines.{fn}")
    tracer.patch(files, "read_table_parquet", "files.read_table_parquet")
    for fn in ("write_partitions", "vacuum", "read", "read_version"):
        tracer.patch(versioned.VersionedTable, fn, f"versioned.{fn}")
    for fn in ("commit", "read", "read_asof", "vacuum"):
        tracer.patch(snapshots.SnapshotCatalog, fn, f"snapshots.{fn}")


def install_curate_patches(tracer: Tracer) -> None:
    """Wrap the layers the curate pipeline goes through; lazy results are
    materialized inside their span."""
    from graphsense_ethereum_etl_spark.operators import corpus, decontam, dedup, graph

    tracer.patch(corpus, "dedup_keepers", "corpus.dedup_keepers", materialize=True)
    tracer.patch(corpus, "hash_sample", "corpus.hash_sample")
    tracer.patch(dedup, "lsh_candidate_pairs", "dedup.lsh_candidate_pairs", materialize=True)
    tracer.patch(graph, "connected_components", "graph.connected_components", materialize=True)
    tracer.patch(decontam, "ngram_contamination", "decontam.ngram_contamination", materialize=True)
