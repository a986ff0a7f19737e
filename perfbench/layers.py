"""Per-layer figures of a traced run, derived from its spans and their
Spark counters. Every workload reports every per-layer metric named in
``BENCHMARK.json``; a layer the workload does not go through reads 0.

Span-derived times are means per operation of that layer (per ingest
batch, per commit, per lookup, per pipeline run) unless the name says p50.
"""

from __future__ import annotations

from collections import defaultdict

from harness import mean, median

#: span-name prefix -> layer whose self time it counts toward
SELF_LAYERS = (
    "incremental", "files", "pipelines", "versioned", "snapshots",
    "text", "corpus", "dedup", "graph", "decontam",
    "lookup", "curate", "bench",
)
LOOKUP_TYPES = ("block_by_id", "tx_by_hash", "logs_by_topic", "traces_by_block", "asof_block", "doc_by_id")
#: (metric prefix, stage span) of the curate pipeline
CURATE_STAGES = (
    ("text.gopher_keep", "text.stage.gopher"),
    ("corpus.dedup_exact", "corpus.stage.dedup_exact"),
    ("corpus.dedup_minhash", "corpus.stage.dedup_minhash"),
    ("dedup.lsh_candidate_pairs", "dedup.lsh_candidate_pairs"),
    ("graph.connected_components", "graph.connected_components"),
    ("decontam.ngram_contamination", "decontam.stage.contamination"),
    ("curate.write", "curate.stage.write"),
)


def per_layer(wl, tracer, m, untraced) -> dict[str, float]:
    by: dict[str, list] = defaultdict(list)
    for s in tracer.spans:
        by[s.name].append(s)
    by_id = {s.id: s for s in tracer.spans}
    kids = tracer.children()

    def durs(name):
        return [s.dur for s in by[name]]

    def under(s, name) -> bool:
        while s.parent is not None:
            s = by_id[s.parent]
            if s.name == name:
                return True
        return False

    out: dict[str, float] = {}
    batches = by["incremental.transform_and_write_batch"]
    nb = len(batches)
    if nb:
        out["incremental.batch_s"] = mean([s.dur for s in batches])
        for c in ("jobs", "tasks", "executor_cpu_s", "shuffle_write_bytes", "output_bytes"):
            out[f"incremental.batch.{c}"] = mean([s.counters[c] for s in batches])
        out["files.input_bytes"] = mean([s.counters["input_bytes"] for s in batches])
        out["files.read_plan_s"] = sum(durs("files.extract")) / nb
        out["pipelines.plan_s"] = sum(s.dur for s in tracer.spans if s.layer == "pipelines") / nb
        out["versioned.write_partitions_s"] = sum(durs("versioned.write_partitions")) / nb
    scans = [s.dur for s in by["incremental.latest_ingested_block"] if under(s, "incremental.run_incremental")]
    out["incremental.resume_scan_s"] = mean(scans)
    if m.items and wl.name != "curate":
        out["incremental.reingested_blocks_ratio"] = m.transformed / m.items
        out["incremental.backlog_blocks_max"] = m.backlog_max
        blocks = m.extra.get("rows_blocks", m.items)
        for t, n in m.rows.items():
            out[f"pipelines.rows_out.{t}"] = 1000.0 * n / blocks
    if wl.name == "follow" and m.batches:
        out["versioned.files_written"] = m.write_files / m.batches
        out["versioned.bytes_written"] = m.write_bytes / m.batches
    out["versioned.vacuum_s"] = mean(durs("snapshots.vacuum"))
    out["snapshots.commit_s"] = mean(durs("snapshots.commit"))
    reads = [
        s.dur
        for name in ("snapshots.read", "snapshots.read_asof")
        for s in by[name]
        if s.parent is None or not by_id[s.parent].name.startswith("snapshots.")
    ]
    out["snapshots.read_plan_s"] = mean(reads)
    out["snapshots.catalog_docs"] = m.extra.get("catalog_docs", 0)

    looks = [s for s in tracer.spans if s.layer == "lookup"]
    if looks:
        inspect = {s.id: [k for k in kids.get(s.id, ()) if k.layer == "bench"] for s in looks}
        out["lookup.files_scanned"] = mean(
            [sum(k.attrs.get("files", 0) for k in inspect[s.id]) for s in looks]
        )
        returned = sum(s.attrs.get("rows", 0) for s in looks)
        scanned = sum(s.counters["input_records"] for s in looks)
        out["lookup.rows_scanned_per_row_returned"] = scanned / returned if returned else 0.0
        for kind in LOOKUP_TYPES:
            own = [s.dur - sum(k.dur for k in inspect[s.id]) for s in by[f"lookup.{kind}"]]
            out[f"lookup.{kind}_p50_s"] = median(own) if own else 0.0

    if wl.name == "curate":
        for metric, span in CURATE_STAGES:
            ss = by[span]
            out[f"{metric}_s"] = mean([s.dur for s in ss])
            out[f"{metric}.rows_out"] = mean([s.attrs.get("rows_out") or 0 for s in ss])
            out[f"{metric}.shuffle_write_bytes"] = mean([s.counters["shuffle_write_bytes"] for s in ss])
            out[f"{metric}.rows_in"] = mean([s.attrs.get("rows_in") or 0 for s in ss])
        # the function spans carry no rows_in: they take the stage inputs
        out["dedup.lsh_candidate_pairs.rows_in"] = out["corpus.dedup_exact.rows_out"]
        out["graph.connected_components.rows_in"] = out["dedup.lsh_candidate_pairs.rows_out"]
        out["curate.write.rows_out"] = m.extra.get("output_docs", 0)
        out["graph.cc_jobs"] = mean([s.counters["jobs"] for s in by["graph.connected_components"]])
        pairs = out["dedup.lsh_candidate_pairs.rows_out"]
        out["dedup.candidate_pairs"] = pairs
        out["dedup.candidates_per_planted_pair"] = pairs / len(wl.corpus.near_pairs)

    roots = [s for s in tracer.spans if s.parent is None]
    out["trace.wall_s"] = sum(s.dur for s in roots)
    out["trace.spans"] = len(tracer.spans)
    traced_rate = m.items / m.busy_s if m.busy_s else 0.0
    untraced_rate = untraced.items / untraced.busy_s if untraced.busy_s else 0.0
    out["trace.overhead_ratio"] = untraced_rate / traced_rate if traced_rate else 0.0
    selfs = tracer.self_times()
    for layer in SELF_LAYERS:
        out[f"self_s.{layer}"] = selfs.get(layer, 0.0)
    for c in ("jobs", "tasks", "executor_cpu_s", "shuffle_write_bytes", "spill_bytes"):
        out[f"spark.{c}"] = sum(s.counters[c] for s in roots)
    return out
