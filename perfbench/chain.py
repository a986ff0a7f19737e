"""Chain inputs for the ingest workloads: raw-entity files materialized
from ``sources.generator.gen_chain``, the extract step that reads them, and
the expectations every ingest check is held to.

The raw files play the part of the reference's export step: one hive
partition per 1000-block bucket (``<entity>/bucket=<b>/``), so a batch's
extract lists and reads only its own buckets. Expectations are read back
from those files with pyarrow, never through Spark and never from a sink.
"""

from __future__ import annotations

import time
from collections import defaultdict
from collections.abc import Callable

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from graphsense_ethereum_etl_spark.sources import files
from graphsense_ethereum_etl_spark.sources.generator import gen_chain

BUCKET = 1000
ENTITIES = ("blocks", "transactions", "receipts", "traces", "logs")
#: raw block-number column per entity (receipts carry none: they are
#: matched to their transaction by hash)
BLOCK_COL = {
    "blocks": "number",
    "transactions": "block_number",
    "traces": "block_number",
    "logs": "block_number",
}
#: sink table names, in the order the checks report them
TABLES = ("block", "transaction", "log", "trace")


def bucket_of(block: int) -> int:
    return block // BUCKET


def materialize_raw(spark, raw_dir: str, start: int, end: int, partitions: int) -> None:
    """Write the raw entities of blocks [start, end] under ``raw_dir``."""
    raw = gen_chain(spark, start, end, partitions)
    txs = raw["transactions"]

    def bucketed(df, col):
        return df.withColumn("bucket", F.floor(F.col(col) / BUCKET).cast("int"))

    tx_bucket = bucketed(txs, "block_number").select(
        F.col("hash").alias("transaction_hash"), "bucket"
    )
    frames = {
        "blocks": bucketed(raw["blocks"], "number"),
        "transactions": bucketed(txs, "block_number"),
        "receipts": raw["receipts"].join(tx_bucket, "transaction_hash"),
        "traces": bucketed(raw["traces"], "block_number"),
        "logs": bucketed(raw["logs"], "block_number"),
    }
    for name, df in frames.items():
        df.write.mode("overwrite").partitionBy("bucket").parquet(f"{raw_dir}/{name}")


class Extract:
    """The ``ChainSource`` handed to ``run_incremental``: reads a batch's
    buckets from the raw files through ``sources.files`` and records when
    each batch was requested, which is when the previous one published."""

    def __init__(self, raw_dir: str, tracer) -> None:
        self.raw_dir = raw_dir
        self.tracer = tracer
        self.calls: list[tuple[int, int, float]] = []

    def __call__(self, spark, lo: int, hi: int):
        self.calls.append((lo, hi, time.perf_counter()))
        with self.tracer.span("files.extract"):
            out = {}
            for name in ENTITIES:
                df = files.read_table_parquet(spark, f"{self.raw_dir}/{name}")
                df = df.filter(
                    F.col("bucket").between(bucket_of(lo), bucket_of(hi))
                ).drop("bucket")
                if name in BLOCK_COL:
                    df = df.filter(F.col(BLOCK_COL[name]).between(lo, hi))
                out[name] = df
            return out

    def batches_since(self, first_call: int, t_return: float) -> list[tuple[int, int, float]]:
        """(lo, hi, publish time) of each batch requested since call index
        ``first_call``; a batch published when the next one was requested,
        the last one when ``run_incremental`` returned."""
        calls = self.calls[first_call:]
        ends = [c[2] for c in calls[1:]] + [t_return]
        return [(lo, hi, t_end) for (lo, hi, _), t_end in zip(calls, ends)]


def ingest(spark, extract: Extract, sink: str, **kwargs) -> list[tuple[int, int, float]]:
    """One ``run_incremental`` call with the CLI defaults (1000-block
    batches and buckets, cassandra dialect); returns its batches."""
    from graphsense_ethereum_etl_spark.streaming import incremental

    first = len(extract.calls)
    incremental.run_incremental(
        spark, extract, sink, batch_size=1000, bucket_size=BUCKET, **kwargs
    )
    return extract.batches_since(first, time.perf_counter())


class ChainTruth:
    """What the sink must hold, read from the raw files."""

    def __init__(self, raw_dir: str) -> None:
        def rows(name, cols):
            return pq.read_table(f"{raw_dir}/{name}", columns=cols).to_pylist()

        self.block_hash: dict[int, str] = {
            r["number"]: r["hash"] for r in rows("blocks", ["number", "hash"])
        }
        self.tx: dict[str, tuple[int, int]] = {}
        self.txs_in_block: dict[int, list[str]] = defaultdict(list)
        for r in rows("transactions", ["hash", "block_number", "transaction_index"]):
            self.tx[r["hash"]] = (r["block_number"], r["transaction_index"])
            self.txs_in_block[r["block_number"]].append(r["hash"])
        receipts = {r["transaction_hash"] for r in rows("receipts", ["transaction_hash"])}
        self.enriched_blocks = [self.tx[h][0] for h in self.tx if h in receipts]
        # logs: topic0 as stored by the cassandra dialect ("0x" when the
        # topics list is null or empty)
        self.logs: dict[int, list[tuple[str, str, int]]] = defaultdict(list)
        for r in rows("logs", ["block_number", "transaction_hash", "log_index", "topics"]):
            topics = r["topics"]
            topic0 = topics[0] if topics else "0x"
            self.logs[r["block_number"]].append((topic0, r["transaction_hash"], r["log_index"]))
        self.trace_ids: dict[int, set[str]] = defaultdict(set)
        for r in rows("traces", ["block_number", "trace_id"]):
            self.trace_ids[r["block_number"]].add(r["trace_id"])

    def counts(self, lo: int, hi: int) -> dict[str, int]:
        """Expected sink rows per table for blocks [lo, hi]."""
        rng = range(lo, hi + 1)
        return {
            "block": sum(1 for b in rng if b in self.block_hash),
            "transaction": sum(1 for b in self.enriched_blocks if lo <= b <= hi),
            "log": sum(len(self.logs.get(b, ())) for b in rng),
            "trace": sum(len(self.trace_ids.get(b, ())) for b in rng),
        }

    def bucket_counts(self, lo: int, hi: int) -> dict[str, dict[int, int]]:
        """Expected sink rows per table per bucket for blocks [lo, hi]."""
        out: dict[str, dict[int, int]] = {t: defaultdict(int) for t in TABLES}
        for b in range(lo, hi + 1):
            g = bucket_of(b)
            if b in self.block_hash:
                out["block"][g] += 1
            out["log"][g] += len(self.logs.get(b, ()))
            out["trace"][g] += len(self.trace_ids.get(b, ()))
        for b in self.enriched_blocks:
            if lo <= b <= hi:
                out["transaction"][bucket_of(b)] += 1
        return {t: dict(v) for t, v in out.items()}


# -- lookups ------------------------------------------------------------------
#
# Each lookup takes ``table(name) -> DataFrame`` (the sink's read path) and
# returns (answer, expected, rows returned). Keys are drawn by the caller
# from a seeded generator; expectations come from ``ChainTruth``.


def _unhex(h: str):
    return F.unhex(F.lit(h[2:]))


def lookup_block_by_id(table, truth: ChainTruth, b: int):
    rows = (
        table("block")
        .filter((F.col("block_id_group") == bucket_of(b)) & (F.col("block_id") == b))
        .select("block_id", F.lower(F.hex("block_hash")).alias("h"))
        .collect()
    )
    got = sorted((r["block_id"], r["h"]) for r in rows)
    return got, [(b, truth.block_hash[b][2:])], len(rows)


def lookup_tx_by_hash(table, truth: ChainTruth, tx_hash: str):
    rows = (
        table("transaction")
        .filter(
            (F.col("tx_hash_prefix") == tx_hash[2:7]) & (F.col("tx_hash") == _unhex(tx_hash))
        )
        .select("block_id", "transaction_index")
        .collect()
    )
    got = sorted((r["block_id"], r["transaction_index"]) for r in rows)
    return got, [truth.tx[tx_hash]], len(rows)


def lookup_logs_by_topic(table, truth: ChainTruth, topic0: str, lo: int, hi: int):
    rows = (
        table("log")
        .filter(
            F.col("block_id").between(lo, hi) & (F.col("topic0") == _unhex(topic0))
        )
        .select(F.lower(F.hex("tx_hash")).alias("tx"), "log_index")
        .collect()
    )
    got = sorted((r["tx"], r["log_index"]) for r in rows)
    want = sorted(
        (tx[2:], li)
        for b in range(lo, hi + 1)
        for t0, tx, li in truth.logs.get(b, ())
        if t0 == topic0
    )
    return got, want, len(rows)


def lookup_traces_by_block(table, truth: ChainTruth, b: int):
    rows = (
        table("trace")
        .filter((F.col("block_id_group") == bucket_of(b)) & (F.col("block_id") == b))
        .select("trace_id")
        .collect()
    )
    got = sorted(r["trace_id"] for r in rows)
    return got, sorted(truth.trace_ids[b]), len(rows)


def lookup_asof_block(read_asof, truth: ChainTruth, height: int, b_in: int, b_out: int):
    """``read_asof`` at an older height: ``b_in`` (at or below it) must be
    visible with its hash, ``b_out`` (published later) must not be."""
    rows = (
        read_asof("block", height)
        .filter(F.col("block_id").isin(b_in, b_out))
        .select("block_id", F.lower(F.hex("block_hash")).alias("h"))
        .collect()
    )
    got = sorted((r["block_id"], r["h"]) for r in rows)
    return got, [(b_in, truth.block_hash[b_in][2:])], len(rows)


def draw_point_lookups(rng, truth: ChainTruth, lo: int, hi: int) -> list[tuple[str, Callable]]:
    """One seeded lookup of each point type over blocks [lo, hi]:
    (type name, fn(table) -> (got, want, rows))."""
    b = rng.randint(lo, hi)
    with_txs = [x for x in range(lo, hi + 1) if truth.txs_in_block.get(x)]
    with_logs = [x for x in range(lo, hi + 1) if any(t != "0x" for t, _, _ in truth.logs.get(x, ()))]
    out = [("block_by_id", lambda table, b=b: lookup_block_by_id(table, truth, b))]
    if with_txs:
        h = rng.choice(truth.txs_in_block[rng.choice(with_txs)])
        out.append(("tx_by_hash", lambda table, h=h: lookup_tx_by_hash(table, truth, h)))
    if with_logs:
        lb = rng.choice(with_logs)
        t0 = rng.choice([t for t, _, _ in truth.logs[lb] if t != "0x"])
        span_lo, span_hi = max(lo, lb - 50), min(hi, lb + 50)
        out.append(
            (
                "logs_by_topic",
                lambda table, t0=t0, a=span_lo, z=span_hi: lookup_logs_by_topic(table, truth, t0, a, z),
            )
        )
    tb = rng.randint(lo, hi)
    out.append(("traces_by_block", lambda table, tb=tb: lookup_traces_by_block(table, truth, tb)))
    return out
