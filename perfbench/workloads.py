"""The three workloads. Each one sets up its inputs, runs its timed loop
for the requested seconds, checks every operation's output and derives
its metrics from what it measured (and, on a traced run, from the spans).

Operations counted in ``attempted``/``failed``: ingest batches, lookups
and pipeline runs. An operation fails when it raises or when its output
differs from the expectation built from the generated input.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import shutil
import time
import traceback
from dataclasses import dataclass, field

import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import chain
import textgen
from harness import cores, log, median, quantile, tree_bytes
from tracing import NullTracer

# lookup rounds (one lookup of every type each) per measured operation
CATCHUP_LOOKUP_ROUNDS = 4  # after the timed passes, against the last sink
FOLLOW_LOOKUP_ROUNDS = 1  # per follow iteration
CURATE_LOOKUPS = 4  # doc_by_id lookups per pipeline run


@dataclass
class Measure:
    """What one timed loop recorded."""

    wall_s: float = 0.0
    busy_s: float = 0.0  # time inside the timed operation (ingest / pipeline)
    items: int = 0  # new blocks published, or input docs processed
    latencies: list[float] = field(default_factory=list)  # one per item
    lookups: list[tuple[str, float, bool, int]] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    write_bytes: int = 0
    write_files: int = 0
    stored_bytes_per_item: float = 0.0
    cpu_s: float = 0.0  # JVM + Python CPU seconds inside the timed operations
    transformed: int = 0  # blocks transformed, re-covers included
    batches: int = 0
    backlog_max: int = 0
    op_s: list[tuple[int, float]] = field(default_factory=list)  # (items, seconds) per timed op
    # > 0: items were offered on a clock over this many seconds, up to the
    # last one's completion (follow), and the throughput is the delivered rate
    delivered_s: float = 0.0
    rows: dict = field(default_factory=dict)  # sink rows per table
    extra: dict = field(default_factory=dict)

    def op(self, ok: bool, n: int = 1) -> None:
        self.attempted += n
        self.failed += 0 if ok else n

    def throughput(self) -> float:
        """Items per second: for items offered on a clock (follow), the
        delivered rate, items over the seconds from the clock's start to
        the last one's publish; else the median of the operations' rates,
        which all have the same size by construction (catchup passes,
        curate runs)."""
        if not self.op_s:
            return 0.0
        if self.delivered_s > 0:
            return self.items / self.delivered_s
        return median([n / d for n, d in self.op_s])

    def tails(self) -> dict[str, float]:
        """Tail percentiles, kept out of the end-to-end metrics: too few
        lookups for a p90, and both spread too widely between runs."""
        return {
            "latency_p99_s": quantile(self.latencies, 0.99),
            "lookup_p90_s": quantile([d for _k, d, _ok, _r in self.lookups], 0.9),
        }

    def end_to_end(self) -> dict[str, float]:
        looks = [d for _k, d, _ok, _r in self.lookups]
        return {
            "throughput_per_s": self.throughput(),
            "latency_p50_s": quantile(self.latencies, 0.5),
            "lookup_p50_s": quantile(looks, 0.5),
            "write_bytes_per_item": self.write_bytes / self.items if self.items else 0.0,
            "stored_bytes_per_item": self.stored_bytes_per_item,
            "cpu_s_per_item": self.cpu_s / self.items if self.items else 0.0,
        }


def timed_lookup(m: Measure, tracer, kind: str, fn, table, sample: bool = True) -> None:
    """Run one lookup and compare its answer with the expectation; its
    time is a latency sample unless it is a warm-up (``sample=False``)."""
    with tracer.span(f"lookup.{kind}", sample=sample) as s:
        t0 = time.perf_counter()
        try:
            got, want, rows = fn(table)
            ok = got == want
            if not ok:
                log(f"lookup {kind} mismatch: got {got!r} want {want!r}")
        except Exception:  # noqa: BLE001 - a failed lookup is a counted failure
            traceback.print_exc()
            ok, rows = False, 0
        d = time.perf_counter() - t0
        s.attrs["rows"] = rows
    if sample:
        m.lookups.append((kind, d, ok, rows))
    m.op(ok)


def traced_table(tracer, read):
    """The table accessor a lookup reads through; on a traced run it also
    records how many files the plan references (``inputFiles``)."""
    if not tracer.enabled:
        return read

    def table(*args):
        df = read(*args)
        with tracer.span("bench.inspect") as s:
            s.attrs["files"] = len(df.inputFiles())
        return df

    return table


def new_files(root: str, seen: dict[str, int]) -> tuple[int, int]:
    """(files, bytes) under ``root`` not in ``seen``; adds them to it."""
    n = b = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            if p not in seen:
                seen[p] = os.path.getsize(p)
                n += 1
                b += seen[p]
    return n, b


class Catchup:
    """Bulk ingest of a seeded, bucket-aligned block range into an empty
    parquet sink, repeated (each pass into a fresh sink) until the time is
    up; then point lookups against the last sink. A block's latency is
    from the pass start, when every block of the range is available, to
    its batch's publish."""

    name = "catchup"
    BLOCKS = 1000  # one batch at the CLI defaults

    def __init__(self, env, seed: int, seconds: float, phases: int) -> None:
        self.env = env
        self.rng = random.Random(seed)
        self.start = chain.BUCKET * self.rng.randrange(100, 900)
        self.end = self.start + self.BLOCKS - 1
        self.raw = None
        self.passes = 0

    def dimensions(self) -> dict:
        return {"start_block": self.start, "blocks_per_pass": self.BLOCKS, "sink": "parquet"}

    def setup(self, rep: int) -> None:
        raw = str(self.env.dir / f"raw{rep}")
        chain.materialize_raw(self.env.spark, raw, self.start, self.end, cores())
        if self.raw is not None:
            shutil.rmtree(self.raw)
        self.raw = raw

    def prepare(self) -> None:
        self.truth = chain.ChainTruth(self.raw)
        self.expected = self.truth.counts(self.start, self.end)

    def install(self, tracer) -> None:
        from tracing import install_ingest_patches

        install_ingest_patches(tracer)

    def measure(self, tracer, seconds: float) -> Measure:
        from graphsense_ethereum_etl_spark.sources import files

        spark = self.env.spark
        m = Measure()
        extract = chain.Extract(self.raw, tracer)
        t0 = time.perf_counter()
        sink = None
        while True:
            if sink is not None:
                shutil.rmtree(sink)
            sink = str(self.env.dir / f"sink{self.passes}")
            self.passes += 1
            tracer.new_op()
            ta, ca = time.perf_counter(), self.env.cpu_s()
            try:
                batches = chain.ingest(
                    spark, extract, sink, head=self.end, start_block=self.start, end_block=self.end
                )
            except Exception:  # noqa: BLE001 - counted, then the loop stops
                traceback.print_exc()
                m.op(False)
                break
            d = time.perf_counter() - ta
            m.cpu_s += self.env.cpu_s() - ca
            m.op_s.append((self.BLOCKS, d))
            m.busy_s += d
            m.items += self.BLOCKS
            m.batches += len(batches)
            m.backlog_max = max(m.backlog_max, self.BLOCKS)
            for lo, hi, t_end in batches:
                m.transformed += hi - lo + 1
                m.latencies.extend([t_end - ta] * (hi - lo + 1))
            nf, nb = new_files(sink, {})
            m.write_files += nf
            m.write_bytes += nb
            m.stored_bytes_per_item = nb / self.BLOCKS
            with tracer.span("bench.check"):
                ok = self.check(sink, m)
            m.op(ok, len(batches))
            if time.perf_counter() - t0 >= seconds:
                break
        m.wall_s = time.perf_counter() - t0
        # the read path of the last sink, after the timed ingest
        table = traced_table(tracer, lambda t: files.read_table_parquet(spark, f"{sink}/{t}"))
        for r in range(1 + CATCHUP_LOOKUP_ROUNDS):
            for kind, fn in chain.draw_point_lookups(self.rng, self.truth, self.start, self.end):
                timed_lookup(m, tracer, kind, fn, table, sample=r > 0)
        return m

    def check(self, sink: str, m: Measure) -> bool:
        """Per-table row counts and the resume height against the raw input."""
        from graphsense_ethereum_etl_spark.streaming import incremental

        spark = self.env.spark
        ok = True
        for t in chain.TABLES:
            n = pads.dataset(f"{sink}/{t}", format="parquet", partitioning="hive").count_rows()
            m.rows[t] = m.rows.get(t, 0) + n
            if n != self.expected[t]:
                log(f"catchup: {t} has {n} rows, expected {self.expected[t]}")
                ok = False
        height = incremental.latest_ingested_block(spark, f"{sink}/block")
        if height != self.end:
            log(f"catchup: resume height {height}, expected {self.end}")
            ok = False
        return ok


class Follow:
    """Open loop following a chain head that advances on a fixed wall-clock
    schedule, into a versioned sink with a snapshot catalog. Each iteration
    ingests up to the current head, then looks up newly published data;
    the catalog is vacuumed on a fixed cadence."""

    name = "follow"
    RATE = 50  # head blocks per second; sustained on 4 cores without backlog growth
    BASE_BLOCKS = 300  # pre-ingested during setup; ends mid-bucket
    POLL_S = 6.0  # the follower reads the head every 6 s (sooner only when behind)
    VACUUM_EVERY_S = 10.0
    KEEP_CATALOGS = 8
    WARM_LOOKUP_ROUNDS = 4  # untimed, before the clock starts

    def __init__(self, env, seed: int, seconds: float, phases: int) -> None:
        self.env = env
        self.rng = random.Random(seed)
        self.start = chain.BUCKET * self.rng.randrange(100, 900)
        self.base_end = self.start + self.BASE_BLOCKS - 1
        # enough chain for every timed phase plus the final drain
        self.gen_end = self.base_end + math.ceil(self.RATE * phases * (self.POLL_S + seconds))
        self.raw = None
        self.sink = None

    def dimensions(self) -> dict:
        return {
            "start_block": self.start,
            "base_blocks": self.BASE_BLOCKS,
            "head_rate_blocks_per_s": self.RATE,
            "poll_s": self.POLL_S,
            "lookups_per_iteration": FOLLOW_LOOKUP_ROUNDS * 5,
            "lookup_keys": "uniform over the newly published blocks; as-of height uniform over "
            f"the last {self.KEEP_CATALOGS - 1} catalog heights",
            "vacuum_every_s": self.VACUUM_EVERY_S,
            "keep_catalogs": self.KEEP_CATALOGS,
            "sink": "versioned + snapshot catalog",
        }

    def setup(self, rep: int) -> None:
        spark = self.env.spark
        raw = str(self.env.dir / f"raw{rep}")
        sink = str(self.env.dir / f"sink{rep}")
        chain.materialize_raw(spark, raw, self.start, self.gen_end, cores())
        chain.ingest(
            spark, chain.Extract(raw, NullTracer()), sink,
            head=self.base_end, start_block=self.start, sink_format="versioned",
        )
        for old in (self.raw, self.sink):
            if old is not None:
                shutil.rmtree(old)
        self.raw, self.sink = raw, sink
        self.published = self.base_end
        self.heights = [self.base_end]  # catalog height per commit, in order

    def prepare(self) -> None:
        self.truth = chain.ChainTruth(self.raw)
        self.seen: dict[str, int] = {}
        new_files(self.sink, self.seen)

    def install(self, tracer) -> None:
        from tracing import install_ingest_patches

        install_ingest_patches(tracer)

    def measure(self, tracer, seconds: float) -> Measure:
        from graphsense_ethereum_etl_spark import snapshots

        spark = self.env.spark
        m = Measure()
        extract = chain.Extract(self.raw, tracer)
        # warm the read path on what is already published (not sampled)
        cat = snapshots.SnapshotCatalog(spark, self.sink)
        for _ in range(self.WARM_LOOKUP_ROUNDS):
            self.lookup_round(m, tracer, cat, self.start, self.published, sample=False)
        base = self.published
        t0 = time.perf_counter()
        deadline = t0 + seconds
        next_vacuum = t0 + self.VACUUM_EVERY_S
        batches_done: list[tuple[int, int]] = []
        # The head clock started one poll period before the first poll, so
        # the loop does not sit idle through its first period.
        clock0 = t0 - self.POLL_S

        def head(t: float) -> int:
            return min(self.gen_end, base + math.floor(self.RATE * (t - clock0)))

        def available(b: int) -> float:
            return clock0 + (b - base) / self.RATE

        def ingest_to(h: int) -> bool:
            tracer.new_op()
            m.backlog_max = max(m.backlog_max, h - self.published)
            ta, ca = time.perf_counter(), self.env.cpu_s()
            try:
                batches = chain.ingest(spark, extract, self.sink, head=h, sink_format="versioned")
            except Exception:  # noqa: BLE001 - counted, then the loop stops
                traceback.print_exc()
                m.op(False)
                return False
            d = time.perf_counter() - ta
            m.cpu_s += self.env.cpu_s() - ca
            m.op_s.append((h - self.published, d))
            m.busy_s += d
            for lo, hi, t_end in batches:
                m.transformed += hi - lo + 1
                m.latencies.extend(t_end - available(b) for b in range(max(lo, self.published + 1), hi + 1))
                self.heights.append(hi)
                batches_done.append((lo, hi))
            m.items += h - self.published
            m.batches += len(batches)
            m.delivered_s = ta + d - clock0
            self.published = h
            nf, nb = new_files(self.sink, self.seen)
            m.write_files += nf
            m.write_bytes += nb
            return True

        def iterate(h: int) -> bool:
            lo = self.published + 1
            if not ingest_to(h):
                return False
            cat = snapshots.SnapshotCatalog(spark, self.sink)
            for _ in range(FOLLOW_LOOKUP_ROUNDS):
                self.lookup_round(m, tracer, cat, lo, self.published)
            return True

        next_poll = t0
        while True:
            now = time.perf_counter()
            if now < next_poll:
                with tracer.span("bench.poll_wait"):
                    time.sleep(next_poll - now)
                now = next_poll
            if now >= deadline and m.op_s:
                break
            next_poll = now + self.POLL_S
            h = head(now)
            if h <= self.published:
                continue
            if not iterate(h):
                break
            if time.perf_counter() >= next_vacuum:
                tracer.new_op()
                snapshots.SnapshotCatalog(spark, self.sink).vacuum(keep_catalogs=self.KEEP_CATALOGS)
                next_vacuum += self.VACUUM_EVERY_S
        # drain: publish every block the head clock made available in time,
        # and look it up like every other iteration's
        h = head(deadline)
        if h > self.published:
            iterate(h)
        m.wall_s = time.perf_counter() - t0
        with tracer.span("bench.check"):
            self.check(m, batches_done)
        return m

    def lookup_round(self, m: Measure, tracer, cat, lo: int, hi: int, sample: bool = True) -> None:
        """One lookup of every type: point lookups over blocks [lo, hi],
        and an as-of read at an older, still retained catalog height."""
        table = traced_table(tracer, cat.read)
        for kind, fn in chain.draw_point_lookups(self.rng, self.truth, lo, hi):
            timed_lookup(m, tracer, kind, fn, table, sample)
        if len(self.heights) < 2:
            return
        old = self.rng.choice(self.heights[-self.KEEP_CATALOGS : -1])
        b_in = self.rng.randint(self.start, old)
        b_out = self.rng.randint(old + 1, self.published)
        read_asof = traced_table(tracer, cat.read_asof)
        timed_lookup(
            m, tracer, "asof_block",
            lambda _t: chain.lookup_asof_block(read_asof, self.truth, old, b_in, b_out), None, sample,
        )

    def check(self, m: Measure, batches: list[tuple[int, int]]) -> None:
        """Per-bucket row counts of every table's published snapshot (one
        data dir per bucket, counted from parquet footers) and the resume
        height, against the raw input. A batch fails when a bucket it wrote
        is wrong."""
        from graphsense_ethereum_etl_spark import versioned
        from graphsense_ethereum_etl_spark.streaming import incremental

        spark = self.env.spark
        want = self.truth.bucket_counts(self.start, self.published)
        bad: set[int] = set()
        live = 0
        for t in chain.TABLES:
            dirs = versioned.VersionedTable(spark, f"{self.sink}/{t}").snapshot()
            got = {int(g): pads.dataset(d, format="parquet").count_rows() for g, d in dirs.items()}
            live += sum(tree_bytes(d) for d in dirs.values())
            m.rows[t] = sum(got.values())
            for g in set(got) | set(want[t]):
                if got.get(g, 0) != want[t].get(g, 0):
                    log(f"follow: {t} bucket {g} has {got.get(g, 0)} rows, expected {want[t].get(g, 0)}")
                    bad.add(g)
        m.extra["rows_blocks"] = self.published - self.start + 1
        height = incremental.latest_ingested_block(spark, f"{self.sink}/block", "versioned")
        if height != self.published:
            log(f"follow: resume height {height}, expected {self.published}")
            bad.add(chain.bucket_of(self.published))
        for lo, hi in batches:
            m.op(not any(chain.bucket_of(lo) <= g <= chain.bucket_of(hi) for g in bad))
        m.stored_bytes_per_item = live / (self.published - self.start + 1)
        m.extra["catalog_docs"] = len(os.listdir(f"{self.sink}/_catalog"))


class Curate:
    """The LLM-data pipeline over a seeded corpus: Gopher gate, exact
    dedup, MinHash near-dup dedup, n-gram decontamination against a seeded
    eval set, hash sample, parquet write; repeated until the time is up.
    Every document's latency is its pipeline run's duration."""

    name = "curate"
    RECALL_FLOOR = 0.9  # share of planted near-dup pairs the MinHash stage must collapse
    CORPUS_FILES = 8
    WARMUP_RUNS = 3

    def __init__(self, env, seed: int, seconds: float, phases: int) -> None:
        self.env = env
        self.seed = seed
        self.rng = random.Random(seed)
        self.dir = None
        self.runs = 0
        self.digest = None

    def dimensions(self) -> dict:
        return textgen.dimensions()

    def setup(self, rep: int) -> None:
        d = self.env.dir / f"corpus{rep}"
        (d / "docs").mkdir(parents=True)
        (d / "eval").mkdir()
        self.corpus = textgen.Corpus(self.seed)
        self.corpus.write(str(d / "docs"), str(d / "eval"), self.CORPUS_FILES)
        if self.dir is not None:
            shutil.rmtree(self.dir)
        self.dir = d

    def prepare(self) -> None:
        c = self.corpus
        self.gated = {i for i, t in enumerate(c.texts) if textgen.gopher_keep(t)}
        first: dict[str, int] = {}
        for i in sorted(self.gated):
            first.setdefault(textgen.normalized(c.texts[i]), i)
        self.exact = set(first.values())
        eval_grams = set().union(*(textgen.grams(t) for t in c.eval_texts))
        self.contaminated = {i for i in self.exact if textgen.grams(c.texts[i]) & eval_grams}
        if not self.gated:
            raise RuntimeError("the Gopher gate keeps no document of the generated corpus")
        self.warm_up()

    def warm_up(self) -> None:
        """Untimed, unchecked pipeline runs over the corpus, each followed by
        its lookups, so the timed runs neither pay first-use code
        generation nor sit on the steep start of the JVM's JIT warm-up
        curve (a run takes about 17 s cold, 6 s second and 5 s from the
        fourth on)."""
        t0 = time.perf_counter()
        for i in range(self.WARMUP_RUNS):
            out = str(self.env.dir / f"warmup{i}")
            self.pipeline(NullTracer(), out)
            for doc in range(CURATE_LOOKUPS):
                self.env.spark.read.parquet(out).filter(F.col("doc_id") == doc).collect()
            shutil.rmtree(out)
        self.warmup_s = time.perf_counter() - t0

    def install(self, tracer) -> None:
        from tracing import install_curate_patches

        install_curate_patches(tracer)

    def pipeline(self, tracer, out: str, inputs=None) -> dict:
        """One curation run over ``inputs`` (default: the corpus); returns
        the stage frames for the checks."""
        from graphsense_ethereum_etl_spark.functions import text
        from graphsense_ethereum_etl_spark.operators import corpus, decontam

        spark = self.env.spark
        inputs = inputs or self.dir
        docs = spark.read.parquet(str(inputs / "docs"))
        evals = spark.read.parquet(str(inputs / "eval"))

        def stage(span, df, rows_in):
            # a traced run materializes each stage so lazy work is charged to it
            span.attrs["rows_in"] = rows_in
            if tracer.enabled:
                df = df.cache()
                span.attrs["rows_out"] = df.count()
            return df

        n = len(self.corpus.texts)
        with tracer.span("text.stage.gopher") as s:
            gated = stage(s, docs.filter(text.gopher_keep("text")), n)
        with tracer.span("corpus.stage.dedup_exact") as s:
            keep = corpus.dedup_keepers(gated, method="exact").filter("keep").select("doc_id")
            exact = stage(s, gated.join(keep, "doc_id", "left_semi"), s_rows(tracer, "text.stage.gopher"))
        with tracer.span("corpus.stage.dedup_minhash") as s:
            keep = corpus.dedup_keepers(exact, method="minhash").filter("keep").select("doc_id")
            near = stage(s, exact.join(keep, "doc_id", "left_semi"), s_rows(tracer, "corpus.stage.dedup_exact"))
        with tracer.span("decontam.stage.contamination") as s:
            flagged = decontam.ngram_contamination(near, evals, n=textgen.NGRAM_N)
            clean = stage(
                s, near.join(flagged.select("doc_id"), "doc_id", "left_anti"),
                s_rows(tracer, "corpus.stage.dedup_minhash"),
            )
        with tracer.span("curate.stage.write") as s:
            s.attrs["rows_in"] = s_rows(tracer, "decontam.stage.contamination")
            corpus.hash_sample(
                clean, textgen.SAMPLE_RATE, salt=textgen.SAMPLE_SALT
            ).write.mode("overwrite").parquet(out)
        return {"gated": gated, "exact": exact, "near": near, "flagged": flagged}

    def measure(self, tracer, seconds: float) -> Measure:
        from graphsense_ethereum_etl_spark.sources import files

        spark = self.env.spark
        m = Measure()
        n = len(self.corpus.texts)
        t0 = time.perf_counter()
        first = None  # (frames, rows) of this loop's first run, checked after the loop
        while True:
            out = str(self.env.dir / f"out{self.runs}")
            tracer.new_op()
            ta, ca = time.perf_counter(), self.env.cpu_s()
            try:
                frames = self.pipeline(tracer, out)
            except Exception:  # noqa: BLE001 - counted, then the loop stops
                traceback.print_exc()
                m.op(False)
                break
            d = time.perf_counter() - ta
            m.cpu_s += self.env.cpu_s() - ca
            m.busy_s += d
            m.op_s.append((n, d))
            m.items += n
            m.latencies.extend([d] * n)
            with tracer.span("bench.check"):
                rows = pq.read_table(out, columns=["doc_id", "text"]).to_pylist()
                digest = hashlib.md5(
                    repr(sorted((r["doc_id"], r["text"]) for r in rows)).encode()
                ).hexdigest()
                if self.digest is None:  # the first run is checked stage by stage, after the loop
                    first, self.digest = (frames, rows), digest
                else:
                    ok = digest == self.digest
                    if not ok:
                        log("curate: output digest differs from the first run of this seed")
                    m.op(ok)
            written = tree_bytes(out)
            m.write_bytes += written
            m.write_files += sum(1 for f in os.listdir(out) if f.endswith(".parquet"))
            m.stored_bytes_per_item = written / max(1, len(rows))
            m.extra["output_docs"] = len(rows)
            table = traced_table(tracer, lambda _t, out=out: files.read_table_parquet(spark, out))
            ids = sorted(r["doc_id"] for r in rows) or [0]
            for _ in range(CURATE_LOOKUPS):
                doc = self.rng.choice(ids)
                timed_lookup(m, tracer, "doc_by_id", lambda tb, doc=doc: self.lookup(tb, doc), table)
            if tracer.enabled:
                spark.catalog.clearCache()
            if self.runs:
                shutil.rmtree(self.env.dir / f"out{self.runs - 1}")
            self.runs += 1
            if time.perf_counter() - t0 >= seconds:
                break
        m.wall_s = time.perf_counter() - t0
        if first is not None:
            with tracer.span("bench.check"):
                m.op(self.check(*first, m))
        return m

    def lookup(self, table, doc: int):
        rows = table("out").filter(F.col("doc_id") == doc).select("text").collect()
        return [r["text"] for r in rows], [self.corpus.texts[doc]], len(rows)

    def check(self, frames: dict, rows: list[dict], m: Measure) -> bool:
        """Each stage against the corpus oracles: the Gopher gate and exact
        dedup exactly, MinHash recall of planted pairs above the floor,
        decontamination exactly, the written sample exactly."""
        def ids(df):
            return {r[0] for r in df.select("doc_id").collect()}

        ok = True
        gated = ids(frames["gated"])
        if gated != self.gated:
            log(f"curate: gate kept {len(gated)} docs, expected {len(self.gated)}")
            ok = False
        exact = ids(frames["exact"])
        if exact != self.exact:
            log(f"curate: exact dedup kept {len(exact)} docs, expected {len(self.exact)}")
            ok = False
        near = ids(frames["near"])
        eligible = [(a, b) for a, b in self.corpus.near_pairs if a in exact and b in exact]
        collapsed = sum(1 for a, b in eligible if not (a in near and b in near))
        recall = collapsed / len(eligible) if eligible else 1.0
        m.extra["near_dup_recall"] = recall
        if recall < self.RECALL_FLOOR or not near <= exact:
            log(f"curate: near-dup recall {recall:.3f} below {self.RECALL_FLOOR}")
            ok = False
        flagged = ids(frames["flagged"])
        want_flagged = self.contaminated & near
        if flagged != want_flagged:
            log(f"curate: decontam flagged {len(flagged)} docs, expected {len(want_flagged)}")
            ok = False
        want_out = {i for i in near - want_flagged if textgen.sampled(i)}
        got_out = {r["doc_id"] for r in rows}
        if got_out != want_out or any(r["text"] != self.corpus.texts[r["doc_id"]] for r in rows):
            log(f"curate: wrote {len(got_out)} docs, expected {len(want_out)}")
            ok = False
        return ok


def s_rows(tracer, name: str):
    """rows_out of the latest span ``name`` (traced runs), else None."""
    if not tracer.enabled:
        return None
    for s in reversed(tracer.spans):
        if s.name == name:
            return s.attrs.get("rows_out")
    return None


WORKLOADS = {w.name: w for w in (Catchup, Follow, Curate)}
