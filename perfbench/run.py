#!/usr/bin/env python3
"""Benchmark of the CDC engine: one workload per run, one Spark session.

    python3 perfbench/run.py --workload ingest_bulk --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Both workloads are closed loops with one client (see perfbench/METRICS.md):

- ingest_bulk: a generated changelog replayed into an empty 8-bucket
  merge-on-read table, pipelined, with text extraction and auto-compaction;
- trickle_reads: a multi-generation merge-on-read table with key blooms is
  built in set-up; rounds of small incremental copy-on-write replays commit
  on top of it, interleaved with point lookups, an exists probe, a
  time-window scan, a change feed and a full read of the set-up snapshot.

Inputs come from the engine's changelog generator seeded by ``--seed``. Every
output is checked against an oracle derived from the changelog alone; a wrong
output counts as a failed operation. Set-up (session start, input
generation, preload, oracle hashes, an untimed warm-up) is reported as
``setup_s`` and never falls inside the timed window.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the loop once
untraced and once traced (perfbench/layertrace.py), and prints the per-layer
metrics. The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import datetime as dt
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PACKAGE = "embulk_input_marketo_spark"

# one bucket per write task (shuffle partitions are twice the 4 cores): at
# 64 buckets an 80k-event replay took 2.5 times as long, nearly all per-task cost
BULK_BUCKETS = 8
BULK_SLICES = 2
# the warm-up replays this share of the bulk changelog in one slice
BULK_WARMUP_SHARE = 8
COMPACT_THRESHOLD = 2  # the threshold counts files: every slice compacts
SERVE_BUCKETS = 8
SERVE_GENERATIONS = 2
# incremental runs per trickle round: op_p50_ms is their median
COW_CALLS_PER_ROUND = 3
LOOKUPS_PER_ROUND = 2
COLS = ["url", "warc_ts", "html", "text", "lang", "text_encoding"]
READ_OPS = ["lookup", "exists", "window", "changes", "full"]
SERIAL_SLICES = 1  # slices of the local[1] baseline

# (name, unit, better); the names are the keys of BENCHMARK.json
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("throughput_per_s", "1/s", "higher"),
    ("op_p50_ms", "ms", "lower"),
]
PER_LAYER = (
    [
        ("session.start_s", "s", "lower"),
        ("generator.changelog_s", "s", "lower"),
        ("setup.oracle_s", "s", "lower"),
        ("setup.preload_s", "s", "lower"),
        ("setup.warmup_s", "s", "lower"),
        ("replay.calls", "count", "lower"),
        ("replay.slices", "count", "higher"),
        ("replay.s", "s", "lower"),
        ("replay.snapshot_s", "s", "lower"),
        ("replay.jobs_per_slice", "count", "lower"),
        ("replay.occupancy", "ratio", "higher"),
        ("replay.driver_gap_s", "s", "lower"),
        ("replay.partial_s", "s", "lower"),
        ("lake.merge.stage.s", "s", "lower"),
        ("lake.merge.stage.jobs", "count", "lower"),
        ("lake.merge.stage.task_s", "s", "lower"),
        ("lake.merge.stage.max_task_s", "s", "lower"),
        ("lake.merge.stage.shuffle_write_bytes", "bytes", "lower"),
        ("lake.merge.stage.spill_bytes", "bytes", "lower"),
        ("lake.merge.stage.bytes_written", "bytes", "lower"),
        ("lake.merge.commit.s", "s", "lower"),
        ("lake.merge.commit.jobs", "count", "lower"),
        ("lake.merge.compact.calls", "count", "lower"),
        ("lake.merge.compact.s", "s", "lower"),
        ("lake.merge.compact.bytes_rewritten", "bytes", "lower"),
        ("lake.merge.compact.jobs", "count", "lower"),
        ("lake.merge.cow.s", "s", "lower"),
        ("lake.merge.cow.jobs_per_slice", "count", "lower"),
        ("lake.merge.cow.stages_per_slice", "count", "lower"),
        ("lake.merge.cow.bytes_rewritten_per_byte_in", "ratio", "lower"),
        ("lake.merge.cow.bloom_skipped_ratio", "ratio", "higher"),
        ("lake.table.manifest.calls", "count", "lower"),
        ("lake.table.manifest.s", "s", "lower"),
        ("lake.table.commit.s", "s", "lower"),
        ("lake.table.commit.conflict_retries", "count", "lower"),
        ("lake.bloom.build_s", "s", "lower"),
        ("lake.bloom.load_s", "s", "lower"),
    ]
    + [
        (f"lake.table.read.{op}.{m}", unit, "lower")
        for op in READ_OPS
        for m, unit in (
            ("s", "s"), ("jobs", "count"), ("input_bytes", "bytes"),
            ("rows_scanned_per_row_out", "ratio"),
        )
    ]
    + [
        ("lake.table.dirty_buckets", "count", "lower"),
        ("lake.table.generations_per_bucket", "count", "lower"),
        ("trace.span_coverage", "ratio", "higher"),
        ("trace.overhead_pct", "%", "lower"),
        ("serial.replay.speedup", "ratio", "higher"),
        ("serial.lake.merge.stage.speedup", "ratio", "higher"),
        ("serial.lake.merge.commit.speedup", "ratio", "higher"),
        ("serial.lake.merge.compact.speedup", "ratio", "higher"),
    ]
)


@dataclass(frozen=True)
class Sizes:
    """Input sizes. ``TOY`` is the self-test's scale."""

    bulk_events: int = 160_000
    trickle_slice: int = 1_000
    trickle_max_calls: int = 24
    serve_events: int = 10_000
    lookup_pool: int = 32
    probes: int = 1_000


TOY = Sizes(
    bulk_events=6_000, trickle_slice=300,
    trickle_max_calls=30, serve_events=3_000, lookup_pool=8, probes=100,
)


@dataclass
class Measured:
    """One timed loop: unit-operation latencies, work done, failures."""

    op_s: list[float] = field(default_factory=list)
    work: float = 0.0
    busy_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    t0: float = 0.0
    t1: float = 0.0
    extra: dict = field(default_factory=dict)


def _fail(m: Measured, n: int, what: str) -> None:
    m.failed += n
    print(f"perfbench: {what} failed", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


# --------------------------------------------------------------- process tree
def _descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of this host so far. Time stolen by a busy
    hypervisor slows every stage alike, so a run that saw much of it is an
    outlier of the host, not of the code."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


# -------------------------------------------------------------------- session
def start_session(work: str, cores: int, event_log_dir: str | None = None):
    """A host-fit session: at most ``cores`` task slots, a 2g driver heap,
    shuffle, spill and JVM temp files inside the work dir."""
    from embulk_input_marketo_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it and its Python workers."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while _descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in _descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


# ---------------------------------------------------------------------- bench
class Bench:
    """Session, work dir, seed and sizes shared by a run's workload code.
    ``span`` is a no-op unless a tracer is attached."""

    def __init__(self, spark, work: str, seed: int, sizes: Sizes,
                 corrupt_oracle: bool = False):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.sizes = sizes
        self.corrupt_oracle = corrupt_oracle
        self.tracer = None
        self._dirs = 0

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else nullcontext(None)

    def fresh_dir(self, name: str) -> str:
        self._dirs += 1
        d = os.path.join(self.work, f"{name}-{self._dirs}")
        os.makedirs(d)
        return d

    def hash_of(self, df, cols=COLS) -> tuple[int, int]:
        from embulk_input_marketo_spark.functions.compare import content_hash

        return content_hash(df.select(*cols), cols)

    def oracle_hash(self, df, cols=COLS) -> tuple[int, int]:
        n, h = self.hash_of(df, cols)
        # the self-test's liveness switch: a wrong oracle must fail ops
        return (n, h + 1) if self.corrupt_oracle else (n, h)

    def state_hash(self, table) -> tuple[int, int]:
        with self.span("perfbench.check"):
            return self.hash_of(table.read(self.spark))

    def changelog(self, path: str, n_events: int):
        from embulk_input_marketo_spark.generator import changelog

        changelog(self.spark, n_events, max(n_events // 20, 1000),
                  seed=self.seed).write.parquet(path)
        return self.spark.read.parquet(path)

    def new_table(self, path: str, log, n_buckets: int, bloom: bool = False):
        from pyspark.sql import types as T

        from embulk_input_marketo_spark.lake import LakeTable

        schema = T.StructType([
            f for f in log.schema.fields
            if f.name not in ("lsn", "op", "schema_version")
        ])
        bits = 0
        if bloom:
            # >= 16 bits per key per bucket (urls = events / 20), a multiple of 8
            keys = max(log.count() // 20, 1000) // n_buckets + 1
            bits = max(1024, -(-keys * 16 // 8) * 8)
        return LakeTable.create(path, schema, key_col="url", lww_major="warc_ts",
                                n_buckets=n_buckets, bloom_bits=bits)


def _replay():
    # looked up per call so a tracer's patch of replay.replay applies
    import embulk_input_marketo_spark.replay as rp

    return rp.replay


def layout_stats(m) -> tuple[int, float]:
    """(buckets needing a read-time reduce, mean generations per bucket)."""
    dirty = gens = 0
    buckets = list(m.files)
    for b in buckets:
        entries = m.files[b]
        vs = {e.get("v", 0) for e in entries}
        gens += len(vs)
        if len(vs) > 1 or not all(e.get("reduced", True) for e in entries):
            dirty += 1
    return dirty, gens / max(len(buckets), 1)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )


# ------------------------------------------------------------------ workloads
class IngestBulk:
    """Bulk extract: events per second of a whole-window replay; the unit
    operation is one slice commit."""

    def setup(self, b: Bench) -> tuple[dict, dict]:
        from pyspark.sql import functions as F

        from embulk_input_marketo_spark.generator import expected_final_state

        s = b.sizes
        d = b.fresh_dir("bulk")
        t0 = time.perf_counter()
        log = b.changelog(os.path.join(d, "log"), s.bulk_events)
        t1 = time.perf_counter()
        oracle = b.oracle_hash(expected_final_state(log))
        t2 = time.perf_counter()
        # warm-up: a prefix of the changelog in one slice, auto-compaction
        # included, replayed into a throwaway table
        _replay()(b.spark, log.where(F.col("lsn") < s.bulk_events // BULK_WARMUP_SHARE),
                  b.new_table(os.path.join(d, "warm"), log, BULK_BUCKETS),
                  compact_threshold=COMPACT_THRESHOLD,
                  extract_text_from_html=True, pipeline=True)
        t3 = time.perf_counter()
        state = {"log": log, "log_path": os.path.join(d, "log"), "oracle": oracle}
        return state, {"generator.changelog_s": t1 - t0, "setup.oracle_s": t2 - t1,
                       "setup.preload_s": 0.0, "setup.warmup_s": t3 - t2}

    def replay_into(self, b: Bench, st: dict, table, on_batch=None, max_batches=None):
        return _replay()(
            b.spark, st["log"], table, n_slices=BULK_SLICES,
            compact_threshold=COMPACT_THRESHOLD, extract_text_from_html=True,
            pipeline=True, on_batch=on_batch, max_batches=max_batches,
        )

    def measure(self, b: Bench, st: dict, seconds: float) -> Measured:
        m = Measured(t0=time.time())
        last = 0.0
        # a replay starts only if one as long as the last still fits the
        # window, so the count of replays does not flip on small speed changes
        while m.busy_s + last <= seconds:
            before = m.busy_s
            tdir = b.fresh_dir("bulk-rep")
            table = b.new_table(tdir, st["log"], BULK_BUCKETS)
            stamps: list[float] = []
            m.attempted += BULK_SLICES
            start = time.perf_counter()
            try:
                report = self.replay_into(
                    b, st, table, on_batch=lambda r: stamps.append(time.perf_counter()))
                m.busy_s += time.perf_counter() - start
                prev = start
                for t in stamps:
                    m.op_s.append(t - prev)
                    prev = t
                m.work += report.events_applied
                if b.state_hash(table) != st["oracle"]:
                    print("perfbench: ingest_bulk final state differs from the oracle",
                          file=sys.stderr)
                    m.failed += BULK_SLICES
                m.extra["layout"] = layout_stats(table.manifest())
            except Exception:
                m.busy_s += time.perf_counter() - start
                _fail(m, BULK_SLICES, "ingest_bulk replay")
            shutil.rmtree(tdir, ignore_errors=True)
            last = m.busy_s - before
        m.t1 = time.time()
        return m


class CowTrickle:
    """Scheduled incremental runs: each replay applies one new small slice
    of the changelog in copy-on-write mode with the key-bloom fast path."""

    def has_next(self, b: Bench, st: dict, calls: int) -> bool:
        return st["hwm"] + calls * b.sizes.trickle_slice <= st["total"]

    def call(self, b: Bench, st: dict):
        from pyspark.sql import functions as F

        st["hwm"] += b.sizes.trickle_slice
        return _replay()(b.spark, st["log"].where(F.col("lsn") < st["hwm"]),
                         st["table"], mode="cow", bloom_fast_path=True)

    def check(self, b: Bench, st: dict) -> bool:
        """The table equals the oracle state of the changelog applied so far."""
        from pyspark.sql import functions as F

        from embulk_input_marketo_spark.generator import expected_final_state

        expect = b.oracle_hash(expected_final_state(
            st["log"].where(F.col("lsn") < st["hwm"])))
        return b.state_hash(st["table"]) == expect


class ServeReads:
    """Reads of one snapshot of a multi-generation merge-on-read table with
    key blooms, each answer checked against oracles derived from the
    changelog."""

    BASE = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)  # generator.BASE_TS

    def setup(self, b: Bench, table, log, v_a: int, version: int) -> dict:
        """Oracles of the snapshot ``version`` of ``table``, which holds
        ``log``; ``changes`` reads from ``v_a`` to it."""
        from pyspark.sql import functions as F

        from embulk_input_marketo_spark.generator import expected_final_state

        s = b.sizes
        spark = b.spark
        hwm_a = int(table.manifest(v_a).checkpoint["hwm_lsn"])
        n = s.serve_events
        window = (self.BASE + dt.timedelta(seconds=int(n * 0.4)),
                  self.BASE + dt.timedelta(seconds=int(n * 0.6)))
        final = expected_final_state(log).cache()
        pool = [
            tuple(r) for r in final.select(*COLS)
            .orderBy(F.xxhash64("url", F.lit(b.seed))).limit(s.lookup_pool).collect()
        ]
        n_present = s.probes // 10
        probes = [pool[i % len(pool)][0] for i in range(n_present)] + [
            f"https://absent-{b.seed}.org/page/{i}" for i in range(s.probes - n_present)
        ]
        # (key, expected rows), present and absent keys alternating
        lookups = [
            kv for i, row in enumerate(pool)
            for kv in ((row[0], [row]), (f"https://absent-{b.seed}.org/lookup/{i}", []))
        ]
        probe_hits = set(probes[:n_present])
        if b.corrupt_oracle:
            lookups = [(k, rows + [("corrupt",)]) for k, rows in lookups]
            probe_hits.add("corrupt")
        st = {
            "table": table, "version": version, "v_a": v_a, "window": window,
            "lookups": lookups,
            "probes": spark.createDataFrame([(u,) for u in probes], "url string"),
            "probe_hits": probe_hits,
            "full": b.oracle_hash(final),
            "window_hash": b.oracle_hash(final.where(F.col("warc_ts").between(*window))),
            "changes": b.oracle_hash(self._changes(log, final, hwm_a), ["url", "_change"]),
            "layout": layout_stats(table.manifest(version)),
            "round": 0,
        }
        final.unpersist()
        return st

    @staticmethod
    def _changes(log, final, hwm_a: int):
        """(url, _change) between the state at ``hwm_a`` and ``final``, from
        the changelog alone (a winner's text embeds its lsn, so equal text
        means the same winning event)."""
        from pyspark.sql import functions as F

        from embulk_input_marketo_spark.generator import expected_final_state

        a = expected_final_state(log.where(F.col("lsn") <= hwm_a)).select(
            "url", F.col("text").alias("ta"), F.lit(True).alias("pa"))
        z = final.select("url", F.col("text").alias("tb"), F.lit(True).alias("pb"))
        change = (
            F.when(F.col("pa").isNull(), "insert")
            .when(F.col("pb").isNull(), "delete")
            .when(F.col("ta") != F.col("tb"), "update")
        )
        diff = a.join(z, "url", "full_outer").select("url", change.alias("_change"))
        return diff.where(F.col("_change").isNotNull())

    def op(self, b: Bench, m: Measured, name: str, fn) -> None:
        """Run, time and count one read; ``fn`` returns (ok, rows_out)."""
        m.attempted += 1
        start = time.perf_counter()
        try:
            with b.span(f"lake.table.read.{name}") as sp:
                ok, rows = fn()
                if sp is not None:
                    sp.attrs["rows_out"] = rows
            if not ok:
                print(f"perfbench: {name} answer differs from the oracle",
                      file=sys.stderr)
                m.failed += 1
        except Exception:
            _fail(m, 1, f"read {name}")
        m.busy_s += time.perf_counter() - start
        m.work += 1

    def reads(self, b: Bench, st: dict) -> list:
        """The next round of reads as (name, fn): point lookups (present and
        absent keys alternating), exists probe, window scan, change feed,
        full read."""
        from pyspark.sql import functions as F

        spark, table, v = b.spark, st["table"], st["version"]
        k = st["round"]
        st["round"] += 1
        lookups = st["lookups"]
        ops = []
        for i in range(LOOKUPS_PER_ROUND):
            key, expect = lookups[(k * LOOKUPS_PER_ROUND + i) % len(lookups)]

            def lookup(key=key, expect=expect):
                got = [tuple(r) for r in
                       table.lookup(spark, key, version=v).select(*COLS).collect()]
                return got == expect, len(got)

            ops.append(("lookup", lookup))

        def exists():
            got = table.exists_join(spark, st["probes"], "url", version=v)
            hits = {r["url"] for r in got.where(F.col("exists")).select("url").collect()}
            return hits == st["probe_hits"], b.sizes.probes

        def window():
            n, h = b.hash_of(table.read(spark, version=v, major_range=st["window"]))
            return (n, h) == st["window_hash"], n

        def changes():
            n, h = b.hash_of(table.changes(spark, st["v_a"], to_version=v),
                             ["url", "_change"])
            return (n, h) == st["changes"], n

        def full():
            n, h = b.hash_of(table.read(spark, version=v))
            return (n, h) == st["full"], n

        return ops + [("exists", exists), ("window", window),
                      ("changes", changes), ("full", full)]


class TrickleReads:
    """One table with key blooms. Set-up builds it as a merge-on-read table
    with ``SERVE_GENERATIONS`` generations per bucket; the reads pin that
    snapshot while rounds of ``COW_CALLS_PER_ROUND`` scheduled incremental
    CoW runs commit on top of it, each run after an equal share of one
    round of reads. The unit operation is the incremental run; throughput
    counts runs and reads."""

    def __init__(self):
        self.writer, self.reader = CowTrickle(), ServeReads()

    def setup(self, b: Bench) -> tuple[dict, dict]:
        from pyspark.sql import functions as F

        s = b.sizes
        total = s.serve_events + s.trickle_max_calls * s.trickle_slice
        path = os.path.join(b.fresh_dir("log"), "log")
        t0 = time.perf_counter()
        log = b.changelog(path, total)
        t1 = time.perf_counter()
        table = b.new_table(b.fresh_dir("serve"), log, SERVE_BUCKETS, bloom=True)
        served = log.where(F.col("lsn") < s.serve_events)
        # no compaction (the threshold counts files, and one slice writes
        # several per bucket): every bucket keeps one generation per slice
        report = _replay()(b.spark, served, table, n_slices=SERVE_GENERATIONS,
                           compact_threshold=sys.maxsize, pipeline=True)
        t2 = time.perf_counter()
        r = self.reader.setup(b, table, served, report.batches[0].version,
                              table.current_version())
        t3 = time.perf_counter()
        w = {"log": log, "log_bytes": _dir_bytes(path), "table": table,
             "hwm": s.serve_events, "total": total}
        # warm-up: one untimed incremental run, which also folds the
        # generations of every bucket it touches. The first round of reads
        # is timed cold: warming it up too cost 10-15 s of set-up.
        self.writer.call(b, w)
        t4 = time.perf_counter()
        return {"w": w, "r": r}, {
            "generator.changelog_s": t1 - t0, "setup.preload_s": t2 - t1,
            "setup.oracle_s": t3 - t2, "setup.warmup_s": t4 - t3}

    def measure(self, b: Bench, st: dict, seconds: float) -> Measured:
        w = st["w"]
        table = w["table"]
        v0 = table.current_version()
        events = 0
        m = Measured(t0=time.time())
        last = 0.0
        n = COW_CALLS_PER_ROUND
        while m.busy_s + last <= seconds and self.writer.has_next(b, w, n):
            before = m.busy_s
            reads = self.reader.reads(b, st["r"])
            for i in range(n):
                # every run follows reads, so that no run starts from a
                # different state
                for name, fn in reads[i * len(reads) // n:(i + 1) * len(reads) // n]:
                    self.reader.op(b, m, name, fn)
                m.attempted += 1
                start = time.perf_counter()
                try:
                    events += self.writer.call(b, w).events_applied
                except Exception:
                    _fail(m, 1, "incremental cow replay")
                took = time.perf_counter() - start
                m.busy_s += took
                m.op_s.append(took)
                m.work += 1
            last = m.busy_s - before
        m.t1 = time.time()
        if not self.writer.check(b, w):
            # one check after the loop: a wrong state fails every run in it
            print("perfbench: incremental cow state differs from the oracle",
                  file=sys.stderr)
            m.failed += len(m.op_s)
        v1 = table.current_version()
        m.extra["cow_summaries"] = [table.manifest(v).summary for v in range(v0 + 1, v1 + 1)]
        m.extra["cow_bytes_in"] = w["log_bytes"] * events / w["total"]
        m.extra["layout"] = st["r"]["layout"]
        return m


WORKLOADS = {
    "ingest_bulk": IngestBulk,
    "trickle_reads": TrickleReads,
}


# ------------------------------------------------------------------- metrics
def end_to_end_metrics(m: Measured, setup_s: float) -> dict:
    values = {
        "setup_s": setup_s,
        "throughput_per_s": m.work / m.busy_s if m.busy_s else 0.0,
        "op_p50_ms": statistics.median(m.op_s) * 1e3 if m.op_s else 0.0,
    }
    return {n: {"value": values[n], "unit": u} for n, u, _ in END_TO_END}


def _timeline():
    """``_timeline`` of bench/profile_replay.py: occupancy, gap and partial
    idle of a time window, folded from the event log."""
    spec = importlib.util.spec_from_file_location(
        "profile_replay", os.path.join(REPO, "bench", "profile_replay.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._timeline


def layer_values(tracer, groups, ev_path: str, cores: int, m: Measured) -> dict:
    """Per-layer numbers of one traced loop. Times and job counts of a layer
    are its spans' self values; ``*_per_slice`` and ``read.*`` figures cover
    the whole subtree of the span."""
    from layertrace import GroupStats, children, covered_share, self_times, subtree

    spans = [s for s in tracer.spans if s.end > 0]
    own = self_times(spans)
    kids = children(spans)
    by: dict[str, list] = {}
    for s in spans:
        by.setdefault(s.name, []).append(s)
    empty = GroupStats()

    def g(s):
        return groups.get(tracer.group_of(s), empty)

    def self_s(name):
        return sum(own[s.id] for s in by.get(name, []))

    def tree_stats(s):
        return [g(x) for x in subtree(kids, s)]

    v: dict[str, float] = {}
    merges = (by.get("lake.merge.stage", []) + by.get("lake.merge.cow", [])
              + by.get("lake.merge.mor", []))
    replays = by.get("replay", [])
    slices = len(merges)
    v["replay.calls"] = len(replays)
    v["replay.slices"] = slices
    v["replay.s"] = self_s("replay")
    merge_ids = {s.id for s in merges}
    v["replay.snapshot_s"] = sum(
        min((x.start for x in subtree(kids, r) if x.id in merge_ids), default=r.start)
        - r.start for r in replays
    )
    v["replay.jobs_per_slice"] = (
        sum(st.jobs for r in replays for st in tree_stats(r)) / slices if slices else 0.0
    )
    timeline = _timeline()
    tls = [timeline(ev_path, r.start * 1e3, r.end * 1e3, cores) for r in replays]
    wall = sum(t["wall_sec"] for t in tls)
    v["replay.occupancy"] = (
        sum(t["task_time_sec"] for t in tls) / (cores * wall) if wall else 0.0
    )
    v["replay.driver_gap_s"] = sum(t["gap_sec"] for t in tls)
    v["replay.partial_s"] = sum(t["partial_sec"] for t in tls)

    stage = [g(s) for s in by.get("lake.merge.stage", [])]
    v["lake.merge.stage.s"] = self_s("lake.merge.stage")
    v["lake.merge.stage.jobs"] = sum(x.jobs for x in stage)
    v["lake.merge.stage.task_s"] = sum(x.task_s for x in stage)
    v["lake.merge.stage.max_task_s"] = max((x.max_task_s for x in stage), default=0.0)
    v["lake.merge.stage.shuffle_write_bytes"] = sum(x.shuffle_write_bytes for x in stage)
    v["lake.merge.stage.spill_bytes"] = sum(x.spill_bytes for x in stage)
    v["lake.merge.stage.bytes_written"] = sum(x.bytes_written for x in stage)

    v["lake.merge.commit.s"] = self_s("lake.merge.commit")
    v["lake.merge.commit.jobs"] = sum(g(s).jobs for s in by.get("lake.merge.commit", []))

    compact = by.get("lake.merge.compact", [])
    v["lake.merge.compact.calls"] = len(compact)
    v["lake.merge.compact.s"] = self_s("lake.merge.compact")
    v["lake.merge.compact.bytes_rewritten"] = sum(g(s).bytes_written for s in compact)
    v["lake.merge.compact.jobs"] = sum(g(s).jobs for s in compact)

    cow = by.get("lake.merge.cow", [])
    cow_tree = [st for s in cow for st in tree_stats(s)]
    v["lake.merge.cow.s"] = self_s("lake.merge.cow")
    v["lake.merge.cow.jobs_per_slice"] = (
        sum(x.jobs for x in cow_tree) / len(cow) if cow else 0.0)
    v["lake.merge.cow.stages_per_slice"] = (
        sum(len(x.stages) for x in cow_tree) / len(cow) if cow else 0.0)
    bytes_in = m.extra.get("cow_bytes_in", 0)
    v["lake.merge.cow.bytes_rewritten_per_byte_in"] = (
        sum(x.bytes_written for x in cow_tree) / bytes_in if bytes_in else 0.0)
    summaries = m.extra.get("cow_summaries", [])
    touched = sum(x.get("touched_buckets", 0) for x in summaries)
    v["lake.merge.cow.bloom_skipped_ratio"] = (
        sum(x.get("bloom_skipped_buckets", 0) for x in summaries) / touched
        if touched else 0.0)

    v["lake.table.manifest.calls"] = len(by.get("lake.table.manifest", []))
    v["lake.table.manifest.s"] = self_s("lake.table.manifest")
    v["lake.table.commit.s"] = self_s("lake.table.commit")
    v["lake.table.commit.conflict_retries"] = sum(
        s.error == "CommitConflictError" for s in by.get("lake.table.commit", []))
    v["lake.bloom.build_s"] = self_s("lake.bloom.build")
    v["lake.bloom.load_s"] = self_s("lake.bloom.load")

    for op in READ_OPS:
        ops = by.get(f"lake.table.read.{op}", [])
        trees = [tree_stats(s) for s in ops]
        rows_out = sum(s.attrs.get("rows_out", 0) for s in ops)
        p = f"lake.table.read.{op}"
        v[f"{p}.s"] = statistics.median(s.end - s.start for s in ops) if ops else 0.0
        v[f"{p}.jobs"] = sum(x.jobs for t in trees for x in t) / len(ops) if ops else 0.0
        v[f"{p}.input_bytes"] = (
            sum(x.input_bytes for t in trees for x in t) / len(ops) if ops else 0.0)
        v[f"{p}.rows_scanned_per_row_out"] = (
            sum(x.records_read for t in trees for x in t) / rows_out if rows_out else 0.0)

    dirty, gens = m.extra.get("layout", (0, 0.0))
    v["lake.table.dirty_buckets"] = dirty
    v["lake.table.generations_per_bucket"] = gens
    v["trace.span_coverage"] = covered_share(spans, m.t0, m.t1)
    return v


def serial_speedups(b: Bench, wl: IngestBulk, st: dict, parallel) -> dict:
    """Replay the first slice of the bulk changelog on ``local[1]`` under a
    tracer and divide its layer times by those of the first slice of each
    replay in the parallel traced run (``parallel``, its tracer)."""
    from layertrace import Tracer, children, self_times, subtree

    b.spark = start_session(b.work, 1)
    st = dict(st, log=b.spark.read.parquet(st["log_path"]))
    serial = Tracer(b.spark, "serial")
    serial.install()
    try:
        wl.replay_into(b, st, b.new_table(b.fresh_dir("serial"), st["log"], BULK_BUCKETS),
                       max_batches=SERIAL_SLICES)
    finally:
        serial.close()
    b.spark.stop()

    def per_call(spans, name):
        done = [s for s in spans if s.end > 0]
        replays = [s for s in done if s.name == "replay"]
        if name == "replay":  # inclusive wall per slice
            n = sum(1 for s in done if s.name == "lake.merge.stage")
            return sum(s.end - s.start for s in replays) / n if n else 0.0
        kids, own = children(done), self_times(done)
        # the first call of the layer in a replay belongs to its first slice
        firsts = [min(xs, key=lambda x: x.start) for r in replays
                  if (xs := [x for x in subtree(kids, r) if x.name == name])]
        return sum(own[x.id] for x in firsts) / len(firsts) if firsts else 0.0

    out = {}
    for name in ("replay", "lake.merge.stage", "lake.merge.commit",
                 "lake.merge.compact"):
        many = per_call(parallel.spans, name)
        out[f"serial.{name}.speedup"] = (
            per_call(serial.spans, name) / many if many else 0.0)
    return out


# ----------------------------------------------------------------------- main
def run(workload: str, seed: int, seconds: float, trace: bool,
        sizes: Sizes = Sizes(), corrupt_oracle: bool = False) -> dict:
    cores = min(4, os.cpu_count() or 1)
    work = os.path.join(HERE, f".work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Arrow UDF workers import the engine from any cwd; every temp file
    # stays inside the work dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    import tempfile

    tempfile.tempdir = None
    ev_dir = os.path.join(work, "eventlog") if trace else None
    steal0, total0 = cpu_ticks()
    try:
        t0 = time.perf_counter()
        spark = start_session(work, cores, ev_dir)
        session_s = time.perf_counter() - t0
        b = Bench(spark, work, seed, sizes, corrupt_oracle)
        wl = WORKLOADS[workload]()
        t1 = time.perf_counter()
        state, parts = wl.setup(b)
        setup_s = time.perf_counter() - t0
        print(f"perfbench: session {session_s:.2f} s, setup {time.perf_counter() - t1:.2f} s "
              + " ".join(f"{k}={v:.2f}" for k, v in parts.items()), file=sys.stderr)

        if not trace:
            m = wl.measure(b, state, seconds)
            steal, total = (x - y for x, y in zip(cpu_ticks(), (steal0, total0)))
            print(f"perfbench: cpu steal {steal / max(total, 1):.1%} during the run",
                  file=sys.stderr)
            return _result(m, end_to_end_metrics(m, setup_s))

        from layertrace import Tracer, event_log_path, fold_event_log

        untraced = wl.measure(b, state, seconds)
        tracer = Tracer(spark, f"{workload}-{seed}")
        b.tracer = tracer
        tracer.install()
        try:
            m = wl.measure(b, state, seconds)
        finally:
            tracer.close()
            b.tracer = None
        app_id = spark.sparkContext.applicationId
        spark.stop()  # flushes the event log
        ev_path = event_log_path(ev_dir, app_id)
        v = layer_values(tracer, fold_event_log(ev_path), ev_path, cores, m)
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"{workload}-seed{seed}-spans.json"))
        v["session.start_s"] = session_s
        v.update(parts)
        base_rate = untraced.work / untraced.busy_s if untraced.busy_s else 0.0
        rate = m.work / m.busy_s if m.busy_s else 0.0
        v["trace.overhead_pct"] = (base_rate / rate - 1) * 100 if rate else 0.0
        v.update({k: 0.0 for k, _, _ in PER_LAYER if k.startswith("serial.")})
        if workload == "ingest_bulk":
            v.update(serial_speedups(b, wl, state, tracer))
        both = Measured(attempted=untraced.attempted + m.attempted,
                        failed=untraced.failed + m.failed)
        return _result(both, {n: {"value": float(v[n]), "unit": u}
                              for n, u, _ in PER_LAYER})
    finally:
        try:
            from pyspark.sql import SparkSession

            active = SparkSession.getActiveSession()
            if active is not None:
                active.stop()
            shutdown_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)


def _result(m: Measured, metrics: dict) -> dict:
    return {"correct": m.failed == 0 and m.attempted > 0, "attempted": m.attempted,
            "failed": m.failed, "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--toy", action="store_true", help="self-test input sizes")
    ap.add_argument("--corrupt-oracle", action="store_true",
                    help="self-test: corrupt every oracle answer, so every "
                         "operation must fail")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(REPO, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE}/ not found next to perfbench/",
              file=sys.stderr)
        return 2
    if a.workload == "all":
        # one process (and JVM) per workload, as separate runs would be
        for name in WORKLOADS:
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(a.seed), "--seconds", str(a.seconds),
                   "--trace", str(a.trace)] + (["--toy"] if a.toy else [])
            out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True)
            res = json.loads(out.stdout.strip().splitlines()[-1])
            for metric, mv in res["metrics"].items():
                print(f"{name} {metric} {mv['value']:.6g} {mv['unit']}", file=sys.stderr)
            print(json.dumps({"workload": name, **res}))
        return 0
    sys.path.insert(0, REPO)
    res = run(a.workload, a.seed, a.seconds, bool(a.trace),
              TOY if a.toy else Sizes(), a.corrupt_oracle)
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
