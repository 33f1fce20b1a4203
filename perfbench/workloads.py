"""The ``trickle_hot`` workload: one CDC tail per run, driven through the
engine's public entry points with their shipped defaults.

1. set-up: stage the seed events and the WAL segments as parquet (one file per
   segment), seed the table with ``ParquetLakeTable.overwrite``, and warm the
   tail with two real micro-batches into the same table and checkpoint;
2. measured phase: ``streaming.tail.start_tail`` drains the backlog (closed
   loop, ``availableNow``, one segment per micro-batch);
3. downstream and maintenance: a ``cdc.feed.ChangeFeedCursor`` consumer reads
   what the tail committed, then ``compact()`` and ``vacuum()`` run once;
4. gates: the lake snapshot against a DuckDB last-writer-wins oracle computed
   from the staged parquet, the DLQ row count against the invalid events
   staged, and the consumer's rebuilt state against the lake rows it covers.

Segment-to-batch mapping comes from durable artifacts only: the file-source
log under ``<checkpoint>/sources/0`` gives each batch's files, and each
manifest's watermark gives the version that committed the batch.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
import traceback
from dataclasses import dataclass, field
from datetime import datetime

import duckdb
from pyspark.sql import functions as F

import pocket_etl_spark.streaming.tail as tail_mod
from pocket_etl_spark.cdc.feed import ChangeFeedCursor
from pocket_etl_spark.lake import ParquetLakeTable

import gate
import hostref
import inputs
from sparkstats import COUNTER_KEYS, SparkCounters, widest_shuffle_stage, window_counters
from tracing import Tracer

QUERY_ID = "perfbench_tail"


@dataclass(frozen=True)
class Shape:
    """Input sizes of one run."""

    keys: int  # the table is seeded with one row per key before the tail starts
    segments: int  # measured WAL segments (one parquet file each)
    segment_events: int
    files_per_trigger: int  # segments per micro-batch
    hot_fraction: float  # share of events on one hot key
    invalid_per_10k: int  # events given a NULL or unknown op


# Set-up micro-batches: a small one that compiles the apply path, then one
# segment group the size of a measured trigger. With a small warm-up alone
# the measured triggers kept getting faster one after another (the JIT was
# still compiling the code that scales with batch size), so their median
# moved with the host. A second full-size warm-up trigger did not help: the
# first trigger after the tail restarts stays 20-30% slower than the rest.
WARM_EVENTS = 10_000


def shape_for(seconds: int) -> Shape:
    """Sizes scale with the run length so that the measured phase lasts about
    ``seconds`` on a 4-core host (see README.md for the calibration)."""
    return Shape(
        keys=20_000,
        segments=max(4, round(seconds / 2)),
        segment_events=20_000,
        files_per_trigger=1,
        hot_fraction=0.5,
        invalid_per_10k=10,
    )


def _parquet_files(d: str) -> list[str]:
    return sorted(glob.glob(os.path.join(d, "*.parquet")))


def _dir_bytes(d: str) -> int:
    total = 0
    for root, _, files in os.walk(d):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


@dataclass
class Inputs:
    seed_file: str
    warm_files: list[str]
    segment_files: list[str]


def stage_inputs(root: str, shape: Shape, seed: int) -> Inputs:
    """Write the run's inputs: a pure function of ``(shape, seed)``. The
    engine only ever sees these files."""
    d = os.path.join(root, "inputs")
    os.makedirs(d)
    seed_file = inputs.write_events(
        os.path.join(d, "seed.parquet"), 1, shape.keys + 1, seed, shape.keys, seed_rows=True,
    )
    warm = shape.files_per_trigger
    files = inputs.write_segments(
        os.path.join(d, "segments"), shape.keys + 1,
        [WARM_EVENTS] + [shape.segment_events] * (warm + shape.segments),
        seed, shape.keys, shape.hot_fraction, shape.invalid_per_10k,
    )
    return Inputs(seed_file, files[: 1 + warm], files[1 + warm:])


@dataclass
class Staged:
    root: str
    table: ParquetLakeTable
    tail_dir: str
    checkpoint: str
    dlq: str
    cursor_path: str


def fresh_tail(spark, root: str, shape: Shape, inp: Inputs) -> Staged:
    """A fresh table (seeded by ``overwrite``) and a fresh checkpoint, warmed
    by real micro-batches over the warm segments."""
    os.makedirs(root)
    staged = Staged(
        root=root,
        table=ParquetLakeTable(spark, os.path.join(root, "table")),
        tail_dir=os.path.join(root, "wal"),
        checkpoint=os.path.join(root, "checkpoint"),
        dlq=os.path.join(root, "dlq"),
        cursor_path=os.path.join(root, "cursor.json"),
    )
    staged.table.overwrite(
        spark.read.parquet(inp.seed_file).select("repo", "path", "commit", "lang", "content", "lsn")
    )
    os.makedirs(staged.tail_dir)
    for f in inp.warm_files:
        publish(staged, f)
    start(spark, staged, shape.files_per_trigger).awaitTermination()
    return staged


def publish(staged: Staged, src: str) -> str:
    dst = os.path.join(staged.tail_dir, os.path.basename(src))
    os.rename(src, dst)
    return dst


def start(spark, staged: Staged, files_per_trigger: int):
    return tail_mod.start_tail(
        spark,
        staged.tail_dir,
        staged.table,
        staged.checkpoint,
        query_id=QUERY_ID,
        dlq_path=staged.dlq,
        max_files_per_trigger=files_per_trigger,
        available_now=True,
    )


class Consumer:
    """Downstream change-feed consumer: poll, consume (project and collect),
    commit. Delivered windows are kept for the feed-state gate."""

    def __init__(self, table: ParquetLakeTable, cursor_path: str, tracer: Tracer | None):
        self.cursor = ChangeFeedCursor(table, cursor_path)
        self.tracer = tracer
        self.deliveries = []
        self.windows: list[tuple[int, int]] = []
        self.commits: list[tuple[float, int]] = []  # (time, committed version)
        self.poll_s: list[float] = []
        self.consume_s: list[float] = []
        self.polls = 0
        self.errors: list[str] = []  # one traceback per raised poll

    def step(self) -> bool:
        """One poll; consume and commit if it returned a window."""
        self.polls += 1
        since = self.cursor.position()
        t0 = time.time()
        df, upto = self.cursor.poll()
        t1 = time.time()
        if df is None:
            return False
        self.poll_s.append(t1 - t0)
        if self.tracer is not None:
            with self.tracer.span("feed.consume", trace_id=f"v{upto}"):
                pdf = self._consume(df)
        else:
            pdf = self._consume(df)
        self.consume_s.append(time.time() - t1)
        self.cursor.commit(upto)
        self.commits.append((time.time(), upto))
        self.deliveries.append(pdf)
        self.windows.append((since, upto))
        return True

    @staticmethod
    def _consume(df):
        return df.select(
            "repo", "path", "commit", "lang",
            F.sha2("content", 256).alias("content_sha"),
            "_change_type", "_commit_version",
        ).toPandas()

    def safe_step(self) -> bool:
        """``step``, with a raised poll recorded as a failed operation."""
        try:
            return self.step()
        except Exception:  # a failed poll is counted, not fatal
            self.errors.append(traceback.format_exc(limit=4))
            return False


# ---------- durable artifacts ----------


def batch_files(checkpoint: str) -> dict[int, list[str]]:
    """batch id -> WAL files, from the file-source log (compacted or not)."""
    out: dict[int, set[str]] = {}
    src = os.path.join(checkpoint, "sources", "0")
    for name in os.listdir(src):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(src, name)) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                e = json.loads(line)
                path = e["path"]
                if path.startswith("file:"):
                    path = path[len("file:"):]
                    while path.startswith("//"):
                        path = path[1:]
                out.setdefault(int(e["batchId"]), set()).add(os.path.normpath(path))
    return {b: sorted(v) for b, v in out.items()}


def manifests(table: ParquetLakeTable) -> dict[int, dict]:
    mdir = os.path.join(table.path, "_manifests")
    out = {}
    for name in os.listdir(mdir):
        if name.startswith("v") and name.endswith(".json"):
            with open(os.path.join(mdir, name)) as f:
                out[int(name[1:-5])] = json.load(f)
    return out


def batch_versions(mans: dict[int, dict]) -> dict[int, int]:
    """batch id -> the version whose commit first carried it as watermark."""
    out: dict[int, int] = {}
    for v in sorted(mans):
        b = mans[v].get("watermarks", {}).get(QUERY_ID)
        if b is not None and int(b) not in out:
            out[int(b)] = v
    return out


def parquet_rows(d: str) -> int:
    files = _parquet_files(d)
    if not files:
        return 0
    con = duckdb.connect()
    try:
        lst = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
        return int(con.sql(f"SELECT sum(num_rows) FROM parquet_file_metadata([{lst}])").fetchone()[0])
    finally:
        con.close()


def files_per_bucket(table: ParquetLakeTable) -> float:
    man = table._manifest(table.current_version())
    counts = [len(_parquet_files(os.path.join(table.path, rel))) for rel in man["buckets"].values()]
    return _mean(counts)


def _progress_start(p: dict) -> float:
    ts = p["timestamp"].replace("Z", "+00:00")
    return datetime.fromisoformat(ts).timestamp()


# ---------- the run ----------


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    e2e: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)

    def check(self, name: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(f"{name}: {p}" for p in problems)


def run_trickle_hot(spark, seed: int, seconds: int, work: str, tracer: Tracer | None,
                    session_s: float) -> Outcome:
    shape = shape_for(seconds)
    out = Outcome()
    refs = [hostref.reference_s()]

    t = time.time()
    inp = stage_inputs(work, shape, seed)
    stage_s = time.time() - t
    t = time.time()
    staged = fresh_tail(spark, os.path.join(work, "run"), shape, inp)
    warm_s = time.time() - t
    consumer = Consumer(staged.table, staged.cursor_path, tracer)
    since = staged.table.current_version()
    consumer.cursor.commit(since)  # a downstream that subscribes at the head
    # One cold set-up per process: starting the JVM and compiling the first
    # seed write and micro-batch cannot be repeated inside one process.
    out.e2e["setup_s"] = session_s + stage_s + warm_s
    out.detail["setup"] = {"session_s": session_s, "stage_s": stage_s, "warm_s": warm_s}

    if tracer is not None:
        tracer.wrap(tail_mod, "apply_batch", "apply_batch", trace_arg="batch_id",
                    summarize=lambda r: {"timings": r.timings, "rows_bad": r.rows_bad})
        for attr in ("merge", "read_changes", "compact", "vacuum"):
            tracer.wrap(ParquetLakeTable, attr, f"lake.{attr}",
                        trace_arg="batch_id" if attr == "merge" else None,
                        summarize=_merge_summary if attr == "merge" else None)
        tracer.wrap(ChangeFeedCursor, "poll", "feed.poll")
        tracer.wrap(ChangeFeedCursor, "commit", "feed.commit")

    try:
        refs.append(hostref.reference_s())
        _drain(spark, staged, shape, inp, consumer, out)
        refs.append(hostref.reference_s())
        counters = SparkCounters(spark) if tracer is not None else None
        _post(staged, shape, inp, consumer, since, counters, out)
    finally:
        if tracer is not None:
            tracer.uninstall()
    if tracer is not None:
        _apply_layer_from_spans(tracer, out)
    _gates(staged, inp, consumer, since, out)
    out.detail["host_reference_s"] = refs
    return out


def _merge_summary(r) -> dict:
    return {"buckets_rewritten": len(r.touched_buckets), "committed": r.committed}


def _drain(spark, staged: Staged, shape: Shape, inp: Inputs, consumer: Consumer,
           out: Outcome) -> None:
    """The measured phase: the tail drains the staged backlog, then the
    consumer reads and commits everything it committed."""
    for f in inp.segment_files:
        publish(staged, f)
    t0 = time.time()
    q = start(spark, staged, shape.files_per_trigger)
    try:
        q.awaitTermination()
    except Exception as e:  # a raised trigger is a failed operation
        out.problems.append(f"tail: {e}")
        out.failed += 1
    t1 = time.time()
    out.detail["phase"] = {"start": t0, "end": t1}
    out.detail["progress"] = [json.loads(p.json) for p in q.recentProgress]
    consumer.safe_step()


def _post(staged: Staged, shape: Shape, inp: Inputs, consumer: Consumer, since: int,
          counters: SparkCounters | None, out: Outcome) -> None:
    """Everything measured after the drain: the durable-artifact mapping, the
    end-to-end figures and the maintenance phase; with ``counters`` (traced
    runs) also the per-layer walk, which must run before ``vacuum`` removes
    the versions it reads."""
    table = staged.table
    phase = out.detail["phase"]
    mans = manifests(table)
    b2v = batch_versions(mans)
    b2f = batch_files(staged.checkpoint)
    due = {os.path.normpath(os.path.join(staged.tail_dir, os.path.basename(f)))
           for f in inp.segment_files}
    measured = {b: fs for b, fs in b2f.items() if any(f in due for f in fs)}
    seg_bytes = {f: os.path.getsize(f) for fs in measured.values() for f in fs}
    wal_bytes = sum(seg_bytes.values())
    events = len(seg_bytes) * shape.segment_events

    # Every segment is due when the drain starts; it is delivered when the
    # consumer first commits a version at or past the one that applied it.
    delivered = []
    for b, fs in measured.items():
        v = b2v.get(b)
        seen = next((t for t, cv in consumer.commits if v is not None and cv >= v), None)
        if seen is not None:
            delivered.extend(seen - phase["start"] for _ in fs)
    if len(delivered) != len(due):
        out.problems.append(f"delivery: {len(delivered)} of {len(due)} segments mapped")
        out.failed += 1

    progress = [p for p in out.detail["progress"] if p.get("numInputRows", 0) > 0
                and p["batchId"] in measured]
    trig = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress]
    out.attempted += len(measured) + consumer.polls
    out.failed += len(consumer.errors)
    out.problems.extend(f"feed: {e}" for e in consumer.errors)

    out.e2e["latency_p50_s"] = _median(trig)
    out.e2e["completion_s"] = max(delivered, default=0.0)
    table_bytes = _dir_bytes(table.path)
    absorbed = wal_bytes + os.path.getsize(inp.seed_file)
    out.layer["tail.events_per_s"] = events / (phase["end"] - phase["start"])
    out.layer["lake.stored_bytes_per_wal_byte"] = table_bytes / absorbed
    out.detail["samples"] = {"batches": len(trig), "segments": len(delivered)}
    out.detail["trigger_s"] = trig
    out.detail["lake_walk"] = {"versions": len(mans), "table_bytes": table_bytes,
                               "wal_bytes": wal_bytes, "absorbed_bytes": absorbed}
    out.detail["measured_batches"] = sorted(measured)
    out.detail["applied_files"] = sorted(f for fs in b2f.values() for f in fs)
    if counters is not None:
        _layers(table, mans, b2v, measured, seg_bytes, progress, consumer, since,
                counters, out)

    before = files_per_bucket(table)
    t = time.time()
    table.compact()
    out.layer["lake.compact_s"] = time.time() - t
    t = time.time()
    table.vacuum()
    out.layer["lake.vacuum_s"] = time.time() - t
    out.layer["lake.files_per_bucket_before"] = before
    out.layer["lake.files_per_bucket_after"] = files_per_bucket(table)


def _layers(table, mans, b2v, measured, seg_bytes, progress, consumer: Consumer, since: int,
            counters: SparkCounters, out: Outcome) -> None:
    trig = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress]
    add = [p["durationMs"].get("addBatch", 0) / 1e3 for p in progress]

    # lake: what each measured commit wrote, from the directory walk
    files_w, bytes_w, amp, rewritten = [], [], [], []
    for b, fs in measured.items():
        v = b2v.get(b)
        if v is None:
            continue
        vdir = os.path.join(table.path, "data", f"v{v:012d}")
        pf = [p for p in glob.glob(os.path.join(vdir, "*", "*.parquet"))]
        files_w.append(len(pf))
        bw = sum(os.path.getsize(p) for p in pf)
        bytes_w.append(bw)
        amp.append(bw / sum(seg_bytes[f] for f in fs))
        prev = mans.get(v - 1, {"buckets": {}})["buckets"]
        rewritten.append(sum(1 for k, rel in mans[v]["buckets"].items() if prev.get(k) != rel))
    latest = max(mans)
    mpath = os.path.join(table.path, "_manifests", f"v{latest:012d}.json")

    # feed: rows emitted against rows in the bucket files each window scanned
    scanned = 0
    for lo, hi in consumer.windows:
        if lo < since:
            continue
        lo_b = mans.get(lo, {"buckets": {}})["buckets"] if lo else {}
        for k, rel in mans[hi]["buckets"].items():
            if lo_b.get(k) != rel:
                scanned += parquet_rows(os.path.join(table.path, rel))
    emitted = sum(len(d) for d, (lo, _) in zip(consumer.deliveries, consumer.windows) if lo >= since)

    # Spark counters per measured batch, from the tail's trigger windows
    counters.settle()
    stages, jobs = counters.stages(), counters.job_submissions()
    windows = []
    for p in progress:
        s0 = _progress_start(p)
        windows.append((s0, s0 + p["durationMs"]["triggerExecution"] / 1e3))
    out.layer.update(spark_layer(counters, stages, jobs, windows))
    out.layer.update({
        "tail.trigger_s": _mean(trig),
        "tail.add_batch_s": _mean(add),
        "tail.overhead_s": _mean(trig) - _mean(add),
        "tail.batches": len(trig),
        "lake.buckets_rewritten": _mean(rewritten),
        "lake.files_written": _mean(files_w),
        "lake.bytes_written": _mean(bytes_w),
        "lake.write_amp": _mean(amp),
        "lake.manifest_bytes": os.path.getsize(mpath),
        "feed.poll_s": _mean(consumer.poll_s),
        "feed.consume_s": _mean(consumer.consume_s),
        "feed.rows_emitted": emitted,
        "feed.rows_scanned": scanned,
        "feed.useful_ratio": emitted / scanned if scanned else 0.0,
    })


def spark_layer(counters: SparkCounters, stages, jobs, windows) -> dict[str, float]:
    """``spark.*`` layer metrics: counter means per window (a micro-batch or
    a query call), the median task skew of each window's widest shuffle
    stage, and the driver JVM's peak heap."""
    per_window, skews = [], []
    for s0, s1 in windows:
        per_window.append(window_counters(stages, jobs, s0, s1))
        w = widest_shuffle_stage(stages, s0, s1)
        if w is not None:
            skews.append(counters.task_skew(w))
    out = {f"spark.{k}": _mean([c[k] for c in per_window]) for k in COUNTER_KEYS}
    out["spark.task_skew"] = _median(skews)
    out["spark.peak_heap_mb"] = counters.peak_heap_mb()
    return out


def _apply_layer_from_spans(tracer: Tracer, out: Outcome) -> None:
    """apply.* phase means per measured batch, from the ApplyResult.timings
    each traced ``apply_batch`` call returned; checks they fit in addBatch."""
    measured = set(out.detail.get("measured_batches", []))
    spans = [s for s in tracer.spans if s.name == "apply_batch"
             and s.trace_id is not None and int(s.trace_id) in measured]
    phases = {"dlq_split": [], "batch_stats": [], "dlq_write": [], "merge": [], "lineage": []}
    rows_bad = 0
    for s in spans:
        tm = s.attrs.get("timings", {})
        phases["dlq_split"].append(tm.get("dlq_split", 0.0))
        phases["batch_stats"].append(tm.get("batch_stats", 0.0))
        phases["dlq_write"].append(tm.get("dlq_write", 0.0))
        phases["merge"].append(tm.get("merge", 0.0))
        phases["lineage"].append(tm.get("lineage_stats", 0.0) + tm.get("lineage_write", 0.0))
        rows_bad += int(s.attrs.get("rows_bad", 0))
    for k, v in phases.items():
        out.layer[f"apply.{k}_s"] = _mean(v)
    out.layer["apply.rows_bad"] = rows_bad
    add_by_batch = {p["batchId"]: p["durationMs"].get("addBatch", 0) / 1e3
                    for p in out.detail.get("progress", [])}
    over = []
    for s in spans:
        total = sum(s.attrs.get("timings", {}).values())
        add = add_by_batch.get(int(s.trace_id))
        if add is not None and total > add + 0.005:
            over.append(int(s.trace_id))
    out.detail["apply_phases_exceed_add_batch"] = over
    merges = [s for s in tracer.spans if s.name == "lake.merge"
              and s.trace_id is not None and int(s.trace_id) in measured]
    out.detail["merge_buckets_rewritten"] = [s.attrs.get("buckets_rewritten") for s in merges]


def _gates(staged: Staged, inp: Inputs, consumer: Consumer, since: int, out: Outcome) -> None:
    table = staged.table
    applied = out.detail["applied_files"]
    oracle = gate.lww_oracle([inp.seed_file] + applied)
    rows = gate.table_rows(table)
    out.check("lake_vs_duckdb", gate.frame_problems(rows[~rows["deleted"]], oracle))
    injected = gate.invalid_event_count(applied)
    dlq_rows = parquet_rows(staged.dlq) if os.path.isdir(staged.dlq) else 0
    out.check("dlq_rows", [] if dlq_rows == injected else [f"{dlq_rows} != injected {injected}"])
    delivered = [d for d, (lo, _) in zip(consumer.deliveries, consumer.windows) if lo >= since]
    out.check(
        "feed_vs_lake",
        gate.feed_problems(gate.feed_state(delivered), rows[rows["version"] > since]),
    )
    out.detail["oracle_rows"] = len(oracle)
    out.detail["dlq_rows"] = dlq_rows
