"""In-memory span tracer for the traced benchmark run.

The tracer wraps public functions of the program's layers from outside
(``install``), records one span per call, and writes the spans out when the
run ends. It changes nothing in the program: every wrapper calls the
original function with the original arguments and returns its result.

A span records its name, start, end, parent span, workload and thread, plus
counters. Spans opened with a ``status`` mode also read Spark's job, stage,
task and byte counters. The scheduler hands out job ids in sequence, so
with ``status="range"`` the jobs a span caused are the id range between its
start and its end, whichever thread or job group ran them (streaming
micro-batches run under the streaming query's own job group); its stages
are the stages those jobs ran. A span that can run beside its siblings,
such as a merge inside ``DocIngest``'s concurrent plane folds, uses
``status="thread"``: it tags its thread's jobs with a Spark job tag and
counts only the jobs in its range that carry the tag. The counters are read
from the JVM status store at the span's end, because the store keeps only
the most recent 1,000 jobs and stages.

The wrappers stay installed for the whole run. While the tracer is not
``enabled`` a span keeps only its duration (``durations``), which is how the
benchmark times the steps it cannot time inline, such as the follower's
microbatches; recording spans and reading Spark counters happen only while
it is enabled.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# (module path, attribute path, span name, Spark status mode read at span end)
TRACED_CALLS = (
    ("blockchain_etl_spark.streaming.ingest", "BlockIngest.run_blockfiles_stream", "blockfiles.stream", None),
    ("blockchain_etl_spark.streaming.ingest", "BlockIngest.process_batch", "ingest.batch", "range"),
    ("pyspark.sql.readwriter", "DataFrameWriter.parquet", "writer.parquet", None),
    ("blockchain_etl_spark.operators.merge", "ParquetMergeTarget.merge_with", "merge.merge_with", "thread"),
    ("blockchain_etl_spark.streaming.docs", "DocIngest.process_batch", "docs.batch", "range"),
    ("blockchain_etl_spark.operators.lsh_index", "MinHashIndex.upsert", "docs.index_upsert", None),
    ("blockchain_etl_spark.operators.chunk_index", "ChunkDFIndex.upsert", "docs.index_upsert", None),
    ("blockchain_etl_spark.operators.ivm", "IncrementalJoinAggregate.apply", "ivm.apply", "range"),
    ("blockchain_etl_spark.operators.ivm", "IncrementalJoinAggregate.catch_up", "ivm.apply", "range"),
    ("blockchain_etl_spark.operators.ivm", "IncrementalJoinView.apply", "ivm.apply", "range"),
)


class SparkCounters:
    """Job/stage/task/byte counters for a job-id range, from the JVM's
    scheduler and status store (``spark.ui.enabled=false`` keeps the store)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        sc = self.sc._jsc.sc()
        self._dag = sc.dagScheduler()
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()

    def mark(self) -> int:
        """The id the scheduler gives the next job."""
        nxt = self._dag.nextJobId()  # an AtomicInteger; py4j may hand back its int
        return nxt if isinstance(nxt, int) else int(nxt.get())

    def between(self, start: int, end: int, tag: "str | None" = None) -> dict:
        """Counters of the jobs with ids in ``[start, end)`` (only those
        carrying ``tag``, if given) and of the stages they ran. A stage shared
        by several of the jobs, as adaptive execution's query stages are,
        counts once; a stage a job skipped, because an earlier job had
        already run it, does not count."""
        # job and stage data reach the store through the listener bus;
        # drain it so the span's jobs and stages are complete before reading
        self._bus.waitUntilEmpty(10_000)
        out = {
            "jobs": 0,
            "stages": 0,
            "tasks": 0,
            "executor_run_s": 0.0,
            "shuffle_bytes": 0,
            "input_bytes": 0,
            "output_bytes": 0,
        }
        stage_ids: set[int] = set()
        for jid in range(start, end):
            try:
                job = self._store.job(jid)
            except Py4JJavaError:  # evicted from the store
                continue
            if tag is not None and not job.jobTags().contains(tag):
                continue
            out["jobs"] += 1
            ids = str(job.stageIds().mkString(","))
            stage_ids.update(int(i) for i in ids.split(",") if i)
        for sid in sorted(stage_ids):
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted, or never submitted
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += int(st.numCompleteTasks())
            out["executor_run_s"] += int(st.executorRunTime()) / 1000.0
            out["shuffle_bytes"] += int(st.shuffleWriteBytes())
            out["input_bytes"] += int(st.inputBytes())
            out["output_bytes"] += int(st.outputBytes())
        return out


class Tracer:
    """Spans kept in memory; ``dump`` writes them as JSON lines.

    ``enabled`` toggles recording without removing the installed wrappers,
    so one process can time interleaved traced and untraced passes; while it
    is off, spans keep only their durations."""

    def __init__(self, workload: str, counters: "SparkCounters | None" = None):
        self.workload = workload
        self.counters = counters
        self.enabled = False
        self.spans: list[dict] = []
        self.durations: dict[str, list[float]] = {}
        self._local = threading.local()
        self._main_stack: list[dict] = []
        self._lock = threading.Lock()
        self._installed: list[tuple[object, str, object]] = []

    # -- span stack ---------------------------------------------------------
    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._main_stack if threading.current_thread() is threading.main_thread() else []
            self._local.stack = st
        return st

    def _open_spans(self) -> list[dict]:
        """This thread's open spans; a worker thread the program started
        (stream callbacks, concurrent plane folds) hangs under the main
        thread's innermost open span."""
        st = self._stack()
        return st if st else self._main_stack

    @contextmanager
    def span(self, name: str, status: "str | None" = None):
        if not self.enabled:
            t0 = time.perf_counter()
            try:
                yield None
            finally:
                self.durations.setdefault(name, []).append(time.perf_counter() - t0)
            return
        open_spans = self._open_spans()
        parent = open_spans[-1] if open_spans else None
        rec = {
            "name": name,
            "workload": self.workload,
            "parent": parent["id"] if parent else None,
            "thread": threading.current_thread().name,
            "counters": {},
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        counters = self.counters if status else None
        tag = f"perfbench-span-{rec['id']}" if status == "thread" else None
        if counters:
            first_job = counters.mark()
            if tag:
                counters.sc.addJobTag(tag)
        st = self._stack()
        st.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            st.pop()
            self.durations.setdefault(name, []).append(rec["end"] - rec["start"])
            if counters:
                if tag:
                    counters.sc.removeJobTag(tag)
                rec["spark"] = counters.between(first_job, counters.mark(), tag)

    def count(self, key: str, n: float = 1) -> None:
        """Add ``n`` to ``key`` on the innermost open span and on each of
        its ancestors, so an enclosing span's counter includes what its
        children did, in whichever thread they ran."""
        if not self.enabled:
            return
        open_spans = self._open_spans()
        rec = open_spans[-1] if open_spans else None
        with self._lock:
            while rec is not None:
                rec["counters"][key] = rec["counters"].get(key, 0) + n
                rec = self.spans[rec["parent"]] if rec["parent"] is not None else None

    # -- wrappers -----------------------------------------------------------
    def _patch(self, owner, attr: str, wrapper) -> None:
        self._installed.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap the traced calls. Call ``uninstall`` to restore them."""
        import importlib

        for mod_name, path, span_name, status in TRACED_CALLS:
            owner = importlib.import_module(mod_name)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            self._patch(owner, attr, self._span_wrapper(getattr(owner, attr), span_name, status))

        from pyspark.sql.classic.dataframe import DataFrame

        from blockchain_etl_spark import session
        from blockchain_etl_spark.functions import arrowio

        orig_ckpt = DataFrame.localCheckpoint

        @functools.wraps(orig_ckpt)
        def local_checkpoint(df, *args, **kwargs):
            self.count("checkpoints")
            return orig_ckpt(df, *args, **kwargs)

        self._patch(DataFrame, "localCheckpoint", local_checkpoint)

        orig_gate = session.gate_shuffle

        @functools.wraps(orig_gate)
        def gate_shuffle(*args, **kwargs):
            self.count("gate_scopes")
            return orig_gate(*args, **kwargs)

        self._patch(session, "gate_shuffle", gate_shuffle)

        orig_write = arrowio.write_parquet_driver

        @functools.wraps(orig_write)
        def write_parquet_driver(df, directory, *args, **kwargs):
            with self.span("arrowio.write_parquet_driver"):
                wrote = orig_write(df, directory, *args, **kwargs)
            if not self.enabled:
                return wrote
            if wrote:
                self.count("arrowio.driver_writes")
                self.count("arrowio.bytes", _dir_bytes(directory))
            else:
                self.count("arrowio.driver_write_fallbacks")
            return wrote

        self._patch(arrowio, "write_parquet_driver", write_parquet_driver)

    def _span_wrapper(self, fn, span_name: str, status: "str | None"):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(span_name, status=status):
                return fn(*args, **kwargs)

        return wrapper

    def uninstall(self) -> None:
        while self._installed:
            owner, attr, orig = self._installed.pop()
            setattr(owner, attr, orig)

    # -- output -------------------------------------------------------------
    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, sort_keys=True) + "\n")


def _dir_bytes(directory: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(directory):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


def self_times(spans: list[dict]) -> dict[str, dict]:
    """Per span name: calls, total seconds and self seconds, where a span's
    self time is its duration minus the part of it covered by its children
    (children that overlap each other, as concurrent plane folds do, are
    counted once)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s.get("parent") is not None and "end" in s:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, dict] = {}
    for s in spans:
        if "end" not in s:
            continue
        dur = s["end"] - s["start"]
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        row = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        row["calls"] += 1
        row["total_s"] += dur
        row["self_s"] += dur - covered
    return out
