"""The benchmark workloads.

Each workload has three parts:

- ``setup``: generate its inputs from the seed and warm up, so that the
  first-use cost (JIT, code generation, Python worker start) is paid before
  timing. It is told how many passes the run will make.
- ``run_pass``: one pass over the workload's input. It returns the pass's
  wall time, appends per-step latencies (a microbatch, a query) to
  ``ctx.steps`` and checks what it can check at once.
- ``finish``: the checks that need every pass, and the workload's own rates
  in ``ctx.extra``.

Every operation attempted counts in ``ctx.attempted`` and every failed or
wrong one in ``ctx.failed``. A pass does the same work for every seed; the
seed changes the data values and the order of the work. Steps that happen
inside the program (the follower's microbatches) are timed by the tracer's
wrappers, which stay installed for the whole run.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import random
import shutil
import sys
import time

import pyarrow.parquet as pq

from . import datagen

SF = 0.1

# The pipelines query set. A pass over every registered query in
# plans.pipeline and plans.inventory takes longer than a whole run may (a
# cold pass over the 30 queries took 64 s on a 4-core host), so the
# workload runs a fixed subset, the same for every seed: a gate_shuffle
# scope over a full DocIngest with every maintained plane
# (pipeline_watermark_audit), the IVM gate with driver-side Arrow writes
# (ivm_maintained_join_revenue), and localCheckpoint-using dedup, split,
# inventory and index plans of 0.4-0.9 s each (sub-0.3 s queries made the
# median step jump by 25% from seed to seed).
PIPELINES = (
    "pipeline_watermark_audit",
    "ivm_maintained_join_revenue",
    "dedup_components",
    "corpus_leakage_safe_splits",
    "customer_inventory",
    "doc_inverted_index",
)

BLOCKS_PER_ARCHIVE = 20
WARM_PASSES = 2  # untimed passes over the query set during set-up
WARM_BURSTS = 2  # landed into the timed follower during set-up, untimed


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


class Context:
    """Run state shared by setup, passes and checks."""

    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.steps: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.extra: dict[str, float] = {}

    def span(self, name: str, status: "str | None" = None):
        return self.tracer.span(name, status=status)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)
        log(f"FAILED: {what}")


def _rows_hash(rows) -> str:
    """Order-insensitive hash of a list of row dicts (lists inside a row are
    compared as sets, since the program keeps them as unordered sets)."""

    def canon(v):
        if isinstance(v, list):
            return sorted((canon(x) for x in v), key=repr)
        if isinstance(v, dict):
            return {k: canon(x) for k, x in sorted(v.items())}
        return v

    lines = sorted(json.dumps(canon(r), sort_keys=True, default=str) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _parquet_rows(paths) -> int:
    return sum(pq.read_metadata(p).num_rows for p in paths)


class Workload:
    """Defaults for the workload interface (see the module docstring)."""

    # Timed passes at --seconds 20; other --seconds scale the count (at
    # least one). The count does not depend on the host's speed, since a
    # run that made as many passes as its window allowed would average over
    # different passes on a faster or slower host.
    passes: int
    step: str  # what one step is; names the workload's own metrics
    step_span: str  # the span around one step


# -- follow -----------------------------------------------------------------


class Follow(Workload):
    """Block-follower catch-up in bursts. The feed's 20-block archives land
    one at a time; after each landing ``BlockIngest.run_blockfiles_stream``
    (inventories maintained) catches one follower up to the new tip, the
    way the follower absorbs a sync burst. A pass is one burst: one landing
    and one catch-up, which the stream source runs as one microbatch.

    Set-up lands the first ``WARM_BURSTS`` bursts into the follower the
    run times, then folds every archive the run will land in one shot (the
    reference the follower is checked against). Both are untimed: they pay
    the cold stream start, the restart-from-checkpoint path, the first
    merges into non-empty inventories and most of the JIT's warming, which
    kept each burst 5-20% faster than the one before until about the fifth
    microbatch of a session. Each burst merges into larger
    inventories than the one before, so the bursts are not the same work:
    runs with the same number of passes time the same bursts."""

    passes = 3  # about 22 s on a 4-core host
    step = "batch"
    step_span = "ingest.batch"

    def setup(self, ctx: Context, n_passes: int) -> None:
        from blockchain_etl_spark.streaming.ingest import BlockIngest

        self.source = os.path.join(ctx.work, "source")
        n_blocks = (WARM_BURSTS + n_passes) * BLOCKS_PER_ARCHIVE
        datagen.write_block_archives(self.source, ctx.seed, n_blocks, BLOCKS_PER_ARCHIVE)
        self.archives = sorted(os.listdir(self.source), key=_archive_lo)
        self.feed = os.path.join(ctx.work, "feed")
        os.makedirs(self.feed)
        self.out = os.path.join(ctx.work, "out")
        self.ingest = BlockIngest(self.out, maintain_inventories=True)
        self.landed = 0
        for _ in range(WARM_BURSTS):
            log(f"warm burst {self._burst(ctx)[0]:.1f}s")
        t0 = time.perf_counter()
        self.reference = self._one_shot(ctx)
        log(f"one-shot reference {time.perf_counter() - t0:.1f}s")

    def _one_shot(self, ctx: Context) -> dict:
        """A one-shot derive and fold of every archive: a separate follower
        finds them all landed and must read them as ONE microbatch. Returns
        its summary (``_summary``)."""
        from blockchain_etl_spark.streaming.ingest import BlockIngest

        ctx.attempted += 1
        one_shot = os.path.join(ctx.work, "one_shot")
        os.makedirs(os.path.join(one_shot, "feed"))
        for name in self.archives:
            shutil.copy(os.path.join(self.source, name), os.path.join(one_shot, "feed"))
        batches = ctx.tracer.durations.setdefault(self.step_span, [])
        n0 = len(batches)
        BlockIngest(os.path.join(one_shot, "out"), maintain_inventories=True).run_blockfiles_stream(
            ctx.spark, os.path.join(one_shot, "feed")
        )
        if len(batches) - n0 != 1:
            ctx.fail(f"follow: the one-shot reference ran {len(batches) - n0} microbatches")
        return self._summary(os.path.join(one_shot, "out"))

    def _burst(self, ctx: Context) -> tuple[float, list[float]]:
        """Land the next archive and catch the follower up; returns the
        catch-up's wall time and its microbatches' ``process_batch`` times."""
        shutil.copy(os.path.join(self.source, self.archives[self.landed]), self.feed)
        self.landed += 1
        batches = ctx.tracer.durations.setdefault(self.step_span, [])
        n0 = len(batches)
        t0 = time.perf_counter()
        self.ingest.run_blockfiles_stream(ctx.spark, self.feed)
        dt = time.perf_counter() - t0
        ctx.attempted += 1
        tip = self.landed * BLOCKS_PER_ARCHIVE
        if self.ingest.sync_height() != tip:
            ctx.fail(f"follow burst {self.landed}: sync height {self.ingest.sync_height()} != tip {tip}")
        return dt, batches[n0:]

    def run_pass(self, ctx: Context) -> float:
        dt, batch_times = self._burst(ctx)
        ctx.steps.extend(batch_times)
        return dt

    def finish(self, ctx: Context, pass_times: list[float]) -> None:
        """At the final tip, every archive has landed: the follower's
        derived-table row counts and inventory hashes must equal the
        one-shot reference's."""
        tip = self.landed * BLOCKS_PER_ARCHIVE
        if self.landed != len(self.archives):
            ctx.fail(f"follow: {self.landed} of {len(self.archives)} archives landed")
        got = self._summary(self.out)
        for key in ("counts", "inventories"):
            for table, ref in self.reference[key].items():
                if got[key][table] != ref:
                    ctx.fail(f"follow at tip {tip}: {key}[{table}] {got[key][table]} != one-shot {ref}")
        ctx.extra["blocks_per_s"] = BLOCKS_PER_ARCHIVE * len(pass_times) / sum(pass_times)

    @staticmethod
    def _summary(out: str) -> dict:
        """Row count per derived table and an order-insensitive hash per
        inventory, read from the parquet files without Spark."""
        from blockchain_etl_spark.streaming.ingest import INVENTORIES, TABLES

        counts = {
            t: _parquet_rows(glob.glob(os.path.join(out, t, "blockrange=*", "*.parquet")))
            for t in TABLES
        }
        hashes = {}
        for inv in ("accounts", *INVENTORIES):
            base = os.path.join(out, f"{inv}_inventory")
            with open(os.path.join(base, "_current.json")) as f:
                version = json.load(f)["version"]
            files = sorted(glob.glob(os.path.join(base, f"v={version}", "*.parquet")))
            hashes[inv] = _rows_hash([r for p in files for r in pq.read_table(p).to_pylist()])
        return {"counts": counts, "inventories": hashes}


def _archive_lo(name: str) -> int:
    return int(name.split("_")[1])


# -- pipelines ---------------------------------------------------------------


class Queries(Workload):
    """Registered query plans, each built with ``fn(spark, sf_dir)`` and
    forced with ``count()``; the cache is cleared between queries."""

    # one pass, about 9 s on a 4-core host: its two warm-up passes take the
    # time a second timed pass would need
    passes = 1
    step = "query"
    step_span = "plans.query"

    def __init__(self, names: tuple[str, ...]):
        self.names = names

    def setup(self, ctx: Context, n_passes: int) -> None:
        from blockchain_etl_spark.plans.registry import get_oracle_sql, get_queries

        self.sf_dir = os.path.join(ctx.work, "sf")
        datagen.write_tables(self.sf_dir, ctx.seed, SF)
        fns, oracle = get_queries(), get_oracle_sql()
        self.fns = {n: fns[n] for n in self.names}
        self.oracle = {n: oracle.get(n) for n in self.names}  # None: rows-only
        self.rows: dict[str, list[int]] = {n: [] for n in self.names}
        self.passes_run = 0
        # warm-up: every query runs WARM_PASSES times; after one warm pass
        # the first timed pass was still about 20% slower than the next
        for _ in range(WARM_PASSES):
            for n in self.names:
                self.fns[n](ctx.spark, self.sf_dir).count()
                ctx.spark.catalog.clearCache()

    def run_pass(self, ctx: Context) -> float:
        self.passes_run += 1
        order = list(self.names)
        random.Random(f"{ctx.seed}:{self.passes_run}").shuffle(order)
        total = 0.0
        for n in order:
            ctx.attempted += 1
            try:
                with ctx.span("plans.query", status="range"):
                    t0 = time.perf_counter()
                    with ctx.span("plans.build"):
                        df = self.fns[n](ctx.spark, self.sf_dir)
                    with ctx.span("plans.action"):
                        rows = df.count()
                    dt = time.perf_counter() - t0
            except Exception as exc:  # a failing query is counted, the run goes on
                ctx.fail(f"{n}: {type(exc).__name__}: {exc}")
                continue
            finally:
                ctx.spark.catalog.clearCache()
            ctx.steps.append(dt)
            total += dt
            self.rows[n].append(rows)
        return total

    def finish(self, ctx: Context, pass_times: list[float]) -> None:
        """Row counts against the DuckDB oracle on the same parquet; a
        rows-only query must return the same count on every execution."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in datagen.TABLES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for n, seen in self.rows.items():
                if not seen:
                    continue
                sql = self.oracle[n]
                want = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0] if sql else seen[0]
                for got in seen:
                    if got != want:
                        ctx.fail(f"{n}: {got} rows, oracle {want}")
        finally:
            con.close()
        n_queries = sum(len(v) for v in self.rows.values())
        ctx.extra["queries_per_min"] = 60.0 * n_queries / sum(pass_times)


WORKLOADS = {
    "follow": Follow,
    "pipelines": lambda: Queries(PIPELINES),
}
