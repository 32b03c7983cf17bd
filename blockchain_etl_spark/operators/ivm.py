"""Incremental view maintenance for a two-table equi-join — the missing
sibling of ContinuousAggregate (operators/rollup.py): that operator keeps an
*aggregate* fresh under new data; this one keeps a *join* fresh under
inserts AND deletes on either side.

Semantics are the classic bilinear delta rule over weighted (bag) relations
(DBSP / differential-dataflow style): every stored row carries a
multiplicity ``__w``; a delta is a batch of rows with ``__w = +n`` (insert)
or ``-n`` (retract), and one maintenance step emits

    dJ = dA ⋈ B_old  +  (A_old + dA) ⋈ dB

with output multiplicity = product of input multiplicities — algebraically
equal to the three-term symmetric form, with every term delta-sized on one
side. Deletes need no special casing: a -1 weight flows through the join
and cancels the matching +1 rows at consolidation.

Scale design (the part that must survive 100 TB states):

- **State reads are bucket-pruned, from the manifest alone.** Both state
  stores are laid out as parquet partitioned by
  ``__bucket = crc32(join_key) % n_buckets``; a maintenance step collects
  the (tiny, ≤ n_buckets) distinct bucket list of the incoming delta and
  reads ONLY those partitions of the opposite state — rows outside the
  delta's buckets cannot join it, because the bucket is a function of the
  join key. Which (segment, bucket) leaf dirs exist is RECORDED in the
  manifest at segment-write time, so pruning issues zero filesystem
  existence probes — object-store-safe (no per-dir HEAD/LIST round-trips),
  the same listing-free contract Delta/Iceberg manifests provide. Step
  cost is O(delta + matched buckets), independent of total state size.
- **The view is an LSM of weighted segments.** Each step APPENDS a
  consolidated delta segment (``seg=<n>/__bucket=<b>/``) instead of
  rewriting the view: refresh never pays a view-sized shuffle. ``read()``
  consolidates lazily (sum ``__w`` per row, drop zeros); ``compact()``
  folds committed segments into one — the maintenance/merge split every
  LSM store uses.
- **Replay-safe.** A manifest (``_state.json``) lists committed segments
  and the watermark; a step whose watermark isn't newer is a no-op, and a
  crashed step leaves only orphan segment dirs the manifest never points
  to (write-audit-publish, as in operators/merge.py).

The reference's analog is trigger-maintained inventory tables
(migrations/1590689602-gateway_inventory.sql:32-62) — single-table upsert
views; this operator extends the idea to join views, which the reference
could not express without re-running the join.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from ..functions import arrowio

_W = "__w"
_BUCKET = "__bucket"


def _consolidate(df: DataFrame) -> DataFrame:
    """Sum multiplicities per distinct row; drop rows that cancel to 0."""
    data_cols = [c for c in df.columns if c != _W]
    return (
        df.groupBy(*data_cols)
        .agg(F.sum(_W).cast("long").alias(_W))
        .filter(col(_W) != 0)
    )


class IncrementalJoinView:
    """Maintained materialization of ``A JOIN B USING (join_keys)``.

    ``apply()`` folds one delta batch (either side may be None); deltas
    may carry a ``__w`` column (+/- multiplicity), defaulting to +1 per
    row. ``read()`` returns the consolidated join view (with ``__w``
    multiplicities); ``read_flat()`` expands multiplicities away for
    consumers that want plain rows.
    """

    def __init__(
        self,
        path: str,
        join_keys: Sequence[str],
        n_buckets: int = 32,
    ):
        self.path = path
        self.join_keys = list(join_keys)
        self.n_buckets = n_buckets
        self._stores = ("a_state", "b_state", "view")

    # -- manifest ----------------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.path, "_state.json")

    def _manifest(self) -> dict:
        try:
            with open(self._manifest_path) as f:
                m = json.load(f)
        except (OSError, ValueError):
            return {
                "watermarks": {"a": -1, "b": -1},
                "next_seg": 1,
                "segments": {s: [] for s in self._stores},
                "buckets": {s: {} for s in self._stores},
            }
        m.setdefault("buckets", {s: {} for s in self._stores})
        return m

    def watermark(self, side: str = "a") -> int:
        return int(self._manifest()["watermarks"].get(side, -1))

    # -- layout ------------------------------------------------------------
    def _bucketed(self, df: DataFrame) -> DataFrame:
        key = F.concat_ws("\x00", *[col(k).cast("string") for k in self.join_keys])
        return df.withColumn(_BUCKET, F.crc32(key) % self.n_buckets)

    def _write_segment(
        self, df, store: str, seg: int, buckets: "list[int] | None" = None
    ) -> "list[int]":
        """Write one segment and return the distinct bucket list it wrote —
        recorded in the manifest so pruning never has to probe storage.
        ``df`` is either a DataFrame (distributed lane) or a collected
        ``pyarrow.Table`` (driver lane — one pyarrow write, no commit
        protocol, byte-identical directory layout).
        ``buckets``: pass the list when the caller already collected it
        (apply() collects each delta's buckets for store pruning) so the
        write does not schedule a duplicate distinct+collect job."""
        out = os.path.join(self.path, store, f"seg={seg}")
        if not isinstance(df, DataFrame):
            return arrowio.write_table_partitioned(df, out, _BUCKET)
        df.write.mode("overwrite").partitionBy(_BUCKET).parquet(out)
        if buckets is not None:
            return sorted(int(b) for b in buckets)
        return sorted(int(r[0]) for r in df.select(_BUCKET).distinct().collect())

    def _read_store(
        self,
        spark: SparkSession,
        store: str,
        segments: Sequence[int],
        buckets: Sequence[int] | None = None,
        seg_buckets: dict | None = None,
    ) -> DataFrame | None:
        """Committed segments of a store, optionally bucket-pruned; raw
        (unconsolidated) weighted rows. Pruning is DIRECTORY-level (as in
        operators/ann_index.py) and decided from the MANIFEST's recorded
        per-segment bucket lists alone — zero filesystem existence probes,
        so the same code is correct on object stores where per-directory
        HEAD/LIST round-trips would dominate the step (a 100 TB state at
        4096 buckets would otherwise cost segments×buckets probes)."""
        if not segments:
            return None
        base = os.path.join(self.path, store)
        if buckets is None:
            paths = [os.path.join(base, f"seg={s}") for s in segments]
        else:
            want = sorted({int(x) for x in buckets})
            seg_buckets = seg_buckets or {}

            def seg_bucket_set(s: int) -> set:
                have = seg_buckets.get(str(s))
                if have is not None:
                    return set(have)
                # Migration path: a manifest written before bucket lists
                # were recorded has segments but no entry — treating it as
                # empty would silently DROP that segment's state from the
                # join. Derive the list with ONE directory listing per
                # legacy segment (a LIST, not per-bucket probes; new
                # manifests never hit this).
                try:
                    return {
                        int(e.split("=", 1)[1])
                        for e in os.listdir(os.path.join(base, f"seg={s}"))
                        if e.startswith(f"{_BUCKET}=")
                    }
                except OSError:
                    return set()

            paths = []
            for s in segments:
                have = seg_bucket_set(s)
                paths += [
                    os.path.join(base, f"seg={s}", f"{_BUCKET}={b}")
                    for b in want
                    if b in have
                ]
            if not paths:
                return None
        df = spark.read.option("basePath", base).parquet(*paths)
        return df.drop("seg")

    # -- the maintenance step ---------------------------------------------
    def _prep_delta(self, delta: DataFrame | None) -> DataFrame | None:
        if delta is None:
            return None
        if _W not in delta.columns:
            delta = delta.withColumn(_W, F.lit(1).cast("long"))
        d = _consolidate(self._bucketed(delta))
        return d

    def _join_term(self, left: DataFrame, right: DataFrame) -> DataFrame:
        """Weighted join: multiplicities multiply; bucket survives (it is a
        function of the shared join key)."""
        lw = left.withColumnRenamed(_W, "__wl")
        rw = right.withColumnRenamed(_W, "__wr").drop(_BUCKET)
        out = lw.join(rw, self.join_keys)
        return out.withColumn(_W, (col("__wl") * col("__wr")).cast("long")).drop(
            "__wl", "__wr"
        )

    def apply(
        self,
        spark: SparkSession,
        delta_a: DataFrame | None = None,
        delta_b: DataFrame | None = None,
        watermark: int | None = None,
        watermark_a: int | None = None,
        watermark_b: int | None = None,
    ) -> bool:
        """Fold one delta batch into states + view. Returns False when the
        watermark guard rejects a replay (nothing written).

        ``watermark`` guards both sides at once (the single-stream /
        coordinated-batch form); ``watermark_a``/``watermark_b`` guard one
        side each, for the two-independent-streams form where A and B
        microbatch counters advance separately. Steps must serialize
        (single writer — the manifest flip is the commit point)."""
        m = self._manifest()
        if watermark is not None:
            watermark_a = watermark_b = watermark
        if watermark_a is not None and watermark_a <= m["watermarks"]["a"]:
            delta_a = None
        if watermark_b is not None and watermark_b <= m["watermarks"]["b"]:
            delta_b = None
        had_a, had_b = delta_a is not None, delta_b is not None
        da = self._prep_delta(delta_a)
        db = self._prep_delta(delta_b)
        if da is None and db is None:
            return False
        # cache deltas: each feeds bucket-list collection + 1-2 join terms.
        # A batch whose rows fully cancel consolidates to EMPTY — treat it
        # as absent (writing an empty partitioned segment leaves a dir
        # with no parquet files, which poisons later reads) but still
        # advance the watermark below: the batch WAS processed, its net
        # effect is nil.
        # Driver lane (functions/arrowio.py): ONE capped Arrow collect per
        # delta side fuses the consolidate execution, the emptiness guard,
        # the pruning bucket list AND the segment write into a single job.
        # The collected table becomes a JVM local relation for the join
        # terms (exact stats, broadcast-friendly). A delta over the
        # driver bound takes the distributed lane: checkpoint, then one
        # bucket-list job that doubles as the emptiness guard (a
        # consolidated delta is empty exactly when its bucket list is).
        def collect_side(d):
            """(join frame, or None when empty; write payload; buckets)"""
            tbl = arrowio.collect_arrow_capped(d)
            if tbl is not None:
                buckets = sorted({int(v) for v in tbl.column(_BUCKET).to_pylist()})
                return (spark.createDataFrame(tbl) if buckets else None), tbl, buckets
            d = d.localCheckpoint()
            buckets = [r[0] for r in d.select(_BUCKET).distinct().collect()]
            return (d if buckets else None), d, buckets

        if da is not None:
            da, da_out, a_buckets = collect_side(da)
        if db is not None:
            db, db_out, b_buckets = collect_side(db)
        terms = []
        if da is not None:
            b_old = self._read_store(
                spark, "b_state", m["segments"]["b_state"], a_buckets, m["buckets"]["b_state"]
            )
            if b_old is not None:
                terms.append(self._join_term(da, b_old))
        if db is not None:
            a_new = self._read_store(
                spark, "a_state", m["segments"]["a_state"], b_buckets, m["buckets"]["a_state"]
            )
            if da is not None:
                da_in = da.filter(col(_BUCKET).isin([int(b) for b in b_buckets]))
                a_new = da_in if a_new is None else a_new.unionByName(da_in)
            if a_new is not None:
                terms.append(self._join_term(a_new, db))

        seg = int(m["next_seg"])
        wrote: dict[str, list[int]] = {s: list(m["segments"][s]) for s in self._stores}
        bmap: dict[str, dict] = {s: dict(m["buckets"][s]) for s in self._stores}
        # The three segment writes are mutually independent (the view
        # delta joins the deltas against the OLD committed state, never
        # the files being written here), so they run concurrently
        # (streaming/fanout.py); the manifest flip below still happens
        # strictly after every write returns, so the crash/publish model
        # is unchanged (orphan segment dirs above the manifest are
        # already ignored debris). Delta bucket lists were collected once
        # above for store pruning and are passed through so no write
        # schedules a duplicate distinct+collect job.
        writes: "list[tuple[str, object, list]]" = []
        if da is not None:
            writes.append(("a_state", da_out, a_buckets))
        if db is not None:
            writes.append(("b_state", db_out, b_buckets))
        if terms:
            dj = terms[0]
            for t in terms[1:]:
                dj = dj.unionByName(t)
            # the view delta's join+consolidate lineage executes ONCE,
            # and its bucket list is the emptiness guard + write payload
            dj, dj_out, dj_buckets = collect_side(_consolidate(dj))
            if dj is not None:
                writes.append(("view", dj_out, dj_buckets))
        from ..streaming.fanout import run_tasks

        def write(store, frame, buckets):
            bmap[store][str(seg)] = self._write_segment(frame, store, seg, buckets)
            wrote[store].append(seg)

        run_tasks(spark, [(w[0], lambda w=w: write(*w)) for w in writes])

        wms = dict(m["watermarks"])
        if watermark_a is not None and had_a:
            wms["a"] = int(watermark_a)
        if watermark_b is not None and had_b:
            wms["b"] = int(watermark_b)
        arrowio.publish_json(  # publish: atomic pointer flip
            self._manifest_path,
            {"watermarks": wms, "next_seg": seg + 1, "segments": wrote, "buckets": bmap},
        )
        return True

    # -- reads -------------------------------------------------------------
    def read(self, spark: SparkSession, store: str = "view") -> DataFrame | None:
        m = self._manifest()
        raw = self._read_store(spark, store, m["segments"][store])
        if raw is None:
            return None
        return _consolidate(raw.drop(_BUCKET))

    def read_flat(self, spark: SparkSession) -> DataFrame | None:
        """The view with multiplicities expanded to plain rows.

        A negative NET multiplicity means a retraction was applied with no
        matching insert — a data error, not a valid bag. ``sequence(1, w)``
        would silently run DESCENDING for w < 0 and emit |w|+2 phantom
        rows, so the expansion raises instead (consolidation already
        dropped exact zeros)."""
        v = self.read(spark)
        if v is None:
            return None
        seq = (
            f"case when {_W} > 0 then sequence(1, {_W}) "
            f"else raise_error('negative net multiplicity in ivm view: ' "
            f"|| cast({_W} as string)) end"
        )
        return v.withColumn("__i", F.explode(F.expr(seq))).drop("__i", _W)

    # -- maintenance -------------------------------------------------------
    def compact(self, spark: SparkSession) -> None:
        """Fold every store's committed segments into one consolidated
        segment (the LSM merge). Readers never see a partial state: new
        segments are written first, the manifest flips last. The old
        segment dirs become unreferenced — run ``vacuum()`` afterwards to
        reclaim them (kept separate so a retention window can keep old
        segments around for debugging / readers in flight)."""
        m = self._manifest()
        seg = int(m["next_seg"])
        new_segments: dict[str, list[int]] = {}
        new_buckets: dict[str, dict] = {}
        for store in self._stores:
            raw = self._read_store(spark, store, m["segments"][store])
            if raw is None:
                new_segments[store] = []
                new_buckets[store] = {}
                continue
            data_cols = [c for c in raw.columns if c != _W]
            folded = (
                raw.groupBy(*data_cols)
                .agg(F.sum(_W).cast("long").alias(_W))
                .filter(col(_W) != 0)
            ).localCheckpoint()  # one fold feeds the write AND the bucket list
            # a store whose rows fully cancel folds to EMPTY — record no
            # segment (a partitioned write of zero rows leaves a file-less
            # dir that poisons later reads, the same hazard apply() guards)
            if folded.isEmpty():
                new_segments[store] = []
                new_buckets[store] = {}
                continue
            new_buckets[store] = {str(seg): self._write_segment(folded, store, seg)}
            new_segments[store] = [seg]
        arrowio.publish_json(
            self._manifest_path,
            {
                "watermarks": m["watermarks"],
                "next_seg": seg + 1,
                "segments": new_segments,
                "buckets": new_buckets,
            },
        )

    def vacuum(self) -> "dict[str, list[int]]":
        """Delete every ``seg=N`` directory the manifest no longer
        references (post-compaction leftovers and crashed-step orphans).
        Mirrors ``ParquetMergeTarget.vacuum``: the deletion set is computed
        against the PUBLISHED manifest, so referenced segments can never be
        touched — a vacuum that crashes midway only leaves some garbage
        undeleted, never a broken view. Returns {store: [segs removed]}."""
        import shutil

        m = self._manifest()
        removed: dict[str, list[int]] = {}
        for store in self._stores:
            base = os.path.join(self.path, store)
            keep = {f"seg={s}" for s in m["segments"][store]}
            try:
                entries = os.listdir(base)
            except OSError:
                continue
            for e in entries:
                if e.startswith("seg=") and e not in keep:
                    shutil.rmtree(os.path.join(base, e), ignore_errors=True)
                    removed.setdefault(store, []).append(int(e.split("=", 1)[1]))
        return removed

    # -- streaming wrapper -------------------------------------------------
    def run_streams(
        self,
        spark: SparkSession,
        a_dir: str,
        b_dir: str,
        schema_a,
        schema_b,
        checkpoint_dir: str,
    ) -> None:
        """Maintain the view from two file-stream inputs with availableNow
        semantics: side A's pending files fold first, then side B's —
        maintenance steps must serialize (single manifest writer), and the
        per-side watermarks make a replayed microbatch (crash between the
        sink commit and Spark's checkpoint commit) a no-op. Interleaving
        order never changes the final view: the delta algebra is
        order-insensitive because every step joins against the opposite
        side's CURRENT committed state."""
        import os as _os

        for side, d, schema in (("a", a_dir, schema_a), ("b", b_dir, schema_b)):

            def fold(batch: DataFrame, batch_id: int, side=side) -> None:
                if side == "a":
                    self.apply(spark, delta_a=batch, watermark_a=batch_id)
                else:
                    self.apply(spark, delta_b=batch, watermark_b=batch_id)

            q = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(d)
                .writeStream.foreachBatch(fold)
                .option("checkpointLocation", _os.path.join(checkpoint_dir, side))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    def run_streams_continuous(
        self,
        spark: SparkSession,
        a_dir: str,
        b_dir: str,
        schema_a,
        schema_b,
        checkpoint_dir: str,
        trigger: str = "500 milliseconds",
    ):
        """The CONTINUOUS two-stream maintainer: both sides run as live
        Structured Streaming queries at once (processingTime trigger), with
        maintenance steps serialized through a single in-process lock —
        apply()'s manifest flip assumes one writer, and the lock makes the
        two foreachBatch callbacks (which run on driver-side threads of
        this SparkSession) take turns. Interleaving order never changes
        the final view: each step joins its delta against the opposite
        side's CURRENT committed state, and the delta algebra is
        order-insensitive (tests interleave A/B arrivals live).

        Multi-driver deployments need a distributed lock or a
        compare-and-swap manifest commit instead; the single-driver lock
        matches Structured Streaming's one-driver-many-executors model,
        where foreachBatch user code always runs on the driver.

        Returns the two live StreamingQuery handles; callers own their
        lifecycle (processAllAvailable / stop)."""
        import os as _os
        import threading

        lock = threading.Lock()
        queries = []
        for side, d, schema in (("a", a_dir, schema_a), ("b", b_dir, schema_b)):

            def fold(batch: DataFrame, batch_id: int, side=side) -> None:
                with lock:
                    if side == "a":
                        self.apply(spark, delta_a=batch, watermark_a=batch_id)
                    else:
                        self.apply(spark, delta_b=batch, watermark_b=batch_id)

            q = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(d)
                .writeStream.foreachBatch(fold)
                .option("checkpointLocation", _os.path.join(checkpoint_dir, side))
                .trigger(processingTime=trigger)
                .start()
            )
            queries.append(q)
        return queries


class IncrementalJoinAggregate:
    """A maintained JOIN feeding a maintained AGGREGATE — the reference's
    inventory pattern in full: its trigger-maintained tables are exactly
    join-then-aggregate (migrations/1590689602-gateway_inventory.sql:32-62
    folds a join of block/txn rows into per-key inventory aggregates).
    Here the two halves compose: IncrementalJoinView keeps the join fresh
    as weighted delta segments, and every NEW view segment folds into a
    per-group (count, sums) aggregate target as a weighted partial —
    ``sum(w)`` per group is the row count, ``sum(w·x)`` the column sum, so
    retractions subtract automatically and groups that cancel to zero
    leave the aggregate.

    Exactly-once across the two commits: the aggregate target's watermark
    records the highest view SEGMENT folded so far. A crash between the
    view's manifest flip and the aggregate's pointer flip heals on the
    next ``apply()``/``catch_up()`` — pending segments are re-read from
    the committed manifest and folded once (the merge watermark rejects
    replays). Step cost is O(view delta + touched groups): the stored
    aggregate is only ever joined at the group-key grain, and the view's
    full state is never rescanned.

    Sum columns must be exact types (integer/decimal) so the incremental
    fold equals the batch recompute at any chunking — the same
    associativity rule merge_accumulate documents.
    """

    def __init__(
        self,
        path: str,
        join_keys: Sequence[str],
        group_keys: Sequence[str],
        sum_cols: Sequence[str] = (),
        n_buckets: int = 32,
    ):
        from .merge import ParquetMergeTarget

        self.view = IncrementalJoinView(
            os.path.join(path, "join"), join_keys, n_buckets
        )
        self.agg = ParquetMergeTarget(os.path.join(path, "agg"))
        self.group_keys = list(group_keys)
        self.sum_cols = list(sum_cols)

    def apply(self, spark: SparkSession, delta_a=None, delta_b=None, **watermarks) -> bool:
        applied = self.view.apply(spark, delta_a, delta_b, **watermarks)
        self.catch_up(spark)
        return applied

    def catch_up(self, spark: SparkSession) -> None:
        """Fold every committed view segment the aggregate hasn't seen."""
        m = self.view._manifest()
        last = self.agg.watermark()
        pending = [int(s) for s in m["segments"]["view"] if int(s) > last]
        if not pending:
            return
        from .cdc_view import nn_partial_aggs, weighted_group_fold

        raw = self.view._read_store(spark, "view", pending)
        partial = (
            raw.drop(_BUCKET)
            .groupBy(*self.group_keys)
            .agg(
                F.sum(_W).cast("long").alias("__n"),
                *[F.sum(col(c) * col(_W)).alias(c) for c in self.sum_cols],
                # non-null counters: the read maps a sum whose non-null
                # contributions all retracted back to NULL (cdc_view._nn)
                *nn_partial_aggs(self.sum_cols, _W),
            )
        )

        self.agg.merge_with(
            spark,
            partial,
            weighted_group_fold(self.group_keys, self.sum_cols),
            watermark=max(pending),
        )

    def compact(self, spark: SparkSession) -> None:
        """Compact the underlying view. The aggregate MUST be caught up
        first: compaction renumbers the view into one fresh segment, and
        folding that segment as if it were a delta would double-count —
        so catch_up runs here, then the aggregate watermark advances past
        the compacted segment with an identity rewrite."""
        self.catch_up(spark)
        self.view.compact(spark)
        newest = int(self.view._manifest()["next_seg"]) - 1
        cur = self.agg.read(spark)
        if cur is not None:
            self.agg.merge_with(spark, cur, lambda tgt, upd: upd, watermark=newest)

    def vacuum(self) -> "dict[str, list[int]]":
        return self.view.vacuum()

    def read(self, spark: SparkSession) -> DataFrame | None:
        """(group_keys..., n_rows, sum_cols...) over the maintained join."""
        from .cdc_view import read_weighted_agg

        return read_weighted_agg(self.agg.read(spark), self.group_keys, self.sum_cols)
