"""Incremental upsert (MERGE) emulation over parquet — SURVEY §2 J9/S2.

The reference maintains inventory tables with AFTER INSERT triggers doing
``INSERT ... ON CONFLICT (key) DO UPDATE SET col = COALESCE(EXCLUDED.col,
existing.col), last_block = EXCLUDED.last_block``
(migrations/1590689602-gateway_inventory.sql:32-62;
migrations/1610634227-reward_scale.sql:28 for the COALESCE partial-update).
Without Delta in this container, MERGE is emulated as: read current target,
union with updates, reduce per key. The reduce applies the same semantics:

- latest update wins for regular columns,
- NULL update values fall back to the previous value (COALESCE partial
  update),
- ``first_block`` keeps the minimum, ``last_block`` the maximum.

Scale notes: the union+reduce is one shuffle on the key — identical cost to
a Delta MERGE's join. Targets are written to a versioned directory and the
pointer flipped last, so a crashed merge never corrupts the current table
(write-audit-publish). On a real cluster this module is swapped for
``DeltaTable.merge`` with the same column semantics; the call sites don't
change.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from ..functions import arrowio


def merge_latest(
    target: DataFrame | None,
    updates: DataFrame,
    keys: Sequence[str],
    order: Sequence[str],
    coalesce_cols: Sequence[str] = (),
    first_col: str | None = None,
    last_col: str | None = None,
) -> DataFrame:
    """MERGE semantics as a dataframe transform.

    ``order``: columns forming a total order among updates of one key
    (e.g. ("block",)); target rows sort before all updates.
    ``coalesce_cols``: columns where a NULL update keeps the prior value.
    ``first_col``/``last_col``: bookkeeping min/max over the order column.
    """
    ordc = list(order)
    upd = updates.withColumn("__src", F.lit(1))
    if target is not None:
        src = target.withColumn("__src", F.lit(0)).unionByName(
            upd, allowMissingColumns=True
        )
    else:
        src = upd
    # updates win ties against an existing target row (replay determinism)
    asc = [col(c).asc() for c in ordc] + [col("__src").asc()]
    desc = [col(c).desc() for c in ordc] + [col("__src").desc()]
    w_asc = Window.partitionBy(*keys).orderBy(*asc)
    wall = Window.partitionBy(*keys)
    out = src.withColumn(
        "__rn", F.row_number().over(Window.partitionBy(*keys).orderBy(*desc))
    )
    for c in coalesce_cols:
        # last non-null value in order — COALESCE(EXCLUDED.c, existing.c)
        # applied transitively over the update sequence.
        out = out.withColumn(
            c,
            F.last(col(c), ignorenulls=True).over(
                w_asc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    if first_col:
        # a prior merge's first_col survives: min over both the stored
        # bookkeeping value and the incoming order values.
        prior = (
            F.coalesce(col(first_col), col(ordc[0]))
            if first_col in src.columns
            else col(ordc[0])
        )
        out = out.withColumn(first_col, F.min(prior).over(wall))
    if last_col:
        prior = (
            F.coalesce(col(last_col), col(ordc[0]))
            if last_col in src.columns
            else col(ordc[0])
        )
        out = out.withColumn(last_col, F.max(prior).over(wall))
    return out.filter(col("__rn") == 1).drop("__rn", "__src")


class ParquetMergeTarget:
    """A parquet-backed MERGE target with write-audit-publish versioning.

    Layout: ``<path>/v=<n>/`` data directories plus ``<path>/_current.json``
    holding the live version — readers always see a complete table, and a
    replayed merge simply writes the next version (idempotent at the
    pipeline level because merge_latest is deterministic). Each version,
    and each CDC changelog segment, is written through the lane
    functions/arrowio.py picks from its size.
    """

    def __init__(self, path: str):
        self.path = path

    @property
    def _pointer(self) -> str:
        return os.path.join(self.path, "_current.json")

    def _meta(self) -> dict:
        try:
            with open(self._pointer) as f:
                return json.load(f)
        except (OSError, ValueError):
            return {}

    def current_version(self) -> int:
        return int(self._meta().get("version", 0))

    def watermark(self) -> int:
        """Last merge's watermark (-1 before any watermarked merge) — lets
        callers skip a whole replayed batch before recomputing anything."""
        return int(self._meta().get("watermark", -1))

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame | None:
        """Current table, or TIME TRAVEL to any retained ``version`` — the
        versioned layout write-audit-publish already produces doubles as a
        Delta-style history: every merge's full state stays on disk until
        ``vacuum()`` drops it. Raises on an unknown version (distinguishes
        'never existed' from 'vacuumed away' in the message)."""
        v = self.current_version() if version is None else int(version)
        if v == 0:
            return None
        d = os.path.join(self.path, f"v={v}")
        # An uncommitted (crashed-merge) v=N+1 directory is NOT a snapshot:
        # only versions at or below the published pointer are readable.
        if v > self.current_version() or not os.path.isdir(d):
            known = self.versions()
            raise FileNotFoundError(
                f"version {v} not committed (retained: {known or 'none'}; "
                f"current: {self.current_version()})"
            )
        return spark.read.parquet(d)

    def fast_count(self) -> "int | None":
        """Row count of the CURRENT committed version, read off the
        parquet file footers driver-side — NO Spark job. Parquet footers
        carry exact row counts, so this equals ``read().count()`` for
        any committed version (pinned by tests/test_arrowio.py); the
        gate-scoped audit reports use it to turn eleven tiny count
        scans into driver-side metadata reads — the read-side mirror of
        the driver-lane Arrow writes. None when no version is
        committed (mirrors ``read`` returning None)."""
        import glob as _glob

        import pyarrow.parquet as pq

        v = self.current_version()
        if v == 0:
            return None
        return sum(
            pq.read_metadata(p).num_rows
            for p in _glob.glob(os.path.join(self.path, f"v={v}", "*.parquet"))
        )

    def fast_read_rows(self) -> "list[dict]":
        """The CURRENT committed version's rows as driver-side dicts,
        read via pyarrow — no Spark job. For BOUNDED gate-state frames
        only (same legitimacy class as fast_count; callers re-enter
        Spark via an Arrow-backed local frame). Empty list when no
        version is committed."""
        import glob as _glob

        import pyarrow.parquet as pq

        v = self.current_version()
        if v == 0:
            return []
        rows: "list[dict]" = []
        for p in sorted(
            _glob.glob(os.path.join(self.path, f"v={v}", "*.parquet"))
        ):
            rows.extend(pq.read_table(p).to_pylist())
        return rows

    def versions(self) -> "list[int]":
        """COMMITTED versions still on disk, ascending (time-travel
        candidates). A crashed merge can leave an orphan ``v=N`` directory
        above the published pointer — possibly partial — so anything above
        ``current_version()`` is excluded here (and thereby from ``read``'s
        candidates and ``vacuum``'s keep-last budget)."""
        try:
            entries = os.listdir(self.path)
        except OSError:
            return []
        cur = self.current_version()
        return sorted(
            v
            for e in entries
            if e.startswith("v=") and e[2:].isdigit() and (v := int(e[2:])) <= cur
        )

    def vacuum(self, keep_last: int = 1) -> "list[int]":
        """Drop all but the newest ``keep_last`` versions (and their
        changelog segments). Returns the versions removed. The current
        version is always retained."""
        import shutil

        keep_last = max(1, int(keep_last))
        vs = self.versions()
        drop = [v for v in vs[:-keep_last] if v != self.current_version()]
        for v in drop:
            shutil.rmtree(os.path.join(self.path, f"v={v}"), ignore_errors=True)
            shutil.rmtree(
                os.path.join(self.path, "changelog", f"v={v}"), ignore_errors=True
            )
        return drop

    def merge(
        self,
        spark: SparkSession,
        updates: DataFrame,
        keys: Sequence[str],
        order: Sequence[str],
        coalesce_cols: Sequence[str] = (),
        first_col: str | None = None,
        last_col: str | None = None,
        watermark: int | None = None,
        changelog_keys: Sequence[str] | None = None,
    ) -> DataFrame:
        return self.merge_with(
            spark,
            updates,
            lambda target, upd: merge_latest(
                target, upd, keys, order, coalesce_cols, first_col, last_col
            ),
            watermark=watermark,
            changelog_keys=changelog_keys,
        )

    def merge_with(
        self,
        spark: SparkSession,
        updates: DataFrame,
        fold,
        watermark: int | None = None,
        changelog_keys: Sequence[str] | None = None,
    ) -> DataFrame:
        """Version-and-publish any target ⊕ updates fold (merge_latest,
        merge_accumulate, ...): read current, fold, write v+1, flip pointer.

        ``watermark``: monotone batch high-mark. A merge whose watermark is
        <= the stored one is a REPLAY and is skipped — this is what makes
        non-idempotent folds (additive aggregates) exactly-once under the
        ingest's replay-on-crash model, the same role the reference's
        single transaction per block plays for its running counters.

        ``changelog_keys``: when set, each merge also emits a CDC
        changelog segment ``changelog/v=<n>`` — one row per changed key
        with ``__op`` ∈ {insert, update, delete} and the AFTER image
        (BEFORE image for deletes), the T5 change-data side channel as an
        OUTPUT: downstream consumers (cache invalidation, search index,
        the reference's API tier) subscribe to versions instead of
        diffing snapshots. Folding the changelog versions in order onto
        an empty table reproduces the target exactly
        (tests/test_changelog.py). The diff is a key-grain full-outer
        join of old vs new state — changelog emission costs one
        state-sized join; leave it off for targets nobody subscribes to."""
        target = self.read(spark)
        if watermark is not None and watermark <= self._meta().get("watermark", -1):
            return target
        merged = fold(target, updates)
        next_v = self.current_version() + 1
        # the size rule (functions/arrowio.py) picks the lane: a small
        # fold runs as one Arrow collect and a driver-side file write,
        # skipping the Hadoop commit protocol that dominates small
        # writes; a fold that reads more than the byte bound (its current
        # version, on a lake-sized target) goes straight to Spark's writer
        arrowio.write_parquet(merged, os.path.join(self.path, f"v={next_v}"))
        if changelog_keys is not None:
            # The v=N+1 write above IS the fold's materialization: diff
            # the COMMITTED files against the old state instead of
            # paying a separate localCheckpoint job for the same rows
            # (one fold execution + one disk write, not two fold
            # executions or an extra in-memory copy). The pointer still
            # flips last, so a crash between state, changelog, and
            # publish leaves only unreferenced directories — the same
            # write-audit-publish guarantee as before.
            new = self._read_written(spark, merged, next_v)
            self._write_changelog(target, new, list(changelog_keys), next_v)
        meta = {"version": next_v}
        if watermark is not None:
            meta["watermark"] = watermark
        else:
            # an UNWATERMARKED merge (maintenance fold, tombstone sweep)
            # must not ERASE the stored high-mark: dropping it would reset
            # watermark() to -1 and silently disable the replay guard of
            # every later watermarked merge (duplicate segments / double
            # counting on crash replay). Carry the prior value forward.
            prior = self._meta().get("watermark")
            if prior is not None:
                meta["watermark"] = prior
        arrowio.publish_json(self._pointer, meta)  # publish: atomic pointer flip
        return self._read_written(spark, merged, next_v)

    def _read_written(
        self, spark: SparkSession, merged: DataFrame, version: int
    ) -> DataFrame:
        """The ``v=<version>`` files just written from ``merged``, read
        with its schema: an inferred read would run a Spark job to learn
        what the fold already states."""
        return spark.read.schema(merged.schema).parquet(
            os.path.join(self.path, f"v={version}")
        )

    def _write_changelog(
        self,
        old: DataFrame | None,
        new: DataFrame,
        keys: list[str],
        version: int,
    ) -> None:
        data_cols = [c for c in new.columns if c not in keys]
        n = new.select(
            *keys,
            F.struct(*[col(c) for c in data_cols]).alias("__after"),
        )
        if old is None:
            out = n.select(
                *keys,
                F.lit("insert").alias("__op"),
                col("__after").alias("__row"),
                F.lit(None).cast(n.schema["__after"].dataType).alias("__before"),
            )
        else:
            # Change detection is a null-safe STRUCT equality, not a hash of
            # to_json: JSON serialization rounds timestamps to milliseconds
            # and omits null fields, so hash-equality can drop real updates
            # (and collide null-shape variants). eqNullSafe compares the raw
            # values field-by-field. A present row's struct is never NULL
            # (F.struct of any inputs), so top-level NULL ⇔ side absent.
            o = old.select(
                *keys,
                F.struct(*[col(c) for c in data_cols]).alias("__before"),
            )
            j = n.join(o, keys, "full_outer")
            out = j.select(
                *keys,
                F.when(col("__before").isNull(), "insert")
                .when(col("__after").isNull(), "delete")
                .when(~col("__after").eqNullSafe(col("__before")), "update")
                .alias("__op"),
                F.coalesce(col("__after"), col("__before")).alias("__row"),
                # BEFORE image (null for inserts, where no prior row
                # exists): lets CDC consumers RETRACT an updated row's old
                # contribution from derived aggregates
                # (operators/cdc_view.py) — with only the after image,
                # updates would be un-subtractable.
                col("__before"),
            ).filter(col("__op").isNotNull())
        arrowio.write_parquet(
            out.select(*keys, "__op", col("__row.*"), "__before"),
            os.path.join(self.path, "changelog", f"v={version}"),
        )

    def read_changelog(self, spark: SparkSession, version: int) -> DataFrame | None:
        p = os.path.join(self.path, "changelog", f"v={version}")
        if not os.path.isdir(p):
            return None
        return spark.read.parquet(p)


def merge_accumulate(
    target: DataFrame | None,
    updates: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str] = (),
    min_cols: Sequence[str] = (),
    max_cols: Sequence[str] = (),
    set_cols: Sequence[str] = (),
) -> DataFrame:
    """Incremental ASSOCIATIVE aggregate maintenance — the reference's
    running stats counters (src/be_db_stats.erl:63-99, A4) generalized:
    target holds the aggregate so far; updates are per-batch partials with
    the SAME columns; the merged state is sum/min/max/set-union per key.

    Only associative+commutative aggregates belong here (that's what makes
    the incremental form equal the batch recompute at any chunking);
    ``set_cols`` hold sorted ``,``-joined member strings and merge by
    splitting, unioning, re-sorting — bounded sets only (roles, flags).
    """
    src = updates if target is None else target.unionByName(updates)
    by_col = {c: F.sum(c).alias(c) for c in sum_cols}
    by_col |= {c: F.min(c).alias(c) for c in min_cols}
    by_col |= {c: F.max(c).alias(c) for c in max_cols}
    by_col |= {
        c: F.array_join(
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list(F.split(col(c), ","))))
            ),
            ",",
        ).alias(c)
        for c in set_cols
    }
    # emit columns in the updates' order so incremental state and the
    # batch recompute are column-for-column identical
    aggs = [by_col[c] for c in updates.columns if c in by_col]
    return src.groupBy(*keys).agg(*aggs)
