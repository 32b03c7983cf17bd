"""File-level zone maps: a manifest of per-file column min/max stats plus a
skipping reader — the Iceberg/Delta data-skipping analog for plain parquet
directories.

Why this exists when parquet already stores row-group stats: Spark's
footer-level pruning still has to OPEN every file to read its footer. At
100 TB a table is O(10^5) files; query planning that touches every footer
is seconds-to-minutes of pure metadata latency per query. A manifest moves
those stats into ONE driver-side JSON (the same move Iceberg's manifest
files and Delta's transaction-log stats make): planning reads one file,
prunes to the overlapping data files, and hands Spark only those paths —
footer pruning then still applies row-group-level skipping inside them.

Stats are harvested from parquet FOOTERS with pyarrow — a pure metadata
read, never a data scan — and the manifest updates incrementally: only
files not yet listed are opened, so maintaining stats after an append
costs O(new files).

Pairs with sources/lake.py: ``write_zordered`` clusters value-correlated
rows into the same files, which is exactly what makes these per-file
ranges tight enough to skip on. The reference's analog is the BRIN index
on rewards/dc_burns time (migrations/1612220889-reward_brin_idx.sql:5) —
block-range min/max metadata consulted before touching heap pages.

Object-store contract (same as operators/merge.py and operators/ivm.py):
query-time pruning reads the MANIFEST only — zero per-file existence
probes or footer opens for files it skips; harvesting issues one
directory LIST plus footer reads for new files only. The single local-FS
primitive is the ``os.replace`` manifest flip — on S3/GCS swap it for a
conditional put (or keep stats in a Delta/Iceberg table); no call-site
changes.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import arrowio

_MANIFEST = "_zonemap.json"


def _file_stats(path: str, stats_cols: list[str]) -> dict:
    """Per-file min/max from the parquet footer (metadata-only read)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    out = {}
    for c in stats_cols:
        if c not in idx:
            continue
        lo = hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[c]).statistics
            if st is None or not st.has_min_max:
                # a single stats-less row group poisons the file's zone
                # map for this column: record no range (never skipped)
                lo = hi = None
                break
            lo = st.min if lo is None or st.min < lo else lo
            hi = st.max if hi is None or st.max > hi else hi
        if lo is not None:
            out[c] = [_plain(lo), _plain(hi)]
    return out


def _plain(v):
    """JSON-safe scalar; timestamps/dates to ISO strings (stats compare
    lexicographically correctly in ISO form)."""
    import datetime

    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return v


def _data_files(table_dir: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(table_dir):
        for f in files:
            if f.endswith(".parquet") and not f.startswith("_"):
                out.append(os.path.join(root, f))
    return sorted(out)


def update_manifest(table_dir: str, stats_cols: list[str]) -> dict:
    """Create or incrementally refresh the zone-map manifest: only files
    absent from the current manifest get their footers read. Returns the
    full manifest. Publication is an atomic rename."""
    mpath = os.path.join(table_dir, _MANIFEST)
    try:
        with open(mpath) as f:
            manifest = json.load(f)
    except (OSError, ValueError):
        manifest = {"stats_cols": stats_cols, "files": {}}
    if manifest.get("stats_cols") != stats_cols:
        manifest = {"stats_cols": stats_cols, "files": {}}  # column set changed
    live = _data_files(table_dir)
    rel = {os.path.relpath(p, table_dir): p for p in live}
    # drop entries for deleted files; add entries for new files only
    manifest["files"] = {r: s for r, s in manifest["files"].items() if r in rel}
    for r, full in rel.items():
        if r not in manifest["files"]:
            manifest["files"][r] = _file_stats(full, stats_cols)
    arrowio.publish_json(mpath, manifest)
    return manifest


def read_skipping(
    spark: SparkSession,
    table_dir: str,
    column: str,
    lo=None,
    hi=None,
) -> DataFrame:
    """Read the table with files pruned to those whose [min, max] range for
    ``column`` overlaps [lo, hi] (either bound may be None = unbounded).
    The residual filter is still applied — pruning is a strict
    optimization, never a semantics change. Files with no recorded range
    for the column are conservatively kept."""
    mpath = os.path.join(table_dir, _MANIFEST)
    with open(mpath) as f:
        manifest = json.load(f)
    lo_c, hi_c = _plain(lo) if lo is not None else None, _plain(hi) if hi is not None else None
    keep = []
    for rel, stats in manifest["files"].items():
        rng = stats.get(column)
        if rng is None:
            keep.append(rel)  # unknown range: cannot skip
            continue
        fmin, fmax = rng
        if (lo_c is not None and fmax < lo_c) or (hi_c is not None and fmin > hi_c):
            continue
        keep.append(rel)
    if not keep:
        # empty result with the right schema: read one file's schema, filter false
        df = spark.read.parquet(table_dir)
        return df.filter(F.lit(False))
    df = spark.read.option("basePath", table_dir).parquet(
        *[os.path.join(table_dir, r) for r in keep]
    )
    if lo is not None:
        df = df.filter(F.col(column) >= F.lit(lo))
    if hi is not None:
        df = df.filter(F.col(column) <= F.lit(hi))
    return df


def pruned_file_count(table_dir: str, column: str, lo=None, hi=None) -> tuple[int, int]:
    """(files kept, files total) for a range probe — the planning metric."""
    mpath = os.path.join(table_dir, _MANIFEST)
    with open(mpath) as f:
        manifest = json.load(f)
    lo_c = _plain(lo) if lo is not None else None
    hi_c = _plain(hi) if hi is not None else None
    total = len(manifest["files"])
    kept = 0
    for stats in manifest["files"].values():
        rng = stats.get(column)
        if rng is None:
            kept += 1
            continue
        fmin, fmax = rng
        if (lo_c is not None and fmax < lo_c) or (hi_c is not None and fmin > hi_c):
            continue
        kept += 1
    return kept, total
