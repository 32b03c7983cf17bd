"""The one lane rule for every file the follower, the maintained-state
writers and the graph routes commit: driver or distributed.

Every versioned merge and changelog segment (operators/merge.py),
follower table write, compaction bucket and snapshot table
(streaming/ingest.py), DocIngest chunk write (streaming/docs.py) and IVM
segment write (operators/ivm.py) asks this module which lane its frame
takes, whatever the load and whether or not a query gate is running. So
does every graph route (the union-find in operators/components.py, the
triangle census, LPA sweeps and k-core peel in plans/olap.py): it
hands its lazily checkpointed subgraph to ``collect_arrow_capped`` with
``max_rows=_GRAPH_DRIVER_CAP``, solves it on the driver when a table
comes back, and otherwise runs its distributed loop over the same
checkpoint. For a write:

- **driver lane** — ``DataFrame.toArrow()`` through a ``LIMIT`` of
  ``_DRIVER_ROWS_CAP + 1`` (one collect-style job executing the fold
  lineage) plus one pyarrow file write, renamed into place. No write
  job, no Hadoop commit protocol (``_temporary`` staging and renames),
  whose fixed few hundred ms per commit dominate small state writes. The
  read path is byte-identical (``spark.read.parquet`` on the directory).
- **distributed lane** — Spark's parquet writer under the session's
  committer. Taken with no collect when the files the frame reads are over
  ``_DRIVER_BYTES_CAP`` (found from the plan's input files and their
  parquet footers, no job: a merge reads its target's current version,
  a follower or chunk write is bounded by its source batch); after the
  collect when the frame is over ``_DRIVER_ROWS_CAP`` rows or
  ``_DRIVER_BYTES_CAP`` Arrow bytes; and when its schema does not
  convert to Arrow.

The decision is made from sizes alone, so the path a test or a benchmark
times is the path a production load of the same size runs. Rows a plan
already holds in memory (cached or checkpointed frames, local relations)
are not counted before the collect: a frame built from those, or one
that a join or an explode makes larger than its inputs, is bounded only
by the row cap until the collect has run and its bytes are known. The
JSON pointers that publish those files flip through ``publish_json``.
"""

from __future__ import annotations

import glob
import json
import logging
import os
import shutil

from pyspark.sql import DataFrame

_log = logging.getLogger(__name__)

# Hard bound on rows collected driver-side: the collect runs through a
# LIMIT of cap+1, so even a runaway fold lineage never materializes more
# than cap+1 rows on the driver.
_DRIVER_ROWS_CAP = 5_000_000

# Bound on the Arrow bytes (``pyarrow.Table.nbytes``) of a driver-lane
# frame, and on the uncompressed bytes of the files it reads (checked
# first, with no job). The largest frame the lane collects is 8.9 MB in
# the 12-batch ingest of tools/scaling_probe_maintained.py and 1.5 MB on
# the perfbench `pipelines` queries at sf0.1 (its IVM gate); 64 MiB
# leaves a 7x margin over the first and stays small next to a 2 GiB
# driver heap, so state that grows with the lake goes to Spark's writer.
_DRIVER_BYTES_CAP = 64 * 1024 * 1024


def file_bytes(path: str) -> int:
    """Bytes of one local data file as Arrow would hold them, with no
    job: a parquet file's uncompressed row-group bytes (its footer), the
    measure closest to ``pyarrow.Table.nbytes``; any other file's size."""
    import pyarrow.parquet as pq

    if path.endswith(".parquet"):
        md = pq.read_metadata(path)
        return sum(md.row_group(i).total_byte_size for i in range(md.num_row_groups))
    return os.path.getsize(path)


def input_bytes(df: DataFrame) -> float:
    """``file_bytes`` summed over the files ``df`` reads
    (``DataFrame.inputFiles()``, no job); a file outside the local file
    system counts as unbounded. Rows the plan already holds (cached or
    checkpointed frames, local relations, a foreachBatch microbatch)
    count 0."""
    from urllib.parse import unquote, urlparse

    total = 0
    for uri in df.inputFiles():
        u = urlparse(uri)
        if u.scheme not in ("", "file"):
            return float("inf")
        total += file_bytes(unquote(u.path))
    return total


def largest_file_bytes(pattern: str) -> int:
    """``file_bytes`` of the largest data file under ``pattern`` (a glob
    of files or directories), no job: the bound of a one-file streaming
    microbatch, whose plan shows no file to ``input_bytes``."""
    matches = glob.glob(pattern)
    files = [m for m in matches if os.path.isfile(m)] + [
        os.path.join(root, name)
        for m in matches
        for root, _, names in os.walk(m)
        for name in names
        if not name.startswith(("_", "."))
    ]
    return max(map(file_bytes, files), default=0)


def collect_arrow_capped(
    df: DataFrame,
    read_bytes: "float | None" = None,
    max_rows: "int | None" = None,
):
    """``df`` → a ``pyarrow.Table``, or None when the frame is not for
    the driver lane: the files it reads are over ``_DRIVER_BYTES_CAP``
    (checked before any job), its schema doesn't round-trip through
    Arrow, or the LIMIT-guarded collect is over ``max_rows`` rows or
    ``_DRIVER_BYTES_CAP`` bytes. At most one execution of the lineage
    (the limit rides the same job), so a caller that gets a table back
    has already paid the fold exactly once. ``read_bytes``: the bytes
    ``df`` is built from, for a caller that knows them better than
    ``input_bytes(df)`` can (its plan hides its files); default
    ``input_bytes(df)``. ``max_rows``: the row bound, default
    ``_DRIVER_ROWS_CAP`` (the graph routes pass ``_GRAPH_DRIVER_CAP``).
    The caps are read at call time."""
    import pyarrow.lib
    from pyspark.errors import PySparkTypeError

    if max_rows is None:
        max_rows = _DRIVER_ROWS_CAP
    capped = df.limit(max_rows + 1)
    # input_bytes optimizes ``capped``'s plan; the collect reuses it
    read = input_bytes(capped) if read_bytes is None else read_bytes
    if read > _DRIVER_BYTES_CAP:
        _log.info(
            "frame reads %s input bytes, over the driver bound (%d bytes): "
            "distributed lane, no collect", read, _DRIVER_BYTES_CAP,
        )
        return None
    try:
        tbl = capped.toArrow()
    except (PySparkTypeError, pyarrow.lib.ArrowException) as exc:
        # ONLY Arrow-conversion misses route to the fallback: an
        # execution failure in the fold lineage propagates (the
        # distributed writer would fail identically).
        _log.info("toArrow() miss (%s): distributed lane", type(exc).__name__)
        return None
    if tbl.num_rows > max_rows or tbl.nbytes > _DRIVER_BYTES_CAP:
        _log.info(
            "frame (%d rows, %d bytes) is over the driver bound "
            "(%d rows, %d bytes): distributed lane",
            tbl.num_rows, tbl.nbytes, max_rows, _DRIVER_BYTES_CAP,
        )
        return None
    return tbl


def write_parquet_driver(
    df: DataFrame,
    directory: str,
    success_marker: bool = False,
    read_bytes: "float | None" = None,
) -> bool:
    """Overwrite ``directory`` with ``df``'s rows as ONE parquet file on
    the driver lane. Returns False, writing nothing, when
    ``collect_arrow_capped`` refuses the frame. The file is written under
    a hidden name (readers skip a leading ``.``) and renamed once whole,
    so a crash mid-file leaves no torn file a reader sees (a
    ``blockrange=`` directory has no version pointer to hide one).
    ``success_marker``: also write the ``_SUCCESS`` file Spark's
    committer leaves, LAST, preserving the chunk-commit protocol
    DocIngest._complete_chunks relies on. ``read_bytes``: as in
    ``collect_arrow_capped``."""
    import pyarrow.parquet as pq

    tbl = collect_arrow_capped(df, read_bytes=read_bytes)
    if tbl is None:
        return False
    shutil.rmtree(directory, ignore_errors=True)
    os.makedirs(directory, exist_ok=True)
    tmp = os.path.join(directory, ".part-00000.parquet.tmp")
    pq.write_table(tbl, tmp)
    os.replace(tmp, os.path.join(directory, "part-00000.parquet"))
    if success_marker:
        with open(os.path.join(directory, "_SUCCESS"), "w"):
            pass
    return True


def write_parquet(
    df: DataFrame,
    directory: str,
    success_marker: bool = False,
    read_bytes: "float | None" = None,
) -> None:
    """Overwrite ``directory`` with ``df`` through the lane the size rule
    picks (``read_bytes``: as in ``collect_arrow_capped``). The
    distributed writer always leaves ``_SUCCESS``."""
    # resolved at call time through the module, so a wrapper installed on
    # ``write_parquet_driver`` sees every driver-lane attempt
    if write_parquet_driver(
        df, directory, success_marker=success_marker, read_bytes=read_bytes
    ):
        return
    df.write.mode("overwrite").parquet(directory)


def write_table_partitioned(tbl, directory: str, part_col: str) -> "list[int]":
    """Overwrite ``directory`` with ``tbl`` laid out exactly like
    ``df.write.partitionBy(part_col).parquet(directory)``: one
    ``part_col=<v>`` subdirectory per distinct integer value, one parquet
    file each, the partition column dropped from the files (readers
    re-derive it from the directory name, identical to Spark's writer).
    Returns the sorted distinct partition values. Bounded by construction:
    callers hand in a table that already passed collect_arrow_capped."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    shutil.rmtree(directory, ignore_errors=True)
    os.makedirs(directory, exist_ok=True)
    vals = sorted({int(v) for v in tbl.column(part_col).to_pylist()})
    for v in vals:
        sub = tbl.filter(pc.equal(tbl.column(part_col), v)).drop_columns([part_col])
        d = os.path.join(directory, f"{part_col}={v}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(sub, os.path.join(d, "part-00000.parquet"))
    return vals


def publish_json(path: str, obj) -> None:
    """Write ``obj`` as JSON to ``path`` through a temp file renamed over
    it, so readers see the old document or the new one: the commit point
    of every versioned layout (on an object store, a conditional put)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)
