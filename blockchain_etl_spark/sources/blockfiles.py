"""`blockfiles` — a Spark 4 Python DataSource for block-follower files.

The reference follows the chain through blessed block archives: files that
each hold a contiguous, height-ordered run of blocks
(src/be_db_follower.erl:86-108 consumes them strictly in order;
src/be_db_block.erl:96-100 asserts the N+1 contract). This module exposes
that feed as a first-class Spark source — ``spark.read.format("blockfiles")``
and ``spark.readStream.format("blockfiles")`` — via the public
``pyspark.sql.datasource`` API, so the follower input composes with
DataFrame planning instead of living in ad-hoc driver code:

- **One InputPartition per file**: scan parallelism = file count; Spark
  schedules partitions across executors like any file source.
- **Height filter pushdown**: files are named ``blocks_<lo>_<hi>.jsonl``;
  ``pushFilters`` prunes whole files against height predicates BEFORE any
  partition is planned — the file-level analog of the height-bucket BRIN
  strategy in sources/lake.py. A ``height >= H`` resume scan opens only the
  tail of a 100 TB archive.
- **Ordered streaming with gap detection**: the stream reader's offset is
  the next expected height. Each microbatch consumes the longest contiguous
  prefix of newly landed files; a file starting beyond next_height is NOT
  consumed (a gap means an archive is late — the reference stalls rather
  than skips; replaying an already-consumed range is a no-op because the
  offset only moves forward). ``contiguous_files`` is that rule; the block
  follower (``BlockIngest.run_blockfiles_stream``) applies it from its sync
  watermark and reads the run with Spark's JSON reader instead of a stream.

File format: JSON lines, one block per line, with at least
``{"height": N, "block_hash": "...", "time": T, "txns": [...]}`` —
txns stays a JSON string for the decode layer (functions/encoding.py),
matching the ingest contract.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import LongType, StringType, StructField, StructType

_FILE_RE = re.compile(r"blocks_(\d+)_(\d+)\.jsonl$")

SCHEMA = StructType(
    [
        StructField("height", LongType(), False),
        StructField("block_hash", StringType(), True),
        StructField("time", LongType(), True),
        StructField("txns", StringType(), True),
    ]
)


@dataclass
class _BlockFile:
    path: str
    lo: int
    hi: int


def list_block_files(path: str) -> list[_BlockFile]:
    """Height-sorted block files under ``path`` (non-matching names are
    ignored — sidecar/tmp files must never enter the plan)."""
    out = []
    for name in os.listdir(path):
        m = _FILE_RE.search(name)
        if m:
            out.append(_BlockFile(os.path.join(path, name), int(m.group(1)), int(m.group(2))))
    out.sort(key=lambda f: f.lo)
    return out


def contiguous_files(path: str, next_height: int) -> list[_BlockFile]:
    """The contiguous run of landed files from ``next_height``: files
    wholly below it are skipped (already consumed — replay-safe), and the
    run stops at the first gap (a later archive landed first — stall,
    never skip)."""
    run = []
    for f in list_block_files(path):
        if f.hi < next_height:
            continue
        if f.lo > next_height:
            break
        run.append(f)
        next_height = f.hi + 1
    return run


def _rows_from_file(path: str):
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            d = json.loads(line)
            yield (
                int(d["height"]),
                d.get("block_hash"),
                int(d["time"]) if d.get("time") is not None else None,
                json.dumps(d.get("txns")) if d.get("txns") is not None else None,
            )


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class BlockFilesBatchReader(DataSourceReader):
    """Batch reader: file pruning via pushed height predicates, then one
    partition per surviving file."""

    def __init__(self, path: str):
        self.path = path
        self.min_h: int | None = None  # inclusive
        self.max_h: int | None = None  # inclusive

    def pushFilters(self, filters):  # noqa: N802 (API name)
        for flt in filters:
            handled = False
            if getattr(flt, "attribute", None) == ("height",):
                v = flt.value
                if isinstance(flt, GreaterThanOrEqual):
                    self.min_h = v if self.min_h is None else max(self.min_h, v)
                    handled = True
                elif isinstance(flt, GreaterThan):
                    self.min_h = v + 1 if self.min_h is None else max(self.min_h, v + 1)
                    handled = True
                elif isinstance(flt, LessThanOrEqual):
                    self.max_h = v if self.max_h is None else min(self.max_h, v)
                    handled = True
                elif isinstance(flt, LessThan):
                    self.max_h = v - 1 if self.max_h is None else min(self.max_h, v - 1)
                    handled = True
                elif isinstance(flt, EqualTo):
                    self.min_h = v if self.min_h is None else max(self.min_h, v)
                    self.max_h = v if self.max_h is None else min(self.max_h, v)
                    handled = True
            if not handled:
                # residual: Spark re-applies filters we yield back
                yield flt

    def pruned_files(self) -> list[_BlockFile]:
        files = list_block_files(self.path)
        lo = self.min_h if self.min_h is not None else -(1 << 62)
        hi = self.max_h if self.max_h is not None else (1 << 62)
        return [f for f in files if f.hi >= lo and f.lo <= hi]

    def partitions(self):
        return [_FilePartition(f.path) for f in self.pruned_files()]

    def read(self, partition: _FilePartition):
        # contract: filters consumed by pushFilters (not yielded back) must
        # be applied EXACTLY — file pruning alone is a superset, so the
        # height bounds are re-checked per row here.
        lo = self.min_h if self.min_h is not None else -(1 << 62)
        hi = self.max_h if self.max_h is not None else (1 << 62)
        for r in _rows_from_file(partition.path):
            if lo <= r[0] <= hi:
                yield r


class BlockFilesStreamReader(SimpleDataSourceStreamReader):
    """Ordered follower stream: offset = next expected height. Consumes the
    longest contiguous run of fully-landed files; never skips a gap."""

    def __init__(self, path: str, start_height: int):
        self.path = path
        self.start_height = start_height

    def initialOffset(self):  # noqa: N802
        return {"next_height": self.start_height}

    def read(self, start: dict):
        next_height = int(start["next_height"])
        run = contiguous_files(self.path, next_height)
        if not run:
            return iter([]), start
        rows = [
            r
            for f in run
            for r in _rows_from_file(f.path)
            if r[0] >= next_height
        ]
        return iter(rows), {"next_height": run[-1].hi + 1}

    def readBetweenOffsets(self, start: dict, end: dict):  # noqa: N802
        lo, hi = int(start["next_height"]), int(end["next_height"]) - 1
        return iter(
            r
            for f in list_block_files(self.path)
            if f.hi >= lo and f.lo <= hi
            for r in _rows_from_file(f.path)
            if lo <= r[0] <= hi
        )


class BlockFilesDataSource(DataSource):
    """Register with ``spark.dataSource.register(BlockFilesDataSource)``;
    options: ``path`` (directory of blocks_<lo>_<hi>.jsonl files),
    ``startHeight`` (stream resume point, default 1)."""

    @classmethod
    def name(cls) -> str:
        return "blockfiles"

    def schema(self) -> StructType:
        return SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return BlockFilesBatchReader(self.options["path"])

    def simpleStreamReader(self, schema: StructType) -> SimpleDataSourceStreamReader:
        return BlockFilesStreamReader(
            self.options["path"], int(self.options.get("startHeight", 1))
        )

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        return BlockFilesWriter(self.options["path"])

    def streamWriter(self, schema: StructType, overwrite: bool) -> DataSourceStreamWriter:
        return BlockFilesStreamWriter(self.options["path"])


# ---- write side: the archive SINK (S2/S4 through the source plugin) ----

@dataclass
class _ArchivePartCommit(WriterCommitMessage):
    """Per-task commit: the staged temp file and the height range it holds."""

    tmp_path: str
    lo: int
    hi: int
    count: int


class BlockFilesWriter(DataSourceWriter):
    """Batch writer: tasks stage temp JSONL parts; the driver-side commit
    concatenates them in height order into one ``blocks_<lo>_<hi>.jsonl``
    archive — write-audit-publish, so readers never see a partial archive.
    abort() removes every staged part."""

    def __init__(self, path: str):
        self.path = path
        self.staging = os.path.join(path, "_staging")

    def write(self, iterator):
        import uuid

        os.makedirs(self.staging, exist_ok=True)
        tmp = os.path.join(self.staging, f"part-{uuid.uuid4().hex}.jsonl")
        # buffer ONE Spark partition and sort it by height before staging —
        # the same working set Spark's own sortWithinPartitions would hold;
        # height-sorted parts let the driver-side publish stream-merge with
        # a k-way heap instead of loading every row into driver memory.
        rows: list[tuple[int, str]] = []
        for row in iterator:
            h = int(row["height"])
            rows.append(
                (
                    h,
                    json.dumps(
                        {
                            "height": h,
                            "block_hash": row["block_hash"],
                            "time": row["time"],
                            "txns": json.loads(row["txns"])
                            if row["txns"] is not None
                            else None,
                        }
                    )
                    + "\n",
                )
            )
        if not rows:
            return _ArchivePartCommit(tmp_path="", lo=0, hi=0, count=0)
        rows.sort(key=lambda t: t[0])
        with open(tmp, "w") as f:
            for _, line in rows:
                f.write(line)
        return _ArchivePartCommit(
            tmp_path=tmp, lo=rows[0][0], hi=rows[-1][0], count=len(rows)
        )

    @staticmethod
    def _iter_sorted_part(path: str):
        with open(path) as f:
            for line in f:
                if line.strip():
                    # height is the first field of the staged object; parse
                    # only the key cheaply for the merge, pass the line through
                    yield json.loads(line)["height"], line

    def _publish(self, messages) -> None:
        import heapq

        parts = [m for m in messages if m is not None and m.count > 0]
        if not parts:
            return
        lo = min(p.lo for p in parts)
        hi = max(p.hi for p in parts)
        # range-collision audit: a new archive may only ever (a) occupy
        # fresh height space or (b) REWRITE an identical range (the
        # streaming replay contract — same batch, same range, same rows).
        # A partial overlap means two writers raced or a misconfigured
        # resume point — publishing would hand readers duplicate heights
        # with different content, so fail loudly before the rename.
        for existing in list_block_files(self.path):
            if existing.lo == lo and existing.hi == hi:
                continue  # idempotent replay rewrite of the same range
            if existing.hi >= lo and existing.lo <= hi:
                raise RuntimeError(
                    f"blockfiles archive range collision: blocks_{lo}_{hi} "
                    f"overlaps existing {os.path.basename(existing.path)} — "
                    "refusing to publish overlapping height ranges"
                )
        final = os.path.join(self.path, f"blocks_{lo}_{hi}.jsonl")
        tmp_final = final + ".tmp"
        # k-way streaming merge of height-sorted parts: driver memory is
        # O(k) open lines, never the full archive.
        streams = [self._iter_sorted_part(p.tmp_path) for p in parts]
        with open(tmp_final, "w") as out:
            for _, line in heapq.merge(*streams, key=lambda t: t[0]):
                out.write(line)
        os.replace(tmp_final, final)  # publish: atomic rename
        for p in parts:
            try:
                os.remove(p.tmp_path)
            except OSError:
                pass

    def commit(self, messages) -> None:
        self._publish(messages)

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None and m.tmp_path:
                try:
                    os.remove(m.tmp_path)
                except OSError:
                    pass


class BlockFilesStreamWriter(BlockFilesWriter, DataSourceStreamWriter):
    """Streaming sink: one archive per microbatch, published atomically in
    commit(batchId). A replayed batch rewrites the SAME blocks_<lo>_<hi>
    file (idempotent by construction — same range, same content), which is
    exactly the reader side's replay contract."""

    def commit(self, messages, batchId: int) -> None:  # noqa: N803 (API name)
        self._publish(messages)

    def abort(self, messages, batchId: int) -> None:  # noqa: N803
        BlockFilesWriter.abort(self, messages)
