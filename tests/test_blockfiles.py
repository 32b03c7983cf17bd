"""blockfiles Python DataSource: file pruning, ordered streaming, gap stall.

The pruning and ordering logic is pure Python (testable without a JVM);
the end-to-end reads go through spark.read / readStream to prove the
DataSource registration and wire format.
"""

from __future__ import annotations

import json
import os
import time

import pytest

from blockchain_etl_spark.sources.blockfiles import (
    BlockFilesBatchReader,
    BlockFilesDataSource,
    BlockFilesStreamReader,
    list_block_files,
)


def _write_blockfile(dirpath: str, lo: int, hi: int) -> str:
    path = os.path.join(dirpath, f"blocks_{lo}_{hi}.jsonl")
    with open(path, "w") as f:
        for h in range(lo, hi + 1):
            f.write(
                json.dumps(
                    {
                        "height": h,
                        "block_hash": f"hash{h}",
                        "time": 1600000000 + h,
                        "txns": [{"type": "payment_v2", "fee": h}],
                    }
                )
                + "\n"
            )
    return path


@pytest.fixture()
def blockdir(tmp_path):
    d = str(tmp_path / "blocks")
    os.makedirs(d)
    _write_blockfile(d, 1, 10)
    _write_blockfile(d, 11, 25)
    _write_blockfile(d, 26, 40)
    (tmp_path / "blocks" / "sidecar.tmp").write_text("ignore me")
    return d


def test_list_ignores_non_matching_and_sorts(blockdir):
    files = list_block_files(blockdir)
    assert [(f.lo, f.hi) for f in files] == [(1, 10), (11, 25), (26, 40)]


def test_height_pushdown_prunes_files(blockdir):
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    r = BlockFilesBatchReader(blockdir)
    residual = list(r.pushFilters([GreaterThanOrEqual(("height",), 12)]))
    assert residual == []  # fully handled at file level
    assert [(f.lo, f.hi) for f in r.pruned_files()] == [(11, 25), (26, 40)]

    r2 = BlockFilesBatchReader(blockdir)
    list(r2.pushFilters([GreaterThanOrEqual(("height",), 12), LessThan(("height",), 26)]))
    assert [(f.lo, f.hi) for f in r2.pruned_files()] == [(11, 25)]


def test_non_height_filters_are_residual(blockdir):
    from pyspark.sql.datasource import EqualTo

    r = BlockFilesBatchReader(blockdir)
    residual = list(r.pushFilters([EqualTo(("block_hash",), "hash3")]))
    assert len(residual) == 1  # returned for Spark to re-apply


def test_stream_reader_consumes_contiguous_prefix_only(blockdir, tmp_path):
    r = BlockFilesStreamReader(blockdir, start_height=1)
    assert r.initialOffset() == {"next_height": 1}
    rows, off = r.read({"next_height": 1})
    assert off == {"next_height": 41}
    assert [x[0] for x in rows] == list(range(1, 41))

    # a gap file (45-50 with 41-44 missing) must NOT be consumed
    _write_blockfile(blockdir, 45, 50)
    rows, off = r.read(off)
    assert list(rows) == [] and off == {"next_height": 41}

    # once the missing range lands, both are consumed in order
    _write_blockfile(blockdir, 41, 44)
    rows, off = r.read(off)
    assert [x[0] for x in rows] == list(range(41, 51))
    assert off == {"next_height": 51}


def test_stream_replay_between_offsets_is_deterministic(blockdir):
    r = BlockFilesStreamReader(blockdir, start_height=1)
    rows = list(r.readBetweenOffsets({"next_height": 5}, {"next_height": 13}))
    assert [x[0] for x in rows] == list(range(5, 13))


def test_batch_read_end_to_end(spark, blockdir):
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(BlockFilesDataSource)
    df = spark.read.format("blockfiles").option("path", blockdir).load()
    assert df.count() == 40
    got = df.filter("height >= 30").selectExpr("count(*) AS n", "min(height) AS mn").first()
    assert (got["n"], got["mn"]) == (11, 30)
    row = df.filter("height = 7").first()
    assert row["block_hash"] == "hash7"
    assert json.loads(row["txns"])[0]["fee"] == 7


def test_stream_read_end_to_end(spark, blockdir, tmp_path):
    spark.dataSource.register(BlockFilesDataSource)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.format("blockfiles")
        .option("path", blockdir)
        .option("startHeight", 1)
        .load()
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    time.sleep(0.2)
    df = spark.read.parquet(out)
    assert df.count() == 40
    assert df.agg({"height": "max"}).first()[0] == 40


@pytest.fixture(scope="module")
def chain():
    """The fixture chain as (block rows by height, block time by height,
    txn dicts)."""
    from tests.fixtures_blockchain import gen_transactions

    blocks, txns = gen_transactions()
    by_height: dict[int, list] = {}
    for t in txns:
        by_height.setdefault(t["block"], []).append(t)
    return by_height, {b["height"]: b["time"] for b in blocks}, txns


def _write_chain_archive(dirpath: str, chain, lo: int, hi: int) -> None:
    by_height, block_time, _ = chain
    with open(os.path.join(dirpath, f"blocks_{lo}_{hi}.jsonl"), "w") as f:
        for h in range(lo, hi + 1):
            f.write(
                json.dumps(
                    {
                        "height": h,
                        "block_hash": f"bh{h:05d}",
                        "time": block_time[h],
                        "txns": [
                            {"hash": t["hash"], "type": t["type"], "fields": t["fields"]}
                            for t in by_height.get(h, [])
                        ],
                    }
                )
                + "\n"
            )


def _set(df):
    return {
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in df.collect()
    }


def _chain_txns(spark, chain, hi: int):
    """The chain's transactions of blocks 1..hi as the ingest's frame."""
    from pyspark.sql import Row

    from blockchain_etl_spark.sources.blockchain import SCHEMAS

    rows = [Row(**t) for t in chain[2] if t["block"] <= hi]
    return spark.createDataFrame(rows, schema=SCHEMAS["transactions"])


def test_blockfiles_stream_feeds_ingest(spark, chain, tmp_path):
    """The full follower path from the archive feed: JSONL block archives
    -> contiguous run -> txn explode -> ordered ingest == the batch
    pipeline over the same transactions."""
    from blockchain_etl_spark.streaming.ingest import TABLES, BlockIngest, derive_tables

    d = str(tmp_path / "archive")
    os.makedirs(d)
    # three archives covering 1..120 contiguously
    for lo, hi in ((1, 40), (41, 90), (91, 120)):
        _write_chain_archive(d, chain, lo, hi)

    out_dir = str(tmp_path / "out")
    ing = BlockIngest(out_dir)
    ing.run_blockfiles_stream(spark, d)
    assert ing.sync_height() == 120
    assert not os.path.exists(os.path.join(out_dir, "_checkpoint"))

    want = derive_tables(_chain_txns(spark, chain, 120))
    for name in TABLES:
        got = _set(ing.read_table(spark, name))
        assert got == _set(want[name]), f"{name}: {len(got)}"


def test_follower_gap_stalls_then_resumes(spark, chain, tmp_path):
    """A late archive stalls the catch-up below the gap without error and
    without skipping; once it lands the next call takes the whole rest."""
    from blockchain_etl_spark.streaming.ingest import BlockIngest

    d = str(tmp_path / "feed")
    os.makedirs(d)
    _write_chain_archive(d, chain, 1, 20)
    _write_chain_archive(d, chain, 41, 60)
    ing = BlockIngest(str(tmp_path / "out"))
    ing.run_blockfiles_stream(spark, d)
    assert ing.sync_height() == 20

    _write_chain_archive(d, chain, 21, 40)
    ing.run_blockfiles_stream(spark, d)
    assert ing.sync_height() == 60
    assert _set(ing.read_table(spark, "transactions")) == _set(_chain_txns(spark, chain, 60))


def test_follower_corrupt_line_raises_and_keeps_watermark(spark, chain, tmp_path):
    """A corrupt archive line fails the catch-up loudly, never skips a
    block, and leaves the sync height where it was."""
    from blockchain_etl_spark.streaming.ingest import BlockIngest

    d = str(tmp_path / "feed")
    os.makedirs(d)
    _write_chain_archive(d, chain, 1, 20)
    ing = BlockIngest(str(tmp_path / "out"))
    ing.run_blockfiles_stream(spark, d)
    assert ing.sync_height() == 20

    with open(os.path.join(d, "blocks_21_22.jsonl"), "w") as f:
        f.write('{"height": 21, "block_hash": "h21", "time": 1, "txns": []}\n')
        f.write("THIS IS NOT JSON\n")
    with pytest.raises(Exception, match="(?i)malformed"):
        ing.run_blockfiles_stream(spark, d)
    assert ing.sync_height() == 20


def test_follower_nothing_new_runs_no_spark_job(spark, chain, tmp_path, monkeypatch):
    """A catch-up with no archive above the watermark returns before any
    Spark job and without a ``process_batch`` call."""
    from blockchain_etl_spark.streaming.ingest import BlockIngest

    d = str(tmp_path / "feed")
    os.makedirs(d)
    _write_chain_archive(d, chain, 1, 20)
    ing = BlockIngest(str(tmp_path / "out"))
    ing.run_blockfiles_stream(spark, d)
    assert ing.sync_height() == 20

    sc = spark.sparkContext
    calls = []
    process_batch = BlockIngest.process_batch

    def counting(self, batch, batch_id):
        calls.append(batch_id)
        return process_batch(self, batch, batch_id)

    monkeypatch.setattr(BlockIngest, "process_batch", counting)
    sc.setJobGroup("follower-idle", "nothing-new catch-up")
    try:
        ing.run_blockfiles_stream(spark, d)
        idle_jobs = list(sc.statusTracker().getJobIdsForGroup("follower-idle"))
        # the probe sees jobs when there is work
        _write_chain_archive(d, chain, 21, 40)
        ing.run_blockfiles_stream(spark, d)
        busy_jobs = list(sc.statusTracker().getJobIdsForGroup("follower-idle"))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert idle_jobs == []
    assert calls == [21] and busy_jobs
    assert ing.sync_height() == 40


def test_follower_lists_a_long_run_without_a_job(spark, chain, tmp_path, monkeypatch):
    """A catch-up over 40 archives runs as many Spark jobs before
    ``process_batch`` as one over 20: the run's paths are listed on the
    driver, not by the distributed listing job Spark starts above its
    parallel-discovery threshold (32 paths), and the session's threshold
    is left as it was."""
    from blockchain_etl_spark.streaming.ingest import BlockIngest

    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    before = spark.conf.get(key)
    sc = spark.sparkContext
    batches = []
    monkeypatch.setattr(
        BlockIngest, "process_batch", lambda self, batch, batch_id: batches.append(batch)
    )

    def catch_up_jobs(n):
        d = str(tmp_path / f"feed{n}")
        os.makedirs(d)
        for h in range(1, n + 1):
            _write_chain_archive(d, chain, h, h)
        group = f"catch-up-{n}"
        sc.setJobGroup(group, "catch-up listing")
        try:
            BlockIngest(str(tmp_path / f"out{n}")).run_blockfiles_stream(spark, d)
            return len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            for k in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
                sc.setLocalProperty(k, None)

    assert catch_up_jobs(40) == catch_up_jobs(20)
    assert spark.conf.get(key) == before
    assert len(batches) == 2


def test_follower_reuses_generated_code_across_catch_ups(spark, chain, tmp_path):
    """A steady catch-up compiles almost no new code: the session's
    generated-code cache holds every class a follower microbatch builds,
    so the third of three 20-archive catch-ups reuses what the second
    compiled. With Spark's default cache (100 classes) each catch-up
    compiled about 200 classes again."""
    from blockchain_etl_spark.streaming.ingest import BlockIngest

    compiles = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    d = str(tmp_path / "feed")
    os.makedirs(d)
    ing = BlockIngest(str(tmp_path / "out"), maintain_inventories=True)
    counts = []
    for start in (1, 21, 41):
        for h in range(start, start + 20):
            _write_chain_archive(d, chain, h, h)
        before = compiles.METRIC_COMPILATION_TIME().getCount()
        ing.run_blockfiles_stream(spark, d)
        counts.append(compiles.METRIC_COMPILATION_TIME().getCount() - before)
    assert ing.sync_height() == 60
    assert counts[2] <= 20, counts


def test_follower_straddling_archive_skips_consumed_blocks(spark, chain, tmp_path):
    """An archive that lands across the sync watermark contributes only
    its blocks above it."""
    from blockchain_etl_spark.streaming.ingest import BlockIngest

    d = str(tmp_path / "feed")
    os.makedirs(d)
    _write_chain_archive(d, chain, 1, 20)
    ing = BlockIngest(str(tmp_path / "out"))
    ing.run_blockfiles_stream(spark, d)
    _write_chain_archive(d, chain, 11, 40)
    ing.run_blockfiles_stream(spark, d)
    assert ing.sync_height() == 40
    got = ing.read_table(spark, "transactions")
    assert got.count() == len([t for t in chain[2] if t["block"] <= 40])
    assert _set(got) == _set(_chain_txns(spark, chain, 40))


def test_follower_start_height(spark, chain, tmp_path, monkeypatch):
    """``start_height`` picks the first height on a fresh lake (where the
    order check then refuses a start past genesis) and is ignored at or
    below the sync watermark."""
    from blockchain_etl_spark.streaming.ingest import BlockIngest

    d = str(tmp_path / "feed")
    os.makedirs(d)
    _write_chain_archive(d, chain, 1, 20)
    _write_chain_archive(d, chain, 21, 40)
    firsts = []
    process_batch = BlockIngest.process_batch

    def spy(self, batch, batch_id):
        firsts.append((batch_id, batch.agg({"block": "min"}).first()[0]))
        return process_batch(self, batch, batch_id)

    monkeypatch.setattr(BlockIngest, "process_batch", spy)
    fresh = BlockIngest(str(tmp_path / "fresh"))
    with pytest.raises(ValueError, match="first height 25 > stored 0"):
        fresh.run_blockfiles_stream(spark, d, start_height=25)
    assert firsts == [(25, 25)] and fresh.sync_height() == 0

    ing = BlockIngest(str(tmp_path / "out"))
    ing.run_blockfiles_stream(spark, d)
    _write_chain_archive(d, chain, 41, 60)
    ing.run_blockfiles_stream(spark, d, start_height=5)
    assert firsts[1:] == [(1, 1), (41, 41)]
    assert ing.sync_height() == 60


def test_follower_resumes_from_sync_height_past_old_checkpoint(spark, chain, tmp_path):
    """A lake left by the streaming follower, with its ``_checkpoint/``,
    resumes from the sync watermark; the checkpoint is neither read nor
    written."""
    from blockchain_etl_spark.streaming.ingest import BlockIngest, explode_txns

    d = str(tmp_path / "feed")
    os.makedirs(d)
    _write_chain_archive(d, chain, 1, 20)
    out = str(tmp_path / "out")
    ing = BlockIngest(out)
    ckpt = os.path.join(out, "_checkpoint")
    spark.dataSource.register(BlockFilesDataSource)
    q = (
        explode_txns(
            spark.readStream.format("blockfiles").option("path", d).load()
        )
        .writeStream.foreachBatch(ing.process_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert ing.sync_height() == 20

    def listing():
        return sorted(
            (os.path.relpath(os.path.join(root, n), ckpt), os.path.getmtime(os.path.join(root, n)))
            for root, _, names in os.walk(ckpt)
            for n in names
        )

    before = listing()
    assert before
    _write_chain_archive(d, chain, 21, 40)
    ing.run_blockfiles_stream(spark, d)
    assert ing.sync_height() == 40
    assert listing() == before
    assert _set(ing.read_table(spark, "transactions")) == _set(_chain_txns(spark, chain, 40))


def test_follower_decode_equals_blockfiles_source(spark, tmp_path, monkeypatch):
    """The follower's JVM decode of the archives yields the same txn rows
    as the ``blockfiles`` DataSource plus the same explode, on the edge
    shapes of the feed: empty and missing txn arrays, non-ASCII text
    (escaped and raw UTF-8), and object-valued ``fields``."""
    from blockchain_etl_spark.streaming.ingest import BlockIngest, explode_txns

    d = str(tmp_path / "feed")
    os.makedirs(d)
    blocks = [
        {"height": 1, "block_hash": "b1", "time": 11, "txns": []},
        {"height": 2, "block_hash": "b2", "time": 12},
        {
            "height": 3,
            "block_hash": "b3",
            "time": 13,
            "txns": [
                {"hash": "t3a", "type": "payment_v2", "fields": json.dumps({"payer": "Zoë ✓"})},
                {
                    "hash": "t3b",
                    "type": "vars_v1",
                    "fields": {"vars": {"name": "größe", "v": [1, 2.5, None]}, "nonce": 7},
                },
            ],
        },
        {
            "height": 4,
            "block_hash": "b4",
            "time": 14,
            "txns": [{"hash": "t4", "type": "oui_v1", "fields": {"owner": "été", "addresses": []}}],
        },
    ]
    with open(os.path.join(d, "blocks_1_2.jsonl"), "w") as f:
        for b in blocks[:2]:
            f.write(json.dumps(b) + "\n")
    with open(os.path.join(d, "blocks_3_4.jsonl"), "w", encoding="utf-8") as f:
        f.write(json.dumps(blocks[2]) + "\n")  # non-ASCII escaped
        f.write(json.dumps(blocks[3], ensure_ascii=False) + "\n")  # raw UTF-8

    got = []
    monkeypatch.setattr(
        BlockIngest, "process_batch", lambda self, batch, batch_id: got.extend(batch.collect())
    )
    BlockIngest(str(tmp_path / "out")).run_blockfiles_stream(spark, d)

    spark.dataSource.register(BlockFilesDataSource)
    want = explode_txns(spark.read.format("blockfiles").option("path", d).load()).collect()
    assert sorted(got) == sorted(want)
    assert len(want) == 3
    fields = {r["hash"]: r["fields"] for r in want}
    assert json.loads(fields["t3a"]) == {"payer": "Zoë ✓"}
    assert json.loads(fields["t3b"])["vars"]["name"] == "größe"
    assert json.loads(fields["t4"]) == {"owner": "été", "addresses": []}


def test_stream_restart_resumes_from_checkpoint(spark, blockdir, tmp_path):
    """Kill the stream, land more archives, restart with the SAME
    checkpoint: the committed height offset resumes — no duplicates, no
    gaps (exactly-once at the sink for an idempotent file sink)."""
    spark.dataSource.register(BlockFilesDataSource)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        q = (
            spark.readStream.format("blockfiles")
            .option("path", blockdir)
            .option("startHeight", 1)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    df = spark.read.parquet(out)
    assert df.count() == 40

    _write_blockfile(blockdir, 41, 55)
    run_once()
    df = spark.read.parquet(out)
    heights = sorted(r["height"] for r in df.select("height").collect())
    assert heights == list(range(1, 56))  # each height exactly once


def test_corrupt_line_raises_not_skips(spark, blockdir):
    """A ledger feed must fail loudly on a corrupt archive line — silently
    skipping blocks would corrupt every downstream running aggregate."""
    spark.dataSource.register(BlockFilesDataSource)
    with open(os.path.join(blockdir, "blocks_41_42.jsonl"), "w") as f:
        f.write('{"height": 41, "block_hash": "h41", "time": 1, "txns": []}\n')
        f.write("THIS IS NOT JSON\n")
    with pytest.raises(Exception):
        (
            spark.read.format("blockfiles")
            .option("path", blockdir)
            .load()
            .count()
        )


def test_batch_writer_roundtrip(spark, blockdir, tmp_path):
    """read archives -> write through the blockfiles SINK -> read back:
    identical rows, and the published archive is height-sorted contiguous."""
    spark.dataSource.register(BlockFilesDataSource)
    out = str(tmp_path / "written")
    os.makedirs(out)
    src = spark.read.format("blockfiles").option("path", blockdir).load()
    src.write.format("blockfiles").option("path", out).mode("append").save()

    files = list_block_files(out)
    assert [(f.lo, f.hi) for f in files] == [(1, 40)]
    back = spark.read.format("blockfiles").option("path", out).load()
    assert sorted(r["height"] for r in back.collect()) == list(range(1, 41))
    # height-sorted inside the archive
    with open(files[0].path) as f:
        heights = [json.loads(line)["height"] for line in f]
    assert heights == sorted(heights)
    # no staging leftovers
    assert os.listdir(os.path.join(out, "_staging")) == []


def test_publish_rejects_overlapping_range(tmp_path):
    """Publishing an archive whose height range partially overlaps an
    existing archive must fail loudly (duplicate heights with possibly
    different content); rewriting the IDENTICAL range stays allowed — the
    streaming replay contract."""
    from blockchain_etl_spark.sources.blockfiles import (
        BlockFilesWriter,
        _ArchivePartCommit,
    )

    out = str(tmp_path / "arch")
    os.makedirs(out)
    w = BlockFilesWriter(out)

    def staged(lo, hi):
        os.makedirs(w.staging, exist_ok=True)
        p = os.path.join(w.staging, f"part-{lo}-{hi}.jsonl")
        with open(p, "w") as f:
            for h in range(lo, hi + 1):
                f.write(
                    json.dumps(
                        {"height": h, "block_hash": f"h{h}", "time": h, "txns": None}
                    )
                    + "\n"
                )
        return _ArchivePartCommit(tmp_path=p, lo=lo, hi=hi, count=hi - lo + 1)

    w._publish([staged(1, 10)])
    assert [(f.lo, f.hi) for f in list_block_files(out)] == [(1, 10)]
    # identical-range rewrite: allowed (idempotent replay)
    w._publish([staged(1, 10)])
    assert [(f.lo, f.hi) for f in list_block_files(out)] == [(1, 10)]
    # partial overlap: refused before the rename
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="range collision"):
        w._publish([staged(5, 15)])
    assert [(f.lo, f.hi) for f in list_block_files(out)] == [(1, 10)]
    # fresh range: fine
    w._publish([staged(11, 15)])
    assert sorted((f.lo, f.hi) for f in list_block_files(out)) == [(1, 10), (11, 15)]


def test_stream_writer_one_archive_per_batch(spark, blockdir, tmp_path):
    """Streaming sink publishes one contiguous archive per microbatch;
    a second availableNow run with new data appends the next archive."""
    spark.dataSource.register(BlockFilesDataSource)
    out = str(tmp_path / "written")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(out)

    def run_once():
        q = (
            spark.readStream.format("blockfiles")
            .option("path", blockdir)
            .option("startHeight", 1)
            .load()
            .writeStream.format("blockfiles")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert [(f.lo, f.hi) for f in list_block_files(out)] == [(1, 40)]

    _write_blockfile(blockdir, 41, 50)
    run_once()
    got = sorted((f.lo, f.hi) for f in list_block_files(out))
    assert got == [(1, 40), (41, 50)]
    back = spark.read.format("blockfiles").option("path", out).load()
    assert back.count() == 50
