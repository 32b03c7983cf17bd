"""Streaming-layer tests: end-to-end availableNow ingest vs batch recompute,
replay idempotency, the height-contiguity assert, and the stateful operators
(price change detection, pending status machine, online classification)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from blockchain_etl_spark.sources.blockchain import SCHEMAS
from blockchain_etl_spark.streaming.ingest import TABLES, BlockIngest, derive_tables
from blockchain_etl_spark.streaming.state import (
    classify_gateway_online,
    classify_validator_online,
    oracle_price_changes,
    pending_txn_transitions,
)
from tests.fixtures_blockchain import gen_oracle_prices, gen_transactions


@pytest.fixture(scope="module")
def txn_rows():
    _, txns = gen_transactions()
    return txns


@pytest.fixture(scope="module")
def txn_df(spark, txn_rows):
    return spark.createDataFrame(
        [Row(**t) for t in txn_rows], schema=SCHEMAS["transactions"]
    ).cache()


def _table_set(df):
    def h(v):
        return tuple(v) if isinstance(v, list) else v

    return {tuple(h(v) for v in r) for r in df.collect()}


def test_stream_matches_batch_recompute(spark, txn_df, txn_rows, tmp_path):
    """S1/T1: feeding the txn stream in chunks through foreachBatch produces
    exactly the tables the batch pipeline derives over the full input."""
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    os.makedirs(input_dir)
    # two chunk files, ordered by height (the chain is totally ordered)
    mid_block = 60
    first = txn_df.filter(F.col("block") <= mid_block)
    second = txn_df.filter(F.col("block") > mid_block)
    first.coalesce(1).write.parquet(os.path.join(input_dir, "chunk=0"))
    second.coalesce(1).write.parquet(os.path.join(input_dir, "chunk=1"))

    ing = BlockIngest(out_dir)
    ing.run_stream(spark, input_dir + "/chunk=*", SCHEMAS["transactions"])

    batch_tables = derive_tables(txn_df)
    assert ing.sync_height() == 120
    for name in TABLES:
        got = _table_set(ing.read_table(spark, name))
        want = _table_set(batch_tables[name])
        assert got == want, f"{name}: stream/batch divergence ({len(got)} vs {len(want)})"


def test_replay_is_idempotent(spark, txn_df, tmp_path):
    """T1: re-processing the same block range converges (the reference's
    ON CONFLICT idempotency)."""
    out_dir = str(tmp_path / "out2")
    ing = BlockIngest(out_dir)
    batch = txn_df.filter(F.col("block") <= 40)
    ing.process_batch(batch, 0)
    before = {name: _table_set(ing.read_table(spark, name)) for name in TABLES}
    ing.process_batch(batch, 1)  # replay
    after = {name: _table_set(ing.read_table(spark, name)) for name in TABLES}
    assert before == after
    assert ing.sync_height() == 40


def test_gap_raises(spark, txn_df, tmp_path):
    """T1: the strict height N+1 assert (src/be_db_block.erl:96-100)."""
    ing = BlockIngest(str(tmp_path / "out3"))
    ing.process_batch(txn_df.filter(F.col("block") <= 10), 0)
    with pytest.raises(ValueError, match="non-contiguous"):
        ing.process_batch(txn_df.filter(F.col("block") >= 50), 1)


def test_oracle_price_change_detection(spark):
    rows = gen_oracle_prices()
    # force some unchanged runs
    rows = rows + [{"block": r["block"] + 1, "price": r["price"]} for r in rows[:3]]
    df = spark.createDataFrame(rows, schema=SCHEMAS["oracle_prices"])
    got = {(r.block, r.price) for r in oracle_price_changes(df).collect()}
    ordered = sorted(rows, key=lambda r: r["block"])
    want, last = set(), None
    for r in ordered:
        if r["price"] != last:
            want.add((r["block"], r["price"]))
        last = r["price"]
    assert got == want


def test_pending_txn_state_machine(spark):
    pending = spark.createDataFrame(
        [
            ("h1", "received", None),
            ("h2", "pending", None),
            ("h3", "pending", None),
            ("h4", "cleared", None),  # terminal: result must not re-open
            ("h5", "received", None),  # no result: unchanged
        ],
        "hash string, status string, failed_reason string",
    )
    results = spark.createDataFrame(
        [
            ("h1", "pending", None),
            ("h2", "cleared", None),
            ("h3", "failed", "invalid_nonce"),
            ("h4", "failed", "late"),
        ],
        "hash string, outcome string, failed_reason string",
    )
    got = {
        r.hash: (r.status, r.failed_reason)
        for r in pending_txn_transitions(pending, results).collect()
    }
    assert got == {
        "h1": ("pending", None),
        "h2": ("cleared", None),
        "h3": ("failed", "invalid_nonce"),
        "h4": ("cleared", None),
        "h5": ("received", None),
    }


def test_online_classification(spark):
    height = 10000
    gw = spark.createDataFrame(
        [
            ("gw_new", height - 100, None),  # recently added → online
            ("gw_active", 1, height - 1000),  # active poc → online
            ("gw_stale", 1, height - 4000),  # stale → offline
            ("gw_never", 1, None),  # old, never active → offline
        ],
        "address string, first_block long, last_poc_challenge long",
    )
    got = {r.address: r.online for r in classify_gateway_online(gw, height).collect()}
    assert got == {
        "gw_new": "online",
        "gw_active": "online",
        "gw_stale": "offline",
        "gw_never": "offline",
    }

    vals = spark.createDataFrame(
        [("v_live", 9700), ("v_dead", 8000)],
        "address string, last_heartbeat long",
    )
    got_v = {
        r.address: r.online
        for r in classify_validator_online(vals, height, heartbeat_interval=400).collect()
    }
    assert got_v == {"v_live": "online", "v_dead": "offline"}


def test_compaction_preserves_contents(spark, txn_df, tmp_path):
    """Compacting blockrange dirs into height buckets changes the physical
    layout only: same rows before/after, fewer directories, and further
    ingest + a second compaction still match the batch recompute."""
    import glob

    out_dir = str(tmp_path / "out4")
    ing = BlockIngest(out_dir)
    for lo, hi in ((1, 30), (31, 60), (61, 90)):
        ing.process_batch(
            txn_df.filter((F.col("block") >= lo) & (F.col("block") <= hi)), 0
        )
    before = _table_set(ing.read_table(spark, "transactions"))
    n = ing.compact(spark, "transactions", blocks_per_bucket=50)
    assert n == 3
    assert not glob.glob(os.path.join(out_dir, "transactions", "blockrange=*"))
    # blocks 1-90 with bucket width 50 → buckets 0 and 1
    assert len(glob.glob(os.path.join(out_dir, "transactions", "compacted", "height_bucket=*"))) == 2
    assert _table_set(ing.read_table(spark, "transactions")) == before

    # mixed layout: one more uncompacted batch on top of compacted data
    ing.process_batch(txn_df.filter(F.col("block") > 90), 1)
    assert _table_set(ing.read_table(spark, "transactions")) == _table_set(txn_df)
    # second compaction folds the remainder in; a repeat is a no-op
    assert ing.compact(spark, "transactions", blocks_per_bucket=50) == 1
    assert ing.compact(spark, "transactions", blocks_per_bucket=50) == 0
    assert _table_set(ing.read_table(spark, "transactions")) == _table_set(txn_df)


def test_compaction_replay_after_crash_is_idempotent(spark, txn_df, tmp_path):
    """Crash-window replays must not double-fold: the per-bucket fold
    manifest records which blockranges a bucket absorbed, so rerunning
    compact after a crash at any point converges to the same rows."""
    import glob
    import shutil

    out_dir = str(tmp_path / "out5")
    ing = BlockIngest(out_dir)
    for lo, hi in ((1, 30), (31, 60)):
        ing.process_batch(
            txn_df.filter((F.col("block") >= lo) & (F.col("block") <= hi)), 0
        )
    base = os.path.join(out_dir, "transactions")
    want = _table_set(ing.read_table(spark, "transactions"))

    # crash scenario A: buckets swapped but blockrange dirs NOT deleted —
    # simulate by compacting with the range dirs backed up, then restoring
    backup = str(tmp_path / "backup")
    shutil.copytree(base, backup)
    assert ing.compact(spark, "transactions", blocks_per_bucket=50) == 2
    for r in glob.glob(os.path.join(backup, "blockrange=*")):
        shutil.copytree(r, os.path.join(base, os.path.basename(r)))
    # replay: manifests say both ranges are folded → dirs removed, no re-fold
    assert ing.compact(spark, "transactions", blocks_per_bucket=50) == 2
    assert not glob.glob(os.path.join(base, "blockrange=*"))
    assert _table_set(ing.read_table(spark, "transactions")) == want

    # crash scenario B: interrupted swap (live dir renamed to .old, new dir
    # not yet in place) — the healing preamble must restore the bucket
    bucket = glob.glob(os.path.join(base, "compacted", "height_bucket=*"))[0]
    os.replace(bucket, bucket + ".old")
    assert ing.compact(spark, "transactions", blocks_per_bucket=50) == 0
    assert os.path.isdir(bucket) and not os.path.isdir(bucket + ".old")
    assert _table_set(ing.read_table(spark, "transactions")) == want


def test_failed_handler_keeps_watermark_and_replay_converges(
    spark, txn_df, tmp_path, monkeypatch
):
    """The handlers of a batch run concurrently: when one inventory merge
    fails, the batch raises, the sync height stays put, every other
    handler's output is committed, and replaying the range after the fault
    is gone converges to a clean run — the committed accounts merge is
    skipped on its watermark, not double-counted."""
    from blockchain_etl_spark.operators.merge import ParquetMergeTarget
    from blockchain_etl_spark.streaming.ingest import INVENTORIES

    first = txn_df.filter(F.col("block") <= 40)
    second = txn_df.filter((F.col("block") > 40) & (F.col("block") <= 80))
    clean = BlockIngest(str(tmp_path / "clean"), maintain_inventories=True)
    ing = BlockIngest(str(tmp_path / "faulty"), maintain_inventories=True)
    for i, b in enumerate((first, second)):
        clean.process_batch(b, i)
    ing.process_batch(first, 0)

    def inventories(follower):
        return {
            name: _table_set(follower.read_inventory(spark, name))
            for name in ("accounts", *INVENTORIES)
        }

    def tables(follower):
        return {name: _table_set(follower.read_table(spark, name)) for name in TABLES}

    merge_with = ParquetMergeTarget.merge_with

    def failing_merge(self, *args, **kwargs):
        if os.path.basename(self.path) == "validators_inventory":
            raise OSError("disk full")
        return merge_with(self, *args, **kwargs)

    want_tables, want_inventories = tables(clean), inventories(clean)
    monkeypatch.setattr(ParquetMergeTarget, "merge_with", failing_merge)
    with pytest.raises(OSError, match="disk full"):
        ing.process_batch(second, 1)
    assert ing.sync_height() == 40
    assert tables(ing) == want_tables
    got = inventories(ing)
    assert got.pop("validators") != want_inventories["validators"]
    assert got == {k: v for k, v in want_inventories.items() if k != "validators"}
    assert ing.inventory_target("validators").watermark() == 40

    monkeypatch.setattr(ParquetMergeTarget, "merge_with", merge_with)
    ing.process_batch(second, 1)  # replay
    assert ing.sync_height() == 80
    assert tables(ing) == want_tables
    assert inventories(ing) == want_inventories

    def n_txns(follower):
        return follower.read_inventory(spark, "accounts").agg(F.sum("n_txns")).first()[0]

    assert n_txns(ing) == n_txns(clean)


def test_fanout_tasks_run_in_the_callers_job_group(spark):
    """A batch's handler threads carry the caller's job group and session
    tags, so cancelling either (a stopped streaming query) reaches their
    jobs."""
    from blockchain_etl_spark.streaming.fanout import run_tasks

    sc = spark.sparkContext
    seen = {}

    def task(name):
        seen[name] = (sc.getLocalProperty("spark.jobGroup.id"), spark.getTags())
        spark.range(4).count()

    sc.setJobGroup("follower-batch", "fan-out test")
    spark.addTag("follower")
    try:
        run_tasks(spark, [(n, lambda n=n: task(n)) for n in ("a", "b", "c")])
    finally:
        spark.removeTag("follower")
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert seen == {n: ("follower-batch", {"follower"}) for n in ("a", "b", "c")}
