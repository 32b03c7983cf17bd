"""IncrementalJoinView: the maintained join must equal the batch join of
the consolidated input states at every step, under inserts, deletes,
replays, and compaction — and state reads must be bucket-pruned."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from blockchain_etl_spark.operators.ivm import IncrementalJoinView, _W


def _df(spark, rows, cols):
    return spark.createDataFrame(rows, cols)


def _batch_join(spark, a_rows, b_rows):
    """Ground truth: plain join of the consolidated multisets."""
    import collections

    a = collections.Counter(a_rows)
    b = collections.Counter(b_rows)
    out = collections.Counter()
    for (ak, av), na in a.items():
        for (bk, bv), nb in b.items():
            if ak == bk and na > 0 and nb > 0:
                out[(ak, av, bv)] += na * nb
    return {k: v for k, v in out.items() if v > 0}


def _view_counter(view_df):
    import collections

    out = collections.Counter()
    if view_df is None:
        return {}
    for r in view_df.collect():
        out[(r.k, r.av, r.bv)] += r[_W]
    return {k: v for k, v in out.items() if v != 0}


@pytest.fixture()
def ivm(tmp_path):
    return IncrementalJoinView(str(tmp_path / "jv"), join_keys=["k"], n_buckets=8)


def test_incremental_equals_batch_under_inserts_and_deletes(spark, ivm):
    a_net, b_net = [], []

    def step(da=None, db=None, wm=0):
        dfa = _df(spark, [(k, v, w) for k, v, w in (da or [])], ["k", "av", _W]) if da else None
        dfb = _df(spark, [(k, v, w) for k, v, w in (db or [])], ["k", "bv", _W]) if db else None
        ivm.apply(spark, dfa, dfb, watermark=wm)
        for k, v, w in da or []:
            a_net.append(((k, v), w))
        for k, v, w in db or []:
            b_net.append(((k, v), w))
        import collections

        ca, cb = collections.Counter(), collections.Counter()
        for kv, w in a_net:
            ca[kv] += w
        for kv, w in b_net:
            cb[kv] += w
        expect = _batch_join(spark, ca, cb)
        got = _view_counter(ivm.read(spark))
        assert got == expect, (got, expect)

    step(da=[(1, "a1", 1), (2, "a2", 1)], wm=0)                 # A only: empty view
    step(db=[(1, "b1", 1), (3, "b3", 1)], wm=1)                 # join appears
    step(da=[(1, "a1b", 1), (3, "a3", 1)], db=[(2, "b2", 1)], wm=2)  # both sides
    step(da=[(1, "a1", -1)], wm=3)                              # retract an A row
    step(db=[(1, "b1", -1), (1, "b1x", 2)], wm=4)               # retract + multi-insert
    step(da=[(3, "a3", -1)], db=[(3, "b3", -1)], wm=5)          # cancel both sides


def test_replay_is_noop(spark, ivm):
    da = _df(spark, [(1, "a", 1)], ["k", "av", _W])
    db = _df(spark, [(1, "b", 1)], ["k", "bv", _W])
    assert ivm.apply(spark, da, db, watermark=7)
    before = _view_counter(ivm.read(spark))
    assert not ivm.apply(spark, da, db, watermark=7)  # same watermark: rejected
    assert _view_counter(ivm.read(spark)) == before


def test_default_weight_is_plus_one_and_read_flat(spark, ivm):
    da = _df(spark, [(1, "a")], ["k", "av"])  # no __w column
    db = _df(spark, [(1, "b"), (1, "b")], ["k", "bv"])  # duplicate row => w=2
    ivm.apply(spark, da, db, watermark=0)
    flat = ivm.read_flat(spark)
    assert flat.count() == 2  # multiplicity expanded
    assert flat.columns == ["k", "av", "bv"]


def test_state_reads_are_bucket_pruned(spark, ivm):
    # seed both sides with keys spread over many buckets
    rows = [(k, f"a{k}") for k in range(64)]
    ivm.apply(spark, _df(spark, rows, ["k", "av"]),
              _df(spark, [(k, f"b{k}") for k in range(64)], ["k", "bv"]), watermark=0)
    # a single-key delta must read only its bucket's files from b_state
    m = ivm._manifest()
    da = ivm._prep_delta(_df(spark, [(5, "a5x")], ["k", "av"]))
    buckets = [r[0] for r in da.select("__bucket").distinct().collect()]
    assert len(buckets) == 1
    pruned = ivm._read_store(
        spark, "b_state", m["segments"]["b_state"], buckets, m["buckets"]["b_state"]
    )
    files = pruned.inputFiles()
    assert files, "pruned read found no files"
    assert all(f"__bucket={buckets[0]}" in f for f in files), files
    # and the full store spans more buckets than the pruned read
    all_files = ivm._read_store(spark, "b_state", m["segments"]["b_state"]).inputFiles()
    assert len(all_files) > len(files)


def test_compaction_preserves_view_and_shrinks_segments(spark, ivm):
    for i in range(4):
        ivm.apply(
            spark,
            _df(spark, [(i % 3, f"a{i}", 1)], ["k", "av", _W]),
            _df(spark, [(i % 3, f"b{i}", 1)], ["k", "bv", _W]),
            watermark=i,
        )
    before = _view_counter(ivm.read(spark))
    assert len(ivm._manifest()["segments"]["view"]) > 1
    ivm.compact(spark)
    assert len(ivm._manifest()["segments"]["view"]) == 1
    assert _view_counter(ivm.read(spark)) == before
    # maintenance continues cleanly after compaction
    ivm.apply(spark, _df(spark, [(0, "a0", -1)], ["k", "av", _W]), None, watermark=99)
    after = _view_counter(ivm.read(spark))
    assert all(k[1] != "a0" or v >= 0 for k, v in after.items())


def test_streaming_maintenance_equals_batch_join(spark, tmp_path):
    """Two availableNow file streams (orders-side, customer-side) folded
    through run_streams: the maintained view equals the batch join of all
    files; re-running with no new files is a no-op; late files on either
    side are absorbed incrementally."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    os.makedirs(a_dir), os.makedirs(b_dir)
    sa = StructType([StructField("k", LongType()), StructField("av", StringType())])
    sb = StructType([StructField("k", LongType()), StructField("bv", StringType())])

    def put(d, rows, cols, name):
        spark.createDataFrame(rows, cols).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(d, name)
        )

    put(a_dir, [(1, "a1"), (2, "a2")], sa, "f0")
    put(a_dir, [(3, "a3")], sa, "f1")
    put(b_dir, [(1, "b1"), (3, "b3")], sb, "f0")

    jv = IncrementalJoinView(str(tmp_path / "jv"), join_keys=["k"], n_buckets=8)
    ck = str(tmp_path / "ck")
    # file streams read chunk subdirectories via glob (one dir per chunk)
    a_glob, b_glob = a_dir + "/f*", b_dir + "/f*"
    jv.run_streams(spark, a_glob, b_glob, sa, sb, ck)

    def flat(jvw):
        return sorted((r.k, r.av, r.bv) for r in jvw.read_flat(spark).collect())

    assert flat(jv) == [(1, "a1", "b1"), (3, "a3", "b3")]

    jv.run_streams(spark, a_glob, b_glob, sa, sb, ck)  # nothing new: no-op
    assert flat(jv) == [(1, "a1", "b1"), (3, "a3", "b3")]

    put(b_dir, [(2, "b2")], sb, "f1")       # late B side
    put(a_dir, [(1, "a1x")], sa, "f2")      # more A side
    jv.run_streams(spark, a_glob, b_glob, sa, sb, ck)
    assert flat(jv) == [
        (1, "a1", "b1"),
        (1, "a1x", "b1"),
        (2, "a2", "b2"),
        (3, "a3", "b3"),
    ]


def test_read_flat_raises_on_negative_net_multiplicity(spark, ivm):
    """A retraction with no matching insert leaves a NEGATIVE net weight in
    the view — read() exposes it (so audits can see the corruption) but
    read_flat() must raise instead of emitting phantom rows via a
    descending sequence(1, w)."""
    ivm.apply(spark, _df(spark, [("k1", "a", 1)], ["k", "av", _W]),
              _df(spark, [("k1", "b", 1)], ["k", "bv", _W]), watermark=0)
    # retract the A row twice: net view multiplicity becomes 1 - 2 = -1
    ivm.apply(spark, _df(spark, [("k1", "a", -2)], ["k", "av", _W]), None, watermark=1)
    v = ivm.read(spark)
    assert {r[_W] for r in v.collect()} == {-1}
    with pytest.raises(Exception, match="negative net multiplicity"):
        ivm.read_flat(spark).collect()


def test_read_flat_ok_on_positive_weights(spark, ivm):
    ivm.apply(spark, _df(spark, [("k1", "a", 2)], ["k", "av", _W]),
              _df(spark, [("k1", "b", 1)], ["k", "bv", _W]), watermark=0)
    rows = ivm.read_flat(spark).collect()
    assert len(rows) == 2 and all((r.k, r.av, r.bv) == ("k1", "a", "b") for r in rows)


def test_bucket_pruning_uses_manifest_not_filesystem_probes(spark, ivm, monkeypatch):
    """Pruning decisions must come from the manifest's recorded bucket
    lists alone — per-directory existence probes don't survive object
    stores. Any isdir call during a maintenance step is a failure."""
    ivm.apply(spark, _df(spark, [("k%d" % i, "a", 1) for i in range(20)], ["k", "av", _W]),
              _df(spark, [("k%d" % i, "b", 1) for i in range(20)], ["k", "bv", _W]), watermark=0)

    import blockchain_etl_spark.operators.ivm as ivm_mod

    def no_probe(path):
        raise AssertionError(f"filesystem probe in pruning path: {path}")

    m = ivm._manifest()
    da = ivm._prep_delta(_df(spark, [("k3", "a", 1)], ["k", "av", _W]))
    buckets = [r[0] for r in da.select("__bucket").distinct().collect()]
    monkeypatch.setattr(ivm_mod.os.path, "isdir", no_probe)
    pruned = ivm._read_store(
        spark, "b_state", m["segments"]["b_state"], buckets, m["buckets"]["b_state"]
    )
    files = pruned.inputFiles()
    monkeypatch.undo()
    assert files and all(any(f"__bucket={b}" in f for b in buckets) for f in files)

    # and the full maintenance step still lands correctly
    ivm.apply(spark, _df(spark, [("k3", "a", 1)], ["k", "av", _W]), None, watermark=1)
    v = _view_counter(ivm.read(spark))
    assert v[("k3", "a", "b")] == 2


def test_compact_vacuum_reclaims_unreferenced_segments(spark, ivm):
    import os as _os

    def seg_dirs():
        out = []
        for store in ("a_state", "b_state", "view"):
            base = _os.path.join(ivm.path, store)
            if _os.path.isdir(base):
                out += [(store, e) for e in _os.listdir(base) if e.startswith("seg=")]
        return sorted(out)

    for i in range(4):
        ivm.apply(spark, _df(spark, [(f"k{i}", "a", 1)], ["k", "av", _W]),
                  _df(spark, [(f"k{i}", "b", 1)], ["k", "bv", _W]), watermark=i)
    before = seg_dirs()
    assert len(before) == 12
    view_before = _view_counter(ivm.read(spark))

    ivm.compact(spark)
    # compaction alone leaves the old segments on disk (readers in flight)
    assert len(seg_dirs()) == 15
    removed = ivm.vacuum()
    after = seg_dirs()
    assert len(after) == 3, after
    assert sum(len(v) for v in removed.values()) == 12
    # the view is unchanged and further maintenance still works
    assert _view_counter(ivm.read(spark)) == view_before
    ivm.apply(spark, _df(spark, [("k0", "a", 1)], ["k", "av", _W]), None, watermark=9)
    assert _view_counter(ivm.read(spark))[("k0", "a", "b")] == 2
    # vacuum never touches referenced segments: all remaining dirs are in the manifest
    m = ivm._manifest()
    for store, e in seg_dirs():
        assert int(e.split("=")[1]) in m["segments"][store]


def test_continuous_two_stream_maintenance(spark, tmp_path):
    """Both sides LIVE at once (processingTime trigger), files arriving on
    either side while both queries run, maintenance steps serialized by the
    in-process lock: the final view must equal the batch join, including
    deltas that arrived after the queries started."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    a_dir, b_dir = str(tmp_path / "ca"), str(tmp_path / "cb")
    os.makedirs(a_dir), os.makedirs(b_dir)
    sa = StructType([StructField("k", LongType()), StructField("av", StringType())])
    sb = StructType([StructField("k", LongType()), StructField("bv", StringType())])

    def put(d, rows, schema, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(d, name)
        )

    # seed files before the queries start
    put(a_dir, [(1, "a1"), (2, "a2")], sa, "f0")
    put(b_dir, [(1, "b1")], sb, "f0")

    jv = IncrementalJoinView(str(tmp_path / "cjv"), join_keys=["k"], n_buckets=8)
    queries = jv.run_streams_continuous(
        spark, a_dir + "/f*", b_dir + "/f*", sa, sb, str(tmp_path / "cck"),
        trigger="200 milliseconds",
    )
    try:
        for q in queries:
            q.processAllAvailable()
        # interleaved arrivals WHILE both queries are live
        put(b_dir, [(2, "b2"), (3, "b3")], sb, "f1")
        queries[1].processAllAvailable()
        put(a_dir, [(3, "a3")], sa, "f1")
        put(b_dir, [(1, "b1x")], sb, "f2")
        for q in queries:
            q.processAllAvailable()
        for q in queries:
            assert q.exception() is None
    finally:
        for q in queries:
            q.stop()

    got = sorted((r.k, r.av, r.bv) for r in jv.read_flat(spark).collect())
    assert got == [
        (1, "a1", "b1"),
        (1, "a1", "b1x"),
        (2, "a2", "b2"),
        (3, "a3", "b3"),
    ], got


def test_continuous_streams_recover_from_restart(spark, tmp_path):
    """Stop both live queries, add files on both sides, restart from the
    same checkpoints: the view must absorb exactly the new files once
    (checkpoint offsets + per-side watermarks), ending ≡ batch join."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    a_dir, b_dir = str(tmp_path / "ra"), str(tmp_path / "rb")
    os.makedirs(a_dir), os.makedirs(b_dir)
    sa = StructType([StructField("k", LongType()), StructField("av", StringType())])
    sb = StructType([StructField("k", LongType()), StructField("bv", StringType())])

    def put(d, rows, schema, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(d, name)
        )

    put(a_dir, [(1, "a1")], sa, "f0")
    put(b_dir, [(1, "b1")], sb, "f0")

    jv = IncrementalJoinView(str(tmp_path / "rjv"), join_keys=["k"], n_buckets=8)
    ck = str(tmp_path / "rck")
    queries = jv.run_streams_continuous(
        spark, a_dir + "/f*", b_dir + "/f*", sa, sb, ck, trigger="200 milliseconds"
    )
    try:
        for q in queries:
            q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()

    # files arrive while nothing is running
    put(a_dir, [(2, "a2")], sa, "f1")
    put(b_dir, [(2, "b2")], sb, "f1")

    queries = jv.run_streams_continuous(
        spark, a_dir + "/f*", b_dir + "/f*", sa, sb, ck, trigger="200 milliseconds"
    )
    try:
        for q in queries:
            q.processAllAvailable()
        for q in queries:
            assert q.exception() is None
    finally:
        for q in queries:
            q.stop()

    got = sorted((r.k, r.av, r.bv) for r in jv.read_flat(spark).collect())
    assert got == [(1, "a1", "b1"), (2, "a2", "b2")], got


def test_compact_with_fully_cancelled_store_is_readable(spark, ivm):
    """A store whose rows all cancel must compact to NO segment (a
    partitioned write of zero rows leaves a file-less dir that breaks
    later reads), and reads/maintenance must keep working."""
    ivm.apply(spark, _df(spark, [("k1", "a", 1)], ["k", "av", _W]),
              _df(spark, [("k1", "b", 1)], ["k", "bv", _W]), watermark=0)
    ivm.apply(spark, _df(spark, [("k1", "a", -1)], ["k", "av", _W]), None, watermark=1)
    ivm.compact(spark)
    m = ivm._manifest()
    assert m["segments"]["a_state"] == [], m   # fully cancelled
    assert m["segments"]["view"] == [], m      # join cancelled too
    assert m["segments"]["b_state"], m
    assert ivm.read(spark) is None
    assert ivm.read(spark, "b_state") is not None
    # maintenance continues: a fresh A row re-joins the surviving B state
    ivm.apply(spark, _df(spark, [("k1", "a2", 1)], ["k", "av", _W]), None, watermark=2)
    assert _view_counter(ivm.read(spark)) == {("k1", "a2", "b"): 1}


def test_legacy_manifest_without_bucket_lists_still_joins(spark, ivm):
    """Pre-bucket-recording manifests (segments but no 'buckets' key) must
    not be treated as empty by the pruned read — that would silently drop
    state from every delta join."""
    import json as _json

    ivm.apply(spark, _df(spark, [(k, f"a{k}", 1) for k in range(8)], ["k", "av", _W]),
              _df(spark, [(k, f"b{k}", 1) for k in range(8)], ["k", "bv", _W]),
              watermark=0)
    # strip the bucket lists, as an old-version manifest would look
    m = ivm._manifest()
    del m["buckets"]
    with open(ivm._manifest_path, "w") as f:
        _json.dump(m, f)
    # a delta against the legacy state must still find its join partners
    ivm.apply(spark, _df(spark, [(3, "a3x", 1)], ["k", "av", _W]), None, watermark=1)
    got = _view_counter(ivm.read(spark))
    assert got[(3, "a3x", "b3")] == 1, got


def test_driver_write_cap_overflow_falls_back(spark, tmp_path, monkeypatch):
    """A delta past the arrowio cap must take the distributed writer and
    still commit the identical state."""
    import blockchain_etl_spark.functions.arrowio as aio

    monkeypatch.setattr(aio, "_DRIVER_ROWS_CAP", 1)
    # the cap must bite at call time (a def-time default would make this
    # test vacuous): a 3-row frame overflows cap=1 and returns None
    assert (
        aio.collect_arrow_capped(
            spark.createDataFrame([(1,), (2,), (3,)], ["x"])
        )
        is None
    )
    v = IncrementalJoinView(str(tmp_path / "jv"), join_keys=["k"], n_buckets=4)
    dfa = spark.createDataFrame(
        [("k1", "a1", 1), ("k2", "a2", 1), ("k3", "a3", 1)], ["k", "av", _W]
    )
    dfb = spark.createDataFrame([("k2", "b2", 1)], ["k", "bv", _W])
    assert v.apply(spark, dfa, dfb, watermark=0)
    got = _view_counter(v.read(spark))
    assert got == {("k2", "a2", "b2"): 1}
