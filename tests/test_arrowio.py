"""The lane rule for maintained-state writes (functions/arrowio.py): the
driver lane must be read-path-identical to the distributed writer for
every writer that takes the rule, preserve the _SUCCESS chunk-commit
protocol, and hand frames over its row or byte bound to the distributed
lane."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from blockchain_etl_spark.functions.arrowio import write_parquet_driver
from blockchain_etl_spark.operators.merge import ParquetMergeTarget, merge_latest
from blockchain_etl_spark.session import gate_shuffle


def test_arrow_write_roundtrips_values_and_schema(spark, tmp_path):
    df = spark.range(0, 100).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("s"),
        (F.col("id") * 1.5).alias("d"),
        F.when(F.col("id") % 3 == 0, F.col("id")).alias("nullable_long"),
    )
    d = str(tmp_path / "arrow")
    assert write_parquet_driver(df, d)
    back = spark.read.parquet(d)
    assert [(f.name, f.dataType) for f in back.schema.fields] == [
        (f.name, f.dataType) for f in df.schema.fields
    ]
    assert sorted(back.collect(), key=str) == sorted(df.collect(), key=str)
    assert not os.path.exists(os.path.join(d, "_SUCCESS"))


def test_arrow_write_success_marker_and_overwrite(spark, tmp_path):
    d = str(tmp_path / "chunk")
    assert write_parquet_driver(spark.range(0, 5), d, success_marker=True)
    assert os.path.exists(os.path.join(d, "_SUCCESS"))
    # overwrite replaces prior contents entirely
    assert write_parquet_driver(spark.range(0, 3), d, success_marker=True)
    back = spark.read.parquet(d)
    assert back.count() == 3


def test_arrow_miss_falls_back_to_distributed_writer(spark, tmp_path, monkeypatch):
    """The Arrow-miss fallback contract: a schema that does not convert
    to Arrow (CalendarIntervalType) returns False from
    write_parquet_driver WITHOUT touching the target directory, and a
    merge whose Arrow write misses lands in the distributed writer with
    identical committed state (a miss silently changes the write PATH,
    never the rows)."""
    # leg 1: a REAL conversion miss on the real function
    iv = spark.range(0, 7).selectExpr(
        "id AS k", "make_interval(0, 0, 0, CAST(id AS INT)) AS iv"
    )
    d = str(tmp_path / "miss")
    assert write_parquet_driver(iv, d) is False
    assert not os.path.exists(d)  # a miss writes NOTHING

    # leg 2: caller routing on a miss — force the miss (no parquet-
    # writable type fails Arrow conversion in this Spark build, so the
    # real-schema miss can't drive the caller end-to-end) and assert
    # the gate-scoped merge falls through to the distributed writer
    import blockchain_etl_spark.functions.arrowio as arrowio

    monkeypatch.setattr(
        arrowio, "write_parquet_driver", lambda *a, **k: False
    )
    df = spark.range(0, 7).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t = ParquetMergeTarget(str(tmp_path / "miss_target"))
    t.merge_with(
        spark, df,
        lambda tg, u: merge_latest(tg, u, keys=["k"], order=["v"]),
        watermark=1,
    )
    files = os.listdir(os.path.join(str(tmp_path / "miss_target"), "v=1"))
    assert "_SUCCESS" in files  # distributed commit protocol ran
    monkeypatch.undo()
    t_ref = ParquetMergeTarget(str(tmp_path / "ref_target"))
    t_ref.merge_with(
        spark, df,
        lambda tg, u: merge_latest(tg, u, keys=["k"], order=["v"]),
        watermark=1,
    )
    assert sorted(t.read(spark).collect(), key=str) == sorted(
        t_ref.read(spark).collect(), key=str
    )
    assert t.current_version() == 1 and t.watermark() == 1


def test_rows_cap_falls_back_to_distributed_writer(spark, tmp_path, monkeypatch):
    """A frame that overflows _DRIVER_ROWS_CAP is not for the driver
    lane: write_parquet_driver must refuse (False) so the caller keeps
    the distributed writer — the bound enforced structurally, not by
    convention."""
    import blockchain_etl_spark.functions.arrowio as arrowio

    monkeypatch.setattr(arrowio, "_DRIVER_ROWS_CAP", 50)
    big = spark.range(0, 51).select(F.col("id").alias("k"))
    ok = spark.range(0, 50).select(F.col("id").alias("k"))
    d_big, d_ok = str(tmp_path / "big"), str(tmp_path / "ok")
    assert arrowio.write_parquet_driver(big, d_big) is False
    assert arrowio.write_parquet_driver(ok, d_ok) is True
    assert not os.path.exists(d_big)
    assert spark.read.parquet(d_ok).count() == 50


def test_gate_shuffle_restores_confs_when_pin_fails(spark, monkeypatch):
    """If conf pinning raises mid-loop, the latch must clear and every
    already-pinned conf must be restored — otherwise the session keeps
    codegen/AQE half-disabled and every later gate raises 'not
    reentrant' (round-13 hardening of the session-global override)."""
    from blockchain_etl_spark import session as sess

    keys = [
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled",
        "spark.sql.codegen.wholeStage",
    ]
    before = {k: spark.conf.get(k) for k in keys}
    real_set = spark.conf.set
    calls = {"n": 0}

    def boom(k, v):
        calls["n"] += 1
        if calls["n"] == 3:  # fail mid-pin, after two keys are set
            raise RuntimeError("injected conf failure")
        real_set(k, v)

    monkeypatch.setattr(spark.conf, "set", boom)
    try:
        with gate_shuffle(spark):
            raise AssertionError("gate body must not run")
    except RuntimeError as exc:
        assert "injected conf failure" in str(exc)
    monkeypatch.undo()
    assert {k: spark.conf.get(k) for k in keys} == before
    assert not sess._GATE_SHUFFLE_ACTIVE
    # and the session is NOT locked out: a later gate enters cleanly
    with gate_shuffle(spark):
        assert sess._GATE_SHUFFLE_ACTIVE
    assert not sess._GATE_SHUFFLE_ACTIVE


def test_gate_and_non_gate_merge_sequences_interleave(spark, tmp_path, monkeypatch):
    """A target merged inside a gate scope (its confs pinned) on the
    driver lane must keep merging cleanly outside one on Spark's writer,
    and back: versions, watermark and rows all agree."""
    t = ParquetMergeTarget(str(tmp_path / "mixed"))

    def upd(lo, hi, wm, gated):
        df = spark.range(lo, hi).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
        if gated:
            with gate_shuffle(spark):
                t.merge_with(
                    spark, df,
                    lambda tg, u: merge_latest(tg, u, keys=["k"], order=["v"]),
                    watermark=wm,
                )
        else:
            _force_distributed(monkeypatch)
            t.merge_with(
                spark, df,
                lambda tg, u: merge_latest(tg, u, keys=["k"], order=["v"]),
                watermark=wm,
            )
            monkeypatch.undo()

    upd(0, 5, 1, gated=True)
    upd(5, 10, 2, gated=False)
    upd(10, 12, 3, gated=True)
    assert t.current_version() == 3
    assert t.watermark() == 3
    assert t.read(spark).count() == 12
    assert _lanes(os.path.join(str(tmp_path / "mixed"), "v=2")) == {"distributed"}
    assert _lanes(os.path.join(str(tmp_path / "mixed"), "v=3")) == {"driver"}


def test_gate_scoped_chunk_write_keeps_commit_protocol(spark, tmp_path, monkeypatch):
    """A DocIngest chunk write on the driver lane inside a gate scope
    must still leave the _SUCCESS marker _complete_chunks keys on
    (regression: the first Arrow-write cut dropped it and every chunk
    became invisible crash debris, corpus watermark -1), and the lake
    must keep working on Spark's writer outside the gate afterwards."""
    from blockchain_etl_spark.streaming.docs import DocIngest

    docs = spark.range(0, 40).selectExpr(
        "id AS doc_id",
        "concat('alpha bravo charlie delta echo foxtrot golf hotel india "
        "juliet kilo lima mike november oscar papa word', CAST(id AS STRING),"
        " ' quebec romeo sierra tango uniform victor whiskey xray yankee "
        "zulu one two three four five six seven eight nine ten') AS text",
    )
    ing = DocIngest(str(tmp_path / "lake"))
    with gate_shuffle(spark):
        ing.process_batch(docs, 1)
    assert ing._complete_chunks() == [1]
    chunk = os.path.join(str(tmp_path / "lake"), "docs", "chunk=1")
    files = sorted(os.listdir(chunk))
    assert files == ["_SUCCESS", "part-00000.parquet"]
    assert ing.plane_watermarks()["corpus_chunks"] == 1
    rep = ing.audit()
    assert rep["consistent"], rep
    # and the lake keeps working OUTSIDE the gate, on the other lane
    _force_distributed(monkeypatch)
    ing.process_batch(
        docs.selectExpr("doc_id + 100 AS doc_id", "concat(text, ' more') AS text"),
        2,
    )
    monkeypatch.undo()
    assert _lanes(os.path.join(str(tmp_path / "lake"), "docs", "chunk=2")) == {"distributed"}
    assert ing._complete_chunks() == [1, 2]
    assert ing.read_corpus(spark).count() == 80


def test_fast_count_equals_spark_count(spark, tmp_path, monkeypatch):
    """Footer-based fast_count must equal read().count() for BOTH write
    lanes (one driver Arrow file, or Spark part files), and
    corpus_row_count must equal read_corpus().count() — the contract the
    zero-job audit report rests on."""
    from blockchain_etl_spark.streaming.docs import DocIngest

    t = ParquetMergeTarget(str(tmp_path / "t"))
    assert t.fast_count() is None
    df = spark.range(0, 123).select(F.col("id").alias("k"), F.col("id").alias("v"))
    t.merge_with(  # v=1 via the driver Arrow writer
        spark, df, lambda tg, u: merge_latest(tg, u, keys=["k"], order=["v"]),
        watermark=1,
    )
    assert t.fast_count() == t.read(spark).count() == 123
    # v=2 via the distributed writer (multiple part files)
    _force_distributed(monkeypatch)
    t.merge_with(
        spark,
        spark.range(0, 200).select(F.col("id").alias("k"), F.col("id").alias("v")),
        lambda tg, u: merge_latest(tg, u, keys=["k"], order=["v"]),
        watermark=2,
    )
    assert t.fast_count() == t.read(spark).count() == 200
    assert _lanes(str(tmp_path / "t")) == {"driver", "distributed"}
    monkeypatch.undo()

    docs = spark.range(0, 60).selectExpr(
        "id AS doc_id",
        "concat('alpha bravo charlie delta echo foxtrot golf hotel india "
        "juliet kilo lima mike november oscar papa word', CAST(id AS STRING),"
        " ' quebec romeo sierra tango uniform victor whiskey xray yankee "
        "zulu one two three four five six seven eight nine ten') AS text",
    )
    ing = DocIngest(str(tmp_path / "lake"))
    _force_distributed(monkeypatch)
    ing.process_batch(docs.filter(F.col("doc_id") < 30), 1)
    monkeypatch.undo()
    ing.process_batch(docs.filter(F.col("doc_id") >= 30), 2)
    assert ing.corpus_row_count() == ing.read_corpus(spark).count() == 60


# -- the lane rule, writer by writer ----------------------------------------


def _force_distributed(monkeypatch):
    """Route every state write to Spark's writer: no frame (not even an
    empty one) fits a driver bound of 0 rows and -1 bytes."""
    import blockchain_etl_spark.functions.arrowio as arrowio

    monkeypatch.setattr(arrowio, "_DRIVER_ROWS_CAP", 0)
    monkeypatch.setattr(arrowio, "_DRIVER_BYTES_CAP", -1)


def _lanes(root: str) -> set:
    """The lanes that wrote the parquet files under ``root``: the driver
    lane writes exactly ``part-00000.parquet``, Spark's writer names its
    files ``part-00000-<uuid>...``."""
    return {
        "driver" if name == "part-00000.parquet" else "distributed"
        for _, _, files in os.walk(root)
        for name in files
        if name.endswith(".parquet")
    }


def _rows(df) -> list:
    return [] if df is None else sorted(map(tuple, df.collect()), key=repr)


def _schema(df):
    return None if df is None else [(f.name, f.dataType) for f in df.schema.fields]


def _kv(spark, lo, hi, mult=10):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") * mult).alias("v"),
        F.when(F.col("id") % 2 == 0, F.concat(F.lit("s"), F.col("id").cast("string"))).alias("c"),
    )


def _run_merge(spark, root, step_lane, changelog):
    t = ParquetMergeTarget(root)
    keys = ["k"] if changelog else None
    for wm, (lo, hi, mult) in enumerate([(0, 6, 10), (4, 9, 20), (8, 10, 30)], 1):
        step_lane(wm)
        t.merge(
            spark, _kv(spark, lo, hi, mult), keys=["k"], order=["v"],
            coalesce_cols=["c"], watermark=wm, changelog_keys=keys,
        )
    cur = t.read(spark)
    out = {
        "rows": _rows(cur), "schema": _schema(cur), "versions": t.versions(),
        "watermark": t.watermark(),
    }
    if changelog:
        out["changelog"] = [_rows(t.read_changelog(spark, v)) for v in t.versions()]
    return out


def _run_doc_chunks(spark, root, step_lane):
    from blockchain_etl_spark.streaming.docs import DocIngest

    docs = spark.range(0, 40).selectExpr(
        "id AS doc_id",
        "concat('alpha bravo charlie delta echo foxtrot golf hotel india "
        "juliet kilo lima mike november oscar papa word', CAST(id AS STRING),"
        " ' quebec romeo sierra tango uniform victor whiskey xray yankee "
        "zulu one two three four five six seven eight nine ten') AS text",
    )
    ing = DocIngest(root)
    for b in (1, 2):
        step_lane(b)
        ing.process_batch(docs.filter(F.col("doc_id") % 2 == b - 1), b)
    chunk_files = {
        b: sorted(
            f for f in os.listdir(os.path.join(root, "docs", f"chunk={b}"))
            if not f.startswith(".")
        )
        for b in (1, 2)
    }
    corpus = ing.read_corpus(spark)
    return {
        "rows": _rows(corpus), "schema": _schema(corpus),
        "versions": ing._complete_chunks(), "watermark": ing.plane_watermarks(),
        # the commit protocol _complete_chunks keys on, in either lane
        "success": all("_SUCCESS" in fs for fs in chunk_files.values()),
    }


_IVM_STEPS = [
    ([("k1", "a1", 1), ("k2", "a2", 2)], [("k1", "b1", 1)]),
    ([("k1", "a1", -1), ("k3", "a3", 1)], [("k2", "b2", 1), ("k3", "b3", 1)]),
    (None, [("k3", "b3", -1)]),
]


def _ivm_deltas(spark, da, db):
    return (
        spark.createDataFrame(da, ["k", "av", "__w"]) if da else None,
        spark.createDataFrame(db, ["k", "bv", "__w"]) if db else None,
    )


def _run_ivm_view(spark, root, step_lane):
    from blockchain_etl_spark.operators.ivm import IncrementalJoinView

    v = IncrementalJoinView(root, join_keys=["k"], n_buckets=8)
    for wm, (da, db) in enumerate(_IVM_STEPS):
        step_lane(wm)
        v.apply(spark, *_ivm_deltas(spark, da, db), watermark=wm)
    m = v._manifest()
    view = v.read(spark)
    return {
        "rows": _rows(view), "schema": _schema(view),
        "versions": (m["segments"], m["buckets"]), "watermark": m["watermarks"],
    }


def _run_ivm_agg(spark, root, step_lane):
    from blockchain_etl_spark.operators.ivm import IncrementalJoinAggregate

    agg = IncrementalJoinAggregate(
        root, join_keys=["k"], group_keys=["grp"], sum_cols=["qty"], n_buckets=4
    )
    steps = [
        ([("k1", "g1", 3, 1), ("k2", "g2", 5, 1)], [("k1", "x", 1), ("k2", "y", 1)]),
        ([("k1", "g1", 3, -1), ("k3", "g1", 7, 1)], [("k3", "z", 1)]),
    ]
    for wm, (da, db) in enumerate(steps):
        step_lane(wm)
        agg.apply(
            spark,
            spark.createDataFrame(da, "k string, grp string, qty long, __w long"),
            spark.createDataFrame(db, "k string, bv string, __w long"),
            watermark=wm,
        )
    out = agg.read(spark)
    return {
        "rows": _rows(out), "schema": _schema(out),
        "versions": agg.agg.versions(), "watermark": agg.agg.watermark(),
    }


def _run_cms(spark, root, step_lane):
    from blockchain_etl_spark.operators.cms_state import CMSTopKState

    st = CMSTopKState(root, n_candidates=8)
    ev = spark.range(0, 300).selectExpr("CAST(id % 37 AS BIGINT) AS user_id")
    for wm in (1, 2):
        step_lane(wm)
        st.fold(spark, ev.filter(f"user_id % 2 = {wm - 1}"), watermark=wm)
    cells, top = st.read_cells(spark), st.topk(spark, 5)
    return {
        "rows": _rows(cells) + _rows(top), "schema": (_schema(cells), _schema(top)),
        "versions": (st.cells.versions(), st.cand.versions()),
        "watermark": (st.cells.watermark(), st.cand.watermark()),
    }


_WRITERS = {
    "merge": lambda spark, root, lane: _run_merge(spark, root, lane, False),
    "merge_changelog": lambda spark, root, lane: _run_merge(spark, root, lane, True),
    "doc_chunks": _run_doc_chunks,
    "ivm_view": _run_ivm_view,
    "ivm_aggregate": _run_ivm_agg,
    "cms": _run_cms,
}


@pytest.mark.parametrize("writer", sorted(_WRITERS))
def test_route_equivalence(spark, tmp_path, monkeypatch, writer):
    """Every writer that takes the lane rule commits the same state
    whichever lane runs: forced distributed, the driver lane the rule
    picks for these small frames, and (merge) the two lanes alternating
    step by step on one target. Identical read-back rows, schema,
    versions and watermarks; each run is checked to have used the lane
    it was meant to."""

    def forced(step):
        _force_distributed(monkeypatch)

    def default(step):
        monkeypatch.undo()

    def alternating(step):
        (forced if step % 2 else default)(step)

    lanes = {"distributed": forced, "driver": default}
    if writer == "merge":
        lanes["alternating"] = alternating
    got = {}
    for name, step_lane in lanes.items():
        root = str(tmp_path / name)
        got[name] = _WRITERS[writer](spark, root, step_lane)
        monkeypatch.undo()
        used = _lanes(root)
        if name == "alternating":
            assert used == {"driver", "distributed"}, used
        else:
            assert name in used, used
            if name == "distributed":
                assert used == {"distributed"}, used
    first = got["distributed"]
    for name, out in got.items():
        assert out == first, (name, out, first)
    assert first["rows"], first
    if writer == "doc_chunks":
        assert first["success"]


def test_wide_rows_under_the_row_cap_fall_back_on_bytes(spark, tmp_path, monkeypatch):
    """Ten rows are far under the row cap, but rows of 50 KB each put the
    frame over the byte bound: the driver lane refuses it and the merge
    lands on Spark's writer with the same rows."""
    import blockchain_etl_spark.functions.arrowio as arrowio

    monkeypatch.setattr(arrowio, "_DRIVER_BYTES_CAP", 100_000)
    wide = spark.range(0, 10).select(
        F.col("id").alias("k"), F.expr("repeat('x', 50000)").alias("v")
    )
    assert arrowio.collect_arrow_capped(wide.limit(1)) is not None
    assert arrowio.collect_arrow_capped(wide) is None
    assert arrowio.write_parquet_driver(wide, str(tmp_path / "d")) is False
    assert not os.path.exists(str(tmp_path / "d"))
    t = ParquetMergeTarget(str(tmp_path / "t"))
    t.merge(spark, wide, keys=["k"], order=["k"], watermark=1)
    assert _lanes(str(tmp_path / "t")) == {"distributed"}
    assert _rows(t.read(spark)) == _rows(wide)


def _no_collect(spark, monkeypatch, refused=lambda df: True):
    """Fail the test if a frame ``refused`` picks is collected."""
    cls = type(spark.range(1))  # the session's DataFrame class
    real = cls.toArrow

    def to_arrow(df):
        assert not refused(df), ("collect attempted", df.columns)
        return real(df)

    monkeypatch.setattr(cls, "toArrow", to_arrow)


def test_target_over_the_byte_bound_runs_no_collect(spark, tmp_path, monkeypatch):
    """A merge whose fold reads a current version already over the byte
    bound (uncompressed, from the parquet footers) skips the driver lane
    without running anything: no Arrow collect, straight to Spark's
    writer."""
    import blockchain_etl_spark.functions.arrowio as arrowio

    t = ParquetMergeTarget(str(tmp_path / "t"))
    t.merge(spark, _kv(spark, 0, 50), keys=["k"], order=["v"], watermark=1)
    v1 = os.path.join(str(tmp_path / "t"), "v=1")
    assert _lanes(v1) == {"driver"}
    state = arrowio.input_bytes(t.read(spark))
    assert state > 0
    monkeypatch.setattr(arrowio, "_DRIVER_BYTES_CAP", state - 1)
    _no_collect(spark, monkeypatch)
    t.merge(spark, _kv(spark, 40, 60), keys=["k"], order=["v"], watermark=2)
    assert _lanes(os.path.join(str(tmp_path / "t"), "v=2")) == {"distributed"}
    monkeypatch.undo()
    assert t.current_version() == 2 and t.read(spark).count() == 60


def test_chunk_batch_over_the_byte_bound_runs_no_collect(spark, tmp_path, monkeypatch):
    """A crawl batch far under the row cap whose file is over the byte
    bound: the chunk write reads the crawl file's size before any job and
    takes Spark's writer, so the chunk rows are never collected on the
    driver. Both ways a batch arrives: read directly (its plan shows the
    file; the chunk frame is a lazy localCheckpoint, whose plan does
    not), and as a streaming microbatch, whose plan shows no file. The
    lake commits the same rows as ever."""
    import blockchain_etl_spark.functions.arrowio as arrowio
    from blockchain_etl_spark.streaming.docs import DocIngest

    crawl = str(tmp_path / "crawl")
    spark.range(0, 40).selectExpr(
        "id AS doc_id",
        "concat('alpha bravo charlie delta echo foxtrot golf hotel india "
        "juliet kilo lima mike november oscar papa word', CAST(id AS STRING),"
        " ' quebec romeo sierra tango uniform victor whiskey xray yankee "
        "zulu one two three four five six seven eight nine ten') AS text",
    ).coalesce(1).write.parquet(crawl)
    batch = spark.read.parquet(crawl)
    monkeypatch.setattr(arrowio, "_DRIVER_BYTES_CAP", arrowio.input_bytes(batch) - 1)
    _no_collect(spark, monkeypatch, refused=lambda df: "text" in df.columns)
    direct = DocIngest(str(tmp_path / "direct"))
    direct.process_batch(batch, 1)
    streamed = DocIngest(str(tmp_path / "streamed"))
    streamed.run_stream(spark, crawl, batch.schema)
    monkeypatch.undo()
    assert len(_rows(batch)) == 40
    for ing in (direct, streamed):
        (b,) = ing._complete_chunks()
        chunk = os.path.join(ing.out_dir, "docs", f"chunk={b}")
        assert _lanes(chunk) == {"distributed"}
        assert "_SUCCESS" in os.listdir(chunk)
        assert _rows(ing.read_corpus(spark)) == _rows(batch)
