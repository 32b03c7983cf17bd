"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow.parquet as pq
import pytest

from perfbench import datagen, run, trace, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _tree_digest(directory: str) -> dict[str, str]:
    return {
        name: hashlib.sha256(open(os.path.join(directory, name), "rb").read()).hexdigest()
        for name in sorted(os.listdir(directory))
    }


def test_same_seed_gives_identical_follower_archives(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    datagen.write_block_archives(str(a), 5, 60, 20)
    datagen.write_block_archives(str(b), 5, 60, 20)
    datagen.write_block_archives(str(c), 6, 60, 20)
    assert sorted(os.listdir(a)) == ["blocks_1_20.jsonl", "blocks_21_40.jsonl", "blocks_41_60.jsonl"]
    assert _tree_digest(str(a)) == _tree_digest(str(b))
    assert _tree_digest(str(a)) != _tree_digest(str(c))


def test_same_seed_gives_identical_tables(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    counts = datagen.write_tables(str(a), 5, 0.001)
    datagen.write_tables(str(b), 5, 0.001)
    assert _tree_digest(str(a)) == _tree_digest(str(b))
    assert set(counts) == set(datagen.TABLES)
    assert counts["lineitem"] == 6000 and counts["documents"] == 50
    # the seed changes values, never row counts
    assert datagen.write_tables(str(tmp_path / "c"), 6, 0.001) == counts


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER_UNITS
    assert sorted(workloads.WORKLOADS) == list(run.WORKLOAD_NAMES)
    for w in spec["workloads"]:
        assert w["name"] in workloads.WORKLOADS


def _span(sid, name, start, end, parent=None, **extra):
    return {"id": sid, "name": name, "start": start, "end": end, "parent": parent, "counters": {}, **extra}


def test_per_layer_emits_every_named_metric():
    spans = [
        _span(0, "blockfiles.stream", 0.0, 10.0),
        _span(1, "ingest.batch", 2.0, 9.0, 0, spark={"jobs": 40, "stages": 40, "tasks": 48}),
        _span(2, "writer.parquet", 2.5, 3.0, 1),
        _span(3, "merge.merge_with", 4.0, 6.0, 1, spark={"jobs": 5}),
        _span(4, "writer.parquet", 4.5, 5.0, 3),
    ]
    got = run.per_layer(spans, workloads.Follow.step_span)
    assert list(got) == list(run.PER_LAYER_UNITS)
    assert got["blockfiles.gap_s"] == pytest.approx(3.0)
    assert got["ingest.batch_s"] == pytest.approx(7.0)
    assert got["ingest.jobs"] == 40 and got["merge.jobs"] == 5
    assert got["ingest.writes"] == 1  # the merge's own write is not an ingest write
    assert got["plans.jobs"] == 0


def _tiny_query_workload(tmp_path, rows_seen):
    q = workloads.Queries(("q",))
    q.sf_dir = str(tmp_path / "sf")
    datagen.write_tables(q.sf_dir, 1, 0.0001)
    q.oracle = {"q": "SELECT * FROM region"}
    q.rows = {"q": rows_seen}
    ctx = workloads.Context(spark=None, seed=1, work=str(tmp_path), tracer=trace.Tracer("pipelines"))
    ctx.attempted = len(rows_seen)
    return q, ctx


def test_wrong_row_count_raises_error_rate(tmp_path):
    q, ctx = _tiny_query_workload(tmp_path, [5, 5])
    q.finish(ctx, [1.0])
    assert ctx.failed == 0
    q, ctx = _tiny_query_workload(tmp_path, [5, 4])  # one execution returned a row too few
    q.finish(ctx, [1.0])
    assert ctx.failed == 1 and ctx.failed / ctx.attempted == 0.5
    assert "4 rows, oracle 5" in ctx.errors[0]


def test_rows_only_query_must_repeat_its_count(tmp_path):
    q, ctx = _tiny_query_workload(tmp_path, [7, 7, 8])
    q.oracle = {"q": None}
    q.finish(ctx, [1.0])
    assert ctx.failed == 1


def test_tail_reports_percentile_and_sample_count():
    samples = [float(i) for i in range(1, 101)]  # 1..100
    value, pct, n = run.tail(samples)
    assert (value, pct, n) == (90.0, 90.0, 100)  # ten samples (91..100) beyond it
    assert sum(s > value for s in samples) == 10
    value, pct, n = run.tail([float(i) for i in range(40, 0, -1)])
    assert (value, pct, n) == (30.0, 75.0, 40)
    # below 20 samples no percentile at or above the median has ten beyond it
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, "outer", 0.0, 10.0),
        _span(1, "child", 1.0, 4.0, 0),
        _span(2, "child", 3.0, 5.0, 0),  # overlaps the first child
        _span(3, "child", 8.0, 12.0, 0),  # runs past the parent's end
    ]
    st = trace.self_times(spans)
    assert st["outer"]["self_s"] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st["child"]["calls"] == 3


def test_counts_reach_every_enclosing_span():
    tr = trace.Tracer("pipelines")
    tr.enabled = True
    with tr.span("plans.query") as q:
        with tr.span("plans.build") as b:
            tr.count("checkpoints")
        tr.count("checkpoints")
    assert q["counters"] == {"checkpoints": 2} and b["counters"] == {"checkpoints": 1}
    tr.enabled = False
    with tr.span("plans.query") as off:
        tr.count("checkpoints")
    assert off is None and len(tr.spans) == 2


def test_disabled_tracer_keeps_only_durations():
    tr = trace.Tracer("follow")
    assert not tr.enabled
    with tr.span("ingest.batch", status="range") as rec:
        tr.count("checkpoints")
    assert rec is None and tr.spans == []
    tr.enabled = True
    with tr.span("ingest.batch"):
        pass
    assert len(tr.durations["ingest.batch"]) == 2 and len(tr.spans) == 1


class _JavaSeq:
    def __init__(self, items):
        self.items = items

    def mkString(self, sep):
        return sep.join(str(i) for i in self.items)

    def contains(self, x):
        return x in self.items


class _Stage:
    def __init__(self, status, tasks, run_ms):
        self._status, self._tasks, self._run_ms = status, tasks, run_ms

    def status(self):
        return type("StageStatus", (), {"toString": lambda _: self._status})()

    def numCompleteTasks(self):
        return self._tasks

    def executorRunTime(self):
        return self._run_ms

    def shuffleWriteBytes(self):
        return 10

    def inputBytes(self):
        return 100

    def outputBytes(self):
        return 1000


class _Job:
    def __init__(self, stage_ids, tags=()):
        self._stage_ids, self._tags = stage_ids, tags

    def stageIds(self):
        return _JavaSeq(self._stage_ids)

    def jobTags(self):
        return _JavaSeq(list(self._tags))


class _AtomicInteger:
    def __init__(self, v):
        self.v = v

    def get(self):
        return self.v


def _fake_counters(next_job):
    jobs = {3: _Job([5, 6]), 4: _Job([7, 8], tags=("t",)), 5: _Job([9])}
    stages = {5: _Stage("COMPLETE", 4, 1500), 6: _Stage("SKIPPED", 0, 0), 7: _Stage("COMPLETE", 2, 500),
              8: _Stage("COMPLETE", 1, 250), 9: _Stage("COMPLETE", 3, 0)}
    c = trace.SparkCounters.__new__(trace.SparkCounters)
    c._dag = type("Dag", (), {"nextJobId": lambda self: next_job})()
    c._bus = type("Bus", (), {"waitUntilEmpty": lambda self, ms: True})()
    c._store = type(
        "Store", (), {"job": lambda self, j: jobs[j], "lastStageAttempt": lambda self, s: stages[s]}
    )()
    return c


def test_spark_counters_read_a_job_range():
    # the scheduler's next job id arrives as an int or as its AtomicInteger
    assert _fake_counters(7).mark() == 7 and _fake_counters(_AtomicInteger(7)).mark() == 7
    c = _fake_counters(6)
    got = c.between(3, 5)  # jobs 3 and 4; the skipped stage 6 does not count
    assert got["jobs"] == 2 and got["stages"] == 3 and got["tasks"] == 7
    assert got["executor_run_s"] == pytest.approx(2.25) and got["output_bytes"] == 3000
    tagged = c.between(3, 6, tag="t")  # only job 4 carries the tag
    assert tagged["jobs"] == 1 and tagged["stages"] == 2 and tagged["tasks"] == 3


def test_rows_hash_ignores_row_and_set_order():
    a = [{"k": 1, "roles": ["payer", "payee"]}, {"k": 2, "roles": []}]
    b = [{"k": 2, "roles": []}, {"k": 1, "roles": ["payee", "payer"]}]
    assert workloads._rows_hash(a) == workloads._rows_hash(b)
    assert workloads._rows_hash(a) != workloads._rows_hash(a[:1])


def test_generated_tables_keep_the_test_data_schema(tmp_path):
    datagen.write_tables(str(tmp_path), 1, 0.001)
    schema = pq.read_schema(str(tmp_path / "lineitem.parquet"))
    assert [f.name for f in schema] == [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
    ]
    assert str(pq.read_schema(str(tmp_path / "events.parquet")).field("ts").type) == "timestamp[us]"
    emb = pq.read_table(str(tmp_path / "embeddings.parquet")).column("embedding").to_pylist()
    assert {len(v) for v in emb} == {datagen.EMBED_DIM}
