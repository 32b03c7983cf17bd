"""Persisted IVF-PQ index gates: recall against exact ground truth,
partition pruning (a probe opens only probed cell directories), and build
determinism (same corpus in → identical codes out)."""

from __future__ import annotations

import shutil

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window
from pyspark.sql.functions import broadcast, col

from blockchain_etl_spark.operators.ivfpq_index import _FP, IVFPQIndex
from blockchain_etl_spark.plans.similarity import _PQ_SUB_D2

SF01 = "/root/testdata/sf0.01"
N_Q = 10
K = 5


def _emb(spark):
    return spark.read.parquet(f"{SF01}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def _queries(spark):
    return _emb(spark).filter(col("vec_id") < N_Q).select(
        col("vec_id").alias("qid"), "embedding"
    )


def _exact_topk(spark):
    """Ground truth: exact fixed-point squared-L2 top-k (broadcast queries,
    corpus streams)."""
    vf = _emb(spark).withColumn("vf", F.expr(_FP)).select("vec_id", "vf")
    qv = vf.filter(col("vec_id") < N_Q).select(
        col("vec_id").alias("qid"), col("vf").alias("qvf")
    )
    pairs = vf.join(broadcast(qv)).filter(col("vec_id") != col("qid")).select(
        "qid", "vec_id", F.expr(_PQ_SUB_D2.format(a="vf", b="qvf")).alias("d2")
    )
    w = Window.partitionBy("qid").orderBy(col("d2"), col("vec_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(col("rank") <= K)
        .select("qid", "vec_id")
    )


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """``built(path, below)``: an IVFPQIndex at ``path``, a copy of the
    4-cell index over the sf0.001 vectors with vec_id < ``below``. Each distinct
    build runs once per module; the index keeps every path relative to
    its root, so a copy serves as the original."""
    root = tmp_path_factory.mktemp("pq_built")
    cache = {}

    def copy(path, below):
        if below not in cache:
            cache[below] = str(root / f"below_{below}")
            emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
            IVFPQIndex(cache[below]).build(
                spark, emb.select("vec_id", "embedding").filter(col("vec_id") < below),
                n_cells=4,
            )
        shutil.copytree(cache[below], str(path))
        return IVFPQIndex(str(path))

    return copy


def test_query_recall_and_pruning(spark, tmp_path):
    idx = IVFPQIndex(str(tmp_path / "idx"))
    idx.build(spark, _emb(spark), n_cells=8)

    got = idx.query(spark, _queries(spark), k=K, probes=4, shortlist=50)
    rows = got.collect()
    assert {r.qid for r in rows} == set(range(N_Q))
    for qid in range(N_Q):
        ranks = sorted(r.rank for r in rows if r.qid == qid)
        assert ranks == list(range(1, K + 1))

    truth = {(r.qid, r.vec_id) for r in _exact_topk(spark).collect()}
    hits = sum(1 for r in rows if (r.qid, r.neighbor_id) in truth)
    recall = hits / (N_Q * K)
    # probes=4/8 cells caps attainable recall at the cell-coverage rate;
    # the shortlist rerank recovers the rest. Floor set below measured.
    assert recall >= 0.35, recall

    # full-probe (8/8 cells) must beat the pruned probe and clear the
    # whole-corpus ADC+rerank level
    full = idx.query(spark, _queries(spark), k=K, probes=8, shortlist=50)
    full_hits = sum(
        1 for r in full.collect() if (r.qid, r.neighbor_id) in truth
    )
    assert full_hits / (N_Q * K) >= max(recall, 0.6), (full_hits, hits)

    # partition pruning: probing 2 cells opens strictly fewer files
    assert idx.pruned_files(spark, [0, 1]) < idx.pruned_files(
        spark, list(range(8))
    )


def test_build_is_deterministic(spark, tmp_path):
    a = IVFPQIndex(str(tmp_path / "a"))
    b = IVFPQIndex(str(tmp_path / "b"))
    emb = _emb(spark).filter(col("vec_id") < 200)
    a.build(spark, emb, n_cells=4)
    b.build(spark, emb, n_cells=4)

    def codes(idx):
        df = spark.read.option("basePath", idx._p("codes")).parquet(idx._p("codes"))
        return {(r.vec_id, r.cell, tuple(r.codes)) for r in df.collect()}

    assert codes(a) == codes(b)


def test_rerank_store_agrees_with_codes_partitioning(spark, tmp_path):
    idx = IVFPQIndex(str(tmp_path / "idx"))
    emb = _emb(spark).filter(col("vec_id") < 200)
    idx.build(spark, emb, n_cells=4)
    c = spark.read.option("basePath", idx._p("codes")).parquet(idx._p("codes"))
    v = spark.read.option("basePath", idx._p("vectors")).parquet(idx._p("vectors"))
    cc = {(r.vec_id, r.cell) for r in c.select("vec_id", "cell").collect()}
    vv = {(r.vec_id, r.cell) for r in v.select("vec_id", "cell").collect()}
    assert cc == vv and len(cc) == 200


def test_crashed_rebuild_serves_previous_generation(spark, tmp_path, built):
    """A rebuild that dies before the generation pointer flips (e.g. after
    writing new centroids/codebook but before the stores complete) must
    leave the previous index serving identical results — never a hybrid of
    new and old stores."""
    from pyspark.sql.functions import col as _col

    from blockchain_etl_spark.operators.ivfpq_index import IVFPQIndex

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select("vec_id", "embedding")
    half = emb.filter(_col("vec_id") < 40)
    idx = built(tmp_path / "pq_gen", below=40)

    queries = emb.filter(_col("vec_id") < 5).select(_col("vec_id").alias("qid"), "embedding")
    before = {(r.qid, r.neighbor_id, r.rank) for r in idx.query(spark, queries, k=3, probes=4).collect()}
    assert before

    real = IVFPQIndex._publish_gen
    IVFPQIndex._publish_gen = lambda self, gen: (_ for _ in ()).throw(
        RuntimeError("simulated crash before publish")
    )
    try:
        import pytest as _pytest

        with _pytest.raises(RuntimeError):
            idx.build(spark, emb, n_cells=4)
    finally:
        IVFPQIndex._publish_gen = real

    after = {(r.qid, r.neighbor_id, r.rank) for r in idx.query(spark, queries, k=3, probes=4).collect()}
    assert after == before
    # retried rebuild publishes the full corpus
    idx.build(spark, emb, n_cells=4)
    got = idx.query(spark, queries, k=50, probes=4).collect()
    assert any(r.neighbor_id >= 40 for r in got)


def _seg_dirs_per_cell(spark, idx, store):
    import os

    out = {}
    base = idx._p(store)
    for cell_dir in os.listdir(base):
        if not cell_dir.startswith("cell="):
            continue
        segs = [
            d
            for d in os.listdir(os.path.join(base, cell_dir))
            if d.startswith("seg=")
        ]
        out[int(cell_dir.split("=")[1])] = len(segs)
    return out


def test_upsert_folds_new_vectors_and_supersedes(spark, tmp_path):
    """O(batch) upserts against the frozen quantizers: new ids become
    servable, a re-crawled id's old codes AND old rerank rows are
    staleness-filtered (one hit per (qid, neighbor)), and a replayed
    watermark is a no-op."""
    sf0 = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf0}/embeddings.parquet").select("vec_id", "embedding").cache()
    idx = IVFPQIndex(str(tmp_path / "pq_upsert"))
    idx.build(spark, emb.filter(col("vec_id") < 60), n_cells=4)

    assert idx.upsert(
        spark, emb.filter((col("vec_id") >= 60) & (col("vec_id") < 120)), watermark=1
    )
    # re-crawl vec 7 with vec 90's embedding (plausibly another cell)
    donor = emb.filter(col("vec_id") == 90).select(
        F.lit(7).cast("long").alias("vec_id"), "embedding"
    )
    assert idx.upsert(spark, donor, watermark=2)
    assert not idx.upsert(spark, donor, watermark=2)  # replay skips

    queries = emb.filter(col("vec_id") < 5).union(
        emb.filter(col("vec_id") == 90)
    ).select(col("vec_id").alias("qid"), "embedding")
    got = idx.query(spark, queries, k=100, probes=4, shortlist=500).collect()
    from collections import Counter

    dupes = {
        k: v for k, v in Counter((r.qid, r.neighbor_id) for r in got).items() if v > 1
    }
    assert not dupes, dupes
    assert any(r.neighbor_id >= 60 for r in got), "upserted batch not served"
    # vec 7 now carries vec 90's embedding: exact-rerank distance to qid 90
    # must be 0 (identical fixed-point vectors)
    d7 = [r.d2_fp for r in got if r.qid == 90 and r.neighbor_id == 7]
    assert d7 == [0], d7


def test_pq_compact_folds_segments_bit_identical(spark, tmp_path, built):
    sf0 = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf0}/embeddings.parquet").select("vec_id", "embedding").cache()
    idx = built(tmp_path / "pq_compact", below=50)
    idx.upsert(spark, emb.filter((col("vec_id") >= 50) & (col("vec_id") < 100)), watermark=1)
    idx.upsert(spark, emb.filter((col("vec_id") >= 100) & (col("vec_id") < 150)), watermark=2)
    donor = emb.filter(col("vec_id") == 120).select(
        F.lit(3).cast("long").alias("vec_id"), "embedding"
    )
    idx.upsert(spark, donor, watermark=3)

    queries = emb.filter(col("vec_id") < 8).select(col("vec_id").alias("qid"), "embedding")
    before = {
        (r.qid, r.neighbor_id, r.rank, r.d2_fp)
        for r in idx.query(spark, queries, k=K, probes=4).collect()
    }
    assert any(n > 1 for n in _seg_dirs_per_cell(spark, idx, "codes").values())

    idx.compact(spark)

    after = {
        (r.qid, r.neighbor_id, r.rank, r.d2_fp)
        for r in idx.query(spark, queries, k=K, probes=4).collect()
    }
    assert after == before
    for store in ("codes", "vectors"):
        assert all(n == 1 for n in _seg_dirs_per_cell(spark, idx, store).values()), store
    # replay skips; stream resumes post-compact
    assert not idx.upsert(spark, donor, watermark=3)
    assert idx.upsert(
        spark,
        emb.filter(col("vec_id") == 180).select("vec_id", "embedding"),
        watermark=4,
    )
    got = idx.query(spark, queries, k=300, probes=4, shortlist=500).collect()
    assert any(r.neighbor_id == 180 for r in got)


def test_pq_crashed_compact_serves_old_generation(spark, tmp_path, built):
    sf0 = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf0}/embeddings.parquet").select("vec_id", "embedding").cache()
    idx = built(tmp_path / "pq_compact_crash", below=50)
    idx.upsert(spark, emb.filter((col("vec_id") >= 50) & (col("vec_id") < 90)), watermark=1)

    queries = emb.filter(col("vec_id") < 5).select(col("vec_id").alias("qid"), "embedding")
    before = {
        (r.qid, r.neighbor_id, r.rank, r.d2_fp)
        for r in idx.query(spark, queries, k=3, probes=4).collect()
    }

    real = IVFPQIndex._publish_gen
    IVFPQIndex._publish_gen = lambda self, gen: (_ for _ in ()).throw(
        RuntimeError("simulated crash before pointer flip")
    )
    try:
        import pytest as _pytest

        with _pytest.raises(RuntimeError):
            idx.compact(spark)
    finally:
        IVFPQIndex._publish_gen = real

    mid = {
        (r.qid, r.neighbor_id, r.rank, r.d2_fp)
        for r in idx.query(spark, queries, k=3, probes=4).collect()
    }
    assert mid == before
    idx.compact(spark)
    after = {
        (r.qid, r.neighbor_id, r.rank, r.d2_fp)
        for r in idx.query(spark, queries, k=3, probes=4).collect()
    }
    assert after == before


def test_pq_compact_with_fully_superseded_cell_still_serves(spark, tmp_path, built):
    """Same emptied-cell scenario as the IVF index: after every member of
    a cell is re-crawled elsewhere and compact() drops the empty
    directory, probes ranking that centroid must not crash."""
    sf0 = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf0}/embeddings.parquet").select("vec_id", "embedding").cache()
    idx = built(tmp_path / "pq_emptycell", below=40)

    inv = idx._inventory().read(spark)
    by_cell = {}
    for r in inv.collect():
        by_cell.setdefault(r.cell, []).append(r.vec_id)
    victim = min(by_cell, key=lambda c: len(by_cell[c]))
    donor_cell = max(by_cell, key=lambda c: len(by_cell[c]))
    donor_id = sorted(by_cell[donor_cell])[0]
    donor_emb = emb.filter(col("vec_id") == donor_id)
    moved = None
    for vid in by_cell[victim]:
        m = donor_emb.select(F.lit(vid).cast("long").alias("vec_id"), "embedding")
        moved = m if moved is None else moved.unionByName(m)
    assert idx.upsert(spark, moved, watermark=1)
    idx.compact(spark)

    import os

    assert not os.path.isdir(os.path.join(idx._p("codes"), f"cell={victim}"))
    queries = emb.filter(col("vec_id") < 5).select(col("vec_id").alias("qid"), "embedding")
    got = idx.query(spark, queries, k=3, probes=4).collect()
    assert {r.qid for r in got} == set(range(5))
    assert idx.pruned_files(spark, [victim]) == 0


def test_pq_delete_tombstones_vectors(spark, tmp_path, built):
    sf0 = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf0}/embeddings.parquet").select("vec_id", "embedding").cache()
    idx = built(tmp_path / "pq_delete", below=40)

    assert idx.delete(spark, spark.createDataFrame([(7,)], "vec_id long"))
    queries = emb.filter(col("vec_id") < 5).select(col("vec_id").alias("qid"), "embedding")
    got = idx.query(spark, queries, k=200, probes=4, shortlist=500).collect()
    assert all(r.neighbor_id != 7 for r in got)
    idx.compact(spark)
    for store in ("codes", "vectors"):
        d = spark.read.option("basePath", idx._p(store)).parquet(idx._p(store))
        assert d.filter(col("vec_id") == 7).count() == 0, store
    assert idx.upsert(
        spark, emb.filter(col("vec_id") == 7).select("vec_id", "embedding"), watermark=50
    )
    got2 = idx.query(spark, queries, k=200, probes=4, shortlist=500).collect()
    assert any(r.neighbor_id == 7 for r in got2)


def test_pq_compact_after_all_tombstoned_skips_and_recovers(spark, tmp_path):
    """All-tombstoned compact must skip (see IVFIndex twin): no
    part-file-less generation, empty queries, normal lifecycle after a
    re-upsert."""
    emb = _emb(spark)
    small = emb.filter(col("vec_id") < 30)
    idx = IVFPQIndex(str(tmp_path / "pq_all_gone"))
    idx.build(spark, small, n_cells=4)
    gen = idx._gen()
    assert idx.delete(spark, small.select("vec_id"))
    idx.compact(spark)
    assert idx._gen() == gen
    idx.compact(spark)  # second compact must not crash either
    assert idx.query(spark, _queries(spark), k=3, probes=4).count() == 0
    assert idx.upsert(spark, small.filter(col("vec_id") < 10), watermark=50)
    idx.compact(spark)
    assert idx._gen() == gen + 1
    assert idx.query(spark, _queries(spark), k=5, probes=4).count() > 0


def test_pq_recall_drift_lifecycle(spark, tmp_path):
    """Recall decay + rebuild trigger for the compressed index: both
    frozen quantizers (coarse cells AND the PQ codebook) go stale under a
    drifted upsert stream; rebuild refreshes both and restores recall."""
    sf0 = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf0}/embeddings.parquet").select(
        "vec_id", "embedding"
    ).cache()
    drifted_rows = emb.filter(col("vec_id") < 300).select(
        (col("vec_id") + 10000).alias("vec_id"),
        F.expr(
            "transform(sequence(0,63), d -> CAST(conv(substring(md5(concat("
            "CAST(vec_id AS STRING),':',CAST(d AS STRING))),1,6),16,10) AS DOUBLE)"
            "/16777216.0 - 0.5)"
        ).cast("array<float>").alias("embedding"),
    )
    idx = IVFPQIndex(str(tmp_path / "pq_drift"))
    idx.build(spark, emb.filter(col("vec_id") < 300), n_cells=8)
    built = idx.recall_probe(spark, k=5, probes=2, n_queries=12)["recall"]
    assert not idx.needs_rebuild(spark, recall_floor=built - 0.01, n_queries=12)["rebuild"]

    assert idx.upsert(spark, drifted_rows, watermark=1)
    decision = idx.needs_rebuild(spark, recall_floor=built - 0.01, n_queries=12)
    assert decision["recall"] < built, decision
    assert decision["upserted_frac"] == 0.5
    assert decision["rebuild"], decision

    live = idx._stale_filtered(
        spark,
        spark.read.option("basePath", idx._p("vectors")).parquet(idx._p("vectors")),
    ).select(
        "vec_id",
        F.expr("transform(vf, x -> CAST(x AS DOUBLE)/1000000.0)").cast(
            "array<float>"
        ).alias("embedding"),
    ).localCheckpoint()
    idx.build(spark, live, n_cells=8)
    restored = idx.recall_probe(spark, k=5, probes=2, n_queries=12)["recall"]
    assert restored >= decision["recall"], (restored, decision)
    assert not idx.needs_rebuild(spark, recall_floor=restored - 0.01, n_queries=12)["rebuild"]
