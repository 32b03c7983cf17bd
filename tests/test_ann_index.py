"""Persisted IVF index: deterministic build, physical partition pruning on
probe, and recall against the exact brute-force baseline."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from blockchain_etl_spark.operators.ann_index import IVFIndex

SF = "/root/testdata/sf0.001"
N_CELLS = 8
N_QUERIES = 10
K = 5


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")


def _brute_topk(spark, emb, qids, k):
    """Exact cosine top-k (excluding self) for the query ids — the recall
    yardstick, computed with the same fixed-point machinery."""
    from blockchain_etl_spark.plans.similarity import _fx_dot, _with_norm
    from pyspark.sql import Window

    corpus = _with_norm(emb, "embedding", "nrm")
    q = corpus.filter(col("vec_id").isin(qids)).select(
        col("vec_id").alias("qid"), col("embedding").alias("qe"), col("nrm").alias("qnrm")
    )
    pairs = corpus.crossJoin(F.broadcast(q)).filter(col("vec_id") != col("qid"))
    scored = pairs.select(
        "qid", "vec_id", (_fx_dot("qe", "embedding") / (col("qnrm") * col("nrm"))).alias("cos")
    )
    w = Window.partitionBy("qid").orderBy(col("cos").desc(), col("vec_id"))
    top = scored.withColumn("rn", F.row_number().over(w)).filter(col("rn") <= k)
    return {(r.qid, r.vec_id) for r in top.collect()}


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """``built(path, below=None)``: an IVFIndex at ``path``, a copy of the
    N_CELLS index over the vectors with vec_id < ``below`` (every vector
    when None). Each distinct build runs once per module; the index keeps
    every path relative to its root, so a copy serves as the original."""
    root = tmp_path_factory.mktemp("ivf_built")
    cache = {}

    def copy(path, below=None):
        if below not in cache:
            cache[below] = str(root / f"below_{below}")
            emb = _emb(spark)
            if below is not None:
                emb = emb.filter(col("vec_id") < below)
            IVFIndex(cache[below]).build(spark, emb, n_cells=N_CELLS)
        shutil.copytree(cache[below], str(path))
        return IVFIndex(str(path))

    return copy


def test_build_query_prune_and_recall(spark, tmp_path, built):
    emb = _emb(spark).cache()
    idx = built(tmp_path / "ivf")

    # every vector landed in exactly one cell partition
    data = spark.read.option("basePath", idx._data).parquet(idx._data)
    assert data.count() == emb.count()
    assert data.select("cell").distinct().count() <= N_CELLS

    # probing a subset of cells opens strictly fewer files than the corpus
    all_cells = [r.cell for r in data.select("cell").distinct().collect()]
    some = sorted(all_cells)[:2]
    assert idx.pruned_files(spark, some) < idx.pruned_files(spark, all_cells)

    queries = emb.filter(col("vec_id") < N_QUERIES).select(
        col("vec_id").alias("qid"), "embedding"
    )
    got = idx.query(spark, queries, k=K, probes=2)
    rows = got.collect()
    assert {r.qid for r in rows} == set(range(N_QUERIES))
    per_q = {}
    for r in rows:
        per_q.setdefault(r.qid, []).append((r.rank, r.neighbor_id, r.cosine))
    for qid, lst in per_q.items():
        assert len(lst) == K, (qid, lst)
        ranks = [t[0] for t in sorted(lst)]
        assert ranks == list(range(1, K + 1))

    # recall@5 vs exact brute force: 2/8 cells probed must recover a
    # meaningful fraction of true neighbors (deterministic corpus+build →
    # stable number; bound kept loose on purpose)
    truth = _brute_topk(spark, emb, list(range(N_QUERIES)), K)
    hits = sum(1 for r in rows if (r.qid, r.neighbor_id) in truth)
    recall = hits / len(truth)
    assert recall >= 0.5, recall


def test_build_is_deterministic(spark, tmp_path, built):
    # two independent builds over every vector: the module's shared one
    # and a fresh one
    a, b = built(tmp_path / "a"), IVFIndex(str(tmp_path / "b"))
    b.build(spark, _emb(spark), n_cells=N_CELLS)
    def rows(path):
        return {
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in spark.read.parquet(path).collect()
        }

    assert rows(a._centroids) == rows(b._centroids)
    da = {
        (r.vec_id, r.cell)
        for r in spark.read.option("basePath", a._data).parquet(a._data).collect()
    }
    db = {
        (r.vec_id, r.cell)
        for r in spark.read.option("basePath", b._data).parquet(b._data).collect()
    }
    assert da == db


def test_upsert_folds_new_vectors_without_rebuild(spark, tmp_path, built):
    emb = _emb(spark).cache()
    half = emb.filter(col("vec_id") < 40)
    rest = emb.filter(col("vec_id") >= 40)
    idx = built(tmp_path / "ivf_up", below=40)
    assert idx.upsert(spark, rest, watermark=1)

    queries = emb.filter(col("vec_id") < N_QUERIES).select(
        col("vec_id").alias("qid"), "embedding"
    )
    got = idx.query(spark, queries, k=K, probes=N_CELLS)  # probe all: exact over index
    ids = {r.neighbor_id for r in got.collect()}
    assert any(i >= 40 for i in ids), "upserted vectors never surfaced"
    # replay is a no-op
    assert not idx.upsert(spark, rest, watermark=1)


def test_upsert_supersedes_stale_copies(spark, tmp_path, built):
    """A re-crawled vector whose embedding moved to another cell must
    never be served from its old cell."""
    emb = _emb(spark).cache()
    idx = built(tmp_path / "ivf_stale")

    # re-crawl vec 7 with a very different embedding (another vector's,
    # which guarantees a plausible different cell assignment)
    from pyspark.sql import functions as F

    donor = emb.filter(col("vec_id") == 55).select(
        F.lit(7).cast("long").alias("vec_id"), "embedding"
    )
    assert idx.upsert(spark, donor, watermark=2)

    queries = emb.filter(col("vec_id") < N_QUERIES).select(
        col("vec_id").alias("qid"), "embedding"
    )
    got = idx.query(spark, queries, k=200, probes=N_CELLS).collect()
    # neighbor 7 appears at most once per query (stale copy filtered)
    from collections import Counter

    per_q = Counter((r.qid, r.neighbor_id) for r in got if r.neighbor_id == 7)
    assert all(v == 1 for v in per_q.values()), per_q
    # and its served embedding is the NEW one: cosine to qid 55's own
    # embedding should be (near) max since they are identical vectors
    for r in got:
        if r.qid == 55 and r.neighbor_id == 7:
            assert r.cosine > 0.999, r


def test_rebuild_after_upserts_serves_all_vectors(spark, tmp_path, built):
    """build() over a previously-upserted index must supersede the old
    inventory entries (rebuild seg outranks every prior seg) — a rebuilt
    copy of an upserted id must be served, not staleness-filtered away."""
    emb = _emb(spark).cache()
    half = emb.filter(col("vec_id") < 40)
    rest = emb.filter(col("vec_id") >= 40)
    idx = built(tmp_path / "ivf_rebuild", below=40)
    assert idx.upsert(spark, rest, watermark=1)

    # full rebuild over the whole corpus
    idx.build(spark, emb, n_cells=N_CELLS)

    queries = emb.filter(col("vec_id") < N_QUERIES).select(
        col("vec_id").alias("qid"), "embedding"
    )
    got = idx.query(spark, queries, k=K, probes=N_CELLS).collect()
    per_q = {}
    for r in got:
        per_q.setdefault(r.qid, []).append(r.neighbor_id)
    # every query gets a full top-k again (nothing silently dropped)
    assert all(len(v) == K for v in per_q.values()), per_q
    # previously-upserted ids are servable post-rebuild
    assert any(i >= 40 for v in per_q.values() for i in v)


def test_crashed_upsert_replay_serves_no_duplicates(spark, tmp_path, built):
    """Crash between the data write and the inventory merge, then replay:
    the seg partition is overwritten (not appended), so no duplicate
    neighbors are ever served."""
    from blockchain_etl_spark.operators import merge as merge_mod

    emb = _emb(spark).cache()
    half = emb.filter(col("vec_id") < 40)
    rest = emb.filter(col("vec_id") >= 40)
    idx = built(tmp_path / "ivf_crash", below=40)

    real_merge = merge_mod.ParquetMergeTarget.merge
    calls = {"n": 0}

    def crashing_merge(self, *a, **kw):
        calls["n"] += 1
        raise RuntimeError("simulated crash before inventory publish")

    merge_mod.ParquetMergeTarget.merge = crashing_merge
    try:
        import pytest as _pytest

        with _pytest.raises(RuntimeError):
            idx.upsert(spark, rest, watermark=1)
    finally:
        merge_mod.ParquetMergeTarget.merge = real_merge
    assert calls["n"] == 1

    queries = emb.filter(col("vec_id") < N_QUERIES).select(
        col("vec_id").alias("qid"), "embedding"
    )
    # pre-replay: the orphan segment is invisible (publish never happened)
    pre = idx.query(spark, queries, k=200, probes=N_CELLS).collect()
    assert all(r.neighbor_id < 40 for r in pre)

    # replay the batch; then every (qid, neighbor) pair appears exactly once
    assert idx.upsert(spark, rest, watermark=1)
    got = idx.query(spark, queries, k=200, probes=N_CELLS).collect()
    from collections import Counter

    dupes = {k: v for k, v in Counter((r.qid, r.neighbor_id) for r in got).items() if v > 1}
    assert not dupes, dupes
    assert any(r.neighbor_id >= 40 for r in got), "replayed batch never published"


def test_crashed_rebuild_keeps_old_index_serving(spark, tmp_path, built):
    """A rebuild that dies before its generation pointer flips must leave
    the previous index fully intact and serving — never a wiped data dir
    with a dangling inventory."""
    from blockchain_etl_spark.operators import merge as merge_mod

    emb = _emb(spark)
    half = emb.filter(col("vec_id") < 40)
    idx = built(tmp_path / "ivf_genc", below=40)

    queries = emb.filter(col("vec_id") < N_QUERIES).select(
        col("vec_id").alias("qid"), "embedding"
    )
    before = {(r.qid, r.neighbor_id) for r in idx.query(spark, queries, k=K, probes=N_CELLS).collect()}
    assert before

    real_merge = merge_mod.ParquetMergeTarget.merge

    def crashing_merge(self, *a, **kw):
        raise RuntimeError("simulated crash before generation publish")

    merge_mod.ParquetMergeTarget.merge = crashing_merge
    try:
        import pytest as _pytest

        with _pytest.raises(RuntimeError):
            idx.build(spark, emb, n_cells=N_CELLS)
    finally:
        merge_mod.ParquetMergeTarget.merge = real_merge

    # old generation still live and identical
    after = {(r.qid, r.neighbor_id) for r in idx.query(spark, queries, k=K, probes=N_CELLS).collect()}
    assert after == before

    # the retried rebuild publishes and serves the full corpus
    idx.build(spark, emb, n_cells=N_CELLS)
    got = idx.query(spark, queries, k=K, probes=N_CELLS).collect()
    assert any(r.neighbor_id >= 40 for r in got)


def test_upsert_after_rebuild_lands_in_new_generation(spark, tmp_path, built):
    """Post-rebuild upserts fold into the NEW generation's inventory and
    data (watermarks restart with the generation, per build()'s
    docstring) — and staleness filtering keeps working across them."""
    emb = _emb(spark)
    idx = built(tmp_path / "ivf_genup", below=30)
    assert idx.upsert(spark, emb.filter((col("vec_id") >= 30) & (col("vec_id") < 40)), watermark=1)
    idx.build(spark, emb.filter(col("vec_id") < 50), n_cells=N_CELLS)  # rebuild: gen+1

    # fresh-generation watermark: the same watermark value is NEW again
    assert idx.upsert(spark, emb.filter(col("vec_id") >= 50), watermark=1)
    queries = emb.filter(col("vec_id") < N_QUERIES).select(
        col("vec_id").alias("qid"), "embedding"
    )
    got = idx.query(spark, queries, k=200, probes=N_CELLS).collect()
    from collections import Counter

    dupes = {k: v for k, v in Counter((r.qid, r.neighbor_id) for r in got).items() if v > 1}
    assert not dupes, dupes
    ids = {r.neighbor_id for r in got}
    assert any(i >= 50 for i in ids) and any(i < 50 for i in ids)


def test_crashed_upsert_retried_with_changed_content_leaves_no_orphan(spark, tmp_path, built):
    """Crash between the data write and the inventory merge, then retry
    the SAME batch with CHANGED content (re-crawl raced the retry): a
    vec_id whose retry landed in a different cell leaves an orphan
    cell=OLD/seg=N row on disk — dynamic partition overwrite only rewrote
    the retry's partitions. The staleness filter must match the inventory
    on BOTH (seg, cell), so the orphan is never served."""
    from blockchain_etl_spark.operators import merge as merge_mod

    emb = _emb(spark).cache()
    base = emb.filter(col("vec_id") < 40)
    idx = built(tmp_path / "ivf_retry", below=40)

    # craft two versions of vec 500 that land in DIFFERENT cells: each
    # copies a distinct existing vector whose cells differ.
    data = spark.read.option("basePath", idx._data).parquet(idx._data)
    cells = {r.vec_id: r.cell for r in data.select("vec_id", "cell").collect()}
    a, b = None, None
    for vid, c in sorted(cells.items()):
        if a is None:
            a = (vid, c)
        elif c != a[1]:
            b = (vid, c)
            break
    assert b is not None, "corpus landed in one cell; widen n_cells"

    def as_500(src_vid):
        return emb.filter(col("vec_id") == src_vid).select(
            F.lit(500).cast("long").alias("vec_id"), "embedding"
        )

    real_merge = merge_mod.ParquetMergeTarget.merge

    def crashing_merge(self, *args, **kw):
        raise RuntimeError("simulated crash before inventory publish")

    merge_mod.ParquetMergeTarget.merge = crashing_merge
    try:
        import pytest as _pytest

        with _pytest.raises(RuntimeError):
            idx.upsert(spark, as_500(a[0]), watermark=1)  # lands cell a
    finally:
        merge_mod.ParquetMergeTarget.merge = real_merge

    # retry with changed content → lands cell b; cell a keeps the orphan
    assert idx.upsert(spark, as_500(b[0]), watermark=1)

    queries = emb.filter(col("vec_id").isin(a[0], b[0])).select(
        col("vec_id").alias("qid"), "embedding"
    )
    got = idx.query(spark, queries, k=200, probes=N_CELLS).collect()
    from collections import Counter

    hits = Counter((r.qid, r.neighbor_id) for r in got if r.neighbor_id == 500)
    assert all(v == 1 for v in hits.values()), hits
    # the served copy is the RETRY's content: identical to donor b, so
    # cosine vs b's own embedding is ~1; vs donor a it must NOT be ~1
    for r in got:
        if r.neighbor_id == 500 and r.qid == b[0]:
            assert r.cosine > 0.999, r
        if r.neighbor_id == 500 and r.qid == a[0]:
            assert r.cosine < 0.999, r


def _seg_dirs_per_cell(idx):
    """{cell: #seg dirs} under the live generation's data store."""
    import os

    out = {}
    base = idx._data
    for cell_dir in os.listdir(base):
        if not cell_dir.startswith("cell="):
            continue
        segs = [d for d in os.listdir(os.path.join(base, cell_dir)) if d.startswith("seg=")]
        out[int(cell_dir.split("=")[1])] = len(segs)
    return out


def test_compact_folds_segments_bit_identical(spark, tmp_path, built):
    """compact() must bound the per-cell file pile to ONE segment while
    serving bit-identical query results, preserve the upsert watermark
    (replays still skip), and let the upsert stream resume."""
    emb = _emb(spark).cache()
    idx = built(tmp_path / "ivf_compact", below=30)
    # a pile of upsert batches, including a supersede (vec 3 re-crawled
    # with vec 77's embedding → possibly different cell)
    idx.upsert(spark, emb.filter((col("vec_id") >= 30) & (col("vec_id") < 60)), watermark=1)
    idx.upsert(spark, emb.filter((col("vec_id") >= 60) & (col("vec_id") < 90)), watermark=2)
    donor = emb.filter(col("vec_id") == 77).select(
        F.lit(3).cast("long").alias("vec_id"), "embedding"
    )
    idx.upsert(spark, donor, watermark=3)

    queries = emb.filter(col("vec_id") < N_QUERIES).select(
        col("vec_id").alias("qid"), "embedding"
    )
    before = {
        (r.qid, r.neighbor_id, r.rank, r.cosine)
        for r in idx.query(spark, queries, k=K, probes=N_CELLS).collect()
    }
    assert any(n > 1 for n in _seg_dirs_per_cell(idx).values()), "no pile to compact"

    idx.compact(spark)

    after = {
        (r.qid, r.neighbor_id, r.rank, r.cosine)
        for r in idx.query(spark, queries, k=K, probes=N_CELLS).collect()
    }
    assert after == before
    assert all(n == 1 for n in _seg_dirs_per_cell(idx).values()), _seg_dirs_per_cell(idx)

    # replayed upsert batch still skips (watermark survived compaction)
    assert not idx.upsert(spark, donor, watermark=3)
    # and the stream resumes with fresh batches
    assert idx.upsert(
        spark,
        emb.filter(col("vec_id") == 95).select("vec_id", "embedding"),
        watermark=4,
    )
    got = idx.query(spark, queries, k=300, probes=N_CELLS).collect()
    assert any(r.neighbor_id == 95 for r in got)


def test_crashed_compact_keeps_old_generation_serving(spark, tmp_path, built):
    """A crash before the generation pointer flip must leave the
    pre-compaction index fully serving; a later compact() succeeds."""
    emb = _emb(spark).cache()
    idx = built(tmp_path / "ivf_compact_crash", below=40)
    idx.upsert(spark, emb.filter((col("vec_id") >= 40) & (col("vec_id") < 70)), watermark=1)

    queries = emb.filter(col("vec_id") < N_QUERIES).select(
        col("vec_id").alias("qid"), "embedding"
    )
    before = {
        (r.qid, r.neighbor_id, r.rank, r.cosine)
        for r in idx.query(spark, queries, k=K, probes=N_CELLS).collect()
    }

    real_publish = IVFIndex._publish_gen
    IVFIndex._publish_gen = lambda self, gen: (_ for _ in ()).throw(
        RuntimeError("simulated crash before pointer flip")
    )
    try:
        import pytest as _pytest

        with _pytest.raises(RuntimeError):
            idx.compact(spark)
    finally:
        IVFIndex._publish_gen = real_publish

    mid = {
        (r.qid, r.neighbor_id, r.rank, r.cosine)
        for r in idx.query(spark, queries, k=K, probes=N_CELLS).collect()
    }
    assert mid == before

    idx.compact(spark)
    after = {
        (r.qid, r.neighbor_id, r.rank, r.cosine)
        for r in idx.query(spark, queries, k=K, probes=N_CELLS).collect()
    }
    assert after == before
    assert all(n == 1 for n in _seg_dirs_per_cell(idx).values())


def test_compact_with_fully_superseded_cell_still_serves(spark, tmp_path, built):
    """Re-crawl EVERY member of one cell into other cells, then compact:
    the emptied cell's directory is legitimately gone, and a probe that
    ranks its (still-present) centroid highly must serve results instead
    of crashing on the missing path."""
    emb = _emb(spark).cache()
    idx = built(tmp_path / "ivf_emptycell", below=40)

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

    assert not os.path.isdir(os.path.join(idx._data, f"cell={victim}")), (
        "test premise: the emptied cell dir must actually be gone"
    )

    queries = emb.filter(col("vec_id") < N_QUERIES).select(
        col("vec_id").alias("qid"), "embedding"
    )
    got = idx.query(spark, queries, k=K, probes=N_CELLS).collect()
    assert {r.qid for r in got} == set(range(N_QUERIES))
    # the moved ids are still served, from their NEW cell
    got_all = idx.query(spark, queries, k=300, probes=N_CELLS).collect()
    served = {r.neighbor_id for r in got_all}
    for vid in by_cell[victim]:
        if vid not in set(range(N_QUERIES)):  # self-hits excluded per qid
            assert vid in served, vid
    assert idx.pruned_files(spark, [victim]) == 0


def test_delete_tombstones_vectors(spark, tmp_path, built):
    """delete() makes every copy of a vec_id invisible (inner staleness
    join), replays are no-ops, compaction reclaims the rows, and the id
    can be re-inserted afterwards."""
    emb = _emb(spark).cache()
    idx = built(tmp_path / "ivf_delete", below=40)

    victims = spark.createDataFrame([(7,), (11,)], "vec_id long")
    assert idx.delete(spark, victims)
    queries = emb.filter(col("vec_id") < N_QUERIES).select(
        col("vec_id").alias("qid"), "embedding"
    )
    got = idx.query(spark, queries, k=300, probes=N_CELLS).collect()
    assert all(r.neighbor_id not in (7, 11) for r in got)
    # deleting absent ids is a no-op (and idempotent)
    assert idx.delete(spark, victims)
    # compact drops the tombstoned rows from disk
    idx.compact(spark)
    import os

    data = spark.read.option("basePath", idx._data).parquet(idx._data)
    assert data.filter(col("vec_id").isin(7, 11)).count() == 0
    # a later upsert can re-insert the id
    assert idx.upsert(
        spark,
        emb.filter(col("vec_id") == 7).select("vec_id", "embedding"),
        watermark=99,
    )
    got2 = idx.query(spark, queries, k=300, probes=N_CELLS).collect()
    assert any(r.neighbor_id == 7 for r in got2)


def test_compact_after_all_tombstoned_skips_and_recovers(spark, tmp_path):
    """Tombstoning EVERY vector then compacting must not publish a
    part-file-less generation (the next compact's parquet read would die
    with unable-to-infer-schema): compact skips, queries stay empty, and
    a later upsert + compact resumes a normal lifecycle."""
    emb = _emb(spark)
    small = emb.filter(col("vec_id") < 10)
    idx = IVFIndex(str(tmp_path / "ivf_all_gone"))
    idx.build(spark, small, n_cells=4)
    gen = idx._gen()
    assert idx.delete(spark, small.select("vec_id"))
    queries = small.limit(3).select(col("vec_id").alias("qid"), "embedding")
    idx.compact(spark)  # must skip (nothing live), not wedge the layout
    assert idx._gen() == gen
    idx.compact(spark)  # the ADVICE repro: the SECOND compact crashed
    assert idx.query(spark, queries, k=3, probes=4).count() == 0
    assert idx.upsert(spark, small.filter(col("vec_id") < 5), watermark=50)
    idx.compact(spark)  # live rows again: compaction resumes normally
    assert idx._gen() == gen + 1
    got = idx.query(spark, queries, k=10, probes=4)
    assert got.count() > 0


def test_delete_does_not_erase_upsert_watermark(spark, tmp_path):
    """delete() without a watermark must not wipe the inventory's stored
    high-mark — a wiped watermark silently disables upsert()'s replay
    guard (crash-replays re-append duplicate segments)."""
    emb = _emb(spark)
    idx = IVFIndex(str(tmp_path / "ivf_wm"))
    idx.build(spark, emb.filter(col("vec_id") < 20), n_cells=4)
    assert idx.upsert(
        spark,
        emb.filter((col("vec_id") >= 20) & (col("vec_id") < 30)),
        watermark=7,
    )
    assert idx.delete(spark, spark.createDataFrame([(3,)], "vec_id long"))
    assert idx._inventory().watermark() == 7
    # the replay guard still holds: re-running batch 7 is a no-op
    assert not idx.upsert(
        spark,
        emb.filter((col("vec_id") >= 20) & (col("vec_id") < 30)),
        watermark=7,
    )


def _drifted(emb, n=300):
    """A deterministic md5-derived pseudo-random distribution — unlike the
    clustered build corpus, its neighbor structure is uncorrelated with
    the FROZEN coarse cells, so probes miss true neighbors (the drift)."""
    return emb.filter(col("vec_id") < n).select(
        (col("vec_id") + 10000).alias("vec_id"),
        F.expr(
            "transform(sequence(0,63), d -> CAST(conv(substring(md5(concat("
            "CAST(vec_id AS STRING),':',CAST(d AS STRING))),1,6),16,10) AS DOUBLE)"
            "/16777216.0 - 0.5)"
        ).cast("array<float>").alias("embedding"),
    )


def test_recall_drift_lifecycle(spark, tmp_path):
    """The frozen-quantizer decay gate: recall measured on the live index
    drops after a drifted distribution is upserted, needs_rebuild()
    trips (recall floor OR upserted fraction), and a rebuild — which
    re-samples the quantizer from the current distribution — restores
    recall. All md5-deterministic: the numbers repeat run to run."""
    emb = _emb(spark)
    idx = IVFIndex(str(tmp_path / "ivf_drift"))
    idx.build(spark, emb.filter(col("vec_id") < 300), n_cells=8)
    built = idx.recall_probe(spark, k=5, probes=2, n_queries=12)["recall"]
    assert built >= 0.8
    assert not idx.needs_rebuild(spark, n_queries=12)["rebuild"]

    assert idx.upsert(spark, _drifted(emb), watermark=1)
    decision = idx.needs_rebuild(spark, n_queries=12)
    drifted = decision["recall"]
    assert drifted < built, (drifted, built)
    assert decision["upserted_frac"] == 0.5
    assert decision["rebuild"], decision

    live = idx._live(spark).select("vec_id", "embedding").localCheckpoint()
    idx.build(spark, live, n_cells=8)
    restored = idx.recall_probe(spark, k=5, probes=2, n_queries=12)["recall"]
    assert restored >= built, (restored, built)
    assert not idx.needs_rebuild(spark, n_queries=12)["rebuild"]


def test_upserted_fraction_survives_compaction(spark, tmp_path):
    """compact() rewrites every live row as seg=0 while copying the FROZEN
    quantizer unchanged — the post-freeze drift proxy must ride the
    inventory's upserted flag, not the segment number, or routine
    compaction silently disarms the cheap rebuild trigger."""
    emb = _emb(spark)
    idx = IVFIndex(str(tmp_path / "ivf_fracsurv"))
    idx.build(spark, emb.filter(col("vec_id") < 100), n_cells=4)
    assert idx.upserted_fraction(spark) == 0.0
    assert idx.upsert(spark, _drifted(emb, n=100), watermark=1)
    assert idx.upserted_fraction(spark) == 0.5
    idx.compact(spark)
    assert idx.upserted_fraction(spark) == 0.5, "compaction must not zero the proxy"
    # the cheap arm decides alone — the expensive recall probe is skipped
    decision = idx.needs_rebuild(spark, max_upserted_frac=0.4, n_queries=6)
    assert decision["rebuild"] and decision.get("probe_skipped")
    assert decision["recall"] is None
    # a REBUILD (fresh quantizer) resets the proxy
    live = idx._live(spark).select("vec_id", "embedding").localCheckpoint()
    idx.build(spark, live, n_cells=4)
    assert idx.upserted_fraction(spark) == 0.0


def test_needs_rebuild_on_unbuilt_index_is_a_clear_no(spark, tmp_path):
    """needs_rebuild on a never-built index must return the structured
    no-decision (rebuild False, unbuilt True) instead of dying inside the
    recall probe on a nonexistent parquet store — the guard lives in the
    operator so EVERY caller gets it, not just the vec-health CLI."""
    from blockchain_etl_spark.operators.ann_index import IVFIndex

    decision = IVFIndex(str(tmp_path / "never_built")).needs_rebuild(spark)
    assert decision == {
        "rebuild": False,
        "unbuilt": True,
        "upserted_frac": 0.0,
        "recall": None,
        "probe_skipped": True,
    }
