"""Cross-plane watermark doctor: a crash injected between EVERY adjacent
pair of plane commits must leave a divergence that audit() reports and
doctor() heals to exactly the never-crashed state — all eight maintained
planes compared row-for-row against a golden ingest of the same batches.
This is the doc-pipeline re-establishment of the reference's
one-transaction-per-block contract (be_db_follower.erl:86-108): planes
commit separately, so atomicity is recovered after the fact by rolling
stragglers forward from the durable corpus chunks."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import Row
from pyspark.sql.functions import col

from blockchain_etl_spark.streaming.docs import DocIngest
from blockchain_etl_spark.streaming.fanout import run_tasks

ALL_PLANES = dict(
    vector_index=True,
    component_index=True,
    drift_state=True,
    lexical_index=True,
    contamination_screen=True,
    contamination_quarantine=3,
    novelty_state=True,
)

_WORDS = [f"tok{i}" for i in range(37)]


def _text(seed: int, n: int = 16) -> str:
    return " ".join(_WORDS[(seed * 7 + j * 3) % 37] for j in range(n))


def _corpus(spark):
    """Two crawl batches with quality-passing docs, a cross-batch exact
    dup (doc 20 == doc 3's text, arrives later), an in-batch near-dup
    pair (1, 2 — one token apart, LSH-linked), and one contaminated doc
    (doc 21 shares its whole text with benchmark doc 900)."""
    rows = [Row(doc_id=d, text=_text(d), lang="en") for d in range(10)]
    rows[2] = Row(doc_id=2, text=_text(1)[:-6] + " tokXX", lang="en")
    b2 = [Row(doc_id=d, text=_text(d), lang="en") for d in range(10, 20)]
    b2.append(Row(doc_id=20, text=_text(3), lang="en"))  # exact dup of 3
    b2.append(Row(doc_id=21, text=_text(900), lang="en"))  # contaminated
    bench = [Row(source="src0", doc_id=900, text=_text(900))]
    return (
        spark.createDataFrame(rows),
        spark.createDataFrame(b2),
        spark.createDataFrame(bench),
    )


def _ingest(spark, path, batch1_lake, crash_at=None):
    """Ingest batch 2 into a copy of ``batch1_lake`` (an all-plane lake
    that holds batch 1); when ``crash_at=(plane_attr, method)`` is given,
    that plane's commit raises during batch 2 (simulating a crash between
    the previous plane's commit and this one's) and the
    partially-committed ingest is returned un-healed."""
    _, b2, _ = _corpus(spark)
    ing = _copy_lake(batch1_lake, path)
    if crash_at is None:
        ing.process_batch(b2, 2)
        return ing

    class Boom(Exception):
        pass

    obj = getattr(ing, crash_at[0])
    orig = getattr(obj, crash_at[1])

    def boom(*a, **k):
        raise Boom()

    setattr(obj, crash_at[1], boom)
    with pytest.raises(Boom):
        ing.process_batch(b2, 2)
    setattr(obj, crash_at[1], orig)
    return ing


def _copy_lake(src, path):
    """An all-plane DocIngest over a copy of the lake at ``src`` (every
    plane keeps its state under the lake directory, by relative path)."""
    shutil.copytree(src, path)
    return DocIngest(str(path), **ALL_PLANES)


def _state(spark, ing):
    """Every maintained plane's full state, collected for equality."""
    out = {
        "corpus": sorted(
            (r.doc_id, r.text) for r in ing.read_corpus(spark).collect()
        ),
        "quarantine": sorted(
            tuple(r) for r in ing.read_quarantine(spark).collect()
        ),
        "hashes": sorted(tuple(r) for r in ing.hashes.read(spark).collect()),
        "sigs": sorted(
            tuple(r) for r in ing.index.signatures(spark).collect()
        ),
        "labels": sorted(
            tuple(r)
            for r in ing.components.labels_t.read(spark)
            .select("doc_id", "label", "split")
            .collect()
        ),
        "chunk_df": sorted(
            tuple(r) for r in ing.chunk_df.doc_df(spark).collect()
        ),
        "postings": sorted(
            tuple(r) for r in ing.lexical.postings.read(spark).collect()
        ),
        "doclen": sorted(
            tuple(r) for r in ing.lexical.doclen.read(spark).collect()
        ),
        "evidence": sorted(
            tuple(r)
            for r in ing.contamination.evidence.read(spark).collect()
        ),
        "curve": sorted(
            tuple(r) for r in ing.novelty.read_curve(spark).collect()
        ),
        "vocab": sorted(
            tuple(r) for r in ing.novelty.vocab.read(spark).collect()
        ),
        "drift": sorted(
            tuple(r) for r in ing.drift.read_counts(spark).collect()
        ),
    }
    inv = ing.vectors._inventory().read(spark)
    out["vec_ids"] = sorted(r.vec_id for r in inv.collect()) if inv is not None else []
    return out


@pytest.fixture(scope="module")
def batch1_lake(spark, tmp_path_factory):
    """A lake holding batch 1 only, shared by the tests that crash or
    replay batch 2 (each works on its own copy)."""
    b1, _, bench = _corpus(spark)
    path = tmp_path_factory.mktemp("batch1") / "lake"
    ing = DocIngest(str(path), **ALL_PLANES)
    ing.contamination.build(spark, bench)
    ing.process_batch(b1, 1)
    return path


@pytest.fixture(scope="module")
def golden_lake(spark, tmp_path_factory, batch1_lake):
    """The never-crashed lake over both batches (tests copy it before
    changing it)."""
    path = tmp_path_factory.mktemp("golden") / "lake"
    ing = _ingest(spark, path, batch1_lake)
    assert ing.audit()["consistent"]
    return path


@pytest.fixture(scope="module")
def golden(spark, golden_lake):
    return _state(spark, DocIngest(str(golden_lake), **ALL_PLANES))


@pytest.fixture(scope="module")
def no_lexical_lake(spark, tmp_path_factory):
    """Both batches ingested with every plane except the lexical index —
    the lake a mid-life ``lexical_index=True`` opens over (tests copy
    it)."""
    b1, b2, bench = _corpus(spark)
    plain = dict(ALL_PLANES)
    plain.pop("lexical_index")
    path = tmp_path_factory.mktemp("no_lexical") / "lake"
    ing = DocIngest(str(path), **plain)
    ing.contamination.build(spark, bench)
    ing.process_batch(b1, 1)
    ing.process_batch(b2, 2)
    return path


@pytest.fixture(scope="module")
def lexical_crash_lake(spark, tmp_path_factory, batch1_lake):
    """Batch 2 crashed at the lexical plane's commit and left un-healed,
    the starting state of three tests (each works on its own copy)."""
    path = tmp_path_factory.mktemp("lexical_crash") / "lake"
    _ingest(spark, path, batch1_lake, crash_at=("lexical", "upsert"))
    return path


# one crash point between every adjacent pair of plane commits, in the
# _fold_planes order (the chunk write precedes them all; the quarantine
# write and gated evidence fold precede the chunk write)
CRASH_POINTS = [
    ("index", "upsert"),  # after chunk write, before any plane
    ("components", "upsert"),  # between signatures and components
    ("chunk_df", "upsert"),
    ("lexical", "upsert"),
    ("novelty", "fold"),
    ("drift", "fold"),
    ("vectors", "upsert"),
    ("hashes", "merge_with"),  # all planes in, replay guard not advanced
]


@pytest.mark.parametrize("point", CRASH_POINTS, ids=[p[0] for p in CRASH_POINTS])
def test_crash_between_plane_commits_heals_to_golden(
    spark, tmp_path, golden, batch1_lake, point, request
):
    if point == ("lexical", "upsert"):
        lake = request.getfixturevalue("lexical_crash_lake")
        ing = _copy_lake(lake, tmp_path / "lake")
    else:
        ing = _ingest(spark, tmp_path / "lake", batch1_lake, crash_at=point)
    rep = ing.audit()
    assert not rep["consistent"]
    assert rep["target"] == 2
    assert rep["stragglers"] and not rep["unhealable"]
    assert ing.doctor(spark) == [2]
    rep = ing.audit()
    assert rep["consistent"], rep
    assert _state(spark, ing) == golden
    # doctor on a consistent pipeline is a no-op
    assert ing.doctor(spark) == []


def test_new_batch_on_divergent_planes_is_refused(spark, tmp_path, lexical_crash_lake):
    ing = _copy_lake(lexical_crash_lake, tmp_path / "lake")
    _, b2, _ = _corpus(spark)
    b3 = b2.withColumn("doc_id", col("doc_id") + 100)
    # a NEW batch id would advance the stragglers past the crashed batch
    with pytest.raises(RuntimeError, match="divergent"):
        ing.process_batch(b3, 3)
    # the crashed batch's own replay is the other legal heal
    ing.process_batch(b2, 2)
    assert ing.audit()["consistent"]
    # and now the new batch is welcome
    ing.process_batch(b3, 3)
    assert ing.audit()["consistent"]


def test_lost_chunk_after_crash_reads_as_ahead(spark, tmp_path, lexical_crash_lake):
    """If the crashed batch's chunk dir is ALSO lost, the committed
    planes are simply AHEAD of a corpus that no longer holds the batch —
    doctor has nothing to roll forward and the source replay (same
    batch id) converges, rewriting the chunk and catching up the
    stragglers through their guards."""
    ing = _copy_lake(lexical_crash_lake, tmp_path / "lake")
    shutil.rmtree(tmp_path / "lake" / "docs" / "chunk=2")
    rep = ing.audit()
    assert not rep["consistent"] and not rep["stragglers"]
    # contam_index committed its gated evidence before the chunk write;
    # with CONCURRENT plane folds every non-crashed plane also completes
    # before the failure re-raises, so the ahead set is everything except
    # the crashed lexical plane and the hash replay guard (which commits
    # strictly last and never ran)
    assert set(rep["ahead"]) == {
        "mh_index", "comp_index", "chunk_df", "contam_index",
        "novelty_state", "drift_state", "vec_index",
    }
    assert "lex_index" not in rep["ahead"]
    assert "hash_inventory" not in rep["ahead"]
    assert ing.doctor(spark) == []
    _, b2, _ = _corpus(spark)
    ing.process_batch(b2, 2)
    assert ing.audit()["consistent"]


def test_unhealable_when_retention_ate_a_needed_chunk(
    spark, tmp_path, no_lexical_lake
):
    """A mid-lake backfill needs the full chunk history; when retention
    deleted a chunk the new plane can never see those docs — audit says
    which batches are lost and doctor refuses instead of building a
    silently incomplete index."""
    shutil.copytree(no_lexical_lake, tmp_path / "lake")
    shutil.rmtree(tmp_path / "lake" / "docs" / "chunk=1")
    ing2 = DocIngest(str(tmp_path / "lake"), **ALL_PLANES)
    rep = ing2.audit()
    assert rep["stragglers"] == {"lex_index": -1}
    # nothing records batch 1's ID anymore (watermarks keep only the
    # high mark), so the id-based audit cannot flag it — the doctor's
    # doc-coverage probe proves the loss instead
    assert rep["unhealable"] == []
    with pytest.raises(ValueError, match="no longer cover"):
        ing2.doctor(spark)


def test_ahead_plane_waits_for_source_replay(spark, tmp_path, batch1_lake):
    """A crash between screen_gated's evidence commit and the chunk
    write leaves the contamination plane AHEAD of the corpus: audit
    reports it, doctor has nothing to roll forward, and the source
    replay of the same batch converges."""
    _, b2, _ = _corpus(spark)
    ing = _copy_lake(batch1_lake, tmp_path / "lake")
    # simulate: evidence for batch 2 committed, then death before the
    # quarantine/chunk writes
    ing.contamination.screen_gated(
        spark, b2.select("doc_id", "text"), ALL_PLANES["contamination_quarantine"],
        watermark=2,
    )
    rep = ing.audit()
    assert rep["ahead"] == {"contam_index": 2}
    assert not rep["consistent"] and not rep["stragglers"]
    assert ing.doctor(spark) == []
    ing.process_batch(b2, 2)  # the source replays the crashed crawl
    assert ing.audit()["consistent"]


def test_run_stream_full_planes_survives_kill_and_restart(
    spark, tmp_path, golden
):
    """The PRODUCTION configuration end-to-end: run_stream with every
    plane enabled (including the quarantine gate), KILLED mid-stream
    between two plane commits of the second microbatch, then restarted —
    the checkpoint replays the crashed epoch under its original batch id
    and every maintained plane plus the quarantine trail ends equal to a
    clean direct-batch ingest of the same files."""
    b1, b2, bench = _corpus(spark)
    in_dir = str(tmp_path / "crawls")
    # one part file per crawl: the file source microbatches PER FILE
    # (maxFilesPerTrigger=1), and the golden compare below needs the
    # stream's batch boundaries to be exactly the two crawls
    b1.coalesce(1).write.parquet(in_dir + "/c0.parquet")
    b2.coalesce(1).write.parquet(in_dir + "/c1.parquet")

    ing = DocIngest(str(tmp_path / "lake"), **ALL_PLANES)
    ing.contamination.build(spark, bench)

    class Boom(Exception):
        pass

    orig = ing.components.upsert
    calls = {"n": 0}

    def flaky(*a, **k):
        calls["n"] += 1
        if calls["n"] == 2:
            raise Boom()  # die mid-epoch-1, between mh and components
        return orig(*a, **k)

    ing.components.upsert = flaky
    with pytest.raises(Exception):
        ing.run_stream(spark, in_dir + "/c*.parquet", b1.schema)
    ing.components.upsert = orig
    rep = ing.audit()
    assert not rep["consistent"] and rep["stragglers"]

    # restart: the checkpoint replays the crashed epoch under its
    # ORIGINAL batch id (pinned base), converging every plane
    ing.run_stream(spark, in_dir + "/c*.parquet", b1.schema)
    assert ing.audit()["consistent"]

    got, want = _state(spark, ing), dict(golden)
    # curve rows and vocab stamps carry BATCH IDS, which legitimately
    # differ between the stream's base+epoch ids (0, 1) and the golden's
    # (1, 2) — compare the id-free columns, curve in fold order
    got["curve"] = [r[1:] for r in sorted(got.pop("curve"))]
    want["curve"] = [r[1:] for r in sorted(want.pop("curve"))]
    got["vocab"] = sorted(r[0] for r in got.pop("vocab"))
    want["vocab"] = sorted(r[0] for r in want.pop("vocab"))
    assert got == want


def test_doctor_backfills_plane_enabled_mid_lake(
    spark, tmp_path, golden, no_lexical_lake
):
    """Enabling a new plane over an existing lake = construct + doctor():
    the new plane replays the whole durable chunk history while every
    committed plane's guards skip — a backfill, not a re-ingest."""
    shutil.copytree(no_lexical_lake, tmp_path / "lake")
    ing2 = DocIngest(str(tmp_path / "lake"), **ALL_PLANES)
    rep = ing2.audit()
    assert rep["stragglers"] == {"lex_index": -1}
    assert ing2.doctor(spark) == [1, 2]
    assert ing2.audit()["consistent"]
    # backfilled postings equal an all-plane-from-the-start ingest's
    assert sorted(
        tuple(r) for r in ing2.lexical.postings.read(spark).collect()
    ) == golden["postings"]


def test_doctor_detects_lost_chunk_even_when_consistent(
    spark, tmp_path, golden_lake
):
    """Retention (or an accident) deletes a chunk whose id no watermark
    records and whose docs every plane already folded: the id-based
    audit reads CONSISTENT — only doctor()'s doc-coverage probe (hash
    inventory vs surviving chunks, run on every invocation) can prove
    the corpus lost admitted documents."""
    ing = _copy_lake(golden_lake, tmp_path / "lake")
    assert ing.audit()["consistent"]
    shutil.rmtree(tmp_path / "lake" / "docs" / "chunk=1")
    assert ing.audit()["consistent"]  # watermarks keep only the high mark
    with pytest.raises(ValueError, match="no longer cover"):
        ing.doctor(spark)


def _b3(spark):
    return spark.createDataFrame(
        [Row(doc_id=d, text=_text(d), lang="en") for d in range(30, 38)]
    )


def _vec_state(spark, ing):
    """Live vector rows + inventory ids — the vector plane's full truth."""
    live = sorted(
        (r.vec_id, tuple(round(x, 6) for x in r.embedding))
        for r in ing.vectors._live(spark).collect()
    )
    inv = ing.vectors._inventory().read(spark)
    ids = sorted(r.vec_id for r in inv.collect()) if inv is not None else []
    return live, ids, ing.vectors._inventory().watermark()


def test_vector_compact_crash_before_pointer_flip_converges(
    spark, tmp_path, golden_lake
):
    """Round-10 verdict #7: compact() writes a whole new generation and
    commits with one pointer flip — inject a crash BETWEEN the generation
    write and the flip, with a pending batch still to ingest. The orphan
    gen dir must be invisible: the old generation keeps serving, the
    pending batch folds into it at the carried watermark, doctor() finds
    nothing to heal, and the vector plane equals a never-compacted golden
    ingest of the same batches."""
    ing = _copy_lake(golden_lake, tmp_path / "lake")
    assert ing.audit()["consistent"]
    g0 = ing.vectors._gen()

    class Boom(Exception):
        pass

    orig = ing.vectors._publish_gen
    ing.vectors._publish_gen = lambda gen: (_ for _ in ()).throw(Boom())
    with pytest.raises(Boom):
        ing.vectors.compact(spark)
    ing.vectors._publish_gen = orig
    # the crash left an orphan next-gen directory, pointer unmoved
    assert ing.vectors._gen() == g0
    assert (tmp_path / "lake" / "vec_index" / f"gen={g0 + 1}").is_dir()

    # pending batch ingests against the OLD (still-current) generation
    ing.process_batch(_b3(spark), 3)
    assert ing.doctor(spark) == []  # nothing to heal
    assert ing.audit()["consistent"]

    golden = _copy_lake(golden_lake, tmp_path / "golden")
    golden.process_batch(_b3(spark), 3)
    assert _vec_state(spark, ing) == _vec_state(spark, golden)


def test_vector_compact_crash_after_flip_with_pending_batch_heals(
    spark, tmp_path, golden_lake
):
    """The other side of the flip: compact commits (pointer at gen=1) but
    crashes before retiring gen=0 — a disk leak, never a correctness
    event. A pending batch then crashes mid-commit in ANOTHER plane;
    doctor() must heal it INTO THE NEW GENERATION (watermarks carried
    across the flip), ending bit-equal to a golden compacted ingest."""
    ing = _copy_lake(golden_lake, tmp_path / "lake")
    g0 = ing.vectors._gen()

    class Boom(Exception):
        pass

    orig_retire = ing.vectors._retire_gen
    ing.vectors._retire_gen = lambda *a, **k: (_ for _ in ()).throw(Boom())
    with pytest.raises(Boom):
        ing.vectors.compact(spark)
    ing.vectors._retire_gen = orig_retire
    assert ing.vectors._gen() == g0 + 1  # flip committed; old gen leaked

    # pending batch crashes between plane commits (hash guard last)
    orig_merge = ing.hashes.merge_with
    ing.hashes.merge_with = lambda *a, **k: (_ for _ in ()).throw(Boom())
    with pytest.raises(Boom):
        ing.process_batch(_b3(spark), 3)
    ing.hashes.merge_with = orig_merge
    rep = ing.audit()
    assert not rep["consistent"] and "hash_inventory" in rep["stragglers"]
    assert ing.doctor(spark) == [3]
    assert ing.audit()["consistent"]

    golden = _copy_lake(golden_lake, tmp_path / "golden")
    golden.vectors.compact(spark)
    golden.process_batch(_b3(spark), 3)
    assert _vec_state(spark, ing) == _vec_state(spark, golden)


def test_plane_task_pool_surfaces_every_concurrent_failure(spark):
    """A multi-plane incident must not triage as a single-plane error:
    run_tasks aggregates the other planes' exceptions into the
    first one it re-raises (round-10 advice)."""

    def ok():
        return None

    def fail_a():
        raise RuntimeError("disk full")

    def fail_b():
        raise ValueError("schema drift")

    with pytest.raises(Exception) as ei:
        run_tasks(
            spark, [("lexical", fail_a), ("chunk_df", ok), ("novelty", fail_b)]
        )
    msg = str(ei.value)
    assert "lexical" in msg and "novelty" in msg, msg
    assert "disk full" in msg and "schema drift" in msg, msg


def test_plane_task_pool_single_failure_unwrapped(spark):
    with pytest.raises(RuntimeError, match="^disk full$"):
        run_tasks(
            spark,
            [("lexical", lambda: (_ for _ in ()).throw(RuntimeError("disk full"))),
             ("chunk_df", lambda: None)]
        )


def test_gate_shuffle_restores_confs_on_exception(spark):
    from blockchain_etl_spark.session import gate_shuffle

    before = (
        spark.conf.get("spark.sql.shuffle.partitions"),
        spark.conf.get("spark.sql.adaptive.enabled"),
    )
    with pytest.raises(RuntimeError):
        with gate_shuffle(spark):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
            assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
            raise RuntimeError("gate body died")
    after = (
        spark.conf.get("spark.sql.shuffle.partitions"),
        spark.conf.get("spark.sql.adaptive.enabled"),
    )
    assert after == before


def test_gate_shuffle_rejects_nested_entry(spark):
    """gate_shuffle mutates session-global conf; a nested gate would
    restore the wrong values. Nesting must raise, and the outer gate's
    restore must still run."""
    from blockchain_etl_spark.session import gate_shuffle

    before = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(RuntimeError, match="not reentrant"):
        with gate_shuffle(spark):
            with gate_shuffle(spark):
                pass  # pragma: no cover
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # the flag must be cleared: a fresh gate works after the failure
    with gate_shuffle(spark):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_gate_shuffle_restores_every_pinned_conf(spark):
    """The gate pins shuffle width, AQE, codegen, and constraint
    propagation; a missed restore would leave codegen OFF session-wide
    and silently slow every later query. Assert each key flips inside
    the scope and returns to its prior value after — on both the clean
    and the exception exit path."""
    from blockchain_etl_spark.session import gate_shuffle

    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled",
        "spark.sql.codegen.wholeStage",
        "spark.sql.codegen.factoryMode",
        "spark.sql.constraintPropagation.enabled",
    )
    before = {k: spark.conf.get(k) for k in keys}
    gate_vals = {
        "spark.sql.shuffle.partitions": "1",
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.codegen.wholeStage": "false",
        "spark.sql.codegen.factoryMode": "NO_CODEGEN",
        "spark.sql.constraintPropagation.enabled": "false",
    }
    with gate_shuffle(spark):
        assert {k: spark.conf.get(k) for k in keys} == gate_vals
    assert {k: spark.conf.get(k) for k in keys} == before
    with pytest.raises(RuntimeError, match="gate body died"):
        with gate_shuffle(spark):
            raise RuntimeError("gate body died")
    assert {k: spark.conf.get(k) for k in keys} == before
