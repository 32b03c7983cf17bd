"""Quarantine release: re-admitting quarantined docs under a relaxed
policy must converge to the state of having ingested with that policy
from the start — same corpus doc set, same hash inventory, same
signatures/postings/doclen/chunk-df/evidence/drift, and an empty (or
correctly re-flagged) quarantine. Released docs flow through the NORMAL
process_batch path, so every maintained plane sees them as fresh
arrivals; crash ordering (re-admit first, drop old chunks after) means a
document can transiently appear twice in the audit trail but can never
be lost."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import Row

from blockchain_etl_spark.streaming.docs import DocIngest

_WORDS = [f"tok{i}" for i in range(41)]
_BWORDS = [f"bench{i}" for i in range(41)]  # disjoint vocab: only docs
# built FROM a benchmark text can share 5-grams with the registry


def _text(seed: int, n: int = 16) -> str:
    w = _BWORDS if seed >= 900 else _WORDS
    return " ".join(w[(seed * 11 + j * 5) % 41] for j in range(n))


def _data(spark):
    """Batch 1 and 2 of train docs; docs 7 and 15 share ALL their text
    with benchmark doc 900/901 (heavily contaminated — quarantined at a
    strict threshold), doc 8 shares a smaller overlap (passes a relaxed
    threshold but is flagged at the strict one)."""
    b1 = [Row(doc_id=d, text=_text(d), lang="en") for d in range(7)]
    b1.append(Row(doc_id=7, text=_text(900), lang="en"))
    # doc 8: six benchmark tokens (= exactly two registry 5-grams) then
    # clean text — flagged at threshold 2, passes a relaxed threshold
    b1.append(
        Row(
            doc_id=8,
            text=" ".join(_text(901).split()[:6]) + " " + _text(30),
            lang="en",
        )
    )
    b2 = [Row(doc_id=d, text=_text(d), lang="en") for d in range(10, 15)]
    b2.append(Row(doc_id=15, text=_text(901), lang="en"))
    bench = [
        Row(source="src0", doc_id=900, text=_text(900)),
        Row(source="src0", doc_id=901, text=_text(901)),
    ]
    return (
        spark.createDataFrame(b1),
        spark.createDataFrame(b2),
        spark.createDataFrame(bench),
    )


def _lake(path, threshold):
    return DocIngest(
        str(path),
        lexical_index=True,
        drift_state=True,
        contamination_screen=True,
        contamination_quarantine=threshold,
    )


def _run(spark, path, threshold, release_to=None, lake=None):
    """Ingest both batches under ``threshold`` (or start from a copy of
    ``lake``, a lake that already holds them under it), then optionally
    release the quarantine under ``release_to``."""
    if lake is None:
        b1, b2, bench = _data(spark)
        ing = _lake(path, threshold)
        ing.contamination.build(spark, bench)
        ing.process_batch(b1, 1)
        ing.process_batch(b2, 2)
    else:
        shutil.copytree(lake, path)
        ing = _lake(path, threshold)
    if release_to is not None:
        relaxed = _lake(path, release_to)
        relaxed.release_quarantine(spark, 3)
        return relaxed
    return ing


@pytest.fixture(scope="module")
def strict_lake(spark, tmp_path_factory):
    """Both batches ingested at the strict threshold 2 (docs 7, 8 and 15
    quarantined); tests copy it before changing it."""
    path = tmp_path_factory.mktemp("strict") / "lake"
    _run(spark, path, 2)
    return path


def _invariant_state(spark, ing):
    """The batch-order-insensitive planes (novelty/curve timing and chunk
    layout legitimately differ when docs arrive later)."""
    return {
        "corpus": sorted(
            (r.doc_id, r.text) for r in ing.read_corpus(spark).collect()
        ),
        "hashes": sorted(tuple(r) for r in ing.hashes.read(spark).collect()),
        "sigs": sorted(tuple(r) for r in ing.index.signatures(spark).collect()),
        "chunk_df": sorted(tuple(r) for r in ing.chunk_df.doc_df(spark).collect()),
        "postings": sorted(
            tuple(r) for r in ing.lexical.postings.read(spark).collect()
        ),
        "doclen": sorted(
            tuple(r) for r in ing.lexical.doclen.read(spark).collect()
        ),
        "evidence": sorted(
            tuple(r) for r in ing.contamination.evidence.read(spark).collect()
        ),
        "drift": sorted(tuple(r) for r in ing.drift.read_counts(spark).collect()),
        "quarantine": sorted(
            tuple(r) for r in ing.read_quarantine(spark).collect()
        ),
    }


def test_release_under_relaxed_policy_equals_fresh_ingest(
    spark, tmp_path, strict_lake
):
    strict, relaxed = 2, 1000
    # strict run quarantines the contaminated docs
    ing = _lake(strict_lake, strict)
    qd = {r.doc_id for r in ing.read_quarantine(spark).collect()}
    assert qd == {7, 8, 15}
    # release everything under a threshold nothing reaches
    healed = _run(
        spark, tmp_path / "released", strict, release_to=relaxed, lake=strict_lake
    )
    golden = _run(spark, tmp_path / "golden", relaxed)
    assert _invariant_state(spark, healed) == _invariant_state(spark, golden)
    assert healed.read_quarantine(spark).count() == 0
    assert healed.audit()["consistent"]


def test_release_requarantines_still_contaminated_docs(
    spark, tmp_path, strict_lake
):
    # release under the SAME strict policy: every doc is re-flagged into
    # the new batch's chunk, nothing enters the corpus, nothing is lost
    ing = _run(spark, tmp_path / "lake", 2, release_to=2, lake=strict_lake)
    q = {
        (r.doc_id, r.n_bench_shingles)
        for r in ing.read_quarantine(spark).collect()
    }
    assert {d for d, _ in q} == {7, 8, 15}
    admitted = {r.doc_id for r in ing.read_corpus(spark).collect()}
    assert admitted.isdisjoint({7, 8, 15})
    # old chunk dirs were dropped — each doc is listed exactly once
    assert len(q) == 3
    assert ing.audit()["consistent"]


def test_release_empty_quarantine_is_a_noop(spark, tmp_path):
    ing = _run(spark, tmp_path / "lake", 10_000)  # nothing flagged
    assert ing.release_quarantine(spark, 3) == 0


def test_release_requires_the_gate(spark, tmp_path):
    ing = DocIngest(str(tmp_path / "lake"), contamination_screen=True)
    with pytest.raises(ValueError, match="quarantine"):
        ing.release_quarantine(spark, 1)


def test_release_with_stale_batch_id_refuses(spark, tmp_path, strict_lake):
    # a stale id would make process_batch a silent replay no-op and the
    # cleanup would then delete the ONLY copy of the quarantined docs
    ing = _run(spark, tmp_path / "lake", 2, lake=strict_lake)
    with pytest.raises(ValueError, match="watermark"):
        ing.release_quarantine(spark, 2)
    assert {r.doc_id for r in ing.read_quarantine(spark).collect()} == {7, 8, 15}


def test_release_under_live_stream_checkpoint_refuses(
    spark, tmp_path, strict_lake
):
    # a streaming checkpoint owns the lake's batch-id space (base+epoch):
    # consuming an id here would silently drop a future crawl file
    import os

    ing = _run(spark, tmp_path / "lake", 2, lake=strict_lake)
    os.makedirs(
        os.path.join(str(tmp_path / "lake"), "_stream_checkpoint"),
        exist_ok=True,
    )
    with pytest.raises(ValueError, match="batch-id space"):
        ing.release_quarantine(spark, 3)
    assert {r.doc_id for r in ing.read_quarantine(spark).collect()} == {7, 8, 15}


def test_release_of_requarantined_recrawl_keeps_latest_text(spark, tmp_path):
    # doc 7 is quarantined by TWO crawls with different text; release
    # must re-admit ONE row — the latest crawl's text — not both (which
    # would duplicate doc_id inside one corpus chunk and double-fold
    # every plane)
    from pyspark.sql.functions import col

    b1 = spark.createDataFrame([
        Row(doc_id=7, text=_text(900), lang="en"),
        Row(doc_id=1, text=_text(1), lang="en"),
    ])
    b2 = spark.createDataFrame([
        Row(doc_id=7, text=_text(901), lang="en"),
        Row(doc_id=2, text=_text(2), lang="en"),
    ])
    bench = spark.createDataFrame([
        Row(source="src0", doc_id=900, text=_text(900)),
        Row(source="src0", doc_id=901, text=_text(901)),
    ])
    ing = DocIngest(
        str(tmp_path / "lake"),
        contamination_screen=True,
        contamination_quarantine=2,
    )
    ing.contamination.build(spark, bench)
    ing.process_batch(b1, 1)
    ing.process_batch(b2, 2)
    qrows = ing._read_quarantine_full(spark).filter(col("doc_id") == 7)
    assert qrows.count() == 2  # both crawls' rows are in the audit trail
    relaxed = DocIngest(
        str(tmp_path / "lake"),
        contamination_screen=True,
        contamination_quarantine=1000,
    )
    n = relaxed.release_quarantine(spark, 3)
    assert n == 1
    doc7 = relaxed.read_corpus(spark).filter(col("doc_id") == 7).collect()
    assert len(doc7) == 1 and doc7[0].text == _text(901)
    sigs7 = relaxed.index.signatures(spark).filter(col("doc_id") == 7)
    assert sigs7.count() == 1


def test_release_refuses_legacy_verdict_only_chunks(spark, tmp_path):
    # pre-r10 quarantine chunks held (doc_id, n_bench_shingles) only —
    # no text to re-admit; release must say so instead of crashing on a
    # missing column mid-workflow
    import os

    lake2 = str(tmp_path / "lake2")
    ing2 = DocIngest(
        lake2, contamination_screen=True, contamination_quarantine=2
    )
    ing2.contamination.build(
        spark,
        spark.createDataFrame([Row(source="src0", doc_id=900, text=_text(900))]),
    )
    spark.createDataFrame([Row(doc_id=99, n_bench_shingles=5)]).write.parquet(
        os.path.join(lake2, "quarantine", "chunk=1")
    )
    with pytest.raises(ValueError, match="verdict-only"):
        ing2.release_quarantine(spark, 1)


def test_release_on_mid_crash_lake_refuses_even_with_fresh_looking_id(
    spark, tmp_path
):
    """Round-10 advice (medium): after a mid-batch crash the HASH
    inventory is the lagging plane by design (it commits last), so
    batch_id = hashes.watermark() + 1 — exactly the id the old error
    message suggested — equals the CRASHED batch's own id. A release
    under that id would replay-overwrite docs/chunk=N (the crashed
    batch's only durable heal source) with the released set, and planes
    already at N would silently skip folding it. release_quarantine must
    refuse ANY release on an inconsistent lake and point at doctor()."""
    b1, b2, bench = _data(spark)
    ing = DocIngest(
        str(tmp_path / "lake"),
        lexical_index=True,
        drift_state=True,
        contamination_screen=True,
        contamination_quarantine=2,
    )
    ing.contamination.build(spark, bench)
    ing.process_batch(b1, 1)

    class Boom(Exception):
        pass

    orig = ing.hashes.merge_with
    ing.hashes.merge_with = lambda *a, **k: (_ for _ in ()).throw(Boom())
    with pytest.raises(Boom):
        ing.process_batch(b2, 2)  # every plane at 2, hash guard at 1
    ing.hashes.merge_with = orig
    assert not ing.audit()["consistent"]
    # the trap id: one past the hash watermark == the crashed batch's id
    with pytest.raises(ValueError, match="doctor"):
        ing.release_quarantine(spark, ing.hashes.watermark() + 1)
    # a genuinely fresh id is refused too — consistency first, always
    with pytest.raises(ValueError, match="doctor"):
        ing.release_quarantine(spark, 99)
    # heal, then the release path works and converges as usual
    assert ing.doctor(spark) == [2]
    assert ing.audit()["consistent"]
    n = ing.release_quarantine(spark, 3)
    assert n > 0
