"""Incrementally maintained near-dup components: after ANY sequence of
upserts / re-crawls / deletes, the persisted labels must equal the batch
min-label propagation over the full current signature table's LSH
candidate pairs — and the split table must obey the eval-wins stability
policy (priority monotone, no pair straddling)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from blockchain_etl_spark.operators.component_index import ComponentIndex
from blockchain_etl_spark.operators.components import propagate_min_labels
from blockchain_etl_spark.operators.lsh_index import MinHashIndex
from blockchain_etl_spark.plans.dedup import band_rows, lsh_candidate_pairs

# Deterministic corpus: mutation families produce real LSH chains (shared
# word-3-gram shingles → shared min-hashes → band collisions). Family A is
# a chain of single-word mutations; family B a separate clique; bridges
# and re-crawls are introduced per scenario below.
_WORDS = "alpha bravo charlie delta echo foxtrot golf hotel india juliet".split()


def _text(seed: int, mutations: int = 0) -> str:
    words = [_WORDS[(seed + i) % len(_WORDS)] + str((seed * 7 + i * 3) % 11) for i in range(20)]
    for m in range(mutations):
        words[(m * 5 + 2) % 20] = f"mut{seed}x{m}"
    return " ".join(words)


def _batch(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _ground_truth(spark, mh):
    sig = mh.signatures(spark)
    pairs = lsh_candidate_pairs(band_rows(sig))
    edges = pairs.select(col("doc_a").alias("src"), col("doc_b").alias("dst"))
    labels = propagate_min_labels(sig.select("doc_id"), edges, id_col="doc_id")
    return {(r.doc_id, r.label) for r in labels.collect()}


def _maintained(spark, comp):
    return {(r.doc_id, r.label) for r in comp.labels(spark).collect()}


def _edges(spark, mh):
    sig = mh.signatures(spark)
    return {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(band_rows(sig)).collect()
    }


def _mk(tmp_path, name):
    mh = MinHashIndex(str(tmp_path / f"{name}_mh"))
    return mh, ComponentIndex(str(tmp_path / f"{name}_comp"), mh)


def _ingest(spark, mh, comp, rows, wm):
    docs = _batch(spark, rows)
    mh.upsert(spark, docs, watermark=wm)
    assert comp.upsert(spark, docs.select("doc_id"), watermark=wm)


_B01 = [(0, _text(0)), (1, _text(0, 1))]


@pytest.fixture(scope="module")
def b01_root(spark, tmp_path_factory):
    """The index pair after ingesting ``_B01`` at watermark 1, built once
    per module; ``_copy_b01`` hands each test its own copy."""
    root = tmp_path_factory.mktemp("comp_b01")
    mh, comp = _mk(root, "b01")
    _ingest(spark, mh, comp, _B01, wm=1)
    return root


def _copy_b01(b01_root, tmp_path, name):
    # both indexes keep every path relative to their roots
    for part in ("mh", "comp"):
        shutil.copytree(b01_root / f"b01_{part}", tmp_path / f"{name}_{part}")
    return _mk(tmp_path, name)


def test_incremental_equals_batch_under_inserts(spark, tmp_path):
    mh, comp = _mk(tmp_path, "ins")
    # batch 1: family A = chain of mutations of seed 0; family B = exact
    # copies of seed 5
    b1 = [(0, _text(0)), (1, _text(0, 1)), (2, _text(0, 2)), (10, _text(5)), (11, _text(5))]
    _ingest(spark, mh, comp, b1, wm=1)
    assert _maintained(spark, comp) == _ground_truth(spark, mh)
    # batch 2: new members joining A (edge to doc 2's text) and a fresh
    # singleton family
    b2 = [(20, _text(0, 2)), (21, _text(9)), (22, _text(0))]
    _ingest(spark, mh, comp, b2, wm=2)
    assert _maintained(spark, comp) == _ground_truth(spark, mh)
    # the fixture must actually exercise merges: A has ≥ 4 members
    labels = dict(_maintained(spark, comp))
    family = {d for d, l in labels.items() if l == labels[0]}
    assert len(family) >= 4, family


def test_new_smaller_doc_id_becomes_the_label(spark, tmp_path):
    """Min-label invariant: a later batch's SMALLER doc id joining a
    family must relabel the whole family (anchor-map path)."""
    mh, comp = _mk(tmp_path, "minid")
    _ingest(spark, mh, comp, [(100, _text(3)), (101, _text(3))], wm=1)
    _ingest(spark, mh, comp, [(7, _text(3))], wm=2)
    got = _maintained(spark, comp)
    assert got == _ground_truth(spark, mh)
    assert (100, 7) in got and (101, 7) in got and (7, 7) in got


def test_recrawl_moves_doc_between_families(spark, tmp_path):
    """A re-crawled doc whose new text belongs to ANOTHER family must
    leave its old component (which re-derives without it) and join the
    new one — the split-then-merge case."""
    mh, comp = _mk(tmp_path, "move")
    b1 = [(0, _text(0)), (1, _text(0)), (2, _text(0)), (10, _text(5)), (11, _text(5))]
    _ingest(spark, mh, comp, b1, wm=1)
    # doc 2 re-crawled into family B's text
    _ingest(spark, mh, comp, [(2, _text(5))], wm=2)
    got = _maintained(spark, comp)
    assert got == _ground_truth(spark, mh)
    labels = dict(got)
    assert labels[2] == labels[10] and labels[2] != labels[0]


def test_recrawl_of_the_label_holder_relabels_survivors(spark, tmp_path):
    """Re-crawling the component's MIN doc (the label itself) away must
    give the survivors a fresh label = their new min member."""
    mh, comp = _mk(tmp_path, "labelmove")
    _ingest(spark, mh, comp, [(0, _text(0)), (1, _text(0)), (2, _text(0))], wm=1)
    _ingest(spark, mh, comp, [(0, _text(8))], wm=2)
    got = _maintained(spark, comp)
    assert got == _ground_truth(spark, mh)
    labels = dict(got)
    assert labels[1] == 1 and labels[2] == 1 and labels[0] == 0


def test_delete_splits_a_bridged_component(spark, tmp_path):
    """Deleting a BRIDGE doc must split its component — the bounded
    re-derive at doc grain. Families A (seed 0) and B (seed 6) share NO
    tokens (no direct band collisions possible); the bridge doc carries
    BOTH texts concatenated, so its shingle set overlaps each family and
    band-collides with both sides (verified by the one-component
    precondition below)."""
    mh, comp = _mk(tmp_path, "split")
    b1 = [
        (0, _text(0)),
        (1, _text(0)),
        (10, _text(6)),
        (11, _text(6)),
        (5, _text(0) + " " + _text(6)),  # the bridge
    ]
    _ingest(spark, mh, comp, b1, wm=1)
    assert _maintained(spark, comp) == _ground_truth(spark, mh)
    labels = dict(_maintained(spark, comp))
    assert len({labels[d] for d in (0, 1, 5, 10, 11)}) == 1, (
        f"fixture must start as ONE component: {labels}"
    )
    # delete the bridge: A and B can only reach each other through it
    victims = spark.createDataFrame([(5,)], "doc_id long")
    mh.delete(spark, victims, watermark=2)
    assert comp.delete(spark, victims, watermark=2)
    got = _maintained(spark, comp)
    assert got == _ground_truth(spark, mh)
    labels = dict(got)
    assert 5 not in labels
    assert labels[0] == labels[1] and labels[10] == labels[11]
    assert labels[0] != labels[10], "the component must SPLIT"


def test_upsert_replay_is_noop_and_deterministic(spark, tmp_path):
    mh, comp = _mk(tmp_path, "replay")
    b1 = [(0, _text(0)), (1, _text(0))]
    _ingest(spark, mh, comp, b1, wm=1)
    before = _maintained(spark, comp)
    v = comp.labels_t.current_version()
    docs = _batch(spark, b1)
    mh.upsert(spark, docs, watermark=1)
    assert not comp.upsert(spark, docs.select("doc_id"), watermark=1)
    assert comp.labels_t.current_version() == v
    assert _maintained(spark, comp) == before


def test_random_history_incremental_equals_batch(spark, tmp_path):
    """Torture: a multi-batch history mixing fresh inserts, family joins,
    re-crawls across families, and deletes — incremental ≡ batch at every
    step."""
    mh, comp = _mk(tmp_path, "hist")
    history = [
        [(i, _text(i % 4, i % 3)) for i in range(8)],
        [(i, _text(i % 4, i % 2)) for i in range(8, 14)] + [(3, _text(9))],
        [(20, _text(9)), (21, _text(9, 1)), (4, _text(1, 1))],
        "DELETE:2,9,20",
        [(30, _text(0)), (2, _text(0, 1))],
    ]
    for wm, step in enumerate(history, start=1):
        if isinstance(step, str):
            ids = [(int(x),) for x in step.split(":")[1].split(",")]
            victims = spark.createDataFrame(ids, "doc_id long")
            mh.delete(spark, victims, watermark=wm)
            assert comp.delete(spark, victims, watermark=wm)
        else:
            _ingest(spark, mh, comp, step, wm=wm)
        assert _maintained(spark, comp) == _ground_truth(spark, mh), f"step {wm}"


# --------------------------------------------------------------------- splits


def test_splits_match_batch_rule_and_pairs_never_straddle(spark, tmp_path):
    mh, comp = _mk(tmp_path, "sp")
    _ingest(spark, mh, comp, [(i, _text(i % 3, i % 2)) for i in range(10)], wm=1)
    _ingest(spark, mh, comp, [(10, _text(0)), (11, _text(7))], wm=2)
    sp = {r.doc_id: (r.component_id, r.split) for r in comp.splits(spark).collect()}
    # every candidate pair shares a component → shares a split
    for a, b in _edges(spark, mh):
        assert sp[a][1] == sp[b][1], (a, b)
    # a never-merged component's split equals the batch md5 rule
    from blockchain_etl_spark.operators.component_index import _fresh_split

    comp_ids = {c for c, _ in sp.values()}
    fresh = {
        r.component_id: r.split
        for r in spark.createDataFrame(
            [(c,) for c in comp_ids], "component_id long"
        ).select("component_id", _fresh_split("component_id").alias("split")).collect()
    }
    # with no cross-split merges in this fixture, all splits are the pure
    # hash of the component id (trivially true when everything is train;
    # the eval-wins override is exercised in the dedicated test below)
    for doc, (c, s) in sp.items():
        assert s == fresh[c] or s in ("val", "test"), (doc, c, s)


def test_eval_wins_when_components_merge(spark, tmp_path):
    """Merging a train-component with a test-component must relabel the
    whole family test (never the reverse) — priority monotone."""
    mh, comp = _mk(tmp_path, "evalwins")
    _ingest(spark, mh, comp, [(100, _text(3)), (200, _text(6))], wm=1)
    # force known stored splits for the two singleton components
    forced = comp.labels_t.read(spark).withColumn(
        "split", F.when(col("label") == 100, "train").otherwise("test")
    )
    comp.labels_t.merge_with(spark, forced, lambda _t, u: u)
    # doc 50 bridges both families (exact text of one, re-crawled later
    # to... a doc cannot carry two texts; instead add two bridges that
    # are exact dups of each family and a third doc linking the bridges)
    # simplest forced merge: new doc 50 with family-3 text, then re-crawl
    # doc 100 to family-6 text — 100 stays linked to 50? No: 100 leaves.
    # Use doc 50 = family-3 text (joins 100), then re-crawl 50 to
    # family-6 text (joins 200) — the merge happens only if 50 keeps a
    # foot in both, which a re-crawl forbids. The honest merge: a NEW doc
    # whose text near-dups BOTH. Families 3 and 6 share no shingles, so
    # instead merge via doc 100 itself: re-crawl 100 to family-6 text —
    # component {100, 200}: parents = {100: train, 200: test} → test.
    docs = _batch(spark, [(100, _text(6))])
    mh.upsert(spark, docs, watermark=2)
    assert comp.upsert(spark, docs.select("doc_id"), watermark=2)
    sp = {r.doc_id: r.split for r in comp.splits(spark).collect()}
    labels = dict(_maintained(spark, comp))
    assert labels[100] == labels[200] == 100
    assert sp[100] == "test" and sp[200] == "test"
    # and the stored state row for the surviving component carries test
    stored = {
        r.component_id: r.split for r in comp.splits(spark).collect()
    }
    assert stored.get(100) == "test"


def test_split_priority_monotone_over_history(spark, tmp_path):
    """A document's split priority never decreases across an arbitrary
    maintained history."""
    from blockchain_etl_spark.operators.component_index import _PRIORITY

    mh, comp = _mk(tmp_path, "mono")
    seen: dict[int, int] = {}
    history = [
        [(i, _text(i % 3)) for i in range(9)],
        [(20, _text(0, 1)), (21, _text(1, 1))],
        [(1, _text(2))],  # re-crawl across families
        [(30, _text(2)), (31, _text(0))],
    ]
    for wm, step in enumerate(history, start=1):
        _ingest(spark, mh, comp, step, wm=wm)
        for r in comp.splits(spark).collect():
            p = _PRIORITY[r.split]
            assert p >= seen.get(r.doc_id, 0), (wm, r.doc_id, r.split)
            seen[r.doc_id] = p


def test_docingest_hook_maintains_components(spark, tmp_path):
    """DocIngest(component_index=True) keeps the labels equal to the batch
    recompute across streamed batches incl. a re-crawl, and replays are
    no-ops."""
    from blockchain_etl_spark.streaming.docs import DocIngest

    ing = DocIngest(str(tmp_path / "ingest"), component_index=True)
    long_tail = " ".join(f"tail{i}word{i * 13 % 7}" for i in range(200))

    def rows(specs):
        # texts must clear DocIngest's quality gate (≥10 tokens, diverse)
        return [(i, f"{_text(s, m)} {long_tail} uniq{i}") for i, s, m in specs]

    b1 = rows([(0, 0, 0), (1, 0, 0), (2, 5, 0), (3, 5, 1)])
    b2 = rows([(10, 0, 1), (11, 9, 0)])
    ing.process_batch(_batch(spark, b1), batch_id=1)
    ing.process_batch(_batch(spark, b2), batch_id=2)
    assert _maintained(spark, ing.components) == _ground_truth(spark, ing.index)
    # replay batch 2 — fully committed → guard returns before any work
    before = ing.components.labels_t.current_version()
    ing.process_batch(_batch(spark, b2), batch_id=2)
    assert ing.components.labels_t.current_version() == before
    # re-crawl doc 1 into family 9 (new text → new hash → passes dedup)
    b3 = rows([(1, 9, 0)])
    ing.process_batch(_batch(spark, b3), batch_id=3)
    assert _maintained(spark, ing.components) == _ground_truth(spark, ing.index)
    labels = dict(_maintained(spark, ing.components))
    assert labels[1] == labels[11]


def test_surviving_label_keeps_its_higher_priority_split(spark, tmp_path):
    """A component that keeps its label while absorbing an anchor-mapped
    family must not fall back to the absorbed family's lower-priority
    split: candidates = mapped parents ∪ the survivor's OWN stored split."""
    mh, comp = _mk(tmp_path, "ownwins")
    # two disjoint-vocab singletons; 100 will keep the merged label
    _ingest(spark, mh, comp, [(100, _text(0)), (200, _text(6))], wm=1)
    forced = comp.labels_t.read(spark).withColumn(
        "split", F.when(col("label") == 100, "test").otherwise("train")
    )
    comp.labels_t.merge_with(spark, forced, lambda _t, u: u)
    # a NEW doc bridging both families (carries both texts): 200 enters
    # the propagation as an anchor; 100's own component is untouched by
    # any re-crawl, so no member pair carries its split — only the fix's
    # "own" candidate does
    _ingest(spark, mh, comp, [(300, _text(0) + " " + _text(6))], wm=2)
    labels = dict(_maintained(spark, comp))
    assert labels[100] == labels[200] == labels[300] == 100
    sp = {r.doc_id: r.split for r in comp.splits(spark).collect()}
    assert sp == {100: "test", 200: "test", 300: "test"}, sp


def test_bootstrap_on_populated_index_raises(spark, tmp_path):
    """Attaching a fresh ComponentIndex to an already-populated MinHash
    index must fail loudly — the prev-None bootstrap only links the
    batch's own edges, so the pre-existing corpus would silently stay
    unlabeled and near-dup pairs could straddle split boundaries."""
    import pytest

    mh, comp = _mk(tmp_path, "boot")
    mh.upsert(spark, _batch(spark, [(0, _text(0)), (1, _text(0))]), watermark=1)
    mh.upsert(spark, _batch(spark, [(2, _text(5))]), watermark=2)
    late = _batch(spark, [(2, _text(5))])
    with pytest.raises(ValueError, match="already[\\s\\S]*holds documents"):
        comp.upsert(spark, late.select("doc_id"), watermark=2)
    # backfilling the full corpus as the first batch works
    all_ids = spark.createDataFrame([(0,), (1,), (2,)], "doc_id long")
    assert comp.upsert(spark, all_ids, watermark=2)
    assert _maintained(spark, comp) == _ground_truth(spark, mh)


def _splits(spark, comp):
    return {(r.doc_id, r.component_id, r.split)
            for r in comp.splits(spark).collect()}


def test_coalesced_catchup_equals_sequential_upserts(spark, tmp_path):
    """upsert_coalesced over N pending insert-only batches must publish
    exactly the sequential per-batch state — labels AND eval-wins splits
    (the per-step component labels feeding the split policy are
    reproduced in memory, including cross-batch family merges)."""
    b1 = [(50, _text(0)), (51, _text(0, 1)), (60, _text(5))]
    b2 = [(40, _text(0)), (61, _text(5)), (70, _text(9))]
    b3 = [(30, _text(9)), (31, _text(0, 1))]

    mh_s, comp_s = _mk(tmp_path, "seq")
    for wm, rows in ((1, b1), (2, b2), (3, b3)):
        _ingest(spark, mh_s, comp_s, rows, wm=wm)

    # the component index only reads the MinHash index, so the signature
    # state the three upserts leave is the sequential run's: copy it
    shutil.copytree(tmp_path / "seq_mh", tmp_path / "coal_mh")
    mh_c, comp_c = _mk(tmp_path, "coal")
    assert comp_c.upsert_coalesced(
        spark,
        [(wm, _batch(spark, rows).select("doc_id"))
         for wm, rows in ((1, b1), (2, b2), (3, b3))],
    )
    assert _splits(spark, comp_c) == _splits(spark, comp_s)
    assert comp_c.labels_t.watermark() == 3
    assert _maintained(spark, comp_c) == _ground_truth(spark, mh_c)
    # merges actually happened across batches: doc 50's family absorbed a
    # later batch's smaller id (the anchor-relabel path ran)
    labels = dict(_maintained(spark, comp_c))
    assert labels[50] < 50


def test_coalesced_catchup_on_existing_state(spark, tmp_path, b01_root):
    """Catch-up on top of already-published state: stored components act
    as anchors, exactly as in sequential maintenance."""
    seqs = [(1, _B01),
            (2, [(10, _text(5)), (2, _text(0))]),
            (3, [(11, _text(5)), (20, _text(9))])]
    mh_s, comp_s = _copy_b01(b01_root, tmp_path, "seq2")
    for wm, rows in seqs[1:]:
        _ingest(spark, mh_s, comp_s, rows, wm=wm)

    # the published base state's labels, and the signatures the
    # sequential run's upserts left (the component index only reads them)
    shutil.copytree(b01_root / "b01_comp", tmp_path / "coal2_comp")
    shutil.copytree(tmp_path / "seq2_mh", tmp_path / "coal2_mh")
    mh_c, comp_c = _mk(tmp_path, "coal2")
    assert comp_c.upsert_coalesced(
        spark,
        [(wm, _batch(spark, rows).select("doc_id")) for wm, rows in seqs[1:]],
    )
    assert _splits(spark, comp_c) == _splits(spark, comp_s)
    assert _maintained(spark, comp_c) == _ground_truth(spark, mh_c)


def test_coalesced_catchup_skips_replayed_batches(spark, tmp_path, b01_root):
    seqs = [(1, _B01), (2, [(2, _text(0))])]
    mh, comp = _copy_b01(b01_root, tmp_path, "repl")
    _ingest(spark, mh, comp, seqs[1][1], wm=2)
    before = _splits(spark, comp)
    # everything at or below the stored watermark: a no-op
    assert not comp.upsert_coalesced(
        spark,
        [(wm, _batch(spark, rows).select("doc_id")) for wm, rows in seqs],
    )
    assert _splits(spark, comp) == before


def test_coalesced_catchup_rejects_non_inserts(spark, tmp_path, b01_root):
    mh, comp = _copy_b01(b01_root, tmp_path, "rej")
    # re-crawl of an indexed id must be rejected (needs per-step text)
    mh.upsert(spark, _batch(spark, [(0, _text(5))]), watermark=2)
    with pytest.raises(ValueError, match="insert-only"):
        comp.upsert_coalesced(
            spark, [(2, _batch(spark, [(0, _text(5))]).select("doc_id"))]
        )
    # an id repeated across steps must be rejected too
    mh2, comp2 = _mk(tmp_path, "rej2")
    mh2.upsert(spark, _batch(spark, [(5, _text(3))]), watermark=1)
    mh2.upsert(spark, _batch(spark, [(5, _text(3))]), watermark=2)
    with pytest.raises(ValueError, match="insert-only"):
        comp2.upsert_coalesced(
            spark,
            [(1, _batch(spark, [(5, _text(3))]).select("doc_id")),
             (2, _batch(spark, [(5, _text(3))]).select("doc_id"))],
        )


def test_coalesced_prefix_of_backlog_raises(spark, tmp_path):
    """upsert_coalesced hides NOT-yet-applied later batches by
    anti-joining the PASSED batches — so signatures outside
    state ∪ passed batches (a caller coalescing only a prefix of its
    pending backlog) would create candidate edges early and could
    publish labels referencing docs with no label row. The coverage
    guard must refuse instead of silently corrupting."""
    import pytest

    mh, comp = _mk(tmp_path, "prefix")
    b1 = _batch(spark, [(1, _text(1)), (2, _text(1, 1))])
    b2 = _batch(spark, [(3, _text(50))])
    b3 = _batch(spark, [(4, _text(1, 2))])  # near-dup of family A
    for wm, b in ((1, b1), (2, b2), (3, b3)):
        mh.upsert(spark, b, watermark=wm)
    # signature table holds batches 1-3; coalescing only 1-2 must refuse
    with pytest.raises(ValueError, match="pending backlog"):
        comp.upsert_coalesced(
            spark, [(1, b1.select("doc_id")), (2, b2.select("doc_id"))]
        )
    # the full backlog passes and equals ground truth
    assert comp.upsert_coalesced(
        spark,
        [(1, b1.select("doc_id")), (2, b2.select("doc_id")),
         (3, b3.select("doc_id"))],
    )
    assert _maintained(spark, comp) == _ground_truth(spark, mh)


# ------------------------------------------------------- union-find boundary


def test_distributed_fallback_equals_driver_union_find(spark, tmp_path, monkeypatch):
    """The fold's propagate_min_labels has two lanes: driver union-find
    when the fold's subgraph collects under _GRAPH_DRIVER_CAP, the
    distributed loop above it. The fallback must stay alive and
    bit-identical: run the SAME multi-batch history (merges, family
    joins, a re-crawl) with the cap monkeypatched to -1 — every fold
    takes the distributed branch (proven by spying the union-find helper,
    which must never fire) — and the final labels must equal both the
    fast-path run's labels and the batch ground truth. The same spy shows
    that the fast-path run, at a 200000 cap, does take the union-find."""
    from blockchain_etl_spark.operators import components as components_mod

    history = [
        [(0, _text(0)), (1, _text(0, 1)), (10, _text(5)), (11, _text(5))],
        [(20, _text(0, 2)), (2, _text(0))],
        [(5, _text(5, 1)), (30, _text(9))],
    ]

    def run(name):
        mh, comp = _mk(tmp_path, name)
        for wm, rows in enumerate(history, start=1):
            _ingest(spark, mh, comp, rows, wm=wm)
        return _maintained(spark, comp), _ground_truth(spark, mh)

    calls = []
    real_uf = components_mod._driver_union_find

    def spy(nodes, edges):
        calls.append(len(edges))
        return real_uf(nodes, edges)

    monkeypatch.setattr(components_mod, "_driver_union_find", spy)
    monkeypatch.setattr(components_mod, "_GRAPH_DRIVER_CAP", 200_000)
    fast, truth_fast = run("uf_fast")
    assert fast == truth_fast
    assert calls, "a 200000 cap must route bounded folds to the union-find"

    calls.clear()
    monkeypatch.setattr(components_mod, "_GRAPH_DRIVER_CAP", -1)
    slow, truth_slow = run("uf_dist")
    assert calls == [], "cap=-1 must force the distributed branch"
    assert slow == truth_slow == fast
