"""Incrementally maintained near-dup connected components — the streaming
face of dedup_components / corpus_leakage_safe_splits (plans/pipeline.py).

At 100 TB you cannot re-propagate the whole candidate graph every time a
crawl lands, yet the leakage-safe split assignment is a function of the
COMPONENT — stale labels silently scatter a near-dup family across
train/test. This operator keeps a persisted (doc_id, label) table exactly
equal to the batch min-label propagation over the CURRENT MinHash index's
LSH candidate edges, with per-batch work bounded by the batch and its
affected components:

- INSERTS are monotone: fresh docs' band collisions against the stored
  index (probe-sized band join) yield new edges; components only MERGE.
  Merges are applied at LABEL grain — each untouched existing component
  enters the propagation as ONE anchor node (its label), so the per-batch
  graph is |batch| + |touched anchors| nodes, never the corpus.
- RE-CRAWLS and DELETES can SPLIT a component (edges vanish with the old
  signature). The affected components — exactly the groups whose label is
  carried by a re-crawled/deleted doc — are re-derived at doc grain from
  the stored signatures of their members only (bounded rescan, the same
  treatment cdc_view.py gives retracted extrema), while every other
  component rides through untouched or via the label map.

Invariant (property-tested in tests/test_component_index.py): after any
sequence of upserts / re-crawls / deletes, ``labels()`` equals
``propagate_min_labels`` over the full current signature table's candidate
pairs. Label = min doc_id in the component, singletons label themselves.

Split stability: ``SplitAssignment`` keys train/val/test on the component
with an EVAL-WINS merge policy — when components with different splits
merge, the merged family takes the highest-priority split
(test > val > train), so a document's split priority is monotone
non-decreasing and no near-dup pair ever straddles an eval boundary in
the train-contaminating direction. A component SPLIT (re-crawl removed
the bridge) leaves both halves on the old component's split —
conservative: they co-mingled historically. Brand-new components get the
same md5-ppm bucket rule as the batch corpus_leakage_safe_splits.

Reference parity note: the reference has no streaming dedup; this is part
of the LLM-training-data surface the assignment adds on top of
helium/blockchain-etl's ETL semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from ..plans.dedup import band_rows, lsh_candidate_pairs
from .components import propagate_min_labels
from .lsh_index import MinHashIndex
from .merge import ParquetMergeTarget

# split buckets: md5 ppm of the component id — MUST stay identical to
# corpus_leakage_safe_splits (plans/pipeline.py) so a fresh component's
# assignment matches the batch rule.
_SPLIT_EXPR = (
    "CAST(conv(substring(md5(CAST(component_id AS STRING)), 1, 6), 16, 10) "
    "AS BIGINT) % 1000"
)
_PRIORITY = {"train": 0, "val": 1, "test": 2}


def _fresh_split(c):
    b = F.expr(_SPLIT_EXPR.replace("component_id", c))
    return F.when(b < 900, "train").when(b < 950, "val").otherwise("test")


# Above this many collected rows, the maintenance subgraph falls back to
# distributed propagation. The incremental fold's graph is |batch| +
# touched anchors BY DESIGN (module docstring) — a few thousand rows at
# gate scale, bounded by the crawl batch in production — so it usually
# fits the same budget as a broadcast side and a driver union-find
# replaces an O(diameter)-round job loop with two collect jobs. The cap
# keeps the path safe when a caller feeds a genuinely huge batch.
# union-find fast path shared with the batch propagation: the cap and
# solver now live beside the distributed loop (operators/components.py);
# re-exported here because tests and the fold route reference them as
# module attributes of this file.
from . import components as _components  # noqa: E402
from .components import _driver_union_find  # noqa: E402


def _propagate_with_singletons(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Min-label propagation restricted to EDGE ENDPOINTS — the per-round
    shuffles move only the near-dup subgraph, never every singleton in
    ``nodes`` (which is the vast majority of any real corpus batch). Edge
    endpoints outside ``nodes`` (anchor labels) ride along; ``nodes``
    members without edges label themselves outside the loop.

    Fast path: the fold's subgraph is bounded (batch + touched anchors),
    so when it collects under _GRAPH_DRIVER_CAP rows the components are
    solved with a driver-side union-find — the same class of move as
    broadcasting a bounded join side, replacing the O(diameter) round
    loop (one Spark job per round) with two bounded collects. Labels are
    identical by construction (min reachable id); the distributed loop
    remains the fallback for oversized batches and the cold corpus build
    (plans/pipeline.py uses propagate_min_labels directly)."""
    spark = nodes.sparkSession
    # Checkpoint BEFORE sizing: a bare limit(cap).collect() would run
    # CollectLimit's escalating partial waves, each recomputing the
    # band-join lineage from scratch. ONE union-of-aggregates job
    # materializes both checkpoints (fold jobs are the gates' cost
    # floor — two separate counts would pay two scheduling round
    # trips); the collects below then read cached blocks.
    e = edges.select("src", "dst").localCheckpoint(eager=False)
    n_nodes = nodes.select("doc_id").localCheckpoint(eager=False)
    sizes = (
        e.agg(F.count(F.lit(1)).alias("n"))
        .unionAll(n_nodes.agg(F.count(F.lit(1)).alias("n")))
        .collect()
    )
    cap = _components._GRAPH_DRIVER_CAP
    if sizes[0].n <= cap and sizes[1].n <= cap:
        from ..functions.localframe import local_df

        # ONE tagged collect for both bounded frames (the checkpoints
        # are already materialized by the sizes job, but each collect
        # still pays a scheduling round trip — the gates' cost unit)
        both = (
            e.select(col("src"), col("dst"))
            .unionByName(
                n_nodes.select(
                    col("doc_id").alias("src"),
                    F.lit(None).cast("long").alias("dst"),
                )
            )
            .collect()
        )
        edge_rows = [(r[0], r[1]) for r in both if r[1] is not None]
        node_rows = [r[0] for r in both if r[1] is None]
        labeled = _driver_union_find(node_rows, edge_rows)
        # Arrow path (local_df), NOT createDataFrame(list): a plain-list
        # local relation executes through a Python-worker scan stage that
        # costs seconds per materialization in the fold's downstream
        # joins; the Arrow-converted frame is JVM-side at execution.
        out = local_df(spark, labeled, "doc_id long, label long").coalesce(1)
        return out.localCheckpoint(eager=False)
    edges, nodes = e, n_nodes
    endpoints = (
        edges.select(col("src").alias("doc_id"))
        .unionByName(edges.select(col("dst").alias("doc_id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # batch-sized subgraph: clamp the loop frames (see propagate_min_labels)
    labels_p = propagate_min_labels(
        endpoints, edges, id_col="doc_id", loop_partitions=8,
        # the same cap as above: endpoints can be bounded even when the
        # batch node set overflowed it
        driver_cap=cap,
    )
    singles = nodes.join(endpoints, ["doc_id"], "left_anti").select(
        "doc_id", col("doc_id").alias("label")
    )
    return labels_p.unionByName(singles).localCheckpoint(eager=False)


class ComponentIndex:
    """Persisted (doc_id, label, split) component table maintained beside
    a MinHashIndex — the split rides the SAME state rows as the label, so
    each batch publishes through ONE watermarked merge commit (and the
    split read is a projection, not a join).

    Call order contract per batch (DocIngest keeps it): the MinHashIndex
    absorbs the batch FIRST (upsert/delete), then ``upsert``/``delete``
    here with the same watermark — maintenance reads the signatures that
    already include the batch."""

    def __init__(self, path: str, mh_index: MinHashIndex):
        self.labels_t = ParquetMergeTarget(os.path.join(path, "labels"))
        self.mh = mh_index

    # ------------------------------------------------------------------ API

    def upsert(
        self,
        spark: SparkSession,
        doc_ids: DataFrame,
        watermark: int | None = None,
        hidden_ids: DataFrame | None = None,
    ) -> bool:
        """Fold a batch's documents (frame with a doc_id column — their
        signatures must already be in the MinHash index) into the label
        table. Handles both fresh ids and re-crawled ids (whose old edges
        may have vanished with their old signature). Returns False on a
        watermark-replayed batch. ``hidden_ids``: doc ids whose
        signatures must NOT be visible to this fold — a catch-up caller
        (DocIngest.doctor) replaying history while the signature table
        is already ahead hides the later batches so the fold sees
        exactly the signature set the original step saw."""
        if watermark is not None and watermark <= self.labels_t.watermark():
            return False
        ids = doc_ids.select("doc_id").distinct().localCheckpoint(eager=False)
        state = self._fold(
            spark,
            self.labels_t.read(spark),
            batch_ids=ids,
            deleted_ids=None,
            hidden_ids=hidden_ids,
        )
        self.labels_t.merge_with(
            spark, state, lambda _t, u: u, watermark=watermark
        )
        return True

    def delete(
        self, spark: SparkSession, doc_ids: DataFrame, watermark: int | None = None
    ) -> bool:
        """Remove documents: their label rows go, and the components they
        held together are re-derived (a delete can SPLIT a family). The
        MinHash index must have dropped their signatures first."""
        if watermark is not None and watermark <= self.labels_t.watermark():
            return False
        ids = doc_ids.select("doc_id").distinct().localCheckpoint(eager=False)
        state = self._fold(
            spark, self.labels_t.read(spark), batch_ids=None, deleted_ids=ids
        )
        self.labels_t.merge_with(
            spark, state, lambda _t, u: u, watermark=watermark
        )
        return True

    def upsert_coalesced(
        self,
        spark: SparkSession,
        batches: "list[tuple[int, DataFrame]]",
    ) -> bool:
        """Catch-up fold: apply several pending INSERT-ONLY batches'
        step-by-step maintenance in memory and publish ONCE — the same
        final (doc_id, label, split) state as sequential ``upsert`` calls
        (property-tested in tests/test_component_index.py), minus the
        intermediate merge-target versions and their write/read round
        trips. This is the component-index face of the CDC plane's
        coalesced catch-up (operators/cdc_view.py): a follower that fell
        N crawls behind heals in one fold, and the split-history
        semantics (per-step component labels feeding the eval-wins
        policy) are preserved because each step still folds separately —
        only durability is batched.

        Restriction: every doc id must be NEW (not in the stored state,
        not repeated across ``batches``). A re-crawl or delete changes
        which signature text each step should see, and the MinHash index
        only holds the CURRENT text — replaying such a step here would
        silently diverge from the sequential history. Those batches must
        go through ``upsert``/``delete`` in order; this method raises
        ``ValueError`` if the restriction is violated.

        ``batches``: [(watermark, ids_frame), ...] in watermark order.
        Batches at or below the stored high-mark are skipped (replay).
        Because the signature table already contains every batch, each
        step restricts its candidate-edge view to the doc ids seen so
        far — a later batch's signatures must not create edges early."""
        wm0 = self.labels_t.watermark()
        todo = [
            (wm, b.select("doc_id").distinct()) for wm, b in batches if wm > wm0
        ]
        if not todo:
            return False
        if [wm for wm, _ in todo] != sorted({wm for wm, _ in todo}):
            raise ValueError("upsert_coalesced: watermarks must be "
                             "strictly increasing")
        state = self.labels_t.read(spark)
        # insert-only guard, ONE probe: ids already stored or repeated
        # across steps would need per-step signature history
        all_ids = todo[0][1]
        for _, ids in todo[1:]:
            all_ids = all_ids.unionByName(ids)
        dup = all_ids.groupBy("doc_id").count().filter(col("count") > 1)
        stored = (
            state.select("doc_id").join(all_ids, ["doc_id"], "left_semi")
            if state is not None
            else None
        )
        probe = dup.select("doc_id") if stored is None else (
            dup.select("doc_id").unionByName(stored)
        )
        # signature-coverage guard: each step hides the NOT-yet-applied
        # LATER batches (anti-join), which assumes the signature table
        # holds exactly state ∪ passed batches. A caller coalescing only
        # a PREFIX of its pending backlog would leave the un-passed
        # batches' signatures visible to every step — edges created
        # early, and endpoints with no label row could become component
        # minima (the old visible-set semi-join made them invisible; the
        # anti-join form must check instead). Both guards — insert-only
        # and coverage — run as ONE tagged probe job, ids only.
        sig_ids = self.mh.signatures(spark).select("doc_id")
        covered = all_ids if state is None else all_ids.unionByName(
            state.select("doc_id")
        )
        uncovered = sig_ids.join(covered, ["doc_id"], "left_anti")
        # one aggregate job over the tagged union: both guard flags land
        # deterministically (take(1) would report whichever union partition
        # yields a row first — wrong triage when both guards trip)
        flags = (
            probe.select(F.lit("insert_only").alias("why"))
            .unionByName(uncovered.select(F.lit("uncovered").alias("why")))
            .agg(
                F.max(F.when(col("why") == "insert_only", True)).alias("io"),
                F.max(F.when(col("why") == "uncovered", True)).alias("uc"),
            )
            .collect()[0]
        )
        if flags.io:
            raise ValueError(
                "upsert_coalesced is insert-only: a doc id is already "
                "indexed or appears in more than one batch — replay those "
                "batches through upsert()/delete() in order instead"
            )
        if flags.uc:
            raise ValueError(
                "upsert_coalesced: the MinHash index holds documents "
                "outside the stored state and the passed batches — pass "
                "the FULL pending backlog (their signatures would create "
                "candidate edges early and corrupt labels), or replay "
                "through upsert() in order"
            )
        # the signature table is already final: hash it into band rows
        # ONCE for every step's candidate-edge view
        bands = band_rows(self.mh.signatures(spark)).localCheckpoint(
            eager=False
        )
        # Each step must see stored ∪ batches-so-far. Expressed as an
        # ANTI-join against the not-yet-applied LATER batches (suffix
        # unions, batch-sized and shrinking) rather than a semi-join
        # against the cumulative seen set — the seen set is corpus-sized
        # once state exists, and broadcasting it would OOM at the
        # large-corpus regime; the later set never exceeds the pending
        # backlog the caller just handed us.
        id_frames = [
            ids.localCheckpoint(eager=False) for _, ids in todo
        ]
        laters: "list[DataFrame]" = [None] * len(id_frames)  # type: ignore[list-item]
        laters[-1] = spark.createDataFrame([], "doc_id long")
        for i in range(len(id_frames) - 2, -1, -1):
            laters[i] = id_frames[i + 1].unionByName(laters[i + 1])
        for i, ids in enumerate(id_frames):
            state = self._fold(
                spark,
                state,
                batch_ids=ids,
                deleted_ids=None,
                hidden_ids=laters[i],
                insert_only=True,
                bands=bands,
            ).localCheckpoint(eager=False)
        self.labels_t.merge_with(
            spark, state, lambda _t, u: u, watermark=todo[-1][0]
        )
        return True

    def labels(self, spark: SparkSession) -> DataFrame | None:
        """(doc_id, label) for every indexed document."""
        t = self.labels_t.read(spark)
        return None if t is None else t.select("doc_id", "label")

    def splits(self, spark: SparkSession) -> DataFrame | None:
        """(doc_id, component_id, split) under the eval-wins stability
        policy — a pure projection of the maintained state."""
        t = self.labels_t.read(spark)
        if t is None:
            return None
        return t.select("doc_id", col("label").alias("component_id"), "split")

    # ----------------------------------------------------------- maintenance

    def _fold(
        self,
        spark: SparkSession,
        prev: DataFrame | None,
        batch_ids: DataFrame | None,
        deleted_ids: DataFrame | None,
        hidden_ids: DataFrame | None = None,
        insert_only: bool = False,
        bands: DataFrame | None = None,
    ) -> DataFrame:
        """One maintenance step as a pure frame fold: returns the new
        (doc_id, label, split) state after applying the batch to ``prev``
        — no publish, so sequential upserts and the coalesced catch-up
        share this code verbatim. ``hidden_ids`` HIDES the given doc ids
        from the candidate-edge view (coalesced mode, where the signature
        table is ahead of the fold: the not-yet-applied later batches
        must not create edges early — an anti-join on the batch-sized
        pending set, never a broadcast of the corpus-sized visible set);
        ``insert_only`` skips the re-crawl probe when the caller has
        proven the batch is fresh; ``bands`` lets the coalesced loop hash
        the signature table into band rows ONCE for all steps."""
        if bands is None:
            sig = self.mh.signatures(spark)
            bands_all = band_rows(sig)
        else:
            bands_all = bands
        if hidden_ids is not None:
            bands_all = bands_all.join(
                F.broadcast(hidden_ids), ["doc_id"], "left_anti"
            )

        empty_ids = spark.createDataFrame([], "doc_id long")
        batch_ids = batch_ids if batch_ids is not None else empty_ids
        deleted_ids = deleted_ids if deleted_ids is not None else empty_ids

        if prev is None:
            # first batch: the signature table must contain ONLY this
            # batch — attaching a fresh ComponentIndex to an ALREADY
            # POPULATED MinHashIndex would silently drop every
            # batch-to-corpus edge and leave the old corpus unlabeled
            # (near-dup pairs could then straddle split boundaries with
            # no error). Backfill by upserting the existing corpus ids as
            # the first batch instead.
            # The probe reads the SIGNATURE table — one row per
            # doc, ids-only column-pruned scan — never the band rows: a
            # band-row probe would materialize the docs x n_bands band
            # checkpoint as its first job just to answer an id-set
            # question (measured ~2s of pure probe cost on the sf0.1
            # splits gate). In coalesced mode (insert_only=True) the
            # probe is SKIPPED: upsert_coalesced already proved
            # sig_ids ⊆ state ∪ passed batches before the first step,
            # and with prev None and the later batches hidden that is
            # exactly this check — one probe job saved per cold build.
            if not insert_only:
                sig_ids = self.mh.signatures(spark).select("doc_id")
                if hidden_ids is not None:
                    sig_ids = sig_ids.join(
                        F.broadcast(hidden_ids), ["doc_id"], "left_anti"
                    )
                orphan = sig_ids.join(batch_ids, ["doc_id"], "left_anti")
                if orphan.take(1):
                    raise ValueError(
                        "ComponentIndex bootstrap: the MinHash index "
                        "already holds documents outside this first batch "
                        "— labels would silently omit them. Upsert the "
                        "full existing corpus as the first component "
                        "batch (or start both indexes together)."
                    )
            edges = lsh_candidate_pairs(
                bands_all.join(F.broadcast(batch_ids), ["doc_id"])
            ).select(col("doc_a").alias("src"), col("doc_b").alias("dst"))
            new_labels = _propagate_with_singletons(batch_ids, edges)
            return self._merged_state(new_labels, label_pairs=None, prev=None)

        # prev is parquet-backed — consumers re-scan the published
        # version directly; a checkpoint here would only add a job
        # A = previously-indexed docs whose edge set changed (re-crawled or
        # deleted); their components must be re-derived at doc grain. The
        # common streaming case — pure inserts — has no such docs, and
        # skips the whole re-derive arm (and its jobs).
        changed = batch_ids.unionByName(deleted_ids)
        changed_prev = prev.join(F.broadcast(changed), ["doc_id"]).localCheckpoint(
            eager=False
        )
        has_changed = False if insert_only else bool(changed_prev.take(1))
        live_batch = (
            batch_ids.join(deleted_ids, ["doc_id"], "left_anti")
            if has_changed
            else batch_ids
        )
        if has_changed:
            affected_labels = changed_prev.select("label").distinct()
            # M = every member of an affected component, minus deletions
            members = (
                prev.join(F.broadcast(affected_labels), ["label"])
                .select("doc_id")
                .join(deleted_ids, ["doc_id"], "left_anti")
                .localCheckpoint(eager=False)
            )
            new_ids = batch_ids.join(prev.select("doc_id"), ["doc_id"], "left_anti")
            # Re-derived subgraph: candidate pairs WITHIN the affected
            # members (bounded by the touched components' band rows).
            bands_m = bands_all.join(F.broadcast(members), ["doc_id"])
            edges_m = lsh_candidate_pairs(bands_m).select(
                col("doc_a").alias("src"), col("doc_b").alias("dst")
            )
            in_doc_grain = (
                members.unionByName(new_ids).unionByName(live_batch).distinct()
            )
        else:
            members = None
            edges_m = None
            in_doc_grain = live_batch  # every batch id is new

        # Fresh edges: batch band rows against the WHOLE stored index
        # (probe-sized). Covers batch↔batch and batch↔corpus pairs.
        bands_b = bands_all.join(F.broadcast(live_batch), ["doc_id"])
        e_new = (
            bands_all.select(col("doc_id").alias("doc_a"), "band_id", "band_val")
            .join(
                bands_b.select(col("doc_id").alias("doc_b"), "band_id", "band_val"),
                ["band_id", "band_val"],
            )
            .filter(col("doc_a") != col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
        )
        # Anchor mapping: an endpoint outside M ∪ batch stands in for its
        # whole (untouched) component via its label node — the label IS
        # the component min, so propagation over anchors preserves the
        # min-label invariant without shuffling the component's members.

        def to_rep(e: DataFrame, side: str) -> DataFrame:
            return (
                e.join(
                    in_doc_grain.withColumnRenamed("doc_id", side).withColumn(
                        "__doc", F.lit(True)
                    ),
                    [side],
                    "left",
                )
                .join(
                    prev.select(
                        col("doc_id").alias(side), col("label").alias("__lbl")
                    ),
                    [side],
                    "left",
                )
                .withColumn(
                    side,
                    F.when(col("__doc"), col(side)).otherwise(
                        F.coalesce(col("__lbl"), col(side))
                    ),
                )
                .drop("__doc", "__lbl")
            )

        e_mapped = to_rep(
            to_rep(e_new.withColumnRenamed("doc_a", "src").withColumnRenamed("doc_b", "dst"), "src"),
            "dst",
        )
        edges = (
            edges_m.unionByName(e_mapped) if edges_m is not None else e_mapped
        ).localCheckpoint(eager=False)
        labels_g = _propagate_with_singletons(in_doc_grain, edges)

        # label map for ANCHOR nodes (labels of untouched components that
        # merged into something): old label → new label
        anchor_map = (
            labels_g.join(in_doc_grain, ["doc_id"], "left_anti")
            .filter(col("doc_id") != col("label"))
            .select(col("doc_id").alias("__old"), col("label").alias("__new"))
            .localCheckpoint(eager=False)
        )
        # new rows for doc-grain participants; every other doc rides the
        # anchor map (or keeps its label verbatim)
        doc_rows = labels_g.join(in_doc_grain, ["doc_id"]).select("doc_id", "label")
        others = prev.join(in_doc_grain, ["doc_id"], "left_anti")
        if has_changed:
            others = others.join(deleted_ids, ["doc_id"], "left_anti")
        others = others.join(
            F.broadcast(anchor_map), col("label") == col("__old"), "left"
        ).select("doc_id", F.coalesce(col("__new"), col("label")).alias("label"))
        new_labels = others.unionByName(doc_rows).localCheckpoint(eager=False)

        # old→new label pairs for the split merge policy: anchors, plus
        # re-derived members whose label moved, plus identity rows for
        # re-derived components that kept their label.
        label_pairs = anchor_map
        if members is not None:
            member_pairs = (
                prev.join(F.broadcast(members), ["doc_id"])
                .select(col("label").alias("__old"), col("doc_id"))
                .join(doc_rows, ["doc_id"])
                .select("__old", col("label").alias("__new"))
            )
            label_pairs = anchor_map.unionByName(member_pairs).distinct()
        return self._merged_state(new_labels, label_pairs, prev=prev)

    def _merged_state(
        self,
        new_labels: DataFrame,
        label_pairs: DataFrame | None,
        prev: DataFrame | None = None,
    ) -> DataFrame:
        """Fold the eval-wins split policy over the old→new label pairs
        into the (doc_id, label, split) state frame the caller publishes
        (or feeds to the next coalesced step) — the fold is deterministic,
        so a crash anywhere before the single merge commit replays the
        whole batch."""
        comp_ids = new_labels.select(col("label").alias("component_id")).distinct()
        old_splits = (
            prev.select(col("label").alias("component_id"), "split").distinct()
            if prev is not None
            else None
        )
        pr = F.create_map(
            *[x for kv in _PRIORITY.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
        )
        if old_splits is None or label_pairs is None:
            merged = comp_ids.withColumn("split", _fresh_split("component_id"))
        else:
            # candidates per surviving component: every old component that
            # mapped into it (anchor/member pairs) PLUS its own stored
            # split — a survivor that keeps its label while absorbing an
            # anchor-mapped family must still compete with the parents'
            # splits, or a test family could silently fall back to the
            # absorbed component's train (priority must only rise).
            mapped = label_pairs.join(
                old_splits.select(col("component_id").alias("__old"), col("split")),
                ["__old"],
            ).select(col("__new").alias("component_id"), "split")
            own = comp_ids.join(old_splits, ["component_id"])
            parents = (
                mapped.unionByName(own)
                .groupBy("component_id")
                .agg(
                    F.max(F.struct(pr[col("split")].alias("p"), col("split"))).alias(
                        "__best"
                    )
                )
                .select("component_id", col("__best.split").alias("__psplit"))
            )
            # untouched components keep their stored split (their own row
            # is the only candidate); merged ones take the max-priority
            # parent; brand-new ones hash.
            merged = (
                comp_ids.join(parents, ["component_id"], "left")
                .select(
                    "component_id",
                    F.coalesce(col("__psplit"), _fresh_split("component_id")).alias(
                        "split"
                    ),
                )
            )
        return new_labels.join(
            merged.withColumnRenamed("component_id", "label"), ["label"]
        ).select("doc_id", "label", "split")
