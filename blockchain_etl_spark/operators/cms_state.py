"""Incrementally-maintained count-min heavy hitters — the streaming twin
of the registered ``events_user_cms_topk`` query (plans/olap.py), built
the way ``operators/hll_state.py`` maintains the portable HLL: CMS cells
are ADDITIVE mergeable partials (per-cell sums), so folding per-batch
cell counts into a persisted state equals the batch sketch over all data
seen so far — at any chunking, under crash-replays, bit-identically
(the md5 bucket derivation is the ONE shared implementation,
plans/olap.py::cms_keyed_rows).

The sketch alone cannot ENUMERATE heavy hitters — it only answers point
queries — so the state carries the standard companion: a bounded
candidate table. Each fold unions the batch's distinct keys with the
stored candidates, re-probes every candidate against the FULL merged
sketch (so a key's estimate always reflects everything folded so far,
including occurrences from batches where it was pruned), and keeps the
top ``n_candidates`` by (est DESC, key ASC). A true heavy hitter appears
in some batch, enters the candidate set there, and its estimate only
grows afterward; with n_candidates comfortably above the served k the
maintained top-k equals the batch top-k on any realistically skewed
stream (asserted against the registered query in
tests/test_cms_state.py).

Scale shape: the state is ``d*w`` cells (1024 rows, ~8 KB) plus
``n_candidates`` rows; each fold's work is one map-combinable cell
aggregate over the batch plus a candidate-sized probe against the
broadcast sketch. Nothing ever re-reads raw history — the reference's
trigger-maintained stats counters (src/be_db_stats.erl:63-99) as a
sketch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, col

from ..plans.olap import cms_keyed_rows
from .merge import ParquetMergeTarget, merge_accumulate


class CMSTopKState:
    """Persisted (cells, candidates) CMS state with additive folds and a
    maintained top-k read."""

    def __init__(self, path: str, key: str = "user_id", n_candidates: int = 64):
        # both states are bounded by the SKETCH STRUCTURE, not the
        # stream (cells is exactly d*w rows, cand at most n_candidates),
        # so the size rule (functions/arrowio.py) keeps every versioned
        # merge on the driver lane at any scale
        self.cells = ParquetMergeTarget(os.path.join(path, "cells"))
        self.cand = ParquetMergeTarget(os.path.join(path, "cand"))
        self.key = key
        self.n_candidates = n_candidates

    def fold(
        self, spark: SparkSession, batch: DataFrame, watermark: int | None = None
    ) -> None:
        """Fold one batch: add its cell partials (exactly-once under the
        watermark guard), then refresh the candidate table from the
        merged sketch. Candidate refresh is DERIVED state — recomputed
        from the post-merge cells — so the crash window between the two
        merges replays to the identical result."""
        keyed = cms_keyed_rows(batch.select(self.key), self.key)
        partial = keyed.groupBy("r", "bucket").agg(
            F.count(F.lit(1)).cast("long").alias("cell_n")
        )
        merged = self.cells.merge_with(
            spark,
            partial,
            lambda tgt, upd: merge_accumulate(
                tgt, upd, keys=["r", "bucket"], sum_cols=["cell_n"]
            ),
            watermark=watermark,
        )
        stored = self.cand.read(spark)
        keys = batch.select(self.key).distinct()
        if stored is not None:
            keys = keys.unionByName(stored.select(self.key)).distinct()
        probed = (
            cms_keyed_rows(keys, self.key)
            .join(broadcast(merged), ["r", "bucket"])
            .groupBy(self.key)
            .agg(F.min("cell_n").cast("long").alias("est_n"))
            .orderBy(col("est_n").desc(), self.key)
            .limit(self.n_candidates)
        )
        self.cand.merge_with(
            spark,
            probed,
            lambda tgt, upd: upd,  # derived wholesale from the merged cells
            watermark=watermark,
        )

    def read_cells(self, spark: SparkSession) -> DataFrame | None:
        return self.cells.read(spark)

    def topk(self, spark: SparkSession, k: int) -> DataFrame | None:
        """(key, est_n) maintained heavy hitters, (est DESC, key ASC).

        Guarantee boundary: exact-equal to the batch sketch only while
        the live key cardinality stays within ``n_candidates`` (the
        registered driver gate keys on 50 buckets < 64 slots, so there
        it is structural). Beyond that it is approximate on adversarial
        streams — a key whose occurrences are spread so thin it never
        ranks inside ``n_candidates`` in any single fold is never stored
        (re-probe covers stored candidates plus the current batch's keys
        only). Size ``n_candidates`` with real headroom over the served
        ``k``; the sketch cells themselves stay exact-additive
        regardless."""
        cand = self.cand.read(spark)
        if cand is None:
            return None
        return cand.orderBy(col("est_n").desc(), self.key).limit(k)
