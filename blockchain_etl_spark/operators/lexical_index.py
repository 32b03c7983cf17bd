"""Incrementally maintained lexical search index — postings with term
frequencies plus document lengths, the exact state fixed-point BM25
(plans/lexical.py) needs at query time.

At 100 TB you cannot re-tokenize the lake per crawl: the index keeps two
persisted tables maintained with the inventory MERGE machinery
(operators/merge.py — versioned write-audit-publish, watermark replay
guard):

- ``postings`` — (term, doc_id, tf): term frequencies of the CURRENT text
  of every indexed document. A re-crawled document's previous postings are
  retracted by replacing all rows keyed by the batch's doc ids (including
  terms its new text no longer contains — retraction is keyed on the
  BATCH ids, not on the new term set, so a doc whose re-crawl dropped to
  zero indexable terms still sheds its stale rows).
- ``doclen``  — (doc_id, dl): per-document token count (the BM25 length
  normalizer), maintained latest-wins on the same batch grain.

Crash ordering: the postings merge commits FIRST; if the process dies
before the doclen merge, the replay skips postings (watermark guard) and
re-applies doclen from the same deterministic batch recompute — state
converges to the once-applied result, the chunk-index contract
(operators/chunk_index.py). The maintained-state ≡ batch-tokenize property
(any chunking, with re-crawls, deletes, and replays) is tested in
tests/test_lexical_index.py; the driver-facing proof is the
``retrieval_bm25_maintained`` registered query, whose oracle recomputes
BM25 from raw text while the Spark side reads ONLY this state.

Scale shape: every merge shuffles on doc_id only (retraction is an
ids-anti-join + union); stored rows are (term, doc_id, tf) — the standard
search-index footprint, ~1 row per distinct term occurrence; query-time
BM25 reads touch only the probe terms' postings. Corpus-level stats
(N, avgdl, df) derive from the state with one map-side-combinable
aggregate — no corpus rescan, the reference's maintained-stats contract
(src/be_db_stats.erl:63-99) applied to a search index.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.lexical import bm25_rank_frames, term_freq_rows
from .merge import ParquetMergeTarget


class LexicalIndex:
    """Persisted (postings, doclen) state with incremental upsert,
    tombstone deletes, and a BM25 serving path over the maintained rows."""

    def __init__(self, path: str):
        self.postings = ParquetMergeTarget(os.path.join(path, "postings"))
        self.doclen = ParquetMergeTarget(os.path.join(path, "doclen"))

    def upsert(
        self, spark: SparkSession, docs: DataFrame, watermark: "int | None" = None
    ) -> None:
        """Tokenize ONLY ``docs`` (doc_id, text) and replace both tables'
        rows for the batch's doc ids. Work is ∝ batch size, never index
        size beyond the key-grain merge shuffle."""
        ids = docs.select("doc_id").distinct().localCheckpoint()
        tf = term_freq_rows(docs).localCheckpoint()

        def replace(target: DataFrame | None, upd: DataFrame) -> DataFrame:
            if target is None:
                return upd
            return target.join(ids, ["doc_id"], "left_anti").unionByName(upd)

        # The two merges touch DIFFERENT targets and both derive from the
        # checkpointed tf frame, so their read→fold→write→flip sequences
        # are independent — run them concurrently (streaming/fanout.py)
        # so the two writes overlap instead of serializing. Replay
        # stays exactly-once per table (each target's own watermark
        # guard; `replace` is idempotent), and a crash that lands the two
        # tables at different watermarks is the SAME state an inter-merge
        # crash of the serial form produced — delete()'s sync guard
        # already refuses it until the batch replays.
        dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
        from ..streaming.fanout import run_tasks

        run_tasks(
            spark,
            [
                ("postings", lambda: self.postings.merge_with(
                    spark, tf, replace, watermark=watermark
                )),
                ("doclen", lambda: self.doclen.merge_with(
                    spark, dl, replace, watermark=watermark
                )),
            ],
        )

    def delete(self, spark: SparkSession, doc_ids: DataFrame) -> None:
        """Drop documents from the index (unwatermarked maintenance fold —
        the merge target carries the replay high-mark forward).

        Refuses to run while the two tables sit at different upsert
        watermarks: that state means an upsert crashed between its
        postings merge and its doclen merge, and a delete applied before
        that batch's replay would re-add the deleted doc's dl rows when
        the replay re-runs the doclen half — replay the interrupted
        batch first (the crash-ordering contract in the module
        docstring)."""
        pw, dw = self.postings.watermark(), self.doclen.watermark()
        if pw != dw:
            raise RuntimeError(
                f"lexical index tables out of sync (postings watermark "
                f"{pw}, doclen {dw}): replay the interrupted upsert "
                f"before maintenance folds"
            )
        ids = doc_ids.select("doc_id").distinct().localCheckpoint()

        def drop(target: DataFrame | None, upd: DataFrame) -> DataFrame:
            if target is None:
                # guarded by the read() check below; never publish a
                # wrong-schema (ids-only) table over an unbuilt target
                raise FileNotFoundError("delete() against an unbuilt index")
            return target.join(ids, ["doc_id"], "left_anti")

        for tgt in (self.postings, self.doclen):
            # the guard read is an extra metadata-scale open; merge_with
            # re-reads internally (its fold must see the same snapshot it
            # publishes against)
            if tgt.read(spark) is not None:
                tgt.merge_with(spark, ids, drop)

    def term_frequencies(self, spark: SparkSession) -> DataFrame:
        tf = self.postings.read(spark)
        if tf is None:
            raise FileNotFoundError(self.postings.path)
        return tf

    def bm25_topk(self, spark: SparkSession, qmod: int, k: int) -> DataFrame:
        """Rank the indexed corpus against its doc_id % qmod == 0 probes
        using ONLY maintained state — the serving path. Same scorer code
        as the batch retrieval_bm25_topk query, so maintained ≡ batch is
        an arithmetic identity once the postings match. Doc lengths come
        from the maintained doclen table (not recomputed from postings):
        that is the table's purpose, and it spares the serving path one
        postings-grain aggregate."""
        dl = self.doclen.read(spark)
        if dl is None:
            raise FileNotFoundError(self.doclen.path)
        return bm25_rank_frames(
            self.term_frequencies(spark), qmod=qmod, k=k, dl=dl
        )
