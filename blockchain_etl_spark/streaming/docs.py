"""Streaming document ingest — the training-data twin of BlockIngest: each
microbatch of crawled documents is quality-gated, exact-deduped against
everything already in the lake, appended to the clean corpus, and folded
into the incremental MinHash index, with the same replay discipline as the
chain ingest (idempotent chunk overwrite + watermark-guarded merges).

Order of operations matches the batch plan `doc_clean_corpus`
(plans/dedup.py): quality FIRST, then canonical-per-content-hash — so the
streamed corpus converges to exactly the batch recompute over the union of
all batches (tests/test_doc_ingest.py).

Scale shape per batch: quality features are map-side HOFs; the in-batch
canonical pick is one shuffle on the content hash (batch-sized, not
corpus-sized); the against-lake check is an anti-join into the hash
inventory (|corpus-hashes| rows — ids only, ~1e-4 of corpus bytes);
signature maintenance shingles only the fresh documents (MinHashIndex).
Nothing ever rescans the stored corpus.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from ..functions import arrowio
from ..operators.chunk_index import ChunkDFIndex
from ..operators.lsh_index import MinHashIndex
from ..operators.merge import ParquetMergeTarget, merge_latest
from .fanout import run_tasks

MIN_TOKENS = 10
MIN_DISTINCT_FP = 150_000


def quality_features(docs: DataFrame) -> DataFrame:
    """Map-side quality features: content hash, token count, vocabulary
    diversity (fixed-point) — identical thresholds to doc_clean_corpus."""
    toks = "filter(split(text, ' '), w -> length(w) > 0)"
    return docs.withColumn("h", F.md5("text")).withColumn(
        "n_tokens", F.expr(f"CAST(size({toks}) AS BIGINT)")
    ).withColumn(
        "distinct_fp",
        F.expr(
            f"CASE WHEN size({toks}) = 0 THEN NULL"
            f" ELSE (size(array_distinct({toks})) * 1000000) div size({toks}) END"
        ),
    )


class DocIngest:
    """Directory layout: ``docs/chunk=<batch>/`` clean-corpus parquet,
    ``hash_inventory/`` (ParquetMergeTarget: text_hash → canonical doc),
    ``mh_index/`` (MinHashIndex signatures), ``chunk_df/`` (ChunkDFIndex —
    the boilerplate-span state doc_boilerplate_prune derives in batch,
    maintained with delta work per crawl), and optionally ``vec_index/``
    (IVFIndex over feature-hashed chunk vectors — the streaming end of
    the chunk_retrieval_ivf retrieval plane; vec_id packs the
    (doc_id, chunk_seq) provenance)."""

    def __init__(
        self,
        out_dir: str,
        vector_index: bool = False,
        component_index: bool = False,
        drift_state: bool = False,
        lexical_index: bool = False,
        contamination_screen: bool = False,
        contamination_quarantine: "int | None" = None,
        novelty_state: bool = False,
    ):
        self.out_dir = out_dir
        self.hashes = ParquetMergeTarget(os.path.join(out_dir, "hash_inventory"))
        self.index = MinHashIndex(os.path.join(out_dir, "mh_index"))
        self.chunk_df = ChunkDFIndex(os.path.join(out_dir, "chunk_df"))
        # opt-in distribution telemetry (``drift_state/``): per-half
        # unigram counters folded per batch; read_drift() stays
        # bit-identical to the batch KL over the clean corpus
        # (operators/vocab_state.py)
        from ..operators.vocab_state import UnigramDriftState

        self.drift = (
            UnigramDriftState(os.path.join(out_dir, "drift_state"))
            if drift_state
            else None
        )
        # opt-in retrieval plane: chunk → feature-hash vector → IVF index
        # (``vec_index/``), the streaming end of chunk_retrieval_ivf
        from ..operators.ann_index import IVFIndex

        self.vectors = (
            IVFIndex(os.path.join(out_dir, "vec_index")) if vector_index else None
        )
        # opt-in near-dup component maintenance (``comp_index/``): keeps
        # corpus_leakage_safe_splits' component labels — and the
        # eval-wins split table — exact under streaming ingest instead of
        # going stale until a batch recompute (operators/component_index.py)
        from ..operators.component_index import ComponentIndex

        self.components = (
            ComponentIndex(os.path.join(out_dir, "comp_index"), self.index)
            if component_index
            else None
        )
        # opt-in lexical retrieval plane (``lex_index/``): BM25 postings +
        # doc lengths maintained per crawl, the sparse twin of vec_index —
        # retrieval_bm25_maintained is the driver-verified contract
        # (operators/lexical_index.py)
        from ..operators.lexical_index import LexicalIndex

        self.lexical = (
            LexicalIndex(os.path.join(out_dir, "lex_index"))
            if lexical_index
            else None
        )
        # opt-in ingest-time decontamination (``contam_index/``): every
        # crawl batch is probed against the persisted benchmark shingle
        # registry and its per-doc verdicts recorded — build() the
        # registry from the eval sets BEFORE the first batch (screen
        # raises FileNotFoundError otherwise: silently skipping the gate
        # would let unscreened data into the corpus). The maintained
        # matrix ≡ batch screen is the doc_contamination_maintained
        # driver contract (operators/contamination_index.py).
        from ..operators.contamination_index import ContaminationIndex

        self.contamination = (
            ContaminationIndex(os.path.join(out_dir, "contam_index"))
            if contamination_screen
            else None
        )
        # optional QUARANTINE gate on top of the screen: a batch doc whose
        # distinct benchmark-shingle hit count reaches the threshold never
        # enters the corpus or any index — it lands in
        # ``quarantine/chunk=<batch>`` with its count (the audit trail),
        # and the admitted remainder is screened as usual so the
        # maintained matrix still equals the batch screen over
        # read_corpus(). Production decontamination is a GATE, not a
        # report.
        if contamination_quarantine is not None and self.contamination is None:
            raise ValueError(
                "contamination_quarantine requires contamination_screen=True"
            )
        self.quarantine_threshold = contamination_quarantine
        # opt-in crawl-diversity telemetry (``novelty_state/``): the
        # maintained Heaps curve — cumulative + marginal shingle novelty
        # per batch, the stop-crawling signal
        # (operators/vocab_state.py::ShingleVocabState)
        from ..operators.vocab_state import ShingleVocabState

        self.novelty = (
            ShingleVocabState(os.path.join(out_dir, "novelty_state"))
            if novelty_state
            else None
        )

    def process_batch(
        self, batch: DataFrame, batch_id: int, batch_bytes: "float | None" = None
    ) -> None:
        """Admit one crawl batch. ``batch_bytes``: an upper bound on the
        bytes ``batch`` reads, for a batch whose plan hides its files (a
        foreachBatch microbatch); default ``arrowio.input_bytes(batch)``.
        Chunk and quarantine rows are a subset of the batch's, so it
        bounds their writes before any collect (functions/arrowio.py)."""
        spark = batch.sparkSession
        if batch_id <= self.hashes.watermark():
            # REPLAY of a fully-committed batch: the hash inventory already
            # absorbed it, so recomputing `fresh` here would anti-join the
            # batch against itself (empty) and clobber its chunk dir. The
            # first-run crash window (chunk written, merges not yet) still
            # replays fine — the watermark only advances on merge commit.
            return
        # Divergence guard (metadata-only — reads pointer files, runs no
        # jobs): if the planes sit at DIFFERENT watermarks, a prior batch
        # crashed mid-commit. Its own replay (batch_id == the highest
        # committed mark) converges through the per-plane guards, but a
        # NEW batch id would advance the straggler planes PAST the
        # crashed batch — they would silently never fold it. Refuse and
        # point at doctor(); the streaming runner never trips this (it
        # replays crashed epochs in order before new ones).
        wms = self.plane_watermarks()
        marks = [v for k, v in wms.items() if k != "corpus_chunks"]
        mx = max(marks + [wms["corpus_chunks"]])
        if min(marks) < mx and batch_id != mx:
            raise RuntimeError(
                f"{self.out_dir}: maintained planes are at divergent "
                f"watermarks {wms} and batch {batch_id} is not the "
                "crashed batch's replay — run doctor() (or replay batch "
                f"{mx} from the source) before ingesting new batches"
            )
        read = arrowio.input_bytes(batch) if batch_bytes is None else batch_bytes
        q = quality_features(batch)
        good = q.filter(
            (col("n_tokens") >= MIN_TOKENS) & (col("distinct_fp") >= MIN_DISTINCT_FP)
        )
        # in-batch canonical per content hash (min doc_id — the
        # doc_clean_corpus rule); batch-sized shuffle.
        w = Window.partitionBy("h")
        firsts = good.withColumn("__min", F.min("doc_id").over(w)).filter(
            col("doc_id") == col("__min")
        ).drop("__min")
        # against-lake exact dedup: drop anything whose hash is already
        # canonical in the corpus (ids-only anti-join).
        stored = self.hashes.read(spark)
        if stored is not None:
            firsts = firsts.join(
                stored.select(col("text_hash").alias("h")), ["h"], "left_anti"
            )
        if self.contamination is not None and self.quarantine_threshold is not None:
            # pre-admission decontamination gate: flagged docs are written
            # to the quarantine audit trail (overwrite-idempotent chunk,
            # like the corpus chunks) and excluded BEFORE any index sees
            # them. screen_gated shares ONE batch shingling + broadcast
            # registry join between the gate and the admitted docs'
            # evidence fold (so the separate screen below is skipped).
            flagged = self.contamination.screen_gated(
                spark,
                firsts.select("doc_id", "text"),
                self.quarantine_threshold,
                watermark=batch_id,
            )
            # quarantine keeps the full document rows, not just the
            # verdict: a flagged doc never reaches the corpus, so its
            # text survives ONLY here — release_quarantine() re-admits
            # from these rows when the policy later relaxes
            arrowio.write_parquet(
                firsts.join(flagged, ["doc_id"]).drop(
                    "h", "n_tokens", "distinct_fp"
                ),
                os.path.join(self.out_dir, "quarantine", f"chunk={batch_id}"),
                success_marker=True,
                read_bytes=read,
            )
            firsts = firsts.join(flagged.select("doc_id"), ["doc_id"], "left_anti")
        # chunk write is overwrite-idempotent; replays rewrite the same dir.
        # localCheckpoint: the consumers below (write, hash merge, index
        # upserts) must agree on the fresh set even under re-computation;
        # lazy — the chunk write right below materializes it inside its own
        # job instead of paying a separate barrier (A/B: ~8-10% docs/sec)
        fresh = firsts.localCheckpoint(eager=False)
        arrowio.write_parquet(
            fresh.drop("h", "n_tokens", "distinct_fp"),
            os.path.join(self.out_dir, "docs", f"chunk={batch_id}"),
            success_marker=True,
            read_bytes=read,
        )
        self._fold_planes(
            spark, fresh, batch_id, screen_evidence=self.quarantine_threshold is None
        )

    def _fold_planes(
        self,
        spark: SparkSession,
        fresh: DataFrame,
        batch_id: int,
        screen_evidence: bool,
        hidden_ids: DataFrame | None = None,
    ) -> None:
        """Fold one ADMITTED batch (doc_id, text, h, ...) into every
        enabled maintained plane, hash-inventory LAST — the plane-commit
        sequence shared verbatim by the live ingest (``process_batch``)
        and the catch-up healer (``doctor``), so a healed plane replays
        exactly the fold it missed. ``screen_evidence``: fold the
        admitted docs' contamination evidence here (False when the
        caller already folded it through ``screen_gated``'s shared
        pass). ``hidden_ids``: later batches' doc ids the doctor hides
        from the component fold when the signature table is ahead of
        the history being replayed (every other plane is doc-local, so
        future signatures cannot contaminate its fold).

        CONCURRENCY: between the signature upsert (first — the component
        fold reads signatures that must already include the batch) and
        the hash-inventory merge (last — the replay guard), the plane
        folds are mutually independent: each reads ``fresh`` plus its
        own state and publishes to its own directory. They are submitted
        CONCURRENTLY (driver threads; Spark schedules the jobs side by
        side), which collapses the serialized per-plane job floor into
        the slowest single plane. Durability semantics are unchanged: a
        crash now leaves an ARBITRARY straggler subset instead of a
        prefix, which audit()/doctor() were built to heal (per-plane
        watermark replay — the crash-injection tests compare healed
        state to a golden never-crashed ingest either way). ``fresh`` is
        materialized before the threads fan out (by the chunk write in
        process_batch, or by doctor's EAGER checkpoint of each replayed
        chunk — the signature upsert here cannot be relied on for that,
        since in the replay path it no-ops on its watermark guard), so
        the localCheckpoint never races across threads."""
        # ONE shingle pass per batch for every shingle-grain plane (the
        # MinHash signatures and the novelty vocab read identical
        # (doc_id, shingle) rows): at 100 TB the shingle explode is the
        # dominant map cost of the batch, and re-running it per plane
        # multiplies exactly the work that dwarfs everything else. The
        # signature upsert (serial, first) materializes the checkpoint;
        # the novelty thread then reads cached blocks. In the doctor's
        # replay path the signature upsert may no-op on its watermark
        # guard and novelty materializes it instead — benign, the
        # lineage hangs off the eagerly-checkpointed chunk.
        from ..plans.dedup import shingle_rows_from_text

        sh = shingle_rows_from_text(
            fresh.select("doc_id", "text")
        ).localCheckpoint(eager=False)
        self.index.upsert(
            spark, fresh.select("doc_id", "text"), watermark=batch_id, shingles=sh
        )
        tasks = []
        sh_consumers = []  # names of CONCURRENT tasks reading ``sh``
        if self.components is not None:
            # AFTER the signature upsert (call-order contract): component
            # maintenance reads the signatures that already include this
            # batch. Covers fresh ids and re-crawls (changed text → new
            # hash → the doc passes the anti-join and lands in ``fresh``).
            tasks.append(("components", lambda: self.components.upsert(
                spark,
                fresh.select("doc_id"),
                watermark=batch_id,
                hidden_ids=hidden_ids,
            )))
        tasks.append(("chunk_df", lambda: self.chunk_df.upsert(
            spark, fresh.select("doc_id", "text"), watermark=batch_id
        )))
        if self.lexical is not None:
            # lexical retrieval plane: the fresh docs' shingle postings and
            # lengths replace any prior crawl of the same ids; its own
            # watermark keeps the replacement replay-safe (the hash merge
            # below still commits last)
            tasks.append(("lexical", lambda: self.lexical.upsert(
                spark, fresh.select("doc_id", "text"), watermark=batch_id
            )))
        if self.contamination is not None and screen_evidence:
            # ingest-time decontamination: screen ONLY the docs entering
            # the corpus against the benchmark registry and record their
            # verdicts (work ∝ batch); its own watermark makes the
            # evidence replacement replay-safe like every plane above.
            # (With the quarantine gate on, process_batch's screen_gated
            # already folded the admitted docs' evidence from the shared
            # pass and passes screen_evidence=False; the doctor replays
            # admitted-doc evidence through here — screen() keys the
            # replacement on the same admitted ids, so the folds agree.)
            tasks.append(("contamination", lambda: self.contamination.screen(
                spark, fresh.select("doc_id", "text"), watermark=batch_id
            )))
        if self.novelty is not None:
            # crawl-diversity telemetry: the maintained Heaps curve rows
            # key on the docs ADMITTED to the corpus, so the curve equals
            # the batch recompute over read_corpus() checkpoints; its own
            # watermark makes the fold replay-safe like every plane above
            tasks.append(("novelty", lambda: self.novelty.fold(
                spark,
                fresh.select("doc_id", "text"),
                watermark=batch_id,
                shingles=sh,
            )))
            sh_consumers.append("novelty")
        if self.drift is not None:
            # distribution telemetry: fold ONLY the docs that actually
            # entered the corpus (post quality + dedup), so the maintained
            # KL equals the batch drift over read_corpus() exactly; its
            # own watermark makes the fold replay-safe like every index
            # above (the hash merge below still commits last)
            tasks.append(("drift", lambda: self.drift.fold(
                spark, fresh.select("doc_id", "text"), watermark=batch_id
            )))
        if self.vectors is not None:
            tasks.append(("vectors", lambda: self._fold_vector_plane(
                spark, fresh, batch_id
            )))
        # The lazy ``sh`` checkpoint is normally materialized by the
        # SERIAL signature upsert above; in the doctor's replay path
        # that upsert may no-op on its watermark guard, shifting
        # materialization into whichever thread touches ``sh`` first.
        # Benign with ONE concurrent consumer (novelty today) — but two
        # would race the materialization, so the single-consumer
        # contract is enforced here instead of by convention: a second
        # shingle-grain plane forces an eager materialization (one
        # cheap count on the ≤GATE-batch frame) before the fan-out.
        if len(sh_consumers) > 1:
            sh.count()
        run_tasks(spark, tasks)
        # the hash-inventory merge commits LAST: its watermark is the
        # replay guard at the top, so every index upsert above must be
        # durable before it advances — a crash anywhere in this method
        # replays the whole batch (chunk overwrite + watermark-guarded
        # upserts make that idempotent), never skips half of it.
        self.hashes.merge_with(
            spark,
            fresh.select(col("h").alias("text_hash"), col("doc_id").alias("canonical_doc_id")),
            lambda target, upd: merge_latest(
                target, upd, keys=["text_hash"], order=["canonical_doc_id"]
            ),
            watermark=batch_id,
        )

    def _fold_vector_plane(self, spark, fresh, batch_id: int) -> None:
        # retrieval plane: every fresh doc's chunks feature-hashed to
        # dense vectors and folded into the persisted IVF index —
        # bootstrap builds on the first non-empty batch (frozen coarse
        # quantizer thereafter; refresh = explicit rebuild/compact).
        # One materialization serves the emptiness probe, the
        # build/upsert, and the shrink retraction below.
        from ..plans.similarity import _CR_SEQ_CAP, chunk_vectors

        vecs = chunk_vectors(fresh.select("doc_id", "text")).select(
            "vec_id", "embedding"
        ).localCheckpoint()
        if not os.path.isdir(self.vectors._centroids):
            if vecs.take(1):
                self.vectors.build(spark, vecs, n_cells=8)
                # stamp the bootstrap batch on the inventory:
                # build()'s merge is unwatermarked (rebuild
                # semantics — watermarks restart per generation),
                # but as a PLANE commit this batch must be
                # replay-guarded and visible to audit()/doctor()
                inv0 = self.vectors._inventory()
                inv0.merge_with(
                    spark, inv0.read(spark), lambda _t, u: u,
                    watermark=batch_id,
                )
        else:
            self.vectors.upsert(spark, vecs, watermark=batch_id)
            # a re-crawl that SHRANK a document supersedes only the
            # overlapping chunk ids; its old tail chunks would stay
            # live forever (stale hits with dangling provenance).
            # Tombstone every inventory id owned by a fresh doc that
            # the new chunk set no longer contains. Candidate-sized:
            # inventory ⋈ broadcast(fresh doc ids).
            inv = self.vectors._inventory().read(spark)
            if inv is not None:
                owned = inv.join(
                    F.broadcast(fresh.select("doc_id").distinct()),
                    F.expr(f"vec_id div {_CR_SEQ_CAP} = doc_id"),
                ).select("vec_id")
                stale = owned.join(vecs.select("vec_id"), ["vec_id"], "left_anti")
                if stale.take(1):
                    self.vectors.delete(spark, stale)

    # ------------------------------------------------- cross-plane doctor

    def plane_watermarks(self) -> "dict[str, int]":
        """Committed watermark of every ENABLED maintained plane, plus
        ``corpus_chunks`` (the newest COMPLETE ``docs/chunk=<id>`` dir —
        _SUCCESS present) and ``hash_inventory`` (the global replay
        guard, committed last). After a clean batch every value is
        equal; a crash between plane commits leaves a suffix of the
        commit order one batch behind — the divergence ``audit`` reports
        and ``doctor`` heals. -1 = plane has never committed."""
        wms: "dict[str, int]" = {
            "corpus_chunks": max(self._complete_chunks(), default=-1),
            "mh_index": self.index.target.watermark(),
            "chunk_df": self.chunk_df.df_target.watermark(),
        }
        if self.components is not None:
            wms["comp_index"] = self.components.labels_t.watermark()
        if self.lexical is not None:
            wms["lex_index"] = min(
                self.lexical.postings.watermark(),
                self.lexical.doclen.watermark(),
            )
        if self.contamination is not None:
            wms["contam_index"] = self.contamination.evidence.watermark()
        if self.novelty is not None:
            wms["novelty_state"] = self.novelty.watermark()
        if self.drift is not None:
            wms["drift_state"] = self.drift.watermark()
        if self.vectors is not None and os.path.isdir(self.vectors._centroids):
            # a never-built vector index is DORMANT, not behind: the
            # bootstrap waits for the first batch that yields a vector,
            # so until then there is no state to be stale
            wms["vec_index"] = self.vectors._inventory().watermark()
        wms["hash_inventory"] = self.hashes.watermark()
        return wms

    def _complete_chunks(self) -> "list[int]":
        """Ascending ids of corpus chunk dirs whose write COMMITTED
        (_SUCCESS marker) — the durable per-batch record of admitted
        docs the doctor can re-fold planes from. A chunk dir without
        _SUCCESS is in-flight crash debris and is never replayed from."""
        import glob as _glob

        out = []
        for d in _glob.glob(os.path.join(self.out_dir, "docs", "chunk=*")):
            if os.path.exists(os.path.join(d, "_SUCCESS")):
                out.append(int(os.path.basename(d).split("=", 1)[1]))
        return sorted(out)

    def audit(self) -> dict:
        """Cross-plane watermark consistency report — the doc-pipeline
        analog of the reference's one-transaction-per-block contract
        (be_db_follower.erl:86-108 commits all 12 handlers or none;
        here each plane commits separately with the hash inventory
        last, so a crash can strand planes at different watermarks).
        Returns ``{"planes": {...}, "consistent": bool, "target": W,
        "stragglers": {plane: wm}, "unhealable": [ids]}`` where target
        is the newest complete corpus chunk (or the hash watermark if
        ahead — a chunk dir lost after commit), stragglers are planes
        behind target, and unhealable lists batch ids a straggler needs
        that have NO complete chunk to re-fold from (source replay
        required — e.g. a crash before the chunk write committed)."""
        wms = self.plane_watermarks()
        chunks = self._complete_chunks()
        target = max(wms["corpus_chunks"], wms["hash_inventory"])
        planes = {k: v for k, v in wms.items() if k != "corpus_chunks"}
        stragglers = {k: v for k, v in planes.items() if v < target}
        # a plane can also be AHEAD of the corpus: screen_gated commits
        # the quarantine evidence BEFORE the chunk write, so a crash in
        # that window leaves contam_index at W with no chunk W. The
        # doctor cannot roll that forward (no durable batch) — only a
        # source-side replay of crawl W heals it, and idempotently
        # (evidence replacement keys on the batch's doc ids).
        ahead = {k: v for k, v in planes.items() if v > target}
        # batches PROVABLY lost: ids some plane or the hash inventory
        # recorded, inside a straggler's gap, with no surviving chunk.
        # (Batch ids need not be contiguous, so id-range gaps prove
        # nothing; ids nothing recorded — e.g. retention-deleted chunks
        # below every watermark — are caught by doctor()'s doc-coverage
        # probe instead, which compares the admitted doc set against the
        # surviving chunks.)
        low = min(stragglers.values()) if stragglers else target
        known = {v for v in planes.values() if v >= 0} | set(chunks)
        unhealable = sorted(
            i for i in known if low < i <= target and i not in set(chunks)
        )
        return {
            "planes": wms,
            "consistent": not stragglers and not ahead,
            "target": target,
            "stragglers": stragglers,
            "ahead": ahead,
            "unhealable": unhealable,
        }

    def doctor(self, spark: SparkSession) -> "list[int]":
        """Heal every straggler plane by replaying the missed batches
        from the durable corpus chunks, IN ORDER, through the exact
        plane-fold sequence of the live ingest (``_fold_planes``) —
        each plane's own watermark guard skips the folds it already
        committed, so only the missing history runs and a fully
        consistent pipeline is a cheap no-op scan. Returns the batch
        ids replayed. Raises when a straggler needs a batch with no
        complete chunk (the corpus itself lost the batch — only a
        source-side replay of that crawl can heal it; run the stream).

        Not crash-free itself — but crashing mid-doctor just leaves a
        smaller divergence, and re-running converges (same folds, same
        guards). Do not run concurrently with a live ingest."""
        rep = self.audit()
        # doc-coverage probe — on EVERY invocation, consistent or not:
        # the hash inventory is the ledger of every admitted doc; if
        # retention (or an accident) deleted a chunk whose id nothing
        # recorded, the id-based audit cannot see it (watermarks keep
        # only the high mark, and with all planes consistent there is no
        # straggler to trip over) — but its DOCS are missing from the
        # surviving chunks, and any later backfill folding only what
        # survives would be silently incomplete. Ids-only anti-join, one
        # probe job per doctor run — the price of the claim "doctor
        # detects a lost chunk".
        stored = self.hashes.read(spark)
        if stored is not None:
            survivors = self._complete_chunks()
            admitted = stored.select("canonical_doc_id").distinct()
            if survivors:
                chunk_ids = spark.read.option(
                    "basePath", os.path.join(self.out_dir, "docs")
                ).parquet(
                    *[
                        os.path.join(self.out_dir, "docs", f"chunk={i}")
                        for i in survivors
                    ]
                ).select(col("doc_id").alias("canonical_doc_id")).distinct()
                lost = admitted.join(chunk_ids, ["canonical_doc_id"], "left_anti")
            else:
                lost = admitted
            if lost.take(1):
                raise ValueError(
                    f"{self.out_dir}: the surviving corpus chunks no "
                    "longer cover every admitted document (a chunk was "
                    "deleted?) — a straggler healed from them would be "
                    "silently incomplete; restore the chunk or replay "
                    "its crawl from the source"
                )
        if not rep["stragglers"]:
            # nothing to roll forward; an ahead-only divergence (see
            # audit) waits for the source to replay its crawl
            return []
        if rep["unhealable"]:
            raise ValueError(
                f"{self.out_dir}: batches {rep['unhealable']} are missing "
                "from the corpus chunks but at least one plane needs them "
                "— replay those crawls from the source (run_stream picks "
                "them up; doctor can only re-fold durable chunks)"
            )
        low = min(rep["stragglers"].values())
        todo = [
            i for i in self._complete_chunks() if low < i <= rep["target"]
        ]
        # EAGER checkpoint: in the replay path the signature plane is
        # typically already committed, so _fold_planes' signature upsert
        # no-ops on its watermark guard and would not be the first
        # action to materialize a lazy checkpoint — the concurrent plane
        # threads would race to compute it instead. The lineage (parquet
        # read + md5) is deterministic so that race is benign, but
        # materializing here makes the "fresh is materialized before the
        # threads fan out" invariant actually hold in both call paths.
        freshes = {
            i: spark.read.parquet(
                os.path.join(self.out_dir, "docs", f"chunk={i}")
            )
            .withColumn("h", F.md5("text"))
            .localCheckpoint(eager=True)
            for i in todo
        }
        # suffix unions of LATER batches' ids, hidden from each step's
        # component fold: the signature table may already be ahead of
        # the label history being replayed, and future signatures must
        # not create edges early (the upsert_coalesced discipline —
        # batch-sized anti-join frames, never a corpus-sized set)
        laters: "dict[int, DataFrame | None]" = {todo[-1]: None}
        for j in range(len(todo) - 2, -1, -1):
            nxt = freshes[todo[j + 1]].select("doc_id").distinct()
            prev_later = laters[todo[j + 1]]
            laters[todo[j]] = (
                nxt if prev_later is None else nxt.unionByName(prev_later)
            )
        for i in todo:
            # evidence for admitted docs replays through screen() —
            # identical fold to screen_gated's admitted-side on this
            # already-gated chunk (quarantined docs never reached it)
            self._fold_planes(
                spark,
                freshes[i],
                i,
                screen_evidence=True,
                hidden_ids=laters[i],
            )
        return todo

    def run_stream(self, spark: SparkSession, input_dir: str, schema) -> None:
        """Drive the crawler-facing pipeline as an actual Structured
        Streaming job — the document twin of BlockIngest.run_stream:
        every pending crawl file matching ``input_dir`` (a directory or
        a glob such as ``crawls/c*.parquet``, like the chain ingest's
        ``chunk=*``) is processed in bounded microbatches through
        ``process_batch`` (availableNow),
        then the query stops. The checkpoint under
        ``_stream_checkpoint/`` makes re-invocation pick up ONLY files
        that arrived since the last run, and batch ids line up with the
        per-plane merge watermarks, so a crashed microbatch replays
        idempotently — the same batch-first, streaming-second design as
        the chain ingest (SURVEY §7.1).

        Batch ids are ``base + epoch`` where ``base`` is pinned to
        ``hashes.watermark() + 1`` when the checkpoint is CREATED and
        persisted inside it: foreachBatch epochs restart at 0 for a
        fresh checkpoint, and raw epochs over a lake that already holds
        batches (direct process_batch history, or a deleted checkpoint)
        would fall at or below the stored watermark — the replay guard
        would silently drop them while the file source still marked
        their files committed. The pinned base keeps replayed epochs at
        their ORIGINAL ids (chunk overwrites stay idempotent) and puts a
        fresh checkpoint's epochs strictly above the stored watermark
        (re-listed files then dedup by content through the hash
        inventory). Do not interleave direct process_batch calls while a
        checkpointed stream is in use — they would advance the watermark
        past ids the stream has already assigned."""
        # The base lives INSIDE the checkpoint directory so the two can
        # never desynchronize: deleting the checkpoint deletes the base
        # (fresh base re-pinned above the stored watermark), and a
        # checkpoint that somehow lost its base is refused rather than
        # silently re-based — a recomputed base under a live checkpoint
        # would replay a crashed in-flight epoch under a DIFFERENT batch
        # id, orphaning the crashed attempt's chunk dirs and breaking
        # chunk-overwrite idempotence.
        ckpt = os.path.join(self.out_dir, "_stream_checkpoint")
        base_file = os.path.join(ckpt, "_process_batch_base.json")
        legacy = os.path.join(self.out_dir, "_stream_checkpoint_base.json")
        if (
            os.path.isdir(ckpt)
            and not os.path.exists(base_file)
            and os.path.exists(legacy)
        ):
            os.replace(legacy, base_file)  # pre-r10 layout migration
        if os.path.isdir(ckpt):
            if not os.path.exists(base_file):
                raise RuntimeError(
                    f"{ckpt}: streaming checkpoint exists without its "
                    "pinned batch-id base — re-deriving the base could "
                    "replay an in-flight epoch under a different batch "
                    "id. Restore the base file or delete the whole "
                    "checkpoint directory to start fresh."
                )
            with open(base_file) as f:
                base = json.load(f)["base"]
        else:
            base = self.hashes.watermark() + 1
            arrowio.publish_json(base_file, {"base": base})
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)  # one crawl file per microbatch
            .parquet(input_dir)
        )
        # a microbatch's plan does not show its file: bound every batch
        # by the largest crawl file pending
        largest = arrowio.largest_file_bytes(input_dir)
        q = (
            stream.writeStream.foreachBatch(
                lambda batch, epoch: self.process_batch(batch, base + epoch, largest)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def add_benchmark(self, spark: SparkSession, bench_docs: DataFrame) -> None:
        """Adopt a new eval set mid-stream: merge its shingles into the
        contamination registry and backfill evidence over the CURRENT
        corpus texts — ``read_corpus_current``, not ``read_corpus``: a
        re-crawled doc's superseded chunk rows must not resurrect
        evidence the re-crawl's screen already retracted (one targeted
        scan — the only historical work a new benchmark requires;
        subsequent crawls screen against the enlarged registry at no
        extra cost). An empty corpus (registry built before the first
        crawl) merges the registry with a zero-row backfill. Requires
        contamination_screen=True."""
        if self.contamination is None:
            raise ValueError("add_benchmark requires contamination_screen=True")
        try:
            corpus = self.read_corpus_current(spark).select("doc_id", "text")
        except FileNotFoundError:
            corpus = spark.createDataFrame([], "doc_id long, text string")
        self.contamination.add_benchmark(spark, bench_docs, corpus)

    def read_quarantine(self, spark: SparkSession) -> DataFrame:
        """(doc_id, n_bench_shingles) for every doc the contamination
        gate refused — the audit trail of what never entered the corpus.
        Empty frame (same schema) before any batch quarantined."""
        docs = self._read_quarantine_full(spark)
        if docs is None:
            return spark.createDataFrame([], "doc_id long, n_bench_shingles long")
        return docs.select("doc_id", "n_bench_shingles")

    def _read_quarantine_full(self, spark: SparkSession) -> DataFrame | None:
        import glob as _glob

        base = os.path.join(self.out_dir, "quarantine")
        chunks = _glob.glob(os.path.join(base, "chunk=*"))
        if not chunks:
            return None
        return spark.read.option("basePath", base).parquet(*chunks)

    def release_quarantine(self, spark: SparkSession, batch_id: int) -> int:
        """Re-screen every quarantined document under the CURRENT policy
        (this instance's registry + threshold) by re-admitting the full
        quarantine set through the NORMAL ingest path as one fresh batch
        — every maintained plane sees the released docs as new arrivals,
        still-contaminated docs land straight back in the new batch's
        quarantine chunk, and the old chunks are dropped only AFTER the
        batch commits (a crash in between re-lists some docs in both the
        old and new chunks — an audit-trail duplicate, never a lost
        document, and re-running release converges: re-admitted docs
        dedup through the hash inventory). Returns the number of docs
        put through re-screening (0 = quarantine was empty).

        The workflow for a policy change: construct the DocIngest with
        the NEW ``contamination_quarantine`` threshold (the registry
        itself is add-only) and call this once with the next batch id.
        Property: release under a relaxed policy converges to the state
        of having ingested with that policy from the start
        (tests/test_quarantine_release.py)."""
        import glob as _glob

        if self.quarantine_threshold is None:
            raise ValueError("release_quarantine requires the quarantine gate")
        # a stale batch id would make process_batch a silent replay no-op
        # below — and the rmtree afterwards would then delete the ONLY
        # copy of the quarantined documents (they never reached the
        # corpus). Refuse up front. The guard must compare against EVERY
        # plane, not just the hash inventory: after a mid-batch crash the
        # hash inventory is the LAGGING plane by design (it commits
        # last), so an id of hashes.watermark()+1 can equal the crashed
        # batch's own id — process_batch would then treat the release as
        # a replay of that batch, overwrite docs/chunk=N (the crashed
        # batch's only durable heal source) with the released set, and
        # planes already at N would silently skip folding it. Watermarks
        # would then all read N and audit() could not see the loss.
        rep = self.audit()
        if not rep["consistent"]:
            raise ValueError(
                f"{self.out_dir}: the lake is mid-crash (stragglers="
                f"{rep['stragglers']}, ahead={rep['ahead']}) — run "
                "doctor() to heal it before releasing quarantine, so "
                "the release cannot collide with the crashed batch's id."
            )
        wm = max(rep["planes"].values())
        if batch_id <= wm:
            raise ValueError(
                f"{self.out_dir}: release batch id {batch_id} is not past "
                f"the committed watermark {wm} — process_batch would "
                "silently skip it as a replay and the old quarantine "
                "chunks (the only copy of those documents) would be "
                "deleted. Pass a fresh batch id."
            )
        # a live streaming checkpoint OWNS this lake's batch-id space
        # (ids = pinned base + epoch): consuming an id here would make
        # the stream's later epoch with the same id a silent no-op that
        # drops a crawl file. Release only with the stream stopped, then
        # remove _stream_checkpoint/ — the next run_stream re-pins its
        # base above this release and re-lists the input (convergent:
        # already-admitted files dedup through the hash inventory).
        if os.path.isdir(os.path.join(self.out_dir, "_stream_checkpoint")):
            raise ValueError(
                f"{self.out_dir}: a streaming checkpoint owns this "
                "lake's batch-id space — stop the crawler, delete "
                "_stream_checkpoint/, run release_quarantine, then "
                "restart the stream (it re-pins its batch base above "
                "the release)."
            )
        q = self._read_quarantine_full(spark)
        if q is None:
            return 0
        if "text" not in q.columns:
            raise ValueError(
                f"{self.out_dir}: quarantine chunks predate the full-row "
                "layout (verdict-only schema, no document text) — there "
                "is nothing to re-admit from them; re-crawl those doc "
                "ids from the source instead"
            )
        # a doc quarantined by MULTIPLE crawls (re-crawled text, flagged
        # again) has one row per crawl; re-admitting them all as one
        # batch would put duplicate doc_id rows in a single corpus chunk
        # and double-fold every plane. Latest crawl wins — the same
        # current-text semantics the maintained indexes keep.
        wq = Window.partitionBy("doc_id").orderBy(col("chunk").desc())
        q = (
            q.withColumn("__rn", F.row_number().over(wq))
            .filter(col("__rn") == 1)
            .drop("__rn")
        )
        old_chunks = _glob.glob(
            os.path.join(self.out_dir, "quarantine", "chunk=*")
        )
        n = q.select("doc_id").distinct().count()
        if n:
            self.process_batch(
                q.drop("n_bench_shingles", "chunk"), batch_id
            )
        import shutil

        keep = os.path.join(
            self.out_dir, "quarantine", f"chunk={batch_id}"
        )
        for d in old_chunks:
            if os.path.abspath(d) != os.path.abspath(keep):
                shutil.rmtree(d, ignore_errors=True)
        return n

    def read_corpus(self, spark: SparkSession) -> DataFrame:
        """Every admitted crawl row, one per (doc, crawl) — a re-crawled
        doc (changed text → new hash → re-admitted) appears once per
        crawl that admitted it. Consumers that need one CURRENT text per
        doc id (the semantics the maintained indexes keep, which retract
        a re-crawl's previous state) should use ``read_corpus_current``."""
        import glob as _glob

        base = os.path.join(self.out_dir, "docs")
        chunks = _glob.glob(os.path.join(base, "chunk=*"))
        if not chunks:
            raise FileNotFoundError(base)
        return (
            spark.read.option("basePath", base)
            .parquet(*chunks)
            .drop("chunk")
        )

    def corpus_row_count(self) -> int:
        """Admitted crawl rows across every chunk (``read_corpus``'s
        count), read off the parquet footers driver-side — no Spark job
        (the read-side mirror of the driver-lane chunk writes;
        equality with read_corpus().count() pinned by
        tests/test_arrowio.py)."""
        import glob as _glob

        import pyarrow.parquet as pq

        return sum(
            pq.read_metadata(p).num_rows
            for d in _glob.glob(os.path.join(self.out_dir, "docs", "chunk=*"))
            for p in _glob.glob(os.path.join(d, "*.parquet"))
        )

    def read_corpus_current(self, spark: SparkSession) -> DataFrame:
        """One row per doc id: the LATEST admitted crawl's text (max
        chunk wins) — the doc-grain view matching the maintained
        indexes' current-text state."""
        import glob as _glob

        base = os.path.join(self.out_dir, "docs")
        chunks = _glob.glob(os.path.join(base, "chunk=*"))
        if not chunks:
            raise FileNotFoundError(base)
        rows = spark.read.option("basePath", base).parquet(*chunks)
        w = Window.partitionBy("doc_id").orderBy(col("chunk").desc())
        return (
            rows.withColumn("__rn", F.row_number().over(w))
            .filter(col("__rn") == 1)
            .drop("__rn", "chunk")
        )
