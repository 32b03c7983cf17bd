"""Block-follower ingest — SURVEY §2 S1/T1: consume transaction batches in
strict height order, fan out to the per-table handler pipelines, write each
output table idempotently, and record the sync height LAST.

Reference semantics being emulated (and how):

- Strict N+1 ordering with an assert (src/be_db_block.erl:96-100): each
  microbatch must start at or below stored_height+1 — replays are allowed
  (idempotent), a batch that starts past a gap raises.
- One DB transaction per block spanning all 12 handlers
  (src/be_db_follower.erl:86-108): Spark has no multi-table transaction, so
  the guarantee is weakened to "every table write is idempotent (same block
  range overwrites the same directory), every inventory merge skips itself
  on its own watermark, and the `_sync/height.json` watermark is written
  last" — a crash mid-batch replays the whole range and converges
  (SURVEY §7.4 T1).
- Handler fan-out sharing the exploded txn frame (SURVEY §3.1 "Spark
  shape"): the parsed transactions batch is cached once — the bounds probe
  fills the cache, so the source is read once per microbatch — and every
  derived table (actors, rewards, packets, dc_burns, oracle_prices) reads
  the cache.
- Concurrent handlers: the 10 table writes and the inventory merges share
  no output, so they run side by side on driver threads
  (streaming/fanout.py). Every task runs to completion before a failure is
  re-raised; the handlers that succeeded stay committed, the watermark does
  not move, and the replay of the range converges.
- One lane rule: every file the follower commits (tables, inventories,
  changelogs, compaction buckets, snapshots) takes functions/arrowio.py's
  driver or distributed lane; the table writes are bounded before any
  collect by the bytes of the files the batch reads.
- One offset: the archive follower (``run_blockfiles_stream``) runs no
  streaming query. The sync watermark is its only offset: each call reads
  the contiguous run of landed archives above it in one batch and ingests
  it as one microbatch; a missing archive stalls the catch-up below the
  gap instead of raising. A replayable source plus idempotent writes and
  a watermark written last already give exactly-once, so a second offset
  log would add nothing. The archive follower writes no ``_checkpoint/``;
  one it left in an earlier version may be deleted (``run_stream``, the
  parquet-file follower, still keeps its stream offsets there).

Scale notes: each microbatch writes `blockrange=<min>-<max>` directories —
append-only, no small-file rewrite of history; at 100 TB compaction is a
separate background job (the reference's backfills play the same role).
"""

from __future__ import annotations

import json
import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from ..functions import arrowio
from ..operators.actors import extract_actors
from ..sources.blockchain import FIELDS_SCHEMAS
from .entities import gateway_history, oui_history, validator_history, vars_history
from .fanout import run_tasks

_log = logging.getLogger(__name__)

TABLES = (
    "transactions",
    "transaction_actors",
    "rewards",
    "packets",
    "dc_burns",
    "oracle_prices",
    "gateways",
    "validators",
    "ouis",
    "vars",
)

# per-entity inventory MERGE specs (the trigger semantics of
# migrations/1590689602:32-62 / 1622293265:49-77 / 1612480010:32-56;
# vars_inventory migrations/1592306954; oracle price last-seen state
# src/be_db_oracle_price.erl:85-99 keyed per feed):
# history table → (keys, COALESCE partial-update columns).
INVENTORIES = {
    "gateways": (["address"], ["owner", "location", "elevation", "gain"]),
    "validators": (["address"], ["owner", "stake", "last_heartbeat", "status"]),
    "ouis": (["oui"], ["owner", "addresses", "nonce"]),
    "vars": (["name"], ["value"]),
    "oracle_prices": (["public_key"], ["price"]),
}


def derive_tables(txns: DataFrame) -> dict[str, DataFrame]:
    """The handler fan-out: one parsed transactions frame → every derived
    table. Mirrors the reference's per-block handler modules:

    - transaction_actors: be_db_txn_actor (P4)
    - rewards:            be_db_reward:159-236 (A6 explode+project)
    - packets:            be_db_packet:85-101 (A7 summaries rollup)
    - dc_burns:           be_db_dc_burn:74-125 (P6 fee/burn extraction)
    - oracle_prices:      be_db_oracle_price (from price oracle txns)
    """
    out: dict[str, DataFrame] = {"transactions": txns}

    out["transaction_actors"] = extract_actors(txns)

    rewards_fields = FIELDS_SCHEMAS["rewards_v1"]
    out["rewards"] = (
        txns.filter(col("type").isin("rewards_v1", "rewards_v2"))
        .select(
            "block",
            col("hash").alias("transaction_hash"),
            "time",
            F.explode(F.from_json("fields", rewards_fields).rewards).alias("r"),
        )
        .select(
            "block",
            "transaction_hash",
            "time",
            col("r.account").alias("account"),
            col("r.gateway").alias("gateway"),
            col("r.amount").alias("amount"),
            col("r.type").alias("type"),
        )
    )

    sc_fields = FIELDS_SCHEMAS["state_channel_close_v1"]
    summaries = (
        txns.filter(col("type") == "state_channel_close_v1")
        .select(
            "block",
            col("hash").alias("transaction_hash"),
            "time",
            F.explode(F.from_json("fields", sc_fields).state_channel.summaries).alias("s"),
        )
    )
    out["packets"] = summaries.groupBy("block", "transaction_hash", "time", col("s.client").alias("gateway")).agg(
        F.sum("s.num_packets").alias("num_packets"),
        F.sum("s.num_dcs").alias("num_dcs"),
    )

    # P6 fee/burn extraction (src/be_db_dc_burn.erl:74-125): per txn type,
    # (payer, burn type, amount) rows; zero amounts dropped.
    fee = F.get_json_object("fields", "$.fee").cast("long")
    staking_fee = F.get_json_object("fields", "$.staking_fee").cast("long")
    payer = F.coalesce(
        F.nullif(F.get_json_object("fields", "$.payer"), F.lit("")),
        F.get_json_object("fields", "$.owner"),
    )
    fee_burns = (
        txns.filter(col("type").isin("add_gateway_v1", "assert_location_v2", "oui_v1", "payment_v2"))
        .select(
            "block",
            col("hash").alias("transaction_hash"),
            "time",
            payer.alias("actor"),
            F.lit("fee").alias("type"),
            (F.coalesce(fee, F.lit(0)) + F.coalesce(staking_fee, F.lit(0))).alias("amount"),
        )
    )
    token_burns = txns.filter(col("type") == "token_burn_v1").select(
        "block",
        col("hash").alias("transaction_hash"),
        "time",
        F.get_json_object("fields", "$.payer").alias("actor"),
        F.lit("token_burn").alias("type"),
        F.get_json_object("fields", "$.amount").cast("long").alias("amount"),
    )
    sc_burns = summaries.select(
        "block",
        "transaction_hash",
        "time",
        col("s.client").alias("actor"),
        F.lit("state_channel").alias("type"),
        col("s.num_dcs").alias("amount"),
    )
    out["dc_burns"] = (
        fee_burns.unionByName(token_burns)
        .unionByName(sc_burns)
        .filter(col("amount") > 0)
    )

    out["oracle_prices"] = txns.filter(col("type") == "price_oracle_v1").select(
        "block",
        "hash",
        F.get_json_object("fields", "$.public_key").alias("public_key"),
        F.get_json_object("fields", "$.price").cast("long").alias("price"),
    )

    # per-entity history tables (partial rows; inventories fold them via
    # MERGE — streaming/entities.py)
    out["gateways"] = gateway_history(txns)
    out["validators"] = validator_history(txns)
    out["ouis"] = oui_history(txns)
    out["vars"] = vars_history(txns)
    return out


def explode_txns(blocks: DataFrame) -> DataFrame:
    """Block rows in the ``blockfiles`` schema → one row per transaction
    in the ingest shape (block, hash, time, type, fields). Runs in the
    JVM: each entry's polymorphic payload stays an opaque JSON string
    ('fields')."""
    return blocks.select(
        col("height").alias("block"),
        "time",
        F.explode(
            F.from_json("txns", "array<struct<hash:string,type:string,fields:string>>")
        ).alias("t"),
    ).select(
        "block",
        col("t.hash").alias("hash"),
        "time",
        col("t.type").alias("type"),
        col("t.fields").alias("fields"),
    )


class BlockIngest:
    """Ordered, idempotent ingest into a directory-per-table layout."""

    def __init__(
        self,
        out_dir: str,
        maintain_inventories: bool = False,
        maintain_stats: bool = False,
    ):
        self.out_dir = out_dir
        # when on, each batch also MERGEs entity history partials into
        # <out>/<entity>_inventory (ParquetMergeTarget) — the streaming
        # form of the reference's AFTER INSERT inventory triggers.
        self.maintain_inventories = maintain_inventories
        # when on (implies inventories), inventory merges also emit CDC
        # changelogs and a per-table row-count view follows them — the
        # reference's trigger-maintained stats_inventory
        # (migrations/1593015009-stats_inventory.sql:11-16), maintained
        # from change rows alone instead of COUNT(*) rescans.
        self.maintain_stats = maintain_stats
        if maintain_stats and not maintain_inventories:
            raise ValueError("maintain_stats requires maintain_inventories")

    # -- sync-height watermark (T1) ------------------------------------
    @property
    def _sync_path(self) -> str:
        return os.path.join(self.out_dir, "_sync", "height.json")

    def sync_height(self) -> int:
        try:
            with open(self._sync_path) as f:
                return int(json.load(f)["height"])
        except (OSError, ValueError, KeyError, TypeError):
            # any corrupt/partial/hand-edited state (missing file, bad
            # JSON, missing "height" key, non-numeric value) means
            # "start from genesis" — the writes are idempotent anyway
            return 0

    def _write_sync_height(self, height: int) -> None:
        arrowio.publish_json(self._sync_path, {"height": height})

    # -- batch processing ---------------------------------------------
    def process_batch(
        self, batch: DataFrame, batch_id: int, batch_bytes: "float | None" = None
    ) -> None:
        """foreachBatch body: order-check, derive, commit every handler,
        advance the watermark last. ``batch_bytes`` bounds the 10 table
        writes before any collect, as in ``DocIngest.process_batch``;
        default ``arrowio.input_bytes(batch)``, taken before the cache
        (a cached plan shows no file).

        The 10 table writes and the inventory merges (``accounts`` plus
        ``INVENTORIES``, each followed by its stats view when
        ``maintain_stats`` is on) run concurrently, one driver thread each
        (``fanout.run_tasks``). ``_sync/height.json`` is written only
        after every task has succeeded. On a failure every other task
        still runs to completion and stays committed, the failure is
        re-raised (several are summarised in one error) and the watermark
        stays put; replaying the range
        converges, since each table write overwrites its own
        ``blockrange=`` directory and each merge skips itself on its own
        watermark."""
        read = arrowio.input_bytes(batch) if batch_bytes is None else batch_bytes
        batch = batch.cache()
        try:
            # the probe scans every partition, so it also fills the cache:
            # the source is read once per microbatch
            bounds = batch.agg(
                F.min("block").alias("lo"), F.max("block").alias("hi")
            ).first()
            if bounds.lo is None:
                return
            stored = self.sync_height()
            if bounds.lo > stored + 1:
                # mirror of the reference's height assert
                # (src/be_db_block.erl:96-100): no gaps, ever.
                raise ValueError(
                    f"non-contiguous batch: first height {bounds.lo} > stored {stored}+1"
                )
            tables = derive_tables(batch)
            rng = f"blockrange={bounds.lo}-{bounds.hi}"

            # same range → same directory → replay overwrites, making the
            # batch idempotent (the reference's ON CONFLICT).
            tasks = [
                (
                    name,
                    lambda df=df, path=os.path.join(self.out_dir, name, rng): (
                        arrowio.write_parquet(df, path, read_bytes=read)
                    ),
                )
                for name, df in tables.items()
            ]
            if self.maintain_inventories:
                tasks += self._inventory_tasks(
                    batch.sparkSession, tables, int(bounds.hi)
                )
            run_tasks(batch.sparkSession, tasks)
            if bounds.hi > stored:
                self._write_sync_height(bounds.hi)
        finally:
            batch.unpersist()

    def _inventory_tasks(
        self, spark: SparkSession, tables: dict[str, DataFrame], watermark: int
    ) -> list:
        """One task per inventory: its MERGE, then (``maintain_stats``) its
        row-count view."""
        from ..operators.merge import merge_accumulate, merge_latest
        from .entities import account_inventory_from_actors

        def merge(name, updates, keys, fold) -> None:
            target = self.inventory_target(name)
            target.merge_with(
                spark,
                updates,
                fold,
                watermark=watermark,
                changelog_keys=keys if self.maintain_stats else None,
            )
            if self.maintain_stats:
                # catch_up, not fold: enabling maintain_stats on a
                # directory whose inventories already merged versions
                # WITHOUT changelog_keys (or whose vacuum() outran the
                # view) must seed the view from a one-time snapshot count
                # — a bare fold() raises on the missing changelog segment
                # and wedges ingestion.
                self._stats_view(name).catch_up(spark, target)

        # accounts: ASSOCIATIVE aggregate state (counts/min/max/role set)
        # — merged additively, not latest-wins.
        accounts = account_inventory_from_actors(tables["transaction_actors"])
        tasks = [
            (
                "accounts_inventory",
                lambda: merge(
                    "accounts",
                    accounts,
                    ["address"],
                    lambda target, upd: merge_accumulate(
                        target,
                        upd,
                        keys=["address"],
                        sum_cols=["n_txns"],
                        min_cols=["first_block"],
                        max_cols=["last_block"],
                        set_cols=["roles"],
                    ),
                ),
            )
        ]
        for name, (keys, coalesce_cols) in INVENTORIES.items():
            tasks.append(
                (
                    f"{name}_inventory",
                    lambda name=name, keys=keys, cc=coalesce_cols: merge(
                        name,
                        tables[name],
                        keys,
                        lambda target, upd: merge_latest(
                            target,
                            upd,
                            keys=keys,
                            # hash breaks same-block ties → deterministic
                            # fold at any partition count, so a replayed
                            # merge is a no-op (ties favor the update side).
                            order=["block", "hash"],
                            coalesce_cols=cc,
                            first_col="first_block",
                            last_col="last_block",
                        ),
                    ),
                )
            )
        return tasks

    def inventory_target(self, name: str):
        from ..operators.merge import ParquetMergeTarget

        return ParquetMergeTarget(os.path.join(self.out_dir, f"{name}_inventory"))

    def _stats_view(self, name: str):
        """Per-inventory CDC-maintained row count (empty group = one global
        row), versioned/replay-guarded like everything else."""
        from ..operators.cdc_view import ChangelogAggregateView

        return ChangelogAggregateView(
            os.path.join(self.out_dir, "stats", name), group_keys=()
        )

    def stats_inventory(self, spark: SparkSession) -> DataFrame:
        """The reference's ``stats_inventory`` rows — (name, value) row
        counts per inventory table — maintained from CDC changelogs alone
        (migrations/1593015009-stats_inventory.sql:11-16: each change to a
        watched table bumps the stat in-transaction; here the changelog
        fold in process_batch plays the trigger). Never scans an
        inventory: each read is a 1-row view lookup per table."""
        rows = []
        for name in ("accounts", *INVENTORIES):
            v = self._stats_view(name).read(spark)
            n = 0
            if v is not None:
                got = v.collect()
                n = int(got[0].n_rows) if got else 0
            rows.append((f"{name}_inventory", n))
        from ..functions.localframe import local_df

        return local_df(spark, rows, "name string, value bigint")

    def read_inventory(self, spark: SparkSession, name: str) -> DataFrame:
        df = self.inventory_target(name).read(spark)
        if df is None:
            raise FileNotFoundError(f"no inventory for {name}")
        return df.drop("hash", "time")

    def read_table(self, spark: SparkSession, name: str) -> DataFrame:
        """Read a derived table across both layouts: compacted height-bucket
        partitions plus any not-yet-compacted per-batch blockrange dirs."""
        import glob as _glob

        base = os.path.join(self.out_dir, name)
        parts = []
        if _glob.glob(os.path.join(base, "compacted", "height_bucket=*")):
            parts.append(
                spark.read.option("basePath", os.path.join(base, "compacted"))
                .parquet(os.path.join(base, "compacted", "height_bucket=*"))
                .drop("height_bucket")
            )
        if _glob.glob(os.path.join(base, "blockrange=*")):
            parts.append(
                spark.read.option("basePath", base)
                .parquet(os.path.join(base, "blockrange=*"))
                .drop("blockrange")
            )
        if not parts:
            raise FileNotFoundError(base)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    # -- compaction (the 100 TB small-file answer) ----------------------
    @staticmethod
    def _bucket_manifest(bucket_dir: str) -> list[str]:
        """Range names already folded into this bucket. Lives INSIDE the
        bucket dir (underscore-prefixed → invisible to Spark's parquet
        reader, like _SUCCESS) so the atomic dir rename that publishes the
        bucket's rows publishes its fold-ledger in the same instant."""
        try:
            with open(os.path.join(bucket_dir, "_folded_ranges.json")) as f:
                return list(json.load(f))
        except (OSError, ValueError, TypeError):
            return []

    def compact(
        self, spark: SparkSession, name: str, blocks_per_bucket: int = 100_000
    ) -> int:
        """Fold per-batch ``blockrange=lo-hi`` directories into the
        consolidated ``compacted/height_bucket=N`` layout (sources/lake.py
        partitioning — the BRIN-index analog for height-range pruning).

        Rewrites ONLY the height buckets the new ranges touch — per-bucket
        work stays proportional to fresh data, not table size, so the job
        holds at 100 TB where a full-table rewrite would not.

        Crash-safety / replay idempotency: each bucket carries a manifest
        (``_folded_ranges.json``) naming every blockrange ever folded into
        it, published atomically WITH the bucket's rows (single dir
        rename). A rerun folds only (bucket, range) pairs the manifest
        does not record, so a crash at ANY point — after some swaps,
        before range deletion — replays to the exact same state, never a
        double fold. A blockrange dir is deleted only once every bucket it
        touches records it. Swaps go old→``.old`` / tmp→live / drop
        ``.old``; interrupted swaps are healed on entry. Single-writer per
        table assumed (as in the reference's one-follower design); a read
        concurrent with the swap window may see a folded range twice —
        bounded staleness, same as reading mid-backfill in the reference.
        """
        import glob as _glob
        import shutil

        from ..sources.lake import height_bucket

        base = os.path.join(self.out_dir, name)
        comp_dir = os.path.join(base, "compacted")

        # heal interrupted swaps: a missing live dir with a .old sibling
        # means the crash hit between the two renames — roll back; stray
        # .old/.tmp next to a live dir are finished or doomed work — drop.
        for p in _glob.glob(os.path.join(comp_dir, "height_bucket=*.old")):
            live = p[: -len(".old")]
            if os.path.isdir(live):
                shutil.rmtree(p)
            else:
                os.replace(p, live)
        for p in _glob.glob(os.path.join(comp_dir, "height_bucket=*.tmp")):
            shutil.rmtree(p)

        ranges = sorted(_glob.glob(os.path.join(base, "blockrange=*")))
        if not ranges:
            return 0
        fresh = (
            spark.read.option("basePath", base)
            .parquet(*ranges)
            .withColumn("height_bucket", height_bucket(col("block"), blocks_per_bucket))
        )
        # bucket → the range names that contribute rows to it (dim-sized:
        # one row per (bucket, pending range) pair)
        pairs = fresh.select("height_bucket", "blockrange").distinct().collect()
        by_bucket: dict[int, set[str]] = {}
        for r in pairs:
            by_bucket.setdefault(r.height_bucket, set()).add(f"blockrange={r.blockrange}")

        for b in sorted(by_bucket):
            bucket_dir = os.path.join(comp_dir, f"height_bucket={b}")
            folded = set(self._bucket_manifest(bucket_dir))
            new_names = sorted(by_bucket[b] - folded)
            if not new_names:
                continue  # this bucket already absorbed these ranges
            bucket_df = fresh.filter(
                (col("height_bucket") == b)
                & col("blockrange").isin([n.split("=", 1)[1] for n in new_names])
            ).drop("height_bucket", "blockrange")
            if os.path.isdir(bucket_dir):
                bucket_df = bucket_df.unionByName(spark.read.parquet(bucket_dir))
            tmp = bucket_dir + ".tmp"
            arrowio.write_parquet(bucket_df, tmp)
            with open(os.path.join(tmp, "_folded_ranges.json"), "w") as f:
                json.dump(sorted(folded | set(new_names)), f)
            if os.path.isdir(bucket_dir):
                os.replace(bucket_dir, bucket_dir + ".old")
            os.replace(tmp, bucket_dir)
            if os.path.isdir(bucket_dir + ".old"):
                shutil.rmtree(bucket_dir + ".old")

        # a range may go only when every bucket it feeds records it
        folded_count = 0
        for r in ranges:
            rname = os.path.basename(r)
            touched = [b for b, names in by_bucket.items() if rname in names]
            if all(
                rname
                in self._bucket_manifest(os.path.join(comp_dir, f"height_bucket={b}"))
                for b in touched
            ):
                shutil.rmtree(r)
                folded_count += 1
        return folded_count

    # -- snapshot sink (S4, src/be_db_block.erl:118-157) ---------------
    def write_snapshot(self, spark: SparkSession, height: int) -> str:
        """Materialize every derived table as of the snapshot and write a
        `latest-snap.json` manifest pointing at it — the reference's
        compressed chain snapshot + manifest pair."""
        from pyspark.errors import AnalysisException

        snap_dir = os.path.join(self.out_dir, "snapshots", f"height={height}")
        written, skipped = [], []
        for name in TABLES:
            try:
                df = self.read_table(spark, name).filter(col("block") <= height)
            except (FileNotFoundError, AnalysisException):
                # table never materialized in this deployment — a valid
                # partial layout. Anything else (corrupt files, IO errors
                # mid-write) must surface, not silently thin the snapshot.
                skipped.append(name)
                continue
            arrowio.write_parquet(df, os.path.join(snap_dir, name))
            written.append(name)
        if skipped:
            _log.info("write_snapshot: skipped absent tables: %s", ", ".join(skipped))
        arrowio.publish_json(
            os.path.join(self.out_dir, "snapshots", "latest-snap.json"),
            {"height": height, "dir": snap_dir, "tables": written},
        )
        return snap_dir

    # -- streaming wrapper (S1) ---------------------------------------
    def run_stream(self, spark: SparkSession, input_dir: str, schema) -> None:
        """Consume a file stream of transaction rows with availableNow
        semantics: every pending file is processed in bounded microbatches,
        then the query stops — the batch-first, streaming-second design
        (SURVEY §7.1). Each microbatch is bounded by the largest pending
        file (its plan shows none)."""
        largest = arrowio.largest_file_bytes(input_dir)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)  # reference block_sync batching
            .parquet(input_dir)
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda batch, epoch: self.process_batch(batch, epoch, largest)
            )
            .option("checkpointLocation", os.path.join(self.out_dir, "_checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def run_blockfiles_stream(
        self, spark: SparkSession, input_dir: str, start_height: int = 1
    ) -> None:
        """S1 from the block archive feed (sources/blockfiles.py): catch
        the follower up to the landed tip as ONE microbatch.

        The sync watermark is the only offset. The catch-up takes the
        contiguous run of landed archives from
        ``max(sync_height() + 1, start_height)`` (``contiguous_files``: a
        gap stalls the catch-up at the height below it, without error; the
        run resumes once the late archive lands). The run is decoded in the
        JVM by Spark's JSON reader in FAILFAST mode, so a corrupt line
        raises and the watermark stays put. The rows go through
        ``explode_txns`` to ``process_batch``. With nothing new the call
        returns before any Spark job. A replayed range converges for the
        same reason a crashed batch does: every write is idempotent and the
        watermark is written last. No ``_checkpoint/`` is written; one this
        follower left in an earlier version, when it ran as a streaming
        query, is ignored and may be deleted."""
        from ..sources.blockfiles import SCHEMA, contiguous_files

        next_height = max(self.sync_height() + 1, start_height)
        run = contiguous_files(input_dir, next_height)
        if not run:
            return
        # Above the parallel-discovery threshold (32 paths by default)
        # Spark lists the paths with a distributed job, one task per
        # archive, before the catch-up's first real job. The run names
        # its files, so listing them on the driver costs one stat each:
        # the threshold is raised to the run's length for this read only.
        conf, key = spark.conf, "spark.sql.sources.parallelPartitionDiscovery.threshold"
        prev = conf.get(key)
        conf.set(key, str(max(len(run), int(prev))))
        try:
            blocks = spark.read.schema(SCHEMA).option("mode", "FAILFAST").json([f.path for f in run])
        finally:
            conf.set(key, prev)
        # Only a first archive that straddles next_height holds consumed
        # blocks. The filter's literal is inlined into generated code, so
        # applying it on every catch-up compiles fresh classes each time.
        if run[0].lo < next_height:
            blocks = blocks.filter(col("height") >= next_height)
        self.process_batch(explode_txns(blocks), next_height)
