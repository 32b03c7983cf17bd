"""SparkSession factory tuned for this engine.

Local testing runs on local[N]; the same config scales to a multi-executor
cluster because everything here is expressed per-partition / per-shuffle, not
per-machine:

- AQE on (runtime coalescing, skew-join splitting) so shuffle partition counts
  self-tune between sf0.001 local runs and 100 TB cluster runs.
- Broadcast threshold raised: the dimension tables (region/nation/supplier/
  part analogues of the reference's locations/vars/oracle_prices — SURVEY §4
  "broadcast for the small dimension tables") are always broadcast-side.
- Arrow enabled for the few Pandas-UDF paths (multimodal stubs), never the
  relational hot path.
- Session timezone pinned UTC so timestamp semantics match the oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "blockchain-etl-spark", master: str | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # python data sources (sources/blockfiles.py) prune files via
        # pushFilters; the conf gates the capability
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # FileOutputCommitter algorithm 2: task commits rename straight to
        # the destination; job commit only drops _SUCCESS. The v1 two-phase
        # rename costs a full extra sequential rename pass per commit,
        # which dominates the maintained-state operators' many small
        # versioned writes (measured round 14: 30 small overwrites 23.3s
        # -> 13.5s on local[8]). Safe under this engine's publish model —
        # every maintained target commits via an atomic manifest/pointer
        # flip and ignores orphan files, so v2's weaker mid-job-failure
        # guarantees are not load-bearing. Parameterized for deployments
        # whose object store needs a store-specific committer instead.
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
            os.environ.get("SPARK_GRAFT_COMMITTER_ALGO", "2"),
        )
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"),
        )
    )
    return builder.getOrCreate()


from contextlib import contextmanager

# gate_shuffle mutates session-global conf; nesting or concurrent use on the
# shared session would let one gate's restore clobber another's pinned values
# (or run an unrelated query at 4 partitions). The gates run strictly
# serially (bench/driver/pytest all iterate queries one at a time), so we
# enforce that assumption rather than paying for a cloned session per gate.
_GATE_SHUFFLE_ACTIVE = False


@contextmanager
def gate_shuffle(spark: SparkSession, partitions: int = 1):
    """Pin a small static shuffle width (and AQE off) for the duration of
    a fixed-size gate query, restoring the session defaults afterwards.

    The maintained-plane driver gates ingest a corpus CAPPED at a fixed
    doc count (sources/testdata.py:GATE_DOC_CAP) — their state frames are
    a few thousand rows no matter the sf, so the session's 32-partition
    shuffle width (sized for the sf-scaled relational plans) buys nothing,
    and AQE's runtime re-planning — the right default for data whose
    size is only known at run time — degenerates into pure overhead: AQE
    materializes every query stage as its own async job, and a gate's
    dozens of tiny plane folds fan out into HUNDREDS of ~100 ms stage
    jobs (measured: 80 of a batch's 126 jobs were AQE stage
    materializations, 6.2 s of 6.9 s wall). A static single-partition
    plan runs each action as ONE job with one task per stage — measured
    (round 12) another ~20% off the four-gate total vs 4 partitions,
    with zero parallelism lost at the gates' ~1200-doc scale.
    The scope pins confs and nothing else: no write route reads it
    (maintained-state writes pick their lane by size alone,
    functions/arrowio.py). Production ingest of a real lake keeps the
    session defaults: this pinning is correct BECAUSE the gate corpus is
    size-invariant by design, not a general small-data tweak.

    NOT reentrant / NOT thread-safe: the override is session-global, so a
    nested or concurrent gate would restore the wrong values (or run a
    foreign query at gate width). Nested entry raises."""
    global _GATE_SHUFFLE_ACTIVE
    if _GATE_SHUFFLE_ACTIVE:
        raise RuntimeError(
            "gate_shuffle is not reentrant: a gate already holds the "
            "session-global shuffle override (gates must run serially)"
        )
    conf = spark.conf
    # Whole-stage codegen off for the gate scope: every gate fold is a
    # UNIQUE tiny plan shape, so each stage pays Janino compilation that
    # can never amortize over data (measured round 12: the four doc
    # gates drop ~25% — pipeline_watermark_audit 9.3 s → 6.3 s — from
    # this knob alone). Constraint propagation likewise only costs
    # analysis time on the gates' deep fold trees. Production-scale
    # plans keep both: codegen pays for itself from the first million
    # rows.
    pinned = {
        "spark.sql.shuffle.partitions": str(partitions),
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.codegen.wholeStage": "false",
        "spark.sql.codegen.factoryMode": "NO_CODEGEN",
        "spark.sql.constraintPropagation.enabled": "false",
    }
    prev = {k: conf.get(k) for k in pinned}
    # Flag latch and conf pinning INSIDE the try: if a conf.set raises
    # mid-loop (stopped/misconfigured session) the finally still clears
    # the latch and restores every key — restoring an unpinned key to
    # its current value is a no-op, so a partial pin can't leave the
    # session half-gated or permanently lock out later gates.
    try:
        _GATE_SHUFFLE_ACTIVE = True
        for k, v in pinned.items():
            conf.set(k, v)
        yield
    finally:
        _GATE_SHUFFLE_ACTIVE = False
        for k, v in prev.items():
            conf.set(k, v)
