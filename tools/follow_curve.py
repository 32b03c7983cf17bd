"""Follower catch-up time against blocks per microbatch.

For each burst size (20, 100 and 1000 blocks by default) and each rep, a
fresh lake is caught up through ``BlockIngest.run_blockfiles_stream`` with
inventories maintained, the production follower configuration:

1. a warm catch-up of the first 20-block archive (untimed), so the timed
   microbatch merges into non-empty inventories, as a running follower's do;
2. the burst: ``size`` more blocks land as 20-block archives and one timed
   catch-up ingests them as ONE microbatch.

Each timed catch-up also records its Janino compiles (Spark's
``CodegenMetrics``) and the JVM's JIT compilation milliseconds
(``CompilationMXBean``), the fixed cost a microbatch pays when generated
classes are not reused.

Sizes are interleaved within each rep, so a slow spell of the host hits
every size alike. One untimed burst before the reps pays the session's
first-use cost (JIT, code generation). From the per-size medians the tool
fits ``seconds = fixed + per_block * blocks`` by least squares and states
the hours a follower at each size needs to catch up the mainnet anchor
(BASELINE.md: assumed-valid height 1,526,437).

Writes FOLLOW_CURVE.json (``--out``) with the tree, host and Spark
provenance.

Usage: python tools/follow_curve.py [--sizes 20,100,1000] [--reps 3]
       [--seed 7] [--out FOLLOW_CURVE.json]
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

MAINNET_BLOCKS = 1_526_437  # BASELINE.md, mainnet scale anchor
PER_ARCHIVE = 20  # blocks per landed archive


def _compile_counters(spark) -> "tuple[int, int]":
    """(Janino compiles, JIT milliseconds) so far in the session's JVM."""
    jvm = spark.sparkContext._jvm
    janino = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    return janino.getCount(), jit.getTotalCompilationTime()


def _catch_up(spark, size: int, seed: int) -> "tuple[float, int, int]":
    """Seconds, Janino compiles and JIT milliseconds for one timed
    ``size``-block catch-up on a fresh lake."""
    from blockchain_etl_spark.sources.blockfiles import list_block_files
    from blockchain_etl_spark.streaming.ingest import BlockIngest
    from perfbench.datagen import write_block_archives

    root = tempfile.mkdtemp(prefix="follow-curve-")
    try:
        source, feed = os.path.join(root, "source"), os.path.join(root, "feed")
        write_block_archives(source, seed, PER_ARCHIVE + size, PER_ARCHIVE)
        first, *rest = list_block_files(source)
        os.makedirs(feed)
        ing = BlockIngest(os.path.join(root, "out"), maintain_inventories=True)
        shutil.copy(first.path, feed)
        ing.run_blockfiles_stream(spark, feed)
        for f in rest:
            shutil.copy(f.path, feed)
        c0 = _compile_counters(spark)
        t0 = time.perf_counter()
        ing.run_blockfiles_stream(spark, feed)
        dt = time.perf_counter() - t0
        c1 = _compile_counters(spark)
        if ing.sync_height() != PER_ARCHIVE + size:
            raise RuntimeError(f"catch-up of {size} blocks stopped at {ing.sync_height()}")
        return dt, c1[0] - c0[0], c1[1] - c0[1]
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _fit(points: "list[tuple[int, float]]") -> "tuple[float, float]":
    """Least-squares ``(fixed_s, per_block_s)`` over (blocks, seconds)."""
    n = len(points)
    mx = sum(b for b, _ in points) / n
    my = sum(s for _, s in points) / n
    slope = sum((b - mx) * (s - my) for b, s in points) / sum((b - mx) ** 2 for b, _ in points)
    return my - slope * mx, slope


def main(argv: "list[str] | None" = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sizes", default="20,100,1000")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--out", default=os.path.join(REPO, "FOLLOW_CURVE.json"))
    args = ap.parse_args(argv)
    sizes = [int(s) for s in args.sizes.split(",")]

    from tools.gate_log import tree_record

    tree = tree_record()
    cpus = os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    import pyspark

    from blockchain_etl_spark.session import get_spark

    spark = get_spark("follow-curve")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        _catch_up(spark, PER_ARCHIVE, args.seed)  # session warm-up
        times: dict[int, list[float]] = {s: [] for s in sizes}
        compiles: dict[int, list[int]] = {s: [] for s in sizes}
        jit_ms: dict[int, list[int]] = {s: [] for s in sizes}
        for rep in range(args.reps):
            for size in sizes:
                dt, n_compiles, n_jit_ms = _catch_up(spark, size, args.seed)
                times[size].append(dt)
                compiles[size].append(n_compiles)
                jit_ms[size].append(n_jit_ms)
                print(
                    f"rep {rep + 1} size {size}: {dt:.2f}s, {n_compiles} compiles, "
                    f"JIT {n_jit_ms} ms",
                    file=sys.stderr,
                )
    finally:
        spark.stop()

    curve = []
    for size in sizes:
        med = statistics.median(times[size])
        bps = size / med
        curve.append(
            {
                "blocks": size,
                "seconds": [round(t, 3) for t in times[size]],
                "median_s": round(med, 3),
                "janino_compiles": compiles[size],
                "jit_ms": jit_ms[size],
                "blocks_per_s": round(bps, 2),
                "mainnet_catch_up_h": round(MAINNET_BLOCKS / bps / 3600, 1),
            }
        )
    fixed, per_block = _fit([(c["blocks"], c["median_s"]) for c in curve])
    record = {
        "what": "follower catch-up: one run_blockfiles_stream call ingesting N landed "
        "blocks as one microbatch (inventories maintained), on a fresh lake after "
        "a 20-block warm catch-up",
        "curve": curve,
        "fit": {"fixed_s": round(fixed, 3), "per_block_ms": round(per_block * 1000, 3)},
        "mainnet_anchor_blocks": MAINNET_BLOCKS,
        "provenance": {
            **tree,
            "seed": args.seed,
            "reps": args.reps,
            "nproc": os.cpu_count(),
            "master": f"local[{cpus}]",
            "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "machine": platform.machine(),
            "date": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        },
    }
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    print(json.dumps(record["curve"]), file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
