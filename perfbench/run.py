#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload follow --seed 1 --seconds 20 --trace 0

Runs one workload (``follow`` or ``pipelines``; see perfbench/README.md)
in one process on ``local[<nproc>]`` with one closed-loop client: set up
(session start, input generation from the seed, warm-up), then run whole
passes over the workload's input, checking every pass's outputs. The number
of passes is the workload's pass count at ``--seconds 20``, scaled by
``--seconds``, so a run makes the same passes on any host. The last line of
stdout is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are the per-layer metrics, taken from traced passes
that alternate with untraced ones so the tracing overhead is measured in the
same run. A human-readable summary (every metric by name and unit, the
workload-specific rates, provenance) goes to stderr, and the full record to
``.perfbench_out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "peak_rss_mb": "MB",
}

WORKLOAD_NAMES = ("follow", "pipelines")  # perfbench.workloads.WORKLOADS


# -- statistics ---------------------------------------------------------------


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it, as
    ``(value, percentile, n)``: the (n-10)-th smallest sample, whose
    percentile is the share of samples at or below it. Below 20 samples
    that percentile would fall under the median, so the maximum is reported
    instead, as percentile 100; the sample count says how far to trust it."""
    s = sorted(samples)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    if n < 20:
        return s[-1], 100.0, n
    rank = n - 10
    return s[rank - 1], 100.0 * rank / n, n


# -- memory -------------------------------------------------------------------


def _hwm_kb(pid: "int | str") -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for {pid}")


def _gc_s(jvm) -> float:
    """Total JVM garbage-collection time so far, in seconds."""
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def _reset_hwm(pid: "int | str") -> None:
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass  # kernel without peak reset: the peak then includes set-up


# -- provenance ---------------------------------------------------------------


def provenance(seed: int, cpus: int, sf_dir: "str | None") -> dict:
    import pyarrow
    import pyspark

    def git(*args: str) -> "str | None":
        try:
            return subprocess.run(
                ["git", "-C", ROOT, *args], capture_output=True, text=True, check=True, timeout=30
            ).stdout
        except (OSError, subprocess.SubprocessError):
            return None

    head = git("rev-parse", "HEAD")
    status = git("status", "--porcelain")
    diff = git("diff", "HEAD")
    tree = hashlib.sha256()
    for top in ("blockchain_etl_spark", "perfbench", "tests"):
        for dirpath, _, files in sorted(os.walk(os.path.join(ROOT, top))):
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(dirpath, name)
                    tree.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        tree.update(f.read())
    return {
        "seed": seed,
        "nproc": cpus,
        "master": f"local[{cpus}]",
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "sf_dir": os.path.relpath(sf_dir, ROOT) if sf_dir else None,
        "git_commit": head.strip() if head else None,
        "git_dirty": bool(status.strip()) if status is not None else None,
        "git_diff_sha256": hashlib.sha256(diff.encode()).hexdigest() if diff is not None else None,
        "source_sha256": tree.hexdigest(),
    }


# -- per-layer metrics ----------------------------------------------------------

# per step of the workload (microbatch, query); the microbatch count is per
# catch-up
PER_LAYER_UNITS = {
    "blockfiles.gap_s": "s/step",
    "blockfiles.batches": "1/catchup",
    "ingest.batch_s": "s/step",
    "ingest.jobs": "1/step",
    "ingest.stages": "1/step",
    "ingest.tasks": "1/step",
    "ingest.executor_run_s": "s/step",
    "ingest.write_s": "s/step",
    "ingest.writes": "1/step",
    "ingest.output_bytes": "B/step",
    "merge.merge_s": "s/step",
    "merge.merges": "1/step",
    "merge.jobs": "1/step",
    "docs.batch_s": "s/step",
    "docs.jobs": "1/step",
    "docs.index_upsert_s": "s/step",
    "ivm.apply_s": "s/step",
    "ivm.jobs": "1/step",
    "arrowio.driver_writes": "1/step",
    "arrowio.driver_write_fallbacks": "1/step",
    "arrowio.bytes": "B/step",
    "plans.build_s": "s/step",
    "plans.action_s": "s/step",
    "plans.jobs": "1/step",
    "plans.stages": "1/step",
    "plans.tasks": "1/step",
    "plans.executor_run_s": "s/step",
    "plans.shuffle_bytes": "B/step",
    "plans.input_bytes": "B/step",
    "plans.checkpoints": "1/step",
    "plans.gate_scopes": "1/step",
}

def per_layer(spans: list[dict], step_span: str) -> dict[str, float]:
    """Per-layer metrics from the traced passes' spans, each per workload
    step (per microbatch on follow, per query on pipelines). A layer the
    workload does not call reads 0."""
    done = [s for s in spans if "end" in s]
    by_id = {s["id"]: s for s in done}

    def of(name):
        return [s for s in done if s["name"] == name]

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss)

    def spark(ss, key):
        return sum(s.get("spark", {}).get(key, 0) for s in ss)

    units = len(of(step_span))
    if units == 0:
        raise RuntimeError("traced passes recorded no steps")
    batches, streams = of("ingest.batch"), of("blockfiles.stream")
    writes = [w for w in of("writer.parquet") if by_id[w["parent"]]["name"] == "ingest.batch"] if batches else []
    merges, docs, queries = of("merge.merge_with"), of("docs.batch"), of("plans.query")
    # IncrementalJoinAggregate.apply calls IncrementalJoinView.apply: count
    # the outermost IVM call only
    ivm = [s for s in of("ivm.apply") if s["parent"] is None or by_id[s["parent"]]["name"] != "ivm.apply"]
    roots = [s for s in done if s["parent"] is None]

    def root_count(key):
        return sum(s["counters"].get(key, 0) for s in roots)

    def query_count(key):
        return sum(s["counters"].get(key, 0) for s in queries)

    totals = {
        "ingest.batch_s": dur(batches),
        "ingest.jobs": spark(batches, "jobs"),
        "ingest.stages": spark(batches, "stages"),
        "ingest.tasks": spark(batches, "tasks"),
        "ingest.executor_run_s": spark(batches, "executor_run_s"),
        "ingest.write_s": dur(writes),
        "ingest.writes": len(writes),
        "ingest.output_bytes": spark(batches, "output_bytes"),
        "merge.merge_s": dur(merges),
        "merge.merges": len(merges),
        "merge.jobs": spark(merges, "jobs"),
        "docs.batch_s": dur(docs),
        "docs.jobs": spark(docs, "jobs"),
        "docs.index_upsert_s": dur(of("docs.index_upsert")),
        "ivm.apply_s": dur(ivm),
        "ivm.jobs": spark(ivm, "jobs"),
        "arrowio.driver_writes": root_count("arrowio.driver_writes"),
        "arrowio.driver_write_fallbacks": root_count("arrowio.driver_write_fallbacks"),
        "arrowio.bytes": root_count("arrowio.bytes"),
        "plans.build_s": dur(of("plans.build")),
        "plans.action_s": dur(of("plans.action")),
        "plans.jobs": spark(queries, "jobs"),
        "plans.stages": spark(queries, "stages"),
        "plans.tasks": spark(queries, "tasks"),
        "plans.executor_run_s": spark(queries, "executor_run_s"),
        "plans.shuffle_bytes": spark(queries, "shuffle_bytes"),
        "plans.input_bytes": spark(queries, "input_bytes"),
        "plans.checkpoints": query_count("checkpoints"),
        "plans.gate_scopes": query_count("gate_scopes"),
    }
    out = {k: v / units for k, v in totals.items()}
    # the stream's own share of a catch-up: offsets, planning and commit
    # around the microbatch, per microbatch; and microbatches per catch-up
    out["blockfiles.gap_s"] = (dur(streams) - dur(batches)) / len(batches) if batches else 0.0
    out["blockfiles.batches"] = len(batches) / len(streams) if streams else 0.0
    return {k: out[k] for k in PER_LAYER_UNITS}


# -- the run ------------------------------------------------------------------


def _prepare_env(work: str, cpus: int) -> None:
    """Keep every file Spark, the JVM and the program write inside the
    checkout's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # Python workers (data sources, UDFs) import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # -XX:-UsePerfData: HotSpot would otherwise keep its counters in /tmp,
    # for the driver JVM and for spark-submit's launcher JVM alike
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{os.environ["SPARK_DRIVER_MEMORY"]}" pyspark-shell'
    )
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    _prepare_env(work, cpus)
    sys.path.insert(0, ROOT)
    t_setup = time.perf_counter()
    from blockchain_etl_spark.session import get_spark
    from perfbench.trace import SparkCounters, Tracer, self_times
    from perfbench.workloads import WORKLOADS, Context, log

    spark = get_spark("perfbench")
    gateway_proc = getattr(spark.sparkContext._gateway, "proc", None)
    # installed for the whole run: it times the steps the program runs
    # inside itself, and records spans only in traced passes
    tracer = Tracer(workload, SparkCounters(spark) if trace else None)
    try:
        tracer.install()
        spark.sparkContext.setLogLevel("ERROR")
        jvm_pid = int(spark.sparkContext._jvm.ProcessHandle.current().pid())
        ctx = Context(spark, seed, work, tracer)
        wl = WORKLOADS[workload]()
        # traced runs alternate untraced and traced passes, at least
        # untraced-traced-untraced, so the JIT's warming between passes
        # does not read as tracing overhead
        n_passes = max(1, round(wl.passes * seconds / 20), 3 if trace else 1)
        log(f"session start {time.perf_counter() - t_setup:.1f}s")
        wl.setup(ctx, n_passes)
        setup_s = time.perf_counter() - t_setup

        for pid in ("self", jvm_pid):
            _reset_hwm(pid)

        passes: list[tuple[bool, float]] = []
        gc0 = _gc_s(spark.sparkContext._jvm)
        for i in range(n_passes):
            traced = trace and i % 2 == 1
            tracer.enabled = traced
            passes.append((traced, wl.run_pass(ctx)))
        tracer.enabled = False
        gc_s = _gc_s(spark.sparkContext._jvm) - gc0
        peak_python_mb, peak_jvm_mb = _hwm_kb("self") / 1024.0, _hwm_kb(jvm_pid) / 1024.0
        peak_mb = peak_python_mb + peak_jvm_mb
        pass_times = [dt for _, dt in passes]
        wl.finish(ctx, pass_times)
    finally:
        tracer.uninstall()
        spark.stop()
        if gateway_proc is not None:
            gateway_proc.stdin.close()
            try:
                gateway_proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway_proc.kill()
                gateway_proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    untraced = [dt for t, dt in passes if not t]
    tail_v, tail_p, n_steps = tail(ctx.steps)
    e2e = {
        "setup_s": setup_s,
        "pass_s": statistics.median(untraced),
        "peak_rss_mb": peak_mb,
    }
    step = wl.step
    named = {
        "setup_s": setup_s,
        f"{step}_p50_s": statistics.median(ctx.steps),
        f"{step}_tail_s": tail_v,
        "error_rate": ctx.failed / ctx.attempted if ctx.attempted else 1.0,
        "peak_rss_mb": peak_mb,
        **ctx.extra,
    }
    record = {
        "workload": workload,
        "trace": trace,
        "seconds": seconds,
        "provenance": provenance(seed, cpus, getattr(wl, "sf_dir", None)),
        "end_to_end": e2e,
        "workload_metrics": named,
        "tail": {"percentile": tail_p, "samples": n_steps},
        "peak_rss_split_mb": {"python": peak_python_mb, "jvm": peak_jvm_mb},
        "jvm_gc_s": gc_s,
        "passes": [{"traced": t, "seconds": dt} for t, dt in passes],
        "steps": ctx.steps,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "errors": ctx.errors,
    }
    if trace:
        traced_passes = [dt for t, dt in passes if t]
        record["per_layer"] = per_layer(tracer.spans, wl.step_span)
        record["self_times"] = self_times(tracer.spans)
        record["trace_overhead"] = statistics.median(traced_passes) / statistics.median(untraced) - 1.0
        tracer.dump(os.path.join(out_dir, f"{workload}-seed{seed}.spans.jsonl"))
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{workload}-seed{seed}-trace{int(trace)}.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)

    log(f"provenance {json.dumps(record['provenance'], sort_keys=True)}")
    for k, v in sorted(named.items()):
        log(f"{workload} {k} = {v:.6g}")
    log(f"{workload} {step}_tail_s is p{tail_p:.1f} of {n_steps} {step}s")
    if trace:
        log(f"{workload} tracing overhead {100 * record['trace_overhead']:+.1f}% (traced vs untraced pass)")
    return record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "blockchain_etl_spark")):
        print(f"perfbench: no blockchain_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    rec = run(args.workload, args.seed, args.seconds, bool(args.trace))
    if args.trace:
        metrics = {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in rec["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in rec["end_to_end"].items()}
    print(
        json.dumps(
            {
                "correct": rec["failed"] == 0,
                "attempted": rec["attempted"],
                "failed": rec["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
