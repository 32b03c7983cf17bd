"""Concurrent fan-out of independent per-batch tasks on driver threads.

Both ingests (``BlockIngest`` table writes and inventory merges,
``DocIngest`` plane folds) hand a microbatch's independent commits to
``run_tasks``. Each task is a driver thread that submits its own Spark
jobs; the scheduler runs those jobs side by side, so a microbatch of many
tiny writes pays the per-job driver latency once per wave instead of once
per write. Each task runs under the submitting thread's Spark local
properties (job group, job tags, scheduler pool) and session tags, as it
would inline, so cancelling the caller's job group (a stopped streaming
query) reaches the task's jobs too.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Callable, Sequence

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession


def run_tasks(
    spark: SparkSession, tasks: Sequence[tuple[str, Callable[[], object]]]
) -> None:
    """Run the named tasks concurrently (pool width = number of tasks).
    ALL tasks run to completion before any failure is re-raised, so a
    crash leaves every surviving task durably committed (the straggler
    subset a replay or the doctor heals), never a thread still writing
    while the caller unwinds. Single task → run inline (no thread
    overhead)."""
    if not tasks:
        return
    if len(tasks) == 1:
        tasks[0][1]()
        return
    with ThreadPoolExecutor(max_workers=len(tasks)) as ex:
        # one wrapper per task: each copies the caller's properties, so
        # the tasks never share (and race on) one properties object
        futures = [
            (name, ex.submit(inheritable_thread_target(spark)(fn)))
            for name, fn in tasks
        ]
        errs = []
        for name, fut in futures:
            err = fut.exception()
            if err is not None:
                errs.append((name, err))
    if errs:
        first_name, first_err = errs[0]
        if len(errs) > 1:
            # a multi-task incident must surface EVERY failed task, not
            # just whichever future was polled first. Raise a NEW summary
            # error with the first failure as __cause__ — mutating
            # first_err.args would silently drop the summary for exception
            # types whose __str__ does not render from args
            # (OSError(errno, strerror), Py4J errors — i.e. the disk-full
            # incidents this exists for).
            summary = "; ".join(f"{n}: {type(e).__name__}: {e}" for n, e in errs)
            raise RuntimeError(
                f"{len(errs)} concurrent task failures "
                f"(first: {first_name}): {summary}"
            ) from first_err
        raise first_err
