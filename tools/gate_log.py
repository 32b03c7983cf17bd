#!/usr/bin/env python
"""Driver-style sf0.01 oracle gate with a MACHINE-READABLE log.

Runs the exact verify the driver runs — vanilla SparkSession (NOT
session.get_spark), every registered query at sf0.01 compared against its
DuckDB oracle on row count + column names + order-insensitive values —
and APPENDS one audit record to the JSON log named on the command line:

    python tools/gate_log.py GATELOG.json

    {"commit": <git HEAD>, "tree_dirty": bool,
     "tree_diff_sha256": sha256 of `git diff HEAD` and the untracked
                         files (null on a clean tree),
     "n_queries": N, "n_ok": N, "fails": [...],
     "session_conf_hash": md5-of-confs, "queries": {name: true/false}}

A dirty-tree record names its exact tree: HEAD plus the changes whose
hash it carries, the tracked diff and every untracked, not ignored file
(path and content). The tree is recorded before the gate runs.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_GATE_SF_DIR", "/root/testdata/sf0.01")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _git(*args, cwd: str = REPO) -> bytes:
    try:
        return subprocess.run(["git", *args], capture_output=True, cwd=cwd).stdout
    except OSError:
        return b""


def tree_record(repo: str = REPO) -> dict:
    """The tree the gate runs on: HEAD, whether it is dirty and, if so,
    the sha256 of the changes that turn HEAD into it — `git diff HEAD`
    plus each untracked file's path and content."""
    dirty = bool(_git("status", "--porcelain", cwd=repo).strip())
    digest = None
    if dirty:
        h = hashlib.sha256(_git("diff", "HEAD", "--binary", cwd=repo))
        untracked = _git("ls-files", "--others", "--exclude-standard", "-z", cwd=repo)
        for rel in sorted(filter(None, untracked.split(b"\0"))):
            path = os.path.join(os.fsencode(repo), rel)
            if os.path.islink(path):
                body = os.readlink(path)
            else:
                with open(path, "rb") as f:
                    body = f.read()
            for part in (rel, body):
                h.update(len(part).to_bytes(8, "big") + part)
        digest = h.hexdigest()
    return {
        "commit": _git("rev-parse", "HEAD", cwd=repo).decode().strip(),
        "tree_dirty": dirty,
        "tree_diff_sha256": digest,
    }


def main(argv: "list[str] | None" = None) -> int:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("log", help="JSON gate log to append the record to")
    log_path = ap.parse_args(argv).log
    tree = tree_record()

    import duckdb
    import pandas as pd
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    confs = sorted(
        (k, v)
        for k, v in spark.sparkContext.getConf().getAll()
        if k.startswith("spark.sql") or k in ("spark.master",)
    )
    conf_hash = hashlib.md5(json.dumps(confs).encode()).hexdigest()

    import __spark_entry__ as e

    qs, osql = e.queries(), e.oracle_sql()
    assert len(e.entry(spark).collect()) > 0, "entry() smoke failed"
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if str(df[c].dtype).startswith("datetime"):
                df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        return df.sort_values(by=list(df.columns), ignore_index=True)

    results: dict[str, bool] = {}
    for name in sorted(osql):
        try:
            s = norm(qs[name](spark, SF_DIR).toPandas())
            d = norm(con.execute(osql[name]).fetchdf())
            ok = list(s.columns) == list(d.columns) and len(s) == len(d)
            if ok:
                for c in s.columns:
                    if any(
                        not (x == y or (pd.isna(x) and pd.isna(y)))
                        for x, y in zip(s[c].tolist(), d[c].tolist())
                    ):
                        ok = False
                        break
        except Exception as exc:  # a crash is a FAIL, not a lost run
            print(f"{name} ERROR {exc}", file=sys.stderr)
            ok = False
        results[name] = bool(ok)
        print(name, "OK" if ok else "FAIL", flush=True)
    fails = sorted(n for n, ok in results.items() if not ok)

    record = {
        **tree,
        "sf_dir": SF_DIR,
        "n_queries": len(results),
        "n_ok": sum(results.values()),
        "fails": fails,
        "session_conf_hash": conf_hash,
        "queries": results,
    }
    log = []
    if os.path.exists(log_path):
        with open(log_path) as f:
            log = json.load(f)
    log.append(record)
    with open(log_path, "w") as f:
        json.dump(log, f, indent=1, sort_keys=True)
    print(f"GATE {record['n_ok']}/{record['n_queries']} FAILS: {fails}")
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
