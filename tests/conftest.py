from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from blockchain_etl_spark.session import get_spark  # noqa: E402
from blockchain_etl_spark.sources.testdata import TABLES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    cpus = os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    # Test-session input width: in-memory frames (createDataFrame, range)
    # split into spark.default.parallelism partitions, one per core by
    # default, so on a many-core host every byte-tiny test frame runs as
    # one task per core per stage and writes as many files. Cap it at 8,
    # the test shuffle width below (measured with local[32] on a 4-core
    # host: test_quarantine_release + test_cdc_view 592 s -> 324 s).
    # The setting is static, so it goes in through the submit args the
    # JVM starts with; a caller's own PYSPARK_SUBMIT_ARGS wins.
    width = str(min(int(cpus), 8)) if cpus.isdigit() else "8"
    os.environ.setdefault(
        "PYSPARK_SUBMIT_ARGS",
        f"--conf spark.default.parallelism={width} pyspark-shell",
    )
    spark = get_spark("blockchain-etl-spark-tests")
    # Test-session shuffle width: the suite runs byte-tiny frames on
    # local[8]; the production default (32) schedules 4 waves of empty
    # tasks per exchange, which is pure wall-clock on a ~1000-test
    # suite (measured round 14: test_cdc_view.py 199s -> 166s). Tests
    # that assert a plan/layout pin their own confs (plan_snapshot) or
    # partition-by-key layouts that don't depend on the width.
    # SPARK_GRAFT_TEST_SHUFFLE=32 restores the production width.
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        os.environ.get("SPARK_GRAFT_TEST_SHUFFLE", "8"),
    )
    yield spark


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def oracle_results(spark, duck):
    """Look up one oracle-checked query's (Spark, DuckDB) result frames.

    Each query runs once per engine per session: ``test_oracle`` checks the
    values and ``test_oracle_dtypes`` the dtype classes of the same two
    frames. Callers must not mutate the frames they get."""
    from blockchain_etl_spark.plans.registry import QUERIES

    results = {}

    def get(name):
        if name not in results:
            q = QUERIES[name]
            results[name] = (
                q.fn(spark, SF_DIR).toPandas(),
                duck.execute(q.sql).fetchdf(),
            )
        return results[name]

    return get
