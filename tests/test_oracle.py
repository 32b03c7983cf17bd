"""Oracle-differential tests: every registered query runs on Spark AND on
DuckDB (its oracle SQL) over the same parquet tables; results must match on
row count, column names, and exact values (order-insensitive) — the same
contract the driver's CORRECTNESS gate applies at sf0.01.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from blockchain_etl_spark.plans.registry import QUERIES, get_queries
from tests.conftest import SF_DIR

get_queries()  # populate registry

ORACLE_NAMES = [n for n, q in QUERIES.items() if q.sql is not None]
ROWS_ONLY_NAMES = [n for n, q in QUERIES.items() if q.sql is None]


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
        # uniform NaN/None for comparison
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _values_equal(a, b) -> bool:
    if a is b:
        return True
    if pd.isna(a) and pd.isna(b):
        return True
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    return a == b


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(oracle_results, name):
    spark_pdf, duck_pdf = oracle_results(name)

    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: column mismatch spark={sorted(spark_pdf.columns)} "
        f"oracle={sorted(duck_pdf.columns)}"
    )
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count spark={len(spark_pdf)} oracle={len(duck_pdf)}"
    )

    s = _normalize(spark_pdf)
    d = _normalize(duck_pdf)
    # the driver hashes FORMATTED values, so int64 123 vs float64 123.0 is
    # a real failure numeric equality hides (DuckDB SUM over integers
    # returns HUGEINT -> pandas float64; killed embedding_quantize_stats
    # in r02, resurfaced on important_part_value in r10 — every exposed
    # integer aggregate must CAST AS BIGINT). Flag the unambiguous trap:
    # one side integer-kind, the other a NaN-free float column.
    for col in s.columns:
        ks, kd = s[col].dtype.kind, d[col].dtype.kind
        if {ks, kd} == {"i", "f"} or {ks, kd} == {"u", "f"}:
            floats = s[col] if ks == "f" else d[col]
            assert floats.isna().any(), (
                f"{name}: column {col} is integer on one engine and "
                f"NaN-free float on the other (spark={s[col].dtype}, "
                f"oracle={d[col].dtype}) — the driver's formatted value "
                "hash will mismatch; CAST the oracle aggregate AS BIGINT"
            )
    mismatches = []
    for col in s.columns:
        sv, dv = s[col].tolist(), d[col].tolist()
        for i, (x, y) in enumerate(zip(sv, dv)):
            if not _values_equal(x, y):
                mismatches.append((col, i, x, y))
                if len(mismatches) >= 5:
                    break
        if mismatches:
            break
    assert not mismatches, f"{name}: value mismatches {mismatches}"


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_query_runs(spark, name):
    q = QUERIES[name]
    df = q.fn(spark, SF_DIR)
    assert len(df.schema.fields) > 0
    assert df.count() >= 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    # stable schema
    assert [f.name for f in df.schema.fields] == [
        "actor",
        "actor_role",
        "n_txns",
        "total_amount",
        "last_orderdate",
        "last_orderkey",
        "last_amount",
    ]


def test_contract_shape():
    import __spark_entry__ as e

    qs = e.queries()
    osql = e.oracle_sql()
    assert set(osql) <= set(qs)
    assert len(qs) >= 25
