"""Dtype-contract gate: Spark and DuckDB must land in the SAME pandas
dtype class for every output column of every oracle-checked query.

Motivation (round-2 driver failure): DuckDB returns HUGEINT for integer
SUM/list_sum, which pandas converts to float64 — the driver's value hash
then sees 123.0 vs Spark's 123 and fails the query even though every value
is numerically equal. This test fails CI on any new query that reintroduces
the class. Tolerated (observed green in driver rounds): integer widths
(int8/32 vs int64) and datetime precision (ns vs us).
"""

from __future__ import annotations

import pytest

from blockchain_etl_spark.plans.registry import QUERIES, get_queries

get_queries()
ORACLE_NAMES = [n for n, q in QUERIES.items() if q.sql is not None]

_INT = {"int8", "int16", "int32", "int64", "uint8", "uint16", "uint32", "uint64"}


def _dclass(dtype: str) -> str:
    if dtype in _INT:
        return "int"
    if dtype.startswith("datetime64"):
        return "datetime"
    if dtype in ("float32", "float64"):
        return "float"
    return dtype


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_dtype_classes_match(name, oracle_results):
    sdf, odf = oracle_results(name)
    assert sorted(sdf.columns) == sorted(odf.columns), name
    mismatches = {
        c: (str(sdf[c].dtype), str(odf[c].dtype))
        for c in sdf.columns
        if _dclass(str(sdf[c].dtype)) != _dclass(str(odf[c].dtype))
        # an all-NULL column legitimately differs (object vs float64)
        if not (sdf[c].isna().all() and odf[c].isna().all())
    }
    assert not mismatches, f"{name}: {mismatches}"
