"""propagate_min_labels: correctness bound on rounds — partial labels must
never be returned silently (they would split components and diverge from
the exact recursive-CTE oracles). The equality of the driver and
distributed lanes is pinned for every graph route by
tests/test_graph_props.py::test_graph_route_equivalence."""

from __future__ import annotations

import pytest

from blockchain_etl_spark.operators import components
from blockchain_etl_spark.operators.components import propagate_min_labels


def _chain(spark, n):
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    return nodes, edges


def test_converges_on_chain(spark):
    nodes, edges = _chain(spark, 10)
    labels = propagate_min_labels(nodes, edges, max_rounds=30)
    assert {r["label"] for r in labels.collect()} == {0}


def test_raises_instead_of_returning_partial_labels(spark, monkeypatch):
    # a 12-node chain needs ~log-diameter+1 rounds; 2 rounds cannot reach
    # the fixpoint CHECK (which needs one extra unchanged round) — the
    # operator must refuse rather than hand back split components.
    # A cap of -1 forces the distributed loop (the driver union-find has
    # no round bound to violate).
    monkeypatch.setattr(components, "_GRAPH_DRIVER_CAP", -1)
    nodes, edges = _chain(spark, 12)
    with pytest.raises(RuntimeError, match="fixpoint"):
        propagate_min_labels(nodes, edges, max_rounds=2)


def test_union_find_fast_path_equals_distributed_loop(spark, monkeypatch):
    """The driver union-find route (default: subgraph under the cap)
    must return row-identical labels to the distributed propagation it
    replaces — same node set (nodes ∪ edge endpoints), same min-reachable
    label, including endpoints absent from ``nodes`` and isolated
    self-labelled nodes."""
    nodes = spark.createDataFrame(
        [(i,) for i in range(8)], "doc_id long"
    )  # 0..7; 50+51 appear only as edge endpoints
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (50, 51), (51, 1)], "src long, dst long"
    )
    fast = propagate_min_labels(nodes, edges)  # cap 200k -> union-find
    rows_f = sorted((r["doc_id"], r["label"]) for r in fast.collect())
    monkeypatch.setattr(components, "_GRAPH_DRIVER_CAP", -1)  # loop
    dist = propagate_min_labels(nodes, edges)
    rows_d = sorted((r["doc_id"], r["label"]) for r in dist.collect())
    assert rows_f == rows_d
    # the merged chain 50-51-1-2-3 labels to 1 (min id); singletons self
    assert (50, 1) in rows_f and (3, 1) in rows_f and (0, 0) in rows_f


def test_driver_cap_boundary_takes_distributed_route(spark, monkeypatch):
    # a cap below the tagged subgraph's rows must fall through to the
    # distributed loop and still produce identical labels
    monkeypatch.setattr(components, "_GRAPH_DRIVER_CAP", 1)
    calls = []
    real = components._driver_union_find
    monkeypatch.setattr(
        components,
        "_driver_union_find",
        lambda *a, **k: calls.append(1) or real(*a, **k),
    )
    nodes, edges = _chain(spark, 10)
    labels = propagate_min_labels(nodes, edges)
    assert {r["label"] for r in labels.collect()} == {0}
    assert labels.count() == 10
    assert not calls


def test_no_nodes_collects_exactly_the_edge_rows(spark, monkeypatch):
    """With ``nodes=None`` the capped collect carries the edge rows and
    nothing else, so the graph cap counts edges alone; both lanes still
    label every endpoint."""
    from blockchain_etl_spark.functions import arrowio

    seen = []
    real = arrowio.collect_arrow_capped

    def spy(df, *a, **k):
        tbl = real(df, *a, **k)
        seen.append(None if tbl is None else sorted(zip(*tbl.to_pydict().values())))
        return tbl

    monkeypatch.setattr(arrowio, "collect_arrow_capped", spy)
    edge_rows = [(1, 2), (2, 3), (5, 6), (50, 51), (51, 1)]
    edges = spark.createDataFrame(edge_rows, "src long, dst long")
    fast = sorted(tuple(r) for r in propagate_min_labels(None, edges).collect())
    assert seen == [sorted(edge_rows)]
    monkeypatch.setattr(components, "_GRAPH_DRIVER_CAP", len(edge_rows) - 1)
    dist = sorted(tuple(r) for r in propagate_min_labels(None, edges).collect())
    assert seen[1:] == [None]
    want = [(1, 1), (2, 1), (3, 1), (5, 5), (6, 5), (50, 1), (51, 1)]
    assert fast == dist == want
