"""Graph-primitive property tests: part_triangle_count and
part_kcore_census against brute-force Python references on seeded random
basket topologies. The sf oracles prove ENGINE parity on one dataset;
these prove the ALGORITHMS (degree orientation, fixed-round peel) on
arbitrary graphs — including shapes the synthetic corpus never produces
(hubs, disconnected cliques, cascades deeper than one round). The
route-equivalence test at the end runs every graph route on both of its
lanes, driver and distributed."""

from __future__ import annotations

import hashlib
import itertools

import pytest

import blockchain_etl_spark.operators.components as components_mod
import blockchain_etl_spark.plans.olap as olap_mod
from blockchain_etl_spark.functions import arrowio
from blockchain_etl_spark.operators.components import propagate_min_labels
from blockchain_etl_spark.plans.olap import part_kcore_census, part_triangle_count


def _rand_baskets(seed: str, n_orders: int, n_items: int, max_basket: int):
    """Deterministic pseudo-random (order, item) rows via md5 — no RNG
    state, reproducible across runs and machines."""
    rows = []
    for o in range(1, n_orders + 1):
        h = hashlib.md5(f"{seed}:{o}".encode()).hexdigest()
        size = 2 + int(h[:2], 16) % (max_basket - 1)
        items = sorted(
            {
                1 + int(hashlib.md5(f"{seed}:{o}:{i}".encode()).hexdigest()[:4], 16)
                % n_items
                for i in range(size)
            }
        )
        rows += [(o, it) for it in items]
    return rows


def _edges_from(rows, min_coorder):
    baskets = {}
    for o, it in rows:
        baskets.setdefault(o, set()).add(it)
    cnt = {}
    for items in baskets.values():
        for a, b in itertools.combinations(sorted(items), 2):
            cnt[(a, b)] = cnt.get((a, b), 0) + 1
    return {e for e, c in cnt.items() if c >= min_coorder}


def _brute_triangles(edges):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = sum(
        1
        for a, b in edges
        for c in adj[a] & adj[b]
        if a < c < b or a < b < c or c < a < b  # count each triangle once
    )
    # each triangle counted once per edge whose both endpoints see c; the
    # comprehension above counts (a,b,c) once per EDGE -> divide by 3
    wedges = sum(len(v) * (len(v) - 1) // 2 for v in adj.values())
    return len(adj), len(edges), tri // 3, wedges


def _brute_kcore(edges, k, rounds):
    """The registered spec: fixed-round peel, census after each round."""
    cur = set(edges)
    nodes = {n for e in cur for n in e}
    census = [(0, len(nodes), len(cur))]
    deg = {}
    for a, b in cur:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    for r in range(1, rounds + 1):
        surv = {n for n, d in deg.items() if d >= k}
        cur = {(a, b) for a, b in cur if a in surv and b in surv}
        deg = {}
        for a, b in cur:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        census.append((r, len(surv), len(cur)))
    return census


@pytest.mark.parametrize("seed", ["g1", "g2", "g3", "hubby"])
def test_triangle_census_matches_brute_force(spark, seed):
    dense = seed == "hubby"
    rows = _rand_baskets(seed, 60, 10 if dense else 25, 6)
    li = spark.createDataFrame(rows, ["l_orderkey", "l_partkey"])
    n_nodes, n_edges, n_tri, n_wedges = _brute_triangles(
        _edges_from(rows, olap_mod._TRI_MIN_COORDER)
    )
    orig = olap_mod.load_table
    try:
        olap_mod.load_table = lambda spark, sf_dir, name: li
        got = part_triangle_count(spark, "ignored").collect()[0]
    finally:
        olap_mod.load_table = orig
    assert (got.n_nodes, got.n_edges) == (n_nodes, n_edges), seed
    assert got.n_triangles == n_tri, (seed, got, n_tri)
    assert got.n_wedges == n_wedges, seed
    expect_gcc = (3 * n_tri * 1_000_000) // n_wedges if n_wedges else 0
    assert got.gcc_ppm == expect_gcc, seed


@pytest.mark.parametrize("seed,k", [("g1", 2), ("g2", 3), ("hubby", 4)])
def test_kcore_census_matches_brute_force(spark, seed, k):
    rows = _rand_baskets(seed, 50, 12, 5)
    li = spark.createDataFrame(rows, ["l_orderkey", "l_partkey"])
    expected = _brute_kcore(
        _edges_from(rows, 1), k, olap_mod._KCORE_ROUNDS
    )
    orig_load, orig_k = olap_mod.load_table, olap_mod._KCORE_K
    try:
        olap_mod.load_table = lambda spark, sf_dir, name: li
        olap_mod._KCORE_K = k
        got = sorted(
            (r.round, r.n_nodes, r.n_edges)
            for r in part_kcore_census(spark, "ignored").collect()
        )
    finally:
        olap_mod.load_table, olap_mod._KCORE_K = orig_load, orig_k
    assert got == expected, (seed, k)


# --------------------------------------------------------- route equivalence
#
# Every graph route sizes its subgraph through ONE step,
# arrowio.collect_arrow_capped(max_rows=_GRAPH_DRIVER_CAP): a table back
# means the driver lane, None the route's distributed loop over the same
# checkpoint. Each route below runs twice, at the default cap and at -1,
# and both runs must return identical rows.


def _components_route(spark, monkeypatch, tmp_path):
    # 0..7 are the nodes; 50, 51 join them only as edge endpoints, and
    # the component 60-61 has no member in ``nodes`` at all
    nodes = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (50, 51), (51, 1), (60, 61)],
        "src long, dst long",
    )

    def run():
        return sorted(tuple(r) for r in propagate_min_labels(nodes, edges).collect())

    def check(rows):
        assert rows == sorted(
            [(0, 0), (1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 5), (7, 7),
             (50, 1), (51, 1), (60, 60), (61, 60)]
        )

    return run, check


def _component_index_route(spark, monkeypatch, tmp_path):
    # one bootstrap fold (two near-dup families and a singleton); the
    # anchor-label folds of later batches keep their lane pin in
    # tests/test_component_index.py::test_distributed_fallback_equals_driver_union_find
    from tests.test_component_index import (
        _ground_truth,
        _ingest,
        _maintained,
        _mk,
        _text,
    )

    batch = [(0, _text(0)), (1, _text(0, 1)), (10, _text(5)), (11, _text(5)),
             (30, _text(9))]
    runs = []

    def run():
        mh, comp = _mk(tmp_path, f"run{len(runs)}")
        runs.append(mh)
        _ingest(spark, mh, comp, batch, wm=1)
        return sorted(_maintained(spark, comp))

    def check(rows):
        assert set(rows) == _ground_truth(spark, runs[0])

    return run, check


def _baskets_route(fn_name, seed, n_orders, n_items, max_basket, k=None):
    def make(spark, monkeypatch, tmp_path):
        rows = _rand_baskets(seed, n_orders, n_items, max_basket)
        li = spark.createDataFrame(rows, ["l_orderkey", "l_partkey"])
        monkeypatch.setattr(olap_mod, "load_table", lambda s, d, n: li)
        if k is not None:
            monkeypatch.setattr(olap_mod, "_KCORE_K", k)

        def run():
            return sorted(
                tuple(r) for r in getattr(olap_mod, fn_name)(spark, "ignored").collect()
            )

        def check(got):
            if fn_name == "part_kcore_census":
                want = _brute_kcore(_edges_from(rows, 1), k, olap_mod._KCORE_ROUNDS)
                assert got == want, (seed, k)
            elif fn_name == "part_triangle_count":
                n, m, t, w = _brute_triangles(
                    _edges_from(rows, olap_mod._TRI_MIN_COORDER)
                )
                assert got[0][:4] == (n, m, t, w)
            else:
                assert got, "the basket graph has communities of >= 3 parts"

        return run, check

    return make


_ROUTES = {
    "components": _components_route,
    "component_index": _component_index_route,
    "triangles": _baskets_route("part_triangle_count", "fastpath", 60, 18, 6),
    "lpa": _baskets_route("part_label_propagation", "fastpath", 60, 18, 6),
    "kcore-g1-2": _baskets_route("part_kcore_census", "g1", 50, 12, 5, k=2),
    "kcore-hubby-4": _baskets_route("part_kcore_census", "hubby", 50, 12, 5, k=4),
}


@pytest.mark.parametrize("route", list(_ROUTES))
def test_graph_route_equivalence(spark, monkeypatch, tmp_path, route):
    """Each graph route returns the same rows on both lanes: at the
    default cap every sizing step takes the driver lane in ONE Spark
    job (a job group around each ``collect_arrow_capped`` call, read
    through ``statusTracker``), and at cap -1 every one returns None and
    the route's distributed loop runs. Calls without ``max_rows`` are
    state writes, not graph sizing, and are not counted."""
    run, check = _ROUTES[route](spark, monkeypatch, tmp_path)
    sc = spark.sparkContext
    real = arrowio.collect_arrow_capped
    sizing = []

    def spy(df, read_bytes=None, max_rows=None):
        if max_rows is None:
            return real(df, read_bytes=read_bytes)
        group = f"graph-sizing-{route}-{len(sizing)}"
        sc.setJobGroup(group, "graph route sizing")
        try:
            tbl = real(df, read_bytes=read_bytes, max_rows=max_rows)
        finally:
            for key in (
                "spark.jobGroup.id",
                "spark.job.description",
                "spark.job.interruptOnCancel",
            ):
                sc.setLocalProperty(key, None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        sizing.append(("driver" if tbl is not None else "distributed", jobs))
        return tbl

    monkeypatch.setattr(arrowio, "collect_arrow_capped", spy)
    driver = run()
    assert sizing and all(s == ("driver", 1) for s in sizing), sizing
    sizing.clear()
    monkeypatch.setattr(components_mod, "_GRAPH_DRIVER_CAP", -1)
    distributed = run()
    assert sizing and all(lane == "distributed" for lane, _ in sizing), sizing
    assert distributed == driver
    check(driver)
