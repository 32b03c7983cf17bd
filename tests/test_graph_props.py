"""Graph-primitive property tests: part_triangle_count and
part_kcore_census against brute-force Python references on seeded random
basket topologies. The sf oracles prove ENGINE parity on one dataset;
these prove the ALGORITHMS (degree orientation, fixed-round peel) on
arbitrary graphs — including shapes the synthetic corpus never produces
(hubs, disconnected cliques, cascades deeper than one round)."""

from __future__ import annotations

import hashlib
import itertools

import pytest

import blockchain_etl_spark.operators.components as components_mod
import blockchain_etl_spark.plans.olap as olap_mod
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


def test_graph_driver_fast_path_equals_distributed(spark, monkeypatch):
    """part_triangle_count / part_label_propagation route through a
    bounded driver fast path when the c_ab-filtered edge list counts
    under _GRAPH_DRIVER_CAP (same legitimacy pattern as the union-find
    fast path, tests/test_component_index.py). Both routes must stay
    alive and row-identical: the default cap must take the driver branch
    (proven by spying the driver helpers), cap=-1 must force the
    distributed loops, and the results must match exactly."""
    from blockchain_etl_spark.plans.olap import part_label_propagation

    rows = _rand_baskets("fastpath", 60, 18, 6)
    li = spark.createDataFrame(rows, ["l_orderkey", "l_partkey"])
    monkeypatch.setattr(olap_mod, "load_table", lambda spark, sf_dir, name: li)

    def run():
        tri = [tuple(r) for r in part_triangle_count(spark, "ignored").collect()]
        lpa = sorted(
            tuple(r) for r in part_label_propagation(spark, "ignored").collect()
        )
        return tri, lpa

    calls = []
    real_tri, real_lpa = olap_mod._driver_triangle_census, olap_mod._driver_lpa

    def spy_tri(edge_rows):
        calls.append(("tri", len(edge_rows)))
        return real_tri(edge_rows)

    def spy_lpa(edge_rows, rounds):
        calls.append(("lpa", len(edge_rows)))
        return real_lpa(edge_rows, rounds)

    monkeypatch.setattr(olap_mod, "_driver_triangle_census", spy_tri)
    monkeypatch.setattr(olap_mod, "_driver_lpa", spy_lpa)
    fast = run()
    assert {c[0] for c in calls} == {"tri", "lpa"}, (
        "default cap must route the bounded graph driver-side"
    )

    monkeypatch.setattr(components_mod, "_GRAPH_DRIVER_CAP", -1)
    calls.clear()
    slow = run()
    assert calls == [], "cap=-1 must force the distributed branch"
    assert slow == fast


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


@pytest.mark.parametrize("seed,k", [("g1", 2), ("hubby", 4)])
def test_kcore_driver_peel_equals_distributed(spark, monkeypatch, seed, k):
    """part_kcore_census holds its node-grain degree state on the driver
    when |V| counts under _GRAPH_DRIVER_CAP (the edges stay distributed in
    the checkpointed adjacency — only <= |V|-row frames cross the driver
    boundary, the same class as the broadcast peeled frontier the
    distributed loop ships). Both routes must stay alive and
    row-identical: cap=-1 forces the distributed incremental-degree
    loop."""
    rows = _rand_baskets(seed, 50, 12, 5)
    li = spark.createDataFrame(rows, ["l_orderkey", "l_partkey"])
    monkeypatch.setattr(olap_mod, "load_table", lambda s, d, n: li)
    monkeypatch.setattr(olap_mod, "_KCORE_K", k)

    def run():
        return sorted(
            (r.round, r.n_nodes, r.n_edges)
            for r in part_kcore_census(spark, "ignored").collect()
        )

    fast = run()
    monkeypatch.setattr(components_mod, "_GRAPH_DRIVER_CAP", -1)
    slow = run()
    assert slow == fast == _brute_kcore(
        _edges_from(rows, 1), k, olap_mod._KCORE_ROUNDS
    ), (seed, k)
