"""Connected components via min-label propagation — the scalable
alternative to driver-side union-find (which dies at the first graph that
doesn't fit one machine).

Used by dedup_components (shingle/hash candidate edges) and
embedding_semantic_clusters (embedding near-dup edges); any (src, dst)
edge frame works. Per round: one shuffle join edges⋈labels + one
min-aggregate; converges in O(component diameter) rounds — tiny for dedup
graphs (chains of near-dups). localCheckpoint truncates lineage every
round so the plan stays flat instead of doubling.

Convergence detection: labels only ever DECREASE, so sum(label) is
strictly monotone while anything changes — an O(1)-output aggregate per
round instead of joining old vs new labels (a second shuffle plus a full
comparison pass).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col

# Hard bound on rows collected driver-side for the bounded graph fast
# paths: the union-find here and in operators/component_index.py, and the
# triangle census, LPA sweeps and k-core peel in plans/olap.py. Same
# legitimacy class as a broadcast join side (the subgraph must be bounded
# for the collect to be sound; oversized graphs take the distributed
# loops). Every user reads it at call time, so one monkeypatch (or
# SPARK_GRAFT_GRAPH_DRIVER_CAP) moves every graph route.
_GRAPH_DRIVER_CAP = int(os.environ.get("SPARK_GRAFT_GRAPH_DRIVER_CAP", "200000"))


def _driver_union_find(
    node_ids: "list[int]", edge_rows: "list[tuple[int, int]]"
) -> "list[tuple[int, int]]":
    """Exact min-label components over a collected subgraph: returns
    (doc_id, label) for every edge endpoint and every node, label = min
    reachable id — bit-identical to propagate_min_labels' fixpoint."""
    parent: "dict[int, int]" = {}

    def find(x: int) -> int:
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for s, d in edge_rows:
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[rs] = rd
    for v in node_ids:
        find(v)
    mins: "dict[int, int]" = {}
    for v in parent:
        r = find(v)
        if r not in mins or v < mins[r]:
            mins[r] = v
    return [(v, mins[find(v)]) for v in parent]


def propagate_min_labels(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    max_rounds: int = 30,
    loop_partitions: int | None = None,
    driver_cap: int | None = None,
) -> DataFrame:
    """``nodes``: one row per vertex with column ``id_col``;
    ``edges``: (src, dst) directed pairs (symmetrized internally).
    Returns (``id_col``, label) where label = min vertex id reachable;
    singletons label themselves.

    ``max_rounds`` is a CORRECTNESS bound, not a budget: propagation needs
    O(component diameter) rounds, and returning early would silently hand
    back partially-propagated labels (diverging from the exact
    recursive-CTE oracles). If the fixpoint is not reached within
    ``max_rounds``, this raises — callers with deeper graphs must pass a
    larger bound.

    ``loop_partitions``: clamp the per-round frames to this many
    partitions. Incremental maintainers (operators/component_index.py)
    propagate batch-sized subgraphs where the default shuffle-partition
    count means every round schedules dozens of near-empty tasks; the
    clamp trades away parallelism the tiny frame can't use. Leave None
    for corpus-scale propagation (dedup_components).

    ``driver_cap``: when BOTH |edges| and |nodes| count under this bound,
    the components are solved with a driver-side union-find over one
    bounded collect — the same class of move as broadcasting a bounded
    join side, replacing the O(diameter) round loop (one shuffle join +
    one aggregate per round, one Spark job each) with one count job and
    one collect job. Labels are identical by construction (min reachable
    id; pinned by tests/test_components.py fast≡distributed). Oversized
    graphs fall through to the distributed loop — the 100 TB path is
    unchanged. None (default) reads ``_GRAPH_DRIVER_CAP``; pass 0 to
    force the distributed loop."""
    if driver_cap is None:
        driver_cap = _GRAPH_DRIVER_CAP
    if driver_cap:
        spark = nodes.sparkSession
        # Checkpoint BEFORE sizing: a bare count on the raw lineage would
        # re-execute the (often expensive) edge derivation again at
        # collect time. ONE union-of-aggregates job materializes both
        # checkpoints; the collect below then reads cached blocks.
        e0 = edges.select("src", "dst").localCheckpoint(eager=False)
        n0 = nodes.select(col(id_col)).localCheckpoint(eager=False)
        sizes = (
            e0.agg(F.count(F.lit(1)).alias("n"))
            .unionAll(n0.agg(F.count(F.lit(1)).alias("n")))
            .collect()
        )
        if sizes[0].n <= driver_cap and sizes[1].n <= driver_cap:
            from ..functions.localframe import local_df

            # ONE tagged collect for both bounded frames (ids are longs
            # across every consumer; node rows ride with a NULL dst)
            both = (
                e0.unionByName(
                    n0.select(
                        col(id_col).alias("src"),
                        F.lit(None).cast("long").alias("dst"),
                    )
                )
            ).collect()
            edge_rows = [(r[0], r[1]) for r in both if r[1] is not None]
            node_rows = [r[0] for r in both if r[1] is None]
            labeled = _driver_union_find(node_rows, edge_rows)
            # Arrow path (local_df), NOT createDataFrame(list): a plain
            # list local relation executes through a Python-worker scan
            # stage costing seconds per downstream materialization.
            out = local_df(spark, labeled, f"{id_col} long, label long")
            return out.coalesce(1).localCheckpoint(eager=False)
        edges, nodes = e0, n0  # checkpoints feed the distributed loop
    sym = (
        edges.select("src", "dst")
        .unionByName(edges.select(col("dst").alias("src"), col("src").alias("dst")))
        .distinct()
    )
    if loop_partitions:
        # coalesce, not repartition: the distinct above already shuffled,
        # and a tiny subgraph gains nothing from src-clustering — a second
        # full shuffle per propagation is pure overhead
        sym = sym.coalesce(loop_partitions)
    sym = sym.localCheckpoint(eager=False)  # first round's join materializes
    labels = nodes.select(col(id_col), col(id_col).alias("label"))
    prev_sum = None
    converged = False
    for _ in range(max_rounds):
        prop = sym.join(labels, sym.src == labels[id_col]).select(
            col("dst").alias(id_col), "label"
        )
        labels = labels.unionByName(prop).groupBy(id_col).agg(
            F.min("label").alias("label")
        )
        if loop_partitions:
            labels = labels.coalesce(loop_partitions)
        # lazy: the convergence aggregate right below materializes the
        # checkpoint inside its own job — one job per round, not two
        labels = labels.localCheckpoint(eager=False)
        label_sum = labels.agg(F.sum("label")).first()[0]
        if label_sum == prev_sum:
            converged = True
            break
        prev_sum = label_sum
    if not converged:
        raise RuntimeError(
            f"propagate_min_labels did not reach a fixpoint in {max_rounds} "
            "rounds (component diameter exceeds the bound); rerun with a "
            "larger max_rounds — returning partial labels would silently "
            "split components"
        )
    return labels
