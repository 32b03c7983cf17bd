"""Connected components by min label: the one components routine for
every caller (the dedup and split queries in plans/pipeline.py,
embedding_semantic_clusters in plans/similarity.py, and the
ComponentIndex fold in operators/component_index.py). Any
(src, dst) edge frame works; label = min id reachable, and a node with
no edge labels itself.

One sizing step picks the lane. The edges and the nodes (if any) are
checkpointed lazily and their tagged union goes to
``arrowio.collect_arrow_capped`` with ``max_rows=_GRAPH_DRIVER_CAP``:
one Spark job sizes the subgraph and collects it. When a table comes
back, a driver-side union-find labels it. Otherwise the distributed
loop runs over the same checkpoints: per round one shuffle join
edges⋈labels and one min-aggregate, converging in O(component diameter)
rounds; localCheckpoint truncates lineage every round so the plan stays
flat.
The loop runs over edge endpoints only, so its shuffles never move the
singletons that make up most of a corpus; members of ``nodes`` with no
edge label themselves outside it. Both lanes return nodes ∪ endpoints;
a caller that needs no singletons passes ``nodes=None``.

Convergence detection: labels only ever DECREASE, so sum(label) is
strictly monotone while anything changes — an O(1)-output aggregate per
round instead of joining old vs new labels (a second shuffle plus a full
comparison pass).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col

# Bound on the rows a graph route collects driver-side: edge rows plus
# node rows for the union-find here, the distinct edges for the triangle
# census and LPA sweeps and the node degrees for the k-core peel in
# plans/olap.py. It is the ``max_rows`` each route passes to
# ``arrowio.collect_arrow_capped``, which also holds the collect under
# its byte bound; a larger subgraph takes its route's distributed loop.
# Every route reads it at call time, so one monkeypatch moves them all.
_GRAPH_DRIVER_CAP = 200_000


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
    nodes: "DataFrame | None",
    edges: DataFrame,
    id_col: str = "doc_id",
    max_rounds: int = 30,
    loop_partitions: int | None = None,
) -> DataFrame:
    """``nodes``: one row per vertex with column ``id_col``, or None;
    ``edges``: (src, dst) directed pairs (symmetrized internally).
    Returns (``id_col``, label) for nodes ∪ edge endpoints, where label =
    min vertex id reachable; singletons label themselves. Both lanes
    (module docstring) return the same rows.

    ``max_rounds`` is a CORRECTNESS bound, not a budget: propagation needs
    O(component diameter) rounds, and returning early would silently hand
    back partially-propagated labels (diverging from the exact
    recursive-CTE oracles). If the distributed loop does not reach the
    fixpoint within ``max_rounds``, this raises — callers with deeper
    graphs must pass a larger bound.

    ``loop_partitions``: clamp the per-round frames to this many
    partitions. Incremental maintainers (operators/component_index.py)
    propagate batch-sized subgraphs where the default shuffle-partition
    count means every round schedules dozens of near-empty tasks; the
    clamp trades away parallelism the tiny frame can't use. Leave None
    for corpus-scale propagation (dedup_components)."""
    from ..functions import arrowio

    e0 = edges.select("src", "dst").localCheckpoint(eager=False)
    tagged = e0
    if nodes is not None:
        # ONE tagged frame carries both (node rows ride with a NULL dst),
        # so one capped collect sizes the subgraph and fills both
        n0 = nodes.select(col(id_col)).localCheckpoint(eager=False)
        tagged = e0.unionByName(
            n0.select(col(id_col).alias("src"), F.lit(None).cast("long").alias("dst"))
        )
    tbl = arrowio.collect_arrow_capped(tagged, max_rows=_GRAPH_DRIVER_CAP)
    if tbl is not None:
        from ..functions.localframe import local_df

        src, dst = tbl.column("src").to_pylist(), tbl.column("dst").to_pylist()
        labeled = _driver_union_find(
            [s for s, d in zip(src, dst) if d is None],
            [(s, d) for s, d in zip(src, dst) if d is not None],
        )
        # Arrow path (local_df), NOT createDataFrame(list): a plain-list
        # local relation executes through a Python-worker scan stage
        # costing seconds per downstream materialization.
        out = local_df(edges.sparkSession, labeled, f"{id_col} long, label long")
        return out.coalesce(1).localCheckpoint(eager=False)
    endpoints = (
        e0.select(col("src").alias(id_col))
        .unionByName(e0.select(col("dst").alias(id_col)))
        .distinct()
        .localCheckpoint(eager=False)
    )
    sym = (
        e0.unionByName(e0.select(col("dst").alias("src"), col("src").alias("dst")))
        .distinct()
    )
    if loop_partitions:
        # coalesce, not repartition: the distinct above already shuffled,
        # and a tiny subgraph gains nothing from src-clustering — a second
        # full shuffle per propagation is pure overhead
        sym = sym.coalesce(loop_partitions)
    sym = sym.localCheckpoint(eager=False)  # first round's join materializes
    labels = endpoints.select(col(id_col), col(id_col).alias("label"))
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
    if nodes is not None:
        labels = labels.unionByName(
            n0.join(endpoints, [id_col], "left_anti").select(
                id_col, col(id_col).alias("label")
            )
        )
    return labels.localCheckpoint(eager=False)
