"""Iterative graph operators — connected components for dedup clustering.

After near-dup pair detection, a corpus build needs the transitive closure
of "is a duplicate of" to pick one canonical document per group; pairs
alone over-delete (A~B, B~C must keep exactly one of {A,B,C}, not two
survivors of two independent pair decisions).

Algorithm: min-label propagation with pointer jumping. Every node starts
as its own component; each round, every node adopts the smallest label
among its neighbours' labels and the label of its own label. Each round
is one keyed join and one keyed aggregation — fully distributed, no
driver state beyond the converged? flag — and rounds are O(log diameter)
thanks to the pointer jump. For 100 TB graphs with high-diameter
components, the published upgrade is the large-star/small-star rewrite
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14),
which contracts in O(log²) rounds with the same join/agg primitives;
near-dup graphs are low-diameter in practice, so propagation is the right
default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """(id, component) where component = min node id reachable from id.

    ``nodes`` holds unique, non-null ids; the output has exactly one row
    per node. ``edges`` may be directed input; it's symmetrized here so
    components are of the undirected graph. An edge endpoint that is not
    in ``nodes`` neither relays labels nor appears in the output.
    Isolated nodes keep their own id.

    Each round sends one label request per neighbour plus one for the
    label of the node's own label, answers all of them in ONE join
    against the current labels, and keeps the minimum with ONE groupBy.
    Labels only ever fall and always name a node of the same component
    with ``comp[x] <= x``, so the fixpoint is reached exactly when no
    edge joins two different labels; that check is the round's only
    action.
    """
    # Symmetrized once, checkpointed lazily: the first round's action
    # fills it, and later rounds read it instead of re-running the edge
    # query (a self-join for the dedup keys) inside every round.
    sym = (
        edges.select(
            F.col(src_col).alias("v"), F.col(dst_col).alias("want")
        )
        .unionByName(
            edges.select(
                F.col(dst_col).alias("v"), F.col(src_col).alias("want")
            )
        )
        .withColumn("own", F.lit(False))
        .localCheckpoint(eager=False)
    )
    cc = nodes.select(F.col(id_col).alias("v"), F.col(id_col).alias("comp"))
    for _ in range(max_iter):
        # Pointer jumping rides the same join: the request for comp[v]
        # returns comp[comp[v]] <= comp[v], which also makes an own-label
        # term unnecessary. Only own-label requests come from ``nodes``,
        # so max("own") drops edge endpoints that are not nodes.
        requests = sym.unionByName(
            cc.select(
                "v", F.col("comp").alias("want"), F.lit(True).alias("own")
            )
        )
        labels = cc.select(F.col("v").alias("want"), F.col("comp").alias("c"))
        # localCheckpoint, not cache(): each round's plan references the
        # previous round's frame TWICE (requests and labels), so under
        # cache() the LOGICAL plan doubles per round — analysis cost
        # grows 2^rounds and OOMs the driver near round ~7 on any
        # high-diameter graph (observed on the DBSCAN eps-graph; the
        # low-diameter dedup graphs converged before the wall). Checkpoint
        # truncates lineage so every round plans against a leaf. At cluster
        # scale prefer a reliable checkpoint dir (localCheckpoint loses
        # partitions with a dead executor); the shape is identical.
        cc = (
            requests.join(labels, "want")
            .groupBy("v")
            .agg(F.min("c").alias("comp"), F.max("own").alias("own"))
            .where(F.col("own"))
            .select("v", "comp")
            .localCheckpoint(eager=False)
        )
        # Fixpoint: every edge's endpoints agree. Each label is a node of
        # the same component and no larger than its holder, so a
        # component-wide label is its minimum. This action also fills
        # the round's checkpoint. Both lookups join the unrenamed ``cc``
        # on ``v``, so they plan the same exchange and AQE reuses it.
        e, a, b = sym.alias("e"), cc.alias("a"), cc.alias("b")
        split = (
            e.join(a, F.col("e.v") == F.col("a.v"))
            .join(b, F.col("e.want") == F.col("b.v"))
            .where(F.col("a.comp") != F.col("b.comp"))
        )
        if split.isEmpty():
            return cc.select(
                F.col("v").alias(id_col), F.col("comp").alias("component")
            )
    # Propagation needs O(log component diameter) rounds; silently
    # returning unconverged labels would mis-cluster. A graph that trips
    # this wants the large-star/small-star contraction (see module
    # docstring), not a bigger max_iter.
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        f"({split.count()} edge directions still join two labels) — "
        "component diameter exceeds the propagation budget"
    )


def kcore(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 50,
) -> DataFrame:
    """k-core of an undirected graph via iterative peeling: repeatedly
    delete every node of degree < k (degrees recomputed after each
    deletion wave) until stable; what survives is the unique maximal
    subgraph of minimum degree >= k — the standard cohesion filter
    (spam/bot subnetwork mining, community seeding, nucleus of the
    copurchase graph).

    ``edges`` is one row per undirected edge (src < dst). Returns
    (node, core_deg) for surviving nodes, core_deg = degree INSIDE the
    core.

    Scale design: each round is a keyed degree aggregation plus two
    semi-joins of the edge list against surviving nodes — fully keyed
    shuffles, no driver state beyond the survivor count; rounds are
    bounded by the degeneracy ordering depth (loud RuntimeError on
    budget exhaustion, never a silent partial answer). localCheckpoint
    per round truncates the growing lineage exactly like the
    connected-components loop above.
    """
    adj = edges.select(
        F.col(src_col).alias("node"), F.col(dst_col).alias("nbr")
    ).unionByName(
        edges.select(
            F.col(dst_col).alias("node"), F.col(src_col).alias("nbr")
        )
    ).localCheckpoint(eager=True)
    n_prev = adj.select("node").distinct().count()
    for _ in range(max_rounds):
        deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.where(F.col("d") >= k).select("node")
        n_now = keep.count()
        if n_now == 0:
            return keep.withColumn("core_deg", F.lit(0).cast("long"))
        if n_now == n_prev:
            return (
                adj.groupBy("node")
                .agg(F.count(F.lit(1)).cast("long").alias("core_deg"))
            )
        adj = (
            adj.join(keep, "node", "left_semi")
            .join(
                keep.select(F.col("node").alias("nbr")), "nbr", "left_semi"
            )
            .localCheckpoint(eager=True)
        )
        n_prev = n_now
    raise RuntimeError(
        f"kcore: no fixpoint within {max_rounds} rounds (k={k})"
    )
