"""operators.graph.connected_components against a Python union-find, plus
a ceiling on the Spark jobs one connected-components key runs."""

from __future__ import annotations

import random

import pytest

from tests.conftest import SF_SMOKE
from trireme_spark import registry
from trireme_spark.operators.graph import connected_components


def union_find(nodes, edges):
    """{node: min node id of its component}; edges touching an id outside
    ``nodes`` are ignored, as the operator ignores them."""
    parent = {v: v for v in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a in parent and b in parent:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in nodes}


def run_cc(spark, nodes, edges, **kw):
    nd = spark.createDataFrame([(v,) for v in nodes], "id long")
    ed = spark.createDataFrame(list(edges), "src long, dst long")
    rows = connected_components(nd, ed, **kw).collect()
    out = {r["id"]: r["component"] for r in rows}
    assert len(out) == len(rows), "one row per node"
    return out


def test_cc_long_path_converges_by_pointer_jumping(spark):
    """Plain min-label propagation needs 299 rounds on this path; the
    default budget of 25 holds only because labels jump pointers."""
    nodes = list(range(300))
    edges = [(i, i + 1) for i in range(299)]
    assert run_cc(spark, nodes, edges) == union_find(nodes, edges)


def test_cc_round_budget_raises(spark):
    nodes = list(range(300))
    edges = [(i, i + 1) for i in range(299)]
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        run_cc(spark, nodes, edges, max_iter=1)


def test_cc_two_components_and_isolated_nodes(spark):
    nodes = [1, 2, 3, 4, 10, 11, 12, 20, 30]
    edges = [(4, 3), (3, 2), (1, 4), (12, 10), (11, 12)]
    out = run_cc(spark, nodes, edges)
    assert out == union_find(nodes, edges)
    assert out[20] == 20 and out[30] == 30
    assert len(set(out.values())) == 4


def test_cc_duplicate_and_reversed_edges(spark):
    nodes = [5, 6, 7, 8, 9]
    edges = [(5, 6), (6, 5), (5, 6), (7, 6), (6, 7), (9, 8), (8, 9), (9, 8)]
    out = run_cc(spark, nodes, edges)
    assert out == union_find(nodes, edges)
    assert out == {5: 5, 6: 5, 7: 5, 8: 8, 9: 8}


def test_cc_endpoint_outside_nodes_neither_relays_nor_appears(spark):
    """Id 99 is an edge endpoint but not a node: it must not join 1 and 3
    through itself, and it must not get an output row."""
    nodes = [1, 2, 3]
    edges = [(1, 99), (99, 3), (3, 2), (0, 2)]
    out = run_cc(spark, nodes, edges)
    assert out == {1: 1, 2: 2, 3: 2}
    assert out == union_find(nodes, edges)


def test_cc_random_graph_matches_union_find(spark):
    rng = random.Random(7)
    nodes = rng.sample(range(1000), 200)
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(150)
    ]
    assert run_cc(spark, nodes, edges) == union_find(nodes, edges)


def test_cc_key_job_ceiling(spark):
    """dedup_connected_components (build + noop write) stays within its
    Spark job budget. Each round is one join and one aggregation, checked
    for convergence by a single action that also fills the round's
    checkpoint, so the key runs 10 jobs here. The earlier loop (eager
    checkpoints, two joins per round, a separate count per round and a
    confirming round) ran 23."""
    sc = spark.sparkContext
    group = "test_cc_key_job_ceiling"
    sc.setJobGroup(group, group)
    try:
        registry.QUERIES["dedup_connected_components"](
            spark, SF_SMOKE
        ).write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 10, len(jobs)
