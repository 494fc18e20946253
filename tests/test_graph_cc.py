"""graph.connected_components: the vertex-state min-label loop shared by
q48, q84, q108, q176 and q278 — edge-shape edge cases, the ``max_iters``
cap, and a deterministic Spark-job budget per propagation round."""

import uuid

from esop_spark.operators import dedup, graph


def _labels(df):
    return {r["node"]: (r["cluster_id"], r["cluster_size"]) for r in df.collect()}


def test_cc_duplicate_edges_and_self_loops(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 2), (2, 3), (3, 3), (7, 7), (8, 9), (9, 8)],
        "src long, dst long",
    )
    assert _labels(graph.connected_components(edges)) == {
        1: (1, 3), 2: (1, 3), 3: (1, 3),
        7: (7, 1),  # a self-loop alone is a singleton component
        8: (8, 2), 9: (8, 2),
    }


def test_cc_min_in_middle_flows_both_ways(spark):
    # path 10 - 9 - ... - 1 - 0 - 11 - 12 - ... - 20: the minimum sits in
    # the middle, so its label must travel in both directions
    order = list(range(10, -1, -1)) + list(range(11, 21))
    edges = spark.createDataFrame(
        list(zip(order, order[1:])), "src long, dst long"
    )
    out = _labels(graph.connected_components(edges))
    assert out == {v: (0, 21) for v in range(21)}


def test_cc_string_keys(spark):
    edges = spark.createDataFrame(
        [("pear", "fig"), ("fig", "date"), ("kiwi", "lime"), ("lime", "kiwi")],
        "src string, dst string",
    )
    assert _labels(graph.connected_components(edges)) == {
        "pear": ("date", 3), "fig": ("date", 3), "date": ("date", 3),
        "kiwi": ("kiwi", 2), "lime": ("kiwi", 2),
    }


def test_cc_isolated_pairs(spark):
    # several 2-node components: every node is settled by the initial
    # label, so the loop converges without a propagation round
    edges = spark.createDataFrame(
        [(2 * i + 1, 2 * i) for i in range(6)], "src long, dst long"
    )
    out = _labels(graph.connected_components(edges))
    assert out == {v: (v - v % 2, 2) for v in range(12)}


def test_cc_max_iters_caps_propagation(spark):
    # path 0 - 1 - ... - 20: the initial label covers one hop and each
    # round one more, so after r rounds node v holds max(0, v - r - 1)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "src long, dst long"
    )
    for r in (0, 2, 5):
        out = graph.connected_components(edges, max_iters=r).collect()
        assert {row["node"]: row["cluster_id"] for row in out} == {
            v: max(0, v - r - 1) for v in range(21)
        }
    out = graph.connected_components(edges, max_iters=19).collect()
    assert {row["cluster_id"] for row in out} == {0}


def test_dedup_clusters_wraps_the_kernel(spark):
    pairs = spark.createDataFrame(
        [(5, 3, 0.9), (3, 4, 0.8), (10, 11, 0.95)],
        "id_a int, id_b int, jaccard double",
    )
    out = dedup.dedup_clusters(pairs)
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "bigint", "bigint", "bigint"
    ]
    assert {tuple(r) for r in out.collect()} == {
        (3, 3, 3), (4, 3, 3), (5, 3, 3), (10, 10, 2), (11, 10, 2)
    }


def test_cc_job_budget_per_round(spark):
    """Each propagation round is one exchange and one eager checkpoint,
    with convergence observed on that checkpoint: at most two Spark jobs
    a round (AQE runs the shuffle map stage as its own job), plus the
    initial vertex-state build. The 21-node path with its minimum at one
    end needs 19 label-changing rounds and one round that changes
    nothing."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "src long, dst long"
    )
    rounds = 20
    sc = spark.sparkContext
    group = f"cc-budget-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "connected_components build")
    try:
        out = graph.connected_components(edges)
    finally:
        sc.setJobGroup(None, None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= 2 * rounds + 4, f"{jobs} jobs for {rounds} rounds"
    assert {r["cluster_id"] for r in out.collect()} == {0}
    dedup.release_shared_relations()


def test_cc_empty_edges(spark):
    # the convergence count is observed on the checkpoint job: an empty
    # graph must still return (no observation left waiting)
    edges = spark.createDataFrame([], "src long, dst long")
    assert graph.connected_components(edges).collect() == []
