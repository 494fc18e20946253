"""graph.connected_components: the local contraction and vertex-state
min-label loop shared by q48, q84, q108, q176 and q278 — edge-shape edge
cases, the ``max_iters`` cap, a deterministic Spark-job budget per
propagation round, and a differential check against a plain-Python
union-find."""

import random
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


def _path(spark, n_parts):
    """The path 0 - 1 - ... - 20 spread over ``n_parts`` partitions."""
    rows = spark.sparkContext.parallelize([(i, i + 1) for i in range(20)], n_parts)
    return spark.createDataFrame(rows, "src long, dst long")


def test_cc_max_iters_caps_propagation(spark):
    # max_iters caps rounds over the contracted graph. With one edge per
    # partition the contraction merges nothing, so on the path
    # 0 - 1 - ... - 20 the initial label covers one hop and each round
    # one more: after r rounds node v holds max(0, v - r - 1)
    edges = _path(spark, 20)
    for r in (0, 2, 5):
        out = graph.connected_components(edges, max_iters=r).collect()
        assert {row["node"]: row["cluster_id"] for row in out} == {
            v: max(0, v - r - 1) for v in range(21)
        }
    out = graph.connected_components(edges, max_iters=19).collect()
    assert {row["cluster_id"] for row in out} == {0}


def _build_jobs(spark, edges, **kw):
    """connected_components(edges, **kw) and the Spark jobs its build fired."""
    sc = spark.sparkContext
    group = f"cc-build-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "connected_components build")
    try:
        out = graph.connected_components(edges, **kw)
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_cc_one_partition_path_needs_no_label_changing_round(spark):
    # in one partition the contraction solves the path outright: every
    # node points at 0, so the initial labels are already final and the
    # loop runs no round (no more jobs than with max_iters=0)
    edges = _path(spark, 1)
    capped, capped_jobs = _build_jobs(spark, edges, max_iters=0)
    assert _labels(capped) == {v: (0, 21) for v in range(21)}
    out, jobs = _build_jobs(spark, edges)
    assert _labels(out) == {v: (0, 21) for v in range(21)}
    assert jobs == capped_jobs
    dedup.release_shared_relations()


def _union_find_components(pairs):
    """{node: (min node, size)} of the non-null endpoints of ``pairs``."""
    parent = {}

    def find(v):
        while parent[v] != v:
            v = parent[v]
        return v

    for u, v in pairs:
        if u is None or v is None:
            continue
        ru, rv = find(parent.setdefault(u, u)), find(parent.setdefault(v, v))
        parent[max(ru, rv)] = min(ru, rv)
    roots = {v: find(v) for v in parent}
    sizes = {r: list(roots.values()).count(r) for r in set(roots.values())}
    return {v: (r, sizes[r]) for v, r in roots.items()}


def test_cc_matches_python_union_find(spark):
    """Seeded random graphs with duplicate edges, both orientations,
    self-loops and one null endpoint, at 1, 3 and 8 partitions: every
    non-null node gets its component's minimum and size. The null node
    keeps the kernel's null behaviour: its label is the least of its own
    neighbours and it is not propagated."""
    rng = random.Random(20181)
    base = [(rng.randrange(60), rng.randrange(60)) for _ in range(70)]
    base += [(b, a) for a, b in base[:10]] + base[10:20] + [(7, 7), (61, 61)]
    rng.shuffle(base)
    for key, conv in (("long", int), ("string", str)):
        pairs = [(conv(a), conv(b)) for a, b in base] + [(None, conv(40))]
        expected = _union_find_components(pairs)
        null_label = conv(40)
        null_size = 1 + sum(1 for r, _ in expected.values() if r == null_label)
        expected[None] = (null_label, null_size)
        for n_parts in (1, 3, 8):
            rows = spark.sparkContext.parallelize(pairs, n_parts)
            edges = spark.createDataFrame(rows, f"src {key}, dst {key}")
            assert _labels(graph.connected_components(edges)) == expected, (
                key, n_parts,
            )


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
    end, one edge per partition so the contraction merges nothing, needs
    19 label-changing rounds and one round that changes nothing."""
    rounds = 20
    out, jobs = _build_jobs(spark, _path(spark, 20))
    assert jobs <= 2 * rounds + 4, f"{jobs} jobs for {rounds} rounds"
    assert {r["cluster_id"] for r in out.collect()} == {0}
    dedup.release_shared_relations()


def test_cc_empty_edges(spark):
    # the convergence count is observed on the checkpoint job: an empty
    # graph must still return (no observation left waiting)
    edges = spark.createDataFrame([], "src long, dst long")
    assert graph.connected_components(edges).collect() == []
