"""Plan contracts: assertions over the executed physical plans of
scale-critical queries, so a refactor that silently reintroduces a
scale anti-pattern (lost pushdown, stratum-wide window, cartesian
product, broadcast regression) fails CI instead of surfacing at 100 TB.

These mirror the PLANS.md audit but as enforced invariants on the
load-bearing subset.
"""

import re

import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = entry_mod.queries()[name](spark, SF_DIR)
    df.collect()  # AQE final plan exists only post-execution
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_project_pushes_predicates(spark):
    plan = _plan(spark, "q13_filter_project")
    assert re.search(r"PushedFilters: \[[^\]]*\w", plan), (
        "q13 must push its filters into the parquet scan"
    )


def test_join_agg_broadcasts_dimensions(spark):
    plan = _plan(spark, "q14_join_agg")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ann_topk_has_no_shuffle_join(spark):
    plan = _plan(spark, "q26_ann_topk")
    assert "SortMergeJoin" not in plan, (
        "the query side must broadcast against one corpus scan"
    )


@pytest.mark.parametrize(
    "name",
    ["q51_sample_k_per_stratum", "q57_mixture_resample", "q75_temperature_resample"],
)
def test_stratum_selection_uses_distributed_rank(spark, name):
    plan = _plan(spark, name)
    assert "_pid" in plan, (
        f"{name} must rank via the range-partitioned (_pid, stratum) "
        "construction, not a per-stratum single-task window"
    )
    # no window partitioned on the bare stratum column alone
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        if "stratum" in spec or "lang" in spec:
            assert "_pid" in spec, f"bare stratum window in {name}: {spec}"


@pytest.mark.parametrize(
    "name", ["q01_list_backups", "q02_removable_entries", "q45_global_listing"]
)
def test_listing_and_removal_read_entries_once(spark, name):
    """esop's listing and removal rules, at node and fleet scope, flag each
    entry through one window on (*scope, object_key): no join of the
    entries with their own aggregate, and no window on the scope alone."""
    plan = _plan(spark, name)
    for join in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert join not in plan, f"{join} in {name}"
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "object_key" in m.group(1), f"window off the object in {name}"


def test_scan_shaped_queries_have_minimal_exchanges(spark):
    # Pure signal projections: at most one aggregation exchange.
    for name in ["q27_lang_id", "q28_quality_score", "q54_pii_scan"]:
        plan = _plan(spark, name)
        n_exch = plan.count("Exchange")
        assert n_exch <= 2, f"{name} grew to {n_exch} exchanges"


def test_hash_sampling_is_exchange_free(spark):
    plan = _plan(spark, "q50_stratified_sample")
    assert plan.count("Exchange") == 0, (
        "content-hash sampling must stay a scan-stage filter"
    )


def test_no_cartesian_products_anywhere(spark):
    # q25 is the documented O(n²) verifier (a broadcast nested loop, not a
    # cartesian); everything else must never cross-join the corpus.
    for name in [
        "q21_dedup_exact",
        "q22_dedup_minhash_lsh",
        "q48_dedup_clusters",
        "q56_semantic_dedup",
        "q124_split_leakage",
    ]:
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, f"cartesian in {name}"


def test_shard_packing_avoids_single_task_global_window(spark):
    plan = _plan(spark, "q65_shard_packing")
    assert "_pid" in plan, "prefix sum must be the distributed construction"
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        spec_head = m.group(1).split(",")[0]
        assert "_pid" in m.group(1) or "seq" in spec_head or "shard" in spec_head, (
            f"global window without pid clustering: {m.group(1)[:80]}"
        )


@pytest.mark.parametrize(
    "name", ["q142_curriculum_order", "q149_prototypicality"]
)
def test_new_ranked_queries_use_distributed_rank(spark, name):
    plan = _plan(spark, name)
    assert "_pid" in plan, (
        f"{name} must rank through the range-partitioned construction"
    )


def test_cluster_topics_broadcasts_membership(spark):
    plan = _plan(spark, "q144_cluster_topics")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_nb_model_is_broadcast(spark):
    # the (label x vocab_hash) model and class-meta tables must broadcast;
    # scoring must not sort-merge the token stream against the model
    plan = _plan(spark, "q143_nb_confusion")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_retrieval_metrics_broadcasts_queries(spark):
    plan = _plan(spark, "q153_retrieval_metrics")
    assert "SortMergeJoin" not in plan, (
        "the capped query sample must broadcast against one corpus scan"
    )


def test_waterfill_single_corpus_aggregation(spark):
    # everything after the one corpus->strata agg runs on the tiny grain:
    # exchanges stay bounded (agg + strata-grain windows), and no
    # corpus-relation join exists
    # AQE's executedPlan string renders Initial AND Final plans, so every
    # count is doubled: <= 2 printed scans == 1 real scan
    plan = _plan(spark, "q145_token_waterfill")
    assert plan.count("Scan parquet") <= 2
    assert "CartesianProduct" not in plan


def test_profile_is_single_pass(spark):
    plan = _plan(spark, "q155_table_profile")
    assert plan.count("Scan parquet") <= 2, (  # AQE prints initial+final
        "table_profile must profile every column in ONE scan"
    )
    assert "Expand" in plan, (
        "multi-distinct must plan as a single Expand pass, not re-scans"
    )
    assert "Join" not in plan


def test_pagerank_no_cartesian_and_cached_edges(spark):
    # the iteration loop must join on the node key (hash/SMJ fine), never
    # cross-join, and the edge relation must come from the persisted cache
    plan = _plan(spark, "q159_pagerank")
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan or "Scan In-memory" in plan, (
        "pagerank must reuse the persisted edge relation across iterations"
    )


def test_triangles_are_degree_oriented(spark):
    # the wedge join must run on the ORIENTED edge relation (persisted),
    # never a cartesian
    plan = _plan(spark, "q166_triangles")
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan or "Scan In-memory" in plan


def test_ewma_is_one_user_window_no_join(spark):
    plan = _plan(spark, "q160_ewma_anomaly")
    assert "Join" not in plan, "the lag chain must not become a self-join"


def test_winsorize_windows_on_score_grain_only(spark):
    # windows partition by source over the <=101-row score cells — no
    # per-doc window partitioned on nothing
    plan = _plan(spark, "q163_winsorize")
    import re as _re
    for m in _re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "source" in m.group(1), (
            f"winsorize window not on the source-grain cells: {m.group(1)[:80]}"
        )


def test_doc_keywords_rank_partitions_by_doc(spark):
    plan = _plan(spark, "q172_doc_keywords")
    import re as _re
    specs = _re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "doc_keywords must rank via a window"
    for spec in specs:
        assert "doc_id" in spec, f"rank window not per-document: {spec[:80]}"


def test_mmr_corpus_scan_is_broadcast_query(spark):
    plan = _plan(spark, "q174_mmr_diversify")
    assert "SortMergeJoin" not in plan, (
        "the query vector and pool must broadcast; the corpus is scanned once"
    )


def test_coverage_select_no_cartesian(spark):
    plan = _plan(spark, "q180_coverage_select")
    assert "CartesianProduct" not in plan


def test_weighted_jaccard_is_broadcast_stream(spark):
    # the guarded exact baseline must follow the cosine_pairs shape: one
    # side broadcast, the streamed side spread by id — never a sort-merge
    # on a low-cardinality key (the measured-and-rejected mass-bucket join
    # coalesced the pair exchange to one task per hot bucket)
    plan = _plan(spark, "q303_weighted_jaccard")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_weighted_minhash_no_cartesian_and_shared_elements(spark):
    from esop_spark.operators.dedup import release_shared_relations

    plan = _plan(spark, "q304_weighted_minhash_lsh")
    release_shared_relations()
    assert "CartesianProduct" not in plan
    # the replicated-element relation is persisted and reused across the
    # signature and verify legs — the verify leg must read the cache, not
    # re-run the explode pipeline
    assert "InMemoryTableScan" in plan or "Scan In-memory" in plan


def test_densest_subgraph_no_cartesian(spark):
    from esop_spark.operators.dedup import release_shared_relations

    plan = _plan(spark, "q305_densest_subgraph")
    release_shared_relations()
    assert "CartesianProduct" not in plan


def test_pin_projection_barrier_semantics_and_plan(spark):
    """plans.barriers.pin_projection_barrier: row-for-row identical to a
    plain projection (including NULL and empty wrapped values — the
    1-element array always has exactly one slot), and the Generate node
    survives the optimizer so CollapseProject cannot inline the pinned
    expression into downstream consumers."""
    from pyspark.sql import functions as F

    from esop_spark.plans.barriers import pin_projection_barrier

    df = spark.createDataFrame(
        [(1, "a b"), (2, ""), (3, None)], "id long, t string"
    )
    expensive = F.when(
        F.col("t").isNotNull() & (F.col("t") != ""), F.split("t", " ")
    )
    pinned = pin_projection_barrier(df, expensive, "arr", "id")
    plain = df.select("id", expensive.alias("arr"))
    assert pinned.columns == plain.columns
    key = lambda r: (r["id"], tuple(r["arr"]) if r["arr"] is not None else None)
    assert sorted(map(key, pinned.collect())) == sorted(map(key, plain.collect()))
    # multi-consumer projection downstream: the barrier must survive
    out = pinned.select(
        "id", F.size("arr").alias("s1"), F.reverse("arr").alias("s2")
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Generate explode" in plan, plan[:400]


def test_cosine_lsh_verify_legs_broadcast(spark):
    """q301's verify tail must run as two BroadcastHashJoins when the
    embedding table fits the broadcast bound (n ≤ broadcast_verify_rows):
    the candidate relation is skinny but the join OUTPUT carries a
    vector, so an SMJ chain shuffles candidates × vector-bytes twice —
    measured ~500 GB of one-box spill at the 2M-vector probe. A config
    change that silently reverts the verify legs to shuffle joins must
    fail here, not at the next scale rehearsal (round-9 verdict #3)."""
    from esop_spark.operators import similarity

    emb = entry_mod._base(spark, SF_DIR, "embeddings")
    df = similarity.cosine_pairs_lsh(emb, threshold=0.45, dim=64)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, (
        "verify legs fell back to a shuffle join under the broadcast bound"
    )
