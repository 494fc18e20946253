"""Library-session cache hygiene: the contract a long-lived consumer
session relies on (round-7 verdict item 6).

The round-6/7 cache findings (q22 bench record, pinned checkpoint blocks)
were all discovered by the BENCH's reset machinery; this pins the same
guarantee at the library boundary: run a basket of assorted queries through
ONE SparkSession with NO bench resets, call
``dedup.release_shared_relations()`` once, and the persistent-RDD set must
return to its baseline. The fixture views are plain (nothing cached), so
the baseline holds no long-lived cache.

The basket deliberately covers every block-pinning surface:
``share_relation``-ed corpus relations (q22/q23) and graph/text relations
(q159/q166/q54), one-shot ``shared_checkpoint``s (q64 splits prefix sum,
q75 stratum rank), and the final rounds iterative loops leave in the
checkpoint registry (q48 clusters, q305 densest subgraph).
"""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entry_mod
from esop_spark.operators.dedup import release_shared_relations

SF_DIR = "/root/testdata/sf0.001"

BASKET = [
    "q01_list_backups",          # fixture views (plain, no cache)
    "q21_dedup_exact",
    "q22_dedup_minhash_lsh",     # shared shingle/signature relations
    "q23_ngram_jaccard",         # shared exact shingle relation
    "q48_dedup_clusters",        # CC rounds: final round left registered
    "q64_train_split",           # ordered_prefix_sum's shared_checkpoint
    "q75_temperature_resample",  # stratum rank: ordered_prefix_sum of 1
    "q159_pagerank",             # share_relation-ed edge/node relations
    "q166_triangles",            # share_relation-ed oriented edges
    "q54_pii_scan",
    "q304_weighted_minhash_lsh",  # shared replicated-element relation
    "q305_densest_subgraph",     # best round left registered
]


def _persistent_ids(spark) -> set:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(i) for i in jmap.keySet().toArray()}


def test_library_session_returns_to_baseline(spark):
    qs = entry_mod.queries()
    # Register the fixture views and touch the base tables first, so the
    # baseline is taken after the session's first-use state.
    qs["q01_list_backups"](spark, SF_DIR).collect()
    release_shared_relations()
    base = _persistent_ids(spark)

    for name in BASKET:
        qs[name](spark, SF_DIR).collect()
    leaked_before_release = _persistent_ids(spark) - base
    # the basket is expected to pin relations while running — the point is
    # that ONE hook call reclaims all of them
    release_shared_relations()
    leaked = _persistent_ids(spark) - base
    assert leaked == set(), (
        f"persistent RDDs leaked past release_shared_relations(): {sorted(leaked)} "
        f"(pinned during the basket: {sorted(leaked_before_release)})"
    )

    # and the session still works afterwards: queries rebuild from source
    assert qs["q21_dedup_exact"](spark, SF_DIR).count() >= 0
    release_shared_relations()
    assert _persistent_ids(spark) - base == set()
