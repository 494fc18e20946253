"""The one checkpoint primitive: ``shared_checkpoint`` pins a frame's
blocks in a module-wide registry, ``release_checkpoint`` frees one frame
early (so iterative loops hold O(1) rounds resident), and the
between-queries hook frees whatever is still registered instead of
leaving it to JVM GC."""

import pytest
from pyspark.sql import functions as F

from esop_spark.operators import graph
from esop_spark.operators.iterate import (
    release_checkpoint,
    release_shared_checkpoints,
    release_shared_relations,
    shared_checkpoint,
)


def _persistent_ids(spark) -> set[int]:
    """Ids of the session's persistent RDDs. Tests compare id SETS, not
    counts: the ContextCleaner may unpersist an earlier test's garbage
    RDD at any moment, which shifts a session-wide count but cannot add
    an id or bring back a released one."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_checkpoint_release_frees_blocks(spark):
    base = _persistent_ids(spark)
    df = shared_checkpoint(spark.range(1000).withColumn("x", F.col("id") * 2))
    assert df.count() == 1000
    pinned = _persistent_ids(spark) - base
    assert pinned  # the checkpoint pinned blocks
    release_checkpoint(df)
    # release removed exactly the pinned ids and nothing new appeared
    assert _persistent_ids(spark) - base == set()


def test_loop_holds_bounded_rounds(spark):
    base = _persistent_ids(spark)
    cur = shared_checkpoint(spark.range(100))
    for _ in range(6):
        prev = cur
        cur = shared_checkpoint(cur.withColumn("id", F.col("id") + 1))
        release_checkpoint(prev)
        # at most the live round's ids are pinned by the loop
        assert len(_persistent_ids(spark) - base) <= 2
    assert cur.agg(F.min("id")).collect()[0][0] == 6
    release_checkpoint(cur)
    assert _persistent_ids(spark) - base == set()


def test_release_is_noop_for_unowned_frames(spark):
    """Releasing a frame the registry does not hold frees nothing: a
    plain frame, ``None``, and a frame DERIVED from a pinned one (its
    plan is not the checkpoint's own LogicalRDD)."""
    plain = spark.range(10)
    release_checkpoint(plain)
    release_checkpoint(None)
    assert plain.count() == 10
    base = _persistent_ids(spark)
    pinned = shared_checkpoint(spark.range(20))
    held = _persistent_ids(spark) - base
    assert held
    release_checkpoint(pinned.select((F.col("id") + 1).alias("id")))
    release_checkpoint(pinned.filter("id > 3"))
    assert _persistent_ids(spark) - base == held
    assert pinned.count() == 20
    release_checkpoint(pinned)
    release_checkpoint(pinned)  # a second release is a no-op too
    assert _persistent_ids(spark) - base == set()


def test_release_spares_side_effect_caches(spark):
    """A lazily persist()-ed input whose SQL cache buffer FIRST
    materializes inside the checkpoint's own job must not be claimed by
    the checkpoint: ownership is the checkpointed plan's own RDD id, not
    a diff of the global persistent set (round-8 advice — the old diff
    released connected_components' symmetric-edge cache after round 1,
    recomputing it every later round)."""
    release_shared_relations()  # drain earlier tests' registrations
    base = _persistent_ids(spark)
    dep = spark.range(500).persist()  # lazy: no buffer blocks yet
    assert _persistent_ids(spark) - base == set()
    out = shared_checkpoint(dep.withColumn("y", F.col("id") + 1))
    # the checkpoint job materialized BOTH the checkpoint and dep's cache
    both = _persistent_ids(spark) - base
    assert len(both) == 2
    release_checkpoint(out)
    # only the checkpoint's own block freed; the cache survives
    cache = _persistent_ids(spark) - base
    assert len(cache) == 1 and cache < both
    assert dep.count() == 500
    # nor does the hook touch a cache nobody registered
    release_shared_relations()
    assert _persistent_ids(spark) - base == cache
    dep.unpersist(False)
    assert _persistent_ids(spark) - base == set()


def test_loop_that_raises_leaves_blocks_to_the_hook(spark, monkeypatch):
    """A peel loop that fails partway leaves no block behind once the
    between-queries hook runs: every round it pinned is in the registry,
    the round it was about to replace included."""
    release_shared_relations()  # drain earlier tests' registrations
    base = _persistent_ids(spark)
    # a path 0-1-...-7 at k=2: round 1 drops both ends, so the peel goes
    # on to a round 2; the third checkpoint (round 2's) raises
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], "src bigint, dst bigint"
    )
    calls = []
    frame = type(edges)  # the concrete DataFrame class the session returns
    checkpoint = frame.localCheckpoint

    def failing(self, *args, **kwargs):
        calls.append(1)
        if len(calls) == 3:
            raise RuntimeError("round 2 failed")
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(frame, "localCheckpoint", failing)
    with pytest.raises(RuntimeError, match="round 2 failed"):
        graph.kcore_peel(edges, k=2, rounds=6)
    assert len(calls) == 3
    assert _persistent_ids(spark) - base  # the last good round is pinned
    release_shared_relations()
    assert _persistent_ids(spark) - base == set()


def test_shared_checkpoint_released_by_hook(spark):
    release_shared_relations()  # drain earlier tests' registrations
    base = _persistent_ids(spark)
    df = shared_checkpoint(spark.range(200).withColumn("x", F.col("id") * 3))
    assert df.count() == 200
    assert _persistent_ids(spark) - base  # pinned until the hook runs
    release_shared_checkpoints()
    assert _persistent_ids(spark) - base == set()


def test_release_shared_relations_frees_checkpoints_too(spark):
    """The single between-queries hook (dedup.release_shared_relations)
    frees BOTH leak classes: persisted shared relations and one-shot
    eager checkpoints."""
    from esop_spark.operators import dedup

    dedup.release_shared_relations()  # drain earlier tests' registrations
    base = _persistent_ids(spark)
    # held, so only the hook (not the ContextCleaner) can drop its blocks
    ck = shared_checkpoint(spark.range(100))
    ck.count()
    rel = dedup.share_relation(spark.range(50).withColumn("z", F.col("id") % 5))
    rel.count()
    assert len(_persistent_ids(spark) - base) >= 2
    dedup.release_shared_relations()
    assert _persistent_ids(spark) - base == set()


def test_repeated_capped_jaccard_leaves_persistent_rdds_flat(spark):
    """Library-session contract: repeated ngram_jaccard_pairs(max_df=...)
    calls + the release hook leave getPersistentRDDs at baseline — the
    capped branch's hot_keys/shared_rare checkpoints must not accumulate
    (round-7 verdict item 1)."""
    from esop_spark.operators import dedup

    boiler = "lorem ipsum dolor sit amet consectetur"
    docs = spark.createDataFrame(
        [(i, boiler + " " + " ".join(f"w{i}_{j}" for j in range(12)))
         for i in range(6)],
        "doc_id long, text string",
    )
    dedup.release_shared_relations()  # drain earlier tests' registrations
    base = _persistent_ids(spark)
    for _ in range(3):
        dedup.ngram_jaccard_pairs(docs, threshold=0.3, max_df=3).collect()
        dedup.release_shared_relations()
        assert _persistent_ids(spark) - base == set()
