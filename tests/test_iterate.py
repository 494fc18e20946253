"""RoundCheckpointer: localCheckpoint blocks are released deterministically
when a round is superseded, so iterative loops hold O(1) rounds resident.
Plus the shared-checkpoint registry: one-shot eager checkpoints register
their block for the between-queries release hook instead of pinning it
until JVM GC."""

from pyspark.sql import functions as F

from esop_spark.operators.iterate import (
    RoundCheckpointer,
    release_shared_checkpoints,
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
    ckpt = RoundCheckpointer(spark)
    df = ckpt.checkpoint(spark.range(1000).withColumn("x", F.col("id") * 2))
    assert df.count() == 1000
    pinned = _persistent_ids(spark) - base
    assert pinned  # the checkpoint pinned blocks
    ckpt.release(df)
    # release removed exactly the pinned ids and nothing new appeared
    assert _persistent_ids(spark) - base == set()


def test_lazy_checkpoint_materializes_on_first_full_action(spark):
    """checkpoint(eager=False): no blocks exist until the caller's first
    full action, which both computes the result AND pins the checkpoint
    blocks (the one-job-per-round loop construction); release then frees
    exactly those blocks. Values are identical to the eager form."""
    ckpt = RoundCheckpointer(spark)
    base = _persistent_ids(spark)
    df = ckpt.checkpoint(
        spark.range(500).withColumn("x", F.col("id") * 2), eager=False
    )
    total = df.agg(F.sum("x")).first()[0]
    assert total == 2 * (499 * 500 // 2)
    pinned = _persistent_ids(spark) - base
    assert pinned  # the action pinned the blocks
    # the frame now reads its own blocks (lineage truncated, values stable)
    assert df.count() == 500
    ckpt.release(df)
    # release removed exactly the pinned ids and nothing new appeared
    assert _persistent_ids(spark) - base == set()


def test_loop_holds_bounded_rounds(spark):
    base = _persistent_ids(spark)
    ckpt = RoundCheckpointer(spark)
    cur = ckpt.checkpoint(spark.range(100))
    for _ in range(6):
        prev = cur
        cur = ckpt.checkpoint(cur.withColumn("id", F.col("id") + 1))
        ckpt.release(prev)
        # at most the live round's ids are pinned by this checkpointer
        assert len(_persistent_ids(spark) - base) <= 2
    assert cur.agg(F.min("id")).collect()[0][0] == 6
    ckpt.release_all()
    assert _persistent_ids(spark) - base == set()


def test_release_is_noop_for_unowned_frames(spark):
    ckpt = RoundCheckpointer(spark)
    plain = spark.range(10)
    ckpt.release(plain)  # never checkpointed by this instance
    ckpt.release(None)
    assert plain.count() == 10


def test_release_spares_side_effect_caches(spark):
    """A lazily persist()-ed input whose SQL cache buffer FIRST
    materializes inside the checkpoint's own job must not be claimed by
    the checkpoint: ownership is the checkpointed plan's own RDD id, not
    a diff of the global persistent set (round-8 advice — the old diff
    released connected_components' symmetric-edge cache after round 1,
    recomputing it every later round)."""
    from esop_spark.operators import dedup

    dedup.release_shared_relations()  # drain earlier tests' registrations
    base = _persistent_ids(spark)
    dep = spark.range(500).persist()  # lazy: no buffer blocks yet
    assert _persistent_ids(spark) - base == set()
    ckpt = RoundCheckpointer(spark)
    out = ckpt.checkpoint(dep.withColumn("y", F.col("id") + 1))
    # the checkpoint job materialized BOTH the checkpoint and dep's cache
    both = _persistent_ids(spark) - base
    assert len(both) == 2
    ckpt.release(out)
    # only the checkpoint's own block freed; the cache survives
    cache = _persistent_ids(spark) - base
    assert len(cache) == 1 and cache < both
    assert dep.count() == 500
    dep.unpersist(False)
    assert _persistent_ids(spark) - base == set()


def test_shared_checkpoint_released_by_hook(spark):
    from esop_spark.operators import dedup

    dedup.release_shared_relations()  # drain earlier tests' registrations
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


def test_disown_leaves_final_round_usable(spark):
    base = _persistent_ids(spark)
    ckpt = RoundCheckpointer(spark)
    df = ckpt.checkpoint(spark.range(50))
    ckpt.disown(df)
    ckpt.release_all()  # must not free the disowned frame's blocks
    assert df.count() == 50
    assert _persistent_ids(spark) - base  # still pinned (GC will reclaim)
