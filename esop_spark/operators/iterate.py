"""Block lifetime for ``localCheckpoint``-ed frames, and the ordered scan
built on it.

``DataFrame.localCheckpoint()`` materializes the plan into cached RDD
blocks and truncates lineage — the right tool for label-propagation /
peel loops where the logical plan would otherwise grow per round, and
for pinning one range partitioning that two consumers must agree on.
But unlike ``persist()`` there is no public unpersist handle: the blocks
are freed only when the JVM garbage-collects the LogicalRDD plan and the
ContextCleaner notices. In a loop that rebinds the checkpointed frame
every round, every superseded round's blocks stay resident until a GC
happens to run — in a single-JVM local run at 100x data the difference
between fitting in the default heap and OOM (the sf10 k-core rehearsal
needed a 48 GiB heap purely to hold dead peel rounds, SCALE.md round 6).

One primitive decides block lifetime. :func:`shared_checkpoint` eagerly
checkpoints a frame and registers the RDD id it pinned in a module-wide
registry. :func:`release_checkpoint` frees one such frame early (a loop
releases the round it just replaced, so it holds at most two rounds),
and :func:`release_shared_relations` — the between-queries hook bench.py
and tools/check_oracle.py call — frees whatever is still registered: the
final round a returned frame reads lazily, the one-shot intermediates
(ngram hot-key lists, candidate pair lists, ordered-scan partitionings),
and the rounds of a loop that raised partway.

The id is read straight off the ``LogicalRDD`` node the checkpoint
produced (``analyzed().rdd().id()``), never by diffing
``getPersistentRDDs`` around the call: the checkpoint's job can
materialize OTHER persistent RDDs as a side effect — a lazily
``persist()``-ed input whose SQL cache buffer first builds inside the
checkpoint action — and a diff would claim and later unpersist that
cache, silently recomputing the input every later round (the round-8
finding on ``connected_components``' ``sym`` cache).

Contract note: unlike a released ``persist()`` (which recomputes), a
released checkpoint CANNOT re-execute — lineage was truncated — so the
hook must only run between queries, after the previous query's returned
frames are fully consumed. That is exactly how bench/check_oracle call
it, and what the library-session hygiene test pins.

:func:`share_relation` is the ``persist()`` counterpart: corpus-shaped
relations that several legs of one query read are persisted and
registered here, and the same hook unpersists them. Every operator
module imports the pair from this module; ``dedup`` re-exports both for
callers that have always imported them from there.

:func:`ordered_prefix_sum` is the one ordered scan (delete batches,
compaction bins, shard packing, per-stratum ranks): a running sum in a
global or per-stratum order with no single-task window. It imports no
operator module, so every operator module can use it.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def _checkpoint_rdd_id(out: DataFrame) -> int | None:
    """RDD id an eager ``localCheckpoint`` pinned: the ``LogicalRDD`` the
    checkpoint produced wraps the persisted RDD directly. None for any
    other plan shape (a frame derived from a checkpoint, a plain frame)."""
    try:
        plan = out._jdf.queryExecution().analyzed()
        return int(plan.rdd().id())
    except Exception:
        return None


# rdd_id -> jsc for every block shared_checkpoint() pinned and nobody has
# released yet. Module-global like _SHARED_RELATIONS, and freed by the
# same hook.
_SHARED_CHECKPOINT_IDS: dict[int, object] = {}


def _unpersist(jsc, rid: int) -> None:
    try:
        jmap = jsc.getPersistentRDDs()
        if jmap.containsKey(rid):
            jmap.get(rid).unpersist(False)
    except Exception:
        # JVM already stopped (session teardown) — nothing to free
        pass


def shared_checkpoint(df: DataFrame, storage_level: StorageLevel | None = None) -> DataFrame:
    """Eagerly ``localCheckpoint`` ``df`` and register its block for
    release, early by :func:`release_checkpoint` or between queries by
    :func:`release_shared_relations`.

    ``storage_level`` sets the block placement: the default
    MEMORY_AND_DISK suits small relations, while edge-relation peels over
    corpus-scale graphs pass DISK_ONLY — the round's blocks are written
    once and read once next round, so caching them on-heap buys little
    and (in a single-JVM local run) competes with the very join/agg
    execution memory the round needs."""
    out = df.localCheckpoint(storageLevel=storage_level)  # eager by default
    rid = _checkpoint_rdd_id(out)
    if rid is not None:
        _SHARED_CHECKPOINT_IDS[rid] = out.sparkSession.sparkContext._jsc
    return out


def release_checkpoint(df: DataFrame | None) -> None:
    """Free the blocks of a frame :func:`shared_checkpoint` returned once
    nothing will read it again (a loop's superseded round). A no-op for
    ``None``, for a frame derived from a checkpoint and for any frame the
    registry does not hold, so loops can release unconditionally."""
    rid = None if df is None else _checkpoint_rdd_id(df)
    if rid in _SHARED_CHECKPOINT_IDS:
        _unpersist(_SHARED_CHECKPOINT_IDS.pop(rid), rid)


def release_shared_checkpoints() -> None:
    """Unpersist every block :func:`shared_checkpoint` registered. Safe
    only BETWEEN queries: a checkpointed frame cannot recompute after its
    blocks are dropped (lineage is truncated), so frames returned by
    earlier operator calls must not be re-executed after this runs."""
    while _SHARED_CHECKPOINT_IDS:
        rid, jsc = _SHARED_CHECKPOINT_IDS.popitem()
        _unpersist(jsc, rid)


# Corpus-shaped relations persisted so one query's legs share a single
# materialization (signature + verify both read the shingle relation).
# They should NOT outlive the workload: in a long session (300-query
# bench, full oracle sweep) never-unpersisted per-query caches accumulate
# in the CacheManager until eviction pressure distorts every later query —
# the round-6 q22 bench anomaly's exposure surface. Persisted relations
# are registered here and released explicitly between queries via
# :func:`release_shared_relations` (bench.py and tools/check_oracle.py
# call it, alongside spark.catalog.clearCache()). Releasing early is
# always safe — an unpersisted DataFrame recomputes from source — so a
# caller that releases mid-consumption loses only the cache hit, never
# correctness. Repeat calls within one workload stay warm: persist() of an
# identical plan dedupes onto the existing CacheManager entry.
_SHARED_RELATIONS: list[DataFrame] = []


def share_relation(df: DataFrame) -> DataFrame:
    """Persist ``df`` for intra-query leg sharing and register it for
    deferred release. Used by every operator module whose persisted
    relation outlives the function call (feeds the returned frame), so a
    long-lived library session frees them all with one
    :func:`release_shared_relations` call instead of accumulating
    CacheManager entries until eviction pressure."""
    _SHARED_RELATIONS.append(df.persist())
    return df


def release_shared_relations() -> None:
    """Unpersist every registered shared relation AND every one-shot
    eager checkpoint block (between-queries hook — one call frees both
    leak classes). Persisted relations recompute if touched again;
    checkpointed frames do NOT (lineage truncated), so run this only
    between queries, after the previous query's frames are consumed."""
    while _SHARED_RELATIONS:
        _SHARED_RELATIONS.pop().unpersist(False)
    release_shared_checkpoints()


def ordered_prefix_sum(
    df: DataFrame,
    order: Sequence[Column | str],
    value: Column | str,
    strata: Sequence[str] = (),
    num_partitions: int = 32,
) -> DataFrame:
    """Adds ``cum_incl`` = SUM(value) OVER (PARTITION BY strata ORDER BY
    order ROWS UNBOUNDED PRECEDING) without a single-task window. A rank
    is the prefix sum of ``F.lit(1)``.

    ``order`` should be unique within a stratum: tied rows get distinct,
    arbitrarily ordered sums (as ``row_number`` ranks ties). Four steps,
    all bounded:

    1. range-repartition on ``(*strata, *order)`` — partitions hold
       contiguous slices of the global lexicographic order, so within a
       partition a stratum's rows are a contiguous run of its own order
       (RangePartitioner sends equal keys to one partition, so ties never
       straddle a boundary);
    2. pin that partitioning with :func:`shared_checkpoint`:
       RangePartitioner samples its boundaries with an RDD-id-derived
       seed, so two independent evaluations of the exchange can disagree,
       and both consumers below must read the SAME ``_pid``;
    3. a running sum per (partition, stratum) over an explicit ROWS frame
       (a default RANGE frame would give tied rows one sum) — a
       pid-clustered window, so no task sorts more than its
       ~1/num_partitions slice of any stratum, however hot;
    4. per-(partition, stratum) totals -> exclusive offsets. The offsets
       relation has at most ``num_partitions`` rows per stratum, so its
       window is trivial and the join back is a broadcast hash join.

    The sum is exact and invariant to where the boundaries land."""
    # expressions become columns so the window can order by them
    tags = {f"_o{i}": o for i, o in enumerate(order) if not isinstance(o, str)}
    order_cols = [f"_o{i}" if f"_o{i}" in tags else o for i, o in enumerate(order)]
    tagged = df.select("*", *[o.alias(c) for c, o in tags.items()])
    ranged = shared_checkpoint(
        tagged.repartitionByRange(num_partitions, *strata, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    value = F.col(value) if isinstance(value, str) else value
    within = (
        Window.partitionBy("_pid", *strata)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    before = (
        Window.partitionBy(*strata)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        ranged.groupBy("_pid", *strata)
        .agg(F.sum(value).alias("_part"))
        .select(
            "_pid",
            *strata,
            F.coalesce(F.sum("_part").over(before), F.lit(0)).alias("_off"),
        )
    )
    return (
        ranged.withColumn("_local", F.sum(value).over(within))
        .join(F.broadcast(offsets), ["_pid", *strata])
        .withColumn("cum_incl", (F.col("_local") + F.col("_off")).cast("bigint"))
        .drop("_pid", "_local", "_off", *tags)
    )
