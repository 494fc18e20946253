"""Explicit block release for ``localCheckpoint``-ed iterative loops.

``DataFrame.localCheckpoint()`` materializes the plan into cached RDD
blocks and truncates lineage — the right tool for label-propagation /
peel loops where the logical plan would otherwise grow per round. But
unlike ``persist()`` there is no public unpersist handle: the blocks are
freed only when the JVM garbage-collects the LogicalRDD plan and the
ContextCleaner notices. In a loop that rebinds the checkpointed frame
every round, every superseded round's blocks stay resident until a GC
happens to run. Harmless on a cluster (blocks are spread across
executors and evicted under pressure), but in a single-JVM local run at
100x data it is the difference between fitting in the default heap and
OOM: the sf10 k-core rehearsal needed a 48 GiB heap purely to hold dead
peel rounds (SCALE.md round-6 finding).

:class:`RoundCheckpointer` closes the gap: after the eager checkpoint it
reads the checkpointed plan's OWN RDD id straight off the ``LogicalRDD``
node the checkpoint produced (``analyzed().rdd().id()``) and unpersists
exactly that id once the caller declares the frame superseded. Owning
the plan's own id — rather than diffing ``getPersistentRDDs`` around the
call, the round-7 construction — matters because the checkpoint's job
can materialize OTHER persistent RDDs as a side effect: a lazily
``persist()``-ed input whose SQL cache buffer first builds inside the
checkpoint action would land in the diff and be wrongly unpersisted on
the first ``release``, silently recomputing that input every later round
(the round-8 advice finding on ``connected_components``' ``sym`` cache).

:func:`shared_checkpoint` is the same idea for ONE-SHOT eager
checkpoints (bounded intermediates pinned so two consumer legs share a
materialization — ngram hot-key lists, candidate pair lists, stratum
rank exchanges): the block id is registered module-globally and freed by
:func:`release_shared_checkpoints`, which
:func:`release_shared_relations` (the between-queries hook bench.py and
tools/check_oracle.py already call) invokes — so a long-lived library
session no longer accumulates checkpoint blocks until JVM GC.

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
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


def _checkpoint_rdd_id(out: DataFrame) -> int | None:
    """RDD id a just-created eager ``localCheckpoint`` pinned: the
    ``LogicalRDD`` the checkpoint produced wraps the persisted RDD
    directly. Returns None if the plan shape is unexpected (caller falls
    back to not tracking — blocks then free on JVM GC as before)."""
    try:
        plan = out._jdf.queryExecution().analyzed()
        return int(plan.rdd().id())
    except Exception:
        return None


# (jsc, rdd_id) pairs pinned by shared_checkpoint(), released between
# queries via release_shared_checkpoints(). Module-global like
# _SHARED_RELATIONS, and freed by the same hook.
_SHARED_CHECKPOINT_IDS: list[tuple[object, int]] = []


def shared_checkpoint(df: DataFrame, storage_level: StorageLevel | None = None) -> DataFrame:
    """Eagerly ``localCheckpoint`` a one-shot bounded intermediate and
    register its block for deferred release (between-queries hook), so
    repeated operator calls in one long-lived session do not accumulate
    checkpoint blocks until JVM GC."""
    out = df.localCheckpoint(eager=True, storageLevel=storage_level)
    rid = _checkpoint_rdd_id(out)
    if rid is not None:
        _SHARED_CHECKPOINT_IDS.append(
            (out.sparkSession.sparkContext._jsc, rid)
        )
    return out


def release_shared_checkpoints() -> None:
    """Unpersist every block :func:`shared_checkpoint` registered. Safe
    only BETWEEN queries: a checkpointed frame cannot recompute after its
    blocks are dropped (lineage is truncated), so frames returned by
    earlier operator calls must not be re-executed after this runs."""
    while _SHARED_CHECKPOINT_IDS:
        jsc, rid = _SHARED_CHECKPOINT_IDS.pop()
        try:
            jmap = jsc.getPersistentRDDs()
            if jmap.containsKey(rid):
                jmap.get(rid).unpersist(False)
        except Exception:
            # JVM already stopped (session teardown) — nothing to free
            pass


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


class RoundCheckpointer:
    """Tracks localCheckpoint block ownership per DataFrame so iterative
    loops can free superseded rounds deterministically instead of waiting
    for JVM GC.

    ``storage_level`` sets the checkpoint block placement: the default
    MEMORY_AND_DISK is right for label-relation loops (rounds are small),
    while edge-relation peels over corpus-scale graphs should pass
    DISK_ONLY — the round's blocks are written once and read once next
    round, so caching them on-heap buys little and (in a single-JVM local
    run) competes with the very join/agg execution memory the round
    needs."""

    def __init__(self, df_or_spark, storage_level: StorageLevel | None = None) -> None:
        spark = (
            df_or_spark.sparkSession
            if isinstance(df_or_spark, DataFrame)
            else df_or_spark
        )
        self._jsc = spark.sparkContext._jsc
        self._level = storage_level
        # id(df) -> [persistent rdd ids created by that df's checkpoint].
        # Ownership is read off the checkpoint's own LogicalRDD, never by
        # diffing the global persistent set — a diff would claim RDDs the
        # checkpoint's job persisted as a side effect (lazily persist()-ed
        # inputs whose cache buffers first materialize inside the round-1
        # checkpoint action) and release() would then unpersist a cache
        # every later round still needs.
        self._owned: dict[int, list[int]] = {}

    def checkpoint(self, df: DataFrame, eager: bool = True) -> DataFrame:
        """localCheckpoint ``df`` and record the RDD id it pinned.

        ``eager=False`` defers materialization to the caller's next FULL
        action over the frame (loop bodies that immediately run a
        convergence aggregation over the new round use this to fold the
        former materialize-then-check two-job sequence into ONE job —
        the action both computes the checkpoint blocks and returns the
        convergence statistic). The caller must guarantee that next
        action computes every partition (an ungrouped aggregate does; a
        limit-style action may not), otherwise Spark schedules a
        fill-in job for the missing partitions at lineage-truncation
        time — correct, but the second job returns."""
        out = df.localCheckpoint(eager=eager, storageLevel=self._level)
        rid = _checkpoint_rdd_id(out)
        self._owned[id(out)] = [] if rid is None else [rid]
        return out

    def release(self, df: DataFrame | None) -> None:
        """Unpersist the blocks a prior :meth:`checkpoint` created for
        ``df``. No-op for frames this checkpointer doesn't own (including
        ``None``), so loop prologues can release unconditionally."""
        if df is None:
            return
        rdd_ids = self._owned.pop(id(df), [])
        if not rdd_ids:
            return
        jmap = self._jsc.getPersistentRDDs()
        for rid in rdd_ids:
            if jmap.containsKey(rid):
                jmap.get(rid).unpersist(False)

    def release_all(self) -> None:
        """Free every checkpoint this instance still owns (loop epilogue
        for frames that never became the returned result)."""
        jmap = self._jsc.getPersistentRDDs()
        for rdd_ids in self._owned.values():
            for rid in rdd_ids:
                if jmap.containsKey(rid):
                    jmap.get(rid).unpersist(False)
        self._owned.clear()

    def disown(self, df: DataFrame) -> None:
        """Stop tracking ``df`` (e.g. it is about to be returned to the
        caller and must outlive this checkpointer). The block then frees
        only on JVM GC; prefer :meth:`disown_to_shared` for frames whose
        blocks should be reclaimed by the between-queries release hook."""
        self._owned.pop(id(df), None)

    def disown_to_shared(self, df: DataFrame) -> None:
        """Move ``df``'s checkpoint blocks from this checkpointer to the
        shared-checkpoint registry: the frame outlives the loop (it feeds
        the RETURNED result), but its blocks still free at the next
        between-queries :func:`release_shared_relations` instead of JVM GC —
        closing the last leak class for iterative operators in a
        long-lived library session."""
        for rid in self._owned.pop(id(df), []):
            _SHARED_CHECKPOINT_IDS.append((self._jsc, rid))
