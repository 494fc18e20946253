"""Streaming CONTAINMENT candidate mining — the compacted foreachBatch
shape, completing the streaming-twin surface (MinHash, weighted MinHash,
SimHash, embeddings have theirs; containment was the last banded family
without one — round-9 verdict #7).

The batch operator (:func:`~esop_spark.operators.dedup.
containment_candidates`) is ASYMMETRIC: each document probes with its
bottom-k shingles against a df-capped inverted shingle index, and a pair
becomes a candidate at ≥ ``min_hits`` distinct probe hits. That shape
does not fit the (band, bucket) per-key bucket state of
``dedup_stream`` — the hit count aggregates ACROSS shingle keys, so
per-key state cannot decide emission alone. It fits the
compacted-table shape naturally: five JVM-side state tables maintained
by plain joins in a foreachBatch function, no Python in the loop —

- ``counts``  (did, n_sh): per-doc distinct-shingle counts; also the
  seen-doc set, so at-least-once redelivery of a document is a no-op
  (stronger than the LSH twins' documented re-emission caveat).
- ``shmeta``  (h, bn, dead): VOCAB-GRAIN shingle metadata — one row per
  (batch, live batch shingle) carrying that batch's posting count, plus
  one (h, 0, 1) death-event row when a shingle's cumulative document
  frequency crosses ``max_df``. Cumulative df = Σ bn over the chain (an
  algebraic sum), death is a latched max. This table exists so the
  per-batch df/death merge touches a VOCAB-sized relation (~2.7M rows
  at the sf10 rehearsal) instead of the postings table (~26M rows):
  with only the postings table, restricting it to the batch vocabulary
  (1.2M hashes) is either a ~100 MB broadcast build (OOM'd the 8 GiB
  single-JVM rehearsal at batch 6, and grows with batch size × doc
  length — not scale-safe) or an O(state) shuffle per batch (measured
  ~85 s/batch). A dead shingle stops generating hits and accumulating
  postings/df from its death batch on, so state stays bounded
  (≤ max_df posting rows per live shingle). The batch operator excludes
  capped shingles globally, so a pair whose pre-death hits already
  crossed ``min_hits`` is an EXTRA the stream emitted and batch would
  not — the same superset-of-batch SET contract every LSH stream here
  documents, same consumer guidance (verification downstream prunes it).
- ``post``    (h, did): the inverted index as EXPLODED FACT ROWS — one
  row per posting of a live-at-arrival shingle. Consumed
  PROBE-RESTRICTED only (the hit join needs postings of the batch's
  ≤ docs×probe_k probe hashes — a few-MB broadcast semi-join prunes the
  chain scan with no shuffle); dead shingles' rows drop at their
  residue's fold.
- ``probe``   (h, pid): which docs probe with h, again as fact rows.
  Probing docs contain h, so this is a subset of the posting rows —
  bounded by the same cap; dead shingles' probe rows drop at the fold.
- ``pairs``   (id_a, id_b, hs, emitted): per-pair distinct hit shingles
  (≤ 2·probe_k by construction) and the emitted flag. A pair's ENTIRE
  hit set materializes in the single batch where the later of its two
  docs arrives (see the exactness note below), so pair rows are
  immutable facts too — written once, never merged.

State layout (round 12): each table is a DELTA LOG of exactly-once fact
rows with periodic compaction, built on the version-dir primitives of
:mod:`~esop_spark.streaming.state_store`. Because batches carry disjoint
new documents (the counts left-anti drops redeliveries) and within-batch
shingle sets are distinct, every (h, did) posting, (h, pid) probe and
(id_a, id_b) pair appears EXACTLY ONCE across the whole log. That makes the expensive
merge layer of the round-11 layout unnecessary:

- cumulative document frequency = a plain SUM of a shingle's per-batch
  counts over the vocab-grain shmeta chain (no explode + collect_set of
  posting arrays per batch, which profiled as the dominant per-batch
  chain cost in the r11 layout);
- hit generation joins the probe/posting FACT ROWS directly (the r11
  layout aggregated rows → arrays → re-exploded them into the same
  join);
- the periodic fold is a FILTER + REWRITE (drop dead shingles' rows,
  relocate deltas into the base) with no groupBy at all — the r11 fold
  explode+collect_set over total state measured 66–103 s peaks at the
  sf10 50-batch replay.

Exactness of the single-batch pair argument (why no per-batch pairs
chain read is needed): a hit (x, y, h) requires one side to arrive in
the current batch (all three join legs involve a batch-side relation),
probe sets are fixed at arrival, posting lists only gain docs, and
liveness only moves live → dead. So every hit of pair (a, b) is
generated exactly in the batch where the later doc arrives — a pair can
never gain hits in two different batches, prior pair state can never
change an emission decision, and the emitted flag is decided once. The
pairs table is still maintained (external read surface + replay
bookkeeping); it is just never re-read inside the hot loop.

Current state of a key = an aggregation over the chain (union of the
visible bases and subsequent deltas), exposed via
:func:`read_containment_state` for consumers and tests. Per-batch reads
restrict the chain to keys the batch touched (left-semi prune first).

Compaction is a ROTATING PER-HASH-PARTITION FOLD (round 12, r11 verdict
item #1): the key space is split into ``compact_every`` residue classes
(``pmod(key, period)``), and EVERY batch folds exactly one residue —
``batch_id % period`` — writing that slice's merged fact rows as
``base/v=<batch_id>`` (the residue is recoverable from the version
number alone, so no extra bookkeeping state exists). Fold input is the
residue's previous base (≈ state/period rows) plus its slice of the
open delta window — never O(total state): the r11 layout's full fold
measured 66–103 s peaks on the sf10 50-batch replay; here the same
work is spread as a small per-batch slice. A delta version is pruned
once EVERY residue's newest base is at or above it (≈ one rotation
period, the same read-amplification window as the old every-N fold);
dead shingles' posting/probe rows drop out at their residue's fold —
bounded state. Untouched keys are never re-read or rewritten: an
untouched pair cannot newly cross ``min_hits`` (its hit set and its
docs' shingle counts are immutable), so touched-key evaluation is
exact, not an approximation.

Over a full replay every (probe-shingle of x) × (y contains it)
combination is generated exactly once — when the later of the two
arrives — so the accumulated per-pair hit set equals the batch
operator's and the emitted pair set equals ``containment_candidates``
whenever no shingle dies mid-stream (exact-parity tested; the capped
corpus gets the superset/bounded-state test). Verification (exact
containment on shingles) stays a batch job over the emitted pair log,
the same candidates-then-verify split as every twin here.

Exactly-once follows the compacted LSH streams of ``dedup_stream``: pair
output overwrites ``pairs_dir/batch=<id>``, per-table delta and base dirs
overwrite ``.../v=<id>``, and the compaction decision counts only
versions strictly below the replayed batch — all idempotent under
crash replay; Hadoop FileSystem I/O (file:/hdfs:/s3a:).
"""

from __future__ import annotations

import json
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from esop_spark.operators.dedup import doc_shingle_counts, shingles
from esop_spark.streaming.state_store import (
    EMPTY_IDS,
    delete_version,
    hadoop_fs,
    read_versioned,
    start_foreach_batch,
    state_versions,
)

_SCHEMAS = {
    "counts": "did long, n_sh int",
    "shmeta": "h long, bn int, dead int",
    "post": "h long, did long",
    "probe": "h long, pid long",
    "pairs": "id_a long, id_b long, hs array<bigint>, emitted int",
}

# rotation key of each table: the column whose hash-residue (mod the
# rotation period) decides which base slice a row folds into. post/probe/
# shmeta rotate on the shingle hash, pairs on id_a, counts on the doc id —
# any deterministic per-row key works; the residue only has to be
# computable identically at fold time and at read time.
_ROT_KEY = {
    "counts": "did",
    "shmeta": "h",
    "post": "h",
    "probe": "h",
    "pairs": "id_a",
}


# The rotation period decides which residue each base version holds, so
# state written under one period is unreadable under another — and the
# retention pass would delete bases it wrongly believes superseded. The
# period is therefore persisted next to the state tables on the first
# batch and checked wherever the state is opened.
_META_FILE = "_containment_meta.json"


def _period(compact_every: int) -> int:
    return max(1, int(compact_every))


def _check_period(spark, state_dir: str, period: int, record: bool = False):
    """Raise ``ValueError`` if ``state_dir`` was written with another
    rotation period; with ``record``, persist ``period`` when the state
    has no metadata file yet (first batch of a fresh state)."""
    fs, path = hadoop_fs(spark, f"{state_dir}/{_META_FILE}")
    if fs.exists(path):
        stream = fs.open(path)
        try:
            meta = json.loads(
                spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
            )
        finally:
            stream.close()
        if meta["compact_every"] != period:
            raise ValueError(
                f"containment state at {state_dir} was written with "
                f"compact_every={meta['compact_every']}, not {period}; the "
                "rotation period cannot change over existing state"
            )
    elif record:
        out = fs.create(path, False)
        try:
            out.write(bytearray(json.dumps({"compact_every": period}).encode()))
        finally:
            out.close()


def _rotating_versions(spark, root: str, batch_id: int, period: int):
    """Version bookkeeping for the ROTATING per-hash-partition fold. Base
    dir ``base/v=<b>`` holds ONLY residue ``b % period`` of the key space
    (the batch that wrote it folded that one partition), so the residue
    is recoverable from the version number alone. Returns
    ``(vmap, floor, deltas)``: ``vmap[r]`` = newest base version < batch_id
    with v % period == r (None before that residue's first fold);
    ``floor`` = min over residues of that map (−1 while any residue is
    unfolded); ``deltas`` = every delta version in (floor, batch_id) — a
    version at or below EVERY residue's floor is fully folded and
    prunable, anything above it may still carry some residue's live
    rows (the per-row filter in :func:`_chain` decides)."""
    base_vs = [
        v for v in state_versions(spark, f"{root}/base") if v < batch_id
    ]
    vmap = {
        r: max((v for v in base_vs if v % period == r), default=None)
        for r in range(period)
    }
    floor = min((-1 if v is None else v) for v in vmap.values())
    deltas = [
        v
        for v in state_versions(spark, f"{root}/delta")
        if floor < v < batch_id
    ]
    return vmap, floor, deltas


def _residue_floor(key: str, vmap: dict[int, int | None], period: int):
    """Per-row fold floor: the newest base version covering this row's
    residue class (−1 if its residue never folded). A delta row is live
    iff its version is above this."""
    res = F.pmod(F.col(key), F.lit(period))
    out = F.lit(-1).cast("long")
    for r, v in vmap.items():
        if v is not None:
            out = F.when(res == F.lit(r), F.lit(v).cast("long")).otherwise(out)
    return out


def _chain(spark, state_dir: str, table: str, vmap, deltas, period: int):
    """Exactly-once fact-row history of one state table under the
    rotating layout: the newest base per residue (each holds only its own
    residue's rows) plus every delta row whose version is above its
    residue's fold floor. No row is ever represented twice, so algebraic
    aggregations (row counts as document frequency) stay exact."""
    root = f"{state_dir}/{table}"
    schema = _SCHEMAS[table]
    bases = sorted(v for v in vmap.values() if v is not None)
    base_df = read_versioned(spark, f"{root}/base", bases, schema).drop("_v")
    delta_df = read_versioned(spark, f"{root}/delta", deltas, schema)
    key = _ROT_KEY[table]
    live = delta_df.filter(
        F.col("_v") > _residue_floor(key, vmap, period)
    ).drop("_v")
    return base_df.unionByName(live)


def _fold_input(
    spark, state_dir: str, table: str, vmap, deltas, period: int,
    fold_r: int, batch_rows: DataFrame,
) -> DataFrame:
    """Every row of residue ``fold_r`` of one state table once this
    batch's ``batch_rows`` land — the input of that residue's base
    rewrite. Reads ONE base: ``base/v=b`` holds only residue
    ``b % period``, so ``vmap[fold_r]`` is read whole and no other base
    can hold a row of this residue; only deltas above it can carry live
    rows of the residue, and those (with the batch rows) are
    residue-filtered. O(state/period), never O(total state)."""
    root = f"{state_dir}/{table}"
    schema = _SCHEMAS[table]
    base_v = vmap[fold_r]
    floor = -1 if base_v is None else base_v
    base = read_versioned(
        spark, f"{root}/base", [] if base_v is None else [base_v], schema
    )
    live = read_versioned(
        spark, f"{root}/delta", [v for v in deltas if v > floor], schema
    )
    res = F.pmod(F.col(_ROT_KEY[table]), F.lit(period)) == F.lit(fold_r)
    return base.drop("_v").unionByName(
        live.drop("_v").unionByName(batch_rows).filter(res)
    )


def _retain_rotating(spark, root: str, vmap, floor: int, period: int):
    """Retention after a batch commit under the rotating fold. Safe
    against a crash-replay of THIS batch, which re-reads ``vmap``'s bases
    and the deltas above ``floor``: bases strictly below their residue's
    newest visible base are unreachable (even a replay starts from
    vmap[r]); deltas at or below ``floor`` are folded into every
    residue's visible base. The base just written by this batch is never
    touched (it is above everything in ``vmap``)."""
    for v in state_versions(spark, f"{root}/base"):
        newest = vmap.get(v % period)
        if newest is not None and v < newest:
            delete_version(spark, f"{root}/base", v)
    for v in state_versions(spark, f"{root}/delta"):
        if v <= floor:
            delete_version(spark, f"{root}/delta", v)


def _bottom_k_probes(sh_hashed: DataFrame, k: int) -> DataFrame:
    """Per-doc bottom-k shingle hashes — identical rule to the batch
    operator (row_number over hash order per doc; doc-bounded groups)."""
    w_doc = Window.partitionBy("did").orderBy("h")
    return (
        sh_hashed.withColumn("_rn", F.row_number().over(w_doc))
        .filter(F.col("_rn") <= k)
        .select("did", "h")
    )


def _merged_post(hist: DataFrame, dead: DataFrame) -> DataFrame:
    """Merged inverted-index view of a post fact history (array shape for
    the external read surface): distinct posting union per live shingle,
    plus one (h, [], 1) row per dead shingle from the vocab-grain shmeta
    table (where death is latched — posting rows carry no flag)."""
    live = (
        hist.join(dead, "h", "left_anti")
        .groupBy("h")
        .agg(F.sort_array(F.collect_set("did")).alias("dids"))
        .select("h", "dids", F.lit(0).alias("dead"))
    )
    return live.unionByName(
        dead.select("h", F.expr(EMPTY_IDS).alias("dids"), F.lit(1).alias("dead"))
    )


def _merged_pairs(hist: DataFrame) -> DataFrame:
    return (
        hist.select("id_a", "id_b", F.explode_outer("hs").alias("hh"), "emitted")
        .groupBy("id_a", "id_b")
        .agg(
            F.sort_array(F.array_compact(F.collect_set("hh"))).alias("hs"),
            F.max("emitted").alias("emitted"),
        )
    )


def read_containment_state(
    spark, state_dir: str, table: str, compact_every: int = 10
) -> DataFrame:
    """Reconstruct the CURRENT merged value of one of the five containment
    state tables (counts/shmeta/post/probe/pairs) — the external read surface
    for consumers and tests, presenting the same array-shaped views as
    rounds 10–11; equals what the next batch would see (probe rows of
    dead shingles excluded, as the fold does). ``compact_every`` must
    match the running query's setting — it is the rotation period that
    maps base versions to key residues — and a mismatch with the period
    recorded in ``state_dir`` raises ``ValueError``."""
    period = _period(compact_every)
    _check_period(spark, state_dir, period)

    def chain(t: str) -> DataFrame:
        vmap, _, deltas = _rotating_versions(
            spark, f"{state_dir}/{t}", 1 << 62, period
        )
        return _chain(spark, state_dir, t, vmap, deltas, period)

    hist = chain(table)
    if table == "counts":  # append-only fact rows, one per seen doc
        return hist
    if table == "shmeta":  # algebraic: cumulative df + latched death
        return hist.groupBy("h").agg(
            F.sum("bn").cast("int").alias("bn"), F.max("dead").alias("dead")
        )
    if table in ("post", "probe"):
        dead = (
            chain("shmeta")
            .filter(F.col("dead") == 1)
            .select("h")
            .distinct()
        )
        if table == "post":
            return _merged_post(hist, dead)
        return (
            hist.join(dead, "h", "left_anti")
            .groupBy("h")
            .agg(F.sort_array(F.collect_set("pid")).alias("pids"))
        )
    return _merged_pairs(hist)


def _containment_fn_factory(
    pairs_dir: str,
    state_dir: str,
    n: int,
    probe_k: int,
    min_hits: int,
    max_df: int,
    text_col: str,
    id_col: str,
    compact_every: int = 10,
    files_per_version: int = 8,
):
    period = _period(compact_every)
    # every state write coalesces to this many files. Inside foreachBatch
    # AQE is unavailable (Spark disables it for streaming plans), so each
    # shuffle keeps the session's full partition count and an uncoalesced
    # version write emits that many near-empty files (measured: 280 files
    # in one sf10 base version, 2589 across one table's deltas) — the
    # chain reads then pay one scheduled task per tiny file, which grew
    # per-batch cost 29 → 109 s over 16 sf10 batches. Deltas/base slices
    # are ~10-60 MB here; sized for §6's file-size guidance, raise for
    # bigger deployments.
    files = max(1, int(files_per_version))

    def fn(batch_docs: DataFrame, batch_id: int) -> None:
        spark = batch_docs.sparkSession
        _check_period(spark, state_dir, period, record=True)
        # estimate-driven auto-broadcast is OFF for this batch (restored
        # in the finally): every join in this function either carries an
        # explicit broadcast hint on a batch-bounded side or must shuffle
        # — the planner's size estimates over the rotating multi-base
        # chain are unreliable and once flipped a state-sized relation to
        # broadcast (deterministic OOM at sf10 batch 7)
        _thr = "spark.sql.autoBroadcastJoinThreshold"
        prev_thr = spark.conf.get(_thr)
        spark.conf.set(_thr, "-1")
        try:
            _fn_inner(spark, batch_docs, batch_id)
        finally:
            spark.conf.set(_thr, prev_thr)

    def _fn_inner(spark, batch_docs: DataFrame, batch_id: int) -> None:
        # shared version bookkeeping: all five tables commit together, so
        # the counts table's version dirs are authoritative (a crashed
        # partial write sits at v=batch_id, which reads exclude)
        vmap, floor, deltas = _rotating_versions(
            spark, f"{state_dir}/counts", batch_id, period
        )

        def hist(table: str) -> DataFrame:
            return _chain(spark, state_dir, table, vmap, deltas, period)

        counts_prev = hist("counts")  # append-only: plain union

        # ---- batch projections (docs already seen are dropped whole) ----
        # persisted: the write actions below consume this batch several
        # times; an unpersisted chain would re-run the shingle projection
        # and re-scan the counts chain per action
        docs = (
            batch_docs.dropDuplicates([id_col])
            .join(
                counts_prev.select(F.col("did").alias(id_col)),
                id_col,
                "left_anti",
            )
            .persist()
        )
        sh = (
            shingles(docs, n, text_col, id_col)
            .select(
                F.col(id_col).alias("did"),
                F.xxhash64("shingle").alias("h"),
            )
            .distinct()
            .persist()
        )
        counts_b = doc_shingle_counts(docs, n, text_col, id_col).select(
            F.col(id_col).alias("did"), F.col("n_sh").cast("int").alias("n_sh")
        )
        probes_b = _bottom_k_probes(sh, probe_k).persist()
        meta = None
        sh_live = None
        counts_all = None
        crossed = None
        try:
            # df/dead merge is ALGEBRAIC over the VOCAB-GRAIN shmeta
            # table (one (h, bn, dead-event) row per batch-touched
            # shingle): cumulative df = Σ bn over the chain, death is a
            # latched max. The postings table never enters this decision
            # — an earlier shape semi-joined the 26M-row posting chain
            # against the 1.2M-hash batch vocabulary every batch, which
            # is either a ~100 MB broadcast build (OOM'd the 8 GiB
            # single-JVM rehearsal, and grows with batch size) or an
            # O(state) shuffle (~85 s/batch measured); the shmeta chain
            # is vocab-sized, an order of magnitude smaller.
            prior_meta = hist("shmeta").groupBy("h").agg(
                F.sum("bn").alias("pn"),
                F.max("dead").alias("pdead"),
            )
            meta = (
                sh.groupBy("h")
                .agg(F.count(F.lit(1)).cast("int").alias("bn"))
                .join(prior_meta, "h", "left")
                .select(
                    "h",
                    "bn",
                    (
                        (F.coalesce("pdead", F.lit(0)) == 1)
                        | (
                            F.coalesce("pn", F.lit(0)) + F.col("bn")
                            > max_df
                        )
                    )
                    .cast("int")
                    .alias("dead"),
                    F.coalesce("pdead", F.lit(0)).alias("pdead"),
                )
                .persist()
            )
            live = meta.filter(F.col("dead") == 0).select("h")
            # hits flow only through shingles still LIVE after this merge,
            # joining the fact rows directly — no aggregate/re-explode
            sh_live = sh.join(live, "h", "left_semi").persist()
            # prior postings are consumed PROBE-RESTRICTED only: the hit
            # join needs postings of this batch's ≤ docs×probe_k probe
            # hashes, a genuinely batch-row-bounded set (a few-MB
            # broadcast), so the posting chain is scan-pruned without a
            # shuffle and without any vocab-sized broadcast
            probe_h = probes_b.select("h").distinct()
            post_prior_rows = (
                hist("post")
                .join(F.broadcast(probe_h), "h", "left_semi")
                .join(live, "h", "left_semi")
                .select("h", F.col("did").alias("iid"))
            )
            post_all_t = post_prior_rows.unionByName(
                sh_live.select("h", F.col("did").alias("iid"))
            )
            post_new_t = sh_live.select("h", F.col("did").alias("iid"))
            probe_prev_rows = (
                hist("probe")
                .join(live, "h", "left_semi")
                .select("h", F.col("pid"))
            )
            # join strategies are pinned scale-safely (guide §3.1): the
            # session's size-estimate-driven auto-broadcast is disabled
            # for the batch's duration (at sf10 the planner's estimates
            # over the multi-base rotating chain flipped a state-sized
            # relation to broadcast and OOM'd the build — deterministic
            # at batch 7), and explicit hints go only on the
            # batch-row-bounded sides; state- and vocab-shaped relations
            # always shuffle
            hits_b = (
                F.broadcast(probes_b.selectExpr("h", "did AS pid"))
                .join(post_all_t, "h")
                .unionByName(probe_prev_rows.join(post_new_t, "h"))
                .filter(F.col("pid") != F.col("iid"))
                .select(
                    F.least("pid", "iid").alias("id_a"),
                    F.greatest("pid", "iid").alias("id_b"),
                    "h",
                )
                .distinct()
            )
            pair_b = hits_b.groupBy("id_a", "id_b").agg(
                F.sort_array(F.collect_set("h")).alias("hs")
            )
            counts_all = counts_prev.unionByName(counts_b).persist()
            na = counts_all.select(
                F.col("did").alias("id_a"), F.col("n_sh").alias("_na")
            )
            nb = counts_all.select(
                F.col("did").alias("id_b"), F.col("n_sh").alias("_nb")
            )
            # a pair's ENTIRE hit set lands in this batch (module
            # docstring: every hit needs a batch-side doc and the later
            # doc arrives exactly once), so no prior-pairs chain read —
            # the emission decision is complete from pair_b alone
            crossed = F.broadcast(pair_b).join(na, "id_a").hint(
                "shuffle_hash"
            ).join(nb, "id_b").select(
                "id_a",
                "id_b",
                "hs",
                (
                    F.size("hs")
                    >= F.least(F.lit(min_hits), F.col("_na"), F.col("_nb"))
                )
                .cast("int")
                .alias("crossed"),
            ).persist()
            # the pair-output write runs FIRST and alone: it materializes
            # every persisted relation above exactly once (its subtree
            # touches all of them), so the delta writes below read only
            # cached blocks
            crossed.filter(F.col("crossed") == 1).select(
                "id_a", "id_b"
            ).coalesce(files).write.mode("overwrite").parquet(
                f"{pairs_dir}/batch={batch_id}"
            )
            # ---- per-table fact-row deltas: this batch's new facts ----
            # a shingle dead by this batch stops accumulating postings
            # and df (its pn freezes at death, as in the batch operator);
            # its death is recorded ONCE (the transition batch) as a
            # vocab-grain shmeta event row — posting rows carry no flag
            post_delta = sh_live.select("h", "did")
            shmeta_delta = meta.filter(F.col("dead") == 0).select(
                "h", "bn", F.lit(0).alias("dead")
            ).unionByName(
                meta.filter(
                    (F.col("dead") == 1) & (F.col("pdead") == 0)
                ).select(
                    "h",
                    F.lit(0).cast("int").alias("bn"),
                    F.lit(1).alias("dead"),
                )
            )
            probe_delta = probes_b.join(live, "h", "left_semi").select(
                "h", F.col("did").alias("pid")
            )
            pairs_delta = crossed.select(
                "id_a",
                "id_b",
                "hs",
                F.col("crossed").alias("emitted"),
            )
            # the five delta writes are independent jobs over cached
            # inputs: submit them concurrently (guide §2.6 — actions are
            # only sequential because driver code calls them sequentially;
            # in local mode each write's scheduling overhead dominates a
            # 31k-doc batch, so overlapping them collapses the per-batch
            # floor). Overwrites are idempotent and order-free: a crash
            # mid-batch replays the whole batch, which rewrites all dirs.
            delta_writes = [
                (counts_b, f"{state_dir}/counts/delta/v={batch_id}"),
                (shmeta_delta, f"{state_dir}/shmeta/delta/v={batch_id}"),
                (post_delta, f"{state_dir}/post/delta/v={batch_id}"),
                (probe_delta, f"{state_dir}/probe/delta/v={batch_id}"),
                (pairs_delta, f"{state_dir}/pairs/delta/v={batch_id}"),
            ]
            with ThreadPoolExecutor(max_workers=5) as pool:
                list(
                    pool.map(
                        lambda dw: dw[0]
                        .coalesce(files)
                        .write.mode("overwrite")
                        .parquet(dw[1]),
                        delta_writes,
                    )
                )
            # the fold consumes only the deltas (cached via sh_live/meta/
            # probes_b/crossed/counts_all) plus fresh chain scans — the
            # batch's biggest caches are dead weight past this point;
            # releasing them here measurably matters in a single-JVM
            # deployment (the 8 GiB sf10 replay OOM'd in the fold with
            # them still resident)
            sh.unpersist()
            docs.unpersist()
            # ---- ROTATING per-hash-partition fold (every batch folds
            # exactly ONE residue class of the key space — fold input is
            # O(state/period) + this window's delta rows, never O(total
            # state), so the r11 layout's 66–103 s every-10-batches fold
            # peak becomes a small per-batch slice. The residue is
            # batch_id % period, deterministic under crash replay; fact
            # rows are exactly-once, so the fold is a pure FILTER +
            # RELOCATE: drop dead shingles' rows, rewrite the residue's
            # rest as the new base — no groupBy over state ----
            fold_r = batch_id % period

            def fold_input(table: str, batch_rows: DataFrame) -> DataFrame:
                return _fold_input(
                    spark, state_dir, table, vmap, deltas, period, fold_r,
                    batch_rows,
                )

            shmeta_full_r = fold_input("shmeta", shmeta_delta).persist()
            # persisted: the post AND probe base rewrites both anti-join
            # this residue's dead set
            dead_r = (
                shmeta_full_r.filter(F.col("dead") == 1)
                .select("h")
                .distinct()
                .persist()
            )
            dead_r.count()  # materialize before concurrent readers
            try:
                # dead shingles' posting/probe rows fold away — bounded
                # state; the shmeta fold is the one algebraic merge (sum
                # df, latch death — vocab-grain, the smallest table);
                # pair rows are exactly-once facts: relocation, no merge.
                # The five base rewrites are independent
                # scan→filter→write jobs: overlap them (guide §2.6)
                post_base = fold_input("post", post_delta).join(
                    dead_r, "h", "left_anti"
                )
                shmeta_base = shmeta_full_r.groupBy("h").agg(
                    F.sum("bn").cast("int").alias("bn"),
                    F.max("dead").alias("dead"),
                )
                probe_base = fold_input("probe", probe_delta).join(
                    dead_r, "h", "left_anti"
                )
                pairs_base = fold_input("pairs", pairs_delta)
                # counts_all (cached) already holds every counts row
                counts_base = counts_all.filter(
                    F.pmod(F.col("did"), F.lit(period)) == F.lit(fold_r)
                )
                base_writes = [
                    (counts_base,
                     f"{state_dir}/counts/base/v={batch_id}"),
                    (shmeta_base,
                     f"{state_dir}/shmeta/base/v={batch_id}"),
                    (post_base, f"{state_dir}/post/base/v={batch_id}"),
                    (probe_base,
                     f"{state_dir}/probe/base/v={batch_id}"),
                    (pairs_base,
                     f"{state_dir}/pairs/base/v={batch_id}"),
                ]
                # two at a time: the fold rewrites scan residue-sized
                # chains, and wider concurrency on top of the batch's
                # persisted relations measurably exhausted the single-JVM
                # heap at sf10 (broadcast-build OOM at batch 7)
                with ThreadPoolExecutor(max_workers=2) as pool:
                    list(
                        pool.map(
                            lambda dw: dw[0]
                            .coalesce(files)
                            .write.mode("overwrite")
                            .parquet(dw[1]),
                            base_writes,
                        )
                    )
            finally:
                dead_r.unpersist()
                shmeta_full_r.unpersist()
        finally:
            for df in (crossed, counts_all, sh_live, meta,
                       probes_b, sh, docs):
                if df is not None:
                    df.unpersist()
        for table in _SCHEMAS:
            _retain_rotating(
                spark, f"{state_dir}/{table}", vmap, floor, period
            )

    return fn


def containment_compacted_query(
    documents: DataFrame,
    pairs_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    n: int = 3,
    probe_k: int = 8,
    min_hits: int = 2,
    max_df: int = 10_000,
    text_col: str = "text",
    id_col: str = "doc_id",
    processing_time: str | None = None,
    compact_every: int = 10,
    files_per_version: int = 8,
):
    """Start the streaming containment candidate query over a document
    stream. Emits each candidate pair (id_a, id_b) exactly once, into
    ``pairs_dir/batch=<id>``; a full replay's pair set equals the batch
    :func:`~esop_spark.operators.dedup.containment_candidates` whenever
    no shingle's cumulative df crosses ``max_df`` mid-stream (else the
    documented superset SET contract). State tables can be read back with
    :func:`read_containment_state` (pass the same ``compact_every``);
    ``compact_every`` is the fold-rotation period — the
    read-amplification / write-amplification dial (1 ≡ full rewrite
    every batch). It is recorded in ``state_dir`` on the first batch; a
    restart with a different period raises ``ValueError`` before any
    batch runs, leaving the state untouched. Returns the started query."""
    _check_period(documents.sparkSession, state_dir, _period(compact_every))
    fn = _containment_fn_factory(
        pairs_dir, state_dir, n, probe_k, int(min_hits), int(max_df),
        text_col, id_col, int(compact_every), int(files_per_version),
    )
    return start_foreach_batch(documents, fn, checkpoint_dir, processing_time)
