"""Streaming LSH near-duplicate candidate detection: online dedup of an
incoming stream against everything seen so far, one compacted
foreachBatch query per banded family (MinHash, weighted MinHash, SimHash,
embedding).

The batch banding is recomputed stream-side as pure projections — per-row
signature via ``with_minhash_signature`` and its siblings (bit-identical
to the batch aggregations) and the same band-bucket hash — so a replayed
corpus lands in the SAME buckets the batch job would build. Bucket state
is keyed by (band, bucket): the bucket's member-id list, capped at
``max_bucket`` with the batch operator's star-pairing degradation: once a
bucket goes hot, new members emit only their anchor edge (O(1) per
arrival, cluster connectivity preserved for downstream
connected-components), and the state collapses to the anchor alone —
bounded forever after, no matter how much boilerplate the crawl keeps
sending.

Candidate pairs are exactly that — candidates. Verification (exact Jaccard
on shingles, Hamming radius, exact cosine) stays a batch job over the
emitted pair log, the same split the batch pipeline uses.

**Pair-log contract — consumers must treat it as a SET** (``distinct()``
before any per-pair counting). Two caveats make the raw log a superset of
the batch pair set for oversized buckets: (1) a bucket that crosses
``max_bucket`` mid-stream has already emitted its pre-cap pairwise edges
and then emits star edges; (2) after hot-collapse the state keeps only
the anchor, so a document re-delivered later (source replays,
at-least-once upstreams) re-emits its anchor edge. Both extras are edges
WITHIN the bucket's connected component, so the intended consumer —
connected-components clustering — is unaffected even without dedup; only
pair-count statistics need the distinct().
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from esop_spark.operators.dedup import (
    _band_buckets,
    simhash_chunks,
    with_minhash_signature,
    with_simhash_signature,
    with_weighted_minhash_signature,
)
from esop_spark.plans.barriers import pin_projection_barrier
from esop_spark.streaming.state_store import (
    EMPTY_IDS,
    delete_version,
    latest_per_key,
    read_versioned,
    start_foreach_batch,
    state_versions,
)

LSH_DELTA = "band int, news array<bigint>, olds array<bigint>, star int"


def _expand_delta_pairs(delta: DataFrame) -> DataFrame:
    """JVM-side pair expansion of the per-bucket delta rows
    (``LSH_DELTA``: this batch's new members, the bucket's prior members,
    and the star flag):

    - star = 0 (bucket under the cap): all within-``news`` pairs (a < b;
      ``news`` is sorted-distinct) plus every news × olds cross pair
      (min, max) — the batch pairwise contract.
    - star = 1 (hot bucket): anchor = min(news ∪ olds); one (anchor, m)
      edge per non-anchor arrival, plus — when the anchor is itself a new
      arrival smaller than every old member — one bridge edge to the old
      component's min. O(B) edges, connectivity preserved.

    One explode, whole-stage codegen, no Python in the pair loop.

    The anchor/min values are materialized ONCE per row and pinned behind
    a Generate barrier (plans.barriers) before the lambdas consume them:
    an expression referenced inside an element lambda is re-evaluated PER
    ELEMENT, so an inlined ``array_min(news)`` anchor turns a 25k-member
    hot bucket's star expansion into 625M array scans per delta row —
    measured 9 s → 124 s on the sf10 embedding stream drain. With the pin
    the lambdas see O(1) column references."""
    delta = pin_projection_barrier(
        delta,
        F.struct(
            F.array_min("news").alias("nm"), F.array_min("olds").alias("om")
        ),
        "mins",
        "band", "news", "olds", "star",
    )
    new_min, old_min = F.col("mins.nm"), F.col("mins.om")
    anchor = F.least(new_min, old_min)

    def edge(a, b):
        return F.struct(a.alias("a"), b.alias("b"))

    star_edges = F.concat(
        F.transform(
            F.filter("news", lambda m: m != anchor), lambda m: edge(anchor, m)
        ),
        # bridge: the condition is row-level; filter() keeps or drops the
        # one prebuilt element (old_min is NULL when olds is empty, but
        # that element is dropped before it surfaces)
        F.filter(
            F.array(edge(anchor, old_min)),
            lambda _: (F.size("olds") > 0) & (new_min < old_min),
        ),
    )
    pair_edges = F.flatten(
        F.transform(
            "news",
            lambda a: F.concat(
                F.transform(
                    F.filter("news", lambda b: b > a), lambda b: edge(a, b)
                ),
                F.transform(
                    "olds", lambda b: edge(F.least(a, b), F.greatest(a, b))
                ),
            ),
        )
    )
    return delta.select(
        "band",
        F.explode(
            F.when(F.col("star") == 1, star_edges).otherwise(pair_edges)
        ).alias("e"),
    ).select("band", F.col("e.a").alias("id_a"), F.col("e.b").alias("id_b"))


def _bb_minhash(documents, num_hashes, bands, n, hash_family, text_col, id_col):
    """(did, band, bucket) membership projection for the MinHash family;
    each ``_bb_*`` builder gives its family's relation in this shape."""
    sig = with_minhash_signature(
        documents, num_hashes, n, text_col, id_col, hash_family
    )
    return _band_buckets(sig, num_hashes, bands, hash_family, id_col).select(
        F.col(id_col).alias("did"), "band", "bucket"
    )


def _bb_weighted_minhash(
    documents, num_hashes, bands, tf_cap, hash_family, text_col, id_col
):
    sig = with_weighted_minhash_signature(
        documents, num_hashes, tf_cap, text_col, id_col, hash_family
    )
    return _band_buckets(sig, num_hashes, bands, hash_family, id_col).select(
        F.col(id_col).alias("did"), "band", "bucket"
    )


def _bb_simhash(documents, num_bits, chunks, hash_family, text_col, id_col):
    sig = with_simhash_signature(
        documents, num_bits, text_col, id_col, hash_family
    )
    return simhash_chunks(sig, num_bits, chunks, id_col).select(
        F.col(id_col).alias("did"),
        F.col("chunk_idx").alias("band"),
        F.col("chunk_val").cast("string").alias("bucket"),
    )


def _bb_embedding(embeddings, bands, band_planes, dim, seed, vec_col, id_col):
    from esop_spark.operators.similarity import banded_semantic_buckets

    return banded_semantic_buckets(
        embeddings, bands, band_planes, dim, seed, vec_col, id_col
    ).select(
        F.col(id_col).alias("did"),
        "band",
        # the other three families' buckets are strings (hash digests);
        # normalize so one state-table schema serves all four (the cast
        # is injective — group-key semantics unchanged)
        F.col("bucket").cast("string").alias("bucket"),
    )


# --- Compacted bucket state: no Python state function ------------------
#
# Bucket membership lives in a COMPACTED state table — one row per
# (band, bucket): (ids array ≤ max_bucket, hot flag) — maintained by a
# foreachBatch function as plain JVM DataFrame ops; each batch's
# (news, olds, star) delta rows feed :func:`_expand_delta_pairs`. No
# Python runs per key: deep-banded signatures make keys proliferate (the
# weighted family's 20 bands touch ~9M mostly-singleton keys per sf10
# replay), and a per-key Python/Arrow round-trip (~50 µs) cost ~450 s of
# a 516.8 s drain (SCALE.md round-9 stream table).
#
# State layout (round 11): a DELTA LOG with periodic compaction, so
# per-batch WRITE cost is O(changed keys), not O(buckets-seen) — the
# merge-on-read design Delta/Iceberg MERGE implements, built from the
# version-dir primitives in :mod:`~esop_spark.streaming.state_store`:
#
#   state_dir/delta/v=<b>  — the keys batch b CHANGED, post-batch values
#   state_dir/base/v=<B>   — full fold of everything ≤ B, written every
#                            ``compact_every`` batches
#
# Current state of a key = the row with the largest version among the
# newest base and the deltas after it (``max_by`` per key). The per-batch
# read reconstructs that ONLY for keys the batch touched (left-semi prune
# before the merge), so per-batch cost is O(batch + touched keys) plus a
# column-pruned scan of base+deltas (read-only, no write amplification)
# and an O(state)/compact_every amortized fold. Round-10's full-snapshot
# rewrite paid the fold EVERY batch — the one scale-shaped cost the r10
# verdict flagged; SCALE.md's incremental table shows the per-batch curve
# flat under this layout where the old one grew linearly.
#
# Exactly-once: outputs are keyed by batch_id — pairs overwrite
# ``pairs_dir/batch=<id>``, delta and base dirs overwrite
# ``.../v=<batch_id>`` — so a crash-replayed batch (foreachBatch
# redelivers the same epoch) rewrites all three idempotently; the
# compaction decision depends only on version dirs STRICTLY BELOW the
# replayed batch, so it replays identically. Retention keeps the two
# newest bases and every delta after the older of the two — exactly what
# a replay of the newest batch can read.

STATE_SCHEMA = "band int, bucket string, ids array<bigint>, hot int"


def _live_versions(spark, state_dir: str, batch_id: int):
    """(base_v, deltas) visible to ``batch_id``: the newest base strictly
    below it and every delta between that base and the batch."""
    base_vs = state_versions(spark, f"{state_dir}/base")
    delta_vs = state_versions(spark, f"{state_dir}/delta")
    base_v = max((v for v in base_vs if v < batch_id), default=None)
    floor = -1 if base_v is None else base_v
    deltas = [v for v in delta_vs if floor < v < batch_id]
    return base_v, deltas


def _state_history(spark, state_dir: str, batch_id: int):
    """Versioned history visible to ``batch_id`` (base + deltas, ``_v``
    tagged) plus the version list bookkeeping for retention."""
    base_v, deltas = _live_versions(spark, state_dir, batch_id)
    hist = read_versioned(
        spark,
        f"{state_dir}/base",
        [base_v] if base_v is not None else [],
        STATE_SCHEMA,
    ).unionByName(
        read_versioned(spark, f"{state_dir}/delta", deltas, STATE_SCHEMA)
    )
    return hist, base_v, deltas


def read_compacted_state(spark, state_dir: str) -> DataFrame:
    """Reconstruct the CURRENT compacted state table (latest-per-key over
    the newest base and subsequent deltas) — the external read surface for
    consumers and tests; equals what the next batch would see."""
    hist, _, _ = _state_history(spark, state_dir, 1 << 62)
    return latest_per_key(hist, ["band", "bucket"])


def _retain_versions(spark, state_dir: str, base_v, deltas, compacted: bool):
    """Retention after a batch commit. A crash replays at most THIS batch,
    which reads ``base_v`` + ``deltas`` — everything older is dead:
    bases below ``base_v``, and deltas at or below ``base_v`` (they were
    folded into it when it was written)."""
    if base_v is None:
        return
    for v in state_versions(spark, f"{state_dir}/base"):
        if v < base_v:
            delete_version(spark, f"{state_dir}/base", v)
    if compacted:
        # the batch just wrote base/v=batch_id; deltas ≤ base_v are now
        # covered twice over — drop them (deltas in (base_v, batch) stay
        # until the NEXT compaction makes base_v itself obsolete)
        for v in state_versions(spark, f"{state_dir}/delta"):
            if v <= base_v:
                delete_version(spark, f"{state_dir}/delta", v)


def _compacted_fn_factory(
    pairs_dir: str, state_dir: str, max_bucket: int, compact_every: int = 10
):
    """foreachBatch function over a (did, band, bucket) membership batch:
    emit this batch's candidate pairs against the compacted state and
    write ONLY the changed keys as a new delta (plus a periodic full
    fold). Pure JVM DataFrame ops."""

    def fn(batch_bb: DataFrame, batch_id: int) -> None:
        spark = batch_bb.sparkSession
        # persisted: the semi-join prune and the left join both consume it,
        # and recomputing it would re-run the whole signature chain
        arrivals = (
            batch_bb.distinct()
            .groupBy("band", "bucket")
            .agg(F.sort_array(F.collect_set("did")).alias("batch_ids"))
        ).persist()
        hist, base_v, deltas = _state_history(spark, state_dir, batch_id)
        # current state of TOUCHED keys only: semi-join prune BEFORE the
        # latest-per-key merge, so the shuffle is O(touched × versions)
        prior = latest_per_key(
            hist.join(
                arrivals.select("band", "bucket"), ["band", "bucket"],
                "left_semi",
            ),
            ["band", "bucket"],
        )
        joined = arrivals.join(prior, ["band", "bucket"], "left")
        olds = F.coalesce(F.col("ids"), F.expr(EMPTY_IDS))
        touched = joined.select(
            "band",
            "bucket",
            F.array_except("batch_ids", olds).alias("news"),
            olds.alias("olds"),
            F.coalesce(F.col("hot"), F.lit(0)).alias("hot"),
        )
        star = (F.col("hot") == 1) | (
            F.size("olds") + F.size("news") > max_bucket
        )
        # keys with no new members keep their prior state — they are not
        # part of the delta (that is the whole point of the layout)
        changed = touched.filter(F.size("news") > 0).persist()
        try:
            delta = changed.select(
                "band", "news", "olds", star.cast("int").alias("star")
            )
            _expand_delta_pairs(delta).write.mode("overwrite").parquet(
                f"{pairs_dir}/batch={batch_id}"
            )
            anchor = F.least(F.array_min("news"), F.array_min("olds"))
            new_state = changed.select(
                "band",
                "bucket",
                F.when(star, F.array(anchor))
                .otherwise(F.sort_array(F.concat("olds", "news")))
                .alias("ids"),
                F.when(star, F.lit(1)).otherwise(F.lit(0))
                .cast("int")
                .alias("hot"),
            )
            new_state.write.mode("overwrite").parquet(
                f"{state_dir}/delta/v={batch_id}"
            )
            # periodic fold: every compact_every-th delta triggers a full
            # latest-per-key rewrite. The decision counts only versions
            # STRICTLY BELOW this batch, so a crash replay re-decides
            # identically.
            compact = len(deltas) + 1 >= compact_every
            if compact:
                fold = hist.unionByName(
                    new_state.withColumn(
                        "_v", F.lit(batch_id).cast("long")
                    )
                )
                latest_per_key(fold, ["band", "bucket"]).write.mode(
                    "overwrite"
                ).parquet(f"{state_dir}/base/v={batch_id}")
        finally:
            changed.unpersist()
            arrivals.unpersist()
        _retain_versions(spark, state_dir, base_v, deltas, compact)

    return fn


def start_compacted_candidates(
    bb: DataFrame,
    pairs_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    max_bucket: int = 100,
    processing_time: str | None = None,
    compact_every: int = 10,
):
    """Start a compacted-state candidate query over a streaming
    (did, band, bucket) membership relation (one of the ``_bb_*``
    builders). Pairs land under ``pairs_dir/batch=<id>`` —
    ``spark.read.parquet(pairs_dir)`` exposes the epoch as a ``batch``
    partition column; the module's pair-log SET contract applies to the
    union. State lives under
    ``state_dir/{base,delta}/v=<id>`` (read it back with
    :func:`read_compacted_state`); ``compact_every`` sets how many deltas
    accumulate before a full fold — the read-amplification / write-
    amplification dial. Returns the started
    :class:`~pyspark.sql.streaming.StreamingQuery` (default trigger
    availableNow; pass ``processing_time`` for a continuous micro-batch
    cadence)."""
    return start_foreach_batch(
        bb,
        _compacted_fn_factory(
            pairs_dir, state_dir, int(max_bucket), int(compact_every)
        ),
        checkpoint_dir,
        processing_time,
    )


def lsh_compacted_query(
    documents: DataFrame,
    pairs_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    hash_family: str = "xxhash64",
    max_bucket: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
    processing_time: str | None = None,
    compact_every: int = 10,
):
    """Streaming MinHash-LSH candidates over a (doc_id, text) document
    stream: emits (band, id_a, id_b) candidate pairs, id_a < id_b, as
    documents arrive (see :func:`start_compacted_candidates` for the
    output and state layout). A full replay's distinct (id_a, id_b) set
    equals the batch ``_lsh_candidates`` pair set for buckets within
    ``max_bucket`` (exact-set parity is tested); oversized buckets
    degrade to the batch operator's anchor-star connectivity contract."""
    bb = _bb_minhash(
        documents, num_hashes, bands, n, hash_family, text_col, id_col
    )
    return start_compacted_candidates(
        bb, pairs_dir, state_dir, checkpoint_dir, max_bucket,
        processing_time, compact_every,
    )


def weighted_lsh_compacted_query(
    documents: DataFrame,
    pairs_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    num_hashes: int = 200,
    bands: int = 20,
    tf_cap: int = 10,
    hash_family: str = "xxhash64",
    max_bucket: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
    processing_time: str | None = None,
    compact_every: int = 10,
):
    """Streaming WEIGHTED MinHash candidates
    (dedup.weighted_minhash_lsh_pairs): online tf-multiset near-dup with
    the per-row replicated-element signature
    ``with_weighted_minhash_signature`` (bit-identical to the batch
    chain), so a replayed corpus lands in the batch job's (band, bucket)
    keys. Its 20 deep bands touch ~9M mostly-singleton keys per sf10
    replay — the key volume the JVM-side bucket state is built for (see
    the compacted-state note above)."""
    bb = _bb_weighted_minhash(
        documents, num_hashes, bands, tf_cap, hash_family, text_col, id_col
    )
    return start_compacted_candidates(
        bb, pairs_dir, state_dir, checkpoint_dir, max_bucket,
        processing_time, compact_every,
    )


def simhash_compacted_query(
    documents: DataFrame,
    pairs_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    num_bits: int = 48,
    chunks: int = 4,
    hash_family: str = "xxhash64",
    max_bucket: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
    processing_time: str | None = None,
    compact_every: int = 10,
):
    """Streaming SimHash candidates (dedup.simhash_pairs): per-row
    signature via ``with_simhash_signature`` (bit-identical to the batch
    aggregation) and the batch operator's own pigeonhole chunking
    (``simhash_chunks``), so a replayed corpus lands in the batch
    equi-join's (chunk_idx, chunk_val) buckets. Output (band, id_a, id_b);
    band is the chunk index. The Hamming verification
    (bit_count(xor) ≤ radius) stays a batch job over the pair log."""
    bb = _bb_simhash(
        documents, num_bits, chunks, hash_family, text_col, id_col
    )
    return start_compacted_candidates(
        bb, pairs_dir, state_dir, checkpoint_dir, max_bucket,
        processing_time, compact_every,
    )


def embedding_compacted_query(
    embeddings: DataFrame,
    pairs_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    bands: int = 8,
    band_planes: int = 3,
    dim: int = 64,
    seed: str = "hp",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_bucket: int = 100,
    processing_time: str | None = None,
    compact_every: int = 10,
):
    """Streaming banded-LSH COSINE candidates
    (similarity.cosine_pairs_lsh) over an embedding stream: hyperplane
    sign patterns instead of MinHash slices, both pure per-row
    projections, so a replayed corpus lands in the batch leg's buckets.
    Exact-cosine verification stays a batch job over the pair log (join
    the ids back to the embedding table — cosine_pairs_lsh's verify
    tail)."""
    bb = _bb_embedding(
        embeddings, bands, band_planes, dim, seed, vec_col, id_col
    )
    return start_compacted_candidates(
        bb, pairs_dir, state_dir, checkpoint_dir, max_bucket,
        processing_time, compact_every,
    )
