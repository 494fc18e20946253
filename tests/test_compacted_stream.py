"""Compacted foreachBatch candidate streams (no Python state function):
pair-set parity with the batch operator, hot-bucket star degradation,
incremental arrival across restarts, and crash-replay idempotence of the
versioned state/pairs layout."""

import os

from pyspark.sql import functions as F

from esop_spark.operators.dedup import _lsh_candidates
from esop_spark.streaming.dedup_stream import (
    _compacted_fn_factory,
    lsh_compacted_query,
    weighted_lsh_compacted_query,
)

SCHEMA = "doc_id long, text string"


def _corpus(spark):
    base = " ".join(f"w{i}" for i in range(60))
    near = " ".join(f"w{i}" for i in range(59)) + " zzz"
    near2 = " ".join(f"w{i}" for i in range(58)) + " yyy xxx"
    far = " ".join(f"v{i}" for i in range(60))
    tiny = "one two"  # < n words -> no shingles -> no buckets
    return spark.createDataFrame(
        [(0, base), (1, near), (2, far), (3, near2), (4, tiny)], SCHEMA
    )


def _dirs(tmp_path):
    return (
        str(tmp_path / "src"),
        str(tmp_path / "pairs"),
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
    )


def _drain_compacted(spark, src, pairs, state, ckpt, query=lsh_compacted_query, **kw):
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = query(stream, pairs, state, ckpt, **kw)
    assert q.awaitTermination(180), "compacted stream did not terminate"
    return {
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(pairs).select("id_a", "id_b").collect()
    }


def _batch_pairs(docs, **kw):
    cands, base = _lsh_candidates(
        docs,
        num_hashes=kw.get("num_hashes", 32),
        bands=kw.get("bands", 8),
        n=kw.get("n", 3),
        text_col="text",
        id_col="doc_id",
        hash_family=kw.get("hash_family", "xxhash64"),
        max_bucket=kw.get("max_bucket", 100),
    )
    out = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    base.unpersist()
    return out


def test_compacted_replay_equals_batch_candidates(spark, tmp_path):
    docs = _corpus(spark)
    expect = _batch_pairs(docs)
    src, pairs, state, ckpt = _dirs(tmp_path)
    os.makedirs(src, exist_ok=True)
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    got = _drain_compacted(spark, src, pairs, state, ckpt)
    assert got == expect
    assert expect


def test_compacted_incremental_arrival_and_restart(spark, tmp_path):
    """Arrivals split across two runs of the SAME checkpoint: run 1 sees
    docs 0-1, the query stops (availableNow), docs 2-4 land, run 2 resumes
    from the committed state snapshot. Union of pairs == batch set."""
    docs = _corpus(spark)
    expect = _batch_pairs(docs)
    src, pairs, state, ckpt = _dirs(tmp_path)
    os.makedirs(src, exist_ok=True)
    docs.filter(F.col("doc_id") <= 1).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(src, "a"))
    glob = os.path.join(src, "*")
    got1 = _drain_compacted(spark, glob, pairs, state, ckpt)
    assert got1 <= expect
    docs.filter(F.col("doc_id") > 1).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(src, "b"))
    got2 = _drain_compacted(spark, glob, pairs, state, ckpt)
    assert got2 == expect
    # the restart ran as a new epoch: pairs exposes both as partition values
    batches = {
        r["batch"]
        for r in spark.read.parquet(pairs).select("batch").distinct().collect()
    }
    assert len(batches) == 2


def test_compacted_hot_bucket_star_and_bounded_state(spark, tmp_path):
    """Identical docs overflow every bucket at max_bucket=3: output must be
    the anchor star (connectivity, not the quadratic enumeration) and the
    state snapshot must collapse to one anchor id per bucket."""
    text = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame([(i, text) for i in range(10)], SCHEMA)
    src, pairs, state, ckpt = _dirs(tmp_path)
    os.makedirs(src, exist_ok=True)
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    got = _drain_compacted(
        spark, src, pairs, state, ckpt, max_bucket=3
    )
    assert got == {(0, i) for i in range(1, 10)}
    from esop_spark.streaming.dedup_stream import read_compacted_state

    rows = read_compacted_state(spark, state).collect()
    assert rows and all(r["hot"] == 1 and r["ids"] == [0] for r in rows)


def test_compacted_crash_replay_is_idempotent(spark, tmp_path):
    """foreachBatch's exactly-once story: re-running a batch id (as after a
    crash between the state write and the checkpoint commit) must rewrite
    pairs/batch=N and state/delta/v=N in place — same pair set, same
    delta, no duplicate accumulation."""
    docs = _corpus(spark)
    src, pairs, state, ckpt = _dirs(tmp_path)
    os.makedirs(src, exist_ok=True)
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    bb_batch = spark.read.schema(SCHEMA).parquet(src)
    from esop_spark.streaming.dedup_stream import _bb_minhash

    bb = _bb_minhash(bb_batch, 32, 8, 3, "xxhash64", "text", "doc_id")
    fn = _compacted_fn_factory(pairs, state, 100)
    fn(bb, 0)
    first = sorted(
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(pairs).select("id_a", "id_b").collect()
    )
    snap1 = sorted(
        map(tuple, spark.read.parquet(f"{state}/delta/v=0").collect())
    )
    fn(bb, 0)  # crash replay of the same epoch
    second = sorted(
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(pairs).select("id_a", "id_b").collect()
    )
    snap2 = sorted(
        map(tuple, spark.read.parquet(f"{state}/delta/v=0").collect())
    )
    assert first == second  # raw row multiset, not just the distinct set
    assert snap1 == snap2
    assert set(first) == _batch_pairs(docs)


def test_compacted_crash_replay_of_compaction_batch(spark, tmp_path):
    """A crash DURING the compaction batch (delta + base written, checkpoint
    not committed) must replay identically: same compaction decision (it
    counts only versions strictly below the batch), same base fold, same
    pair rows."""
    docs = _corpus(spark)
    src, pairs, state, ckpt = _dirs(tmp_path)
    os.makedirs(src, exist_ok=True)
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    bb_batch = spark.read.schema(SCHEMA).parquet(src)
    from esop_spark.streaming.dedup_stream import (
        _bb_minhash,
        read_compacted_state,
    )

    half_a = bb_batch.filter(F.col("doc_id") <= 1)
    half_b = bb_batch.filter(F.col("doc_id") > 1)
    fn = _compacted_fn_factory(pairs, state, 100, compact_every=2)
    fn(_bb_minhash(half_a, 32, 8, 3, "xxhash64", "text", "doc_id"), 0)
    bb_b = _bb_minhash(half_b, 32, 8, 3, "xxhash64", "text", "doc_id")
    fn(bb_b, 1)  # batch 1 compacts (2 deltas >= compact_every)
    assert os.path.isdir(f"{state}/base/v=1")
    snap1 = sorted(map(tuple, read_compacted_state(spark, state).collect()))
    pairs1 = sorted(
        map(tuple, spark.read.parquet(pairs).select("id_a", "id_b").collect())
    )
    fn(bb_b, 1)  # crash replay of the compaction epoch
    snap2 = sorted(map(tuple, read_compacted_state(spark, state).collect()))
    pairs2 = sorted(
        map(tuple, spark.read.parquet(pairs).select("id_a", "id_b").collect())
    )
    assert snap1 == snap2
    assert pairs1 == pairs2
    assert set(pairs1) == _batch_pairs(docs)


def test_compaction_folds_and_prunes(spark, tmp_path):
    """Drive enough micro-batches through a small compact_every that at
    least two folds happen: pair parity with batch holds, the current
    state equals the full-history fold, and retention has pruned
    everything a replay of the newest batch cannot need (at most two
    bases; no delta at or below the older kept base)."""
    docs = _corpus(spark)
    expect = _batch_pairs(docs)
    src, pairs, state, ckpt = _dirs(tmp_path)
    os.makedirs(src, exist_ok=True)
    # five files -> five micro-batches with maxFilesPerTrigger=1
    for i in range(5):
        docs.filter(F.col("doc_id") == i).coalesce(1).write.parquet(
            os.path.join(src, f"f{i}")
        )
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src, "*"))
    )
    q = lsh_compacted_query(stream, pairs, state, ckpt, compact_every=2)
    assert q.awaitTermination(240), "compacted stream did not terminate"
    got = {
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(pairs).select("id_a", "id_b").collect()
    }
    assert got == expect and expect
    bases = sorted(
        int(d[2:]) for d in os.listdir(f"{state}/base") if d.startswith("v=")
    )
    deltas = sorted(
        int(d[2:]) for d in os.listdir(f"{state}/delta") if d.startswith("v=")
    )
    assert 1 <= len(bases) <= 2
    if len(bases) == 2:
        assert all(v > bases[0] for v in deltas)
    from esop_spark.streaming.dedup_stream import read_compacted_state

    # current state must describe exactly the full corpus's buckets
    from esop_spark.streaming.dedup_stream import _bb_minhash

    bb_all = _bb_minhash(
        spark.read.schema(SCHEMA).parquet(os.path.join(src, "*")),
        32, 8, 3, "xxhash64", "text", "doc_id",
    )
    want_members = {
        (r["band"], r["bucket"], tuple(r["ids"]))
        for r in bb_all.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_set("did")).alias("ids"))
        .collect()
    }
    got_members = {
        (r["band"], r["bucket"], tuple(r["ids"]))
        for r in read_compacted_state(spark, state).collect()
    }
    assert got_members == want_members


def test_weighted_compacted_matches_batch_operator(spark, tmp_path):
    """The flagship leg: weighted MinHash banding through the compacted
    path equals the batch weighted LSH candidate pair set (verified pairs
    are a downstream batch job in both)."""
    from esop_spark.operators.dedup import _band_buckets, with_weighted_minhash_signature

    rep = " ".join(["dup"] * 12 + ["alpha beta gamma"])
    rep2 = " ".join(["dup"] * 11 + ["alpha beta gamma delta"])
    other = " ".join(f"x{i}" for i in range(15))
    docs = spark.createDataFrame([(0, rep), (1, rep2), (2, other)], SCHEMA)
    sig = with_weighted_minhash_signature(docs, 200, 10, "text", "doc_id", "xxhash64")
    bb = _band_buckets(sig, 200, 20, "xxhash64", "doc_id").select(
        F.col("doc_id").alias("did"), "band", "bucket"
    )
    expect = {
        (r["id_a"], r["id_b"])
        for r in bb.alias("a")
        .join(
            bb.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.did") < F.col("b.did")),
        )
        .select(F.col("a.did").alias("id_a"), F.col("b.did").alias("id_b"))
        .distinct()
        .collect()
    }
    src, pairs, state, ckpt = _dirs(tmp_path)
    os.makedirs(src, exist_ok=True)
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    got = _drain_compacted(
        spark, src, pairs, state, ckpt, query=weighted_lsh_compacted_query
    )
    assert got == expect
    assert expect
