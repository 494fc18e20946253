"""Streaming MinHash-LSH candidates: projection signature == batch
aggregation, replay == batch candidate set, hot-bucket cap bounds state and
output, checkpoint restart resumes bucket membership."""

import os

from pyspark.sql import functions as F

from esop_spark.operators import dedup
from esop_spark.operators.dedup import _lsh_candidates, with_minhash_signature
from esop_spark.streaming.dedup_stream import lsh_compacted_query

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


def test_projection_signature_equals_batch_aggregation(spark):
    docs = _corpus(spark)
    for family in ("xxhash64", "md5"):
        agg = {
            r["doc_id"]: r
            for r in dedup.minhash_signatures(
                docs, num_hashes=16, hash_family=family
            ).collect()
        }
        proj = {
            r["doc_id"]: r
            for r in with_minhash_signature(
                docs, num_hashes=16, hash_family=family
            ).collect()
        }
        assert set(agg) == set(proj)  # tiny doc absent from both
        for did, row in agg.items():
            for i in range(16):
                assert row[f"h{i}"] == proj[did][f"h{i}"], (family, did, i)


def drain_compacted(spark, query, src, schema, run, **kw):
    """availableNow drain of ``src`` through a ``*_compacted_query``,
    with pairs, state and checkpoint under ``run``. Returns the pair rows
    of the ``batch=`` partitions THIS drain wrote, so a restart's drain
    reports only its own output."""
    pairs = os.path.join(run, "pairs")

    def batches():
        return set(os.listdir(pairs)) if os.path.isdir(pairs) else set()

    before = batches()
    stream = spark.readStream.schema(schema).parquet(src)
    q = query(
        stream, pairs, os.path.join(run, "state"), os.path.join(run, "ckpt"),
        **kw,
    )
    assert q.awaitTermination(180), "stream did not terminate"
    new = sorted(d for d in batches() - before if d.startswith("batch="))
    if not new:
        return []
    return spark.read.schema("band int, id_a bigint, id_b bigint").parquet(
        *(os.path.join(pairs, d) for d in new)
    ).collect()


def _drain(spark, src, ckpt, **kw):
    return drain_compacted(spark, lsh_compacted_query, src, SCHEMA, ckpt, **kw)


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


def test_replay_equals_batch_candidates(spark, tmp_path):
    docs = _corpus(spark)
    expect = _batch_pairs(docs)
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    rows = _drain(spark, src, ckpt)
    got = {(r["id_a"], r["id_b"]) for r in rows}
    assert got == expect
    assert expect  # the planted near-dups produced at least one candidate


def test_incremental_arrival_and_restart(spark, tmp_path):
    docs = _corpus(spark)
    expect = _batch_pairs(docs)
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    docs.filter(F.col("doc_id") <= 1).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    first = _drain(spark, src, ckpt)
    # restart: the remaining docs arrive; bucket membership must resume
    # from the checkpoint (doc 3's pairs against docs 0/1 only exist if
    # the state survived)
    docs.filter(F.col("doc_id") >= 2).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    second = _drain(spark, src, ckpt)
    got = {(r["id_a"], r["id_b"]) for r in first + second}
    assert got == expect
    assert any(a in (0, 1) and b == 3 for a, b in got)


def test_hot_bucket_caps_state_and_output(spark, tmp_path):
    text = " ".join(f"b{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(i, text) for i in range(12)], SCHEMA
    )
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    rows = _drain(spark, src, ckpt, max_bucket=5)
    pairs = {(r["id_a"], r["id_b"]) for r in rows}
    # star pairing: one anchor edge per non-anchor member, NOT 12·11/2
    assert pairs == {(0, i) for i in range(1, 12)}
    # arrivals after the cap still attach to the cluster through the anchor
    late = spark.createDataFrame([(99, text)], SCHEMA)
    late.coalesce(1).write.mode("append").parquet(src)
    rows2 = _drain(spark, src, ckpt, max_bucket=5)
    assert {(r["id_a"], r["id_b"]) for r in rows2} == {(0, 99)}


def test_expand_delta_pairs_matches_python_reference(spark):
    """The JVM delta→pair expansion must reproduce the exact pair list the
    state function used to emit row-by-row, for every delta shape: cold
    pairwise (within-news + news×olds), hot star (anchor edges), hot star
    with a NEW smaller anchor (bridge edge to the old component's min),
    and a hot bucket whose only arrival IS the anchor (no edges)."""
    from esop_spark.streaming.dedup_stream import LSH_DELTA, _expand_delta_pairs

    def reference(news, olds, star):
        if star:
            anchor = min(news + olds)
            pairs = [(anchor, m) for m in news if m != anchor]
            if olds and anchor not in olds:
                pairs.append((anchor, min(olds)))
            return pairs
        pairs = []
        for i, a in enumerate(news):
            pairs.extend((a, b) for b in news[i + 1:])
            pairs.extend((min(a, b), max(a, b)) for b in olds)
        return pairs

    cases = [
        (0, [3, 7, 9], [], 0),          # first batch, pairwise
        (1, [5, 8], [1, 2], 0),         # cold cross pairs (min, max)
        (2, [10, 11, 12], [4, 6], 1),   # hot: old anchor 4, star edges
        (3, [1, 9], [5, 6], 1),         # hot: NEW anchor 1 + bridge to 5
        (4, [2], [], 1),                # hot: lone arrival is the anchor
    ]
    delta = spark.createDataFrame(
        [(b, news, olds, star) for b, news, olds, star in cases], LSH_DELTA
    )
    got = sorted(
        (r["band"], r["id_a"], r["id_b"])
        for r in _expand_delta_pairs(delta).collect()
    )
    want = sorted(
        (b, p[0], p[1])
        for b, news, olds, star in cases
        for p in reference(news, olds, star)
    )
    assert got == want
    # the anchor/min pin must survive the optimizer: TWO Generates (the
    # barrier + the pair explode) — without the barrier, CollapseProject
    # inlines array_min(news) into the element lambdas and a 25k-member
    # hot bucket pays 625M array scans per delta row (measured 9 s → 124 s
    # on the sf10 embedding drain)
    plan = _expand_delta_pairs(delta)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Generate explode") == 2, plan[:600]
