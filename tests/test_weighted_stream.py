"""Streaming weighted-MinHash candidates: per-row replicated-element
signature == batch chain, replay == batch candidate set, checkpoint restart
resumes bucket membership. Mirrors tests/test_dedup_stream.py for the
weighted (capped-tf) family."""

import os

from pyspark.sql import functions as F

from esop_spark.operators import dedup
from esop_spark.operators.dedup import (
    _weighted_lsh_candidates,
    with_weighted_minhash_signature,
)
from esop_spark.streaming.dedup_stream import weighted_lsh_compacted_query
from tests.test_dedup_stream import drain_compacted

SCHEMA = "doc_id long, text string"

# small family for tests: 4 bands × 4 rows — the machinery is identical at
# the declared 20×10, this keeps the per-row projection cheap
KW = dict(num_hashes=16, bands=4, tf_cap=10)


def _corpus(spark):
    base = ("x " * 6 + "y " * 3 + "z").strip()
    near = ("x " * 6 + "y " * 2 + "z z").strip()
    far = ("q " * 5 + "r " * 5).strip()
    inverted = ("x " * 1 + "y " * 8 + "z").strip()
    return spark.createDataFrame(
        [(0, base), (1, near), (2, far), (3, inverted)], SCHEMA
    )


def test_weighted_projection_signature_equals_batch_chain(spark):
    docs = _corpus(spark)
    for family in ("xxhash64", "md5"):
        _, base = _weighted_lsh_candidates(
            docs, 16, 4, 10, "text", "doc_id", family
        )
        agg = {
            r["doc_id"]: r
            for r in dedup.minhash_signatures(
                docs, num_hashes=16, hash_family=family, base=base
            ).collect()
        }
        proj = {
            r["doc_id"]: r
            for r in with_weighted_minhash_signature(
                docs, num_hashes=16, tf_cap=10, hash_family=family
            ).collect()
        }
        dedup.release_shared_relations()
        assert set(agg) == set(proj)
        for did, row in agg.items():
            for i in range(16):
                assert row[f"h{i}"] == proj[did][f"h{i}"], (family, did, i)


def test_weighted_projection_caps_tf(spark):
    # occurrences beyond tf_cap contribute no elements: w×20 and w×10 have
    # identical replicated sets at cap 10 → identical signatures
    docs = spark.createDataFrame(
        [(0, " ".join(["w"] * 20)), (1, " ".join(["w"] * 10))], SCHEMA
    )
    sig = {
        r["doc_id"]: r
        for r in with_weighted_minhash_signature(
            docs, num_hashes=8, tf_cap=10
        ).collect()
    }
    assert all(sig[0][f"h{i}"] == sig[1][f"h{i}"] for i in range(8))


def _drain(spark, src, ckpt, **kw):
    return drain_compacted(
        spark, weighted_lsh_compacted_query, src, SCHEMA, ckpt, **kw
    )


def _batch_pairs(docs, **kw):
    cands, base = _weighted_lsh_candidates(
        docs,
        kw.get("num_hashes", 16),
        kw.get("bands", 4),
        kw.get("tf_cap", 10),
        "text",
        "doc_id",
        kw.get("hash_family", "xxhash64"),
        kw.get("max_bucket", 100),
    )
    out = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    dedup.release_shared_relations()
    return out


def test_weighted_replay_equals_batch_candidates(spark, tmp_path):
    docs = _corpus(spark)
    expect = _batch_pairs(docs, **KW)
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    rows = _drain(spark, src, ckpt, **KW)
    got = {(r["id_a"], r["id_b"]) for r in rows}
    assert got == expect
    assert (0, 1) in expect  # the planted tf-profile pair collided


def test_weighted_incremental_arrival_and_restart(spark, tmp_path):
    docs = _corpus(spark)
    expect = _batch_pairs(docs, **KW)
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    docs.filter(F.col("doc_id") == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    first = _drain(spark, src, ckpt, **KW)
    # restart: remaining docs arrive; doc 1's pair against doc 0 only
    # exists if the bucket state survived the checkpoint
    docs.filter(F.col("doc_id") >= 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    second = _drain(spark, src, ckpt, **KW)
    got = {(r["id_a"], r["id_b"]) for r in first + second}
    assert got == expect
    assert (0, 1) in got


def test_signature_projection_keeps_generate_barrier(spark):
    """The explode(array(...)) Generate barrier between the element-array
    construction and the num_hashes consumers is load-bearing:
    CollapseProject otherwise inlines the O(len²) construction into every
    lambda (measured 18× at 200 hashes). Pin it at the optimized-plan
    level so an optimizer upgrade or refactor that re-collapses the
    projections fails here, not in the throughput table."""
    docs = spark.createDataFrame([(0, "a b a")], SCHEMA)
    for fn in (
        lambda d: with_weighted_minhash_signature(d, num_hashes=8, tf_cap=10),
        lambda d: __import__(
            "esop_spark.operators.dedup", fromlist=["with_minhash_signature"]
        ).with_minhash_signature(d, num_hashes=8, n=1),
    ):
        plan = fn(docs)._jdf.queryExecution().optimizedPlan().toString()
        assert "Generate explode" in plan, plan[:400]
