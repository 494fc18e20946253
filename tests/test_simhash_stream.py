"""Streaming SimHash candidates: per-row projection signature == batch
two-stage aggregation, replay == batch chunk-equi-join candidate set,
checkpoint restart resumes bucket membership, hot buckets star-degrade.
Mirrors tests/test_dedup_stream.py for the Hamming (pigeonhole-chunk)
family — the last banded family to get a streaming leg."""

import os

from pyspark.sql import functions as F

from esop_spark.operators import dedup
from esop_spark.operators.dedup import (
    simhash_chunks,
    simhash_signatures,
    with_simhash_signature,
)
from esop_spark.streaming.dedup_stream import simhash_compacted_query
from tests.test_dedup_stream import drain_compacted

SCHEMA = "doc_id long, text string"
KW = dict(num_bits=32, chunks=4)


def _corpus(spark):
    base = " ".join(f"w{i}" for i in range(40))
    near = " ".join(f"w{i}" for i in range(39)) + " zzz"
    near2 = " ".join(f"w{i}" for i in range(38)) + " yyy xxx"
    far = " ".join(f"v{i}" for i in range(40))
    return spark.createDataFrame(
        [(0, base), (1, near), (2, far), (3, near2)], SCHEMA
    )


def test_projection_signature_equals_batch_aggregation(spark):
    docs = _corpus(spark)
    for family, bits in (("xxhash64", 48), ("md5", 32)):
        agg = {
            r["doc_id"]: r["simhash"]
            for r in simhash_signatures(
                docs, num_bits=bits, hash_family=family
            ).collect()
        }
        proj = {
            r["doc_id"]: r["simhash"]
            for r in with_simhash_signature(
                docs, num_bits=bits, hash_family=family
            ).collect()
        }
        assert agg == proj, family


def test_projection_handles_repeated_tokens(spark):
    # the batch form votes ±tf per DISTINCT token; the projection votes ±1
    # per token INSTANCE — identical sums, and the tf weighting must be
    # visible (w×9 + v×1 lands on w's side of every disputed bit)
    docs = spark.createDataFrame(
        [(0, " ".join(["w"] * 9 + ["v"])), (1, "w"), (2, "a b a b a")], SCHEMA
    )
    agg = {
        r["doc_id"]: r["simhash"]
        for r in simhash_signatures(docs, num_bits=32).collect()
    }
    proj = {
        r["doc_id"]: r["simhash"]
        for r in with_simhash_signature(docs, num_bits=32).collect()
    }
    assert agg == proj
    assert proj[0] == proj[1]  # v is outvoted 9:1 on every bit


def _drain(spark, src, ckpt, **kw):
    return drain_compacted(
        spark, simhash_compacted_query, src, SCHEMA, ckpt, **kw
    )


def _batch_candidates(docs, **kw):
    """Distinct chunk-equi-join pair set BEFORE the Hamming filter — the
    candidate contract the stream twin replicates; Hamming verification is
    a batch job over the pair log in both worlds."""
    chunked = simhash_chunks(
        simhash_signatures(
            docs, kw.get("num_bits", 32), hash_family=kw.get("hash_family", "xxhash64")
        ),
        kw.get("num_bits", 32),
        kw.get("chunks", 4),
    )
    a, b = chunked.alias("a"), chunked.alias("b")
    return {
        (r["id_a"], r["id_b"])
        for r in a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
        .collect()
    }


def test_replay_equals_batch_candidates(spark, tmp_path):
    docs = _corpus(spark)
    expect = _batch_candidates(docs, **KW)
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    got = {(r["id_a"], r["id_b"]) for r in _drain(spark, src, ckpt, **KW)}
    assert got == expect
    assert (0, 1) in got  # the planted near-dup shares a chunk


def test_incremental_arrival_and_restart(spark, tmp_path):
    docs = _corpus(spark)
    expect = _batch_candidates(docs, **KW)
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    docs.filter(F.col("doc_id") <= 1).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    first = _drain(spark, src, ckpt, **KW)
    docs.filter(F.col("doc_id") >= 2).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    second = _drain(spark, src, ckpt, **KW)
    got = {(r["id_a"], r["id_b"]) for r in first + second}
    assert got == expect
    # doc 3 pairs with 0/1 only if bucket state survived the checkpoint
    assert any(a in (0, 1) and b == 3 for a, b in got)


def test_hot_bucket_caps_state_and_output(spark, tmp_path):
    text = " ".join(f"b{i}" for i in range(30))
    docs = spark.createDataFrame([(i, text) for i in range(12)], SCHEMA)
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    rows = _drain(spark, src, ckpt, max_bucket=5, **KW)
    pairs = {(r["id_a"], r["id_b"]) for r in rows}
    # identical docs share every chunk; star pairing caps the blowup
    assert pairs == {(0, i) for i in range(1, 12)}
    late = spark.createDataFrame([(99, text)], SCHEMA)
    late.coalesce(1).write.mode("append").parquet(src)
    rows2 = _drain(spark, src, ckpt, max_bucket=5, **KW)
    assert {(r["id_a"], r["id_b"]) for r in rows2} == {(0, 99)}
