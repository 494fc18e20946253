"""Streaming banded-LSH embedding near-dup candidates: replay lands in the
batch leg's buckets (candidate-set parity), state survives checkpoint
restarts, hot buckets collapse to the anchor-star contract."""

import os

from pyspark.sql import functions as F

from esop_spark.operators.similarity import banded_semantic_buckets
from esop_spark.streaming.dedup_stream import embedding_compacted_query
from tests.test_dedup_stream import drain_compacted

SCHEMA = "vec_id bigint, embedding array<double>"
DIM = 64


def _corpus(spark):
    """A few planted near-dup groups plus singletons: group g's members are
    small perturbations of one base direction, so they share every band's
    sign pattern with near-certainty; distinct groups are ~orthogonal."""
    rows = []
    vid = 0
    for g in range(3):
        base = [0.0] * DIM
        base[2 * g] = 1.0
        base[2 * g + 1] = 0.5
        for k in range(3):  # 3 near-copies per group
            v = list(base)
            v[2 * g + 1] += 0.001 * k
            rows.append((vid, v))
            vid += 1
    for s in range(4):  # singletons on their own axes
        v = [0.0] * DIM
        v[20 + 3 * s] = 1.0
        rows.append((vid, v))
        vid += 1
    return spark.createDataFrame(rows, SCHEMA)


def _batch_candidates(vecs):
    bb = banded_semantic_buckets(vecs).select("vec_id", "band", "bucket")
    a = bb.alias("a")
    b = bb.alias("b")
    return {
        (r["id_a"], r["id_b"])
        for r in a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b")
        )
        .distinct()
        .collect()
    }


def _drain(spark, src, ckpt, max_bucket=100):
    return drain_compacted(
        spark, embedding_compacted_query, src, SCHEMA, ckpt,
        max_bucket=max_bucket,
    )


def test_replay_equals_batch_candidates(spark, tmp_path):
    vecs = _corpus(spark)
    expect = _batch_candidates(vecs)
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    vecs.coalesce(1).write.mode("overwrite").parquet(src)
    got = {(r["id_a"], r["id_b"]) for r in _drain(spark, src, ckpt)}
    assert got == expect
    # the planted groups collide on some band: group 0 = ids 0,1,2
    assert (0, 1) in got and (0, 2) in got


def test_incremental_arrival_and_restart(spark, tmp_path):
    vecs = _corpus(spark)
    expect = _batch_candidates(vecs)
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    vecs.filter(F.col("vec_id") <= 1).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    first = _drain(spark, src, ckpt)
    vecs.filter(F.col("vec_id") >= 2).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    second = _drain(spark, src, ckpt)
    got = {(r["id_a"], r["id_b"]) for r in first + second}
    assert got == expect
    # id 2's pairs against ids 0/1 only exist if bucket membership was
    # resumed from the checkpoint
    assert any(a in (0, 1) and b == 2 for a, b in got)


def test_hot_bucket_caps_state_and_output(spark, tmp_path):
    # 12 identical vectors: every band bucket holds all of them
    v = [1.0] + [0.0] * (DIM - 1)
    vecs = spark.createDataFrame([(i, v) for i in range(12)], SCHEMA)
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    vecs.coalesce(1).write.mode("overwrite").parquet(src)
    rows = _drain(spark, src, ckpt, max_bucket=5)
    pairs = {(r["id_a"], r["id_b"]) for r in rows}
    # star pairing per oversized bucket: anchor edges only, not 12*11/2
    assert pairs == {(0, i) for i in range(1, 12)}
    late = spark.createDataFrame([(99, v)], SCHEMA)
    late.coalesce(1).write.mode("append").parquet(src)
    rows2 = _drain(spark, src, ckpt, max_bucket=5)
    assert {(r["id_a"], r["id_b"]) for r in rows2} == {(0, 99)}
