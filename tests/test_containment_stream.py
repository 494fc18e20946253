"""Streaming containment twin: replay == batch candidate set, per-pair
exactly-once emission across batches, df-capped dead shingles keep state
bounded, checkpoint restart resumes the four state tables."""

import os

from pyspark.sql import functions as F

from esop_spark.operators.dedup import (
    containment_candidates,
    doc_shingle_counts,
    shingles,
)
from esop_spark.streaming.containment_stream import containment_compacted_query

SCHEMA = "doc_id long, text string"


def _corpus(spark):
    """Short-in-long shapes: doc 1 embedded in doc 0 (containment 1.0 at
    jaccard ~0.25), doc 3 mostly inside doc 2, plus unrelated docs."""
    long0 = " ".join(f"w{i}" for i in range(40))
    short1 = " ".join(f"w{i}" for i in range(10, 20))
    long2 = " ".join(f"v{i}" for i in range(30))
    short3 = " ".join(f"v{i}" for i in range(5, 13)) + " qq"
    far4 = " ".join(f"u{i}" for i in range(25))
    tiny5 = "a b"  # < n words: no shingles
    return spark.createDataFrame(
        [(0, long0), (1, short1), (2, long2), (3, short3), (4, far4), (5, tiny5)],
        SCHEMA,
    )


def _batch_candidates(docs, **kw):
    base = shingles(docs, kw.get("n", 3))
    counts = doc_shingle_counts(docs, kw.get("n", 3))
    return {
        (r["id_a"], r["id_b"])
        for r in containment_candidates(
            base,
            k=kw.get("probe_k", 8),
            min_hits=kw.get("min_hits", 2),
            max_df=kw.get("max_df", 10_000),
            counts=counts,
        ).collect()
    }


def _dirs(tmp_path):
    return (
        str(tmp_path / "src"),
        str(tmp_path / "pairs"),
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
    )


def _drain(spark, src, pairs, state, ckpt, **kw):
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = containment_compacted_query(stream, pairs, state, ckpt, **kw)
    assert q.awaitTermination(240), "containment stream did not terminate"
    return spark.read.parquet(pairs)


def test_containment_replay_equals_batch(spark, tmp_path):
    docs = _corpus(spark)
    expect = _batch_candidates(docs)
    assert {(0, 1), (2, 3)} <= expect  # the planted short-in-long pairs
    src, pairs, state, ckpt = _dirs(tmp_path)
    os.makedirs(src, exist_ok=True)
    # three files -> three micro-batches: probes and postings of a true
    # pair arrive in DIFFERENT batches, exercising all three hit legs
    docs.filter(F.col("doc_id").isin(0, 4)).coalesce(1).write.parquet(
        os.path.join(src, "a")
    )
    docs.filter(F.col("doc_id").isin(1, 2)).coalesce(1).write.parquet(
        os.path.join(src, "b")
    )
    docs.filter(F.col("doc_id").isin(3, 5)).coalesce(1).write.parquet(
        os.path.join(src, "c")
    )
    out = _drain(spark, os.path.join(src, "*"), pairs, state, ckpt)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert got == expect
    # exactly-once per pair: no pair appears in two batches
    n_rows = out.count()
    assert n_rows == len(got)


def test_containment_incremental_restart(spark, tmp_path):
    """Second half arrives after the first availableNow query finished;
    the restarted query resumes from the committed state tables and the
    union equals the batch set, still without duplicate emissions."""
    docs = _corpus(spark)
    expect = _batch_candidates(docs)
    src, pairs, state, ckpt = _dirs(tmp_path)
    os.makedirs(src, exist_ok=True)
    docs.filter(F.col("doc_id") <= 1).coalesce(1).write.parquet(
        os.path.join(src, "a")
    )
    out1 = _drain(spark, os.path.join(src, "*"), pairs, state, ckpt)
    got1 = {(r["id_a"], r["id_b"]) for r in out1.collect()}
    assert got1 <= expect
    docs.filter(F.col("doc_id") > 1).coalesce(1).write.parquet(
        os.path.join(src, "b")
    )
    out2 = _drain(spark, os.path.join(src, "*"), pairs, state, ckpt)
    rows = out2.collect()
    got2 = {(r["id_a"], r["id_b"]) for r in rows}
    assert got2 == expect
    assert len(rows) == len(got2)  # still exactly-once across the restart


def test_containment_redelivered_doc_is_noop(spark, tmp_path):
    """At-least-once upstream: a document re-delivered in a later batch
    must not re-emit pairs or double-count postings (the counts table is
    the seen-doc set)."""
    docs = _corpus(spark).filter(F.col("doc_id").isin(0, 1))
    src, pairs, state, ckpt = _dirs(tmp_path)
    os.makedirs(src, exist_ok=True)
    docs.coalesce(1).write.parquet(os.path.join(src, "a"))
    _drain(spark, os.path.join(src, "*"), pairs, state, ckpt)
    docs.coalesce(1).write.parquet(os.path.join(src, "b"))  # replay
    out = _drain(spark, os.path.join(src, "*"), pairs, state, ckpt)
    rows = out.collect()
    assert {(r["id_a"], r["id_b"]) for r in rows} == {(0, 1)}
    assert len(rows) == 1


def test_containment_dead_shingle_bounds_state(spark, tmp_path):
    """A shingle shared by every doc crosses max_df=3: its posting list
    must be dropped (dead=1, empty dids) so per-shingle state is bounded,
    and docs arriving after its death must not pair through it."""
    boiler = "x y z x y z"  # shingles: 'x y z', 'y z x', 'z x y'
    docs = spark.createDataFrame(
        [(i, boiler + f" t{i} u{i} v{i} w{i}") for i in range(8)], SCHEMA
    )
    src, pairs, state, ckpt = _dirs(tmp_path)
    os.makedirs(src, exist_ok=True)
    for g in range(4):  # 2 docs per micro-batch
        docs.filter((F.col("doc_id") / 2).cast("int") == g).coalesce(
            1
        ).write.parquet(os.path.join(src, f"g{g}"))
    out = _drain(
        spark, os.path.join(src, "*"), pairs, state, ckpt, max_df=3
    )
    from esop_spark.streaming.containment_stream import read_containment_state

    post = read_containment_state(spark, state, "post")
    dead = post.filter(F.col("dead") == 1)
    assert dead.count() >= 3  # the three boilerplate shingles died
    assert dead.filter(F.size("dids") > 0).count() == 0
    live = post.filter(F.col("dead") == 0)
    assert live.filter(F.size("dids") > 3).count() == 0
    # docs 6,7 arrived after death: no pair may involve them
    late = {
        p
        for r in out.collect()
        for p in [(r["id_a"], r["id_b"])]
        if r["id_a"] >= 6 or r["id_b"] >= 6
    }
    assert late == set()


def test_containment_compaction_folds_and_prunes(spark, tmp_path):
    """Three micro-batches with compact_every=2 (rotation period 2, so
    every batch folds one key residue): pair parity with batch must
    survive the fold boundaries, the folded probe table must carry no
    tombstones, and retention must keep at most two bases PER RESIDUE
    with no delta at or below every residue's fold floor."""
    docs = _corpus(spark)
    expect = _batch_candidates(docs)
    src, pairs, state, ckpt = _dirs(tmp_path)
    os.makedirs(src, exist_ok=True)
    docs.filter(F.col("doc_id").isin(0, 4)).coalesce(1).write.parquet(
        os.path.join(src, "a")
    )
    docs.filter(F.col("doc_id").isin(1, 2)).coalesce(1).write.parquet(
        os.path.join(src, "b")
    )
    docs.filter(F.col("doc_id").isin(3, 5)).coalesce(1).write.parquet(
        os.path.join(src, "c")
    )
    out = _drain(
        spark, os.path.join(src, "*"), pairs, state, ckpt, compact_every=2
    )
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert got == expect
    assert out.count() == len(got)  # exactly-once survives the fold
    period = 2
    for t in ("counts", "shmeta", "post", "probe", "pairs"):
        assert os.path.isdir(f"{state}/{t}/base"), t
        bases = sorted(
            int(d[2:])
            for d in os.listdir(f"{state}/{t}/base")
            if d.startswith("v=")
        )
        deltas = sorted(
            int(d[2:])
            for d in os.listdir(f"{state}/{t}/delta")
            if d.startswith("v=")
        )
        assert bases, t  # every batch folds one residue
        per_residue: dict[int, list[int]] = {}
        for v in bases:
            per_residue.setdefault(v % period, []).append(v)
        # retention keeps the newest base per residue plus at most the
        # one a crash replay of the latest batch could still need
        assert all(len(vs) <= 2 for vs in per_residue.values()), t
        # every delta at or below the replay floor (min over residues of
        # the newest base STRICTLY BELOW the last committed batch — what
        # a crash replay of that batch would read) must be pruned
        last = max(bases + deltas)
        replay_floor = min(
            max(
                (v for v in bases if v % period == r and v < last),
                default=-1,
            )
            for r in range(period)
        )
        assert all(v > replay_floor for v in deltas), t
    from esop_spark.streaming.containment_stream import (
        _ROT_KEY,
        _SCHEMAS,
        _chain,
        _fold_input,
        _rotating_versions,
        read_containment_state,
    )

    # the next batch's fold reads ONE base per table: base/v=b holds only
    # residue b % period, so no other residue's base is scanned — and the
    # slice it reads is exactly that residue's share of the full chain
    nxt = 1 + max(
        int(d[2:])
        for sub in ("base", "delta")
        for d in os.listdir(f"{state}/counts/{sub}")
        if d.startswith("v=")
    )
    fold_r = nxt % period
    for t in _SCHEMAS:
        vmap, _, live = _rotating_versions(spark, f"{state}/{t}", nxt, period)
        assert all(v is not None for v in vmap.values()), t
        fold = _fold_input(
            spark, state, t, vmap, live, period, fold_r,
            spark.createDataFrame([], _SCHEMAS[t]),
        )
        base_dirs = {
            f.split("/base/")[1].split("/")[0]
            for f in fold.inputFiles()
            if "/base/" in f
        }
        assert base_dirs == {f"v={vmap[fold_r]}"}, (t, fold.inputFiles())
        in_residue = F.pmod(F.col(_ROT_KEY[t]), F.lit(period)) == fold_r
        want = _chain(spark, state, t, vmap, live, period).filter(in_residue)
        assert sorted(map(str, fold.collect())) == sorted(
            map(str, want.collect())
        ), t

    probe = read_containment_state(spark, state, "probe", compact_every=2)
    assert probe.filter(F.size("pids") == 0).count() == 0  # no tombstones
    # folded counts still hold every seen doc (the shingle-less tiny doc
    # included — counts doubles as the seen-doc set for redelivery no-ops)
    seen = {
        r["did"]
        for r in read_containment_state(
            spark, state, "counts", compact_every=2
        ).collect()
    }
    assert seen == {0, 1, 2, 3, 4, 5}


def test_containment_crash_replay_is_idempotent(spark, tmp_path):
    """Re-running a batch id (crash between state write and checkpoint
    commit) must rewrite pairs/batch=N and the four state tables in
    place — same pair rows, same snapshots, no double-counted hits."""
    from esop_spark.streaming.containment_stream import _containment_fn_factory

    docs = _corpus(spark)
    src, pairs, state, _ = _dirs(tmp_path)
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    batch = spark.read.schema(SCHEMA).parquet(src)
    fn = _containment_fn_factory(
        pairs, state, 3, 8, 2, 10_000, "text", "doc_id"
    )
    fn(batch, 0)

    def snap():
        prs = sorted(
            (r["id_a"], r["id_b"])
            for r in spark.read.parquet(pairs).select("id_a", "id_b").collect()
        )
        tables = {}
        for t in ("counts", "shmeta", "post", "probe", "pairs"):
            tables[t] = sorted(
                map(str, spark.read.parquet(f"{state}/{t}/delta/v=0").collect())
            )
        return prs, tables

    first = snap()
    fn(batch, 0)  # crash replay of the same epoch
    second = snap()
    assert first == second
    assert set(first[0]) == _batch_candidates(docs)


def test_containment_changed_compact_every_fails_fast(spark, tmp_path):
    """A restart with a different rotation period must raise before any
    batch runs, leaving every state file as it was — under the new
    period the retention pass would otherwise delete live bases."""
    import pytest

    from esop_spark.streaming.containment_stream import read_containment_state

    docs = _corpus(spark)
    src, pairs, state, ckpt = _dirs(tmp_path)
    os.makedirs(src, exist_ok=True)
    docs.filter(F.col("doc_id") < 3).coalesce(1).write.parquet(
        os.path.join(src, "a")
    )
    _drain(spark, os.path.join(src, "*"), pairs, state, ckpt, compact_every=2)

    def files():
        return {
            os.path.join(d, f): os.path.getmtime(os.path.join(d, f))
            for d, _, fs in os.walk(state)
            for f in fs
        }

    before = files()
    assert before
    docs.filter(F.col("doc_id") >= 3).coalesce(1).write.parquet(
        os.path.join(src, "b")
    )
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src, "*"))
    )
    with pytest.raises(ValueError, match="compact_every=2"):
        containment_compacted_query(stream, pairs, state, ckpt, compact_every=3)
    with pytest.raises(ValueError, match="compact_every=2"):
        read_containment_state(spark, state, "counts", compact_every=3)
    assert files() == before
    # the recorded period still opens the state
    assert read_containment_state(
        spark, state, "counts", compact_every=2
    ).count() == 3
