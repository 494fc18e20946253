"""Split assignment and shard packing: determinism, exactness of the
ordered-scan kernel (``iterate.ordered_prefix_sum``) vs a single-task
window, and budget-grid invariants."""

import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from esop_spark.operators import splits
from esop_spark.operators.iterate import ordered_prefix_sum


def _docs(spark, n=500):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 4).cast("string").alias("lang"),
        (F.pmod(F.col("id") * 37 + 11, F.lit(190)) + 10).alias("n_tokens"),
    )


def test_assign_split_partition_invariant_and_exhaustive(spark):
    docs = _docs(spark)
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {
        (r["doc_id"], r["s"])
        for r in docs.select("doc_id", splits.assign_split(F.col("doc_id"), fr).alias("s")).collect()
    }
    b = {
        (r["doc_id"], r["s"])
        for r in docs.repartition(17, "lang")
        .select("doc_id", splits.assign_split(F.col("doc_id"), fr).alias("s"))
        .collect()
    }
    assert a == b
    labels = {s for _, s in a}
    assert labels == {"train", "val", "test"}
    n_train = sum(1 for _, s in a if s == "train")
    assert 0.7 < n_train / 500 < 0.9


def test_assign_split_fraction_validation(spark):
    with pytest.raises(ValueError):
        splits.assign_split(F.col("x"), {})
    with pytest.raises(ValueError):
        splits.assign_split(F.col("x"), {"a": 0.9, "b": 0.9})


def test_split_report_shares_sum_to_one(spark):
    rep = splits.split_report(
        _docs(spark),
        key=F.col("doc_id"),
        fractions={"train": 0.8, "val": 0.2},
        token_col=F.col("n_tokens"),
        strata_col="lang",
    ).collect()
    by_stratum = {}
    for r in rep:
        by_stratum.setdefault(r["stratum"], 0.0)
        by_stratum[r["stratum"]] += r["stratum_share"]
    for s, tot in by_stratum.items():
        assert abs(tot - 1.0) < 1e-5, (s, tot)


def test_pack_shards_budget_grid(spark):
    budget = 1000
    packed = splits.pack_shards(_docs(spark), "doc_id", "n_tokens", budget).collect()
    for r in packed:
        start = r["cum_incl"] - r["n_tokens"]
        assert r["shard_id"] == start // budget
    # shards are contiguous from 0
    ids = sorted({r["shard_id"] for r in packed})
    assert ids == list(range(len(ids)))


def test_shard_report_token_conservation(spark):
    docs = _docs(spark)
    total = docs.agg(F.sum("n_tokens")).collect()[0][0]
    rep = splits.shard_report(docs, "doc_id", "n_tokens", 2048).collect()
    assert sum(r["sum_tokens"] for r in rep) == total
    assert sum(r["n_docs"] for r in rep) == 500
    # every non-final shard starts a new doc within budget of the grid cut:
    # fill_ratio >= 1 - max_doc/budget is loose; just check all > 0
    assert all(r["fill_ratio"] > 0 for r in rep)


def _scan_input(spark, n_rows, stratified, seed=17):
    """Seeded rows (s, o, v): ``o`` is unique within a stratum but, with
    four strata, repeats across them — the ties the kernel's per-stratum
    offsets must keep apart."""
    rnd = random.Random(seed)
    strata = ["a", "b", "c", "d"] if stratified else ["a"]
    rows = []
    for i, s in enumerate(strata):
        n = n_rows // len(strata) + (i < n_rows % len(strata))
        rows += [(s, o, rnd.randint(0, 50)) for o in rnd.sample(range(n_rows), n)]
    rnd.shuffle(rows)
    return spark.createDataFrame(rows, "s string, o bigint, v bigint").repartition(5)


@pytest.mark.parametrize(
    "n_rows,n_parts,stratified,value",
    [
        (1, 1, False, "v"),
        (37, 7, False, "v"),
        (500, 3, False, "v"),
        (500, 7, False, "v"),
        (300, 8, False, 1),
        (300, 1, True, "v"),
        (300, 3, True, "v"),
        (300, 8, True, "v"),
        (300, 1, True, 1),
        (300, 3, True, 1),
        (300, 8, True, 1),
    ],
    ids=[
        "1-1", "37-7", "500-3", "500-7", "rank-8",
        "strata-1", "strata-3", "strata-8",
        "strata-rank-1", "strata-rank-3", "strata-rank-8",
    ],
)
def test_prefix_sum_matches_window_across_shapes(
    spark, n_rows, n_parts, stratified, value
):
    """ordered_prefix_sum against a single-task window over the same
    ROWS frame. A rank (value 1) orders by a Column expression, as the
    stratum-rank callers do; a sum orders by a column name."""
    df = _scan_input(spark, n_rows, stratified)
    strata = ["s"] if stratified else []
    order, val = (["o"], F.col("v")) if value == "v" else ([F.col("o")], F.lit(1))
    got = {
        (r["s"], r["o"]): r["cum_incl"]
        for r in ordered_prefix_sum(df, order, val, strata, n_parts).collect()
    }
    w = (
        Window.partitionBy(*strata)
        .orderBy("o")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = {
        (r["s"], r["o"]): r["c"]
        for r in df.withColumn("c", F.sum(val).over(w)).collect()
    }
    assert len(got) == n_rows
    assert got == want


@pytest.mark.parametrize("budget", [1, 10, 10**9])
def test_pack_shards_budget_extremes(spark, budget):
    docs = _docs(spark, 60)
    packed = splits.pack_shards(docs, "doc_id", "n_tokens", budget).collect()
    for r in packed:
        assert r["shard_id"] == (r["cum_incl"] - r["n_tokens"]) // budget
    if budget == 10**9:
        assert {r["shard_id"] for r in packed} == {0}  # everything fits shard 0
