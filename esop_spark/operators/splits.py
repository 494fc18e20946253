"""Dataset split assignment and token-budget shard packing.

Two operators every training-data pipeline needs downstream of curation:

* :func:`assign_split` — deterministic train/val/test assignment keyed on a
  CONTENT hash (the cross-engine md5 family from
  :mod:`esop_spark.operators.dedup`), so the split is a pure function of the
  data: re-runs, re-partitions, and other engines (the DuckDB oracle) agree
  row-for-row. Membership never depends on row order or partition layout —
  the property that makes eval sets stable as the corpus grows.

* :func:`pack_shards` — concat-and-chunk shard assignment: documents are
  laid out in a deterministic global order, token counts are prefix-summed,
  and shard ``i`` owns the token interval ``[i*budget, (i+1)*budget)``. This
  is the standard fixed-token-window packing used to build pretraining
  shards. The prefix sum is :func:`iterate.ordered_prefix_sum`: a range
  partition by the order key, a per-partition running sum, and a broadcast
  join of the tiny per-partition offset table — no global single-task window, which is what a
  naive ``Window.orderBy`` would give (all 100 TB through one task).

Scale design: ``assign_split`` is a narrow projection (zero shuffles).
``pack_shards`` costs two wide exchanges of the data relation (the range
layout, then the pid-clustered window sort) plus a partial-aggregated
per-partition totals leg whose result is ONE ROW PER PARTITION — the offset
join is a broadcast. Crucially there is no single-task global window: a
naive ``Window.orderBy(key)`` funnels the whole corpus through one task,
which is the 100 TB failure mode this module exists to avoid.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from esop_spark.operators.iterate import ordered_prefix_sum
from esop_spark.operators.sampling import BUCKETS, sample_bucket


def assign_split(
    key: Column,
    fractions: dict[str, float],
    seed: str = "split0",
) -> Column:
    """Column expression mapping a content key to a split label.

    ``fractions`` maps label -> fraction (must sum to <= 1.0; any remainder
    falls into the LAST label, so {"train": .8, "val": .1, "test": .1} is
    exact). Labels are assigned by cumulative hash-bucket thresholds in
    iteration order of ``fractions`` — pass an ordered dict.

    Evaluated JVM-side in the scan projection: no shuffle, no join.
    """
    if not fractions:
        raise ValueError("fractions must be non-empty")
    total = sum(fractions.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"fractions sum to {total} > 1")
    bucket = sample_bucket(key, seed)
    expr: Column | None = None
    cum = 0.0
    labels = list(fractions.items())
    for label, frac in labels[:-1]:
        cum += frac
        cond = bucket < int(cum * BUCKETS)
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(cond, F.lit(label))
    last = F.lit(labels[-1][0])
    return last if expr is None else expr.otherwise(last)


def split_report(
    df: DataFrame,
    key: Column,
    fractions: dict[str, float],
    token_col: Column,
    strata_col: str = "lang",
    seed: str = "split0",
) -> DataFrame:
    """Assign splits and report per (split, stratum): doc count, token sum,
    and the doc-count share of the stratum (rounded to 6dp). One aggregate
    shuffle on (split, stratum) — a handful of groups, map-side partial."""
    assigned = df.select(
        assign_split(key, fractions, seed).alias("split"),
        F.col(strata_col).alias("stratum"),
        token_col.cast("bigint").alias("n_tokens"),
    )
    per = assigned.groupBy("split", "stratum").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
    )
    w_stratum = Window.partitionBy("stratum")
    return per.select(
        "split",
        "stratum",
        "n_docs",
        "sum_tokens",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w_stratum), 6).alias("stratum_share"),
    )


def pack_shards(
    df: DataFrame,
    order_col: str,
    token_col: str,
    budget: int,
    num_partitions: int = 32,
) -> DataFrame:
    """Concat-and-chunk shard ids: lay documents end-to-end in ``order_col``
    order and cut every ``budget`` tokens. A document whose token interval
    crosses a cut belongs to the shard where it STARTS (its first token's
    shard) — the convention that keeps every shard's start aligned to the
    budget grid and lets the sequence packer split the straddler.

    Adds ``shard_id`` = exclusive-prefix-sum(tokens) // budget.
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    with_cum = ordered_prefix_sum(
        df, [order_col], token_col, num_partitions=num_partitions
    )
    return with_cum.withColumn(
        "shard_id",
        ((F.col("cum_incl") - F.col(token_col)) / F.lit(budget)).cast("bigint"),
    )


def shard_report(
    df: DataFrame,
    order_col: str,
    token_col: str,
    budget: int,
) -> DataFrame:
    """Per-shard packing report: doc count, token sum, first/last doc in
    layout order, and fill ratio vs budget (final shard runs short)."""
    packed = pack_shards(df, order_col, token_col, budget)
    return (
        packed.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_col).cast("bigint").alias("sum_tokens"),
            F.min(order_col).alias("first_doc"),
            F.max(order_col).alias("last_doc"),
        )
        .select(
            "shard_id",
            "n_docs",
            "sum_tokens",
            "first_doc",
            "last_doc",
            F.round(F.col("sum_tokens") / F.lit(float(budget)), 6).alias("fill_ratio"),
        )
    )


def pack_sequences(
    df: DataFrame,
    order_col: str,
    token_col: str,
    ctx: int,
    num_partitions: int = 32,
) -> DataFrame:
    """Fixed-context sequence packing with straddler SPLITTING: lay documents
    end-to-end in ``order_col`` order and cut the token stream every ``ctx``
    tokens into training sequences. Unlike :func:`pack_shards` (which assigns
    a whole document to the shard where it starts), a document whose token
    interval crosses a cut is SPLIT — it contributes one segment row per
    sequence it touches, which is exactly what a causal-LM data loader does
    when it packs documents into fixed-length context windows with
    cross-document attention masking.

    Returns one row per (sequence, document-segment):
    ``seq_id, <order_col>, seg_start, seg_len, is_head`` where ``seg_start``
    is the segment's offset INSIDE the sequence ([0, ctx)), ``seg_len`` its
    token count, and ``is_head`` marks the segment holding the document's
    first token (segment 0 of the doc — where its BOS would go).

    Scale: the prefix sum is :func:`iterate.ordered_prefix_sum` (range
    partition + broadcast offsets — no single-task global window); the
    per-document fan-out is ``n_tokens/ctx + 1`` rows via a JVM-side
    ``sequence``+``explode``, proportional to total token count / ctx, i.e.
    the same order as the output. No shuffle beyond the prefix sum's.
    """
    if ctx <= 0:
        raise ValueError("ctx must be positive")
    with_cum = ordered_prefix_sum(
        df, [order_col], token_col, num_partitions=num_partitions
    )
    start = (F.col("cum_incl") - F.col(token_col)).cast("bigint")
    end = F.col("cum_incl").cast("bigint")
    spanned = (
        with_cum.withColumn("_start", start)
        .withColumn("_end", end)
        .filter(F.col(token_col) > 0)
        .withColumn(
            "seq_id",
            F.explode(
                F.sequence(
                    (F.col("_start") / ctx).cast("bigint"),
                    ((F.col("_end") - 1) / ctx).cast("bigint"),
                )
            ),
        )
    )
    seq_lo = F.col("seq_id") * ctx
    seg_abs_start = F.greatest(F.col("_start"), seq_lo)
    seg_abs_end = F.least(F.col("_end"), seq_lo + ctx)
    return spanned.select(
        F.col("seq_id").cast("bigint"),
        F.col(order_col),
        (seg_abs_start - seq_lo).cast("bigint").alias("seg_start"),
        (seg_abs_end - seg_abs_start).cast("bigint").alias("seg_len"),
        (F.col("_start") >= seq_lo).alias("is_head"),
    )


def sequence_report(
    df: DataFrame,
    order_col: str,
    token_col: str,
    ctx: int,
    num_partitions: int = 32,
) -> DataFrame:
    """Per-sequence packing report over :func:`pack_sequences`: segment
    count, documents starting here (heads), straddlers entering from the
    previous sequence, fill tokens, and fill fraction (only the final
    sequence runs short). One aggregate shuffle on ``seq_id`` after the
    prefix sum — map-side partial, ~corpus_tokens/ctx groups."""
    segs = pack_sequences(df, order_col, token_col, ctx, num_partitions)
    return (
        segs.groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            F.sum(F.col("is_head").cast("bigint")).cast("bigint").alias("n_heads"),
            F.sum(F.when(~F.col("is_head"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_carryin"),
            F.sum("seg_len").cast("bigint").alias("fill_tokens"),
        )
        .withColumn("fill_frac", F.round(F.col("fill_tokens") / F.lit(float(ctx)), 6))
    )


def split_leakage(
    documents: DataFrame,
    fractions: dict[str, float],
    n: int = 5,
    train_label: str = "train",
    test_label: str = "test",
    seed: str = "split0",
    text_col: str = "text",
    id_col: str = "doc_id",
    strata_col: str = "lang",
) -> DataFrame:
    """Train→test n-gram leakage audit across hash-assigned splits.

    Assigns every document a split with :func:`assign_split` (the same
    content-hash rule the split report uses, so the audit covers the splits
    actually shipped), then measures, per stratum, how much of the test
    slice's distinct n-gram mass also appears anywhere in the train slice —
    the leakage companion to cross-corpus decontamination
    (:func:`esop_spark.operators.dedup.contamination`). Reference analog:
    the restore-verification membership join
    (esop/impl/restore/RestorationUtils.java) applied to split hygiene.

    Output per stratum: test docs with ≥1 shingle, docs with any leaked
    shingle, distinct-shingle totals/leaked, and the two leak fractions.

    Scale: shingles explode from one shared scan; the train side collapses
    to a distinct 64-bit hash set (map-side combine, uniform keys) and the
    membership join is a hash equi-join on that key — the same shape as
    contamination. No window, no skewed key: shuffle volume ∝ distinct
    shingles. At 100 TB the train-distinct relation can be bloom-pruned
    before the join exactly like q81's decontamination prefilter.
    """
    from esop_spark.operators.dedup import _shingle_array_expr

    base = documents.select(
        F.col(id_col),
        F.col(strata_col).alias("stratum"),
        assign_split(F.col(id_col), fractions, seed).alias("split"),
        F.split(F.col(text_col), " ").alias("words"),
    ).filter(F.col("split").isin([train_label, test_label]))
    sh = base.select(
        id_col,
        "stratum",
        "split",
        F.explode(F.expr(_shingle_array_expr(n))).alias("shingle"),
    ).select(
        id_col, "stratum", "split", F.xxhash64("shingle").alias("sh_h")
    )
    train_sh = (
        sh.filter(F.col("split") == train_label)
        .select("sh_h")
        .distinct()
        .withColumn("leaked", F.lit(1))
    )
    per_doc = (
        sh.filter(F.col("split") == test_label)
        .join(train_sh, "sh_h", "left")
        .groupBy("stratum", id_col)
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum(F.coalesce(F.col("leaked"), F.lit(0))).alias("n_leaked"),
        )
    )
    return per_doc.groupBy("stratum").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test_docs"),
        F.sum((F.col("n_leaked") > 0).cast("int")).cast("bigint").alias("n_leaked_docs"),
        F.sum("n_sh").cast("bigint").alias("n_test_shingles"),
        F.sum("n_leaked").cast("bigint").alias("n_leaked_shingles"),
        F.round(
            F.sum((F.col("n_leaked") > 0).cast("int")) / F.count(F.lit(1)), 6
        ).alias("doc_leak_frac"),
        F.round(F.sum("n_leaked") / F.sum("n_sh"), 6).alias("shingle_leak_frac"),
    )


def temporal_split(
    events: DataFrame,
    cutoff_ms: int,
    embargo_ms: int = 0,
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Time-based train/test split with an embargo gap: rows before the
    cutoff train, rows inside [cutoff, cutoff+embargo) are DISCARDED (the
    leakage buffer that keeps near-boundary temporal correlations out of
    the eval set), rows after the embargo test. Reports per (split, type)
    counts and each split's time range — the standard temporal-eval
    protocol for forecasting / event-model corpora.

    Scale: a pure scan-stage CASE label + one low-cardinality aggregate.
    """
    ms = F.unix_millis(F.col(ts_col))
    split = (
        F.when(ms < cutoff_ms, "train")
        .when(ms < cutoff_ms + embargo_ms, "embargo")
        .otherwise("test")
    )
    return (
        events.select(
            split.alias("split"),
            F.col(type_col).alias("event_type"),
            ms.alias("ms"),
        )
        .groupBy("split", "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.min("ms").cast("bigint").alias("min_ms"),
            F.max("ms").cast("bigint").alias("max_ms"),
        )
    )


def group_split_report(
    events: DataFrame,
    fractions: dict[str, float],
    group_col: str = "user_id",
    seed: str = "grp0",
) -> DataFrame:
    """Group-aware split assignment: every row of a group (user) lands in
    the SAME split, because membership hashes the group key, not the row —
    the construction that prevents user-level leakage between train and
    eval (a user's habits appearing in both). Reports per-split group and
    row counts; by construction each group maps to exactly one split.

    Scale: the assignment is a scan-stage hash CASE (zero shuffles); the
    report is one (split) and one (split, group)-grain aggregation pair —
    uniform hash keys, map-side combine.
    """
    assigned = events.select(
        assign_split(F.col(group_col), fractions, seed).alias("split"),
        F.col(group_col).alias("grp"),
    )
    per_group = assigned.groupBy("split", "grp").agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    return per_group.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.round(F.sum("n_rows") / F.count(F.lit(1)), 6).alias("rows_per_group"),
    )


def curriculum_order(
    documents: DataFrame,
    stages: int = 4,
    seed: str = "cur0",
    id_col: str = "doc_id",
    text_col: str = "text",
    num_partitions: int = 32,
) -> DataFrame:
    """Deterministic curriculum training order: documents are staged from
    lowest to highest quality quartile (easy-to-hard scheduling), and within
    a stage laid out in content-hash order — a seeded, reproducible global
    shuffle. The emitted ``position`` is the exact 1-based rank a data
    loader would read the document at inside its stage.

    Stage assignment is exact integer math on the BOUNDED score grain: the
    0-100 quality score distribution is aggregated to ≤101 rows, the
    cumulative count of strictly-lower scores assigns
    ``stage = 1 + floor(stages * cum_below / N)`` (equal scores share a
    stage, so the boundary is data-independent of layout), and the ≤101-row
    stage map is broadcast back — the same scale-safe grain trick as the
    quality CDF (q72).

    The within-stage rank is :func:`iterate.ordered_prefix_sum` of 1 (range
    partition + broadcast offsets), NOT a per-stage ``Window.partitionBy``
    sort — with 4 stages a naive window would funnel ~25% of a 100 TB
    corpus through each of 4 tasks.
    """
    from esop_spark.operators.text import quality_score_col

    scored = documents.select(
        F.col(id_col), quality_score_col(text_col).alias("q")
    )
    per_score = scored.groupBy("q").agg(F.count(F.lit(1)).alias("_n"))
    w_cdf = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, -1)
    n_total = per_score.agg(F.sum("_n").alias("_total"))
    stage_map = (
        per_score.withColumn(
            "_below", F.coalesce(F.sum("_n").over(w_cdf), F.lit(0))
        )
        .crossJoin(F.broadcast(n_total))
        .select(
            "q",
            F.least(
                F.lit(1) + F.expr(f"(_below * {stages}) div _total"),
                F.lit(stages).cast("bigint"),
            ).alias("stage"),
        )
    )
    staged = scored.join(F.broadcast(stage_map), "q")
    ranked = ordered_prefix_sum(
        staged,
        [sample_bucket(F.col(id_col), seed), F.col(id_col).cast("string")],
        F.lit(1),
        ["stage"],
        num_partitions,
    )
    return ranked.select(
        F.col(id_col).cast("bigint").alias(id_col),
        F.col("q").cast("bigint").alias("quality_score"),
        F.col("stage").cast("bigint").alias("stage"),
        F.col("cum_incl").alias("position"),
    )


def split_balance_audit(
    df: DataFrame,
    key: Column,
    fractions: dict[str, float],
    strata_col: str = "source",
    seed: str = "split0",
) -> DataFrame:
    """Chi-square independence audit of split assignment vs stratum: hash
    splits are only trustworthy if membership is independent of every
    slicing column — this is the statistical proof, one row per corpus
    (chi2_milli, dof, n_rows), exact integer chi²·1000 on the dense
    (stratum × split) grid with DECIMAL(38,0) products (the q173 math
    applied to the q64 assignment).

    One doc-grain scan; everything else lives on the tiny grid."""
    labels = list(fractions)
    banded = df.select(
        F.col(strata_col).alias("stratum"),
        assign_split(key, fractions, seed).alias("split"),
    )
    cells = banded.groupBy("stratum", "split").agg(
        F.count(F.lit(1)).alias("o")
    )
    grid = (
        cells.select("stratum")
        .distinct()
        .crossJoin(
            cells.sparkSession.createDataFrame(
                [(s,) for s in labels], ["split"]
            )
        )
    )
    dense = grid.join(cells, ["stratum", "split"], "left").select(
        "stratum", "split", F.coalesce("o", F.lit(0)).alias("o")
    )
    d38 = "decimal(38,0)"
    g = (
        dense.withColumn("n", F.sum("o").over(Window.partitionBy()))
        .withColumn("r", F.sum("o").over(Window.partitionBy("stratum")))
        .withColumn("c", F.sum("o").over(Window.partitionBy("split")))
        .withColumn(
            "cell_milli",
            F.expr(
                f"CASE WHEN r = 0 OR c = 0 THEN 0 ELSE "
                f"(CAST(n AS {d38}) * o - CAST(r AS {d38}) * c)"
                f" * (CAST(n AS {d38}) * o - CAST(r AS {d38}) * c)"
                f" * 1000 div (CAST(n AS {d38}) * r * c) END"
            ).cast("bigint"),
        )
    )
    return g.agg(
        F.sum("cell_milli").cast("bigint").alias("chi2_milli"),
        (
            (F.countDistinct("stratum") - 1) * (F.countDistinct("split") - 1)
        )
        .cast("bigint")
        .alias("dof"),
        F.first("n").cast("bigint").alias("n_rows"),
    )
