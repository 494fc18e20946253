"""Deterministic sampling operators for training-data pipelines.

Spark's built-in ``df.sample`` is seed-stable only per partitioning — the
rows it picks change when the upstream layout changes, which is useless for
reproducible corpus curation. These operators key every decision on a
CONTENT hash (the cross-engine 32-bit md5 family from
:mod:`esop_spark.operators.dedup`), so a sample is a pure function of the
data: re-runs, re-partitions and other engines (the DuckDB oracle) agree
row-for-row.

Scale design: `hash_sample`/`stratified_sample` are narrow filters (no
shuffle at all — the rate lookup is a broadcast of a tiny per-stratum map).
The exact per-stratum selections (`sample_k_per_stratum`,
`mixture_resample`, `temperature_resample`) rank with
:func:`iterate.ordered_prefix_sum` of 1 — a range partition on
(stratum, bucket, key), a per-(partition, stratum) local running count,
and a broadcast join of the tiny per-(partition, stratum) offset table. A hot
stratum (50% of a 100 TB corpus in one language) is spread across ALL
partitions by its bucket range instead of funnelling through the single
reducer a ``Window.partitionBy(stratum)`` sort would use; no task ever
sees more than ~1/num_partitions of any stratum.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from esop_spark.operators.dedup import md5_hash32
from esop_spark.operators.iterate import (
    ordered_prefix_sum,
    release_checkpoint,
    share_relation,
    shared_checkpoint,
)

# Sampling decisions compare a hash bucket in [0, 1e6) against rate*1e6 —
# 6 decimal digits of rate resolution, plenty for curation mixes.
BUCKETS = 1_000_000


def sample_bucket(key: Column, seed: str = "s0") -> Column:
    """Deterministic bucket in [0, BUCKETS) from a content key. The seed is
    concatenated into the hashed string, so independent samples (train/
    holdout splits, repeated trials) use different, uncorrelated buckets."""
    return F.pmod(md5_hash32(F.concat(F.lit(seed), F.lit(":"), key.cast("string"))), F.lit(BUCKETS))


def hash_sample(df: DataFrame, rate: float, key: Column, seed: str = "s0") -> DataFrame:
    """Keep ~rate of rows, decided per-row by content hash. Narrow filter —
    no shuffle, no state, reproducible across engines and runs."""
    return df.filter(sample_bucket(key, seed) < int(rate * BUCKETS))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    key: Column,
    default_rate: float = 0.0,
    seed: str = "s0",
) -> DataFrame:
    """Per-stratum rates (e.g. language rebalancing: keep 10% of 'en', all
    of 'fr'). The rates map becomes a literal CASE expression — evaluated
    JVM-side in the scan projection, so the whole operator stays a narrow
    filter with zero shuffles (no join, not even a broadcast)."""
    rate_col = F.lit(int(default_rate * BUCKETS))
    for stratum, rate in sorted(rates.items()):
        rate_col = F.when(
            F.col(strata_col) == stratum, F.lit(int(rate * BUCKETS))
        ).otherwise(rate_col)
    return df.filter(sample_bucket(key, seed) < rate_col)


def score_weighted_sample(
    df: DataFrame,
    score: Column,
    key: Column,
    score_max: int = 100,
    seed: str = "s0",
) -> DataFrame:
    """Soft quality filtering: keep each row with probability
    score/score_max, decided by the content hash — a doc scoring 80/100
    survives with p = 0.8, junk at 5/100 mostly drops but retains a
    calibrated trace (the DCLM-style alternative to a hard threshold,
    which wastes the signal's resolution). Pure filter, zero shuffles;
    the comparison is all-integer (bucket·score_max < score·BUCKETS) so
    other engines reproduce the exact keep set."""
    return df.filter(
        sample_bucket(key, seed) * F.lit(int(score_max))
        < score.cast("bigint") * F.lit(BUCKETS)
    )


def _check_unique_key(narrow: DataFrame, what: str) -> None:
    """Opt-in precondition check for the survivor-semi-join samplers: a
    repeated key would return every row sharing a surviving key (more
    than k per stratum) instead of exactly k. One hash-agg over the
    narrow (stratum, key) projection — cheap relative to the sampler
    itself, but still a corpus pass, hence opt-in."""
    dup = (
        narrow.groupBy("_jk")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"{what}: key is not unique (e.g. key={dup[0]['_jk']!r} repeats);"
            " the survivor semi-join would return every row sharing a"
            " surviving key. Pass a unique row id as `key`."
        )


def sample_k_per_stratum(
    df: DataFrame,
    strata_col: str,
    k: int,
    key: Column,
    seed: str = "s0",
    num_partitions: int = 32,
    validate_key: bool = False,
) -> DataFrame:
    """Exactly min(k, |stratum|) rows per stratum, chosen by hash order —
    a deterministic uniform-without-replacement sample per group. Ranking
    uses :func:`iterate.ordered_prefix_sum` (range partition + broadcast
    offsets), so a pathologically hot stratum spreads over every task
    instead of one reducer; ties broken by the key itself so the pick is
    total-ordered and engine-independent.

    Payload isolation: ranking runs on the NARROW (stratum, key)
    projection and survivors rejoin the original rows by key (semi-join;
    AQE broadcasts the ≤ k·|strata| survivor keys). Payload columns —
    document text at 100 TB — never cross the range exchange or sit in
    the pinned checkpoint; before this split the full rows did both
    (measured 6.0 s → expected scan-bound on q75-family queries at
    sf0.1).

    PRECONDITION: ``key`` must be a unique row id — it already had to be
    for the hash order to be total, and the survivor semi-join depends on
    it (a repeated key would return all rows sharing a surviving key,
    i.e. more than k per stratum). Pass ``validate_key=True`` to enforce
    with one extra narrow-projection agg that raises on duplicates."""
    narrow = df.select(F.col(strata_col), key.alias("_jk"))
    if validate_key:
        _check_unique_key(narrow, "sample_k_per_stratum")
    ranked = ordered_prefix_sum(
        narrow,
        [sample_bucket(F.col("_jk"), seed), F.col("_jk").cast("string")],
        F.lit(1),
        [strata_col],
        num_partitions,
    )
    survivors = ranked.filter(F.col("cum_incl") <= k).select("_jk")
    return df.join(survivors, key == F.col("_jk"), "left_semi")


def mixture_resample(
    df: DataFrame,
    strata_col: str,
    weights_ppm: dict[str, int],
    key: Column,
    seed: str = "s0",
    num_partitions: int = 32,
    validate_key: bool = False,
) -> DataFrame:
    """Down-sample to an exact target mixture (domain/language re-weighting
    for training corpora): given integer parts-per-million weights per
    stratum, keep the LARGEST corpus whose stratum proportions match the
    weights exactly, choosing survivors by content-hash order.

    All-integer arithmetic (counts, ppm weights, floor division) so every
    engine lands on identical keep-counts:

        feasible_total T = min_s floor(n_s · 1e6 / w_s)   (w_s > 0)
        keep_s           = floor(T · w_s / 1e6)

    Strata not in the weights map (or with weight 0) are dropped. Plan:
    one tiny per-stratum count agg (broadcast back), then the same
    distributed hash-ordered ranking as `sample_k_per_stratum`
    (:func:`iterate.ordered_prefix_sum`) with a per-stratum keep count —
    at 100 TB a hot stratum is range-spread across all tasks, never
    funnelled through one reducer.
    """
    w_items = sorted((s, int(w)) for s, w in weights_ppm.items() if int(w) > 0)
    strata = [s for s, _ in w_items]
    counts = (
        df.filter(F.col(strata_col).isin(strata))
        .groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    w_col = F.lit(None).cast("bigint")
    for stratum, w in w_items:
        w_col = F.when(F.col(strata_col) == stratum, F.lit(w)).otherwise(w_col)
    counts = counts.withColumn("_w", w_col).withColumn(
        "_feasible", F.expr(f"_n * {BUCKETS} div _w")
    )
    total = counts.agg(F.min("_feasible").alias("_t"))
    keeps = (
        counts.crossJoin(F.broadcast(total))
        .withColumn("_keep", F.expr(f"_t * _w div {BUCKETS}"))
        .select(strata_col, "_keep")
    )
    # narrow ranking + survivor semi-join (see sample_k_per_stratum):
    # payload columns never cross the range exchange or the checkpoint;
    # survivor volume here can be corpus-scale (keep most of a stratum),
    # so the semi-join is left to the planner (broadcast when small,
    # shuffle on the narrow key relation otherwise)
    eligible = df.filter(F.col(strata_col).isin(strata))
    narrow = eligible.select(F.col(strata_col), key.alias("_jk"))
    if validate_key:  # PRECONDITION: see sample_k_per_stratum
        _check_unique_key(narrow, "mixture_resample")
    ranked = ordered_prefix_sum(
        narrow,
        [sample_bucket(F.col("_jk"), seed), F.col("_jk").cast("string")],
        F.lit(1),
        [strata_col],
        num_partitions,
    )
    survivors = (
        ranked.join(F.broadcast(keeps), strata_col)
        .filter(F.col("cum_incl") <= F.col("_keep"))
        .select("_jk")
    )
    return eligible.join(survivors, key == F.col("_jk"), "left_semi")


def temperature_weights(counts: dict[str, int], alpha: float = 0.5) -> dict[str, int]:
    """Integer mixture weights implementing temperature resampling: weight
    per stratum ∝ n_s^alpha, so alpha < 1 flattens the distribution toward
    rare strata (the multilingual-rebalancing trick from the mBERT/XLM-R
    line of work) and alpha = 1 reproduces the natural mixture.

    For the default alpha = 0.5 the weight is ``isqrt(n · 1e6)`` — EXACT
    integer arithmetic, so any engine (and the DuckDB oracle, via
    ``FLOOR(sqrt(n * 1e6))``) lands on identical weights with no libm/
    rounding divergence. Other alphas use float pow scaled to 1e6 —
    deterministic per platform but not cross-engine-exactness-guaranteed
    (documented trade; 0.5 is the common production setting).
    """
    import math

    if alpha == 0.5:
        return {s: math.isqrt(int(n) * 1_000_000) for s, n in counts.items() if n > 0}
    return {
        s: max(1, int((float(n) ** alpha) * 1_000_000))
        for s, n in counts.items()
        if n > 0
    }


def temperature_resample(
    df: DataFrame,
    strata_col: str,
    key: Column,
    alpha: float = 0.5,
    seed: str = "s0",
    num_partitions: int = 32,
) -> DataFrame:
    """Temperature-flattened resampling report: derive n_s^alpha weights
    from observed stratum counts, keep the largest exact mixture matching
    them (delegating to :func:`mixture_resample`'s all-integer math), and
    report per stratum (n_before, n_kept, kept_frac).

    The stratum-count collect is k rows (languages/domains — driver-tiny,
    same bound as the IVF centroid collect); everything row-scale stays
    distributed. mixture_resample's weights stay valid at ANY positive
    integer scale (only ratios matter through the feasibility/keep floors),
    so the isqrt(n·1e6) weights plug straight in.
    """
    counts_df = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n"))
    counts = {r[strata_col]: r["n"] for r in counts_df.collect()}
    weights = temperature_weights(counts, alpha)
    kept = mixture_resample(df, strata_col, weights, key, seed, num_partitions)
    kept_counts = kept.groupBy(strata_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept")
    )
    return (
        counts_df.join(kept_counts, strata_col, "left")
        .select(
            F.col(strata_col),
            F.col("n").cast("bigint").alias("n_before"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
            F.round(
                F.coalesce(F.col("n_kept"), F.lit(0)) / F.col("n"), 6
            ).alias("kept_frac"),
        )
    )


def mixture_ess(
    documents: DataFrame,
    stratum_col: str = "source",
    alpha: float = 0.5,
) -> DataFrame:
    """Diagnostic for a temperature-Δ mixture: per-stratum natural vs
    temperature-``alpha`` shares, the implied per-row importance weight,
    and the corpus effective sample size under those weights
    (ESS = (Σ n_s·w_s)² / Σ n_s·w_s²).

    One aggregation to the stratum grain; every share/ESS window after
    that runs over the ≤|strata|-row relation, so the whole report costs
    one shuffle regardless of corpus size. ``corpus_ess``/``ess_frac``
    are repeated on every row (a report, not a fact table).
    """
    per = documents.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    w_all = Window.partitionBy()
    nat = F.col("n_docs") / F.sum("n_docs").over(w_all)
    tempered = F.pow(F.col("n_docs").cast("double"), F.lit(alpha))
    temp = tempered / F.sum(tempered).over(w_all)
    shares = per.select(
        "stratum",
        "n_docs",
        nat.alias("nat_share"),
        temp.alias("temp_share"),
        (temp / nat).alias("weight_ratio"),
    )
    num = F.sum(F.col("n_docs") * F.col("weight_ratio")).over(w_all)
    den = F.sum(
        F.col("n_docs") * F.col("weight_ratio") * F.col("weight_ratio")
    ).over(w_all)
    n_tot = F.sum("n_docs").over(w_all)
    return shares.select(
        "stratum",
        "n_docs",
        F.round("nat_share", 6).alias("nat_share"),
        F.round("temp_share", 6).alias("temp_share"),
        F.round("weight_ratio", 6).alias("weight_ratio"),
        F.round(num * num / den, 6).alias("corpus_ess"),
        F.round(num * num / den / n_tot, 6).alias("ess_frac"),
    )


def anneal_schedule(
    documents: DataFrame,
    phases: int = 4,
    phase_budget_tokens: int = 100_000,
    strata_col: str = "lang",
    token_col: Column | None = None,
) -> DataFrame:
    """Multi-phase mixture annealing plan: per training phase, the sampling
    weight for each stratum interpolating from the corpus's NATURAL token
    share (phase 1) toward a flattened share^alpha distribution
    (final phase, alpha = 0.25) — the standard "anneal toward uniform /
    high-quality" schedule for late-stage pretraining data mixes.

    Phase p of P uses alpha_p = 1 - 0.75*(p-1)/(P-1), restricted by
    construction to the dyadic grid {1, 0.75, 0.5, 0.25} (phases=4), so
    share^alpha is computed with nested IEEE ``sqrt`` only — exactly
    reproducible across engines, unlike a libm ``pow``. Weights are
    normalized per phase; expected_tokens = floor(weight * budget).

    Scale: one map-side-combined aggregation to the |strata| grain; every
    downstream step (phase cross join, per-phase normalization window) runs
    on the strata×phases relation — a few dozen rows at any corpus size.
    """
    if phases != 4:
        raise ValueError("anneal_schedule is defined on the dyadic 4-phase grid")
    tok = token_col if token_col is not None else F.size(F.split(F.col("text"), " "))
    per = documents.groupBy(F.col(strata_col).alias("stratum")).agg(
        F.sum(tok.cast("bigint")).alias("n_tokens")
    )
    total = Window.partitionBy()
    shared = per.withColumn(
        "share", F.col("n_tokens") / F.sum("n_tokens").over(total)
    )
    s = F.col("share")
    raw = (
        F.when(F.col("phase") == 1, s)
        .when(F.col("phase") == 2, F.sqrt(s * F.sqrt(s)))
        .when(F.col("phase") == 3, F.sqrt(s))
        .otherwise(F.sqrt(F.sqrt(s)))
    )
    staged = (
        shared.select(
            "stratum",
            "share",
            F.explode(F.array(*[F.lit(p) for p in range(1, phases + 1)])).alias("phase"),
        )
        # Scale raw weights to exact integers before normalizing: the
        # per-phase sum is then order-independent (no float-summation
        # nondeterminism across engines / partitionings).
        .withColumn("raw_i", F.round(raw * 1_000_000_000).cast("bigint"))
    )
    norm = Window.partitionBy("phase")
    sum_i = F.sum("raw_i").over(norm)
    return staged.select(
        F.col("phase").cast("bigint").alias("phase"),
        "stratum",
        F.round(F.lit(1.0) - 0.75 * (F.col("phase") - 1) / (phases - 1), 6).alias("alpha"),
        F.round("share", 6).alias("natural_share"),
        F.round(F.col("raw_i") / sum_i, 6).alias("weight"),
        F.floor(F.col("raw_i") * float(phase_budget_tokens) / sum_i)
        .cast("bigint")
        .alias("expected_tokens"),
    )


def subsample_ci(
    documents: DataFrame,
    replicates: int = 32,
    rate: float = 0.5,
    seed: str = "ci",
    strata_col: str = "lang",
    token_col: Column | None = None,
) -> DataFrame:
    """Deterministic subsampling confidence band for a per-stratum mean.

    Builds ``replicates`` independent half-samples (content-hash membership
    with per-replicate seeds — reproducible across engines and runs, unlike
    RNG bootstrap), computes each replicate's mean score, and reports the
    spread (min/max of replicate means) around the full exact mean — the
    cheap distribution-free error bar for corpus-stat dashboards.

    Scale: the replicate explode expands each row ×replicates BEFORE the
    map-side combine (the same pre-combine expansion as a cube's Expand),
    so shuffle volume is |strata| × replicates groups, never corpus-sized.
    Cost is replicates extra md5 evaluations per row in the scan stage —
    the knob to lower at 100 TB is ``replicates``, not the plan shape.
    """
    tok = token_col if token_col is not None else F.size(F.split(F.col("text"), " "))
    base = documents.select(
        F.col(strata_col).alias("stratum"),
        tok.cast("bigint").alias("score"),
        F.explode(
            F.array(*[F.lit(b) for b in range(replicates)])
        ).alias("rep"),
        F.col("doc_id").cast("string").alias("_key"),
    )
    # membership: bucket(seed:rep:key) < rate — one md5 per (row, replicate)
    member = base.filter(
        F.pmod(
            md5_hash32(
                F.concat(
                    F.lit(seed), F.lit(":"), F.col("rep").cast("string"),
                    F.lit(":"), F.col("_key"),
                )
            ),
            F.lit(BUCKETS),
        )
        < int(rate * BUCKETS)
    )
    rep_means = member.groupBy("stratum", "rep").agg(
        (F.sum("score") / F.count(F.lit(1))).alias("rep_mean")
    )
    spread = rep_means.groupBy("stratum").agg(
        F.round(F.min("rep_mean"), 6).alias("ci_lo"),
        F.round(F.max("rep_mean"), 6).alias("ci_hi"),
        F.count(F.lit(1)).cast("bigint").alias("n_replicates"),
    )
    full = documents.groupBy(F.col(strata_col).alias("stratum")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(F.sum(tok.cast("bigint")) / F.count(F.lit(1)), 6).alias("mean_score"),
    )
    return full.join(spread, "stratum").select(
        "stratum", "n_docs", "mean_score", "ci_lo", "ci_hi", "n_replicates"
    )


def uncertainty_sample(
    documents: DataFrame,
    threshold: int = 50,
    k: int = 5,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    num_partitions: int = 32,
) -> DataFrame:
    """Uncertainty sampling for human labeling: per stratum, the k
    documents whose quality score sits CLOSEST to the keep/drop threshold
    — the boundary cases where a label buys the most classifier
    improvement (score-certain docs teach nothing).

    Selection ranks by (|score − threshold|, doc_id) through
    :func:`iterate.ordered_prefix_sum`, so a dominant stratum never funnels
    through one task — the same scale-safe exact-ranking construction as
    sample_k_per_stratum, with the uncertainty distance as the bucket key.
    """
    from esop_spark.operators.text import quality_score_col

    scored = documents.select(
        F.col(id_col),
        F.col(strata_col),
        quality_score_col("text").alias("q"),
    ).withColumn("dist", F.abs(F.col("q") - F.lit(threshold)))
    ranked = ordered_prefix_sum(
        scored,
        [F.col("dist"), F.col(id_col).cast("string")],
        F.lit(1),
        [strata_col],
        num_partitions,
    )
    return (
        ranked.filter(F.col("cum_incl") <= k)
        .select(
            F.col(strata_col).alias("stratum"),
            F.col(id_col).cast("bigint").alias(id_col),
            F.col("q").cast("bigint").alias("quality_score"),
            F.col("dist").cast("bigint").alias("dist"),
            F.col("cum_incl").alias("rank"),
        )
    )


def token_budget_waterfill(
    documents: DataFrame,
    budget_num: int = 2,
    budget_den: int = 5,
    strata_col: str = "source",
    weights_ppm: dict[str, int] | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Token-budget allocation across strata by exact water-filling: given
    a total token budget ``B = total_tokens * budget_num // budget_den``
    and target mixture weights, each stratum receives
    ``a_s = min(cap_s, lambda * w_s)`` with the water level ``lambda``
    chosen maximally subject to ``sum(a_s) <= B`` — the standard answer to
    "we can afford 40% of the corpus; how much of each source do we take
    without over-asking tiny sources?". Strata whose whole capacity fits
    under the water level are ``saturated``; the surplus spreads over the
    rest in proportion to weight.

    Exactness: the classic sort-by-``cap/weight`` construction, done in
    integer arithmetic on the |strata|-row grain. The saturation predicate
    ``cap_i * rem_w_i <= (B - cum_cap_i) * w_i`` is prefix-monotone, so the
    water line is ``m = argmax(satisfied)`` and unsaturated strata get
    ``(B - cum_cap_m) * w_s // rem_w_m`` — no float lambda, no rounding
    drift between engines. Products are computed in DECIMAL(38,0): at
    100 TB scale (10^13 tokens x 10^6 ppm) they overflow int64 but sit
    comfortably inside 38 digits.

    Scale: one map-side-combined aggregation from the corpus to the
    |strata| grain; every window after that runs on the tiny stratum
    relation. Unlisted strata default to weight 1e6 (uniform).
    """
    tok = F.size(F.split(F.col(text_col), " ")).cast("bigint")
    caps = documents.groupBy(F.col(strata_col).alias("stratum")).agg(
        F.sum(tok).alias("cap")
    )
    if weights_ppm:
        w_col = F.lit(None).cast("bigint")
        for s, w in sorted(weights_ppm.items()):
            w_col = F.when(F.col("stratum") == s, F.lit(int(w))).otherwise(w_col)
        w_col = F.coalesce(w_col, F.lit(1_000_000))
    else:
        w_col = F.lit(1_000_000)
    d38 = "decimal(38,0)"
    base = caps.withColumn("w", w_col)
    w_all = Window.partitionBy()
    w_ord = Window.orderBy(F.expr("cap * 1000000 div w"), F.col("stratum"))
    g = (
        base.withColumn("pos", F.row_number().over(w_ord))
        .withColumn("cum_cap", F.sum("cap").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("total_cap", F.sum("cap").over(w_all))
        .withColumn("total_w", F.sum("w").over(w_all))
        .withColumn(
            "budget",
            F.expr(f"(total_cap * {budget_num}) div {budget_den}").cast("bigint"),
        )
        .withColumn("rem_w", (F.col("total_w") - F.sum("w").over(w_ord.rowsBetween(Window.unboundedPreceding, 0))).cast("bigint"))
        .withColumn(
            "sat",
            F.col("cap").cast(d38) * F.col("rem_w").cast(d38)
            <= (F.col("budget") - F.col("cum_cap")).cast(d38) * F.col("w").cast(d38),
        )
    )
    g = (
        g.withColumn("m_cum_cap", F.coalesce(F.max(F.when(F.col("sat"), F.col("cum_cap"))).over(w_all), F.lit(0)))
        .withColumn("m_rem_w", F.coalesce(F.min(F.when(F.col("sat"), F.col("rem_w"))).over(w_all), F.col("total_w")))
    )
    alloc = F.when(F.col("sat"), F.col("cap")).otherwise(
        F.when(
            F.col("m_rem_w") > 0,
            # exact floor division on the decimal product (Spark `div`
            # truncates toward zero == floor for the non-negative operands
            # here; DuckDB `//` matches)
            F.expr(
                "(CAST(budget - m_cum_cap AS DECIMAL(38,0))"
                " * CAST(w AS DECIMAL(38,0))) div m_rem_w"
            ),
        ).otherwise(F.lit(0)),
    )
    return g.select(
        "stratum",
        F.col("cap").cast("bigint").alias("cap_tokens"),
        F.col("w").cast("bigint").alias("weight_ppm"),
        F.col("pos").cast("bigint").alias("water_rank"),
        F.col("sat").alias("saturated"),
        alloc.cast("bigint").alias("allocated_tokens"),
    )


def epoch_allocation(
    documents: DataFrame,
    budget_num: int = 3,
    budget_den: int = 1,
    max_epochs: int = 4,
    strata_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Data-constrained epoch allocation (the Muennighoff-style repetition
    planner): given a token budget ``B = total_unique * budget_num //
    budget_den`` that may EXCEED the unique corpus, split it uniformly
    across sources, cap each source at ``max_epochs`` passes over its
    unique tokens, and redistribute the capped leftover to the remaining
    sources in proportion to their remaining capacity (one exact round).

    This is the complement of q145's water-fill: water-fill rations a
    budget SMALLER than the corpus; this plans repetition when the budget
    is LARGER — the "4-epoch cap" rule from data-constrained scaling.

    Exactness: all integer on the |strata| grain; DECIMAL(38,0) products
    where budget × capacity can exceed int64. The single redistribution
    round under-allocates by at most |strata| tokens (integer-division
    remainders) and never over-allocates — documented, deterministic.

    Returns ``(stratum, unique_tokens, cap_tokens, allocated_tokens,
    epochs_milli, capped)``.
    """
    tok = F.size(F.split(F.col(text_col), " ")).cast("bigint")
    uniq = documents.groupBy(F.col(strata_col).alias("stratum")).agg(
        F.sum(tok).alias("uniq")
    )
    d38 = "decimal(38,0)"
    w_all = Window.partitionBy()
    g = (
        uniq.withColumn("cap", F.col("uniq") * max_epochs)
        .withColumn("total_uniq", F.sum("uniq").over(w_all))
        .withColumn("n_strata", F.count(F.lit(1)).over(w_all))
        .withColumn(
            "budget",
            F.expr(f"(total_uniq * {budget_num}) div {budget_den}").cast(
                "bigint"
            ),
        )
        .withColumn("desired", F.expr("budget div n_strata"))
        .withColumn("alloc1", F.least("desired", "cap"))
        .withColumn("leftover", F.col("budget") - F.sum("alloc1").over(w_all))
        .withColumn("rem_cap", F.col("cap") - F.col("alloc1"))
        .withColumn("total_rem", F.sum("rem_cap").over(w_all))
    )
    alloc2 = F.when(F.col("total_rem") <= 0, F.lit(0)).otherwise(
        F.least(
            F.col("rem_cap"),
            F.expr(
                "(CAST(leftover AS DECIMAL(38,0))"
                " * CAST(rem_cap AS DECIMAL(38,0))) div total_rem"
            ).cast("bigint"),
        )
    )
    out = g.withColumn("alloc", F.col("alloc1") + alloc2)
    return out.select(
        "stratum",
        F.col("uniq").cast("bigint").alias("unique_tokens"),
        F.col("cap").cast("bigint").alias("cap_tokens"),
        F.col("alloc").cast("bigint").alias("allocated_tokens"),
        F.expr("(alloc * 1000) div uniq").cast("bigint").alias("epochs_milli"),
        (F.col("alloc") >= F.col("cap")).alias("capped"),
    )


def coverage_select(
    documents: DataFrame,
    k: int = 3,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    stats: dict | None = None,
) -> DataFrame:
    """Greedy maximum-coverage (submodular coreset) selection: pick ``k``
    documents maximizing the number of DISTINCT shingles covered — the
    facility-location/"most representative subset" primitive behind
    coreset sampling and eval-set construction. The greedy answer is
    within (1 − 1/e) of optimal; exact selection is NP-hard.

    LAZY-greedy (Minoux): gains are monotone non-increasing as coverage
    grows, so a gain computed at any earlier step is a valid upper bound
    later. We pay ONE full gains aggregation up front, then per step pull
    the top-2 bounds (2-row collect), recompute the TRUE gain of only the
    top candidate (one single-doc anti-join count, input ∝ one document),
    and accept it the moment its true gain still beats the runner-up's
    bound — identical selection and tie-break (gain desc, id asc) to
    eager greedy, at ≪ k corpus passes. Stale bounds discovered along the
    way live in a driver-side overlay (size ≤ #recomputes); if that ever
    exceeds ``_OVERLAY_CAP`` the base relation is refreshed with one full
    pass and the overlay cleared, bounding driver state at any corpus
    size. Covered shingles stay a DataFrame (anti-join), never
    driver-side, so the covered set can be corpus-sized.

    Tie-break safety: the candidate is accepted iff (true_gain, id)
    lexicographically beats (runner_up_bound, runner_up_id). Every other
    doc's true gain ≤ its bound ≤ runner-up bound, so no doc with a
    higher true gain — or equal gain and smaller id — can exist.

    ``stats`` (optional dict) is filled with ``full_gain_passes`` /
    ``single_doc_recomputes`` so tests can assert lazy evaluation pruned.
    Ties broken by doc id — deterministic, engine-portable (gains are
    exact integers). Returns (rank, doc_id, gain, covered_total).
    """
    from esop_spark.operators.dedup import shingles

    sh = shingles(documents, n=shingle_n, text_col=text_col, id_col=id_col)
    sh = sh.select(F.col(id_col).alias("did"), "shingle").persist()
    spark = documents.sparkSession
    did_type = dict(sh.dtypes)["did"]
    picked: list = []
    covered = None  # DataFrame of covered shingles
    covered_total = 0
    n_full = 0
    n_recompute = 0
    _OVERLAY_CAP = 10_000
    # all checkpoints here are loop-internal (the result is the driver-side
    # picked list), so superseded rounds release immediately and the
    # final ones before return

    def _full_gains() -> DataFrame:
        nonlocal n_full
        n_full += 1
        rem = sh
        if picked:
            rem = rem.filter(~F.col("did").isin([p[1] for p in picked]))
        if covered is not None:
            rem = rem.join(covered, "shingle", "left_anti")
        return shared_checkpoint(
            rem.groupBy("did").agg(F.count(F.lit(1)).alias("gain_ub"))
        )

    base = _full_gains()
    base_step = 1  # `base` gains are exact w.r.t. coverage at start of this step
    overlay: dict = {}  # did -> (gain_ub, step_computed); exact at step_computed

    stop = False
    for step in range(1, k + 1):
        if stop:
            break
        while True:
            if overlay:
                ov = spark.createDataFrame(
                    [(d, g, s) for d, (g, s) in overlay.items()],
                    f"did {did_type}, ov_gain bigint, ov_step int",
                )
                eff = base.join(F.broadcast(ov), "did", "left").select(
                    "did",
                    F.coalesce("ov_gain", F.col("gain_ub").cast("bigint")).alias("ub"),
                    F.coalesce("ov_step", F.lit(base_step)).alias("fstep"),
                )
            else:
                eff = base.select(
                    "did",
                    F.col("gain_ub").cast("bigint").alias("ub"),
                    F.lit(base_step).alias("fstep"),
                )
            top2 = eff.orderBy(F.desc("ub"), F.asc("did")).limit(2).collect()
            if not top2 or top2[0]["ub"] <= 0:
                stop = True
                break
            c1 = top2[0]
            if c1["fstep"] == step:  # bound is exact for current coverage
                did, gain = c1["did"], int(c1["ub"])
                break
            n_recompute += 1
            rem1 = sh.filter(F.col("did") == c1["did"])
            if covered is not None:
                rem1 = rem1.join(covered, "shingle", "left_anti")
            true_g = rem1.count()
            b2_gain = int(top2[1]["ub"]) if len(top2) > 1 else -1
            b2_did = top2[1]["did"] if len(top2) > 1 else None
            if true_g > b2_gain or (
                true_g == b2_gain and (b2_did is None or c1["did"] < b2_did)
            ):
                if true_g <= 0:
                    stop = True
                    break
                did, gain = c1["did"], true_g
                break
            overlay[c1["did"]] = (true_g, step)
            if len(overlay) > _OVERLAY_CAP:
                old_base = base
                base = _full_gains()
                release_checkpoint(old_base)
                base_step = step
                overlay = {}
        if stop:
            break
        covered_total += gain
        picked.append((step, did, gain, covered_total))
        new_cov = sh.filter(F.col("did") == did).select("shingle").distinct()
        new_covered = shared_checkpoint(
            new_cov if covered is None
            else covered.union(new_cov).distinct()
        )
        release_checkpoint(covered)
        covered = new_covered
        overlay[did] = (-1, step)  # tombstone: never re-selected
    sh.unpersist()
    release_checkpoint(base)
    release_checkpoint(covered)
    if stats is not None:
        stats["full_gain_passes"] = n_full
        stats["single_doc_recomputes"] = n_recompute
    return spark.createDataFrame(
        picked, "rank bigint, doc_id bigint, gain bigint, covered_total bigint"
    )


def conformal_calibration(
    documents: DataFrame,
    alpha_milli: int = 100,
    seed: str = "conf0",
    value_col: str = "n_chars",
    strata_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split-conformal calibration per stratum: hash-split rows 50/50 into
    calibration and test halves; the predictor is the calibration half's
    per-stratum mean of ``value_col``; the nonconformity score is
    |value − mean|; q̂ is the ⌈(n_cal+1)(1−α)⌉-th smallest calibration
    score (the finite-sample-valid order statistic, not an interpolated
    quantile); coverage is the fraction of test rows within q̂. Coverage
    materially below 1−α on some stratum means that stratum's distribution
    shifted between halves — the distribution-free QA gate for "are my
    per-source prediction intervals honest".

    Cross-engine determinism: the order statistic is rank-based on
    (score, id) — no interpolation anywhere — and means are single
    divisions of exact integer sums. ⌈(n+1)(1−α)⌉ is computed in exact
    milli-units.

    Scale shape: means and counts are stratum-grain aggs (broadcast back);
    the per-stratum ranking uses iterate.ordered_prefix_sum — range
    partition + pid-local window + broadcast offsets — so a dominant
    stratum never funnels through one task; q̂ is a |strata|-row relation.

    Output per stratum: (stratum, n_cal, n_test, q_hat, coverage,
    target)."""
    if not 0 < alpha_milli < 1000:
        raise ValueError("alpha_milli must be in (0, 1000)")
    tagged = documents.select(
        F.col(strata_col).alias("stratum"),
        F.col(id_col).alias("rid"),
        F.col(value_col).cast("bigint").alias("val"),
        (sample_bucket(F.col(id_col), seed) < BUCKETS // 2).alias("is_cal"),
    )
    stats = (
        tagged.filter("is_cal")
        .groupBy("stratum")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cal"),
            F.sum("val").cast("bigint").alias("sum_val"),
        )
        .withColumn("mean_val", F.col("sum_val") / F.col("n_cal"))
    )
    scored = tagged.join(F.broadcast(stats), "stratum").withColumn(
        "nc", F.abs(F.col("val") - F.col("mean_val"))
    )
    cal = scored.filter("is_cal")
    ranked = ordered_prefix_sum(
        cal, [F.col("nc"), F.col("rid").cast("string")], F.lit(1), ["stratum"]
    )
    # ⌈(n_cal+1)·(1−α)⌉ in exact milli-units (integer ceil), clamped to n_cal
    k_rank = F.least(
        F.expr(
            f"((n_cal + 1) * {1000 - alpha_milli} + 999) div 1000"
        ),
        F.col("n_cal"),
    )
    qhat = ranked.filter(F.col("cum_incl") == k_rank).select(
        "stratum", F.col("nc").alias("q_hat")
    )
    test = scored.filter(~F.col("is_cal")).join(F.broadcast(qhat), "stratum")
    return (
        test.groupBy("stratum")
        .agg(
            F.max("n_cal").alias("n_cal"),
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.max("q_hat").alias("qh"),
            F.sum(
                F.when(F.col("nc") <= F.col("q_hat"), 1).otherwise(0)
            ).alias("n_covered"),
        )
        .select(
            "stratum",
            "n_cal",
            "n_test",
            F.round("qh", 6).alias("q_hat"),
            F.round(F.col("n_covered") / F.col("n_test"), 6).alias(
                "coverage"
            ),
            F.round(F.lit((1000 - alpha_milli) / 1000.0), 6).alias("target"),
        )
    )


def sample_quantile_audit(
    orders: DataFrame,
    k: int = 1024,
    q_millis: tuple = (250, 500, 750, 900),
    seed: str = "sq0",
    value_col: str = "o_totalprice",
    id_col: str = "o_orderkey",
) -> DataFrame:
    """Hash-sampled quantile sketch audited against the exact order
    statistic: the bottom-``k`` rows by seeded md5 hash are a fixed-size
    uniform sample (the Efraimidis bottom-k construction q79 uses for
    weights, unweighted here); type-1 quantiles of the sample are compared
    to the exact type-1 quantiles of the full column. The question the
    sketch family answers at 100 TB: "how wrong is a k-row quantile
    estimate", measured rather than assumed — the sample path is what a
    production profiler keeps when the exact rank pass is too expensive.

    Exactness: values are integer cents; both quantile legs are RANK
    selections (rank = q·(n−1) div 1000 + 1 on (value, id) order), never
    interpolation — every reported number is a value that exists in the
    data, bit-identical across engines.

    Scale shape: the exact leg ranks with :func:`iterate.ordered_prefix_sum`
    (no single-task global window); the sample leg is a k-row TakeOrdered
    by hash, ranked locally (bounded by k). Output per quantile:
    (q_milli, exact_cents, sample_cents, err_ppm)."""
    # Round 11 (guide §5): vals is consumed by the count, the exact-rank
    # leg, and the hash-sample leg — three orders scans unpersisted.
    vals = share_relation(
        orders.select(
            F.round(F.col(value_col) * 100).cast("bigint").alias("v"),
            F.col(id_col).cast("string").alias("rid"),
        )
    )
    n_df = vals.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ranked = ordered_prefix_sum(vals, ["v", "rid"], F.lit(1))
    hashed = vals.withColumn(
        "h",
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{seed}:"), F.col("rid"))), 1, 8),
            16,
            10,
        ).cast("bigint"),
    )
    # k-row sample consumed by both the local rank and its count
    sample = share_relation(hashed.orderBy("h", "rid").limit(k))
    w = Window.orderBy("v", "rid")  # bounded by k rows — single task is fine
    s_ranked = sample.withColumn("_srn", F.row_number().over(w))
    s_n = sample.agg(F.count(F.lit(1)).cast("bigint").alias("sn"))

    # one broadcast rank-spec join per leg (not |q_millis| filter+join
    # pairs): the spec relation is |q_millis| rows of (q, target rank)
    spark = orders.sparkSession
    q_rows = spark.createDataFrame(
        [(int(q),) for q in q_millis], "q_milli bigint"
    )
    ex_spec = q_rows.crossJoin(F.broadcast(n_df)).select(
        "q_milli", F.expr("q_milli * (n - 1) div 1000 + 1").alias("_rk")
    )
    s_spec = q_rows.crossJoin(F.broadcast(s_n)).select(
        "q_milli", F.expr("q_milli * (sn - 1) div 1000 + 1").alias("_rk")
    )
    exact = ranked.join(
        F.broadcast(ex_spec), F.col("cum_incl") == F.col("_rk")
    ).select("q_milli", F.col("v").alias("exact_cents"))
    samp = s_ranked.join(
        F.broadcast(s_spec), F.col("_srn") == F.col("_rk")
    ).select("q_milli", F.col("v").alias("sample_cents"))
    out = exact.join(samp, "q_milli")
    return out.select(
        "q_milli",
        "exact_cents",
        "sample_cents",
        F.round(
            (F.col("sample_cents") - F.col("exact_cents"))
            * 1e6
            / F.col("exact_cents")
        )
        .cast("bigint")
        .alias("err_ppm"),
    )


def robust_profile(
    documents: DataFrame,
    value_col: str = "n_chars",
    strata_col: str = "source",
    id_col: str = "doc_id",
    k_sigma: float = 3.0,
) -> DataFrame:
    """Per-stratum robust location/scale profile: exact median, exact MAD
    (median of |x − med|), and the count of |x − med| > k·1.4826·MAD
    outliers. q267's Hampel filter does this over TIME on the bounded day
    grain; this is the per-SOURCE version where the value domain is
    unbounded, so both medians are rank selections via
    :func:`iterate.ordered_prefix_sum` (range partition + broadcast
    offsets — a dominant source never funnels through one task).

    Exactness: medians are (lo+hi)/2 of bigint order statistics — the
    same double in any engine; MAD likewise over exact |x − med| values
    scaled ×2 to stay integral (|x − (lo+hi)/2|·2 = |2x − lo − hi|).

    Output per stratum: (stratum, n, median_val, mad, n_outliers)."""
    vals = documents.select(
        F.col(strata_col).alias("stratum"),
        F.col(value_col).cast("bigint").alias("x"),
        F.col(id_col).cast("string").alias("rid"),
    )
    # Round 11 (guide §5): counts/med/mad are stratum-grain (tiny) but
    # their subtrees each contain a full distributed rank; unpersisted,
    # the final report plan re-evaluated the median rank ~4x and the MAD
    # rank twice (20 scans / 86 Exchanges in the before plan).
    counts = share_relation(
        vals.groupBy("stratum").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )
    )
    r1 = ordered_prefix_sum(vals, ["x", "rid"], F.lit(1), ["stratum"])
    med = (
        r1.join(F.broadcast(counts), "stratum")
        .filter(
            (F.col("cum_incl") == F.expr("(n + 1) div 2"))
            | (F.col("cum_incl") == F.expr("n div 2 + 1"))
        )
        .groupBy("stratum")
        # ×2 median stays integral: lo + hi exactly
        .agg(F.sum("x").cast("bigint").alias("med2x"))
    )
    # when n is odd the two rank predicates select the SAME row once, so
    # med2x holds 1× the middle value — normalize to 2× for uniform math
    med = share_relation(
        med.join(F.broadcast(counts), "stratum")
        .select(
            "stratum",
            F.when(F.col("n") % 2 == 1, F.col("med2x") * 2)
            .otherwise(F.col("med2x"))
            .alias("med2x"),
        )
    )
    dev = vals.join(F.broadcast(med), "stratum").select(
        "stratum",
        "rid",
        "x",
        F.abs(2 * F.col("x") - F.col("med2x")).alias("d2x"),  # 2·|x−med|
    )
    r2 = ordered_prefix_sum(dev, ["d2x", "rid"], F.lit(1), ["stratum"])
    mad = share_relation(
        r2.join(F.broadcast(counts), "stratum")
        .filter(
            (F.col("cum_incl") == F.expr("(n + 1) div 2"))
            | (F.col("cum_incl") == F.expr("n div 2 + 1"))
        )
        .groupBy("stratum")
        .agg(F.sum("d2x").cast("bigint").alias("mad4x"))
        .join(F.broadcast(counts), "stratum")
        .select(
            "stratum",
            F.when(F.col("n") % 2 == 1, F.col("mad4x") * 2)
            .otherwise(F.col("mad4x"))
            .alias("mad4x"),  # 4·MAD exactly
        )
    )
    flagged = (
        dev.join(F.broadcast(mad), "stratum")
        .groupBy("stratum")
        .agg(
            F.sum(
                # |x−med| > k·1.4826·MAD  ⇔  2·d2x > k·1.4826·mad4x
                F.when(
                    F.col("d2x") * 2
                    > F.lit(k_sigma * 1.4826) * F.col("mad4x"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers")
        )
    )
    return (
        counts.join(med, "stratum")
        .join(mad, "stratum")
        .join(flagged, "stratum")
        .select(
            "stratum",
            "n",
            F.round(F.col("med2x") / 2.0, 6).alias("median_val"),
            F.round(F.col("mad4x") / 4.0, 6).alias("mad"),
            "n_outliers",
        )
    )


def median_ci(
    orders: DataFrame,
    z_milli: int = 1960,
    value_col: str = "o_totalprice",
    id_col: str = "o_orderkey",
) -> DataFrame:
    """Distribution-free confidence interval for the MEDIAN by order
    statistics: the interval [x_(l), x_(u)] with l = ⌊(n − z√n)/2⌋,
    u = n − l + 1 covers the true median at ≈ the z-level regardless of
    the value distribution (the binomial/normal rank bound — no variance
    estimate, no bootstrap). q131's subsample CI needs resamples; this
    needs ONE ranking and two rank probes — the cheap exact answer for
    "how sure are we about the median" at any scale.

    All three reported values are rank selections on (value, id) — data
    values, never interpolations; l/u derive from n by the same double
    formula in both engines.

    Output one row: (n, lo_rank, hi_rank, median_cents, ci_lo_cents,
    ci_hi_cents)."""
    # Round 11 (guide §5): consumed by the rank-spec count and the rank
    vals = share_relation(
        orders.select(
            F.round(F.col(value_col) * 100).cast("bigint").alias("v"),
            F.col(id_col).cast("string").alias("rid"),
        )
    )
    n_df = vals.agg(F.count(F.lit(1)).cast("bigint").alias("n")).select(
        "n",
        F.greatest(
            F.lit(1).cast("bigint"),
            F.floor(
                (F.col("n") - F.lit(z_milli / 1000.0) * F.sqrt(F.col("n")))
                / 2
            ).cast("bigint"),
        ).alias("lo_rank"),
    ).select(
        "n",
        "lo_rank",
        (F.col("n") - F.col("lo_rank") + 1).alias("hi_rank"),
    )
    ranked = ordered_prefix_sum(vals, ["v", "rid"], F.lit(1))
    probed = ranked.crossJoin(F.broadcast(n_df)).filter(
        (F.col("cum_incl") == F.col("lo_rank"))
        | (F.col("cum_incl") == F.col("hi_rank"))
        | (F.col("cum_incl") == F.expr("(n + 1) div 2"))
        | (F.col("cum_incl") == F.expr("n div 2 + 1"))
    )
    return probed.groupBy("n", "lo_rank", "hi_rank").agg(
        F.round(
            F.avg(
                F.when(
                    (F.col("cum_incl") == F.expr("(n + 1) div 2"))
                    | (F.col("cum_incl") == F.expr("n div 2 + 1")),
                    F.col("v"),
                )
            ),
            6,
        ).alias("median_cents"),
        F.min(
            F.when(F.col("cum_incl") == F.col("lo_rank"), F.col("v"))
        ).alias("ci_lo_cents"),
        F.min(
            F.when(F.col("cum_incl") == F.col("hi_rank"), F.col("v"))
        ).alias("ci_hi_cents"),
    )
