"""General analytics operator surface (SURVEY.md §2.10 Q13–Q18, Q20).

The reference's relational core (scans → filters → joins → aggregations →
windows, SURVEY.md §2.2–2.6) generalized to the full Spark operator surface on
the TPC-H-ish fixture tables. These are thin, well-typed compositions of
DataFrame primitives — Catalyst handles pushdown, join strategy (broadcast for
the small dims), partial aggregation and AQE re-planning.

Cross-engine determinism conventions (shared with the DuckDB oracle):
- Money/quantity aggregates are computed in exact integer *cents*
  (``CAST(ROUND(x*100) AS BIGINT)``): float summation order never matters.
- Time predicates/buckets use epoch arithmetic (``unix_timestamp``), never
  calendar functions, so results are session-timezone-independent.
- Top-k orderings always carry a unique tiebreaker column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from esop_spark.operators.iterate import share_relation


def cents(col: Column | str) -> Column:
    """Exact integer cents of a ~2-decimal double column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("bigint")


def filter_project(
    lineitem: DataFrame, start_epoch_s: int, end_epoch_s: int
) -> DataFrame:
    """Q13: predicate + projection; filters reach the parquet scan."""
    # timestamp_seconds(lit) builds the bound from the epoch directly — both
    # session-timezone-independent AND constant-foldable, so the comparison
    # is pushed down into the parquet scan (unix_timestamp(col) would not be)
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.timestamp_seconds(F.lit(start_epoch_s)))
            & (F.col("l_shipdate") < F.timestamp_seconds(F.lit(end_epoch_s)))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue_cents"
            ),
        )
    )


def join_agg(orders: DataFrame, customer: DataFrame, nation: DataFrame) -> DataFrame:
    """Q14: orders ⨝ customer ⨝ nation (broadcast dim) → per-(nation,
    priority) order count + total price."""
    return (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("order_count"),
            F.sum(cents("o_totalprice")).cast("bigint").alias("total_cents"),
        )
    )


def group_agg(lineitem: DataFrame) -> DataFrame:
    """Q15: TPC-H Q1-style pricing summary — sum/avg/countDistinct."""
    return (
        lineitem.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(cents("l_quantity")).cast("bigint").alias("sum_qty_cents"),
            F.sum(cents("l_extendedprice")).cast("bigint").alias("sum_price_cents"),
            F.count(F.lit(1)).cast("bigint").alias("count_rows"),
            F.countDistinct("l_orderkey").cast("bigint").alias("distinct_orders"),
        )
        .withColumn(
            "avg_qty",
            (F.col("sum_qty_cents").cast("double") / F.col("count_rows") / 100.0),
        )
    )


def window_rank(orders: DataFrame, k: int = 3, salt_buckets: int = 64) -> DataFrame:
    """Q16: top-k orders per priority by price (unique tiebreak on key).

    Two-phase salted top-k: a bare ``Window.partitionBy(priority)`` funnels
    the whole table through |priorities| ≤ 5 reducers — the 100 TB
    straggler. Phase 1 ranks within (priority, salt) — ``salt_buckets``×
    the parallelism, each group ~1/salt of its priority — and keeps k per
    bucket; the true per-priority top-k is necessarily within its
    bucket's top-k, so phase 2 re-ranks only the ≤|priorities|·salt·k
    survivors (a few hundred rows). Salting never changes the RESULT, so
    the engine-internal hash is fine here (no cross-engine replay
    needed)."""
    salt = F.pmod(F.hash("o_orderkey"), F.lit(salt_buckets))
    w1 = Window.partitionBy("o_orderpriority", "_salt").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    survivors = (
        orders.withColumn("_salt", salt)
        .withColumn("_rn1", F.row_number().over(w1))
        .filter(F.col("_rn1") <= k)
    )
    w2 = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        survivors.withColumn("rn", F.row_number().over(w2).cast("bigint"))
        .filter(F.col("rn") <= k)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rn")
    )


def rollup_agg(lineitem: DataFrame) -> DataFrame:
    """Q17: rollup subtotals + grand total."""
    return lineitem.rollup("l_returnflag", "l_linestatus").agg(
        F.sum(cents("l_quantity")).cast("bigint").alias("sum_qty_cents"),
        F.count(F.lit(1)).cast("bigint").alias("count_rows"),
    )


def top_k(customer: DataFrame, k: int = 10) -> DataFrame:
    """Q18: global top-k by balance (tiebreak on key). Spark executes
    sort+limit as a TakeOrderedAndProject — no full sort at scale."""
    return (
        customer.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
        .limit(k)
        .select("c_custkey", "c_name", "c_acctbal")
    )


def anti_semi_counts(customer: DataFrame, orders: DataFrame, nation: DataFrame) -> DataFrame:
    """Q19-join: per-nation counts of customers with and without orders
    (left_semi / left_anti legs of the same shuffle-free broadcast plan)."""
    okeys = orders.select("o_custkey").distinct()
    with_orders = (
        customer.join(okeys, customer["c_custkey"] == okeys["o_custkey"], "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("with_orders"))
    )
    without_orders = (
        customer.join(okeys, customer["c_custkey"] == okeys["o_custkey"], "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("without_orders"))
    )
    return (
        F.broadcast(nation)
        .join(with_orders, nation["n_nationkey"] == with_orders["c_nationkey"], "left")
        .drop("c_nationkey")
        .join(without_orders, nation["n_nationkey"] == without_orders["c_nationkey"], "left")
        .select(
            "n_name",
            F.coalesce("with_orders", F.lit(0)).cast("bigint").alias("with_orders"),
            F.coalesce("without_orders", F.lit(0)).cast("bigint").alias("without_orders"),
        )
    )


def salted_agg(
    df: DataFrame,
    keys: list[str],
    sum_cols: list[str],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase salted aggregation for skewed group keys.

    Phase 1 aggregates on (key, salt) — the hot key's rows spread over
    ``salt_buckets`` reducers; phase 2 merges the per-salt partials. Counts
    and sums compose exactly, so results equal the direct groupBy. At 100 TB
    this is the fallback when AQE's skew handling isn't enough (e.g. one
    object_key referenced by millions of manifests).
    """
    salted = df.withColumn(
        "_salt", (F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets))).cast("int")
    )
    phase1 = salted.groupBy(*keys, "_salt").agg(
        F.count(F.lit(1)).alias("_cnt"),
        *[F.sum(c).alias(f"_sum_{c}") for c in sum_cols],
    )
    return phase1.groupBy(*keys).agg(
        F.sum("_cnt").cast("bigint").alias("count_rows"),
        *[F.sum(f"_sum_{c}").alias(f"sum_{c}") for c in sum_cols],
    )


def cube_agg(lineitem: DataFrame) -> DataFrame:
    """Q32: full cube over (returnflag, linestatus)."""
    return lineitem.cube("l_returnflag", "l_linestatus").agg(
        F.sum(cents("l_quantity")).cast("bigint").alias("sum_qty_cents"),
        F.count(F.lit(1)).cast("bigint").alias("count_rows"),
    )


def sliding_window_agg(
    events: DataFrame, width_s: int = 1800, slide_s: int = 900, ts_col: str = "ts"
) -> DataFrame:
    """Q33: sliding event-time windows in batch — each event explodes into
    width/slide windows (the same window set Structured Streaming's
    F.window(ts, width, slide) assigns)."""
    n = width_s // slide_s
    offsets = F.array(*[F.lit(k) for k in range(n)])
    e = events.select(
        F.col(ts_col), F.explode(offsets).alias("k")
    ).withColumn(
        "window_start_epoch",
        F.expr(f"(unix_timestamp({ts_col}) div {slide_s}) * {slide_s}") - F.col("k") * slide_s,
    )
    return e.groupBy("window_start_epoch").agg(
        F.count(F.lit(1)).cast("bigint").alias("events")
    )


def grouping_sets_agg(lineitem: DataFrame) -> DataFrame:
    """Q42: explicit grouping sets — per-flag, per-status, and grand total
    (the general form behind rollup/cube). GROUPING() masks disambiguate
    real NULLs from subtotal rows."""
    spark = lineitem.sparkSession
    lineitem.createOrReplaceTempView("_gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
               CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
               CAST(COUNT(*) AS BIGINT) AS count_rows
        FROM _gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


def pivot_counts(lineitem: DataFrame) -> DataFrame:
    """Q43: pivot — linestatus values become columns, counted per returnflag.

    Values are enumerated explicitly (required for a deterministic schema at
    scale; implicit pivot would scan once just to discover them)."""
    return (
        lineitem.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.count(F.lit(1)))
        .select(
            "l_returnflag",
            F.coalesce(F.col("F"), F.lit(0)).cast("bigint").alias("status_f"),
            F.coalesce(F.col("O"), F.lit(0)).cast("bigint").alias("status_o"),
        )
    )


def range_join(
    ranges: DataFrame,
    points: DataFrame,
    start_col: str,
    end_col: str,
    point_col: str,
    bucket_width: int,
) -> DataFrame:
    """Q41: interval containment join (point ∈ [start, end]) via bucketized
    equi-join.

    A naive theta join is a cross product; instead each range explodes into
    its covered buckets and each point maps to one bucket, so the join is an
    equi-join on bucket id + residual filter. Cost ∝ rows × (range_width /
    bucket_width) — linear, shuffle on a uniform key, survives 100× scale-up.
    All columns are epoch-seconds BIGINTs.
    """
    r = ranges.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                (F.col(start_col) / bucket_width).cast("bigint"),
                (F.col(end_col) / bucket_width).cast("bigint"),
            )
        ),
    )
    p = points.withColumn("_bucket", (F.col(point_col) / bucket_width).cast("bigint"))
    return (
        r.join(p, "_bucket")
        .filter(
            (F.col(point_col) >= F.col(start_col))
            & (F.col(point_col) <= F.col(end_col))
        )
        .drop("_bucket")
    )


def sketch_distinct(
    df: DataFrame, keys: list[str], col: str, rsd: float = 0.02
) -> DataFrame:
    """HLL++ approximate distinct counts per group — the sketch path for
    cardinalities where exact countDistinct's expand+double-shuffle is too
    expensive. Mergeable across partitions (one pass, map-side partials).
    Verified against exact counts within rsd tolerance in tests (approx
    results are engine-specific, so no DuckDB hash-match)."""
    return df.groupBy(*keys).agg(
        F.approx_count_distinct(col, rsd).alias("approx_distinct"),
        F.count(F.lit(1)).cast("bigint").alias("rows"),
    )


def percentiles(orders: DataFrame) -> DataFrame:
    """Q38: exact interpolated percentiles per group (Spark `percentile`;
    approx_percentile is the sketch variant for wide-cardinality keys)."""
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.95)"), 4).alias("p95"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    partition_cols: list[str],
    ts_col: str,
    value_col: str,
    value_alias: str = "asof_value",
) -> DataFrame:
    """Q36: as-of join — for each left row, the latest right row with
    ``right.ts <= left.ts`` within the partition.

    Implemented as tagged-union + running ``last(ignorenulls)`` window — one
    shuffle on the partition key, NO range-condition join (a theta join would
    cross-product within partitions; this stays O(n log n) sort-based and
    survives 100× scale-up). Ties at equal ts: the right row applies
    (ordered before the left row at the same timestamp).

    The overhang commit-log rule (W5) is the 1-row inverse of this operator.
    """
    lt = left.withColumn("_is_right", F.lit(0)).withColumn(
        "_rv", F.lit(None).cast(right.schema[value_col].dataType)
    )
    rt = right.select(
        *partition_cols,
        ts_col,
        F.lit(1).alias("_is_right"),
        F.col(value_col).alias("_rv"),
    )
    unioned = lt.unionByName(rt, allowMissingColumns=True)
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(F.col(ts_col).asc(), F.col("_is_right").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = unioned.withColumn(
        value_alias, F.last(F.when(F.col("_is_right") == 1, F.col("_rv")), ignorenulls=True).over(w)
    )
    return out.filter(F.col("_is_right") == 0).drop("_is_right", "_rv")


def sessionize(
    events: DataFrame,
    gap_s: int = 1800,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Q37: gap-based sessionization — a new session starts when the gap to
    the previous event of the same user exceeds ``gap_s``.

    lag + running sum over one per-user window: a single shuffle on the user
    key; session assignment is O(n) per user after the sort. (The streaming
    counterpart is F.session_window / applyInPandasWithState.)
    """
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col).asc(), F.col(id_col).asc())
    ts_ms = F.unix_millis(F.col(ts_col))
    prev = F.lag(ts_ms).over(w)
    new_session = F.when(
        prev.isNull() | (ts_ms - prev > gap_s * 1000), F.lit(1)
    ).otherwise(F.lit(0))
    with_sess = events.withColumn(
        "session_id",
        F.sum(new_session).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("bigint"),
    )
    return with_sess.groupBy(user_col, "session_id").agg(
        F.min(ts_ms).cast("bigint").alias("session_start_ms"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )


def tumbling_window_agg(
    events: DataFrame, width_s: int = 3600, ts_col: str = "ts"
) -> DataFrame:
    """Q20: tumbling event-time windows via epoch bucketing.

    Batch equivalent of ``F.window(ts, ...)`` — the streaming counterpart
    lives in esop_spark.streaming. Epoch arithmetic keeps the bucket edges
    timezone-independent and oracle-comparable.
    """
    bucket = F.expr(f"(unix_timestamp({ts_col}) div {width_s}) * {width_s}")
    return (
        events.withColumn("window_start_epoch", bucket)
        .groupBy("window_start_epoch", "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("events"),
            F.sum(cents("value")).cast("bigint").alias("value_cents"),
        )
    )


def funnel(
    events: DataFrame,
    stages: tuple[str, ...],
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Q97: ordered funnel — per user, stage k+1 counts only if an event of
    that type occurs STRICTLY after the event that completed stage k.

    One shuffle on the user key; the per-user event list is folded JVM-side
    with ``F.aggregate`` (state = (stages reached, last stage ts)), so the
    sequential semantics cost no second pass and no Python. Output is one
    row per stage with the conversion rate from the previous stage. State
    per user is bounded by events-per-user, not corpus size; timestamps are
    compared at microsecond precision so the strict-after test agrees with
    engines that keep native micros.
    """
    per_user = (
        events.select(
            F.col(user_col).alias("user_id"),
            F.unix_micros(F.col(ts_col)).alias("ts_us"),
            F.col(id_col).alias("eid"),
            F.col(type_col).alias("etype"),
        )
        .groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("ts_us", "eid", "etype"))
            ).alias("evs")
        )
    )
    return _funnel_report(per_user, stages, "n_users")


def _funnel_report(
    grouped: DataFrame, stages: tuple[str, ...], count_name: str
) -> DataFrame:
    """Shared funnel tail: fold each group's sorted ``evs`` list through the
    strict-after stage machine, then emit the n_stages-row report (the
    previous-stage count is carried inline in the unpivot — no window)."""
    n = len(stages)
    stage_arr = F.array(*[F.lit(s) for s in stages])
    init = F.struct(
        F.lit(0).cast("int").alias("k"), F.lit(-1).cast("bigint").alias("t")
    )

    def step(acc: Column, ev: Column) -> Column:
        qualifies = (
            (acc["k"] < n)
            & (ev["etype"] == F.element_at(stage_arr, acc["k"] + 1))
            & ((acc["k"] == 0) | (ev["ts_us"] > acc["t"]))
        )
        return F.when(
            qualifies,
            F.struct(
                (acc["k"] + 1).cast("int").alias("k"),
                ev["ts_us"].cast("bigint").alias("t"),
            ),
        ).otherwise(acc)

    reached = grouped.select(
        F.aggregate("evs", init, step)["k"].alias("reached")
    )
    counts = reached.agg(
        *[
            F.sum(F.when(F.col("reached") >= i + 1, 1).otherwise(0))
            .cast("bigint")
            .alias(f"n{i}")
            for i in range(n)
        ]
    )
    stack_args = ", ".join(
        f"{i}, '{stages[i]}', n{i}, n{max(i - 1, 0)}" for i in range(n)
    )
    return counts.selectExpr(
        f"stack({n}, {stack_args}) AS (stage_idx, stage, cnt, prev_cnt)"
    ).select(
        F.col("stage_idx").cast("bigint").alias("stage_idx"),
        "stage",
        F.col("cnt").alias(count_name),
        F.round(
            F.col("cnt") / F.nullif(F.col("prev_cnt"), F.lit(0)), 6
        ).alias("conv_from_prev"),
    )


def funnel_in_session(
    events: DataFrame,
    stages: tuple[str, ...],
    gap_s: int = 1800,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Q107: funnel completion WITHIN a gap-based session — the product-
    analytics variant where stages must all happen in one visit.

    Session assignment is the q37 per-user lag+running-sum window; the
    fold then groups by (user, session) — same single user-key shuffle
    (the session window and the grouping co-partition on the user hash),
    same strict-after stage machine, counts are sessions not users.
    """
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    ts_ms = F.unix_millis(F.col(ts_col))
    prev = F.lag(ts_ms).over(w)
    new_session = F.when(
        prev.isNull() | (ts_ms - prev > gap_s * 1000), F.lit(1)
    ).otherwise(F.lit(0))
    sess = events.withColumn(
        "session_id",
        F.sum(new_session)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint"),
    )
    per_session = (
        sess.select(
            F.col(user_col).alias("user_id"),
            "session_id",
            F.unix_micros(F.col(ts_col)).alias("ts_us"),
            F.col(id_col).alias("eid"),
            F.col(type_col).alias("etype"),
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("ts_us", "eid", "etype"))
            ).alias("evs")
        )
    )
    return _funnel_report(per_session, stages, "n_sessions")


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Q98: weekly cohort retention — users grouped by first-activity epoch
    day, activity bucketed into 7-day offsets from that day.

    Two aggregations: first-day per user (shuffle on user), then distinct
    users per (cohort_day, week_offset) — the second grain is tiny
    (cohorts × offsets). Epoch-day arithmetic keeps bucket edges
    timezone-independent. At scale the events⋈firsts join is a sort-merge
    co-partitioned on the user key with the producing aggregate.
    """
    day = (F.unix_millis(F.col(ts_col)) / F.lit(86400000)).cast("bigint")
    acts = events.select(F.col(user_col).alias("user_id"), day.alias("day"))
    firsts = acts.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    cohort_sizes = firsts.groupBy("cohort_day").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_users")
    )
    ret = (
        acts.join(firsts, "user_id")
        .withColumn(
            "week_offset",
            ((F.col("day") - F.col("cohort_day")) / F.lit(7)).cast("bigint"),
        )
        .groupBy("cohort_day", "week_offset")
        .agg(F.count_distinct("user_id").cast("bigint").alias("n_users"))
    )
    return ret.join(cohort_sizes, "cohort_day").select(
        "cohort_day",
        "week_offset",
        "n_users",
        F.round(F.col("n_users") / F.col("cohort_users"), 6).alias(
            "retention_frac"
        ),
    )


def event_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Q99: first-order Markov transition matrix of event types — counts
    and row-normalized probabilities of (type → next type) per user stream.

    One per-user window (lead) over the event shuffle, then an aggregation
    to the type-pair grain; the row-normalizing window runs over that
    |types|² relation, never per-event. Ordering ties break on event id.
    """
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    pairs = (
        events.select(
            F.col(user_col).alias("user_id"),
            F.col(type_col).alias("from_type"),
            F.lead(F.col(type_col)).over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    totals = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(totals), 6).alias("prob"),
    )


def mergeable_stats(
    df: DataFrame, key_col: str, val_col: str
) -> DataFrame:
    """Per-key mergeable moment sketch: (n, sum, sumsq, min, max). The
    associative-commutative form that makes incremental corpus statistics
    possible — partial states from any partitioning (today's delta, last
    release, per-shard) combine with :func:`merge_stats` into exactly the
    stats a from-scratch pass would produce."""
    v = F.col(val_col).cast("double")
    return df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(v).alias("s"),
        F.sum(v * v).alias("s2"),
        F.min(v).alias("mn"),
        F.max(v).alias("mx"),
    )


def merge_stats(a: DataFrame, b: DataFrame) -> DataFrame:
    """Combine two mergeable-stat relations (union + one tiny key-grain
    aggregation). This is incremental view maintenance for statistics: a
    100 TB corpus re-stats only the DELTA, then merges — never rescans."""
    return (
        a.unionByName(b)
        .groupBy("key")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("s").alias("s"),
            F.sum("s2").alias("s2"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )
    )


def finalize_stats(stats: DataFrame) -> DataFrame:
    """Resolve the moment sketch to the human stats (mean, population
    variance, min, max) — a pure projection on the key grain."""
    n = F.col("n").cast("double")
    mean = F.col("s") / n
    return stats.select(
        "key",
        "n",
        F.round(mean, 6).alias("mean"),
        F.round(F.col("s2") / n - mean * mean, 6).alias("variance"),
        F.round("mn", 6).alias("min_val"),
        F.round("mx", 6).alias("max_val"),
    )


def pmc_segments(
    events: DataFrame,
    eps: float,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    val_col: str = "value",
) -> DataFrame:
    """Q110: error-bounded piecewise-constant compression census (the
    PMC-MR greedy from model-based time-series storage, ModelarDB,
    VLDB'18): walking each user's value stream in time order, a segment
    extends while (running max − running min) ≤ 2ε — representing the
    segment by its midpoint then guarantees |x − rep| ≤ ε for every
    point. Reports per-series how many segments the stream compresses to.

    Same single-shuffle fold skeleton as :func:`funnel`: sort the per-user
    struct list, fold JVM-side with ``F.aggregate`` (state = segment
    count + running min/max). Sequential-greedy semantics cost one pass;
    state is O(1) per series.
    """
    per_user = (
        events.select(
            F.col(user_col).alias("user_id"),
            F.unix_micros(F.col(ts_col)).alias("ts_us"),
            F.col(id_col).alias("eid"),
            F.col(val_col).cast("double").alias("v"),
        )
        .groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("ts_us", "eid", "v"))
            ).alias("evs")
        )
    )
    init = F.struct(
        F.lit(0).cast("int").alias("segs"),
        F.lit(0.0).alias("mn"),
        F.lit(0.0).alias("mx"),
    )
    width = 2.0 * eps

    def step(acc: Column, ev: Column) -> Column:
        nmn = F.least(acc["mn"], ev["v"])
        nmx = F.greatest(acc["mx"], ev["v"])
        fresh = F.struct(
            (acc["segs"] + 1).cast("int").alias("segs"),
            ev["v"].alias("mn"),
            ev["v"].alias("mx"),
        )
        extend = F.struct(
            acc["segs"].alias("segs"), nmn.alias("mn"), nmx.alias("mx")
        )
        return F.when(acc["segs"] == 0, fresh).otherwise(
            F.when(nmx - nmn <= width, extend).otherwise(fresh)
        )

    folded = per_user.select(
        "user_id",
        F.size("evs").cast("bigint").alias("n_points"),
        F.aggregate("evs", init, step)["segs"].cast("bigint").alias("n_segments"),
    )
    return folded.select(
        "user_id",
        "n_points",
        "n_segments",
        F.round(F.col("n_points") / F.col("n_segments"), 6).alias(
            "points_per_segment"
        ),
    )


def window_anomalies(
    events: DataFrame,
    width_s: int = 3600,
    z_tau: float = 2.0,
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Q111: volume-anomaly detection — tumbling-window event counts per
    type, z-scored against that type's own across-window distribution;
    windows with |z| ≥ ``z_tau`` are flagged.

    Window counts are one corpus aggregation; the per-type mean/std come
    from a second aggregation over the WINDOW-GRAIN relation (windows ×
    types rows — tiny), broadcast back. Integer counts keep every sum
    exact, so the z-scores are order-independent cross-engine.
    """
    bucket = F.expr(f"(unix_timestamp({ts_col}) div {width_s}) * {width_s}")
    counts = (
        events.withColumn("window_start_epoch", bucket)
        .groupBy("window_start_epoch", type_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    stats = counts.groupBy(type_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_windows"),
        F.sum("n").alias("s"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
    )
    joined = counts.join(F.broadcast(stats), type_col)
    mean = F.col("s") / F.col("n_windows")
    var = F.col("s2") / F.col("n_windows") - mean * mean
    z = (F.col("n") - mean) / F.sqrt(var)
    return (
        joined.select(
            "window_start_epoch",
            F.col(type_col).alias("event_type"),
            "n",
            F.round(z, 6).alias("z"),
        )
        .filter(F.abs(F.col("z")) >= z_tau)
    )


def interevent_gaps(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Q113: inter-event latency distribution — per event type, exact
    interpolated percentiles of the gap (ms) since the user's previous
    event of any type.

    One per-user lag window over the user shuffle, then a percentile
    aggregation on the |types| grain. Exact percentiles need the per-type
    value multiset on one reducer — |types| keys spread across reducers;
    for wide-cardinality keys swap `percentile` for the
    `approx_percentile` sketch (same call shape, mergeable).
    """
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    ts_ms = F.unix_millis(F.col(ts_col))
    gaps = events.select(
        F.col(type_col).alias("event_type"),
        (ts_ms - F.lag(ts_ms).over(w)).alias("gap_ms"),
    ).filter(F.col("gap_ms").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.round(F.expr("percentile(gap_ms, 0.5)"), 4).alias("p50_ms"),
        F.round(F.expr("percentile(gap_ms, 0.9)"), 4).alias("p90_ms"),
        F.round(F.expr("percentile(gap_ms, 0.99)"), 4).alias("p99_ms"),
    )


def session_cooccurrence(
    events: DataFrame,
    gap_s: int = 1800,
    top_k: int = 20,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Q114: market-basket support counting over sessions — for every
    unordered event-type pair, in how many (user, session) baskets both
    occur, plus the support fraction. The association-rule-mining
    primitive, with gap-based sessions as baskets.

    Session window + distinct (session, type) agg share one user-key
    shuffle; the pair explosion happens on the per-session DISTINCT type
    list (≤|types| long), so candidate volume is sessions·|types|², never
    corpus-sized. Top-k by (support desc, pair asc) is a TakeOrdered.
    """
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    ts_ms = F.unix_millis(F.col(ts_col))
    prev = F.lag(ts_ms).over(w)
    new_session = F.when(
        prev.isNull() | (ts_ms - prev > gap_s * 1000), F.lit(1)
    ).otherwise(F.lit(0))
    sess = events.withColumn(
        "session_id",
        F.sum(new_session)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint"),
    )
    baskets = (
        sess.groupBy(user_col, "session_id")
        .agg(F.array_sort(F.collect_set(type_col)).alias("types"))
    )
    n_baskets = baskets.select(
        F.count(F.lit(1)).cast("bigint").alias("n_baskets")
    )
    pairs_arr = F.filter(
        F.flatten(
            F.transform(
                F.col("types"),
                lambda a: F.transform(
                    F.col("types"),
                    lambda b: F.when(a < b, F.struct(a.alias("ta"), b.alias("tb"))),
                ),
            )
        ),
        lambda s: s.isNotNull(),
    )
    support = (
        baskets.select(F.explode(pairs_arr).alias("p"))
        .groupBy(F.col("p.ta").alias("type_a"), F.col("p.tb").alias("type_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
    )
    return (
        support.crossJoin(F.broadcast(n_baskets))
        .select(
            "type_a",
            "type_b",
            "n_sessions",
            F.round(F.col("n_sessions") / F.col("n_baskets"), 6).alias(
                "support"
            ),
        )
        .orderBy(F.desc("n_sessions"), "type_a", "type_b")
        .limit(top_k)
    )


def dau_wau_stickiness(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    window_days: int = 7,
) -> DataFrame:
    """Daily/weekly active users and stickiness (DAU/WAU) per epoch day.

    The trailing-window distinct is computed WITHOUT a per-day window or a
    day×user range join: each distinct (user, day) activity is exploded to
    the ``window_days`` report days it covers (a bounded 7× pre-combine
    expansion, the cube-Expand argument), then one distinct+count per day.
    Shuffle volume ∝ distinct (user, day) pairs × window — never a
    quadratic day-range join, no single-task window. Only days with ≥1
    event are reported (the inner join against the DAU grain).
    """
    day = (F.unix_millis(F.col(ts_col)) / F.lit(86400000)).cast("bigint")
    ud = events.select(F.col(user_col).alias("user_id"), day.alias("day")).distinct()
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("dau"))
    cover = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.col("day") + F.lit(window_days - 1))
        ).alias("day"),
    ).distinct()
    wau = cover.groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("wau"))
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        F.round(F.col("dau") / F.col("wau"), 6).alias("stickiness"),
    )


def json_props_rollup(
    events: DataFrame,
    key: str = "k",
    type_col: str = "event_type",
    props_col: str = "props",
) -> DataFrame:
    """Semi-structured rollup: extract an integer key from the JSON props
    payload and aggregate it per event type — the canonical JSON-column
    probe (get_json_object stays JVM-side inside the scan projection, so
    the parse cost is scan-shaped and the shuffle is |types| rows).

    Rows whose payload lacks the key drop out (n_missing counts them).
    """
    v = F.get_json_object(F.col(props_col), f"$.{key}").cast("bigint")
    base = events.select(F.col(type_col).alias("event_type"), v.alias("v"))
    return base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum((F.col("v").isNull()).cast("int")).cast("bigint").alias("n_missing"),
        F.sum("v").cast("bigint").alias("sum_v"),
        F.min("v").cast("bigint").alias("min_v"),
        F.max("v").cast("bigint").alias("max_v"),
        F.round(F.sum("v") / F.count("v"), 6).alias("mean_v"),
    )


def hot_keys(
    df: DataFrame,
    key_col: str,
    top_k: int = 10,
) -> DataFrame:
    """Shuffle-skew advisor: the ``top_k`` hottest values of a prospective
    join/groupBy key, with each key's row share (exact ppm) and its skew
    multiple versus the mean key (how many average-sized keys' worth of
    rows land on the reducer that owns it). The pre-flight probe to run
    before shuffling 100 TB on a key — a ``skew_x`` in the hundreds says
    "salt this key or let AQE split it" before the job stalls on one task.

    Plan: one map-side-combined count aggregation to the key grain, a
    1-row global aggregate broadcast back, and a TakeOrderedAndProject for
    the top-k (count desc, key asc — deterministic under ties). Nothing
    corpus-sized crosses the network except the key-grain counts.
    """
    per_key = df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    totals = per_key.agg(
        F.sum("n_rows").alias("_total"), F.count(F.lit(1)).alias("_n_keys")
    )
    return (
        per_key.crossJoin(F.broadcast(totals))
        .orderBy(F.col("n_rows").desc(), F.col("key").asc())
        .limit(top_k)
        .select(
            "key",
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.expr("n_rows * 1000000 div _total").cast("bigint").alias("share_ppm"),
            F.round(F.col("n_rows") * F.col("_n_keys") / F.col("_total"), 6).alias(
                "skew_x"
            ),
        )
    )


def histogram_quantiles(
    df: DataFrame,
    value: Column,
    bins: int = 128,
    quantiles_ppm: tuple[int, ...] = (500_000, 900_000, 990_000),
    weight: Column | None = None,
) -> DataFrame:
    """Mergeable approximate quantiles from an equi-width integer histogram:
    the answer to "p50/p90/p99 of document length over 100 TB" without a
    global sort. Bin width is derived from the exact min/max, each value
    lands in ``(v - min) div width``, and quantile q is the lower bound of
    the first bin whose cumulative count reaches ``ceil(q * N)`` — with a
    guaranteed error bound of one bin width, reported alongside.

    All-integer construction (widths, bin ids, ceil thresholds), so any
    engine reproduces the exact same bins and answers — unlike
    ``percentile_approx``'s implementation-defined sketch. The bin-count
    relation is mergeable state: shards histogram independently (same
    min/max contract), sums merge, quantiles finalize — the same IVM
    algebra as :func:`mergeable_stats`.

    Plan: one 1-row min/max aggregate broadcast into the binning
    projection, one map-side-combined aggregation to the <=bins grain, and
    windows/joins on that tiny relation only. Two scans total (min/max,
    then bin) — at 100 TB fix the domain up front to make it one.
    """
    # weight=None counts rows; an integer weight column computes WEIGHTED
    # quantiles instead ("the median TOKEN lives in a doc of length X") —
    # same all-integer machinery, thresholds over total weight
    wt = F.lit(1) if weight is None else weight
    vals = df.select(value.cast("bigint").alias("v"), wt.cast("bigint").alias("wt"))
    mm = vals.agg(
        F.min("v").alias("_lo"),
        F.max("v").alias("_hi"),
        F.sum("wt").alias("_n"),
    )
    binned = (
        vals.crossJoin(F.broadcast(mm))
        .withColumn("_w", F.expr(f"(_hi - _lo) div {bins} + 1"))
        .withColumn("_bin", F.expr("(v - _lo) div _w"))
    )
    hist = binned.groupBy("_bin").agg(
        F.sum("wt").alias("_cnt"),
        F.first("_lo").alias("_lo"),
        F.first("_w").alias("_w"),
        F.first("_n").alias("_n"),
    )
    w_cum = Window.orderBy("_bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("_cum", F.sum("_cnt").over(w_cum))
    qs = F.array(*[F.lit(int(q)) for q in quantiles_ppm])
    want = cum.select(
        "*", F.explode(qs).alias("q_ppm")
    ).withColumn("_thr", F.expr("(_n * q_ppm + 999999) div 1000000"))
    return (
        want.filter(F.col("_cum") >= F.col("_thr"))
        .groupBy("q_ppm")
        .agg(
            F.min("_bin").alias("_qbin"),
            F.first("_lo").alias("_lo"),
            F.first("_w").alias("_w"),
            F.first("_n").alias("_n"),
        )
        .select(
            F.col("q_ppm").cast("bigint").alias("q_ppm"),
            (F.col("_lo") + F.col("_qbin") * F.col("_w"))
            .cast("bigint")
            .alias("approx_value"),
            F.col("_w").cast("bigint").alias("error_bound"),
            F.col("_n").cast("bigint").alias("n_rows"),
        )
    )


def burst_detection(
    events: DataFrame,
    window_ms: int = 60_000,
    burst_threshold: int = 20,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Bot/abuse rate probe over an event stream: per user, the maximum
    number of events inside ANY sliding ``window_ms`` window (exact — a
    per-user range-frame count anchored at each event), the overall active
    span, and a sustained events-per-minute rate; ``is_burst`` flags users
    whose peak beats ``burst_threshold``. The standard pre-training-data
    hygiene pass for interaction logs: scripted traffic shows up as
    superhuman 60-second bursts long before totals look odd.

    Exactness: the peak burst is computed with a RANGE window frame
    ``[ts - window_ms + 1, ts]`` — frame membership is defined by the
    VALUE of the millisecond timestamp, so simultaneous events land in
    the same frame in every engine and no tie-ordering matters. The rate
    denominator pads the active span with one window so single-event
    users get a finite, comparable rate.

    Scale: one shuffle on the user key; each user's window sort is bounded
    by that user's events (uniform user-grain keys — the hot_keys probe is
    the guard for when they are not). Output is user-grain."""
    w = (
        Window.partitionBy(user_col)
        .orderBy(F.col("_ms"))
        .rangeBetween(-(window_ms - 1), 0)
    )
    per_event = events.select(
        F.col(user_col), F.unix_millis(F.col(ts_col)).alias("_ms")
    ).withColumn("_burst", F.count(F.lit(1)).over(w))
    return (
        per_event.groupBy(user_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            (F.max("_ms") - F.min("_ms")).cast("bigint").alias("span_ms"),
            F.max("_burst").cast("bigint").alias("max_burst"),
        )
        .select(
            F.col(user_col).cast("bigint").alias(user_col),
            "n_events",
            "span_ms",
            "max_burst",
            F.round(
                F.col("n_events") * 60_000.0 / (F.col("span_ms") + window_ms), 6
            ).alias("events_per_min"),
            (F.col("max_burst") >= burst_threshold).alias("is_burst"),
        )
    )


def table_profile(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """One-pass data-quality profile: per column, row count, null count,
    exact distinct count, and lexicographic min/max of the string form —
    the release-gate profiler run over every shipped table ("did a null
    flood or a cardinality collapse sneak into this build?").

    One aggregation pass (Spark plans the multiple distinct aggregates as
    a single Expand — profile-cost CPU in the scan stage, shuffle stays
    1 row), then an unpivot to the |columns| grain. Values compare as
    strings so one schema covers every column type; integer columns
    format identically across engines (floats would not — callers profile
    those via mergeable_stats instead)."""
    cols = columns or df.columns
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        s = F.col(c).cast("string")
        aggs += [
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"_null_{c}"),
            F.countDistinct(s).alias(f"_dist_{c}"),
            F.min(s).alias(f"_min_{c}"),
            F.max(s).alias(f"_max_{c}"),
        ]
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', _null_{c}, _dist_{c}, _min_{c}, _max_{c}" for c in cols
    )
    return one.selectExpr(
        "_n",
        f"stack({len(cols)}, {stack_args})"
        " as (column_name, n_nulls, n_distinct, min_val, max_val)",
    ).select(
        "column_name",
        F.col("_n").cast("bigint").alias("n_rows"),
        F.col("n_nulls").cast("bigint").alias("n_nulls"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
        "min_val",
        "max_val",
    )


def join_cardinality_audit(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
) -> DataFrame:
    """Pre-join cardinality probe: before shuffling two 100 TB relations,
    the one-row report that predicts the join — per-side row/key counts,
    matched-key count, the EXACT output cardinality (Σ fanout products)
    and the worst single-key fanout. ``est_rows`` exploding past the
    input sizes or ``max_fanout`` in the millions means a key-quality
    problem (default values, nulls-as-zero) that hot_keys (q146)
    localizes.

    Plan: each side aggregates to its key grain (map-side combine), the
    key-grain relations full-outer merge (the q135 shape), one global agg
    — nothing row-scale crosses the network. Fanout products in
    DECIMAL(38,0): two billion-row keys would overflow int64."""
    lk = left.groupBy(F.col(left_key).alias("k")).agg(
        F.count(F.lit(1)).alias("ln")
    )
    rk = right.groupBy(F.col(right_key).alias("k")).agg(
        F.count(F.lit(1)).alias("rn")
    )
    m = lk.join(rk, "k", "full_outer")
    prod = (
        F.coalesce(F.col("ln"), F.lit(0)).cast("decimal(38,0)")
        * F.coalesce(F.col("rn"), F.lit(0)).cast("decimal(38,0)")
    )
    return m.agg(
        F.sum(F.coalesce(F.col("ln"), F.lit(0))).cast("bigint").alias("n_left_rows"),
        F.sum(F.coalesce(F.col("rn"), F.lit(0))).cast("bigint").alias("n_right_rows"),
        F.sum(F.col("ln").isNotNull().cast("bigint")).cast("bigint").alias("n_left_keys"),
        F.sum(F.col("rn").isNotNull().cast("bigint")).cast("bigint").alias("n_right_keys"),
        F.sum((F.col("ln").isNotNull() & F.col("rn").isNotNull()).cast("bigint"))
        .cast("bigint")
        .alias("n_matched_keys"),
        F.sum(prod).cast("bigint").alias("est_rows"),
        F.max(prod).cast("bigint").alias("max_fanout"),
    )


def ewma_deviation(
    events: DataFrame,
    lookback: int = 8,
    threshold_micros: int = 50_000_000,
) -> DataFrame:
    """Per-user EWMA deviation monitor: each event is compared against an
    exponentially-weighted mean of the previous ``lookback`` values (dyadic
    weights 2^(L-1)..2^0, newest heaviest — the alpha=1/2 EWMA truncated at
    L terms), and users are reported with their anomaly counts.

    Exactness: values are scaled to integer micros once; the weighted mean
    is a lag-chain dot product with power-of-two weights and one integer
    division by (2^L - 1) — no float accumulation, no summation-order
    dependence, hash-comparable with any SQL oracle.

    Scale: one window shuffle on ``user_id`` (the per-user event history);
    the lag chain is a single projection inside that window — no self-join,
    no per-user explode.  Events with fewer than ``lookback`` predecessors
    are not scored.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    x = F.round(F.col("value") * 1_000_000).cast("bigint")
    weighted = None
    for j in range(1, lookback + 1):
        term = F.lag(x, j).over(w) * F.lit(2 ** (lookback - j)).cast("bigint")
        weighted = term if weighted is None else weighted + term
    denom = 2**lookback - 1
    scored = events.select(
        "user_id",
        x.alias("x_micros"),
        weighted.alias("wsum"),
    ).filter(F.col("wsum").isNotNull())
    dev = F.col("x_micros") - F.expr(f"wsum div {denom}")
    return (
        scored.select("user_id", dev.alias("dev"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_scored"),
            F.sum((F.abs(F.col("dev")) > threshold_micros).cast("bigint"))
            .cast("bigint")
            .alias("n_anomalies"),
            F.max(F.abs(F.col("dev"))).cast("bigint").alias("max_abs_dev_micros"),
        )
        .filter(F.col("n_anomalies") > 0)
    )


def association_rules(
    events: DataFrame, min_support: int = 20
) -> DataFrame:
    """Directed association rules A→B over per-user event-type baskets:
    support(A,B), confidence = sup(AB)/sup(A), lift = conf/(sup(B)/N) —
    the market-basket view of q114's symmetric co-occurrence support.

    All ratios are integer-scaled (ppm / milli) with integer division, so
    both engines agree bit-for-bit.  Grain after the first aggregation is
    (user × distinct types), then |types|² rule rows — tiny; the only
    corpus-scale shuffle is the distinct on (user, type).
    """
    baskets = events.select("user_id", "event_type").distinct()
    n_users = baskets.select("user_id").distinct().agg(
        F.count(F.lit(1)).alias("n_users")
    )
    item_sup = baskets.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("sup")
    )
    a = baskets.alias("a")
    b = baskets.alias("b")
    pair_sup = (
        a.join(b, "user_id")
        .filter(F.col("a.event_type") != F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("antecedent"),
            F.col("b.event_type").alias("consequent"),
        )
        .agg(F.count(F.lit(1)).alias("sup_ab"))
        .filter(F.col("sup_ab") >= min_support)
    )
    sa = item_sup.select(
        F.col("event_type").alias("antecedent"), F.col("sup").alias("sup_a")
    )
    sb = item_sup.select(
        F.col("event_type").alias("consequent"), F.col("sup").alias("sup_b")
    )
    return (
        pair_sup.join(F.broadcast(sa), "antecedent")
        .join(F.broadcast(sb), "consequent")
        .crossJoin(F.broadcast(n_users))
        .select(
            "antecedent",
            "consequent",
            F.col("sup_ab").cast("bigint").alias("sup_ab"),
            F.expr("(sup_ab * 1000000) div sup_a")
            .cast("bigint")
            .alias("confidence_ppm"),
            F.expr("(sup_ab * n_users * 1000) div (sup_a * sup_b)")
            .cast("bigint")
            .alias("lift_milli"),
        )
    )


def decayed_engagement(events: DataFrame, k: int = 15) -> DataFrame:
    """Time-decayed per-user engagement: sum of value·2^(−age_days) with
    age measured from the corpus max timestamp, exponent capped at 20 —
    the recency-weighted activity score behind retention dashboards.

    Dyadic decay keeps the math exact-integer (micros div 2^age); the
    corpus max is a 1-row broadcast.  Scan + one user-grain agg +
    TakeOrdered top-k."""
    mx = events.agg(F.max(F.unix_timestamp("ts")).alias("max_s"))
    scored = events.crossJoin(F.broadcast(mx)).select(
        "user_id",
        F.expr(
            "cast(round(value * 1000000) as bigint) div "
            "cast(pow(2, least((max_s - unix_timestamp(ts)) div 86400, 20)) as bigint)"
        ).alias("decayed_micros"),
    )
    return (
        scored.groupBy("user_id")
        .agg(F.sum("decayed_micros").cast("bigint").alias("engagement_micros"))
        .orderBy(F.desc("engagement_micros"), F.asc("user_id"))
        .limit(k)
    )


def path_trigrams(events: DataFrame, k: int = 20) -> DataFrame:
    """Top-k frequent 3-step event-type sequences: per user, consecutive
    (t, t+1, t+2) event-type triples via a lead chain, counted corpus-wide
    — the sequential-pattern extension of q99's pair transitions.

    One user-window shuffle (the lead chain is a single projection inside
    it), one map-side-combined aggregation to the |types|³ grain, then a
    TakeOrderedAndProject — nothing corpus-sized is sorted."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = events.select(
        F.col("event_type").alias("step1"),
        F.lead("event_type", 1).over(w).alias("step2"),
        F.lead("event_type", 2).over(w).alias("step3"),
    ).filter(F.col("step3").isNotNull())
    return (
        tri.groupBy("step1", "step2", "step3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_paths"))
        .orderBy(
            F.desc("n_paths"), F.asc("step1"), F.asc("step2"), F.asc("step3")
        )
        .limit(k)
    )


def gap_regularity(
    events: DataFrame, min_gaps: int = 5, max_cv2_micro: int = 250_000
) -> DataFrame:
    """Bot-likeness via inter-event regularity: users whose event-gap
    coefficient of variation is suspiciously LOW (metronome-like traffic).

    Works on the SQUARED CV so everything stays integer-exact:
    cv² = var/mean² = (n·Σg² − (Σg)²) / (Σg)², reported in micros.  Gaps in
    whole seconds; the co-moment identity avoids any per-user mean pass
    (same construction as q117's exact correlation).  One user-window lag +
    one user-grain aggregation."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_s = F.unix_timestamp("ts")
    gaps = events.select(
        "user_id", (ts_s - F.lag(ts_s, 1).over(w)).alias("g")
    ).filter(F.col("g").isNotNull())
    stats = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("g").alias("sg"),
        F.sum(F.col("g") * F.col("g")).alias("sg2"),
    )
    return (
        stats.filter((F.col("n_gaps") >= min_gaps) & (F.col("sg") > 0))
        .select(
            "user_id",
            F.col("n_gaps").cast("bigint").alias("n_gaps"),
            F.expr("sg div n_gaps").cast("bigint").alias("mean_gap_s"),
            # gap sums of long-lived users push (n·Σg² − (Σg)²)·1e6 past
            # int64 — DECIMAL(38,0) products (the q145 rule)
            F.expr(
                "((CAST(n_gaps AS DECIMAL(38,0)) * sg2"
                " - CAST(sg AS DECIMAL(38,0)) * sg) * 1000000)"
                " div (CAST(sg AS DECIMAL(38,0)) * sg)"
            )
            .cast("bigint")
            .alias("cv2_micro"),
        )
        .filter(F.col("cv2_micro") <= max_cv2_micro)
    )


def stratified_histogram_quantiles(
    df: DataFrame,
    value: Column,
    strata_col: str = "source",
    bins: int = 64,
    quantiles_ppm: tuple[int, ...] = (500_000, 900_000),
) -> DataFrame:
    """Per-stratum mergeable histogram quantiles: q147's all-integer
    equi-width construction with every step keyed by the stratum, so "p50
    and p90 document length PER SOURCE" costs the same two scans as the
    global version — per-stratum min/max broadcast back, bin counts on the
    (stratum × ≤bins) grain, windows on that tiny relation only."""
    vals = df.select(
        F.col(strata_col).alias("stratum"), value.cast("bigint").alias("v")
    )
    mm = vals.groupBy("stratum").agg(
        F.min("v").alias("_lo"), F.max("v").alias("_hi"),
        F.count(F.lit(1)).alias("_n"),
    )
    binned = (
        vals.join(F.broadcast(mm), "stratum")
        .withColumn("_w", F.expr(f"(_hi - _lo) div {bins} + 1"))
        .withColumn("_bin", F.expr("(v - _lo) div _w"))
    )
    hist = binned.groupBy("stratum", "_bin").agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.first("_lo").alias("_lo"),
        F.first("_w").alias("_w"),
        F.first("_n").alias("_n"),
    )
    w_cum = (
        Window.partitionBy("stratum")
        .orderBy("_bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.withColumn("_cum", F.sum("_cnt").over(w_cum))
    qs = F.array(*[F.lit(int(q)) for q in quantiles_ppm])
    want = cum.select("*", F.explode(qs).alias("q_ppm")).withColumn(
        "_thr", F.expr("(_n * q_ppm + 999999) div 1000000")
    )
    return (
        want.filter(F.col("_cum") >= F.col("_thr"))
        .groupBy("stratum", "q_ppm")
        .agg(
            F.min("_bin").alias("_qbin"),
            F.first("_lo").alias("_lo"),
            F.first("_w").alias("_w"),
            F.first("_n").alias("_n"),
        )
        .select(
            "stratum",
            F.col("q_ppm").cast("bigint").alias("q_ppm"),
            (F.col("_lo") + F.col("_qbin") * F.col("_w"))
            .cast("bigint")
            .alias("approx_value"),
            F.col("_w").cast("bigint").alias("error_bound"),
            F.col("_n").cast("bigint").alias("n_rows"),
        )
    )


# Benford expected first-digit frequencies, ppm: round(log10(1 + 1/d) * 1e6)
BENFORD_PPM = (301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757)


def benford_audit(df: DataFrame, value: Column) -> DataFrame:
    """Benford's-law audit of a positive numeric column: observed vs
    expected first-significant-digit frequencies plus each digit's exact
    integer chi²·1000 contribution — the classic fabricated/synthetic-data
    smell test for financial-style columns.

    The first digit is taken from the integer cents representation
    (string head of a bigint — no float formatting divergence between
    engines); expected ppm are compile-time literals.  One scan + one
    9-key aggregation; the chi² identity is the q173 cross-multiplied
    form in DECIMAL(38,0).
    """
    digit = F.substring(
        F.round(value * 100).cast("bigint").cast("string"), 1, 1
    ).cast("bigint")
    counts = (
        df.select(digit.alias("digit"))
        .filter((F.col("digit") >= 1) & (F.col("digit") <= 9))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    exp = F.element_at(
        F.array(*[F.lit(int(p)) for p in BENFORD_PPM]), F.col("digit").cast("int")
    )
    d38 = "decimal(38,0)"
    # chi2 cell = (o - e)^2 / e with e = n·exp_ppm/1e6:
    # = (1e6·o - n·exp)^2 · 1000 / (1e6 · n · exp) — exact integers
    g = counts.withColumn("n", F.sum("o").over(Window.partitionBy())).withColumn(
        "e_ppm", exp
    )
    return g.select(
        F.col("digit").cast("bigint").alias("digit"),
        F.col("o").cast("bigint").alias("n_rows"),
        F.expr("(o * 1000000) div n").cast("bigint").alias("observed_ppm"),
        F.col("e_ppm").cast("bigint").alias("expected_ppm"),
        F.expr(
            f"((CAST(1000000 AS {d38}) * o - CAST(n AS {d38}) * e_ppm)"
            f" * (CAST(1000000 AS {d38}) * o - CAST(n AS {d38}) * e_ppm)"
            f" * 1000) div (CAST(1000000 AS {d38}) * n * e_ppm)"
        )
        .cast("bigint")
        .alias("chi2_milli"),
    )


def conversion_time_quantiles(
    events: DataFrame,
    from_type: str = "view",
    to_type: str = "purchase",
    bins: int = 64,
    quantiles_ppm: tuple[int, ...] = (500_000, 900_000),
) -> DataFrame:
    """Funnel latency distribution: for users whose first ``to_type``
    follows their first ``from_type``, the p50/p90 of the conversion delay
    — routed through the mergeable integer histogram (q147), so no global
    sort of per-user latencies.

    One user-grain aggregation (conditional MIN per type — no window),
    then the ≤bins histogram machinery."""
    per_user = events.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == from_type, F.unix_timestamp("ts"))
        ).alias("t_from"),
        F.min(
            F.when(F.col("event_type") == to_type, F.unix_timestamp("ts"))
        ).alias("t_to"),
    )
    deltas = per_user.filter(
        F.col("t_from").isNotNull()
        & F.col("t_to").isNotNull()
        & (F.col("t_to") > F.col("t_from"))
    ).select((F.col("t_to") - F.col("t_from")).alias("delay_s"))
    return histogram_quantiles(
        deltas, F.col("delay_s"), bins=bins, quantiles_ppm=quantiles_ppm
    )


def dow_profile(events: DataFrame) -> DataFrame:
    """Weekly seasonality profile: per day-of-week (epoch-day mod 7 —
    calendar-function-free, timezone-proof), the number of observed days,
    mean daily event count (milli), and the min/max daily counts — the
    "is traffic shaped like a week" census behind q111's window anomalies.

    Two tiny aggregations: (day) grain then (dow) grain; the corpus-scale
    work is one map-side-combined count per epoch day."""
    daily = events.select(
        F.expr("unix_timestamp(ts) div 86400").alias("day")
    ).groupBy("day").agg(F.count(F.lit(1)).alias("c"))
    return (
        daily.withColumn("dow", F.expr("day % 7"))
        .groupBy("dow")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.expr("(sum(c) * 1000) div count(1)")
            .cast("bigint")
            .alias("mean_daily_milli"),
            F.min("c").cast("bigint").alias("min_daily"),
            F.max("c").cast("bigint").alias("max_daily"),
        )
        .select(
            F.col("dow").cast("bigint").alias("dow"),
            "n_days",
            "mean_daily_milli",
            "min_daily",
            "max_daily",
        )
    )


def last_touch_attribution(
    events: DataFrame, conversion_type: str = "purchase"
) -> DataFrame:
    """Last-touch attribution: for every conversion event, the most recent
    PRECEDING non-conversion event type of the same user (the channel that
    gets credit), reported as per-channel conversion counts and shares.

    The conditional-running-max trick keeps this one window: max of
    struct(ts, event_id, type) over preceding rows where the row is NOT a
    conversion — no self-join, no as-of join against a second relation.
    Conversions with no preceding touch report channel 'none'.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # struct max on (ts, event_id) == the LAST preceding touch in window
    # order — full-precision ts, so sub-second ordering matches the
    # oracle's LAST_VALUE ... IGNORE NULLS exactly
    touch = F.max(
        F.when(
            F.col("event_type") != conversion_type,
            F.struct(
                F.col("ts").alias("ts"),
                F.col("event_id").alias("eid"),
                F.col("event_type").alias("t"),
            ),
        )
    ).over(w)
    conv = (
        events.withColumn("touch", touch)
        .filter(F.col("event_type") == conversion_type)
        .select(F.coalesce(F.col("touch.t"), F.lit("none")).alias("channel"))
    )
    return (
        conv.groupBy("channel")
        .agg(F.count(F.lit(1)).alias("n_conversions"))
        .withColumn("total", F.sum("n_conversions").over(Window.partitionBy()))
        .select(
            "channel",
            F.col("n_conversions").cast("bigint").alias("n_conversions"),
            F.expr("(n_conversions * 1000000) div total")
            .cast("bigint")
            .alias("share_ppm"),
        )
    )


def transition_drift(events: DataFrame) -> DataFrame:
    """Behavioral concept drift: compare the event-type transition
    distribution between the first and second half of the time range
    (corpus-epoch split at the midpoint) — total L1 distance between the
    two transition-probability vectors, in exact integer ppm, plus the
    worst-drifting pair.

    One user window for the lead chain (with the half label derived from
    the FIRST event's epoch — transitions straddling the midpoint belong
    to their source event's half), two tiny pair-grain aggs, the L1 on the
    |types|² grain."""
    mid = events.agg(
        (
            (F.min(F.unix_timestamp("ts")) + F.max(F.unix_timestamp("ts")))
            / 2
        )
        .cast("bigint")
        .alias("mid_s")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.crossJoin(F.broadcast(mid))
        .select(
            F.col("event_type").alias("t1"),
            F.lead("event_type", 1).over(w).alias("t2"),
            (F.unix_timestamp("ts") <= F.col("mid_s")).alias("first_half"),
        )
        .filter(F.col("t2").isNotNull())
    )
    cells = pairs.groupBy("t1", "t2").agg(
        F.sum(F.col("first_half").cast("bigint")).alias("c1"),
        F.sum((~F.col("first_half")).cast("bigint")).alias("c2"),
    )
    w_all = Window.partitionBy()
    g = (
        cells.withColumn("n1", F.sum("c1").over(w_all))
        .withColumn("n2", F.sum("c2").over(w_all))
        .withColumn(
            "d_ppm",
            F.abs(
                F.expr("(c1 * 1000000) div n1")
                - F.expr("(c2 * 1000000) div n2")
            ),
        )
    )
    return g.agg(
        F.sum("d_ppm").cast("bigint").alias("l1_drift_ppm"),
        F.max(
            F.struct(
                F.col("d_ppm").alias("d"),
                F.col("t1").alias("t1"),
                F.col("t2").alias("t2"),
            )
        ).alias("_worst"),
        F.first("n1").cast("bigint").alias("n_first"),
        F.first("n2").cast("bigint").alias("n_second"),
    ).select(
        "l1_drift_ppm",
        F.col("_worst.t1").alias("worst_t1"),
        F.col("_worst.t2").alias("worst_t2"),
        F.col("_worst.d").cast("bigint").alias("worst_d_ppm"),
        "n_first",
        "n_second",
    )


def _tercile_bounds(per_user: DataFrame, metric: str) -> DataFrame:
    """1-row relation (t1_<m>, t2_<m>): exact type-1 terciles of a user-grain
    integer metric, computed on the metric's DISTINCT-VALUE grain — counts
    per value (map-side combine), a cumulative window over that bounded
    grain, then `3·cum ≥ q·N` picks the boundary without any ceil/float.
    The corpus never sorts; only the value grain does."""
    counts = per_user.groupBy(metric).agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy(metric).rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = counts.select(
        F.col(metric).alias("v"),
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(tot).alias("n"),
    )
    return cum.agg(
        F.min(F.when(F.col("cum") * 3 >= F.col("n"), F.col("v"))).alias(
            f"t1_{metric}"
        ),
        F.min(F.when(F.col("cum") * 3 >= 2 * F.col("n"), F.col("v"))).alias(
            f"t2_{metric}"
        ),
    )


def rfm_segments(events: DataFrame) -> DataFrame:
    """RFM segmentation: each user scored 1–3 on Recency / Frequency /
    Monetary by exact terciles, reported on the ≤27-segment grain with
    counts and mean spend — the audience-quality census that decides which
    behavioral slices feed a training corpus.

    Scale shape: ONE user-grain aggregation builds (recency_days,
    n_events, monetary_dollars); each tercile boundary comes from the
    metric's bounded distinct-value grain (days / event counts / whole
    dollars — never raw cents, which would widen the grain ~100×); the
    three 1-row boundary relations broadcast back onto the user grain as a
    crossJoin, so scoring is a scan-stage CASE. No corpus-wide window
    anywhere."""
    per_user = events.groupBy("user_id").agg(
        F.max(F.unix_timestamp("ts")).alias("last_ts"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(cents(F.col("value"))).cast("bigint").alias("monetary_cents"),
    )
    ref = per_user.agg(F.max("last_ts").alias("ref_ts"))
    pu = (
        per_user.crossJoin(F.broadcast(ref))
        .select(
            "user_id",
            F.expr("(ref_ts - last_ts) div 86400").alias("recency_days"),
            "n_events",
            "monetary_cents",
            F.expr("monetary_cents div 100").alias("monetary_dollars"),
        )
    )
    pu = share_relation(pu)
    bounds = (
        _tercile_bounds(pu, "recency_days")
        .crossJoin(_tercile_bounds(pu, "n_events"))
        .crossJoin(_tercile_bounds(pu, "monetary_dollars"))
    )

    def _grp(v: str, t1: str, t2: str) -> Column:
        return (
            F.when(F.col(v) <= F.col(t1), 1)
            .when(F.col(v) <= F.col(t2), 2)
            .otherwise(3)
            .cast("bigint")
        )

    scored = pu.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        "monetary_cents",
        (4 - _grp("recency_days", "t1_recency_days", "t2_recency_days"))
        .cast("bigint")
        .alias("r_score"),
        _grp("n_events", "t1_n_events", "t2_n_events").alias("f_score"),
        _grp(
            "monetary_dollars", "t1_monetary_dollars", "t2_monetary_dollars"
        ).alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("monetary_cents").cast("bigint").alias("sum_monetary_cents"),
    )


def survival_hazard(events: DataFrame) -> DataFrame:
    """Discrete-time survival/churn: per tenure week k, users still active
    (at-risk), users whose observed lifespan ended that week (churned),
    the hazard rate, and the surviving fraction — retention decay without
    per-user windows.

    One user-grain agg (first/last timestamp → lifespan weeks), one count
    per week, then a reverse-cumulative window on the bounded week grain.
    Hazard and survival stay exact-integer until the final divisions."""
    spans = events.groupBy("user_id").agg(
        F.expr(
            "(max(unix_timestamp(ts)) - min(unix_timestamp(ts))) div 604800"
        ).alias("week")
    )
    weekly = spans.groupBy("week").agg(
        F.count(F.lit(1)).cast("bigint").alias("churned")
    )
    rev = Window.orderBy("week").rowsBetween(0, Window.unboundedFollowing)
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return weekly.select(
        F.col("week").cast("bigint").alias("week"),
        F.sum("churned").over(rev).alias("at_risk"),
        "churned",
        F.sum("churned").over(tot).alias("n_users"),
    ).select(
        "week",
        F.col("at_risk").cast("bigint").alias("at_risk"),
        "churned",
        F.round(F.col("churned") / F.col("at_risk"), 6).alias("hazard"),
        F.round(
            (F.col("at_risk") - F.col("churned")) / F.col("n_users"), 6
        ).alias("survival_after"),
    )


MARKOV_START = "__START__"


def markov_removal_effect(
    events: DataFrame,
    conversion_type: str = "purchase",
    steps: int = 8,
) -> DataFrame:
    """Markov removal-effect attribution: fit a first-order chain over
    per-user event journeys (absorbing at the first conversion), then for
    each channel measure how much L-step conversion probability is lost
    when that channel's node is removed — the multi-touch upgrade of
    q188's last-touch attribution.

    ONE distributed corpus pass fits the chain: journeys truncate at the
    first conversion via a conditional running min (no self-join),
    transitions come from a per-user lead window, counts aggregate to the
    ≤|states|² grain. That bounded relation is COLLECTED (the IVF-centroid
    class of driver boundary — a handful of rows at any corpus size) and
    the |removals|·L-step absorbing walk runs as driver arithmetic with a
    sorted, deterministic summation order; a distributed loop here costs
    ~2 s of scheduler overhead per tiny step for zero scalability gain
    (measured: 65 s nested-lineage, 18 s checkpointed, <2 s collected, at
    sf0.1). Output: (removed, p_conv, removal_effect) with the 'NONE'
    baseline."""
    ts = F.unix_timestamp("ts")
    w_u = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    conv_ts = F.min(
        F.when(F.col("event_type") == conversion_type, F.col("ts_s"))
    ).over(
        Window.partitionBy("user_id").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    seq = (
        events.select(
            "user_id", "event_id", "event_type", ts.alias("ts_s")
        )
        .withColumn("conv_ts", conv_ts)
        .filter(F.col("conv_ts").isNull() | (F.col("ts_s") <= F.col("conv_ts")))
        .select(
            "user_id",
            "event_type",
            F.row_number().over(w_u).alias("rn"),
            F.lead("event_type").over(w_u).alias("next_type"),
        )
    )
    first_hop = seq.filter(F.col("rn") == 1).select(
        F.lit(MARKOV_START).alias("s"), F.col("event_type").alias("s2")
    )
    later_hops = seq.filter(
        F.col("next_type").isNotNull()
        & (F.col("event_type") != conversion_type)
    ).select(F.col("event_type").alias("s"), F.col("next_type").alias("s2"))
    trans_rows = (
        first_hop.unionByName(later_hops)
        .groupBy("s", "s2")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    counts = {(r["s"], r["s2"]): r["n"] for r in trans_rows}
    out_tot: dict[str, int] = {}
    for (s, _), n in counts.items():
        out_tot[s] = out_tot.get(s, 0) + n
    trans = {
        (s, s2): n / out_tot[s] for (s, s2), n in counts.items()
    }
    trans[(conversion_type, conversion_type)] = 1.0  # absorbing self-loop
    channels = sorted(
        {s2 for (_, s2) in counts} - {conversion_type}
    )

    def _walk(removed: str | None) -> float:
        vec = {MARKOV_START: 1.0}
        for _ in range(steps):
            nxt: dict[str, float] = {}
            for state in sorted(vec):  # deterministic summation order
                pv = vec[state]
                if state == removed:
                    continue
                for (s, s2), p in sorted(trans.items()):
                    if s != state or s2 == removed:
                        continue
                    nxt[s2] = nxt.get(s2, 0.0) + pv * p
            vec = nxt
        return vec.get(conversion_type, 0.0)

    p_base = _walk(None)
    rows = [("NONE", p_base, 0.0)] + [
        (c, pc, 1.0 - pc / p_base)
        for c in channels
        for pc in [_walk(c)]
    ]
    spark = events.sparkSession
    return spark.createDataFrame(
        [(r[0], round(r[1], 6), round(r[2], 6)) for r in rows],
        "removed string, p_conv double, removal_effect double",
    )


def markov_entropy(events: DataFrame) -> DataFrame:
    """Entropy rate of the user-behavior Markov chain: fit first-order
    transition probabilities from consecutive events per user, weight each
    state's conditional entropy by its observed outflow share, and report
    rate + perplexity — how predictable the event stream is, the summary
    number behind q99's transition matrix and q189's drift check.

    One corpus pass (per-user lead window), one agg to the |states|²
    transition grain; entropy math runs on that bounded grain with floats
    appearing only in the final ln (≤|states|² terms). Output one row:
    (n_transitions, n_states, entropy_rate, perplexity)."""
    w_u = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    hops = (
        events.select(
            "user_id", "event_id", F.col("event_type").alias("s"),
            F.unix_timestamp("ts").alias("ts_s"),
        )
        .withColumn("s2", F.lead("s").over(w_u))
        .filter(F.col("s2").isNotNull())
        .groupBy("s", "s2")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out_tot = hops.groupBy("s").agg(F.sum("n").alias("n_out"))
    terms = hops.join(out_tot, "s").select(
        "s",
        "n",
        "n_out",
        (
            -(F.col("n") / F.col("n_out"))
            * F.log(F.col("n") / F.col("n_out"))
        ).alias("h_term"),
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    per_state = terms.groupBy("s").agg(
        F.max("n_out").alias("n_out"), F.sum("h_term").alias("h_s")
    )
    return (
        per_state.select(
            F.sum("n_out").over(tot).alias("n_transitions"),
            F.count(F.lit(1)).over(tot).alias("n_states"),
            (
                F.sum(F.col("n_out") * F.col("h_s")).over(tot)
                / F.sum("n_out").over(tot)
            ).alias("h_rate"),
        )
        .limit(1)
        .select(
            F.col("n_transitions").cast("bigint").alias("n_transitions"),
            F.col("n_states").cast("bigint").alias("n_states"),
            F.round("h_rate", 6).alias("entropy_rate"),
            F.round(F.exp("h_rate"), 6).alias("perplexity"),
        )
    )


def cusum_changepoints(
    events: DataFrame,
    slack_milli: int = 0,
    threshold_milli: int | None = None,
) -> DataFrame:
    """One-sided CUSUM over the daily event-count series: S_k =
    max(0, P_k − min_{j≤k} P_j) where P is the running sum of
    (count − mean − slack) — the classic sequential change-point detector,
    flagging the days where volume has drifted persistently above its
    baseline (vs q111's pointwise z-scores, which miss slow drifts).

    The recursion is rewritten as prefix-sum minus running-min — two
    windows over the bounded day grain, after ONE corpus-scale count per
    epoch day (map-side combine). All state is exact integer milli-counts.
    Output per day: (day, n_events, cusum_milli, flagged)."""
    daily = events.select(
        F.expr("unix_timestamp(ts) div 86400").alias("day")
    ).groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    mean = daily.select(
        "day",
        "c",
        F.expr("(sum(c * 1000) over ()) div (count(1) over ())").alias(
            "mean_milli"
        ),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    pref = mean.select(
        "day",
        "c",
        F.sum(
            F.col("c") * 1000 - F.col("mean_milli") - F.lit(int(slack_milli))
        ).over(w).alias("p"),
    )
    cusum = pref.select(
        "day",
        "c",
        (
            F.col("p")
            - F.least(F.min("p").over(w), F.lit(0).cast("bigint"))
        ).alias("s_milli"),
    )
    if threshold_milli is None:
        # default: flag when the accumulated excess tops 3 mean days
        thresh = mean.select(
            (F.col("mean_milli") * 3).alias("t")
        ).limit(1)
        cusum = cusum.crossJoin(F.broadcast(thresh))
    else:
        cusum = cusum.withColumn("t", F.lit(int(threshold_milli)))
    return cusum.select(
        F.col("day").cast("bigint").alias("day"),
        F.col("c").alias("n_events"),
        F.col("s_milli").cast("bigint").alias("cusum_milli"),
        (F.col("s_milli") > F.col("t")).cast("bigint").alias("flagged"),
    )


def engagement_halflife(events: DataFrame) -> DataFrame:
    """Exponential-decay fit of daily event volume: OLS of ln(count) on
    day index gives the decay slope and half-life — "how fast does this
    cohort's activity die" as one number, where q169 *applies* a given
    decay, this *estimates* it.

    One corpus-scale count per epoch day (map-side combine); the
    regression runs on the bounded day grain with exact integer x sums
    and ln-of-integer y terms. Output one row:
    (n_days, slope, halflife_days) — halflife is NULL when the fitted
    slope is non-negative (no decay)."""
    daily = events.select(
        F.expr("unix_timestamp(ts) div 86400").alias("day")
    ).groupBy("day").agg(F.count(F.lit(1)).alias("c"))
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    xy = daily.select(
        (F.col("day") - F.min("day").over(tot)).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    agg = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = F.when(
        den > 0,
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / den,
    )  # NULL with fewer than two distinct days
    return agg.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.round(slope, 6).alias("slope"),
        F.round(
            F.when(slope < 0, -F.log(F.lit(2.0)) / slope), 6
        ).alias("halflife_days"),
    )


def regional_revenue(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    region_name: str = "ASIA",
    start_epoch_s: int = 788918400,   # 1995-01-01
    end_epoch_s: int = 946684800,     # 2000-01-01
) -> DataFrame:
    """TPC-H Q5 shape: revenue per nation for one region where the
    customer and the line's supplier sit in the SAME nation — the deepest
    relational pipeline in the suite (6 tables, 2 fact-fact joins, 3
    broadcast dims, a same-key equality threaded through both sides).

    Plan shape at scale: the same-nation constraint implies the line's
    supplier must sit in the target region, so lineitem joins the
    broadcast REGION-pruned supplier dim FIRST — cutting the fact side by
    the region's selectivity (~1/|regions|) BEFORE the orderkey shuffle,
    and every later shuffle moves only that slice. Orders filters push to
    the parquet scan (constant-foldable epoch bounds) before the orderkey
    SMJ; the customer join then carries the nationkey equality so
    Catalyst prunes mismatched pairs inside the join, not after. Revenue
    in exact integer cents."""
    r = region.filter(F.col("r_name") == region_name)
    n = nation.join(
        F.broadcast(r), nation["n_regionkey"] == r["r_regionkey"]
    ).select("n_nationkey", "n_name")
    # suppliers restricted to the region's nations: any lineitem whose
    # supplier is outside the region cannot satisfy supp-nation ==
    # cust-nation (customer is region-bound), so this broadcast semi-
    # filters the fact table before any shuffle
    s = supplier.join(
        F.broadcast(n), supplier["s_nationkey"] == n["n_nationkey"]
    ).select("s_suppkey", F.col("s_nationkey").alias("supp_nk"))
    o = orders.filter(
        (F.col("o_orderdate") >= F.timestamp_seconds(F.lit(start_epoch_s)))
        & (F.col("o_orderdate") < F.timestamp_seconds(F.lit(end_epoch_s)))
    ).select("o_orderkey", "o_custkey")
    c = customer.join(
        F.broadcast(n), customer["c_nationkey"] == n["n_nationkey"]
    ).select(F.col("c_custkey"), F.col("c_nationkey"), F.col("n_name"))
    return (
        lineitem.select(
            "l_orderkey",
            "l_suppkey",
            cents(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("rev_cents"),
        )
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .join(o, F.col("l_orderkey") == o["o_orderkey"])
        .join(
            c,
            (o["o_custkey"] == c["c_custkey"])
            & (F.col("supp_nk") == c["c_nationkey"]),
        )
        .groupBy("n_name")
        .agg(F.sum("rev_cents").cast("bigint").alias("revenue_cents"))
    )


def ab_conversion_z(
    events: DataFrame,
    conversion_type: str = "purchase",
    seed: str = "ab0",
) -> DataFrame:
    """Two-proportion z-test on a deterministic hash-bucket A/B split of
    users: does assignment correlate with conversion? (It shouldn't — the
    SRM/sanity check run before trusting any experiment pipeline; |z| > 2
    flags a broken bucketing hash or a leaky assignment.)

    One user-grain agg (conditional MAX for converted, scan-stage md5
    bucket for the arm), one fold to the 2-row arm grain; z assembles
    from exact integers with one final sqrt. Output one row:
    (n_a, n_b, conv_a, conv_b, z_score)."""
    bucket = F.expr(
        f"cast(conv(substring(md5(concat('{seed}:', user_id)), 1, 8),"
        " 16, 10) as bigint) % 2"
    )
    per_user = events.groupBy("user_id").agg(
        F.max(
            (F.col("event_type") == conversion_type).cast("bigint")
        ).alias("converted")
    ).select(bucket.alias("arm"), "converted")
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("converted").cast("bigint").alias("conv"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == 0, F.col("conv"))).alias("conv_a"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == 1, F.col("conv"))).alias("conv_b"),
    )
    p_pool = (F.col("conv_a") + F.col("conv_b")) / (
        F.col("n_a") + F.col("n_b")
    )
    se = F.sqrt(
        p_pool * (1 - p_pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return wide.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        F.round(
            F.when(
                se > 0,
                (
                    F.col("conv_a") / F.col("n_a")
                    - F.col("conv_b") / F.col("n_b")
                )
                / se,
            ),
            6,
        ).alias("z_score"),
    )


def time_spine_fill(events: DataFrame) -> DataFrame:
    """Dense daily series with gap fill: generate the full day spine from
    min to max epoch-day, left-join the observed daily counts, zero-fill
    and flag the silent days — the missing-data census every downstream
    window/forecast query silently assumes has already happened.

    One corpus count per day; the spine is a sequence-explode of the
    2-row min/max relation (|days| rows, bounded by the time span, never
    corpus-sized). Output per day: (day, n_events, is_gap)."""
    daily = events.select(
        F.expr("unix_timestamp(ts) div 86400").alias("day")
    ).groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    bounds = daily.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    spine = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day")
    )
    return (
        spine.join(daily, "day", "left")
        .select(
            F.col("day").cast("bigint").alias("day"),
            F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("n_events"),
            F.col("c").isNull().cast("bigint").alias("is_gap"),
        )
    )


def daily_acf(events: DataFrame, max_lag: int = 7) -> DataFrame:
    """Autocorrelation of the daily event-count series at lags 1..max_lag
    — the periodicity fingerprint (a lag-7 spike = weekly seasonality)
    that decides whether q179's day-of-week profile is even the right
    model.

    One corpus count per day, then every lag is a self-join of the
    bounded day-grain series against itself shifted by a literal — a
    ×max_lag explode of a ≤|days| relation, never corpus-sized. Exact
    integer moments; one float division per lag. Output per lag:
    (lag, n_pairs, acf)."""
    daily = events.select(
        F.expr("unix_timestamp(ts) div 86400").alias("day")
    ).groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    centered = daily.select(
        "day",
        "c",
        F.sum("c").over(tot).alias("sc"),
        F.count(F.lit(1)).over(tot).alias("nd"),
    )
    centered = share_relation(centered)
    lags = centered.sparkSession.range(1, max_lag + 1).select(
        F.col("id").cast("bigint").alias("lag")
    )
    a = centered.select(
        F.col("day").alias("d1"), F.col("c").alias("c1"), "sc", "nd"
    )
    b = centered.select(F.col("day").alias("d2"), F.col("c").alias("c2"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("d2") == F.col("d1") + F.col("lag"))
    )
    # acf(k) = Σ(nd·c1−sc)(nd·c2−sc) / Σ(nd·c−sc)²  (scaled by nd²
    # throughout; DECIMAL(38) products — (days·daily_count)² overflows
    # int64 at corpus scale)
    d38 = "decimal(38,0)"
    denom = centered.select(
        (
            (F.col("nd") * F.col("c") - F.col("sc")).cast(d38)
            * (F.col("nd") * F.col("c") - F.col("sc")).cast(d38)
        ).alias("d2v")
    ).agg(F.sum("d2v").alias("den"))
    return (
        pairs.groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(
                (F.col("nd") * F.col("c1") - F.col("sc")).cast(d38)
                * (F.col("nd") * F.col("c2") - F.col("sc")).cast(d38)
            ).alias("num"),
        )
        .crossJoin(F.broadcast(denom))
        .select(
            "lag",
            "n_pairs",
            F.round(
                F.col("num").cast("double") / F.col("den").cast("double"), 6
            ).alias("acf"),
        )
    )


def revenue_concentration(
    events: DataFrame, top_ppm: int = 200_000
) -> DataFrame:
    """Revenue concentration: the share of total spend contributed by the
    top `top_ppm` (default 20%) of users — the 80/20 audit that decides
    whether per-user caps (q76's source-cap sibling) are worth running.

    One user-grain agg; the spend boundary comes from the bounded
    whole-dollar value grain (cumulative window over distinct dollar
    values, never a user sort); users at-or-above the boundary count
    exactly. Output one row:
    (n_users, top_users, boundary_dollars, top_share)."""
    pu = events.groupBy("user_id").agg(
        F.sum(cents(F.col("value"))).cast("bigint").alias("cents")
    ).select("cents", F.expr("cents div 100").alias("dollars"))
    counts = pu.groupBy("dollars").agg(
        F.count(F.lit(1)).alias("nu"),
        F.sum("cents").alias("sc"),
    )
    w = Window.orderBy(F.col("dollars").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = counts.select(
        "dollars",
        F.sum("nu").over(w).alias("cum_u"),
        F.sum("sc").over(w).alias("cum_c"),
        F.sum("nu").over(tot).alias("n"),
        F.sum("sc").over(tot).alias("total_c"),
    )
    # smallest dollar level (scanning from the top) where the running user
    # count first reaches top_ppm of all users
    return (
        cum.filter(F.col("cum_u") * 1_000_000 >= F.col("n") * top_ppm)
        .orderBy(F.col("dollars").desc())
        .limit(1)
        .select(
            F.col("n").cast("bigint").alias("n_users"),
            F.col("cum_u").cast("bigint").alias("top_users"),
            F.col("dollars").cast("bigint").alias("boundary_dollars"),
            F.round(
                F.col("cum_c").cast("double")
                / F.col("total_c").cast("double"),
                6,
            ).alias("top_share"),
        )
    )


def daily_type_jsd(events: DataFrame) -> DataFrame:
    """Jensen–Shannon divergence between consecutive days' event-type
    mixes — the day-over-day composition drift series (q92's PSI tracks a
    score distribution against a fixed reference; this tracks the
    categorical mix against YESTERDAY, so a product launch or bot wave
    shows up as a spike).

    One corpus agg to the (day, type) grain; each day-pair is a full
    outer join of two ≤|types| slices of that bounded relation shifted by
    a literal; entropy terms are floats on the bounded grain only.
    Output per adjacent-day pair: (day, n_prev, n_curr, jsd_nats)."""
    dt_counts = events.select(
        F.expr("unix_timestamp(ts) div 86400").alias("day"),
        F.col("event_type").alias("t"),
    ).groupBy("day", "t").agg(F.count(F.lit(1)).alias("c"))
    day_tot = dt_counts.groupBy("day").agg(F.sum("c").alias("n"))
    probs = dt_counts.join(day_tot, "day").select(
        "day", "t", (F.col("c") / F.col("n")).alias("p"), "n"
    )
    prev = probs.select(
        (F.col("day") + 1).alias("day"),
        F.col("t").alias("t"),
        F.col("p").alias("p_prev"),
        F.col("n").alias("n_prev"),
    )
    curr = probs.select(
        "day",
        F.col("t").alias("t"),
        F.col("p").alias("p_curr"),
        F.col("n").alias("n_curr"),
    )
    joined = prev.join(curr, ["day", "t"], "full_outer").select(
        "day",
        F.coalesce("p_prev", F.lit(0.0)).alias("p"),
        F.coalesce("p_curr", F.lit(0.0)).alias("q"),
        "n_prev",
        "n_curr",
    )
    m = (F.col("p") + F.col("q")) / 2
    term = (
        F.when(F.col("p") > 0, F.col("p") / 2 * F.log(F.col("p") / m))
        .otherwise(F.lit(0.0))
        + F.when(F.col("q") > 0, F.col("q") / 2 * F.log(F.col("q") / m))
        .otherwise(F.lit(0.0))
    )
    return (
        joined.groupBy("day")
        .agg(
            F.max("n_prev").alias("n_prev"),
            F.max("n_curr").alias("n_curr"),
            F.round(F.sum(term), 6).alias("jsd_nats"),
        )
        # only adjacent pairs where BOTH days exist
        .filter(F.col("n_prev").isNotNull() & F.col("n_curr").isNotNull())
        .select(
            F.col("day").cast("bigint").alias("day"),
            F.col("n_prev").cast("bigint").alias("n_prev"),
            F.col("n_curr").cast("bigint").alias("n_curr"),
            "jsd_nats",
        )
    )


def dow_quantile_bands(
    events: DataFrame,
    q_ppm: tuple[int, ...] = (250_000, 500_000, 750_000),
) -> DataFrame:
    """Seasonal-aware anomaly bands: exact type-1 quantiles of the daily
    event count computed PER day-of-week — "is today's volume normal for
    a Tuesday", the banded upgrade of q179's mean-only profile that q111's
    global z-scores can't express.

    One corpus-scale count per epoch day, then all quantile machinery
    runs per-dow on the bounded (dow × distinct-count) grain: cumulative
    windows partitioned by dow, smallest value with 1e6·cum ≥ q·n. Output
    per dow: (dow, n_days, q25, q50, q75)."""
    daily = events.select(
        F.expr("unix_timestamp(ts) div 86400").alias("day")
    ).groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    per = daily.select(F.expr("day % 7").alias("dow"), "c").groupBy(
        "dow", "c"
    ).agg(F.count(F.lit(1)).alias("nd"))
    w = Window.partitionBy("dow").orderBy("c").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wt = Window.partitionBy("dow")
    cum = per.select(
        "dow",
        "c",
        F.sum("nd").over(w).alias("cum"),
        F.sum("nd").over(wt).alias("n"),
    )
    aggs = [F.max("n").cast("bigint").alias("n_days")] + [
        F.min(
            F.when(
                F.col("cum") * 1_000_000 >= F.col("n") * q, F.col("c")
            )
        ).cast("bigint").alias(name)
        for q, name in zip(q_ppm, ("q25", "q50", "q75"))
    ]
    return cum.groupBy(F.col("dow").cast("bigint").alias("dow")).agg(*aggs)


def event_dedup_audit(events: DataFrame) -> DataFrame:
    """Event idempotency audit: duplicate groups on the logical identity
    (user, timestamp, type) and on the physical event_id — double-fired
    webhooks vs broken id generation produce different signatures, and
    both silently inflate every downstream count in this suite.

    Two uniform-key aggs (map-side combine), each folded to a one-row
    census, merged by crossJoin. Output one row:
    (n_events, dup_id_groups, dup_id_events, dup_logical_groups,
    dup_logical_events)."""
    total = events.agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    by_id = (
        events.groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("dup_id_groups"),
            F.coalesce(F.sum("c"), F.lit(0))
            .cast("bigint")
            .alias("dup_id_events"),
        )
    )
    by_logical = (
        events.groupBy(
            "user_id", F.unix_timestamp("ts").alias("ts_s"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("dup_logical_groups"),
            F.coalesce(F.sum("c"), F.lit(0))
            .cast("bigint")
            .alias("dup_logical_events"),
        )
    )
    return total.crossJoin(by_id).crossJoin(by_logical)


def sole_late_supplier(
    lineitem: DataFrame,
    orders: DataFrame,
    late_days: int = 90,
    k: int = 10,
) -> DataFrame:
    """TPC-H Q21 shape on this schema: suppliers who were the ONLY late
    shipper in a multi-supplier order ("late" = shipped more than
    ``late_days`` after the order date) — the relational
    exists/not-exists pattern expressed as two-level aggregation instead
    of correlated subqueries.

    Scale shape: one (orderkey, suppkey) agg with a fused late flag
    (conditional max — no second scan), one orderkey-grain agg counting
    suppliers and late suppliers, one join back of those bounded flags,
    one supplier-grain count into a TakeOrdered head. Every shuffle is on
    a uniform TPC-H key; no window, no correlated subquery, no
    countDistinct Expand."""
    joined = lineitem.join(
        orders.select("o_orderkey", "o_orderdate"),
        lineitem["l_orderkey"] == F.col("o_orderkey"),
    ).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.unix_timestamp("l_shipdate")
            > F.unix_timestamp("o_orderdate") + late_days * 86400
        ).cast("bigint").alias("late"),
    )
    per_os = joined.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("late").alias("s_late")
    )
    per_o = per_os.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("s_late").alias("n_late"),
    )
    culprits = (
        per_os.filter(F.col("s_late") == 1)
        .join(per_o, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    )
    return (
        culprits.groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("suppkey").asc())
        .limit(k)
    )


def mann_kendall_trend(events: DataFrame) -> DataFrame:
    """Mann–Kendall monotone-trend test on the daily event-count series:
    S = Σ_{i<j} sign(c_j − c_i), variance from the tie-corrected formula,
    and the normal-approximation z — the nonparametric "is volume
    actually trending" answer that q206's OLS (which assumes exponential
    form) can't give.

    One corpus count per day; the pair sum is a self-join of the bounded
    day grain with itself (|days|² pairs — a planning-scale relation),
    ties aggregate on the distinct-count grain. Exact integers until the
    final z division. Output one row: (n_days, s_stat, var_s, z)."""
    daily = events.select(
        F.expr("unix_timestamp(ts) div 86400").alias("day")
    ).groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    a = daily.select(F.col("day").alias("d1"), F.col("c").alias("c1"))
    b = daily.select(F.col("day").alias("d2"), F.col("c").alias("c2"))
    s = (
        a.join(b, F.col("d1") < F.col("d2"))
        .agg(
            F.sum(F.signum(F.col("c2") - F.col("c1")).cast("bigint"))
            .cast("bigint")
            .alias("s_stat")
        )
    )
    n_row = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ties = (
        daily.groupBy("c").agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            ).cast("bigint").alias("tie_term")
        )
    )
    joined = s.crossJoin(n_row).crossJoin(ties).select(
        "n",
        "s_stat",
        (
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.col("tie_term")
            )
            / 18.0
        ).alias("var_s"),
    )
    z = F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / F.sqrt("var_s")) \
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / F.sqrt("var_s")) \
        .otherwise(F.lit(0.0))
    return joined.select(
        F.col("n").alias("n_days"),
        "s_stat",
        F.round("var_s", 6).alias("var_s"),
        F.round(z, 6).alias("z"),
    )


def yoy_revenue_growth(
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """Year-over-year order-revenue growth per nation: epoch-derived year
    buckets (timezone-proof), exact integer cents, and the growth lag on
    the bounded (nation × year) grain — the classic BI trend query in the
    engine's deterministic-arithmetic house style.

    One fact scan with two broadcast dims; the lag window partitions by
    nation over ≤|years| rows each. Growth is NULL for each nation's
    first year. Output: (n_name, year, revenue_cents, growth_ppm)."""
    yr = F.floor(
        F.unix_timestamp("o_orderdate") / (365.25 * 86400)
    ).cast("bigint")
    base = (
        orders.select(
            "o_custkey", yr.alias("epoch_year"),
            cents(F.col("o_totalprice")).alias("rev"),
        )
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name", "epoch_year")
        .agg(F.sum("rev").cast("bigint").alias("revenue_cents"))
    )
    w = Window.partitionBy("n_name").orderBy("epoch_year")
    prev = F.lag("revenue_cents").over(w)
    return base.select(
        "n_name",
        (F.col("epoch_year") + 1970).cast("bigint").alias("year"),
        "revenue_cents",
        F.when(
            prev > 0,
            # double multiply: cents·1e6 overflows int64 at corpus scale
            F.round(
                (F.col("revenue_cents") - prev).cast("double")
                * 1e6
                / prev.cast("double")
            ).cast("bigint"),
        ).alias("growth_ppm"),
    )


TARGET_PARTITION_BYTES = 128 * 1024 * 1024
ADVISOR_MIN_PARTITIONS = 32


def partition_advisor(
    tables: dict[str, DataFrame],
    target_bytes: int = TARGET_PARTITION_BYTES,
    min_partitions: int = ADVISOR_MIN_PARTITIONS,
) -> DataFrame:
    """Spark partition-sizing advisor: per table, an exact deterministic
    in-memory size estimate (8 bytes per numeric/timestamp cell, string
    cells at their byte length, array cells at 8·len) and the partition
    counts that follow — ceil(bytes/target) for the scan,
    max(min_partitions, scan) for shuffles. The engine-ops answer to
    "what do I set spark.sql.files.maxPartitionBytes and
    spark.sql.shuffle.partitions to for THIS data".

    One aggregation per table (map-side combinable integer sums), results
    unioned on the |tables| grain. Output per table:
    (table, n_rows, est_bytes, scan_partitions, shuffle_partitions)."""
    outs = []
    for name, df in tables.items():
        string_cols = [f.name for f in df.schema.fields
                       if f.dataType.simpleString() == "string"]
        array_cols = [f.name for f in df.schema.fields
                      if f.dataType.simpleString().startswith("array")]
        fixed_cols = len(df.schema.fields) - len(string_cols) - len(array_cols)
        exprs = [
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            (
                sum(
                    (F.sum(F.length(F.col(c)).cast("bigint")) for c in string_cols),
                    F.lit(0).cast("bigint"),
                )
                + sum(
                    (F.sum(F.size(F.col(c)).cast("bigint") * 8)
                     for c in array_cols),
                    F.lit(0).cast("bigint"),
                )
            ).cast("bigint").alias("var_bytes"),
        ]
        agg = df.agg(*exprs).select(
            F.lit(name).alias("table"),
            "n_rows",
            (F.col("var_bytes") + F.lit(8 * fixed_cols) * F.col("n_rows"))
            .cast("bigint")
            .alias("est_bytes"),
        )
        outs.append(agg)
    est = outs[0]
    for o in outs[1:]:
        est = est.unionByName(o)
    scan = F.expr(f"(est_bytes + {target_bytes} - 1) div {target_bytes}")
    return est.select(
        "table",
        "n_rows",
        "est_bytes",
        scan.cast("bigint").alias("scan_partitions"),
        F.greatest(scan, F.lit(min_partitions))
        .cast("bigint")
        .alias("shuffle_partitions"),
    )


def seasonal_strength(events: DataFrame) -> DataFrame:
    """Seasonality strength of daily volume: the share of day-count
    variance explained by the day-of-week means (R² of the dow model) —
    the one number that says whether q221's per-dow bands are doing real
    work or the series is aperiodic.

    One count per epoch day, then all variance algebra on the bounded
    day grain with exact integer sums scaled by n (SSB/SST as integer
    numerators over a common n² denominator — no float means). Output
    one row: (n_days, sst_x_n, ssb_x_n, strength)."""
    daily = events.select(
        F.expr("unix_timestamp(ts) div 86400").alias("day")
    ).groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wd = Window.partitionBy("dow")
    d38 = "decimal(38,0)"
    base = daily.select(F.expr("day % 7").alias("dow"), "c").select(
        "dow",
        "c",
        F.count(F.lit(1)).over(tot).alias("n"),
        F.sum("c").over(tot).alias("s"),
        F.count(F.lit(1)).over(wd).alias("n_d"),
        F.sum("c").over(wd).alias("s_d"),
    )
    # SST·n² = Σ (n·c − s)² ; SSB·n² = Σ_days (n·mean_dow − s)² with
    # mean_dow = s_d/n_d → per-day term ((n·s_d − s·n_d)/n_d)² — keep the
    # n_d divisor exact by scaling each term by n_d² via common LCM-free
    # float at the END: compute both in DECIMAL where possible
    sst = F.sum(
        (
            (F.col("n") * F.col("c") - F.col("s")).cast(d38)
            * (F.col("n") * F.col("c") - F.col("s")).cast(d38)
        )
    )
    ssb_term = (
        (F.col("n") * F.col("s_d") - F.col("s") * F.col("n_d")).cast(d38)
        * (F.col("n") * F.col("s_d") - F.col("s") * F.col("n_d")).cast(d38)
    ).cast("double") / (
        F.col("n_d").cast("double") * F.col("n_d").cast("double")
    )
    agg = base.agg(
        F.max("n").cast("bigint").alias("n_days"),
        sst.alias("sst_n2"),
        F.sum(ssb_term).alias("ssb_n2"),
    )
    return agg.select(
        "n_days",
        F.col("sst_n2").cast("double").alias("sst_x_n"),
        F.round(F.col("ssb_n2"), 6).alias("ssb_x_n"),
        F.round(
            F.when(
                F.col("sst_n2") > 0,
                F.col("ssb_n2") / F.col("sst_n2").cast("double"),
            ),
            6,
        ).alias("strength"),
    )


def user_entropy_census(events: DataFrame, bins: int = 10) -> DataFrame:
    """Per-user behavioral-entropy census: each user's event-type
    distribution entropy (normalized by ln of the global type count to
    [0,1]), histogrammed into ``bins`` — bots cluster at 0 (one action
    repeated), organic users spread; the population-level fingerprint
    behind q171's per-user gap regularity.

    One (user, type) agg, one user-grain entropy fold, then a census on
    the ≤bins grain. Entropy floats exist only per user-row; the bin
    assignment floors deterministically. Output per bin:
    (bin, n_users, min_entropy_milli, max_entropy_milli)."""
    ut = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    k_types = events.select("event_type").distinct().count()
    wu = Window.partitionBy("user_id")
    per_user = ut.select(
        "user_id",
        "c",
        F.sum("c").over(wu).alias("n_u"),
    ).groupBy("user_id").agg(
        F.sum(
            -(F.col("c") / F.col("n_u"))
            * F.log(F.col("c") / F.col("n_u"))
        ).alias("h")
    )
    h_norm = F.col("h") / F.lit(float(__import__("math").log(k_types)))
    binned = per_user.select(
        F.least(
            F.floor(h_norm * bins).cast("bigint"), F.lit(bins - 1)
        ).alias("bin"),
        F.round(h_norm * 1000).cast("bigint").alias("h_milli"),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.min("h_milli").alias("min_entropy_milli"),
        F.max("h_milli").alias("max_entropy_milli"),
    )


def smoothed_popularity(
    lineitem: DataFrame,
    prior_strength: int = 20,
    k: int = 15,
) -> DataFrame:
    """Bayesian-smoothed part popularity: per part, order count shrunk
    toward the global mean with a pseudo-count prior — the cold-start fix
    that stops a part ordered twice in two orders from outranking catalog
    staples (the same smoothing every CTR/popularity ranker applies).

    smoothed = (n_p + C·m) / (1 + C/n̄)… expressed exactly: with m =
    global mean orders per part, score = (n_p + C·m) / (N_parts-free
    denominator (1 + C)) — we keep the standard (n_p + C·m)/(1 + C)
    form with m as an exact rational carried in integer micro units.
    One part-grain agg, a 1-row global broadcast, a TakeOrdered head.
    Output: (partkey, n_orders, smoothed_micro)."""
    per_part = lineitem.groupBy(
        F.col("l_partkey").alias("partkey")
    ).agg(F.countDistinct("l_orderkey").cast("bigint").alias("n_orders"))
    glob = per_part.agg(
        F.sum("n_orders").alias("tot"),
        F.count(F.lit(1)).alias("parts"),
    )
    c = F.lit(int(prior_strength))
    # smoothed·1e6 = (n_p·parts + C·mean·parts)·1e6 / ((1+C)·parts)
    #             = (n_p·parts + C·tot)·1e6 / ((1+C)·parts) — exact ints
    smoothed_micro = F.expr(
        f"((n_orders * parts + {prior_strength} * tot) * 1000000)"
        f" div ((1 + {prior_strength}) * parts)"
    ).cast("bigint")
    return (
        per_part.crossJoin(F.broadcast(glob))
        .select("partkey", "n_orders", smoothed_micro.alias("smoothed_micro"))
        .orderBy(
            F.col("smoothed_micro").desc(), F.col("partkey").asc()
        )
        .limit(k)
    )


def tukey_outlier_days(events: DataFrame) -> DataFrame:
    """Tukey-fence outlier days: daily counts outside [Q1 − 1.5·IQR,
    Q3 + 1.5·IQR], with exact type-1 quartiles from the bounded
    distinct-count grain — the robust companion to q204's CUSUM (level
    shifts) and q111's z-scores (Gaussian assumptions).

    One daily count, quartiles via cumulative windows on the bounded
    grain, fences in exact quarter-units (4·c vs 4·Q±6·IQR — no float).
    Output per outlier day: (day, n_events, fence_lo_x4, fence_hi_x4)."""
    daily = events.select(
        F.expr("unix_timestamp(ts) div 86400").alias("day")
    ).groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    counts = daily.groupBy("c").agg(F.count(F.lit(1)).alias("nd"))
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = counts.select(
        "c",
        F.sum("nd").over(w).alias("cum"),
        F.sum("nd").over(tot).alias("n"),
    )
    q = cum.agg(
        F.min(F.when(F.col("cum") * 4 >= F.col("n"), F.col("c"))).alias("q1"),
        F.min(
            F.when(F.col("cum") * 4 >= 3 * F.col("n"), F.col("c"))
        ).alias("q3"),
    )
    fenced = daily.crossJoin(F.broadcast(q)).select(
        "day",
        F.col("c").alias("n_events"),
        (4 * F.col("q1") - 6 * (F.col("q3") - F.col("q1"))).alias("lo4"),
        (4 * F.col("q3") + 6 * (F.col("q3") - F.col("q1"))).alias("hi4"),
    )
    return fenced.filter(
        (4 * F.col("n_events") < F.col("lo4"))
        | (4 * F.col("n_events") > F.col("hi4"))
    ).select(
        F.col("day").cast("bigint").alias("day"),
        "n_events",
        F.col("lo4").cast("bigint").alias("fence_lo_x4"),
        F.col("hi4").cast("bigint").alias("fence_hi_x4"),
    )


# --- TPC-H fill-in wave (q241-q255) -----------------------------------------
# The remaining classic TPC-H shapes this schema can express (the fixture
# lacks partsupp, l_commitdate/receiptdate, shipmode/container — queries
# needing those are adapted, noted per-function). Together with Q1 (q15),
# Q5 (q209) and Q21 (q226) these give the engine the full relational
# benchmark surface: multi-way joins, anti/semi joins, scalar subqueries,
# OR-branch predicates, and top-k — each expressed as the plan you'd want
# at 100 TB (pushed scans, broadcast only for genuinely bounded dims,
# single-shuffle aggregations on uniform TPC-H keys, TakeOrdered heads).


def shipping_priority(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    segment: str = "BUILDING",
    cutoff_s: int = 852076800,  # 1997-01-01
    k: int = 10,
) -> DataFrame:
    """TPC-H Q3: unshipped-order revenue for one market segment — top-k
    orders by revenue booked after the cutoff.

    Scale shape: both date predicates push into the parquet scans (epoch
    literals, constant-foldable); the segment filter prunes customer
    before its join (custkey shuffle, uniform); revenue aggregates on the
    orderkey grain (one shuffle); TakeOrderedAndProject caps the result
    driver-side at k rows. No window, no broadcast of the fact side."""
    cut = F.timestamp_seconds(F.lit(cutoff_s))
    c = customer.filter(F.col("c_mktsegment") == segment).select("c_custkey")
    o = orders.filter(F.col("o_orderdate") < cut).select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    l = lineitem.filter(F.col("l_shipdate") > cut).select(
        "l_orderkey",
        cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "rev_cents"
        ),
    )
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.unix_timestamp("o_orderdate").alias("orderdate_s"),
        )
        .agg(F.sum("rev_cents").cast("bigint").alias("revenue_cents"))
        .orderBy(F.col("revenue_cents").desc(), F.col("orderkey").asc())
        .limit(k)
    )


def revenue_forecast(
    lineitem: DataFrame,
    start_epoch_s: int = 820454400,  # 1996-01-01
    end_epoch_s: int = 852076800,    # 1997-01-01
    disc_lo: float = 0.05,
    disc_hi: float = 0.07,
    max_qty: float = 24.0,
) -> DataFrame:
    """TPC-H Q6: forecast-revenue-change — one filtered scan, one global
    sum. Every predicate (shipdate range, discount band, quantity cap)
    reaches the parquet scan as a pushed filter; the aggregate is a
    map-side partial into a single-row final. The cheapest possible plan
    at any scale: cost = one pass over the pruned row groups."""
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.timestamp_seconds(F.lit(start_epoch_s)))
            & (F.col("l_shipdate") < F.timestamp_seconds(F.lit(end_epoch_s)))
            & (F.col("l_discount") >= disc_lo)
            & (F.col("l_discount") <= disc_hi)
            & (F.col("l_quantity") < max_qty)
        )
        .select(
            cents(F.col("l_extendedprice") * F.col("l_discount")).alias("d")
        )
        .agg(F.sum("d").cast("bigint").alias("revenue_cents"))
    )


def nation_trade_volume(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_a: str = "UNITED STATES",
    nation_b: str = "CHINA",
    start_epoch_s: int = 820454400,
    end_epoch_s: int = 883612800,  # 1998-01-01
) -> DataFrame:
    """TPC-H Q7: shipping volume between two nations per direction per
    year. nation is a true bounded dim (25 rows) — broadcast twice (one
    per side); supplier and customer join on their uniform keys; the
    final agg grain is (supp_nation, cust_nation, year) ≤ 2×years rows.
    The pair filter applies symmetrically (either direction)."""
    n_a = nation.filter(F.col("n_name").isin([nation_a, nation_b]))
    s = supplier.join(
        F.broadcast(n_a), supplier["s_nationkey"] == n_a["n_nationkey"]
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    c = customer.join(
        F.broadcast(n_a), customer["c_nationkey"] == n_a["n_nationkey"]
    ).select("c_custkey", F.col("n_name").alias("cust_nation"))
    l = lineitem.filter(
        (F.col("l_shipdate") >= F.timestamp_seconds(F.lit(start_epoch_s)))
        & (F.col("l_shipdate") < F.timestamp_seconds(F.lit(end_epoch_s)))
    ).select(
        "l_orderkey",
        "l_suppkey",
        F.year("l_shipdate").cast("int").alias("ship_year"),
        cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "rev_cents"
        ),
    )
    return (
        l.join(s, l["l_suppkey"] == s["s_suppkey"])
        .join(
            orders.select("o_orderkey", "o_custkey"),
            l["l_orderkey"] == F.col("o_orderkey"),
        )
        .join(c, F.col("o_custkey") == c["c_custkey"])
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", "ship_year")
        .agg(F.sum("rev_cents").cast("bigint").alias("volume_cents"))
    )


def market_share(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    part: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    target_nation: str = "BRAZIL",
    region_name: str = "AMERICA",
    part_type: str = "STANDARD",
    start_epoch_s: int | None = None,
    end_epoch_s: int | None = None,
) -> DataFrame:
    """TPC-H Q8: the target nation's share of one region's market for one
    part type, per order year. The share is a conditional-sum ratio
    inside ONE aggregation (no second scan, no join of two aggregates);
    part prunes on p_type before its uniform partkey join; nation/region
    broadcast on both the customer (market) and supplier (share) legs.
    ``start_epoch_s``/``end_epoch_s`` apply the spec's o_orderdate window
    ([start, end), scan-pushed); left as None, all order years report.
    Only the bounded nation/region dims carry broadcast hints; the
    supplier-derived side scales with SF and joins by shuffle (AQE may
    still elect broadcast when small)."""
    r = region.filter(F.col("r_name") == region_name)
    n_mkt = nation.join(
        F.broadcast(r), nation["n_regionkey"] == r["r_regionkey"]
    ).select(F.col("n_nationkey").alias("mkt_nk"))
    c = customer.join(
        F.broadcast(n_mkt), customer["c_nationkey"] == F.col("mkt_nk")
    ).select("c_custkey")
    p = part.filter(F.col("p_type") == part_type).select("p_partkey")
    s = supplier.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        supplier["s_nationkey"] == F.col("n_nationkey"),
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    l = lineitem.select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "rev_cents"
        ),
    )
    o = orders
    if start_epoch_s is not None:
        o = o.filter(
            F.col("o_orderdate") >= F.timestamp_seconds(F.lit(start_epoch_s))
        )
    if end_epoch_s is not None:
        o = o.filter(
            F.col("o_orderdate") < F.timestamp_seconds(F.lit(end_epoch_s))
        )
    joined = (
        l.join(p, l["l_partkey"] == p["p_partkey"])
        .join(
            o.select(
                "o_orderkey",
                "o_custkey",
                F.year("o_orderdate").cast("int").alias("order_year"),
            ),
            l["l_orderkey"] == F.col("o_orderkey"),
        )
        .join(c, F.col("o_custkey") == c["c_custkey"])
        .join(s, l["l_suppkey"] == s["s_suppkey"])
    )
    return joined.groupBy("order_year").agg(
        F.sum(
            F.when(F.col("supp_nation") == target_nation, F.col("rev_cents"))
            .otherwise(F.lit(0))
        ).cast("bigint").alias("target_cents"),
        F.sum("rev_cents").cast("bigint").alias("total_cents"),
    ).select(
        "order_year",
        "target_cents",
        "total_cents",
        (F.col("target_cents") / F.col("total_cents")).alias("mkt_share"),
    )


def product_profit(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    part: DataFrame,
    nation: DataFrame,
    name_token: str = "red",
    cost_factor: float = 0.6,
) -> DataFrame:
    """TPC-H Q9 adapted to this schema (no partsupp.ps_supplycost): unit
    cost is modeled as ``cost_factor × p_retailprice``, so profit =
    extprice·(1−disc) − cost_factor·retail·qty, for parts whose name
    contains ``name_token``, grouped by supplier nation × order year.

    Scale shape: the name filter prunes part before the uniform partkey
    join (contains() is not a pushed filter, but it IS evaluated in the
    scan stage before the shuffle); nation broadcasts into supplier, but
    the supplier-derived side itself joins by shuffle (it scales with
    SF); profit is exact integer cents so the oracle comparison is
    bit-stable."""
    p = part.filter(F.col("p_name").contains(name_token)).select(
        "p_partkey", "p_retailprice"
    )
    s = supplier.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        supplier["s_nationkey"] == F.col("n_nationkey"),
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    l = lineitem.select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount",
    )
    return (
        l.join(p, l["l_partkey"] == p["p_partkey"])
        .join(
            orders.select(
                "o_orderkey", F.year("o_orderdate").cast("int").alias("order_year")
            ),
            l["l_orderkey"] == F.col("o_orderkey"),
        )
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .select(
            "supp_nation",
            "order_year",
            (
                cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                - cents(
                    F.col("p_retailprice") * F.col("l_quantity") * cost_factor
                )
            ).alias("profit_cents"),
        )
        .groupBy("supp_nation", "order_year")
        .agg(F.sum("profit_cents").cast("bigint").alias("profit_cents"))
    )


def returned_items(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    start_epoch_s: int = 852076800,  # 1997-01-01
    end_epoch_s: int = 859881600,    # 1997-04-01
    k: int = 20,
) -> DataFrame:
    """TPC-H Q10: customers who returned the most revenue in one quarter.
    returnflag + the order-date quarter both prune at the scans; one
    custkey-grain aggregation (uniform key); nation broadcasts; the head
    is TakeOrderedAndProject(k). Customer attributes ride the groupBy
    key (functional dependency of custkey) instead of a re-join."""
    o = orders.filter(
        (F.col("o_orderdate") >= F.timestamp_seconds(F.lit(start_epoch_s)))
        & (F.col("o_orderdate") < F.timestamp_seconds(F.lit(end_epoch_s)))
    ).select("o_orderkey", "o_custkey")
    l = lineitem.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey",
        cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "rev_cents"
        ),
    )
    c = customer.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        customer["c_nationkey"] == F.col("n_nationkey"),
    ).select("c_custkey", "c_name", "c_acctbal", "n_name")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("cust_name"),
            cents("c_acctbal").alias("acctbal_cents"),
            F.col("n_name").alias("nation_name"),
        )
        .agg(F.sum("rev_cents").cast("bigint").alias("revenue_cents"))
        .orderBy(F.col("revenue_cents").desc(), F.col("custkey").asc())
        .limit(k)
    )


def order_count_distribution(
    customer: DataFrame, orders: DataFrame
) -> DataFrame:
    """TPC-H Q13: how many customers placed 0, 1, 2, … orders. A custkey
    count on orders (uniform shuffle), LEFT join from customer so
    zero-order customers survive, then a second tiny agg on the bounded
    count grain (≤ max orders per customer, dozens of rows). The classic
    two-level distribution: no window, no skew (custkey uniform)."""
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("c_count")
    )
    return (
        customer.select("c_custkey")
        .join(per_cust, customer["c_custkey"] == per_cust["o_custkey"], "left")
        .select(F.coalesce(F.col("c_count"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("bigint").alias("custdist"))
        .select(F.col("c_count").cast("bigint").alias("c_count"), "custdist")
    )


def promo_revenue(
    lineitem: DataFrame,
    part: DataFrame,
    start_epoch_s: int = 841536000,  # 1996-09-01
    end_epoch_s: int = 844128000,    # 1996-10-01
) -> DataFrame:
    """TPC-H Q14: share of one month's revenue from PROMO-type parts —
    a conditional-sum ratio in one aggregation after the uniform partkey
    join; the month window prunes lineitem at the scan. Exact cents for
    both sums; the share divides the two bigints (deterministic IEEE)."""
    l = lineitem.filter(
        (F.col("l_shipdate") >= F.timestamp_seconds(F.lit(start_epoch_s)))
        & (F.col("l_shipdate") < F.timestamp_seconds(F.lit(end_epoch_s)))
    ).select(
        "l_partkey",
        cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "rev_cents"
        ),
    )
    return (
        l.join(
            part.select("p_partkey", "p_type"),
            l["l_partkey"] == F.col("p_partkey"),
        )
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", F.col("rev_cents"))
                .otherwise(F.lit(0))
            ).cast("bigint").alias("promo_cents"),
            F.sum("rev_cents").cast("bigint").alias("total_cents"),
        )
        .select(
            "promo_cents",
            "total_cents",
            (100.0 * F.col("promo_cents") / F.col("total_cents")).alias(
                "promo_pct"
            ),
        )
    )


def top_supplier(
    lineitem: DataFrame,
    supplier: DataFrame,
    start_epoch_s: int = 820454400,  # 1996-01-01
    end_epoch_s: int = 828316800,    # 1996-04-01
) -> DataFrame:
    """TPC-H Q15: the supplier(s) with the maximum revenue in one
    quarter. Revenue aggregates on the uniform suppkey grain; the max is
    a 1-row aggregate broadcast back (no window over all suppliers, no
    collect); ties all surface, as in the spec."""
    rev = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.timestamp_seconds(F.lit(start_epoch_s)))
            & (F.col("l_shipdate") < F.timestamp_seconds(F.lit(end_epoch_s)))
        )
        .select(
            "l_suppkey",
            cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "rev_cents"
            ),
        )
        .groupBy("l_suppkey")
        .agg(F.sum("rev_cents").cast("bigint").alias("total_revenue_cents"))
    )
    mx = rev.agg(F.max("total_revenue_cents").alias("mx"))
    return (
        rev.join(
            F.broadcast(mx), rev["total_revenue_cents"] == F.col("mx")
        )
        .join(
            supplier.select("s_suppkey", "s_name"),
            rev["l_suppkey"] == F.col("s_suppkey"),
        )
        .select(
            F.col("l_suppkey").alias("suppkey"),
            F.col("s_name").alias("supp_name"),
            "total_revenue_cents",
        )
    )


def small_qty_revenue(
    lineitem: DataFrame,
    part: DataFrame,
    brand: str = "Brand#23",
    frac: float = 0.2,
) -> DataFrame:
    """TPC-H Q17: revenue lost to small orders — lineitems of one brand
    whose quantity is below ``frac`` × that part's average quantity.
    The per-part average is an agg on the SAME partkey grain the verify
    join uses (one shuffle feeds both), pruned to the brand's parts
    first, so the 'correlated subquery' costs one bounded join. Output:
    total cents + the spec's avg-yearly double (cents/7/100)."""
    p = part.filter(F.col("p_brand") == brand).select("p_partkey")
    l = lineitem.join(p, lineitem["l_partkey"] == p["p_partkey"]).select(
        lineitem["l_partkey"].alias("partkey"),
        "l_quantity",
        cents("l_extendedprice").alias("price_cents"),
    )
    avg_q = l.groupBy("partkey").agg(F.avg("l_quantity").alias("avg_qty"))
    return (
        l.join(avg_q, "partkey")
        .filter(F.col("l_quantity") < frac * F.col("avg_qty"))
        .agg(F.sum("price_cents").cast("bigint").alias("total_cents"))
        .select(
            "total_cents",
            (F.col("total_cents") / F.lit(700.0)).alias("avg_yearly"),
        )
    )


def large_volume_customers(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    min_qty: float = 250.0,
    k: int = 100,
) -> DataFrame:
    """TPC-H Q18: customers whose single orders total more than
    ``min_qty`` units. The orderkey-grain quantity sum (uniform shuffle)
    filters FIRST — the customer/order detail joins see only qualifying
    orders (a tiny fraction), then TakeOrdered caps at k. This is the
    semi-join-after-agg shape, not a HAVING over a wide join."""
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > min_qty)
    )
    return (
        big.join(
            orders.select(
                "o_orderkey", "o_custkey",
                F.unix_timestamp("o_orderdate").alias("orderdate_s"),
                cents("o_totalprice").alias("totalprice_cents"),
            ),
            big["l_orderkey"] == F.col("o_orderkey"),
        )
        .join(
            customer.select("c_custkey", "c_name"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.col("c_name").alias("cust_name"),
            F.col("c_custkey").alias("custkey"),
            F.col("l_orderkey").alias("orderkey"),
            "orderdate_s",
            "totalprice_cents",
            F.col("total_qty").alias("total_qty"),
        )
        .orderBy(
            F.col("totalprice_cents").desc(), F.col("orderkey").asc()
        )
        .limit(k)
    )


def discounted_revenue(
    lineitem: DataFrame,
    part: DataFrame,
    branches: tuple = (
        ("Brand#11", 1.0, 11.0, 1, 5),
        ("Brand#22", 10.0, 20.0, 1, 10),
        ("Brand#33", 20.0, 30.0, 1, 15),
    ),
) -> DataFrame:
    """TPC-H Q19: revenue matching any of three brand/quantity/size
    branches — the OR-of-ANDs predicate evaluated INSIDE one partkey
    equi-join (Catalyst keeps the equi-key join + residual filter; no
    cartesian, no union of three scans). Quantity bounds prune lineitem
    to the union range at the scan."""
    qty_lo = min(b[1] for b in branches)
    qty_hi = max(b[2] for b in branches)
    l = lineitem.filter(
        (F.col("l_quantity") >= qty_lo) & (F.col("l_quantity") <= qty_hi)
    ).select(
        "l_partkey", "l_quantity",
        cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "rev_cents"
        ),
    )
    p = part.select("p_partkey", "p_brand", "p_size")
    cond = F.lit(False)
    for brand, lo, hi, s_lo, s_hi in branches:
        cond = cond | (
            (F.col("p_brand") == brand)
            & (F.col("l_quantity") >= lo)
            & (F.col("l_quantity") <= hi)
            & (F.col("p_size") >= s_lo)
            & (F.col("p_size") <= s_hi)
        )
    return (
        l.join(p, l["l_partkey"] == p["p_partkey"])
        .filter(cond)
        .agg(F.sum("rev_cents").cast("bigint").alias("revenue_cents"))
    )


def dormant_customers(
    customer: DataFrame,
    orders: DataFrame,
    cutoff_s: int = 915148800,  # 1999-01-01
) -> DataFrame:
    """TPC-H Q22 adapted (no phone country codes in this schema — groups
    by nation key instead): well-funded customers (balance above the
    positive-balance average) with no recent orders. The average is a
    1-row aggregate broadcast via crossJoin; 'no recent orders' is a
    LEFT ANTI join against the date-pruned orders scan — the canonical
    NOT EXISTS plan, no correlated subquery. The above-average test is
    exact integer math (cents × count > total cents) so the boundary is
    bit-stable across engines regardless of float summation order."""
    avg_pos = customer.filter(F.col("c_acctbal") > 0).agg(
        F.sum(cents("c_acctbal")).alias("pos_cents"),
        F.count(F.lit(1)).alias("pos_n"),
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.timestamp_seconds(F.lit(cutoff_s))
    ).select("o_custkey")
    rich = customer.crossJoin(F.broadcast(avg_pos)).filter(
        cents("c_acctbal") * F.col("pos_n") > F.col("pos_cents")
    )
    return (
        rich.join(recent, rich["c_custkey"] == recent["o_custkey"], "left_anti")
        .groupBy(F.col("c_nationkey").cast("bigint").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("numcust"),
            F.sum(cents("c_acctbal")).cast("bigint").alias("totacctbal_cents"),
        )
    )


def min_unit_price_supplier(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    part_type: str = "LARGE",
    min_size: int = 40,
    k: int = 100,
) -> DataFrame:
    """TPC-H Q2 adapted (no partsupp catalog — supply price is the
    observed unit price in lineitem): for each part of one type above a
    size, the supplier(s) with the lowest observed unit price. The
    per-(part, supplier) min and the per-part min are two aggs on the
    SAME pruned join output; the 'min per group' returns via an equi-join
    on (partkey, price) — no window over the full part grain."""
    p = part.filter(
        (F.col("p_type") == part_type) & (F.col("p_size") >= min_size)
    ).select("p_partkey")
    obs = (
        lineitem.join(p, lineitem["l_partkey"] == p["p_partkey"])
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("l_suppkey").alias("suppkey"),
            (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit"),
        )
        .groupBy("partkey", "suppkey")
        .agg(F.min("unit").alias("min_unit"))
    )
    best = obs.groupBy(F.col("partkey").alias("best_pk")).agg(
        F.min("min_unit").alias("best_unit")
    )
    s = supplier.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        supplier["s_nationkey"] == F.col("n_nationkey"),
    ).select("s_suppkey", "s_name", "s_acctbal", F.col("n_name").alias("nation_name"))
    return (
        obs.join(
            best,
            (F.col("partkey") == F.col("best_pk"))
            & (F.col("min_unit") == F.col("best_unit")),
        )
        .select("partkey", "suppkey", "min_unit")
        .join(s, F.col("suppkey") == s["s_suppkey"])
        .select(
            "partkey",
            "suppkey",
            F.col("s_name").alias("supp_name"),
            F.col("nation_name"),
            cents("s_acctbal").alias("acctbal_cents"),
            # integer micro-units, not round(x, 6): decimal-scale rounding
            # of a double differs between engines at representation edges,
            # while round(x * 1e6) is the same cents() construct the whole
            # suite relies on for bit-stable cross-engine comparison
            F.round(F.col("min_unit") * 1e6).cast("bigint").alias(
                "unit_micros"
            ),
        )
        .orderBy(
            F.col("acctbal_cents").desc(),
            F.col("partkey").asc(),
            F.col("suppkey").asc(),
        )
        .limit(k)
    )


def important_part_value(
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_name: str = "GERMANY",
    frac: float = 0.001,
) -> DataFrame:
    """TPC-H Q11 adapted (value = traded volume from lineitem, not
    partsupp stock): parts whose traded value through one nation's
    suppliers exceeds ``frac`` of that nation's total. Supplier prunes
    via the broadcast nation dim; value aggregates on the uniform
    partkey grain; the threshold is a 1-row aggregate broadcast back.
    No sort — the oracle comparison is order-insensitive."""
    n = nation.filter(F.col("n_name") == nation_name)
    s = supplier.join(
        F.broadcast(n), supplier["s_nationkey"] == n["n_nationkey"]
    ).select("s_suppkey")
    val = (
        lineitem.join(
            F.broadcast(s), lineitem["l_suppkey"] == s["s_suppkey"]
        )
        .select(
            "l_partkey",
            cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "v_cents"
            ),
        )
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum("v_cents").cast("bigint").alias("value_cents"))
    )
    thresh = val.agg(
        (F.sum("value_cents") * frac).alias("min_value")
    )
    return val.crossJoin(F.broadcast(thresh)).filter(
        F.col("value_cents") > F.col("min_value")
    ).select("partkey", "value_cents")


def pricing_summary(
    lineitem: DataFrame,
    cutoff_epoch_s: int = 904608000,  # 1998-09-01
) -> DataFrame:
    """TPC-H Q1, full spec shape: the 8-aggregate pricing summary per
    (returnflag, linestatus) for lines shipped on or before the cutoff.
    (q15's group_agg is the 4-aggregate variant; this is the spec row.)

    Scale shape: the single cheapest plan Spark has — one pushed-filter
    scan into a map-side partial agg on a ≤6-row grain. All money math in
    exact integer cents (charge = price·(1−disc)·(1+tax), rounded once,
    matching the oracle's association order); averages derive from the
    exact sums so they are bit-stable across engines."""
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        lineitem.filter(
            F.col("l_shipdate")
            <= F.timestamp_seconds(F.lit(cutoff_epoch_s))
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(cents("l_quantity")).cast("bigint").alias("sum_qty_cents"),
            F.sum(cents("l_extendedprice")).cast("bigint").alias(
                "sum_base_cents"
            ),
            F.sum(cents(disc_price)).cast("bigint").alias("sum_disc_cents"),
            F.sum(cents(charge)).cast("bigint").alias("sum_charge_cents"),
            F.count(F.lit(1)).cast("bigint").alias("count_order"),
            F.sum(cents("l_discount")).cast("bigint").alias(
                "sum_discount_cents"
            ),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "sum_qty_cents",
            "sum_base_cents",
            "sum_disc_cents",
            "sum_charge_cents",
            (
                F.col("sum_qty_cents")
                / F.col("count_order") / F.lit(100.0)
            ).alias("avg_qty"),
            (
                F.col("sum_base_cents")
                / F.col("count_order") / F.lit(100.0)
            ).alias("avg_price"),
            (
                F.col("sum_discount_cents")
                / F.col("count_order") / F.lit(100.0)
            ).alias("avg_disc"),
            "count_order",
        )
    )


def late_order_priority(
    orders: DataFrame,
    lineitem: DataFrame,
    start_epoch_s: int = 836179200,   # 1996-07-01
    end_epoch_s: int = 844128000,     # 1996-10-01
    grace_days: int = 30,
) -> DataFrame:
    """TPC-H Q4 adapted to this schema (no l_commitdate — 'late' means a
    lineitem shipped more than ``grace_days`` after the order date):
    per-priority count of orders in the window with at least one late
    line.

    Scale shape: the quarter window prunes orders at the scan; EXISTS is
    a LEFT SEMI join on the uniform orderkey (equi key + residual
    late-ship predicate evaluated inside the join, never materializing
    matches); the final agg grain is |priorities| ≤ 5 rows."""
    o = orders.filter(
        (F.col("o_orderdate") >= F.timestamp_seconds(F.lit(start_epoch_s)))
        & (F.col("o_orderdate") < F.timestamp_seconds(F.lit(end_epoch_s)))
    ).select("o_orderkey", "o_orderpriority", "o_orderdate")
    l = lineitem.select("l_orderkey", "l_shipdate")
    late = o.join(
        l,
        (o["o_orderkey"] == l["l_orderkey"])
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {grace_days} DAYS")
        ),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("order_count")
    )


def part_supplier_counts(
    lineitem: DataFrame,
    part: DataFrame,
    exclude_type: str = "PROMO",
    k: int = 100,
) -> DataFrame:
    """TPC-H Q16 adapted (no partsupp catalog — the observed distinct
    (part, supplier) pairs in lineitem stand in for it; no supplier
    comment filter in this schema): how many distinct suppliers serve
    each (brand, type, size) group, excluding one part type, top-k groups
    by breadth.

    Scale shape: the distinct on (partkey, suppkey) is one uniform-key
    shuffle that collapses lineitem to catalog cardinality FIRST; part
    prunes on type before its partkey join; count_distinct rides the
    (brand, type, size) grain. TakeOrdered caps the head."""
    pairs = lineitem.select("l_partkey", "l_suppkey").distinct()
    p = part.filter(F.col("p_type") != exclude_type).select(
        "p_partkey", "p_brand", "p_type", "p_size"
    )
    return (
        pairs.join(p, pairs["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(
            F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt")
        )
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand").asc(),
            F.col("p_type").asc(),
            F.col("p_size").asc(),
        )
        .limit(k)
    )


def excess_shippers(
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    start_epoch_s: int = 820454400,  # 1996-01-01
    end_epoch_s: int = 852076800,    # 1997-01-01
    frac: float = 0.5,
) -> DataFrame:
    """TPC-H Q20 adapted (no partsupp availqty — 'excess' means the
    supplier shipped more than ``frac`` of a part's total volume in the
    window): distinct suppliers dominating at least one part's supply,
    with their nation.

    Scale shape: the window prunes lineitem at the scan; per-(part,
    supplier) and per-part totals are two aggs sharing the first
    shuffle's partkey grain; the dominance filter compares exact integer
    centi-quantities (qty × frac scaled to integers) so the boundary is
    bit-stable; the survivors' distinct-supplier set is catalog-bounded
    before the broadcast nation join."""
    l = lineitem.filter(
        (F.col("l_shipdate") >= F.timestamp_seconds(F.lit(start_epoch_s)))
        & (F.col("l_shipdate") < F.timestamp_seconds(F.lit(end_epoch_s)))
    ).select(
        "l_partkey", "l_suppkey", cents("l_quantity").alias("qty_cents")
    )
    per_ps = l.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("qty_cents").cast("bigint").alias("supp_qty")
    )
    per_p = per_ps.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum("supp_qty").cast("bigint").alias("part_qty")
    )
    # supp_qty > frac * part_qty in exact integers: scale frac to a
    # rational with denominator 1000 (covers the configurable fractions
    # used here) — supp_qty*1000 > part_qty*frac_milli
    frac_milli = int(round(frac * 1000))
    dominant = (
        per_ps.join(per_p, per_ps["l_partkey"] == F.col("pk"))
        .filter(
            F.col("supp_qty") * F.lit(1000)
            > F.col("part_qty") * F.lit(frac_milli)
        )
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("dominated_parts"))
    )
    s = supplier.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        supplier["s_nationkey"] == F.col("n_nationkey"),
    ).select("s_suppkey", "s_name", F.col("n_name").alias("nation_name"))
    return dominant.join(
        s, dominant["l_suppkey"] == s["s_suppkey"]
    ).select(
        F.col("s_suppkey").alias("suppkey"),
        F.col("s_name").alias("supp_name"),
        "nation_name",
        "dominated_parts",
    )


def theil_sen_daily_revenue(orders: DataFrame) -> DataFrame:
    """Theil–Sen robust trend of daily revenue: the median of all pairwise
    slopes (rev_j − rev_i)/(day_j − day_i) over the daily-revenue series,
    plus the matching median-residual intercept. The estimator a 29%
    outlier fraction cannot move — the robust answer to "is revenue
    actually trending" that one flash-sale day would wreck in OLS (q206's
    half-life fit is the fragile cousin).

    Scale shape: the corpus collapses to the bounded day grain (≈3000 rows
    for a decade — corpus-size-independent) in one mergeable agg; the
    pairwise slope explode is |days|²/2 ≈ 5M tiny rows, a fixed cost that
    does not grow with data volume. The slope median is rank-exact via the
    distributed range-partition construction — NOT Spark's percentile()
    aggregate, which funnels every slope into one in-memory buffer (a
    single-task sort of millions of doubles; measured 12 s at sf0.1 and
    the 100 TB straggler shape). Medians interpolate at 0.5 exactly like
    the oracle's quantile_cont.

    Cross-engine determinism: daily revenue is exact integer cents, day
    indices exact integers, so every slope is the same double in any
    engine; the median averages the two middle such doubles.

    Output one row: (n_days, n_pairs, slope_cents_per_day, intercept_cents).
    """
    from esop_spark.operators.sampling import _distributed_stratum_rank

    # Round 11 (guide §5: cache only what's reused): the day-grain series
    # (~2.4k rows) is consumed FOUR times — both slope-join legs, the
    # n_pairs count, and the residual pass — each evaluation a full
    # orders scan + agg when unpersisted.
    daily = share_relation(
        orders.select(
            F.expr("unix_timestamp(o_orderdate) div 86400").alias("day"),
            cents("o_totalprice").alias("rc"),
        ).groupBy("day").agg(F.sum("rc").cast("bigint").alias("rev"))
    )
    a = daily.select(F.col("day").alias("d1"), F.col("rev").alias("r1"))
    b = daily.select(F.col("day").alias("d2"), F.col("rev").alias("r2"))
    slopes = a.join(b, F.col("d1") < F.col("d2")).select(
        ((F.col("r2") - F.col("r1")) / (F.col("d2") - F.col("d1"))).alias(
            "slope"
        ),
        # unique pair key: tie-break order among equal slopes is
        # median-invariant, but the rank construction wants a total order
        (F.col("d1") * F.lit(1_000_000) + F.col("d2")).alias("pk"),
    )
    # n_pairs = C(|days|, 2) off the tiny day grain — counting the pair
    # relation itself would re-run the nested-loop join a second time
    counted = daily.agg(F.count(F.lit(1)).alias("nd")).select(
        F.expr("nd * (nd - 1) div 2").cast("bigint").alias("n_pairs")
    )
    ranked = _distributed_stratum_rank(
        slopes.withColumn("_one", F.lit(1)), "_one", F.col("slope"), F.col("pk")
    )
    med = (
        ranked.crossJoin(F.broadcast(counted))
        .filter(
            (F.col("_rn") == F.expr("(n_pairs + 1) div 2"))
            | (F.col("_rn") == F.expr("n_pairs div 2 + 1"))
        )
        .agg(
            F.max("n_pairs").alias("n_pairs"),
            F.avg("slope").alias("m"),
        )
    )
    resid = daily.crossJoin(F.broadcast(med)).agg(
        F.max("n_pairs").alias("n_pairs"),
        F.max("m").alias("m"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.expr("percentile(rev - m * day, 0.5)").alias("icept"),
    )
    return resid.select(
        "n_days",
        "n_pairs",
        F.round(F.col("m"), 6).alias("slope_cents_per_day"),
        F.round(F.col("icept"), 6).alias("intercept_cents"),
    )


def changepoint_split_day(events: DataFrame) -> DataFrame:
    """Single changepoint by binary segmentation on the daily event-count
    series: the split day t maximizing SST − SSE_left − SSE_right (the
    variance-reduction step CART/PELT iterate). Where q204's CUSUM flags
    drift against a global mean, this names the day the level actually
    moved — the first question after any ingestion-pipeline regression.

    Scale shape: one mergeable agg to the bounded day grain, prefix sums
    via a window over that ≤|days|-row series (corpus-size-independent —
    never a per-event window), and a k-row argmax. SSE terms use the
    Σx² − (Σx)²/n identity on exact bigint prefix sums, so every candidate
    gain is the same double in any engine; ties break on the earliest day.

    Output one row: (split_day, n_left, n_right, mean_left, mean_right,
    gain).
    """
    daily = events.select(
        F.expr("unix_timestamp(ts) div 86400").alias("day")
    ).groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pre = daily.select(
        "day",
        F.sum("c").over(w).alias("s1"),
        F.sum(F.col("c") * F.col("c")).over(w).alias("s2"),
        F.count(F.lit(1)).over(w).alias("n1"),
        F.sum("c").over(tot).alias("st"),
        F.sum(F.col("c") * F.col("c")).over(tot).alias("s2t"),
        F.count(F.lit(1)).over(tot).alias("nt"),
    ).filter(F.col("n1") < F.col("nt"))
    sse_l = F.col("s2") - (F.col("s1") * F.col("s1")) / F.col("n1")
    n2 = F.col("nt") - F.col("n1")
    sr = F.col("st") - F.col("s1")
    sse_r = (F.col("s2t") - F.col("s2")) - (sr * sr) / n2
    sst = F.col("s2t") - (F.col("st") * F.col("st")) / F.col("nt")
    gains = pre.select(
        "day",
        F.col("n1").cast("bigint").alias("n_left"),
        n2.cast("bigint").alias("n_right"),
        F.round(F.col("s1") / F.col("n1"), 6).alias("mean_left"),
        F.round(sr / n2, 6).alias("mean_right"),
        F.round(sst - sse_l - sse_r, 6).alias("gain"),
    )
    best = gains.agg(
        F.max(
            F.struct(F.col("gain"), (-F.col("day")).alias("nd"))
        ).alias("b")
    ).select((-F.col("b.nd")).alias("split_day"))
    return best.join(
        gains, F.col("split_day") == gains["day"]
    ).select(
        "split_day", "n_left", "n_right", "mean_left", "mean_right", "gain"
    )


def hampel_outlier_days(
    events: DataFrame, half_window: int = 3, k_sigma: float = 3.0
) -> DataFrame:
    """Hampel filter on the daily event-count series: per day, the rolling
    median and MAD over day±half_window; a day is an outlier when
    |c − median| > k_sigma · 1.4826 · MAD. The LOCAL robust detector —
    q240's Tukey fences are global, so a seasonal ramp swallows them; the
    Hampel window flags a one-day spike sitting inside any trend.

    Scale shape: one mergeable agg to the bounded day grain, then a single
    ordered window over that ≤|days|-row series (corpus-size-independent,
    never per-event) collecting each day's ±w neighborhood once; median
    and MAD are array folds inside the projection.

    Cross-engine determinism: counts are exact bigints; the median of a
    sorted int array is (lo+hi)/2.0 — the same double anywhere; MAD is the
    same formula over exact |c − med| doubles. When MAD = 0 (constant
    neighborhood) the score is NULL and any deviation flags.

    Output per day: (day, c, med, mad, score, is_outlier)."""
    daily = events.select(
        F.expr("unix_timestamp(ts) div 86400").alias("day")
    ).groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    w = (
        Window.orderBy("day")
        .rangeBetween(-half_window, half_window)
    )
    arr = daily.select(
        "day", "c", F.array_sort(F.collect_list("c").over(w)).alias("arr")
    )

    def _median(a: Column) -> Column:
        n = F.size(a)
        lo = F.element_at(a, ((n + 1) / 2).cast("int"))
        hi = F.element_at(a, (n / 2).cast("int") + 1)
        return (lo + hi) / F.lit(2.0)

    med = arr.select("day", "c", "arr", _median(F.col("arr")).alias("med"))
    devs = med.select(
        "day",
        "c",
        "med",
        _median(
            F.array_sort(
                F.transform(F.col("arr"), lambda x: F.abs(x - F.col("med")))
            )
        ).alias("mad"),
    )
    dev_c = F.abs(F.col("c") - F.col("med"))
    score = F.when(
        F.col("mad") > 0,
        F.round(dev_c / (F.lit(1.4826) * F.col("mad")), 6),
    )
    return devs.select(
        F.col("day").cast("bigint").alias("day"),
        "c",
        F.round("med", 6).alias("med"),
        F.round("mad", 6).alias("mad"),
        score.alias("score"),
        F.when(
            F.col("mad") > 0,
            F.when(dev_c / (F.lit(1.4826) * F.col("mad")) > k_sigma, 1).otherwise(0),
        )
        .otherwise(F.when(dev_c > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("is_outlier"),
    )


def shipmode_priority(
    orders: DataFrame,
    lineitem: DataFrame,
    modes: tuple[str, ...] = ("A", "R"),
    start_epoch_s: int = 820454400,   # 1996-01-01
    end_epoch_s: int = 852076800,     # 1997-01-01
) -> DataFrame:
    """TPC-H Q12 adapted to this schema (no l_shipmode/l_receiptdate —
    l_returnflag stands in for the ship mode and l_shipdate for the
    receipt date): per mode, how many lines in the ship-year window
    belong to high-priority (1-URGENT / 2-HIGH) vs lower-priority orders.
    The ops question Q12 answers — did the cheap shipping tier starve
    urgent orders — survives the column mapping intact.

    Scale shape: the mode IN-list and date window are scan-pushed on the
    fact side BEFORE the orderkey shuffle; orders projects two columns
    and joins on its uniform key; the conditional counts fuse into ONE
    aggregation on the ≤|modes| grain (no second scan, no join of two
    aggregates — the Q8/Q14 conditional-sum shape)."""
    l = lineitem.filter(
        F.col("l_returnflag").isin(list(modes))
        & (F.col("l_shipdate") >= F.timestamp_seconds(F.lit(start_epoch_s)))
        & (F.col("l_shipdate") < F.timestamp_seconds(F.lit(end_epoch_s)))
    ).select("l_orderkey", F.col("l_returnflag").alias("mode"))
    o = orders.select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin(["1-URGENT", "2-HIGH"])
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .groupBy("mode")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias(
                "high_line_count"
            ),
            F.sum(F.when(high, 0).otherwise(1)).cast("bigint").alias(
                "low_line_count"
            ),
        )
    )


def brand_basket_rules(
    lineitem: DataFrame,
    part: DataFrame,
    min_pair_orders: int = 10,
    k: int = 50,
) -> DataFrame:
    """Association rules on order baskets at the brand grain: for each
    unordered brand pair {a, b}, support (co-occurrence count), directed
    confidence P(b|a), and lift = N·n_ab / (n_a·n_b). Lift > 1 means the
    brands co-sell beyond independence — the market-basket primitive,
    computed exactly because the item vocabulary (|brands| ≈ 25) is
    bounded.

    Scale shape: the fact scan collapses to DISTINCT (order, brand)
    first — the uniform orderkey shuffle is the only corpus-sized
    exchange, and per-order brand sets are ≤|brands| rows, so the
    per-order pair self-join is bounded-fanout (≤|brands|² per order,
    never corpus²). Brand totals and N are a broadcast-sized side.
    Output: top-k pairs by lift among those with support ≥
    ``min_pair_orders``, one row per unordered pair."""
    ob = (
        lineitem.select("l_orderkey", "l_partkey")
        .join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    ob = share_relation(ob)  # consumed by totals, the pair join (twice), and N
    n_orders_df = ob.agg(
        F.count_distinct("ok").cast("bigint").alias("n_orders")
    )
    totals = ob.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_brand")
    )
    a = ob.alias("a")
    b = ob.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.ok") == F.col("b.ok"))
            & (F.col("a.brand") < F.col("b.brand")),
        )
        .groupBy(
            F.col("a.brand").alias("brand_a"),
            F.col("b.brand").alias("brand_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
        .filter(F.col("n_ab") >= min_pair_orders)
    )
    ta = totals.select(
        F.col("brand").alias("brand_a"), F.col("n_brand").alias("n_a")
    )
    tb = totals.select(
        F.col("brand").alias("brand_b"), F.col("n_brand").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(ta), "brand_a")
        .join(F.broadcast(tb), "brand_b")
        .crossJoin(F.broadcast(n_orders_df))
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(F.col("n_ab") / F.col("n_a"), 6).alias("conf_a_to_b"),
            F.round(F.col("n_ab") / F.col("n_b"), 6).alias("conf_b_to_a"),
            # doubles BEFORE the products: bigint·bigint would overflow at
            # planetary order counts, and the double form is the same
            # left-associated arithmetic the oracle runs
            F.round(
                F.col("n_orders").cast("double") * F.col("n_ab")
                / (F.col("n_a").cast("double") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
        .orderBy(
            F.col("lift").desc(), F.col("brand_a").asc(), F.col("brand_b").asc()
        )
        .limit(k)
    )


def salt_advisor(
    lineitem: DataFrame,
    key_cols: tuple[str, ...] = ("l_orderkey", "l_partkey", "l_suppkey"),
    target_rows_per_task: int = 500_000,
) -> DataFrame:
    """Join-skew salt advisor: for each candidate shuffle key of the fact
    table, the key census a planner needs to choose between a plain
    shuffle join, AQE skew splitting, or explicit salting — n_rows,
    n_keys, the heaviest key's row count, its ppm of the table, the
    max/avg skew ratio, and the recommended salt factor
    ceil(max_key_rows / target_rows_per_task) (1 = no salt needed).

    The decision this feeds: a key whose heaviest value exceeds the
    per-task budget will straggle one reducer no matter how many
    partitions exist; salting by s splits that key's rows across s
    subkeys at the cost of replicating the dim side s×.

    Scale shape: one mergeable (key → count) agg per candidate column —
    each on ITS OWN uniform key — folded to a 1-row census, unioned on
    the |key_cols| grain. Exact integers throughout."""
    outs = []
    for c in key_cols:
        census = (
            lineitem.select(F.col(c).alias("k"))
            .groupBy("k")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            .agg(
                F.sum("n").cast("bigint").alias("n_rows"),
                F.count(F.lit(1)).cast("bigint").alias("n_keys"),
                F.max("n").cast("bigint").alias("max_key_rows"),
            )
            .select(
                F.lit(c).alias("key_col"),
                "n_rows",
                "n_keys",
                "max_key_rows",
                (F.col("max_key_rows") * F.lit(1_000_000) / F.col("n_rows"))
                .cast("bigint")
                .alias("max_key_ppm"),
                F.round(
                    F.col("max_key_rows") * F.col("n_keys") / F.col("n_rows"),
                    6,
                ).alias("skew_ratio"),
                F.ceil(
                    F.col("max_key_rows") / F.lit(target_rows_per_task)
                ).cast("bigint").alias("salt_factor"),
            )
        )
        outs.append(census)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def xcorr_leadlag(
    events: DataFrame,
    type_a: str = "view",
    type_b: str = "purchase",
    max_lag: int = 7,
) -> DataFrame:
    """Lead-lag cross-correlation between two event types' daily count
    series: Pearson r of (a[t], b[t+lag]) for lag in [-max_lag, max_lag],
    each over the days where both observations exist. The causal-shape
    probe q215's autocorrelation cannot answer: a peak at positive lag
    means type_a leads type_b by that many days.

    Scale shape: ONE corpus pass to the bounded (day, type) grain; the
    lag battery is ONE equi-join of the a-side exploded by the
    2·max_lag+1 lag literals against the b-side on db = da + lag, then
    one per-lag aggregation — planning-scale arithmetic, never per-event.
    (Formerly one join + one ungrouped aggregate PER lag unioned
    together: 15 plan branches each re-running the corpus aggregation —
    60 scans in the physical plan for a 100k-row input. Guide §2.4 /
    §7.3: one shared pass, explode the tiny battery dimension instead of
    unioning per-parameter subplans.) Pearson terms are exact integer
    sums (counts), divided once per lag. Lags whose day ranges never
    overlap keep their (n_days = 0, r = NULL) row via the lag-literal
    left join.

    Output per lag: (lag, n_days, r)."""
    daily = (
        events.filter(F.col("event_type").isin([type_a, type_b]))
        .select(
            F.expr("unix_timestamp(ts) div 86400").alias("day"),
            "event_type",
        )
        .groupBy("day", "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    a = daily.filter(F.col("event_type") == type_a).select(
        F.col("day").alias("da"), F.col("c").alias("ca")
    )
    b = daily.filter(F.col("event_type") == type_b).select(
        F.col("day").alias("db"), F.col("c").alias("cb")
    )
    # DECIMAL(38) second moments: daily counts at planetary scale make
    # Σ(ca·cb) overflow int64; the oracle's HUGEINT is exact, so exact
    # decimals here keep both engines bit-identical pre-division
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    lag_values = list(range(-max_lag, max_lag + 1))
    ax = a.select(
        "da",
        "ca",
        F.explode(
            F.array(*[F.lit(l).cast("bigint") for l in lag_values])
        ).alias("lag"),
    )
    per_lag = (
        ax.join(b, F.col("db") == F.col("da") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum("ca").cast("decimal(38,0)").alias("sa"),
            F.sum("cb").cast("decimal(38,0)").alias("sb"),
            F.sum(dec("ca") * dec("cb")).cast("decimal(38,0)").alias("sab"),
            F.sum(dec("ca") * dec("ca")).cast("decimal(38,0)").alias("saa"),
            F.sum(dec("cb") * dec("cb")).cast("decimal(38,0)").alias("sbb"),
        )
    )
    all_lags = events.sparkSession.createDataFrame(
        [(l,) for l in lag_values], "lag bigint"
    )
    # reinstate zero-overlap lags exactly as the former per-lag ungrouped
    # aggregate emitted them: n_days = 0, NULL sums (r then stays NULL)
    lags = all_lags.join(per_lag, "lag", "left").withColumn(
        "n_days", F.coalesce("n_days", F.lit(0).cast("bigint"))
    )
    nd = F.col("n_days").cast("decimal(38,0)")
    num = (nd * F.col("sab") - F.col("sa") * F.col("sb")).cast("double")
    den2a = (nd * F.col("saa") - F.col("sa") * F.col("sa")).cast("double")
    den2b = (nd * F.col("sbb") - F.col("sb") * F.col("sb")).cast("double")
    return lags.select(
        "lag",
        "n_days",
        F.when(
            (den2a > 0) & (den2b > 0),
            F.round(num / F.sqrt(den2a * den2b), 6),
        ).alias("r"),
    )


def brier_decomposition(
    documents: DataFrame,
    target_lang: str = "en",
    cap_chars: int = 2000,
    n_bins: int = 20,
) -> DataFrame:
    """Murphy decomposition of the Brier score for a deterministic
    length-based classifier: p = min(n_chars, cap)/cap forecasts
    "document is ``target_lang``", y is the actual label. Brier =
    reliability − resolution + uncertainty + within-bin p-variance
    − 2·within-bin p,y-covariance (the last two vanish when p is constant
    per bin — the textbook three-term identity is that special case);
    q193's
    ECE reports calibration error alone, this splits skill from
    calibration — a forecaster can be perfectly calibrated (reliability 0)
    and useless (resolution 0), and the decomposition is the only report
    that tells those apart.

    Cross-engine determinism: p lives in exact milli units, so the Brier
    numerator Σ(p_milli − 1000y)² and every bin sum are exact integers;
    the only doubles are the ≤n_bins per-bin ratio terms and four final
    divisions.

    Scale shape: ONE mergeable corpus agg to the ≤n_bins grain (integer
    sums), global scalars from the same relation; everything after is
    planning-scale arithmetic.

    Output one row: (n_docs, brier, reliability, resolution, uncertainty,
    within_bin_var, within_bin_cov)."""
    p_milli = F.expr(
        f"least(n_chars, {cap_chars}) * 1000 div {cap_chars}"
    ).cast("bigint")
    y = F.when(F.col("lang") == target_lang, 1).otherwise(0).cast("bigint")
    base = documents.select(
        p_milli.alias("pm"),
        y.alias("y"),
        F.expr(
            f"least(n_chars, {cap_chars - 1}) * {n_bins} div {cap_chars}"
        ).cast("bigint").alias("bin"),
    )
    bins = base.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_k"),
        F.sum("pm").cast("bigint").alias("sp"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum((F.col("pm") - 1000 * F.col("y")) ** 2)
        .cast("bigint")
        .alias("sq"),
        F.sum(F.col("pm") * F.col("pm")).cast("bigint").alias("spp"),
        F.sum(F.col("pm") * F.col("y")).cast("bigint").alias("spy"),
    )
    # per-bin exact-integer numerators:
    #   n_k(p̄_k − ȳ_k)² = (sp/1000 − sy)²/n_k = (sp − 1000·sy)²/(1e6·n_k)
    #   n_k·Var_k(p)    = (spp − sp²/n_k)/1e6
    #   n_k·Cov_k(p,y)  = (spy − sp·sy/n_k)/1e3
    per_bin = bins.select(
        "n_k",
        "sy",
        "sq",
        (
            (F.col("sp") - 1000 * F.col("sy")) ** 2
            / (F.col("n_k") * F.lit(1_000_000.0))
        ).alias("rel_term"),
        (
            (
                F.col("spp")
                - F.col("sp") * F.col("sp") / F.col("n_k")
            )
            / F.lit(1_000_000.0)
        ).alias("var_term"),
        (
            (
                F.col("spy")
                - F.col("sp") * F.col("sy") / F.col("n_k")
            )
            / F.lit(1_000.0)
        ).alias("cov_term"),
        (F.col("sy") * F.col("sy") / F.col("n_k").cast("double")).alias(
            "res_sq_term"
        ),
    )
    return per_bin.agg(
        F.sum("n_k").cast("bigint").alias("n_docs"),
        F.sum("sy").cast("bigint").alias("sy"),
        F.sum("sq").cast("bigint").alias("sq"),
        F.sum("rel_term").alias("rel_num"),
        F.sum("var_term").alias("var_num"),
        F.sum("cov_term").alias("cov_num"),
        F.sum("res_sq_term").alias("res_sq"),
    ).select(
        "n_docs",
        F.round(F.col("sq") / (F.col("n_docs") * F.lit(1_000_000.0)), 6)
        .alias("brier"),
        F.round(F.col("rel_num") / F.col("n_docs"), 6).alias("reliability"),
        # Σ n_k(ȳ_k − ȳ)²/N = (Σ sy_k²/n_k)/N − ȳ²
        F.round(
            F.col("res_sq") / F.col("n_docs")
            - (F.col("sy") / F.col("n_docs").cast("double")) ** 2,
            6,
        ).alias("resolution"),
        F.round(
            F.col("sy")
            / F.col("n_docs").cast("double")
            * (1 - F.col("sy") / F.col("n_docs").cast("double")),
            6,
        ).alias("uncertainty"),
        F.round(F.col("var_num") / F.col("n_docs"), 6).alias(
            "within_bin_var"
        ),
        F.round(F.col("cov_num") / F.col("n_docs"), 6).alias(
            "within_bin_cov"
        ),
    )


JOIN_BROADCAST_BYTES = 10 * 1024 * 1024  # spark.sql.autoBroadcastJoinThreshold


def _byte_census(df: DataFrame, name: str) -> DataFrame:
    """One-row (table, n_rows, est_bytes) relation under the q232 byte
    model: 8 bytes per numeric/timestamp cell, strings at byte length,
    arrays at 8·len."""
    string_cols = [f.name for f in df.schema.fields
                   if f.dataType.simpleString() == "string"]
    array_cols = [f.name for f in df.schema.fields
                  if f.dataType.simpleString().startswith("array")]
    fixed_cols = len(df.schema.fields) - len(string_cols) - len(array_cols)
    var_bytes = sum(
        (F.sum(F.length(F.col(c)).cast("bigint")) for c in string_cols),
        F.lit(0).cast("bigint"),
    ) + sum(
        (F.sum(F.size(F.col(c)).cast("bigint") * 8) for c in array_cols),
        F.lit(0).cast("bigint"),
    )
    return df.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        var_bytes.cast("bigint").alias("var_bytes"),
    ).select(
        F.lit(name).alias("table"),
        "n_rows",
        (F.col("var_bytes") + F.lit(8 * fixed_cols) * F.col("n_rows"))
        .cast("bigint")
        .alias("est_bytes"),
    )


def join_advisor(
    tables: dict,
    edges: list,
    broadcast_bytes: int = JOIN_BROADCAST_BYTES,
) -> DataFrame:
    """Join-strategy advisor: for each (left, right) join edge, the q232
    byte model for both sides and the physical strategy Spark's planner
    would (or should) pick — broadcast the smaller side when it fits
    under ``broadcast_bytes`` (autoBroadcastJoinThreshold's default
    10 MB), else a shuffle sort-merge join moving both sides. The
    est_shuffle_bytes column is the exchange volume the choice implies
    (0 when broadcasting): the number a capacity plan multiplies by
    queries/day before sizing a cluster.

    Scale shape: one mergeable byte-census agg per DISTINCT table (each
    one row out), cross-joined per edge on the |edges| grain — the fact
    table is scanned once however many edges reference it.

    ``edges`` is a list of (left_name, right_name) pairs into ``tables``.
    Output per edge: (join_edge, left_rows, right_rows, left_bytes,
    right_bytes, strategy, est_shuffle_bytes)."""
    censuses = {
        name: share_relation(_byte_census(df, name)) for name, df in tables.items()
    }
    outs = []
    for left, right in edges:
        lc = censuses[left].select(
            F.col("n_rows").alias("left_rows"),
            F.col("est_bytes").alias("left_bytes"),
        )
        rc = censuses[right].select(
            F.col("n_rows").alias("right_rows"),
            F.col("est_bytes").alias("right_bytes"),
        )
        small = F.least(F.col("left_bytes"), F.col("right_bytes"))
        strategy = F.when(
            small <= broadcast_bytes,
            F.when(
                F.col("right_bytes") <= F.col("left_bytes"),
                F.lit("broadcast_right"),
            ).otherwise(F.lit("broadcast_left")),
        ).otherwise(F.lit("shuffle_merge"))
        outs.append(
            lc.crossJoin(rc).select(
                F.lit(f"{left}*{right}").alias("join_edge"),
                "left_rows",
                "right_rows",
                "left_bytes",
                "right_bytes",
                strategy.alias("strategy"),
                F.when(small <= broadcast_bytes, F.lit(0))
                .otherwise(F.col("left_bytes") + F.col("right_bytes"))
                .cast("bigint")
                .alias("est_shuffle_bytes"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def shuffle_balance(
    lineitem: DataFrame,
    key_col: str = "l_partkey",
    partition_counts: tuple = (8, 32, 128),
    seed: str = "shb0",
) -> DataFrame:
    """Hash-partition load simulator: for each candidate partition count P,
    the per-partition row loads a hash shuffle on ``key_col`` would
    produce — max, mean, and max/mean imbalance. q273 names the heaviest
    KEY; this answers the next planning question: after hashing, do the
    keys actually BALANCE at the P you chose, or do collisions of hot
    keys recreate the straggler anyway.

    Deterministic: partition = md5-hash(key) mod P (the oracle replays
    it), not Spark's internal Murmur3 — the simulation measures key-mass
    geometry, which is hash-family-invariant in aggregate.

    Scale shape: ONE key census (mergeable, uniform key), then per P a
    ≤|keys|-row re-bucket folded to a ≤P-row load relation — the sweep
    never rescans the corpus. Output per P: (n_partitions, max_rows,
    mean_rows, imbalance)."""
    from esop_spark.operators.dedup import md5_hash32

    census = (
        lineitem.select(F.col(key_col).alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .withColumn(
            "h", md5_hash32(F.concat(F.lit(f"{seed}:"), F.col("k").cast("string")))
        )
    )
    census = share_relation(census)  # re-bucketed once per candidate P
    outs = []
    for p in partition_counts:
        loads = census.groupBy((F.col("h") % p).alias("pid")).agg(
            F.sum("n").cast("bigint").alias("rows")
        )
        outs.append(
            loads.agg(
                F.max("rows").cast("bigint").alias("max_rows"),
                F.sum("rows").cast("bigint").alias("total"),
                F.count(F.lit(1)).cast("bigint").alias("np"),
            ).select(
                F.lit(int(p)).cast("bigint").alias("n_partitions"),
                "max_rows",
                F.round(F.col("total") / p, 6).alias("mean_rows"),
                F.round(F.col("max_rows") * p / F.col("total"), 6).alias(
                    "imbalance"
                ),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def partial_corr_value_hour(events: DataFrame) -> DataFrame:
    """Partial Pearson correlation between event value and hour-of-day,
    CONTROLLING for event type: both variables are centered within type
    before correlating, so a type that is both high-value and nocturnal
    cannot manufacture a spurious global correlation (q117's raw
    correlation has exactly that confound exposure).

    Formula on within-group-centered sums: with per-type means subtracted,
    r = Σxy_c / sqrt(Σxx_c · Σyy_c) where Σxy_c = Σxy − Σ_g (SxSy/n)_g.
    Value cents and hours are exact integers, so every moment is an exact
    DECIMAL(38); one double division at the end.

    Scale shape: ONE mergeable agg to the |types| grain carrying the five
    second moments; the centering correction is |types|-row arithmetic.
    Output one row: (n_events, n_types, raw_r, partial_r)."""
    base = events.select(
        F.col("event_type").alias("g"),
        F.round(F.col("value") * 100).cast("decimal(19,0)").alias("x"),
        F.expr("unix_timestamp(ts) div 3600 % 24").cast("decimal(19,0)").alias("y"),
    )
    per_g = base.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("decimal(38,0)").alias("syy"),
    )
    tot = per_g.agg(
        F.sum("n").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum("sx").alias("sx"),
        F.sum("sy").alias("sy"),
        F.sum("sxy").alias("sxy"),
        F.sum("sxx").alias("sxx"),
        F.sum("syy").alias("syy"),
        # within-group corrections Σ_g SxSy/n etc. (double — the one
        # place exactness yields to a per-group division)
        F.sum(F.col("sx").cast("double") * F.col("sy") / F.col("n")).alias("cxy"),
        F.sum(F.col("sx").cast("double") * F.col("sx") / F.col("n")).alias("cxx"),
        F.sum(F.col("sy").cast("double") * F.col("sy") / F.col("n")).alias("cyy"),
    )
    raw_num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    raw_dxx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    raw_dyy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    p_num = F.col("sxy").cast("double") - F.col("cxy")
    p_dxx = F.col("sxx").cast("double") - F.col("cxx")
    p_dyy = F.col("syy").cast("double") - F.col("cyy")
    return tot.select(
        F.col("n").alias("n_events"),
        "n_types",
        F.when(
            (raw_dxx > 0) & (raw_dyy > 0),
            F.round(raw_num / F.sqrt(raw_dxx * raw_dyy), 6),
        ).alias("raw_r"),
        F.when(
            (p_dxx > 0) & (p_dyy > 0),
            F.round(p_num / F.sqrt(p_dxx * p_dyy), 6),
        ).alias("partial_r"),
    )


def rollup_census(events: DataFrame) -> DataFrame:
    """ROLLUP census of event volume and distinct users at three grains in
    ONE pass: (day, event_type), (day), and grand total — Spark's
    GROUPING SETS/rollup operator (Expand), which the engine-inventory
    otherwise lacks. The idiom matters at 100 TB: the naive alternative
    is three separate scans+shuffles; Expand multiplies rows ×3 ONCE
    inside the scan stage and every downstream grain shares one shuffle.

    count_distinct(user) inside rollup is exact (Expand handles the
    distinct per grouping set). grouping_id disambiguates the grain
    (0 = day×type, 1 = day, 3 = total) — NULL day/type columns encode
    the rolled-up levels, exactly as the SQL ROLLUP oracle emits them.

    Output per grouping-set row: (day, event_type, gid, n_events,
    n_users)."""
    base = events.select(
        F.expr("unix_timestamp(ts) div 86400").cast("bigint").alias("day"),
        "event_type",
        "user_id",
    )
    return (
        base.rollup("day", "event_type")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.count_distinct("user_id").cast("bigint").alias("n_users"),
        )
        .select("day", "event_type", "gid", "n_events", "n_users")
    )


def hll_window_merge(
    events: DataFrame,
    window_days: int = 7,
    p_bits: int = 8,
) -> DataFrame:
    """Trailing-``window_days`` distinct users per day, by MERGING daily
    HyperLogLog register relations — audited against the exact windowed
    distinct. This is the property that makes sketches the 100 TB answer:
    per-day registers are built ONCE from one corpus pass, and any window
    is a max-merge of 256-row relations — q276 shows HLL's accuracy,
    this shows its mergeability (the exact leg has to re-deduplicate
    every window).

    Deterministic md5 register family (q276's), dyadic-exact register
    sums. Output per day: (day, n_exact, hll_est, err_ppm)."""
    from esop_spark.operators.dedup import md5_hash32

    m = 1 << p_bits
    w_bits = 32 - p_bits
    du = events.select(
        F.expr("unix_timestamp(ts) div 86400").cast("bigint").alias("day"),
        F.col("user_id").cast("string").alias("u"),
    ).distinct()
    du = share_relation(du)
    days = du.select("day").distinct()
    # exact leg: cover-explode each (day, user) into the windows it serves
    cover = du.select(
        F.explode(
            F.sequence(F.col("day"), F.col("day") + (window_days - 1))
        ).alias("wd"),
        "u",
    )
    exact = (
        cover.join(F.broadcast(days.select(F.col("day").alias("wd"))), "wd")
        .groupBy("wd")
        .agg(F.count_distinct("u").cast("bigint").alias("n_exact"))
    )
    # sketch leg: daily registers once, window max-merge on the register grain
    h = md5_hash32(F.col("u"))
    daily_regs = (
        du.select(
            "day",
            (h / F.lit(1 << w_bits)).cast("bigint").alias("j"),
            F.when(h % F.lit(1 << w_bits) == 0, F.lit(w_bits + 1))
            .otherwise(
                F.lit(w_bits + 1)
                - F.length(F.conv(h % F.lit(1 << w_bits), 10, 2))
            )
            .alias("r"),
        )
        .groupBy("day", "j")
        .agg(F.max("r").alias("mreg"))
    )
    win_regs = (
        daily_regs.select(
            F.explode(
                F.sequence(F.col("day"), F.col("day") + (window_days - 1))
            ).alias("wd"),
            "j",
            "mreg",
        )
        .join(F.broadcast(days.select(F.col("day").alias("wd"))), "wd")
        .groupBy("wd", "j")
        .agg(F.max("mreg").alias("mreg"))
    )
    # alpha_m derived from p_bits (identical to HLL_ALPHA_256 at the
    # default p_bits=8) so the streaming twin's replay==batch bit-parity
    # holds at EVERY p_bits, not just the default — both legs now compute
    # Flajolet's alpha from the same formula (stateful._hll_fn_factory)
    alpha_m = 0.7213 / (1 + 1.079 / m)

    per = win_regs.groupBy("wd").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_present"),
        F.sum(F.pow(F.lit(2.0), -F.col("mreg"))).alias("s_present"),
    )
    zeros = F.lit(m) - F.col("n_present")
    raw = F.lit(alpha_m * m * m) / (F.col("s_present") + zeros)
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return (
        per.join(exact, "wd")
        .select(
            F.col("wd").alias("day"),
            "n_exact",
            F.round(est, 6).alias("hll_est"),
            F.round((est - F.col("n_exact")) * 1e6 / F.col("n_exact"))
            .cast("bigint")
            .alias("err_ppm"),
        )
    )


def histogram_window_pctile(
    events: DataFrame,
    window_days: int = 7,
    bucket_cents: int = 500,
    q_millis: tuple = (500, 950),
) -> DataFrame:
    """Trailing-window value percentiles from MERGED daily histograms —
    the quantile twin of hll_window_merge: per-day bucket counts are
    built in one corpus pass, any window is an integer-sum merge of
    bounded histograms, and a percentile is the first bucket whose
    cumulative count reaches q·total (reported as the bucket's lower
    bound — a deterministic, engine-exact answer with bucket_cents
    resolution, which is the honest contract of a mergeable histogram).

    Output per (day, q): (day, q_milli, n_rows, pctile_cents)."""
    daily = (
        events.select(
            F.expr("unix_timestamp(ts) div 86400").cast("bigint").alias("day"),
            F.expr(
                f"cast(round(value * 100) as bigint) div {bucket_cents}"
            ).alias("b"),
        )
        .groupBy("day", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    daily = share_relation(daily)
    days = daily.select("day").distinct()
    win = (
        daily.select(
            F.explode(
                F.sequence(F.col("day"), F.col("day") + (window_days - 1))
            ).alias("wd"),
            "b",
            "n",
        )
        .join(F.broadcast(days.select(F.col("day").alias("wd"))), "wd")
        .groupBy("wd", "b")
        .agg(F.sum("n").cast("bigint").alias("n"))
    )
    wcum = win.withColumn(
        "cum",
        F.sum("n").over(
            Window.partitionBy("wd").orderBy("b").rowsBetween(
                Window.unboundedPreceding, 0
            )
        ),
    ).withColumn(
        "total", F.sum("n").over(Window.partitionBy("wd"))
    )
    spark = events.sparkSession
    qdf = spark.createDataFrame([(int(q),) for q in q_millis], "q_milli bigint")
    hits = (
        wcum.crossJoin(F.broadcast(qdf))
        # first bucket with cum·1000 ≥ q·total
        .filter(F.col("cum") * 1000 >= F.col("q_milli") * F.col("total"))
        .groupBy("wd", "q_milli")
        .agg(
            F.min("b").alias("b"),
            F.max("total").cast("bigint").alias("n_rows"),
        )
    )
    return hits.select(
        F.col("wd").alias("day"),
        "q_milli",
        "n_rows",
        (F.col("b") * bucket_cents).cast("bigint").alias("pctile_cents"),
    )


def dataset_card(tables: dict) -> DataFrame:
    """Dataset card: one row per table with the corpus-level facts a
    release note carries — row count, column count, modeled bytes (the
    q232 model), and total NULL cells. The cross-table composition is the
    point: a card is ONE relation covering the whole dataset, cheap
    enough to regenerate per release and diff against the previous card
    (q71's corpus diff is the per-document analogue).

    Scale shape: one mergeable agg per table (counts + byte model + null
    flags fused into a single pass over each), unioned on the |tables|
    grain."""
    outs = []
    for name, df in tables.items():
        fields = df.schema.fields
        string_cols = [f.name for f in fields
                       if f.dataType.simpleString() == "string"]
        array_cols = [f.name for f in fields
                      if f.dataType.simpleString().startswith("array")]
        fixed_cols = len(fields) - len(string_cols) - len(array_cols)
        var_bytes = sum(
            (F.sum(F.coalesce(F.length(F.col(c)).cast("bigint"), F.lit(0)))
             for c in string_cols),
            F.lit(0).cast("bigint"),
        ) + sum(
            (F.sum(F.coalesce(F.size(F.col(c)).cast("bigint"), F.lit(0)) * 8)
             for c in array_cols),
            F.lit(0).cast("bigint"),
        )
        null_cells = sum(
            (F.sum(F.when(F.col(f.name).isNull(), 1).otherwise(0))
             for f in fields),
            F.lit(0),
        )
        outs.append(
            df.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                var_bytes.cast("bigint").alias("var_bytes"),
                null_cells.cast("bigint").alias("null_cells"),
            ).select(
                F.lit(name).alias("table"),
                "n_rows",
                F.lit(len(fields)).cast("bigint").alias("n_cols"),
                (F.col("var_bytes") + F.lit(8 * fixed_cols) * F.col("n_rows"))
                .cast("bigint")
                .alias("est_bytes"),
                "null_cells",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def pit_feature_snapshot(
    events: DataFrame,
    cutoff_day: int,
    label_days: int = 7,
    band_cap: int = 20,
) -> DataFrame:
    """Point-in-time-correct feature/label snapshot census: features are
    computed ONLY from events strictly before ``cutoff_day``; the label is
    activity in [cutoff, cutoff + label_days). The census (activity band ×
    label → users) is the leakage audit an ML pipeline runs before
    training a churn model — any feature built from post-cutoff data
    inflates the diagonal, and this construction makes that impossible by
    partitioning TIME in the plan itself (two disjoint scan filters, not
    one relation filtered twice downstream).

    Scale shape: two scan-pruned aggregations on the uniform user key
    (features; labels), one outer join on that key, folded to the bounded
    (band, label) grain.

    Output per (band, label): (activity_band, is_active_label, n_users,
    mean_recency_days)."""
    day = F.expr("unix_timestamp(ts) div 86400").cast("bigint")
    feats = (
        events.select(day.alias("day"), "user_id")
        .filter(F.col("day") < cutoff_day)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_feat"),
            (F.lit(cutoff_day) - F.max("day")).cast("bigint").alias(
                "recency"
            ),
        )
    )
    labels = (
        events.select(day.alias("day"), "user_id")
        .filter(
            (F.col("day") >= cutoff_day)
            & (F.col("day") < cutoff_day + label_days)
        )
        .select("user_id")
        .distinct()
        .withColumn("lbl", F.lit(1))
    )
    joined = feats.join(labels, "user_id", "left").select(
        # decade bands keep the census informative when every user is
        # active (a flat cap saturates on high-traffic fixtures)
        F.least(F.expr("n_feat div 10"), F.lit(band_cap)).alias(
            "activity_band"
        ),
        F.coalesce(F.col("lbl"), F.lit(0)).cast("bigint").alias(
            "is_active_label"
        ),
        "recency",
    )
    return joined.groupBy("activity_band", "is_active_label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.round(F.avg("recency"), 6).alias("mean_recency_days"),
    )


def linear_attribution(
    events: DataFrame, conversion_type: str = "purchase"
) -> DataFrame:
    """Linear (equal-credit) multi-touch attribution: every conversion
    splits one unit of credit evenly across ALL its preceding same-user
    touches; conversions with no preceding touch credit 'none'. The third
    attribution model of the family — q188's last-touch crowns the final
    channel, q196's Markov removal-effect weights paths; linear is the
    budget-split every marketing report starts from.

    One pass, no self-join: per-channel running counts are conditional
    sums over the per-user ordered window (channels are a bounded
    alphabet, so the projection carries |channels| running counters);
    each conversion row then emits exact per-channel fractions.

    Output per channel: (channel, n_conversions, credit) where credit
    sums the per-conversion fractions (6dp)."""
    types = [
        r["event_type"]
        for r in events.select("event_type").distinct().collect()
        if r["event_type"] != conversion_type
    ]
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    counters = [
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == t, 1).otherwise(0)
            ).over(w),
            F.lit(0),
        ).alias(f"c_{i}")
        for i, t in enumerate(types)
    ]
    conv = (
        events.select("user_id", "ts", "event_id", "event_type", *counters)
        .filter(F.col("event_type") == conversion_type)
        .withColumn(
            "total",
            sum((F.col(f"c_{i}") for i in range(len(types))), F.lit(0)),
        )
    )
    legs = []
    for i, t in enumerate(types):
        legs.append(
            conv.filter(F.col("total") > 0).select(
                F.lit(t).alias("channel"),
                (F.col(f"c_{i}") / F.col("total")).alias("credit_part"),
                F.when(F.col(f"c_{i}") > 0, 1).otherwise(0).alias("touched"),
            )
        )
    legs.append(
        conv.filter(F.col("total") == 0).select(
            F.lit("none").alias("channel"),
            F.lit(1.0).alias("credit_part"),
            F.lit(1).alias("touched"),
        )
    )
    alllegs = legs[0]
    for l in legs[1:]:
        alllegs = alllegs.unionByName(l)
    return alllegs.groupBy("channel").agg(
        F.sum("touched").cast("bigint").alias("n_conversions"),
        F.round(F.sum("credit_part"), 6).alias("credit"),
    )
