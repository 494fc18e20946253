"""Manifest resolution + retention selection.

Reference semantics:
- W1/P13 latest-manifest: among manifests sharing a (snapshot, schema_version)
  prefix, the one with the max embedded timestamp wins
  (/root/reference/core/src/main/java/com/instaclustr/esop/impl/Manifest.java:254-283).
- P10 removal selection: --older-than → unixtimestamp < now − Δ
  (--oldest and --backup-name are selected in manifest.removal_plan)
  (/root/reference/core/src/main/java/com/instaclustr/esop/impl/remove/RemoveBackupOperation.java:177-190).
- P9/W4 listing filters: --from-timestamp upper bound, --last-n oldest N
  (/root/reference/core/src/main/java/com/instaclustr/esop/impl/list/ListOperation.java:167-198).

Scale notes: `manifests` is a small dimension (one row per backup); the
window partitions by prefix so even a pathological number of backups
parallelizes across prefixes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from esop_spark.operators.iterate import ordered_prefix_sum


_DURATION_UNITS_MS = {
    "second": 1000,
    "minute": 60_000,
    "hour": 3_600_000,
    "day": 86_400_000,
    "week": 7 * 86_400_000,
}


def parse_duration_ms(measure: str) -> int:
    """F13: ``"14day"`` / ``"1minute"``-style duration measures → millis
    (/root/reference/core/src/main/java/com/instaclustr/measure/Time.java and
    the picocli TimeMeasureTypeConverter)."""
    import re

    m = re.fullmatch(r"\s*(\d+)\s*(second|minute|hour|day|week)s?\s*", measure)
    if not m:
        raise ValueError(f"invalid duration measure: {measure!r}")
    return int(m.group(1)) * _DURATION_UNITS_MS[m.group(2)]


def latest_table_dir(dirs: DataFrame) -> DataFrame:
    """W6: among duplicate (keyspace, table) directories keep the latest
    mtime (CassandraData.java:224-239)."""
    w = Window.partitionBy("keyspace", "table_name").orderBy(
        F.col("mtime").desc(), F.col("table_id").desc()
    )
    return (
        dirs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def round_robin_assign(
    df: DataFrame, n: int, order_cols: list[str], target_col: str = "target_idx"
) -> DataFrame:
    """W7: deterministic i-mod-n assignment of ordered groups to n targets
    (DataSynchronizator.java:136-150 assigns sstable groups to data dirs).
    The explicit ordering keeps the modulo stable under parallelism."""
    w = Window.orderBy(*[F.col(c) for c in order_cols])
    return df.withColumn(
        target_col, ((F.row_number().over(w) - 1) % n).cast("int")
    )


def filter_manifests_prefix(
    manifests: DataFrame,
    snapshot_tag: str,
    schema_version: str | None = None,
) -> DataFrame:
    """P7: longest-prefix manifest selection — name starts with the snapshot
    tag, optionally refined to an exact ``-<schemaVersion>`` match
    (RestorationUtilities.java:22-63). Combine with
    latest_manifest_per_prefix for the full W1 'longest prefix wins, then
    latest wins' resolution."""
    out = manifests.filter(F.col("backup_name").startswith(snapshot_tag))
    if schema_version is not None:
        out = out.filter(F.col("schema_version") == schema_version)
    return out


def latest_manifest_per_prefix(manifests: DataFrame) -> DataFrame:
    """Q5: latest-wins resolution per (snapshot, schema_version) prefix."""
    w = Window.partitionBy("snapshot", "schema_version").orderBy(
        F.col("ts").desc(), F.col("backup_name").desc()
    )
    return (
        manifests.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def retention_older_than(manifests: DataFrame, cutoff_ts_millis: int) -> DataFrame:
    """Q6: backups eligible for removal under --older-than."""
    return manifests.filter(F.col("ts") < F.lit(cutoff_ts_millis)).select(
        "backup_name", "ts"
    )


def last_n(manifests: DataFrame, n: int) -> DataFrame:
    """W4 --last-n: the oldest N backups of the newest-first listing."""
    return manifests.orderBy(
        F.col("ts").asc_nulls_last(), F.col("backup_name").asc()
    ).limit(n)


def compaction_plan(
    entries: DataFrame,
    target_bytes: int = 200_000,
    num_partitions: int = 32,
) -> DataFrame:
    """Size-tiered compaction planner over the distinct object inventory:
    per (keyspace, table), lay files end-to-end in (size, object_key)
    order — size-tiered, so similarly-sized sstables land in the same
    group, Cassandra's STCS heuristic — and cut a compaction bin every
    ``target_bytes``. Reports each bin's file count, byte sum and fill
    ratio; the bin list IS the work queue a compaction executor would
    drain (reference merges sstables per table dir:
    core/src/main/java/com/instaclustr/esop/impl/restore/RestorationUtilities.java
    download groupings).

    Scale shape: the per-table running sum is
    :func:`iterate.ordered_prefix_sum` with the table as its stratum (range
    partition + per-(partition, table) window + broadcast offsets) — NOT a
    per-table single-task window, so one million-sstable table cannot
    funnel through one reducer. The offsets relation is
    |tables|×|partitions| rows, broadcastable. Bin assignment is
    exclusive-prefix // target, the pack_shards convention.

    Output per (keyspace, table_name, bin): n_files, bin_bytes,
    fill_ratio."""
    objs = (
        entries.select(
            "keyspace",
            "table_name",
            "object_key",
            F.col("size").cast("bigint").alias("size"),
        )
        # an object re-listed at a different recorded size (freshened
        # manifest) collapses deterministically to its max size — NOT
        # dropDuplicates, which keeps an arbitrary row
        .groupBy("keyspace", "table_name", "object_key")
        .agg(F.max("size").alias("size"))
    )
    size_order = F.concat(
        F.lpad(F.col("size").cast("string"), 14, "0"),
        F.lit("|"),
        F.col("object_key"),
    )
    packed = ordered_prefix_sum(
        objs.withColumn("_tbl", F.concat_ws(".", "keyspace", "table_name")),
        [size_order],
        "size",
        ["_tbl"],
        num_partitions,
    ).withColumn(
        "bin",
        ((F.col("cum_incl") - F.col("size")) / F.lit(target_bytes)).cast(
            "bigint"
        ),
    )
    return (
        packed.groupBy("keyspace", "table_name", "bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum("size").cast("bigint").alias("bin_bytes"),
        )
        .select(
            "keyspace",
            "table_name",
            "bin",
            "n_files",
            "bin_bytes",
            F.round(
                F.col("bin_bytes") / F.lit(float(target_bytes)), 6
            ).alias("fill_ratio"),
        )
    )


def object_lifetimes(entries: DataFrame) -> DataFrame:
    """Object-lifetime census per keyspace: for every distinct object, the
    span between the first and last backup that references it, folded to
    (keyspace, n_backups-referencing) grain — how long data actually
    lives in the backup chain. A keyspace whose objects all appear in
    exactly one backup has no incremental reuse (every snapshot re-uploads
    everything — the reference's content-addressed skip
    (UploadTracker.java:106-124) is buying nothing there); high-refcount
    objects are the immutable sstables the dedup saves.

    Scale shape: one mergeable agg on the uniform object key (min/max ts,
    distinct-backup count via the (object, backup)-distinct collapse),
    then a fold to the bounded (keyspace, refcount) grain.

    Output per (keyspace, n_backups): n_objects, total_bytes,
    mean_lifetime_ms."""
    per_obj = (
        entries.select(
            "keyspace",
            "object_key",
            F.col("backup_name"),
            F.col("backup_ts").cast("bigint").alias("ts"),
            F.col("size").cast("bigint").alias("size"),
        )
        .dropDuplicates(["keyspace", "object_key", "backup_name"])
        .groupBy("keyspace", "object_key")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_backups"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.max("size").alias("size"),
        )
    )
    return (
        per_obj.groupBy("keyspace", "n_backups")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_objects"),
            F.sum("size").cast("bigint").alias("total_bytes"),
            F.round(
                F.avg(F.col("last_ts") - F.col("first_ts")), 6
            ).alias("mean_lifetime_ms"),
        )
    )


def rpo_gaps(
    manifests: DataFrame,
    rpo_ms: int = 50 * 3600000,
) -> DataFrame:
    """Backup-cadence audit per snapshot series: gaps between consecutive
    backups, the max/mean gap, and how many gaps exceed the RPO target —
    the "are we actually meeting our recovery-point objective" report an
    operator runs before trusting a retention policy. Reference manifests
    embed their timestamp in the name (Manifest.java:254-283); the gap
    series is its first derivative.

    Scale shape: manifests is the small dimension (one row per backup);
    the lag window partitions per snapshot series. Output per snapshot:
    (snapshot, n_backups, max_gap_ms, mean_gap_ms, rpo_violations)."""
    w = Window.partitionBy("snapshot").orderBy("ts", "backup_name")
    gaps = manifests.select(
        "snapshot",
        F.col("ts").cast("bigint").alias("ts"),
        "backup_name",
    ).withColumn("gap", F.col("ts") - F.lag("ts").over(w))
    return gaps.groupBy("snapshot").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_backups"),
        F.max("gap").cast("bigint").alias("max_gap_ms"),
        F.round(F.avg("gap"), 6).alias("mean_gap_ms"),
        F.sum(F.when(F.col("gap") > rpo_ms, 1).otherwise(0))
        .cast("bigint")
        .alias("rpo_violations"),
    )


def delete_batches(
    removable: DataFrame,
    batch_size: int = 100,
    num_partitions: int = 32,
) -> DataFrame:
    """Pack removable objects into bounded delete batches — the plan the
    S3 leg executes 100 keys per DeleteObjects call (reference batching:
    s3/src/main/java/com/instaclustr/esop/s3/v2/BaseS3Restorer.java:252-276).
    Batch id = (global rank by object_key − 1) div batch_size, the rank
    being :func:`iterate.ordered_prefix_sum` of 1, so a million-object
    purge never funnels through one task.

    Output per batch: (batch, n_keys, batch_bytes, first_key)."""
    ranked = ordered_prefix_sum(
        removable.select(
            "object_key", F.col("size").cast("bigint").alias("size")
        ),
        ["object_key"],
        F.lit(1),
        num_partitions=num_partitions,
    )
    return (
        ranked.withColumn(
            "batch", F.expr(f"(cum_incl - 1) div {batch_size}").cast("bigint")
        )
        .groupBy("batch")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.sum("size").cast("bigint").alias("batch_bytes"),
            F.min("object_key").alias("first_key"),
        )
    )


def backup_growth_forecast(manifests: DataFrame) -> DataFrame:
    """OLS trend of backup size over time with a one-step forecast: slope
    (bytes per hour), intercept, and the predicted size of the NEXT
    backup at the mean cadence — the capacity-planning number behind
    "when does the bucket bill double". Exact integer moments on the
    small manifests dimension; the forecast is planning-grade, not
    inference (q263's Theil-Sen is the robust alternative when one
    full-snapshot outlier would wreck OLS).

    Output one row: (n, slope_bytes_per_hour, intercept_bytes,
    next_ts_ms, forecast_bytes)."""
    base = manifests.select(
        F.col("ts").cast("decimal(38,0)").alias("t"),
        F.col("size").cast("decimal(38,0)").alias("s"),
    )
    m = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").alias("st"),
        F.sum("s").alias("ss"),
        F.sum(F.col("t") * F.col("s")).cast("decimal(38,0)").alias("sts"),
        F.sum(F.col("t") * F.col("t")).cast("decimal(38,0)").alias("stt"),
        F.min("t").cast("bigint").alias("t0"),
        F.max("t").cast("bigint").alias("t1"),
    )
    num = (F.col("n") * F.col("sts") - F.col("st") * F.col("ss")).cast("double")
    den = (F.col("n") * F.col("stt") - F.col("st") * F.col("st")).cast("double")
    slope = num / den  # bytes per ms
    intercept = (
        F.col("ss").cast("double") - slope * F.col("st").cast("double")
    ) / F.col("n")
    gap = (F.col("t1") - F.col("t0")) / (F.col("n") - 1)
    next_ts = F.col("t1") + gap
    return m.select(
        "n",
        F.round(slope * 3600000, 6).alias("slope_bytes_per_hour"),
        F.round(intercept, 6).alias("intercept_bytes"),
        next_ts.cast("bigint").alias("next_ts_ms"),
        F.round(intercept + slope * next_ts, 6).alias("forecast_bytes"),
    )
