"""Backup-listing analytics (the `esop list` surface).

Reference semantics:
- per-backup report: files = count(entries), size = sum(size)
  (/root/reference/core/src/main/java/com/instaclustr/esop/impl/Manifest.java:486-495)
- reclaimable space: bytes of objects referenced by exactly one manifest
  (Manifest.java:460-483, ManifestFilesCounter at :407-457)
- global totals over distinct object keys (Manifest.java:452-458,676-702)

Scale notes: listing and removal read the entries once. The object-reference
test is a single shuffle on ``object_key`` (one window, shared by both); the
per-backup rollup is a second shuffle on ``backup_name``, partial-aggregated
map-side by Catalyst. At 100 TB the
``object_key`` shuffle dominates; keys are content-addressed (uniform hash
distribution) so no skew handling is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F


def object_reference_counts(entries: DataFrame) -> DataFrame:
    """J4: object_key -> number of distinct backups referencing it.

    Mirrors ManifestFilesCounter (Manifest.java:407-457): size recorded once
    per key (entries of the same immutable object agree on size).
    """
    return entries.groupBy("object_key").agg(
        F.countDistinct("backup_name").alias("n_backups"),
        F.max("size").alias("obj_size"),
    )


def _flag_single_backup(entries: DataFrame) -> DataFrame:
    """Entries with a non-null ``object_key``, each flagged ``_one`` when its
    object names exactly one backup: one window over ``object_key``, so
    listing and removal read ``entries`` once (no self-join).

    min = max is exact for "one distinct non-null backup_name": both ignore
    nulls as countDistinct does, and an object whose backup names are all
    null gets a null flag, which no filter keeps. Null object keys are
    dropped, as the inner join on ``object_key`` did.
    """
    by_object = Window.partitionBy("object_key")
    return entries.filter(F.col("object_key").isNotNull()).withColumn(
        "_one",
        F.min("backup_name").over(by_object) == F.max("backup_name").over(by_object),
    )


def list_backups(entries: DataFrame) -> DataFrame:
    """Q1: per-backup files / occupied / reclaimable report.

    Equivalent of AllManifestsReport.report (Manifest.java:676-702) minus the
    driver-side rendering (that lives in esop_spark.functions.render).
    """
    return (
        _flag_single_backup(entries)
        .groupBy("backup_name", "backup_ts")
        .agg(
            F.count(F.lit(1)).alias("files"),
            F.sum("size").cast("bigint").alias("size_bytes"),
            F.sum(F.when(F.col("_one"), F.col("size")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("reclaimable_bytes"),
        )
    )


def totals(entries: DataFrame) -> DataFrame:
    """A2: global distinct totals (Manifest.java:452-458).

    totalFiles counts distinct objects; totalSize counts each object's size
    once regardless of how many manifests reference it.
    """
    return object_reference_counts(entries).agg(
        F.count(F.lit(1)).cast("bigint").alias("total_files"),
        F.sum("obj_size").cast("bigint").alias("total_size"),
    )


def render_report(
    entries: DataFrame,
    fmt: str = "table",
    human_units: bool = False,
    from_timestamp: int | None = None,
    last_n: int | None = None,
) -> str:
    """The `esop list` output surface: per-backup rows newest-first plus a
    totals footer, as an aligned table or JSON, with optional SI units —
    the four golden formats of AllManifestsReportTest
    (/root/reference/core/src/test/java/com/instaclustr/esop/backup/AllManifestsReportTest.java:52-126),
    with --from-timestamp (P9) and --last-n (W4) filters.
    """
    import json as _json

    from esop_spark.functions.render import human_bytes, render_table, render_timestamp

    report = list_backups(entries)
    all_rows = report.orderBy(
        F.col("backup_ts").desc(), F.col("backup_name").desc()
    ).collect()
    rows = all_rows
    if from_timestamp is not None:
        rows = [r for r in rows if r["backup_ts"] <= from_timestamp]
    if last_n is not None:
        rows = rows[-last_n:]  # oldest N of the newest-first list, order kept
    # totals are DISTINCT-object totals (A2, README "Listing of backups":
    # backup-1 154 files/113.1kB + backup-2 138 files → totals 154/113.1kB),
    # not the sum of per-backup rows — and ALL THREE totals are computed over
    # the unfiltered listing (the reference builds totals at report-build
    # time, before --from-timestamp/--last-n trim the display rows), so the
    # footer stays mutually consistent on filtered listings
    t = totals(entries).collect()[0]
    tot_files, tot_size = t["total_files"], t["total_size"]
    tot_reclaim = sum(r["reclaimable_bytes"] for r in all_rows)

    def fmt_size(n: int) -> str:
        return human_bytes(n) if human_units else str(n)

    if fmt == "json":
        return _json.dumps(
            {
                "reports": [
                    {
                        "name": r["backup_name"],
                        "timestamp": render_timestamp(r["backup_ts"]),
                        "unixtimestamp": r["backup_ts"],
                        "files": r["files"],
                        "size": fmt_size(r["size_bytes"]),
                        "reclaimableSpace": fmt_size(r["reclaimable_bytes"]),
                    }
                    for r in rows
                ],
                "totalFiles": tot_files,
                "totalSize": fmt_size(tot_size),
                "totalReclaimable": fmt_size(tot_reclaim),
            },
            indent=2,
        )
    table = [["name", "timestamp", "files", "size", "reclaimable"]]
    for r in rows:
        table.append(
            [
                r["backup_name"],
                render_timestamp(r["backup_ts"]),
                str(r["files"]),
                fmt_size(r["size_bytes"]),
                fmt_size(r["reclaimable_bytes"]),
            ]
        )
    table.append(["TOTAL", "", str(tot_files), fmt_size(tot_size), fmt_size(tot_reclaim)])
    return render_table(table)


def removable_entries(entries: DataFrame, backup_name: str) -> DataFrame:
    """Q2: objects safe to delete with backup `backup_name` — those referenced
    by exactly one manifest (necessarily that backup).

    Mirrors RemoveBackupOperation's unique-file selection
    (/root/reference/core/src/main/java/com/instaclustr/esop/impl/remove/RemoveBackupOperation.java:100-190
    via Manifest.java:460-483). A row of `backup_name` whose object names
    one backup can only name that one. The window keeps the output
    partitioned on ``object_key``, so the distinct adds no exchange. (One
    ``groupBy(object_key)`` with a ``collect_set`` of the sizes was faster
    at sf0.01 but slower than the self-join at sf0.1.)
    """
    return (
        _flag_single_backup(entries)
        .filter(F.col("_one") & (F.col("backup_name") == backup_name))
        .select("object_key", "size")
        .distinct()
    )
