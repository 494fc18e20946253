"""Backup listing and removal (the `esop list` and `remove-backup` rules).

Reference semantics:
- per-backup report: files = count(entries), size = sum(size)
  (/root/reference/core/src/main/java/com/instaclustr/esop/impl/Manifest.java:486-495)
- reclaimable space: bytes of objects referenced by exactly one manifest
  (Manifest.java:460-483, ManifestFilesCounter at :407-457)
- global totals over distinct object keys (Manifest.java:452-458,676-702)
- safe removal: delete an object only when no surviving backup references
  it; victims by exact name XOR oldest XOR older-than
  (RemoveBackupOperation.java:100-190)

Every rule takes a **scope**: the columns that name one manifest set.
``()`` is one node's bucket; ``FLEET = ("dc", "node")`` is the
``--global-request`` union, where an object is identified by
``(dc, node, object_key)`` because physical keys are node-scoped.

Scale notes: listing and removal read the entries once. The object-reference
test is a single shuffle on ``(*scope, object_key)`` (one window); the
per-backup rollup is a second shuffle on the backup, partial-aggregated
map-side by Catalyst. No window is partitioned by the scope alone, which
would put a whole node in one task. At 100 TB the ``object_key`` shuffle
dominates; keys are content-addressed (uniform hash distribution) so no skew
handling is needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

FLEET = ("dc", "node")


def object_reference_counts(entries: DataFrame) -> DataFrame:
    """J4: object_key -> number of distinct backups referencing it.

    Mirrors ManifestFilesCounter (Manifest.java:407-457): size recorded once
    per key (entries of the same immutable object agree on size).
    """
    return entries.groupBy("object_key").agg(
        F.countDistinct("backup_name").alias("n_backups"),
        F.max("size").alias("obj_size"),
    )


def list_backups(entries: DataFrame, *scope: str) -> DataFrame:
    """Q1: per-backup files / occupied / reclaimable report, one row per
    ``(*scope, backup_name, backup_ts)``.

    Equivalent of AllManifestsReport.report (Manifest.java:676-702) minus the
    driver-side rendering (that lives in esop_spark.functions.render).

    An entry is reclaimable when its object names exactly one backup within
    its scope: one window over ``(*scope, object_key)``, so listing reads
    ``entries`` once (no self-join). min = max is exact for "one distinct
    non-null backup_name": both ignore nulls as countDistinct does, and an
    object whose backup names are all null gets a null flag, which counts
    nothing. Null object keys are dropped, as an inner join on
    ``object_key`` would.
    """
    by_object = Window.partitionBy(*scope, "object_key")
    one = F.min("backup_name").over(by_object) == F.max("backup_name").over(by_object)
    return (
        entries.filter(F.col("object_key").isNotNull())
        .withColumn("_one", one)
        .groupBy(*scope, "backup_name", "backup_ts")
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


def removable(entries: DataFrame, is_victim: Column, *scope: str) -> DataFrame:
    """``(*scope, object_key, size)`` of the objects safe to delete with the
    victim backups: those every non-null backup that references them
    within their scope marks ``is_victim``. ``is_victim`` is a predicate on
    an entry row, so the victims reach the window without a join.

    Mirrors RemoveBackupOperation's unique-file selection
    (/root/reference/core/src/main/java/com/instaclustr/esop/impl/remove/RemoveBackupOperation.java:100-190
    via Manifest.java:460-483), generalized to many victims. Null object
    keys are dropped, as in listing. The window keeps the output
    partitioned on ``(*scope, object_key)``, so the distinct adds no
    exchange. (One ``groupBy(object_key)`` with a ``collect_set`` of the
    sizes, and a semi- plus anti-join, were both slower at sf0.1.)
    """
    by_object = Window.partitionBy(*scope, "object_key")
    named = F.when(F.col("backup_name").isNotNull(), is_victim)
    return (
        entries.filter(F.col("object_key").isNotNull())
        .withColumn("_all", F.min(named).over(by_object))
        .filter(is_victim & F.col("_all"))
        .select(*scope, "object_key", "size")
        .distinct()
    )


def removable_entries(entries: DataFrame, backup_name: str) -> DataFrame:
    """Q2: objects safe to delete with backup ``backup_name`` in one node's
    manifest set."""
    return removable(entries, F.col("backup_name") == backup_name)


def removal_plan(
    entries: DataFrame,
    *scope: str,
    backup_name: str | None = None,
    oldest: bool = False,
    older_than_ms: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(victims, removable) of a removal request: the ``(*scope,
    backup_name)`` of the victim backups, and ``removable`` over them.

    Victim selection mirrors RemoveBackupOperation.getBackupsToDelete
    (RemoveBackupOperation.java:177-190), evaluated per scope and per
    manifest: exact name XOR the scope's oldest manifest (``backup_ts``
    ascending nulls last, then ``backup_name``) XOR ``backup_ts <
    older_than_ms``. Name and cutoff are row predicates; the oldest
    manifests are collected (one per scope) into one.
    """
    if backup_name is not None:
        is_victim = F.col("backup_name") == backup_name
    elif oldest:
        # nulls last: a manifest whose name lacks a parseable -<millis> tail
        # must never win --oldest
        key = (*scope, "backup_name", "backup_ts")
        first = F.min(F.struct(F.col("backup_ts").isNull(), "backup_ts", "backup_name"))
        rows = (
            entries.groupBy(*scope)
            .agg(first.alias("_first"))
            .filter(F.col("_first").isNotNull())
            .select(*scope, "_first.backup_name", "_first.backup_ts")
            .collect()
        )
        is_victim = F.struct(*key).isin(
            [F.struct(*(F.lit(r[c]).alias(c) for c in key)) for r in rows]
        )
    elif older_than_ms is not None:
        is_victim = F.col("backup_ts") < older_than_ms
    else:
        raise ValueError("select victims via backup_name, oldest, or older_than_ms")
    victims = entries.filter(is_victim).select(*scope, "backup_name").distinct()
    return victims, removable(entries, is_victim, *scope)
