"""End-to-end backup / restore pipelines (SURVEY.md §3.1, §3.3).

The reference's lifecycle re-expressed as DataFrame plans + side-effecting
file sinks:

backup  = snapshot scan → content-addressed entries → LEFT ANTI join against
          the remote listing (incremental "freshen" skip,
          UploadTracker.java:106-124) → foreachPartition copy → manifest JSON
          written LAST (BaseBackupOperationCoordinator.java:151-153).
restore = manifest resolution (latest-wins) → two-round diff vs local files
          (DataSynchronizator.java:41-94) → download missing / delete extras,
          hash-verify gate BEFORE the destructive leg
          (RestorationPhase.java:431-435,508-511).

Exactly-once semantics come from content-addressing (object keys embed the
content digest) — a retried copy overwrites an identical object, mirroring
the reference's idempotent upload. Transfers run inside ``foreachPartition``
so a 1000-executor cluster moves files in parallel; per-partition batching
amortizes connection setup (the S3 analog of the reference's 100-key
DeleteObjects batches, BaseS3Restorer.java:252-276).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esop_spark.operators.manifest import removal_plan
from esop_spark.sources import manifest_json, snapshot_scan


def _copy_partition_factory(
    dest_root: str,
    key_col: str,
    src_col: str,
    max_bytes_per_sec: int | None = None,
    kms_key_id: str | None = None,
    retry=None,
):
    """Per-partition file copier with an optional token-bucket throttle.

    U5: the reference rate-limits uploads with a Guava RateLimiter wrapping
    the stream (UploadTracker.java:164-169, io/RateLimitedInputStream.java);
    here each task budgets bytes/sec — cluster-wide rate ≈ limit × tasks, so
    the caller divides by expected parallelism, exactly like the reference
    divides bandwidth by --concurrent-connections.

    ``kms_key_id`` routes payloads through the encryption leg
    (uploadEncryptedFile, Backuper.java:29-43 → functions/crypto.py);
    ``retry`` (a :class:`esop_spark.functions.retry.RetrySpec`) wraps each
    file transfer in the reference's per-file retrier (U3 knob).
    """
    import time

    from esop_spark.functions import crypto
    from esop_spark.functions.retry import with_retries

    def copy_partition(rows):
        window_start = time.monotonic()
        sent = 0
        for row in rows:
            dst = os.path.join(dest_root, row[key_col])
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            if kms_key_id is not None:
                with_retries(
                    lambda: crypto.encrypt_file(row[src_col], dst, kms_key_id),
                    retry,
                )
            else:
                with_retries(
                    lambda: shutil.copyfile(row[src_col], dst), retry
                )
            if max_bytes_per_sec:
                sent += os.path.getsize(dst)
                due = sent / max_bytes_per_sec
                elapsed = time.monotonic() - window_start
                if due > elapsed:
                    time.sleep(due - elapsed)

    return copy_partition


def with_kms_key(entries: DataFrame, kms_key_id: str | None) -> DataFrame:
    """S11 encryption leg: tag entries with the KMS key they are encrypted
    under — except manifests, which are NEVER encrypted (the reference
    routes MANIFEST_FILE through the plain ``uploadFile`` path,
    UploadTracker.java:133-139, Backuper.java:35-43; the S3 backuper stamps
    ``manifestEntry.kmsKeyId`` only on encrypted uploads,
    s3/v2/BaseS3Backuper.java:154-178)."""
    if kms_key_id is None:
        return entries.withColumn("kms_key_id", F.lit(None).cast("string"))
    return entries.withColumn(
        "kms_key_id",
        F.when(F.col("type") != "MANIFEST_FILE", F.lit(kms_key_id)),
    )


def backup(
    spark: SparkSession,
    data_dirs: list[str],
    snapshot_tag: str,
    bucket_dir: str,
    backup_name: str | None = None,
    schema_version: str = "00000000",
    ts_millis: int = 0,
    max_bytes_per_sec: int | None = None,
    kms_key_id: str | None = None,
    skip_refreshing: bool = False,
    tokens: list[str] | None = None,
    retry=None,
) -> DataFrame:
    """Run a backup; returns the manifest entries that were uploaded.

    Incremental: files whose content-addressed object key already exists in
    the bucket are skipped (anti-join), so re-running a backup of unchanged
    data uploads nothing. ``kms_key_id`` tags every uploaded object's
    manifest entry with its encryption key (--kmsKeyId,
    AbstractOperationRequest.java:57-59).

    Freshen semantics (LocalFileBackuper.freshenRemoteObject,
    local/LocalFileBackuper.java:48-61): by default an already-present
    remote object has its last-modified time refreshed (so mtime-based
    retention sees it as live), re-uploading if the touch fails;
    ``skip_refreshing`` (--skip-refreshing,
    impl/backup/BaseBackupOperationRequest.java:50-54) makes presence alone
    count as freshened and leaves remote mtimes untouched.
    """
    backup_name = backup_name or f"{snapshot_tag}-{schema_version}-{ts_millis}"
    # persist the scan itself: it feeds BOTH the upload diff and the manifest
    # writer — without this the file hashing pass runs twice
    entries = snapshot_scan.scan_snapshot_tree(spark, data_dirs, snapshot_tag).persist()
    data_dir = os.path.join(bucket_dir, "data")
    if os.path.isdir(data_dir):
        remote = snapshot_scan.list_remote_objects(spark, bucket_dir)
        to_upload = entries.join(
            remote.select("object_key"), "object_key", "left_anti"
        )
        if not skip_refreshing:
            abs_bucket = os.path.abspath(bucket_dir)

            def freshen_partition(rows):
                import time as _time

                from esop_spark.functions import crypto

                now = _time.time()
                for row in rows:
                    p = os.path.join(abs_bucket, row["object_key"])
                    try:
                        os.utime(p, (now, now))
                    except OSError:
                        # touch failed → re-upload (FreshenResult.UPLOAD_REQUIRED)
                        if kms_key_id is not None:
                            crypto.encrypt_file(row["local_path"], p, kms_key_id)
                        else:
                            shutil.copyfile(row["local_path"], p)

            entries.join(
                remote.select("object_key"), "object_key", "left_semi"
            ).select("object_key", "local_path").foreachPartition(freshen_partition)
    else:
        to_upload = entries
    to_upload = to_upload.persist()
    to_upload.foreachPartition(
        _copy_partition_factory(
            bucket_dir, "object_key", "local_path", max_bytes_per_sec,
            kms_key_id=kms_key_id, retry=retry,
        )
    )
    manifest_entries = with_kms_key(
        entries.withColumn("backup_name", F.lit(backup_name))
        .withColumn("schema_version", F.lit(schema_version))
        .withColumn("schema_content", F.lit(None).cast("string")),
        kms_key_id,
    )
    manifest_json.write_manifests(
        manifest_entries, os.path.join(bucket_dir, "manifests"), tokens=tokens
    )
    uploaded = to_upload.select("object_key", "size", "hash")
    uploaded.count()  # materialize before unpersist
    to_upload.unpersist()
    entries.unpersist()
    return uploaded


def restore_commitlogs(
    spark: SparkSession,
    bucket_dir: str,
    target_dir: str,
    start_ms: int,
    end_ms: int,
    kms_key_id: str | None = None,
) -> int:
    """Point-in-time commit-log restore: download the segments selected by
    the PIT window (+overhang) into the node's recovery directory
    (RestoreCommitLogsOperation.java:106-163). Returns segment count.

    ``kms_key_id`` decrypts segments archived with encryption on (commitlog
    objects carry no manifest entry, so the key arrives with the request —
    same as the reference's --kmsKeyId on the restore operation).
    Plaintext segments pass through untouched either way."""
    from esop_spark.functions import crypto
    from esop_spark.operators.commitlog import commitlog_window
    from esop_spark.streaming.commitlog_stream import archived_commitlogs

    inv = archived_commitlogs(spark, bucket_dir)
    selected = commitlog_window(inv, start_ms, end_ms)
    os.makedirs(target_dir, exist_ok=True)
    n = 0
    for r in selected.select("name", "ts").collect():
        src = os.path.join(bucket_dir, "commitlog", f"{r['name']}.{r['ts']}")
        crypto.decrypt_to(src, os.path.join(target_dir, r["name"]), kms_key_id)
        n += 1
    return n


def delete_backups(
    entries: DataFrame,
    root: str,
    *scope: str,
    dry_run: bool = False,
    **selection,
) -> dict[str, int]:
    """Delete the victim backups of ``entries``: first every object only
    victims reference (``manifest.removal_plan``), then each victim's
    manifest and topology file, last, so a crashed run stays listable.

    An object lives at ``<root>/<scope values>/<object_key>`` and a victim's
    manifest at ``<root>/<scope values>/manifests/<name>.json``.
    ``selection`` holds ``removal_plan``'s victim keywords; ``dry_run``
    reports the counts without deleting (the reference's report mode).

    Deletion is distributed: each partition issues DeleteObjects-sized bulk
    requests (100 keys/request, BaseS3Restorer.java:252-276) and yields its
    request log (n/100 ints, a bounded collect). Deletes are idempotent,
    but the request log is best-effort under task retries (a recomputed
    partition re-logs its no-op requests), so delete_requests/
    max_delete_batch are observability stats, not exactly-once counts.
    """
    victims, removable = removal_plan(entries, *scope, **selection)
    victim_rows = victims.collect()  # scope × victim backups: driver-small
    removable = removable.persist()
    n_objects = removable.count()
    batch_sizes: list = []
    if not dry_run:
        root = os.path.abspath(root)

        def delete_partition(rows):
            from esop_spark.sources.cloud_profiles import delete_objects_batched

            return iter(
                delete_objects_batched(
                    os.path.join(root, *(r[c] for c in scope), r["object_key"])
                    for r in rows
                )
            )

        batch_sizes = removable.rdd.mapPartitions(delete_partition).collect()
        for v in victim_rows:
            for kind in ("manifests", "topology"):
                p = os.path.join(
                    root, *(v[c] for c in scope), kind, f"{v['backup_name']}.json"
                )
                if os.path.exists(p):
                    os.remove(p)
    removable.unpersist()
    return {
        "backups_removed": len(victim_rows),
        "objects_removed": n_objects,
        "delete_requests": len(batch_sizes),
        "max_delete_batch": max(batch_sizes, default=0),
    }


def remove_backup(
    spark: SparkSession,
    bucket_dir: str,
    backup_name: str | None = None,
    oldest: bool = False,
    older_than_ms: int | None = None,
    dry_run: bool = False,
) -> dict[str, int]:
    """Safe backup removal (SURVEY.md §0.4) on one node's bucket: delete
    only objects referenced exclusively by the victim backups (exact name
    XOR --oldest XOR --older-than), then their manifests —
    ``delete_backups`` at node scope."""
    entries = manifest_json.read_manifests(spark, os.path.join(bucket_dir, "manifests"))
    return delete_backups(
        entries,
        bucket_dir,
        backup_name=backup_name,
        oldest=oldest,
        older_than_ms=older_than_ms,
        dry_run=dry_run,
    )


def restore(
    spark: SparkSession,
    bucket_dir: str,
    target_dir: str,
    backup_name: str | None = None,
    delete_extras: bool = True,
    cassandra_config_dir: str | None = None,
    retry=None,
) -> dict[str, int]:
    """Restore a backup into ``target_dir``; returns action counts.

    Files land under ``<target_dir>/<keyspace>/<table>-<id>/<component>``.
    The mismatch (corruption) leg re-downloads; extras are deleted only after
    downloads succeed (ordering gate).

    ``cassandra_config_dir`` opts into the in-place finish: rewrite that
    directory's ``cassandra.yaml`` (``auto_bootstrap: false`` + the
    manifest's ``initial_token`` fragment) so the node rejoins at its old
    ring position — the reference's ``--update-cassandra-yaml``
    (InPlaceRestorationStrategy.java:125-160).
    """
    manifests_dir = os.path.join(bucket_dir, "manifests")
    if not os.path.isdir(manifests_dir):
        raise ValueError(f"no manifests directory in {bucket_dir!r} — nothing to restore")
    manifests = manifest_json.read_manifests(spark, manifests_dir)
    if backup_name is None:
        latest = (
            manifests.select("backup_name", "backup_ts")
            .distinct()
            .orderBy(F.col("backup_ts").desc(), F.col("backup_name").desc())
            .limit(1)
            .collect()
        )
        if not latest:
            raise ValueError(f"no manifests in {bucket_dir}")
        backup_name = latest[0]["backup_name"]
    mf = manifests.filter(F.col("backup_name") == backup_name)

    # local relative path: ks/table-id/[idxdir/]component (enrichment P14 —
    # object keys drop the <generation>-<digest> path component)
    parts = F.split(F.col("object_key"), "/")
    rel = F.when(
        F.size(parts) == 6,
        F.concat_ws(
            "/",
            F.element_at(parts, 2),
            F.element_at(parts, 3),
            F.element_at(parts, 4),
            F.element_at(parts, 6),
        ),
    ).otherwise(
        F.concat_ws(
            "/", F.element_at(parts, 2), F.element_at(parts, 3), F.element_at(parts, 5)
        )
    )
    mf_files = mf.select(
        rel.alias("rel_file"), "object_key", "size", "hash", "kms_key_id"
    ).distinct()

    local = snapshot_scan.list_local_files(spark, [target_dir]) if os.path.isdir(
        target_dir
    ) and os.listdir(target_dir) else None
    if local is not None:
        # hash-verify gate: local files are re-hashed (distributed binaryFile
        # read rooted at the walked parent dirs, semi-joined to the walked
        # file set) so corrupted files join the download set — the
        # reference's round-2 mismatch leg (DataSynchronizator.java:79-91,
        # SSTableUtils.isExistingSStable). Only the DIRECTORY list touches
        # the driver; the file set stays a DataFrame end-to-end.
        from esop_spark.functions.scalars import content_hash

        local_dirs = [
            dp
            for dp, _dns, fns in os.walk(target_dir)
            if fns
            and "/snapshots/" not in dp + "/"
            and "/backups/" not in dp + "/"
        ]
        hashed = snapshot_scan.load_binary_files_for(spark, local_dirs, local).select(
            "local_path", content_hash(F.col("content")).alias("local_hash")
        )
        lp = F.col("local_path")
        local = hashed.select(
            F.substring(lp, len(os.path.abspath(target_dir)) + 2, 1 << 20).alias("rel_file"),
            "local_path",
            "local_hash",
        )
        joined = mf_files.join(local, "rel_file", "full_outer")
        to_download = joined.filter(
            F.col("local_hash").isNull()
            | (F.col("hash").isNotNull() & (F.col("hash") != F.col("local_hash")))
        ).select("rel_file", "object_key", "kms_key_id")
        to_delete = joined.filter(F.col("object_key").isNull()).select("local_path")
    else:
        to_download = mf_files.select("rel_file", "object_key", "kms_key_id")
        to_delete = None

    # src/dst are computed as columns and the copy runs in foreachPartition:
    # nothing proportional to file count ever lands on the driver (only the
    # two counts come back).
    abs_bucket, abs_target = os.path.abspath(bucket_dir), os.path.abspath(target_dir)
    dl_df = to_download.select(
        F.concat(F.lit(abs_bucket + "/"), F.col("object_key")).alias("src"),
        F.concat(F.lit(abs_target + "/"), F.col("rel_file")).alias("dst"),
        "kms_key_id",
    ).persist()
    n_downloaded = dl_df.count()

    def download_partition(rows):
        from esop_spark.functions import crypto
        from esop_spark.functions.retry import with_retries

        for row in rows:
            os.makedirs(os.path.dirname(row["dst"]), exist_ok=True)
            # decrypt-aware copy: plaintext objects pass through untouched
            with_retries(
                lambda: crypto.decrypt_to(row["src"], row["dst"], row["kms_key_id"]),
                retry,
            )

    dl_df.foreachPartition(download_partition)
    dl_df.unpersist()
    n_deleted = 0
    if to_delete is not None and delete_extras:
        del_df = to_delete.select("local_path").persist()
        n_deleted = del_df.count()
        del_df.foreachPartition(
            lambda rows: [os.remove(row["local_path"]) for row in rows]
        )
        del_df.unpersist()
    out = {"downloaded": n_downloaded, "deleted": n_deleted}
    if cassandra_config_dir is not None:
        from esop_spark.operators import cassandra_yaml

        tokens = manifest_json.read_backup_tokens(spark, manifests_dir, backup_name)
        out["cassandra_yaml"] = cassandra_yaml.update_cassandra_yaml(
            os.path.join(cassandra_config_dir, "cassandra.yaml"), tokens
        )
    return out
