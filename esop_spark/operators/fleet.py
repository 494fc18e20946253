"""Multi-node (fleet-scoped) listing and global removal (SURVEY.md §2 — the
reference's ``--global-request`` surface).

Reference semantics re-expressed as DataFrame plans:

- Node resolution: a storage location names ONE node
  (``<base>/<cluster>/<dc>/<node>``); a global request enumerates sibling
  dcs under the cluster dir and sibling nodes under each dc dir
  (/root/reference/core/src/main/java/com/instaclustr/esop/local/LocalFileRestorer.java:279-313
  ``listDcs``/``listNodes``), optionally restricted by ``--dcs``.
- Listing and removal are esop's node rules (``operators.manifest``) run at
  the fleet scope ``FLEET = ("dc", "node")``: each (dc, node) is one
  manifest set, and an object is identified by ``(dc, node, object_key)``
  because physical keys are node-scoped
  (``<cluster>/<dc>/<node>/<object_key>``). So victims are chosen per node
  (exact name XOR that node's own oldest XOR --older-than,
  RemoveBackupOperation.java:100-190), and an object is deletable iff every
  backup of its node that references it is a victim.

Scale design: the fleet manifest read is ONE glob read over
``<cluster>/*/*/manifests`` (dc/node recovered from the file path), not an
N-way per-node union — 1000 nodes cost one Spark job. Every window and
aggregation keys on (dc, node, …), so per-node work parallelizes across the
fleet; the only driver-side state is the dc/node directory listing and the
victim list (fleet × victim backups).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esop_spark.operators.manifest import FLEET, list_backups, removal_plan
from esop_spark.operators.pipelines import delete_backups
from esop_spark.sources import manifest_json


def split_node_location(node_dir: str) -> tuple[str, str, str, str]:
    """``<base>/<cluster>/<dc>/<node>`` → (base, cluster, dc, node).

    The file-path analog of StorageLocation.withoutNode/withoutNodeAndDc
    (/root/reference/core/src/main/java/com/instaclustr/esop/impl/StorageLocation.java:136-178):
    it is enough to name one node; the rest of the fleet is resolved from it.
    """
    p = os.path.abspath(node_dir).rstrip("/")
    dc_dir, node = os.path.split(p)
    cluster_dir, dc = os.path.split(dc_dir)
    base, cluster = os.path.split(cluster_dir)
    if not (node and dc and cluster):
        raise ValueError(f"not a <base>/<cluster>/<dc>/<node> location: {node_dir!r}")
    return base, cluster, dc, node


def list_node_locations(
    base: str, cluster: str, dcs: list[str] | None = None
) -> list[dict[str, str]]:
    """Resolve every node location under a cluster (LocalFileRestorer.listNodes):
    dcs = dirs under the cluster dir, nodes = dirs under each dc dir.
    Returns [{"dc", "node", "node_dir"}] sorted for determinism."""
    cluster_dir = os.path.join(base, cluster)
    found_dcs = sorted(
        d for d in os.listdir(cluster_dir)
        if os.path.isdir(os.path.join(cluster_dir, d))
    )
    if dcs:
        found_dcs = [d for d in found_dcs if d in set(dcs)]
    out = []
    for dc in found_dcs:
        dc_dir = os.path.join(cluster_dir, dc)
        for node in sorted(os.listdir(dc_dir)):
            nd = os.path.join(dc_dir, node)
            if os.path.isdir(nd):
                out.append({"dc": dc, "node": node, "node_dir": nd})
    return out


def read_fleet_manifests(
    spark: SparkSession, base: str, cluster: str, dcs: list[str] | None = None
) -> DataFrame:
    """Union of every node's manifest entries, tagged with (dc, node).

    One glob read (``<cluster>/<dc glob>/*/manifests``) — dc and node are
    recovered from the manifest file path
    (…/<dc>/<node>/manifests/<name>.json), so fleet size never shows up in
    the plan as a union width.
    """
    dc_glob = "{" + ",".join(sorted(dcs)) + "}" if dcs else "*"
    glob = os.path.join(base, cluster, dc_glob, "*", "manifests")
    entries = manifest_json.read_manifests(spark, glob, include_path=True)
    parts = F.split(F.col("manifest_path"), "/")
    return entries.withColumn("dc", F.element_at(parts, -4)).withColumn(
        "node", F.element_at(parts, -3)
    ).drop("manifest_path")


def global_list_backups(fleet_entries: DataFrame) -> DataFrame:
    """Per-(dc, node, backup) files / size / reclaimable: ``list_backups``
    at fleet scope."""
    return list_backups(fleet_entries, *FLEET)


def global_removal_plan(
    fleet_entries: DataFrame,
    backup_name: str | None = None,
    oldest: bool = False,
    older_than_ms: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(victims, removable): ``removal_plan`` at fleet scope."""
    return removal_plan(
        fleet_entries,
        *FLEET,
        backup_name=backup_name,
        oldest=oldest,
        older_than_ms=older_than_ms,
    )


def global_removal_report(
    fleet_entries: DataFrame,
    backup_name: str | None = None,
    oldest: bool = False,
    older_than_ms: int | None = None,
) -> DataFrame:
    """Dry-run analytics: per-(dc, node) backups_removed / objects_removed /
    bytes_removed under the given victim rule (the reference's --dry report,
    aggregated fleet-wide)."""
    victims, removable = global_removal_plan(
        fleet_entries, backup_name, oldest, older_than_ms
    )
    v = victims.groupBy("dc", "node").agg(
        F.count(F.lit(1)).cast("bigint").alias("backups_removed")
    )
    r = removable.groupBy("dc", "node").agg(
        F.count(F.lit(1)).cast("bigint").alias("objects_removed"),
        F.sum("size").cast("bigint").alias("bytes_removed"),
    )
    return (
        v.join(r, ["dc", "node"], "left_outer")
        .withColumn("objects_removed", F.coalesce("objects_removed", F.lit(0)))
        .withColumn("bytes_removed", F.coalesce("bytes_removed", F.lit(0)))
    )


def global_remove_backup(
    spark: SparkSession,
    node_location: str,
    backup_name: str | None = None,
    oldest: bool = False,
    older_than_ms: int | None = None,
    dcs: list[str] | None = None,
    dry_run: bool = False,
) -> dict[str, int]:
    """remove-backup --global-request: resolve the fleet from one node
    location, then ``delete_backups`` at fleet scope under the cluster dir:
    victims per node, their unique objects, manifests and topology files on
    every node."""
    base, cluster, _dc, _node = split_node_location(node_location)
    return delete_backups(
        read_fleet_manifests(spark, base, cluster, dcs),
        os.path.join(base, cluster),
        *FLEET,
        backup_name=backup_name,
        oldest=oldest,
        older_than_ms=older_than_ms,
        dry_run=dry_run,
    )
