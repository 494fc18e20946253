"""Multi-node (--global-request) listing + removal e2e over a real
<base>/<cluster>/<dc>/<node> bucket layout — the Spark-native analog of the
reference's global-removal embedded tests (RemoveBackupOperation.java:100-190,
LocalFileRestorer.java:279-313)."""

import os
import shutil

import pytest

from esop_spark.operators import fleet, pipelines
from tests.test_pipelines import TABLE_ID, make_tree

NODES = [("dc1", "node-a"), ("dc1", "node-b"), ("dc2", "node-c"), ("dc2", "node-d")]


def _files(node: str, tag: str):
    """snap1 has a node-unique OLD file; snap2 replaces it with a NEW one;
    'alpha' is shared across both backups (and identical on every node)."""
    base = {("ks1", "t1", "me-1-big-Data.db"): "alpha"}
    if tag == "snap1":
        base[("ks1", "t1", "me-2-big-Data.db")] = f"old-{node}"
    else:
        base[("ks1", "t1", "me-3-big-Data.db")] = f"new-{node}"
    return base


@pytest.fixture(scope="module")
def fleet_template(spark, tmp_path_factory):
    """The fleet bucket, backed up once per module (16 backups)."""
    root = tmp_path_factory.mktemp("fleet")
    base = root / "buckets"
    for dc, node in NODES:
        node_dir = base / "cluster1" / dc / node
        for tag, ts in (("snap1", 1000), ("snap2", 2000)):
            data = root / "data" / node / tag
            make_tree(str(data), tag, _files(node, tag))
            pipelines.backup(
                spark, [str(data)], tag, str(node_dir),
                schema_version="sv1", ts_millis=ts,
            )
    return base


@pytest.fixture()
def fleet_bucket(fleet_template, tmp_path):
    """A private copy of the template: removal tests mutate their bucket."""
    base = tmp_path / "buckets"
    shutil.copytree(fleet_template, base)
    return str(base)


def test_node_resolution_from_one_location(fleet_bucket):
    one_node = os.path.join(fleet_bucket, "cluster1", "dc1", "node-a")
    b, cluster, dc, node = fleet.split_node_location(one_node)
    assert (cluster, dc, node) == ("cluster1", "dc1", "node-a")
    locs = fleet.list_node_locations(b, cluster)
    assert [(l["dc"], l["node"]) for l in locs] == NODES
    # --dcs restriction
    locs_dc2 = fleet.list_node_locations(b, cluster, dcs=["dc2"])
    assert [(l["dc"], l["node"]) for l in locs_dc2] == NODES[2:]


def test_global_listing_unions_every_node(spark, fleet_bucket):
    entries = fleet.read_fleet_manifests(spark, fleet_bucket, "cluster1")
    report = {
        (r["dc"], r["node"], r["backup_name"]): r
        for r in fleet.global_list_backups(entries).collect()
    }
    assert len(report) == 8  # 4 nodes x 2 backups
    for dc, node in NODES:
        r1 = report[(dc, node, "snap1-sv1-1000")]
        r2 = report[(dc, node, "snap2-sv1-2000")]
        assert r1["files"] == 2 and r2["files"] == 2
        # 'alpha' is shared between the node's backups -> only the
        # node-unique file is reclaimable on each side
        assert r1["reclaimable_bytes"] == len(f"old-{node}")
        assert r2["reclaimable_bytes"] == len(f"new-{node}")


def test_global_removal_deletes_only_victim_unique_objects(spark, fleet_bucket):
    one_node = os.path.join(fleet_bucket, "cluster1", "dc2", "node-c")
    # dry run first: nothing deleted
    stats = fleet.global_remove_backup(
        spark, one_node, older_than_ms=1500, dry_run=True
    )
    assert stats == {"backups_removed": 4, "objects_removed": 4,
                     "delete_requests": 0, "max_delete_batch": 0}
    entries = fleet.read_fleet_manifests(spark, fleet_bucket, "cluster1")
    assert entries.select("backup_name").distinct().count() == 2

    stats = fleet.global_remove_backup(spark, one_node, older_than_ms=1500)
    assert stats["backups_removed"] == 4 and stats["objects_removed"] == 4
    # request log: every DeleteObjects-analog batch within the 100-key cap
    assert stats["delete_requests"] >= 1
    assert 0 < stats["max_delete_batch"] <= 100
    for dc, node in NODES:
        node_dir = os.path.join(fleet_bucket, "cluster1", dc, node)
        names = set()
        for dirpath, _d, fns in os.walk(node_dir):
            names.update(fns)
        # victim manifest gone; snap2 manifest + its objects survive,
        # including the shared 'alpha' object referenced by both backups
        assert "snap1-sv1-1000.json" not in names
        assert "snap2-sv1-2000.json" in names
        assert "me-1-big-Data.db" in names  # shared object kept
        assert "me-2-big-Data.db" not in names  # snap1-unique object removed
        assert "me-3-big-Data.db" in names


def test_global_oldest_is_per_node(spark, fleet_bucket):
    entries = fleet.read_fleet_manifests(spark, fleet_bucket, "cluster1")
    victims, removable = fleet.global_removal_plan(entries, oldest=True)
    v = victims.collect()
    assert len(v) == 4 and all(r["backup_name"] == "snap1-sv1-1000" for r in v)
    assert removable.count() == 4  # one node-unique object per node


def test_global_removal_restricted_to_dcs(spark, fleet_bucket):
    one_node = os.path.join(fleet_bucket, "cluster1", "dc1", "node-a")
    stats = fleet.global_remove_backup(
        spark, one_node, older_than_ms=1500, dcs=["dc1"], dry_run=True
    )
    assert stats == {"backups_removed": 2, "objects_removed": 2,
                     "delete_requests": 0, "max_delete_batch": 0}


def test_cli_global_remove(fleet_bucket):
    from esop_spark.cli import main

    one_node = os.path.join(fleet_bucket, "cluster1", "dc1", "node-b")
    rc = main(
        [
            "remove-backup",
            "--storage-location", one_node,
            "--backup-name", "snap1-sv1-1000",
            "--global-request",
            "--dry-run",
        ]
    )
    assert rc == 0


def test_cli_global_list(fleet_bucket, tmp_path):
    from esop_spark.cli import main

    one_node = os.path.join(fleet_bucket, "cluster1", "dc1", "node-a")
    out = tmp_path / "listing.txt"
    rc = main(
        [
            "list",
            "--storage-location", one_node,
            "--global-request",
            "--to-file", str(out),
        ]
    )
    assert rc == 0
    text = out.read_text()
    # every node appears; 8 data rows + header
    for _dc, node in NODES:
        assert node in text
    assert len(text.strip().splitlines()) == 9
