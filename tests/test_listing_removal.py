"""Listing render goldens + removal e2e (mirrors BaseListingRemovalTest.java:
backup twice → list in 4 formats → remove oldest → only unique files gone)."""

import inspect
import json
import os
import random
import re
import uuid

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from esop_spark.cli import main
from esop_spark.operators import entities, manifest, pipelines, topology
from esop_spark.operators.manifest import FLEET
from esop_spark.operators.dedup import release_shared_relations
from esop_spark.sources import fixtures
from tests.test_library_session import SF_DIR
from tests.test_pipelines import BASE_FILES, TABLE_ID, make_tree

OTHER_SF_DIR = SF_DIR.replace("sf0.001", "sf0.01")


def test_render_report_four_formats(spark):
    e = spark.createDataFrame(
        [
            ("b1-sv-1619537920284", 1619537920284, "ks", "t", "k1", 100000, "h1"),
            ("b1-sv-1619537920284", 1619537920284, "ks", "t", "k2", 13100, "h2"),
            ("b2-sv-1619537921000", 1619537921000, "ks", "t", "k2", 13100, "h2"),
        ],
        "backup_name string, backup_ts long, keyspace string, table_name string,"
        " object_key string, size long, hash string",
    )
    plain = manifest.render_report(e, fmt="table")
    lines = plain.splitlines()
    assert lines[0].split() == ["name", "timestamp", "files", "size", "reclaimable"]
    # newest first
    assert lines[1].startswith("b2-sv-1619537921000 2021-04-27T15:38:41")
    assert lines[2].startswith("b1-sv-1619537920284 2021-04-27T15:38:40.284")
    # totals over DISTINCT objects: k1 (100000) + k2 (13100) counted once
    assert lines[3].split() == ["TOTAL", "2", "113100", "100000"]

    human = manifest.render_report(e, fmt="table", human_units=True)
    assert "113.1 kB" in human and "13.1 kB" in human

    j = json.loads(manifest.render_report(e, fmt="json"))
    assert j["totalFiles"] == 2 and j["totalSize"] == "113100"
    assert j["reports"][0]["name"] == "b2-sv-1619537921000"

    jh = json.loads(manifest.render_report(e, fmt="json", human_units=True))
    assert jh["totalSize"] == "113.1 kB"
    # --last-n keeps the oldest n, order restored (W4)
    last1 = manifest.render_report(e, fmt="json", last_n=1)
    assert [r["name"] for r in json.loads(last1)["reports"]] == ["b1-sv-1619537920284"]


def test_remove_backup_keeps_shared_objects(spark, tmp_path):
    data, bucket = str(tmp_path / "data"), str(tmp_path / "bucket")
    make_tree(data, "snap1", BASE_FILES)
    pipelines.backup(spark, [data], "snap1", bucket, schema_version="sv", ts_millis=1000)
    # second snapshot shares 4 files, adds 1 unique
    extra = dict(BASE_FILES)
    extra[("ks1", "t1", "me-9-big-Data.db")] = "unique-to-snap2"
    make_tree(data, "snap2", extra)
    pipelines.backup(spark, [data], "snap2", bucket, schema_version="sv", ts_millis=2000)

    # dry run reports without deleting
    stats = pipelines.remove_backup(spark, bucket, oldest=True, dry_run=True)
    assert stats == {"backups_removed": 1, "objects_removed": 0,
                     "delete_requests": 0, "max_delete_batch": 0}
    assert os.path.exists(os.path.join(bucket, "manifests", "snap1-sv-1000.json"))

    # removing snap2 deletes ONLY its unique object + manifest
    stats = pipelines.remove_backup(spark, bucket, backup_name="snap2-sv-2000")
    assert stats["backups_removed"] == 1 and stats["objects_removed"] == 1
    assert not os.path.exists(os.path.join(bucket, "manifests", "snap2-sv-2000.json"))
    # snap1 still fully restorable
    target = str(tmp_path / "restored")
    r = pipelines.restore(spark, bucket, target, backup_name="snap1-sv-1000")
    assert r["downloaded"] == 4


KEYLESS_VICTIM = "snap1-sv-1000"


def _add_keyless_entry(manifest_path):
    """Append an entry with no ``objectKey`` to the first sstable of a
    manifest file."""
    with open(manifest_path) as f:
        doc = json.load(f)
    tables = next(iter(doc["snapshot"]["keyspaces"].values()))["tables"]
    sstables = next(iter(tables.values()))["sstables"]
    next(iter(sstables.values())).append({"type": "FILE", "size": 5, "hash": "h"})
    with open(manifest_path, "w") as f:
        json.dump(doc, f)


@pytest.mark.parametrize(
    "scope_flags",
    [["--backup-name", KEYLESS_VICTIM], ["--oldest", "--global-request"]],
    ids=["node", "global"],
)
def test_keyless_entry_never_reaches_the_deleter(spark, tmp_path, capsys, scope_flags):
    """A manifest entry without ``objectKey`` is not an object: node and
    global removal, dry run and real, count and delete only the victim's
    unique object (the null key used to reach ``os.path.join``), then the
    victim's manifest and topology file."""
    data = str(tmp_path / "data")
    node_dir = str(tmp_path / "buckets" / "cluster1" / "dc1" / "node-a")
    unique = ("ks1", "t1", "me-9-big-Data.db")
    make_tree(data, "snap1", {**BASE_FILES, unique: "unique-to-snap1"})
    pipelines.backup(spark, [data], "snap1", node_dir, schema_version="sv", ts_millis=1000)
    make_tree(data, "snap2", BASE_FILES)
    pipelines.backup(spark, [data], "snap2", node_dir, schema_version="sv", ts_millis=2000)
    _add_keyless_entry(os.path.join(node_dir, "manifests", f"{KEYLESS_VICTIM}.json"))
    topology = os.path.join(node_dir, "topology", f"{KEYLESS_VICTIM}.json")
    os.makedirs(os.path.dirname(topology))
    open(topology, "w").close()

    def objects():
        return sorted(
            fn for _dp, _d, fns in os.walk(os.path.join(node_dir, "data")) for fn in fns
        )

    before = objects()
    argv = ["remove-backup", "--storage-location", node_dir, *scope_flags]
    assert main([*argv, "--dry-run"]) == 0
    dry_run = capsys.readouterr().out
    assert objects() == before
    assert main(argv) == 0
    assert dry_run == "removed 1 backups, 1 objects (dry run)\n"
    assert capsys.readouterr().out == "removed 1 backups, 1 objects\n"
    assert objects() == sorted(set(before) - {unique[2]})
    assert os.listdir(os.path.join(node_dir, "manifests")) == ["snap2-sv-2000.json"]
    assert not os.path.exists(topology)


def test_missing_entities_and_import_join(spark):
    requested = spark.createDataFrame(
        [("ks1", "t1"), ("ks1", "tX")], "keyspace string, table_name string"
    )
    catalog = spark.createDataFrame(
        [("ks1", "t1", "id1", "/d/ks1/t1-id1", 5)],
        "keyspace string, table_name string, table_id string, path string, mtime long",
    )
    missing = entities.missing_entities(requested, catalog).collect()
    assert [(r["keyspace"], r["table_name"]) for r in missing] == [("ks1", "tX")]
    joined = entities.import_join(requested, catalog).collect()
    assert len(joined) == 1 and joined[0]["local_table_id"] == "id1"


def test_schema_consensus(spark):
    t1 = spark.createDataFrame([("n1", "sv1"), ("n2", "sv1")], "h string, schema_version string")
    t2 = spark.createDataFrame([("n1", "sv1"), ("n2", "sv2")], "h string, schema_version string")
    assert topology.schema_consensus(t1) is True
    assert topology.schema_consensus(t2) is False


def _cold_jobs(spark, name):
    """Rows and Spark jobs of one cold command: bench.py's per-command
    reset, then build + collect in one job group. The base parquet tables
    are registered first, as bench.py's warm-up leaves them: the reset
    keeps that memo, so the count is the command's own jobs."""
    fixtures.load_base_tables(spark, SF_DIR)
    release_shared_relations()
    spark.catalog.clearCache()
    fixtures.reset_registration_cache()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(jmap.keySet().toArray()):
        if jmap.containsKey(rid):
            jmap.get(rid).unpersist(False)
    sc = spark.sparkContext
    group = f"cold-{name}-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, f"{name} build + collect")
    try:
        rows = entry_mod.queries()[name](spark, SF_DIR).collect()
    finally:
        sc.setJobGroup(None, None)
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


def test_cold_upload_diff_job_budget(spark):
    """A cold esop ``backup`` command (q03 upload diff) derives
    manifest_entries inside its own plan: no cache is filled, and build +
    collect stay within four Spark jobs."""
    rows, jobs = _cold_jobs(spark, "q03_upload_diff")
    assert rows
    assert jobs <= 4, f"{jobs} jobs for one cold q03_upload_diff"
    assert not spark.catalog.isCached("manifest_entries")


@pytest.mark.parametrize(
    "name,budget", [("q01_list_backups", 4), ("q02_removable_entries", 3)]
)
def test_cold_list_remove_job_budget(spark, name, budget):
    """``list`` and ``remove-backup`` read manifest_entries once (one
    window on object_key, no self-join), so a cold command derives the
    fixture once: 6 and 5 jobs with the join."""
    rows, jobs = _cold_jobs(spark, name)
    assert rows
    assert jobs <= budget, f"{jobs} jobs for one cold {name}"


def test_fresh_session_registers_fixtures_without_a_job(spark):
    """A fresh session's base tables take their schemas from the parquet
    footers, not from Spark's inference (one job per table), and the
    fixture views are plain: registering all of them fires no Spark job."""
    session = spark.newSession()
    sc = spark.sparkContext
    group = f"register-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "register_fixture_views in a fresh session")
    try:
        fixtures.register_fixture_views(session, SF_DIR)
    finally:
        sc.setJobGroup(None, None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
    assert _fixture_views(session) == fixtures.FIXTURE_SQL.keys()


def _fixture_views(session):
    return {
        t.name for t in session.catalog.listTables() if t.isTemporary
    } & fixtures.FIXTURE_SQL.keys()


@pytest.mark.parametrize(
    "name,views",
    [
        ("q07_commitlog_window", {"commitlogs"}),
        ("q03_upload_diff", {"manifest_entries", "remote_objects"}),
    ],
)
def test_cold_command_registers_only_its_views(spark, name, views):
    """A command registers the fixture views it reads and their
    dependencies, not all nine."""
    session = spark.newSession()
    entry_mod.queries()[name](session, SF_DIR)
    assert _fixture_views(session) == views


def test_sf_dir_switch_drops_views_of_the_old_tables(spark):
    """Fixture views hold analyzed plans over the base tables, so a switch
    of sf_dir drops them: a view the new command did not name cannot read
    the old directory's data."""
    session = spark.newSession()
    fixtures.register_fixture_views(session, SF_DIR, "remote_objects")
    fixtures.register_fixture_views(session, OTHER_SF_DIR, "commitlogs")
    assert _fixture_views(session) == {"commitlogs"}


def test_fixture_views_are_per_session(spark):
    """Temp views belong to a session: a query run in a second session
    registers the views there, though the first session already did."""
    qs = entry_mod.queries()
    want = sorted(qs["q01_list_backups"](spark, SF_DIR).collect())
    got = sorted(qs["q01_list_backups"](spark.newSession(), SF_DIR).collect())
    assert got == want


def _reads_a_fixture(name, fn, oracle):
    """Whether the oracle defines a fixture in its WITH or the Spark side
    names one as a string."""
    views = "|".join(fixtures.FIXTURE_SQL)
    in_oracle = re.search(rf"\b({views}) AS \(", oracle.get(name, ""))
    in_spark = re.search(rf"[\"']({views})[\"']", inspect.getsource(fn))
    return bool(in_oracle or in_spark)


def test_every_fixture_read_is_declared(spark):
    """Each fixture-reading query, built (not collected) in a fresh session,
    which holds no temp views: a read of a view the query did not declare
    to ``register_fixture_views`` fails analysis."""
    qs, oracle = entry_mod.queries(), entry_mod.oracle_sql()
    names = [n for n, fn in qs.items() if _reads_a_fixture(n, fn, oracle)]
    assert len(names) >= 21
    try:
        for name in names:
            qs[name](spark.newSession(), SF_DIR)
    finally:
        release_shared_relations()


# -- the join formulations the one-read operators replaced, kept verbatim as
# the reference for the differential test below


def _ref_object_reference_counts(entries):
    return entries.groupBy("object_key").agg(
        F.countDistinct("backup_name").alias("n_backups"),
        F.max("size").alias("obj_size"),
    )


def _ref_list_backups(entries):
    refcounts = _ref_object_reference_counts(entries)
    return (
        entries.join(refcounts, "object_key")
        .groupBy("backup_name", "backup_ts")
        .agg(
            F.count(F.lit(1)).alias("files"),
            F.sum("size").cast("bigint").alias("size_bytes"),
            F.sum(F.when(F.col("n_backups") == 1, F.col("size")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("reclaimable_bytes"),
        )
    )


def _ref_removable_entries(entries, backup_name):
    refcounts = _ref_object_reference_counts(entries)
    return (
        entries.filter(F.col("backup_name") == backup_name)
        .select("object_key", "size")
        .distinct()
        .join(refcounts.filter(F.col("n_backups") == 1), "object_key", "left_semi")
    )


def _ref_remove_backup(entries, backup_name=None, oldest=False, older_than_ms=None):
    manifests = entries.select("backup_name", "backup_ts").distinct()
    if backup_name is not None:
        victims = manifests.filter(F.col("backup_name") == backup_name)
    elif oldest:
        # nulls last: a manifest whose name lacks a parseable -<millis> tail
        # must never win --oldest by default (Spark sorts NULLS FIRST asc)
        victims = manifests.orderBy(
            F.col("backup_ts").asc_nulls_last(), F.col("backup_name").asc()
        ).limit(1)
    elif older_than_ms is not None:
        victims = manifests.filter(F.col("backup_ts") < older_than_ms)
    else:
        raise ValueError("select victims via backup_name, oldest, or older_than_ms")

    victim_names = [r["backup_name"] for r in victims.collect()]
    # removable iff NO surviving (non-victim) backup references the object —
    # anti-join against survivor references generalizes the refcount==1 rule
    # to multi-victim (--older-than) removals
    removable = (
        entries.join(victims.select("backup_name"), "backup_name", "left_semi")
        .select("object_key")
        .distinct()
        .join(
            entries.join(victims.select("backup_name"), "backup_name", "left_anti")
            .select("object_key")
            .distinct(),
            "object_key",
            "left_anti",
        )
    )
    return victim_names, removable


BACKUPS = {"b0": 1000, "b1": 2000, "b2": 3000}
# one rule of each kind; the cutoffs select no backup, a backup_name whose
# two backup_ts values straddle the cutoff, and every backup (null names too)
VICTIM_RULES = [{"backup_name": "b1"}, {"oldest": True}] + [
    {"older_than_ms": c} for c in (500, 3200, 10000)
]
NODES = [("dc1", "node-a"), ("dc2", "node-b")]


def _generated_entries(seed):
    """Manifest entries with every shape the one-read operators must agree
    on: duplicate rows, objects shared by 1, 2 and 3 backups, null
    object_key / backup_name / size, and one backup_name (b2) carrying two
    backup_ts values."""
    rng = random.Random(seed)
    names = sorted(BACKUPS)
    rows = []
    for i in range(24):
        key = f"k{i}"
        size = None if i % 7 == 3 else rng.randrange(1, 50)
        for b in rng.sample(names, 1 + i % 3):
            rows.append((b, BACKUPS[b], key, size))
        if i % 5 == 0:
            rows.append((None, 9000, key, size))
        if i % 6 == 0:
            rows.append(rows[-1])
    rows += [
        ("b2", 3500, "k1", rows[0][3]),
        ("b1", 2000, None, 7),
        (None, 9000, None, None),
        ("b0", 1000, "k_only_null_size", None),
        (None, 9000, "k_only_null_backup", 4),
    ]
    rng.shuffle(rows)
    return rows


def _sorted_rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


ENTRY_SCHEMA = "backup_name string, backup_ts long, object_key string, size long"


def _tagged(df, dc, node):
    return df.select(F.lit(dc).alias("dc"), F.lit(node).alias("node"), "*")


@pytest.mark.parametrize("seed", [5, 17])
def test_one_read_listing_and_removal_match_join_forms(spark, seed):
    e = spark.createDataFrame(_generated_entries(seed), ENTRY_SCHEMA)
    assert _sorted_rows(manifest.list_backups(e)) == _sorted_rows(_ref_list_backups(e))
    for b in sorted(BACKUPS):
        assert _sorted_rows(manifest.removable_entries(e, b)) == _sorted_rows(
            _ref_removable_entries(e, b)
        ), b

    # many victims: the semi/anti-join form on rows with an object key. It
    # counts a null-named row as a survivor, where the single-victim form
    # above (and the kernel) ignore it, so the two forms are compared on
    # named rows; manifest names are file names, never null. A victim is a
    # manifest, (backup_name, backup_ts), and the reference selects names,
    # so for the oldest and cutoff rules it runs on rows named by their
    # manifest, as read_manifests gives (one timestamp per name).
    named = e.filter(F.col("backup_name").isNotNull())
    by_manifest = named.withColumn(
        "backup_name", F.concat_ws("@", "backup_name", "backup_ts")
    )
    for rule in VICTIM_RULES:
        victims, got = manifest.removal_plan(named, **rule)
        ref_names, ref = _ref_remove_backup(
            named if "backup_name" in rule else by_manifest, **rule
        )
        assert sorted(v["backup_name"] for v in victims.collect()) == sorted(
            {n.split("@")[0] for n in ref_names}
        ), rule
        assert _sorted_rows(got.select("object_key").distinct()) == _sorted_rows(
            ref.filter(F.col("object_key").isNotNull())
        ), rule

    # fleet scope: each (dc, node) is its own manifest set, though both
    # nodes use the same object keys
    per_node = {
        n: spark.createDataFrame(_generated_entries(seed + i), ENTRY_SCHEMA)
        for i, n in enumerate(NODES)
    }
    fleet = _tagged(per_node[NODES[0]], *NODES[0]).unionByName(
        _tagged(per_node[NODES[1]], *NODES[1])
    )

    def each_node(fn):
        return sorted(
            (rows for n, df in per_node.items() for rows in fn(df, n)), key=repr
        )

    assert _sorted_rows(manifest.list_backups(fleet, *FLEET)) == each_node(
        lambda df, n: (n + tuple(r) for r in manifest.list_backups(df).collect())
    )
    for rule in VICTIM_RULES:
        victims, got = manifest.removal_plan(fleet, *FLEET, **rule)
        node_plans = {n: manifest.removal_plan(df, **rule) for n, df in per_node.items()}
        assert _sorted_rows(victims) == each_node(
            lambda df, n: (n + tuple(v) for v in node_plans[n][0].collect())
        ), rule
        assert _sorted_rows(got) == each_node(
            lambda df, n: (n + tuple(r) for r in node_plans[n][1].collect())
        ), rule
