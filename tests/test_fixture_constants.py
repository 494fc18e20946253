"""Guard the TPC-H fill-in wave's fixture constants (q241-q255).

The queries pin selective literals (nation names, brands, a region, a market
segment, a part type) that were hand-verified against the generated parquet
fixtures. A future fixture regeneration could silently remove one and turn a
query into a correct-looking empty result. This test asserts every pinned
constant still selects rows — via DuckDB, so it runs in milliseconds with no
SparkSession.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod

SF_DIRS = [
    d
    for d in ("/root/testdata/sf0.001", "/root/testdata/sf0.01")
    if os.path.isdir(d)
]

# (table, column, constant) for every literal the TPC-H wave pins.
PINNED = [
    ("customer", "c_mktsegment", entry_mod.Q3_SEGMENT),
    ("nation", "n_name", entry_mod.Q7_NATION_A),
    ("nation", "n_name", entry_mod.Q7_NATION_B),
    ("nation", "n_name", entry_mod.Q8_NATION),
    ("nation", "n_name", entry_mod.Q11_NATION),
    ("region", "r_name", entry_mod.Q8_REGION),
    ("part", "p_type", entry_mod.Q8_TYPE),
    ("part", "p_type", entry_mod.Q2_TYPE),
    ("part", "p_brand", entry_mod.Q17_BRAND),
    *[("part", "p_brand", b[0]) for b in entry_mod.Q19_BRANCHES],
]


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_pinned_constants_exist_in_fixtures(sf_dir: str) -> None:
    con = duckdb.connect()
    for table, column, value in PINNED:
        path = os.path.join(sf_dir, f"{table}.parquet")
        n = con.execute(
            f"SELECT COUNT(*) FROM read_parquet(?) WHERE {column} = ?",
            [path, value],
        ).fetchone()[0]
        assert n > 0, (
            f"{sf_dir}/{table}.{column} has no rows equal to {value!r}; "
            "a fixture regeneration broke a q241-q255 pinned constant"
        )


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_q9_name_token_matches_parts(sf_dir: str) -> None:
    con = duckdb.connect()
    path = os.path.join(sf_dir, "part.parquet")
    n = con.execute(
        "SELECT COUNT(*) FROM read_parquet(?) WHERE p_name LIKE ?",
        [path, f"%{entry_mod.Q9_TOKEN}%"],
    ).fetchone()[0]
    assert n > 0, f"no part name contains {entry_mod.Q9_TOKEN!r} in {sf_dir}"


# Row-level DISTINCT texts of the manifest fixtures, kept as the reference
# for the key-first derivation in fixtures.FIXTURE_SQL: DISTINCT over the
# seven output columns of every lineitem row.
_ROW_LEVEL_REFERENCE = {
    "manifest_entries": """
SELECT DISTINCT
  'backup-' || CAST(l_suppkey % 4 AS STRING) AS backup_name,
  1600000000000 + (l_suppkey % 4) * 86400000 AS backup_ts,
  CASE
    WHEN l_partkey % 31 = 0 THEN 'system'
    WHEN l_partkey % 31 = 1 THEN 'system_schema'
    WHEN l_partkey % 31 = 2 THEN 'system_auth'
    ELSE 'ks' || CAST(l_partkey % 3 AS STRING)
  END AS keyspace,
  't' || CAST(l_partkey % 7 AS STRING) AS table_name,
  'obj-' || CAST(l_partkey AS STRING) || '-' || CAST(l_orderkey % 10 AS STRING) AS object_key,
  (l_partkey % 997) * 100 + (l_orderkey % 10) + 13 AS size,
  md5('obj-' || CAST(l_partkey AS STRING) || '-' || CAST(l_orderkey % 10 AS STRING)) AS hash
FROM lineitem
""",
    "fleet_manifest_entries": """
SELECT DISTINCT
  'cluster1' AS cluster,
  'dc' || CAST(l_suppkey % 2 AS STRING) AS dc,
  'node-' || CAST(l_suppkey % 6 AS STRING) AS node,
  'backup-' || CAST(l_orderkey % 3 AS STRING) AS backup_name,
  1600000000000 + (l_orderkey % 3) * 86400000 + (l_suppkey % 6) * 1000 AS backup_ts,
  'obj-' || CAST(l_partkey AS STRING) || '-' || CAST(l_orderkey % 10 AS STRING) AS object_key,
  (l_partkey % 997) * 100 + (l_orderkey % 10) + 13 AS size
FROM lineitem
""",
}

# The inventory size of each manifest fixture, so a fixture edit cannot
# quietly change what every esop command reads.
_FIXTURE_ROWS = {
    ("sf0.001", "manifest_entries"): 4181,
    ("sf0.01", "manifest_entries"): 42327,
    ("sf0.001", "fleet_manifest_entries"): 5485,
    ("sf0.01", "fleet_manifest_entries"): 55406,
}


@pytest.mark.parametrize("sf_dir", SF_DIRS)
@pytest.mark.parametrize("name", sorted(_ROW_LEVEL_REFERENCE))
def test_key_first_fixture_matches_row_level_distinct(sf_dir: str, name: str) -> None:
    from esop_spark.sources.fixtures import FIXTURE_SQL

    con = duckdb.connect()
    path = os.path.join(sf_dir, "lineitem.parquet")
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{path}')")
    new, ref = FIXTURE_SQL[name], _ROW_LEVEL_REFERENCE[name]
    for a, b in ((new, ref), (ref, new)):
        diff = con.execute(
            f"SELECT COUNT(*) FROM (({a}) EXCEPT ALL ({b})) d"
        ).fetchone()[0]
        assert diff == 0, f"{name} at {sf_dir}: {diff} rows differ"
    n = con.execute(f"SELECT COUNT(*) FROM ({new}) t").fetchone()[0]
    assert n == _FIXTURE_ROWS[(os.path.basename(sf_dir), name)]
