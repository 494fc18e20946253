"""Base-table registration: every table is read with its parquet footer's
schema, which must be the schema Spark's inference finds, so no plan and no
row changes for reading it without an inference job."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampType

from esop_spark.sources import fixtures

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA_DIRS = [
    d
    for d in (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
        os.path.join(ROOT, "perfbench/data/sf0.01"),
    )
    if os.path.isdir(d)
]
SMALL_DIR = "/root/testdata/sf0.001"


def _inferred(session, path):
    """The table as Spark reads it with schema inference, with the
    ``events.ts`` conversion ``load_base_tables`` applies on top."""
    session.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = session.read.parquet(path)
    if os.path.basename(path) != "events.parquet":
        return df
    if df.schema["ts"].dataType == LongType():
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


@pytest.mark.parametrize("sf_dir", DATA_DIRS)
def test_view_schema_is_the_inferred_schema(spark, sf_dir):
    session = spark.newSession()
    fixtures.load_base_tables(session, sf_dir)
    for name in fixtures.BASE_TABLES:
        path = f"{sf_dir}/{name}.parquet"
        want = _inferred(session, path).schema
        assert session.table(name).schema == want, name
    assert session.table("events").schema["ts"].dataType == TimestampType()


def _sf_dir_with(tmp_path, name, write):
    """An sf_dir linking every base table of SMALL_DIR except ``name``,
    which ``write(path)`` writes in its place."""
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    for t in fixtures.BASE_TABLES:
        if t != name:
            os.symlink(f"{SMALL_DIR}/{t}.parquet", sf_dir / f"{t}.parquet")
    write(str(sf_dir / f"{name}.parquet"))
    return str(sf_dir)


def _same_table(session, name, path):
    got = session.table(name)
    want = _inferred(session, path)
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())
    return got


def test_parquet_directory_of_two_parts(spark, tmp_path):
    table = pq.read_table(f"{SMALL_DIR}/orders.parquet")
    half = table.num_rows // 2

    def write(path):
        os.mkdir(path)
        pq.write_table(table.slice(0, half), os.path.join(path, "part-0.parquet"))
        pq.write_table(table.slice(half), os.path.join(path, "part-1.parquet"))

    sf_dir = _sf_dir_with(tmp_path, "orders", write)
    session = spark.newSession()
    fixtures.load_base_tables(session, sf_dir)
    got = _same_table(session, "orders", f"{sf_dir}/orders.parquet")
    assert got.count() == table.num_rows


def test_events_with_nanosecond_ts(spark, tmp_path):
    table = pq.read_table(f"{SMALL_DIR}/events.parquet")
    i = table.schema.get_field_index("ts")
    ns = table.set_column(i, "ts", table.column("ts").cast(pa.timestamp("ns")))

    def write(path):
        pq.write_table(ns, path, coerce_timestamps=None, version="2.6")

    sf_dir = _sf_dir_with(tmp_path, "events", write)
    assert str(pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type) == "timestamp[ns]"
    session = spark.newSession()
    fixtures.load_base_tables(session, sf_dir)
    got = _same_table(session, "events", f"{sf_dir}/events.parquet")
    # the same instants as the microsecond file
    micros = spark.newSession()
    fixtures.load_base_tables(micros, SMALL_DIR)
    assert sorted(got.collect()) == sorted(micros.table("events").collect())
