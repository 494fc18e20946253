"""Version-dir state primitives shared by the compacted foreachBatch
streams (``dedup_stream``'s base+delta LSH bucket table and
``containment_stream``'s rotating fact tables).

A state table lives under ``root/v=<batch_id>`` directories, each written
with ``mode("overwrite")`` by the micro-batch of that id, so a
crash-replayed batch rewrites its own version in place. Readers tag every
row with its version as ``_v``; the layouts above decide which versions
are visible and how to merge them. All I/O goes through the Hadoop
FileSystem API, so the same code runs on file:/, hdfs:/ or s3a:/ state
dirs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EMPTY_IDS = "CAST(array() AS array<bigint>)"


def hadoop_fs(spark, path: str):
    """(FileSystem, Path) for ``path`` under the session's Hadoop config."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def state_versions(spark, root: str) -> list[int]:
    """Sorted version numbers of the ``root/v=<n>`` directories."""
    fs, path = hadoop_fs(spark, root)
    if not fs.exists(path):
        return []
    out = []
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if name.startswith("v=") and name[2:].isdigit():
            out.append(int(name[2:]))
    return sorted(out)


def delete_version(spark, root: str, v: int) -> None:
    fs, _ = hadoop_fs(spark, root)
    fs.delete(spark._jvm.org.apache.hadoop.fs.Path(f"{root}/v={v}"), True)


def read_versioned(spark, root: str, versions: list[int], schema: str):
    """Union of ``root/v=<v>`` reads, each tagged with its version as
    ``_v`` — the raw material for a latest-per-key merge."""
    if not versions:
        # a reader over no files: an empty relation with no partitions.
        # ``createDataFrame([], schema)`` would instead add one Python
        # task per default partition to every action that reads it
        # (measured ~2 s per action on 4 cores)
        return spark.read.schema(schema).parquet().withColumn(
            "_v", F.lit(0).cast("long")
        )
    dfs = [
        spark.read.schema(schema).parquet(f"{root}/v={v}").withColumn(
            "_v", F.lit(v).cast("long")
        )
        for v in versions
    ]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def latest_per_key(hist: DataFrame, keys: list[str]) -> DataFrame:
    """Resolve a versioned history to current state: for each key, the
    payload of the row with the largest ``_v``. One hash aggregate."""
    payload = [c for c in hist.columns if c not in keys and c != "_v"]
    agg = hist.groupBy(*keys).agg(
        F.max_by(F.struct(*payload), F.col("_v")).alias("_s")
    )
    return agg.select(*keys, *[F.col(f"_s.{c}").alias(c) for c in payload])


def start_foreach_batch(
    stream: DataFrame, fn, checkpoint_dir: str,
    processing_time: str | None = None,
):
    """Start ``fn`` as the foreachBatch sink of ``stream``. Default trigger
    availableNow; pass ``processing_time`` for a continuous micro-batch
    cadence. Returns the started
    :class:`~pyspark.sql.streaming.StreamingQuery`."""
    writer = (
        stream.writeStream.foreachBatch(fn)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
    )
    if processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()
