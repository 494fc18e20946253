"""Streaming throughput bench: drain an availableNow replay of a parquet
table through each compacted candidate stream (the four LSH families and
containment) and report wall time, input rows, candidate rows and rows/s
— the streaming analogue of tools/rehearse.py.

The number that matters at 100 TB is sustained rows/s through the
compacted state: state per key is bounded (member ids up to the hot cap,
a single anchor after), so throughput should hold as the corpus grows —
measured here at two SFs. ``--batches=N`` splits the source into N files
and drains them as N micro-batches, printing per-batch durations.

Usage:
  python tools/stream_bench.py SF_DIR [SF_DIR ...] [--batches=N] [--only=a,b]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _pinned_shuffle_partitions
from esop_spark.session import get_spark
from esop_spark.streaming.dedup_stream import (
    embedding_compacted_query,
    lsh_compacted_query,
    simhash_compacted_query,
    weighted_lsh_compacted_query,
)
from esop_spark.streaming.containment_stream import containment_compacted_query

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
EMB_SCHEMA = "vec_id long, embedding array<float>, label int"

# each query owns its sink (pairs_dir) and state (state_dir); a drain
# counts the written pair rows
COMPACTED = [
    ("lsh_compacted_query", "documents", DOC_SCHEMA, lsh_compacted_query),
    ("weighted_lsh_compacted_query", "documents", DOC_SCHEMA,
     weighted_lsh_compacted_query),
    ("simhash_compacted_query", "documents", DOC_SCHEMA,
     simhash_compacted_query),
    ("embedding_compacted_query", "embeddings", EMB_SCHEMA,
     embedding_compacted_query),
    ("containment_compacted_query", "documents", DOC_SCHEMA,
     containment_compacted_query),
]


def _sf_tag(sf_dir: str) -> str:
    # deterministic across processes (str hash() is PYTHONHASHSEED-salted),
    # so staging/run dirs could be reused across invocations if ckpt_root
    # ever stops being a fresh temp dir
    return hashlib.md5(sf_dir.encode()).hexdigest()[:8]


def _sf_of(sf_dir: str) -> float:
    tail = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        return float(tail)
    except ValueError:
        return -1.0


def _stage_source(sf_dir: str, table: str, ckpt_root: str) -> str:
    """Directory to readStream ``table`` from: readStream sources must be
    directories, so the single-file testdata layout is staged behind a
    symlink dir (sf10 tables are already dirs)."""
    src = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isfile(src):
        stage = os.path.join(ckpt_root, f"src-{table}-{_sf_tag(sf_dir)}")
        os.makedirs(stage, exist_ok=True)
        link = os.path.join(stage, "part-0.parquet")
        if not os.path.exists(link):
            os.symlink(src, link)
        src = stage
    return src


def drain_compacted(spark, sf_dir, name, table, schema, query, ckpt_root):
    src = _stage_source(sf_dir, table, ckpt_root)
    n_in = spark.read.parquet(src).count()
    run = os.path.join(ckpt_root, f"{name}-{_sf_tag(sf_dir)}")
    pairs, state, ckpt = (os.path.join(run, d) for d in ("pairs", "state", "ckpt"))
    stream = spark.readStream.schema(schema).parquet(src)
    t0 = time.perf_counter()
    q = query(stream, pairs, state, ckpt)
    q.awaitTermination()
    wall = time.perf_counter() - t0
    n_out = spark.read.parquet(pairs).count()
    return n_in, n_out, round(wall, 2), round(n_in / wall)


def _stage_split(spark, sf_dir: str, table: str, ckpt_root: str, n: int) -> str:
    """Rewrite the source table as exactly ``n`` parquet files so
    maxFilesPerTrigger=1 turns an availableNow drain into ``n``
    micro-batches — the continuous-pipeline incremental regime."""
    stage = os.path.join(ckpt_root, f"split{n}-{table}-{_sf_tag(sf_dir)}")
    if not os.path.isdir(stage):
        spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet")) \
            .repartition(n).write.parquet(stage)
    return stage


def drain_compacted_multi(
    spark, sf_dir, name, table, schema, query, ckpt_root, n_batches
):
    """Many-batch incremental drain: per-batch trigger durations from the
    streaming progress log, the number that exposes whether state
    maintenance cost grows with total accumulated state."""
    src = _stage_split(spark, sf_dir, table, ckpt_root, n_batches)
    n_in = spark.read.parquet(src).count()
    run = os.path.join(ckpt_root, f"{name}-b{n_batches}-{_sf_tag(sf_dir)}")
    pairs, state, ckpt = (os.path.join(run, d) for d in ("pairs", "state", "ckpt"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    t0 = time.perf_counter()
    q = query(stream, pairs, state, ckpt)
    q.awaitTermination()
    wall = time.perf_counter() - t0
    per_batch = [
        (p["batchId"], p["numInputRows"],
         round(p["durationMs"]["triggerExecution"] / 1000.0, 2))
        for p in q.recentProgress
        if p["numInputRows"] > 0 or p["batchId"] == 0
    ]
    n_out = spark.read.parquet(pairs).count()
    return n_in, n_out, round(wall, 2), per_batch


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    flags = {a for a in sys.argv[1:] if a.startswith("--")}
    batches = 0
    only = set()
    for f in list(flags):
        if f.startswith("--batches="):
            batches = int(f.split("=", 1)[1])
            flags.discard(f)
        elif f.startswith("--only="):
            only = set(f.split("=", 1)[1].split(","))
            flags.discard(f)
    if flags:
        sys.exit(f"unknown flag(s): {sorted(flags)} (valid: "
                 f"--batches=N, --only=a,b)")
    sf_dirs = args or ["/root/testdata/sf0.1"]
    spark = get_spark("stream-bench")
    import tempfile

    ckpt_root = tempfile.mkdtemp(prefix="stream-bench-")
    if batches:
        # incremental regime: per-batch timings
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
                       str(max(2 * batches, 100)))
        print("| stream | sf_dir | batches | input rows | candidate rows "
              "| wall (s) | per-batch (s) |")
        print("|---|---|---|---|---|---|---|")
        for sf_dir in sf_dirs:
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(_pinned_shuffle_partitions(_sf_of(sf_dir))),
            )
            for name, table, schema, query in COMPACTED:
                if only and name not in only:
                    continue
                n_in, n_out, wall, per_batch = drain_compacted_multi(
                    spark, sf_dir, name, table, schema, query, ckpt_root,
                    batches,
                )
                series = " ".join(str(s) for _, _, s in per_batch)
                print(f"| {name} | {sf_dir} | {len(per_batch)} | {n_in} "
                      f"| {n_out} | {wall} | {series} |", flush=True)
        return
    print("| stream | sf_dir | input rows | candidate rows | wall (s) | rows/s |")
    print("|---|---|---|---|---|---|")
    for sf_dir in sf_dirs:
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(_pinned_shuffle_partitions(_sf_of(sf_dir))),
        )
        for name, table, schema, query in COMPACTED:
            if only and name not in only:
                continue
            n_in, n_out, wall, rate = drain_compacted(
                spark, sf_dir, name, table, schema, query, ckpt_root
            )
            print(
                f"| {name} | {sf_dir} | {n_in} | {n_out} | {wall} | {rate} |",
                flush=True,
            )


if __name__ == "__main__":
    main()
