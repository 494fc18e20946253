"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at the given SF, compare row count,
column names, and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import json
import math
import os
import sys

import duckdb

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entry_mod
from esop_spark.operators.dedup import release_shared_relations
from esop_spark.session import get_spark


def normalize(rows: list[tuple], cols: list[str]) -> list[tuple]:
    """Sort columns by name, round floats, sort rows — order-insensitive."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm_val(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return round(v, 6)
        return v

    out = [tuple(norm_val(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # console_progress=False: progress bars write \r to stdout and merge
    # with result lines (full sweeps lost ~10 OK lines per round to
    # mid-bar prints); the sweep log must stay one plain line per query.
    spark = get_spark("oracle-check", console_progress=False)
    con = duckdb.connect()
    for name in entry_mod.queries():  # register base views for duckdb
        pass
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            # release per-query shared relations AND registered one-shot
            # checkpoints, then purge any remaining persistent RDD blocks
            # (disowned final rounds of iterative loops) — mirrors
            # bench.py's reset so a 300-query sweep doesn't accumulate
            # pinned blocks until JVM GC.
            release_shared_relations()
            jmap = spark.sparkContext._jsc.getPersistentRDDs()
            for rid in list(jmap.keySet().toArray()):
                if jmap.containsKey(rid):
                    jmap.get(rid).unpersist(False)
            sdf = fn(get_spark("oracle-check"), sf_dir)
            spark_cols = sdf.columns
            spark_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            # binary-codec queries DuckDB can't run: value-compare against a
            # committed golden (deterministic stand-in codecs — see
            # tools/make_golden.py) when one exists for this SF dir
            gp = os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "golden",
                os.path.basename(sf_dir.rstrip("/")),
                f"{name}.json",
            )
            if os.path.exists(gp):
                with open(gp) as fh:
                    gold = json.load(fh)
                if sorted(spark_cols) != gold["cols"]:
                    print(
                        f"FAIL {name}: columns differ spark={sorted(spark_cols)}"
                        f" golden={gold['cols']}"
                    )
                    failures += 1
                    continue
                ns = normalize(spark_rows, spark_cols)
                ng = [tuple(r) for r in gold["rows"]]
                if len(ns) != len(ng) or ns != ng:
                    bad = next(
                        (i for i, (a, b) in enumerate(zip(ns, ng)) if a != b),
                        min(len(ns), len(ng)),
                    )
                    print(
                        f"FAIL {name}: golden mismatch at sorted-row {bad}"
                        f" (spark {len(ns)} rows, golden {len(ng)})"
                    )
                    failures += 1
                    continue
                print(f"OK   {name}: {len(ns)} rows match golden")
                continue
            print(f"OK?  {name}: rows-only check, {len(spark_rows)} rows (no oracle)")
            continue
        try:
            res = con.execute(oracles[name])
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        if sorted(spark_cols) != sorted(duck_cols):
            print(f"FAIL {name}: columns differ spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
            failures += 1
            continue
        if len(spark_rows) != len(duck_rows):
            print(f"FAIL {name}: rowcount spark={len(spark_rows)} duck={len(duck_rows)}")
            failures += 1
            continue
        ns, nd = normalize(spark_rows, spark_cols), normalize(duck_rows, duck_cols)
        if ns != nd:
            bad = next(i for i, (a, b) in enumerate(zip(ns, nd)) if a != b)
            print(f"FAIL {name}: values differ at sorted-row {bad}:")
            print(f"  spark: {ns[bad]}")
            print(f"  duck : {nd[bad]}")
            failures += 1
            continue
        print(f"OK   {name}: {len(spark_rows)} rows match")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
