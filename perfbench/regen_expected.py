"""Regenerate ``perfbench/expected.json``: the DuckDB oracle result of every
benchmark query on the benchmark's input tables, as column names, row
count and :func:`metrics.canonical_digest` of the rows after
``tools/check_oracle.normalize``.

The benchmark compares each Spark result against these entries, so a run
never pays for DuckDB itself. Rerun this only when the inputs, the query
lists or the oracle SQL change:

    python3 perfbench/regen_expected.py
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from metrics import canonical_digest  # noqa: E402
from run import DATA_DIR, EXPECTED_PATH, TABLES, WORKLOADS  # noqa: E402
from tools.check_oracle import normalize  # noqa: E402


def main() -> int:
    sf_dir = os.path.join(ROOT, DATA_DIR)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    oracles = entry_mod.oracle_sql()
    out = {}
    for names in WORKLOADS.values():
        for name in names:
            t0 = time.perf_counter()
            res = con.execute(oracles[name])
            cols = [d[0] for d in res.description]
            rows = normalize(res.fetchall(), cols)
            out[name] = {
                "cols": sorted(cols),
                "rows": len(rows),
                "sha256": canonical_digest(rows),
            }
            print(f"{name}: {len(rows)} rows, {time.perf_counter() - t0:.1f} s",
                  file=sys.stderr)
    with open(os.path.join(ROOT, EXPECTED_PATH), "w") as fh:
        json.dump({"data": DATA_DIR, "queries": out}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
