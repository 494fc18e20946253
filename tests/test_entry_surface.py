"""The driver surface: ``queries()`` is derived from the module's
``qNNN_<name>`` functions, so it must list every one of them, in
query-number order, and agree with the oracle map."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entry_mod

# binary-codec queries DuckDB cannot run: tools/check_oracle.py compares
# them with a committed golden instead of an oracle_sql() entry
GOLDEN_ONLY = {"q93_image_neardup", "q184_audio_neardup"}


def test_queries_are_every_numbered_function_in_order():
    qs = entry_mod.queries()
    assert len(qs) == 305
    numbers = [int(name[1:].split("_")[0]) for name in qs]
    assert numbers == sorted(numbers)
    assert len(set(numbers)) == 305
    assert all(fn.__name__ == name for name, fn in qs.items())
    assert set(qs) == set(entry_mod.oracle_sql()) | GOLDEN_ONLY
