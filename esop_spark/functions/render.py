"""Output rendering: human-readable byte counts, timestamps, aligned tables.

These are the reference's golden-tested output functions (SURVEY.md §2.8
F1/F11/F18) — driver-side formatting of collected report rows, byte-exact:

- F1 ``human_bytes``: SI units, 1 decimal, kMGTPE ladder with the ±999,950
  threshold (/root/reference/core/src/main/java/com/instaclustr/esop/impl/Manifest.java:609-619).
- F11 timestamp render: epoch millis → ISO local-date-time string the way
  ``java.time.LocalDateTime.toString()`` prints it (Manifest.java:690).
- F18 ``render_table``: column-aligned, left-justified, space-delimited table
  (/root/reference/core/src/main/java/com/instaclustr/esop/impl/TableBuilder.java:47-158).
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import Column
from pyspark.sql import functions as F


def human_bytes(n: int) -> str:
    """F1: humanReadableByteCountSI — byte-exact port of the reference
    semantics (Java integer division ladder, %.1f rendering)."""
    b = int(n)
    if -1000 < b < 1000:
        return f"{b} B"
    units = "kMGTPE"
    i = 0
    while b <= -999_950 or b >= 999_950:
        # Java long division truncates toward zero (stay exact past 2^53)
        b = b // 1000 if b >= 0 else -((-b) // 1000)
        i += 1
    return f"{b / 1000.0:.1f} {units[i]}B"


def human_bytes_col(col: Column | str) -> Column:
    """Column-expression variant of F1 for distributed rendering.

    Iterated trunc-toward-zero division by 1000 equals one trunc division by
    1000^k, so the ladder unrolls into a when-chain picking the first k with
    ``|c div 1000^k| < 999950``. The trunc division is computed as
    ``round((c - c % 1000^k) / 1000^k)``: the numerator is an exact multiple,
    and whenever the double division could lose precision (|c| > 2^53) the
    quotient is small enough that rounding recovers it exactly.
    """
    c = (F.col(col) if isinstance(col, str) else col).cast("bigint")
    out = F.when(
        (c > -1000) & (c < 1000), F.concat(c.cast("string"), F.lit(" B"))
    )
    for k, unit in enumerate("kMGTPE"):
        if k == 0:
            bk = c
        else:
            d = F.lit(1000 ** k).cast("bigint")
            bk = F.round((c - c % d) / d).cast("bigint")
        out = out.when(
            F.abs(bk) < 999_950,
            F.format_string(f"%.1f {unit}B", bk.cast("double") / 1000.0),
        )
    return out


def render_timestamp(ms: int) -> str:
    """F11: epoch millis → LocalDateTime.toString() shape, e.g.
    ``2021-04-27T15:38:40.284`` (no trailing ``.000``; ``:ss`` dropped only
    when seconds and nanos are zero, matching java.time)."""
    dt = datetime.fromtimestamp(ms / 1000, tz=timezone.utc)
    base = dt.strftime("%Y-%m-%dT%H:%M")
    millis = ms % 1000
    if dt.second or millis:
        base += f":{dt.second:02d}"
        if millis:
            base += f".{millis:03d}"
    return base


def render_table(rows: list[list[str]]) -> str:
    """F18: nodetool-style aligned table — each column padded to its max cell
    width, left-justified, single-space delimited, trailing newline per row."""
    if not rows:
        return ""
    widths = [0] * max(len(r) for r in rows)
    for r in rows:
        for i, cell in enumerate(r):
            widths[i] = max(widths[i], len(str(cell)))
    lines = []
    for r in rows:
        line = " ".join(str(c).ljust(widths[i]) for i, c in enumerate(r))
        lines.append(line.rstrip() + "\n")
    return "".join(lines)
