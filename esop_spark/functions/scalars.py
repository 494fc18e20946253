"""Scalar parsing functions (SURVEY.md §2.8) as pure Column expressions.

Everything here is JVM-side (``regexp_extract`` / string functions) — no
Python UDFs — so parsing runs inside whole-stage codegen at scan speed.

Semantics (with reference citations for parity checking):
- F2 manifest-name parse: ``<snapshot>-<schemaVersion>-<timestampMillis>``;
  the timestamp is the substring after the LAST ``-``
  (/root/reference/core/src/main/java/com/instaclustr/esop/impl/Manifest.java:163-184).
- F3 SSTable-name parse: C* 2.0–5.0 component-name styles
  (/root/reference/core/src/main/java/com/instaclustr/esop/impl/SSTableUtils.java:35-45).
- F7 storage-location parse: ``protocol://bucket/cluster/dc/node``
  (/root/reference/core/src/main/java/com/instaclustr/esop/impl/StorageLocation.java:23-98).
- F16 secondary-index key test: 6 path components, component 3 starts with
  ``.`` (SSTableUtils.java:183-187).
- F17 table-dir parse ``<table>-<32-hex-id>`` (Snapshots.java:524,554-565).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# F3: accepts e.g. instaclustr-recovery_codes-jb-1-Data.db, lb-1-big-Data.db,
# mc-1-big-Data.db, da-3gy0_111j_2u8ka1z4k2vcw67ubc-bti-Data.db, da-1-bti-Data.db
SSTABLE_RE = (
    r"((?:[a-zA-Z0-9][a-zA-Z0-9_-]+[a-zA-Z0-9][a-zA-Z0-9_-]+-)?"
    r"[a-z]{2}-([a-zA-Z0-9_]+)(?:-(big|bti))?)-.*"
)

TABLE_DIR_RE = r"(.*)-([0-9a-f]{32})"

STORAGE_LOCATION_RE = r"(\w+):\/\/([^\/]+)\/([^\/]+)\/([^\/]+)\/([^\/]+)\/?"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# --- F2: manifest name ------------------------------------------------------

def manifest_name_timestamp(col: Column | str) -> Column:
    """Trailing ``-<millis>`` of a manifest/backup name as bigint."""
    return F.substring_index(_c(col), "-", -1).cast("bigint")


def manifest_name_schema_version(col: Column | str) -> Column:
    """Second-to-last ``-`` segment (the schema version)."""
    no_ts = F.substring_index(_c(col), "-", -2)
    return F.substring_index(no_ts, "-", 1)


def manifest_name_snapshot(col: Column | str) -> Column:
    """Everything before the last two ``-`` segments."""
    return F.regexp_replace(_c(col), r"-[^-]+-[^-]+$", "")


# --- F3/F4: sstable components ---------------------------------------------

def sstable_base(filename: Column | str) -> Column:
    return F.regexp_extract(_c(filename), SSTABLE_RE, 1)


def sstable_generation(filename: Column | str) -> Column:
    return F.regexp_extract(_c(filename), SSTABLE_RE, 2)


# F4 digest parity (SSTableUtils.java:42,54-64): a ``-Digest.{crc32,adler32,
# sha1}`` sibling is consulted in that order; its first alphanumeric run is
# the digest — but only when the whole content full-matches Java's
# ``^([a-zA-Z0-9]+).*`` (dot excludes line terminators, so content with any
# newline fails matches() and falls through to the next digest type).
DIGEST_SIBLING_RE = r".*-Digest\.(crc32|adler32|sha1)$"
ADLER32_TAIL_BYTES = 10 * 1024 * 1024  # SSTableUtils.java:80


def digest_file_type(filename: Column | str) -> Column:
    """``crc32``/``adler32``/``sha1`` for a digest sibling, else ''."""
    return F.regexp_extract(_c(filename), DIGEST_SIBLING_RE, 1)


def digest_file_token(binary_col: Column | str) -> Column:
    """First alnum token of a digest file's content, null when the content
    would fail the reference's full-string matcher (embedded newline /
    non-alnum start — SSTableUtils.java:45,60-63). ``\\z`` forces true
    end-of-input (rlike '$' would accept a trailing newline Java matches()
    rejects)."""
    s = _c(binary_col).cast("string")
    valid = s.rlike(r"^[a-zA-Z0-9][^\n\r]*\z")
    return F.when(valid, F.regexp_extract(s, r"^([a-zA-Z0-9]+)", 1))


def adler32_tail(binary_col: Column | str, size: Column | str) -> Column:
    """Adler32 (decimal string) over the last 10 MB of a file's content —
    the reference's digest-less fallback (SSTableUtils.java:76-102, C* 2.0
    ``jb`` sstables ship no digest sibling).

    The tail slice is taken JVM-side so at most 10 MB per row crosses into
    the Arrow batch; the checksum itself is a vectorized pandas UDF (no JVM
    Adler32 builtin exists). Null input → null (lets callers gate the UDF
    with ``when()`` so non-Data.db rows pay nothing)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _adler(tails: pd.Series) -> pd.Series:
        import zlib

        return tails.map(
            lambda b: None if b is None else str(zlib.adler32(bytes(b)) & 0xFFFFFFFF)
        )

    c = _c(binary_col)
    n = _c(size)
    tail = F.when(
        n >= ADLER32_TAIL_BYTES,
        F.substring(c, -ADLER32_TAIL_BYTES, ADLER32_TAIL_BYTES),
    ).otherwise(c)
    return _adler(tail)


# --- F5: content hashes -----------------------------------------------------

def content_hash(binary_col: Column | str, algorithm: str = "sha256") -> Column:
    """U1/F5 hash plug-in surface: SHA-256 (default) / CRC32 / NONE
    (/root/reference/core/src/main/java/com/instaclustr/esop/impl/hash/HashSpec.java)."""
    c = _c(binary_col)
    if algorithm == "sha256":
        return F.lower(F.sha2(c, 256))
    if algorithm == "crc32":
        return F.crc32(c).cast("string")
    if algorithm == "none":
        return F.lit(None).cast("string")
    raise ValueError(f"unsupported hash algorithm: {algorithm}")


# --- F7: storage location ---------------------------------------------------

def storage_location_parts(col: Column | str) -> Column:
    """Struct (protocol, bucket, cluster, dc, node) from a location URI."""
    c = _c(col)
    return F.struct(
        F.regexp_extract(c, STORAGE_LOCATION_RE, 1).alias("protocol"),
        F.regexp_extract(c, STORAGE_LOCATION_RE, 2).alias("bucket"),
        F.regexp_extract(c, STORAGE_LOCATION_RE, 3).alias("cluster"),
        F.regexp_extract(c, STORAGE_LOCATION_RE, 4).alias("dc"),
        F.regexp_extract(c, STORAGE_LOCATION_RE, 5).alias("node"),
    )


# --- F16/F17: path predicates ----------------------------------------------

def is_secondary_index_key(col: Column | str) -> Column:
    """6 path components and the 4th (0-based index 3) starts with ``.``."""
    parts = F.split(_c(col), "/")
    return (F.size(parts) == 6) & F.element_at(parts, 4).startswith(".")


def table_dir_name(col: Column | str) -> Column:
    return F.regexp_extract(_c(col), TABLE_DIR_RE, 1)


def table_dir_id(col: Column | str) -> Column:
    return F.regexp_extract(_c(col), TABLE_DIR_RE, 2)
