"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are carried as ``binary`` columns with typed
metadata columns alongside; decode / feature-extraction runs as Arrow-batched
``mapInPandas`` (one of the two places Python touches the data, with
``graph.connected_components``' local union-find; amortized per batch, never
per row).

Decode comes in two layers:
- ``decode_media``: the general codec seam. Third-party codec libraries
  (PIL/ffmpeg/...) are NOT available in this container, so with
  ``fake=False`` it raises ``NotImplementedError``; ``fake=True`` runs a
  deterministic byte-derived stand-in. The Spark-side plumbing — schema,
  batch iteration, partitioning — is real and tested either way.
- ``encode_containers`` / ``decode_containers``: a REAL, dependency-free
  codec path for self-describing containers (24-bit BMP, PCM WAV): payloads
  are genuine spec-conformant files and the decoder parses their headers
  (RIFF chunk walk / BITMAPINFOHEADER offsets) inside the Arrow batch.
  WAV output round-trips against the stdlib ``wave`` module in tests.

Scale notes: binary payloads should be size-bucketed before ``mapInPandas``
(`spark.sql.files.maxPartitionBytes` governs scan-side splits; use
``repartitionByRange(n_bytes)`` if payload sizes are skewed) so Arrow batches
stay within executor memory.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from esop_spark.operators.iterate import share_relation

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),
        StructField("payload", BinaryType()),
        StructField("n_bytes", LongType()),
    ]
)

DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("checksum", LongType()),
    ]
)


def media_from_documents(documents: DataFrame) -> DataFrame:
    """Synthesize a media table (binary payload + metadata) from documents —
    stands in for an image/audio ingest until a real binary source exists."""
    payload = F.encode(F.col("text"), "UTF-8")
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("image")).otherwise(F.lit("audio")).alias("media_type"),
        payload.alias("payload"),
        F.octet_length(F.col("text")).cast("bigint").alias("n_bytes"),
    )


def _fake_decode(payload: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for a real image decode: metadata derived from
    byte content only (so the DuckDB oracle can mirror it)."""
    n = len(payload)
    width = n % 317
    height = n // 317
    checksum = sum(payload[:64]) if n else 0
    return width, height, checksum


def decode_media(media: DataFrame, fake: bool = True) -> DataFrame:
    """Decode/feature-extract binary payloads via Arrow-batched mapInPandas.

    With ``fake=False`` this is where PIL/librosa/ffmpeg decode would run —
    unavailable in this environment, so it raises ``NotImplementedError``
    (clearly-marked stub; the distributed plumbing around it is real).
    """
    if not fake:
        raise NotImplementedError(
            "real media decode requires codec libraries (PIL/ffmpeg) not "
            "present in this environment; use fake=True for the "
            "deterministic stand-in decoder"
        )

    def batches(it: Iterator) -> Iterator:
        for pdf in it:
            decoded = pdf["payload"].map(_fake_decode)
            pdf["width"] = decoded.map(lambda t: t[0])
            pdf["height"] = decoded.map(lambda t: t[1])
            pdf["checksum"] = decoded.map(lambda t: t[2])
            yield pdf[["media_id", "media_type", "n_bytes", "width", "height", "checksum"]]

    return media.mapInPandas(batches, schema=DECODED_SCHEMA)


CONTAINER_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("payload", BinaryType()),
    ]
)

DECODED_CONTAINER_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("container", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("channels", LongType()),
        StructField("sample_rate", LongType()),
        StructField("n_frames", LongType()),
    ]
)


def _bmp_bytes(text: bytes) -> bytes:
    """A real 24-bit BITMAPINFOHEADER BMP whose pixel data is the text bytes
    (tiled); width/height derive from the text length so an oracle can
    predict them without parsing binary."""
    import struct

    n = len(text)
    w = n % 31 + 1
    h = (n // 31) % 31 + 1
    row = w * 3
    pad = (4 - row % 4) % 4
    pix = bytearray()
    src = text or b"\x00"
    for y in range(h):
        for i in range(row):
            pix.append(src[(y * row + i) % len(src)])
        pix += b"\x00" * pad
    size = 14 + 40 + len(pix)
    return (
        b"BM"
        + struct.pack("<IHHI", size, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 2835, 2835, 0, 0)
        + bytes(pix)
    )


def _wav_bytes(text: bytes, media_id: int) -> bytes:
    """A real RIFF/WAVE (PCM s16le) container: one frame per text byte;
    channel count and sample rate derive from the id (oracle-predictable)."""
    import struct

    channels = 1 if media_id % 4 == 1 else 2
    sample_rate = 8000 if media_id % 8 < 4 else 16000
    n_frames = len(text)
    block_align = channels * 2
    src = text or b"\x00"
    data = bytes(
        src[i % len(src)] for i in range(n_frames * block_align)
    )
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, sample_rate * block_align, block_align, 16
    )
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def encode_containers(documents: DataFrame) -> DataFrame:
    """Ingest seam: documents → REAL self-describing media containers
    (BMP for even doc ids, WAV for odd), built in an Arrow-batched
    mapInPandas. This is where a camera/scraper dump would enter the
    pipeline; generating the containers ourselves keeps the decode step
    honest without codec libraries."""

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            ids = pdf["doc_id"]
            texts = pdf["text"].map(lambda s: s.encode("utf-8"))
            payloads = [
                _bmp_bytes(t) if i % 2 == 0 else _wav_bytes(t, int(i))
                for i, t in zip(ids, texts)
            ]
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    return documents.select("doc_id", "text").mapInPandas(
        batches, schema=CONTAINER_SCHEMA
    )


def _parse_container(payload: bytes) -> tuple:
    """REAL header parse — no codec libraries, just the container specs:
    BMP's BITMAPINFOHEADER fixed offsets; WAV by walking RIFF chunks (not
    fixed offsets — encoders may insert LIST chunks)."""
    import struct

    if payload[:2] == b"BM":
        w, h = struct.unpack_from("<ii", payload, 18)
        bpp = struct.unpack_from("<H", payload, 28)[0]
        return ("bmp", w, abs(h), bpp // 8, None, w * abs(h))
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        channels = sample_rate = block_align = None
        n_frames = None
        off = 12
        while off + 8 <= len(payload):
            cid = payload[off : off + 4]
            clen = struct.unpack_from("<I", payload, off + 4)[0]
            if cid == b"fmt ":
                _, channels, sample_rate, _, block_align, _ = struct.unpack_from(
                    "<HHIIHH", payload, off + 8
                )
            elif cid == b"data" and block_align:
                n_frames = clen // block_align
            off += 8 + clen + (clen % 2)  # RIFF chunks are word-aligned
        return ("wav", None, None, channels, sample_rate, n_frames)
    return ("unknown", None, None, None, None, None)


def decode_containers(media: DataFrame) -> DataFrame:
    """Non-fake decode path: parse each payload's self-describing header in
    the Arrow batch → typed metadata. The q47 oracle predicts every output
    column from the documents table alone, so a packing/parsing drift on
    either side breaks the hash match."""

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            parsed = pdf["payload"].map(_parse_container)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "container": parsed.map(lambda t: t[0]),
                    "width": parsed.map(lambda t: t[1]),
                    "height": parsed.map(lambda t: t[2]),
                    "channels": parsed.map(lambda t: t[3]),
                    "sample_rate": parsed.map(lambda t: t[4]),
                    "n_frames": parsed.map(lambda t: t[5]),
                }
            )

    return media.mapInPandas(batches, schema=DECODED_CONTAINER_SCHEMA)


def _bmp_gray_rows(payload: bytes) -> tuple[int, int, list[list[int]]]:
    """Parse a 24-bit BMP into grayscale rows (top-down). Real container
    math: pixel array offset from the file header, 4-byte row padding,
    bottom-up row order, gray = integer mean of BGR."""
    import struct

    if payload[:2] != b"BM":
        raise ValueError("not a BMP")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    w, h = struct.unpack_from("<ii", payload, 18)
    h_abs = abs(h)
    row_bytes = w * 3
    stride = row_bytes + (4 - row_bytes % 4) % 4
    rows = []
    for y in range(h_abs):
        # BMP stores rows bottom-up (positive height)
        src_y = (h_abs - 1 - y) if h > 0 else y
        off = data_off + src_y * stride
        row = payload[off : off + row_bytes]
        rows.append(
            [(row[i] + row[i + 1] + row[i + 2]) // 3 for i in range(0, row_bytes, 3)]
        )
    return w, h_abs, rows


def _dhash64(gray: list[list[int]], w: int, h: int, size: int = 8) -> int:
    """Difference hash: average-pool the grayscale image onto a
    (size+1)×size grid, then one bit per horizontal neighbor comparison —
    the standard near-duplicate perceptual hash (robust to re-encode,
    resize, brightness shifts that break byte hashing)."""
    gw, gh = size + 1, size
    grid = []
    for gy in range(gh):
        y0, y1 = gy * h // gh, max((gy + 1) * h // gh, gy * h // gh + 1)
        grow = []
        for gx in range(gw):
            x0, x1 = gx * w // gw, max((gx + 1) * w // gw, gx * w // gw + 1)
            acc = cnt = 0
            for y in range(y0, min(y1, h)):
                for x in range(x0, min(x1, w)):
                    acc += gray[y][x]
                    cnt += 1
            grow.append(acc // max(cnt, 1))
        grid.append(grow)
    bits = 0
    bit = 0
    for gy in range(gh):
        for gx in range(size):
            if grid[gy][gx] > grid[gy][gx + 1]:
                bits |= 1 << bit
            bit += 1
    # two's-complement signed 64-bit for LongType
    return bits - (1 << 64) if bits >= (1 << 63) else bits


DHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("dhash", LongType()),
    ]
)


def image_dhash(media: DataFrame) -> DataFrame:
    """Perceptual dHash per BMP payload (Arrow-batched mapInPandas —
    binary decode is the one place Python is the right tool; the batch
    shape keeps transfer vectorized). Non-BMP payloads (audio) are
    skipped. Output: (media_id, dhash int64).

    Scale: embarrassingly parallel projection — no shuffle; the hash is
    64 bits per image regardless of resolution, so the downstream dedup
    relation is tiny compared to the media bytes."""

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            ids, hashes = [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                p = bytes(payload)
                if p[:2] != b"BM":
                    continue
                w, h, gray = _bmp_gray_rows(p)
                ids.append(int(mid))
                hashes.append(_dhash64(gray, w, h))
            yield pd.DataFrame({"media_id": ids, "dhash": hashes})

    return media.mapInPandas(batches, schema=DHASH_SCHEMA)


def dhash_neardup_pairs(hashes: DataFrame, max_hamming: int = 4) -> DataFrame:
    """Near-duplicate image pairs by dHash Hamming distance, via pigeonhole
    banding: two 64-bit hashes within Hamming distance h must agree on at
    least one of (h+1) disjoint chunks — candidate generation is an
    equi-join on (chunk_idx, chunk_val), never a cross join (the same
    construction as SimHash text dedup, dedup.simhash_pairs).

    Output: (id_a, id_b, hamming) with id_a < id_b, hamming ≤ max_hamming.
    """
    n_chunks = max_hamming + 1
    chunk_bits = 64 // n_chunks
    chunk_cols = [
        F.struct(
            F.lit(c).alias("chunk_idx"),
            F.call_function(
                "shiftright", F.col("dhash"), F.lit(c * chunk_bits)
            ).bitwiseAND(F.lit((1 << chunk_bits) - 1)).alias("chunk_val"),
        )
        for c in range(n_chunks)
    ]
    # Round 11 (guide §4/§5): hashes sits on the Arrow-batched Python
    # decode; the banding self-join's two legs each re-ran the full
    # decode unpersisted (the before plan carried two complete
    # MapInPandas subtrees). Persist the chunked relation so the corpus
    # crosses the Python boundary once.
    chunks = share_relation(
        hashes.select(
            F.col("media_id"), F.col("dhash"), F.explode(F.array(*chunk_cols)).alias("c")
        ).select(
            "media_id", "dhash",
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.col("c.chunk_val").alias("chunk_val"),
        )
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
            F.col("a.dhash").alias("ha"),
            F.col("b.dhash").alias("hb"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("bigint"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


AUDIO_SIG_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("audio_sig", LongType()),
        StructField("n_frames", LongType()),
    ]
)


def _wav_energy_sig(payload: bytes) -> tuple[int, int] | None:
    """8-segment mean-|amplitude| signature of a PCM s16le WAV: the data
    chunk is split into 8 equal time segments; each segment's mean
    absolute sample value is quantized to 7 bits (>>8, cap 127 — the top
    segment byte must stay below 2^7 so the packed value fits SIGNED
    int64) and packed into an int64 — a chromaprint-lite fingerprint that
    is loudness-shape invariant to small edits."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    off = 12
    data = None
    block_align = 2
    while off + 8 <= len(payload):
        cid = payload[off : off + 4]
        clen = struct.unpack_from("<I", payload, off + 4)[0]
        if cid == b"fmt ":
            _, _, _, _, block_align, _ = struct.unpack_from(
                "<HHIIHH", payload, off + 8
            )
        elif cid == b"data":
            data = payload[off + 8 : off + 8 + clen]
        off += 8 + clen + (clen % 2)
    if not data or len(data) < 2:
        return None
    n_samples = len(data) // 2
    samples = struct.unpack_from(f"<{n_samples}h", data)
    n_frames = n_samples // (block_align // 2)
    sig = 0
    seg = max(1, n_samples // 8)
    for s in range(8):
        chunk = samples[s * seg : (s + 1) * seg] or (0,)
        mean_abs = sum(abs(x) for x in chunk) // len(chunk)
        sig |= (min(127, mean_abs >> 8)) << (8 * s)
    return sig, n_frames


def audio_energy_sig(media: DataFrame) -> DataFrame:
    """Audio fingerprint per WAV payload (Arrow-batched mapInPandas, the
    audio sibling of image_dhash). Non-WAV payloads are skipped. Output:
    (media_id, audio_sig int64, n_frames).

    Scale: zero-shuffle projection; 8 bytes per clip regardless of
    duration, so the downstream dedup relation is tiny."""

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            ids, sigs, frames = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                r = _wav_energy_sig(bytes(payload))
                if r is None:
                    continue
                ids.append(int(mid))
                sigs.append(r[0])
                frames.append(r[1])
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "audio_sig": pd.Series(sigs, dtype="int64"),
                    "n_frames": pd.Series(frames, dtype="int64"),
                }
            )

    return media.mapInPandas(batches, schema=AUDIO_SIG_SCHEMA)


def audio_neardup_pairs(
    sigs: DataFrame, max_l1: int = 32, max_bucket: int = 64
) -> DataFrame:
    """Near-duplicate audio pairs: candidates must agree EXACTLY on at
    least one of the 8 signature bytes at the same position (pigeonhole —
    a pair within total L1 distance d differs on every byte only if every
    byte differs; requiring one exact byte bounds candidates the same way
    dhash banding does), then exact verification sums per-byte |Δ| and
    keeps pairs with L1 ≤ ``max_l1``.

    Same equi-join shape as dhash_neardup_pairs — never a cross join —
    PLUS the q22 hot-bucket guard: loudness bytes are low-entropy (a
    homogeneous corpus puts thousands of clips in one (pos, val) bucket),
    so buckets above ``max_bucket`` fall back to star pairing against the
    bucket's min-id anchor instead of the full self-join."""
    # Round 11 A/B note: persisting sigs (the banding relation + both
    # L1-verify legs re-run the WAV decode) measured SLOWER (2.05 → 2.71 s
    # min-of-5, +1 job) and was reverted — the energy-sig decode is cheap
    # enough that re-running it fused into each consumer's scan beats the
    # materialize+read round trip (contrast q93's dHash, where the same
    # persist won 2.7x: pixel decode + hash is ~10x the per-row work).
    byte_cols = [
        F.struct(
            F.lit(c).alias("pos"),
            F.call_function(
                "shiftright", F.col("audio_sig"), F.lit(8 * c)
            ).bitwiseAND(F.lit(255)).alias("val"),
        )
        for c in range(8)
    ]
    chunks = sigs.select(
        "media_id", "audio_sig", F.explode(F.array(*byte_cols)).alias("c")
    ).select(
        "media_id", "audio_sig",
        F.col("c.pos").alias("pos"), F.col("c.val").alias("val"),
    )
    sizes = chunks.groupBy("pos", "val").agg(
        F.count(F.lit(1)).alias("_bsz"), F.min("media_id").alias("_anchor")
    )
    sized = share_relation(chunks.join(sizes, ["pos", "val"]))
    small = sized.filter(F.col("_bsz") <= max_bucket)
    a = small.alias("a")
    b = small.alias("b")
    pairs_small = (
        a.join(
            b,
            (F.col("a.pos") == F.col("b.pos"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
        )
    )
    pairs_big = (
        sized.filter(
            (F.col("_bsz") > max_bucket) & (F.col("media_id") != F.col("_anchor"))
        )
        .select(
            F.col("_anchor").alias("id_a"), F.col("media_id").alias("id_b")
        )
    )
    sig_rel = sigs.select("media_id", "audio_sig")
    cand = (
        pairs_small.unionByName(pairs_big)
        .distinct()
        .join(
            sig_rel.select(
                F.col("media_id").alias("id_a"), F.col("audio_sig").alias("sa")
            ),
            "id_a",
        )
        .join(
            sig_rel.select(
                F.col("media_id").alias("id_b"), F.col("audio_sig").alias("sb")
            ),
            "id_b",
        )
    )
    l1 = None
    for c in range(8):
        da = F.call_function("shiftright", F.col("sa"), F.lit(8 * c)).bitwiseAND(F.lit(255))
        db = F.call_function("shiftright", F.col("sb"), F.lit(8 * c)).bitwiseAND(F.lit(255))
        term = F.abs(da - db)
        l1 = term if l1 is None else l1 + term
    return (
        cand.withColumn("l1", l1.cast("bigint"))
        .filter(F.col("l1") <= max_l1)
        .select("id_a", "id_b", "l1")
    )
