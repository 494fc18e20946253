"""Vector-similarity operators over embedding columns (array<float>).

Brute-force cosine top-k / threshold pairs as the exact baseline, plus a
random-hyperplane LSH bucketing variant as the 100 TB scale path.

All arithmetic uses JVM higher-order functions (``zip_with`` + ``aggregate``
fold) in double precision — no Python UDFs, a deterministic left-to-right
summation order, and whole-stage-codegen-friendly plans.

Scale design:
- ann_topk broadcasts the (small) query set against the corpus: one scan of
  the big side, no shuffle except the final per-query top-k aggregation
  (which Spark executes as partial top-k per partition).
- cosine_pairs is O(n²) and intended for verification / small n; the LSH
  variant buckets by hyperplane-sign bands so candidate generation is an
  equi-join, then exact-cosine-verifies candidates only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from esop_spark.operators.iterate import share_relation


def _vec_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def with_norm(embeddings: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Project (id, v: array<double>, norm). Norms are computed once here
    rather than per-pair."""
    v = _vec_double(vec_col)
    return embeddings.select(
        F.col(id_col), v.alias("v"), F.sqrt(_dot(v, v)).alias("norm")
    )


def quantize_int8(
    embeddings: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric per-vector int8 quantization + reconstruction error.

    The storage-scale path for ANN at 100 TB: float32 embeddings quantized
    to int8 codes shrink the index 4× (and the shuffle/broadcast volume with
    it) at a small recall cost. scale = max|x|/127, code = round(x/scale),
    reconstruction x̂ = code·scale.

    Pure narrow projection — per-row higher-order functions, zero shuffles,
    scales embarrassingly. Output: (id, n_dims, scale_e9, mse_e9) with
    scale/mse as fixed-point nano units (floor(x·1e9) — ROUND differs
    across engines at half boundaries, floor of an identical double never
    does); zero vectors quantize to scale 0 with mse 0.
    """
    # Staged projections: `scale` must be a materialized attribute before
    # the codes/err lambdas reference it — lambda bodies get no CSE, so an
    # inlined max-aggregate would re-run per ELEMENT (O(d²) per vector).
    staged = embeddings.select(
        F.col(id_col), _vec_double(vec_col).alias("v")
    ).withColumn(
        "scale",
        F.aggregate(F.col("v"), F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x)))
        / F.lit(127.0),
    )
    codes = F.transform(
        F.col("v"),
        lambda x: F.when(F.col("scale") == 0.0, F.lit(0.0)).otherwise(
            F.round(x / F.col("scale"), 0)
        ),
    )
    err = F.zip_with(F.col("v"), codes, lambda x, c: x - c * F.col("scale"))
    # accumulate e² in DECIMAL: float addition is order-sensitive across
    # engines at the 6dp rounding boundary; decimal addition is exact, so
    # the sum is a pure function of the (identical) per-element doubles
    sq_sum = F.aggregate(
        err,
        F.lit(0).cast("decimal(38,24)"),
        lambda acc, e: (acc + (e * e).cast("decimal(38,24)")).cast("decimal(38,24)"),
    )
    mse = sq_sum.cast("double") / F.size("v")
    return staged.select(
        F.col(id_col),
        F.size("v").cast("bigint").alias("n_dims"),
        F.floor(F.col("scale") * F.lit(1e9)).cast("bigint").alias("scale_e9"),
        F.floor(mse * F.lit(1e9)).cast("bigint").alias("mse_e9"),
    )


def cosine_pairs(
    embeddings: DataFrame,
    threshold: float = 0.45,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_rows: int = 500_000,
    reroute: bool = False,
) -> DataFrame:
    """Exact cosine-similarity pairs ≥ threshold (brute force, O(n²)) —
    the exact small-corpus baseline; the scale path is the hyperplane-
    bucketed :func:`cosine_pairs_lsh` (same output schema) /
    :func:`semantic_dedup` / IVF family.

    **Guarded**: the plan broadcasts one full side, so it is only valid
    for corpora that fit a broadcast (and whose n² pair count is worth
    enumerating at all). For inputs larger than ``max_rows`` the default
    is to RAISE rather than let an unbounded broadcast OOM the driver
    mid-job; ``reroute=True`` opts into silently degrading to the
    schema-compatible bucketed path (exact cosines, approximate recall).
    The row count costs one aggregation over the (small by contract)
    input — noise next to the O(n²) join it guards.

    The pair join has no equi-key, so Spark broadcasts one side and
    STREAMS the other; a single-split input would run all n²/2 dot
    products in ONE task (measured 22 s for 2M pairs at sf0.1). The
    streamed side is repartitioned across the shuffle width — same rule
    as bloom_contamination's probe stage."""
    n_rows = embeddings.count()
    if n_rows > max_rows:
        if reroute:
            return cosine_pairs_lsh(
                embeddings, threshold, vec_col=vec_col, id_col=id_col
            )
        raise ValueError(
            f"cosine_pairs is the exact O(n²) small-corpus baseline and "
            f"broadcasts the full embedding table; got {n_rows} rows > "
            f"max_rows={max_rows}. Use the bucketed scale path "
            f"(cosine_pairs_lsh — same schema, exact cosines, approximate "
            f"recall; or semantic_dedup / ivf_ann_topk), pass reroute=True, "
            f"or raise max_rows explicitly after sizing the driver."
        )
    e = with_norm(embeddings, vec_col, id_col)
    spark = embeddings.sparkSession
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    a = e.repartition(target, F.col(id_col)).alias("a")
    b = F.broadcast(e).alias("b")
    cos = _dot(F.col("a.v"), F.col("b.v")) / (F.col("a.norm") * F.col("b.norm"))
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def banded_semantic_buckets(
    embeddings: DataFrame,
    bands: int = 8,
    band_planes: int = 3,
    dim: int = 64,
    seed: str = "hp",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, band, bucket): ``bands`` independent hyperplane sign buckets of
    ``band_planes`` planes each (per-band plane sets drawn from per-band
    seeds), computed in ONE narrow zero-shuffle projection — the cosine
    analog of the MinHash band construction. A pair's per-band collision
    probability is (1 − θ/π)^band_planes, OR-ed across bands; 8×3 at
    cosine 0.45 recalls ≈0.92 of true pairs, rising with similarity."""
    c = F.col(vec_col)
    vq = F.transform(c, lambda x: F.floor(x.cast("double") * SEM_SCALE).cast("bigint"))
    total = F.aggregate(
        F.col("vq"), F.lit(0).cast("bigint"), lambda acc, v: acc + v
    )
    quantized = embeddings.select(F.col(id_col), vq.alias("vq")).select(
        F.col(id_col), F.col("vq"), total.alias("vq_total")
    )
    band_cols = []
    for band in range(bands):
        planes = hyperplane_signs(band_planes, dim, f"{seed}:{band}")
        bucket = None
        for j, p in enumerate(planes):
            plus_idx = [i + 1 for i, s in enumerate(p) if s == 1]
            s_plus = F.aggregate(
                F.transform(
                    F.array(*[F.lit(i) for i in plus_idx]),
                    lambda i: F.element_at(F.col("vq"), i),
                ),
                F.lit(0).cast("bigint"),
                lambda acc, v: acc + v,
            )
            bit = (2 * s_plus - F.col("vq_total") > 0).cast("bigint") * (1 << j)
            bucket = bit if bucket is None else bucket + bit
        band_cols.append(
            F.struct(F.lit(band).alias("band"), bucket.alias("bucket"))
        )
    return quantized.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bb")
    ).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def _split_hot_buckets(
    bb: DataFrame,
    embeddings: DataFrame,
    bands: int,
    band_planes: int,
    dim: int,
    seed: str,
    vec_col: str,
    id_col: str,
    max_bucket: int,
    split_depth: int,
) -> tuple[list[DataFrame], DataFrame | None]:
    """Adaptively REFINE oversized (band, bucket) groups by extending the
    bucket key one seeded hyperplane sign at a time until every group is
    ≤ ``max_bucket`` or ``split_depth`` is exhausted.

    Why refine instead of drop: a hot bucket at a coarse banding is just
    a big REGION of embedding space, not a blob of near-identicals — and
    dropping regions silently zeroes the output once the corpus outgrows
    bucket-count × max_bucket (found at the sf10 rehearsal: every 8×3
    bucket holds ~25k of 200k vectors, so the old drop-based cap emitted
    ZERO pairs while timing beautifully). Splitting degrades recall
    gracefully instead: a true pair in a split region survives each
    extra plane with the usual probability 1 − θ/π, multiplicative per
    split level, and ONLY hot regions pay it.

    Keys stay prefix-free across depths (the first split adds a
    2^band_planes marker bit before shifting), so a depth-d bucket value
    can never equi-join a depth-e one — groups exit whole at the level
    their size first fits, carried in the returned ``parts`` list.

    Truly identical vectors never separate (every plane agrees), so a
    STILL-over-cap group after ``split_depth`` levels IS a
    near-identical blob; those groups (and only those) are returned
    separately for the caller's anchor-star degradation. Groups whose
    size first fits at the final split level exit into ``parts`` like
    any other level's — the loop's trailing partition runs once more
    after the last split so fitting groups are never star-degraded
    merely for fitting *late*. ``split_depth=0`` therefore means "no
    splitting": under-cap buckets enumerate, over-cap buckets go
    straight to the blob residual (the pre-round-9 cap semantics minus
    the silent drop).
    Levels are shared-checkpointed (DISK_ONLY, registry-released between
    queries) — the iterated-small-step shape; the quantized vectors ride
    along in the pending relation so no level re-joins the corpus."""
    from esop_spark.operators.iterate import shared_checkpoint
    from pyspark.storagelevel import StorageLevel

    c = F.col(vec_col)
    vq = F.transform(
        c, lambda x: F.floor(x.cast("double") * SEM_SCALE).cast("bigint")
    )
    quant = embeddings.select(F.col(id_col), vq.alias("_vq"))
    parts: list[DataFrame] = []
    pend = bb  # (id, band, bucket); levels ≥ 1 carry _vq too
    # iterations 0..split_depth-1 split; the final iteration is the
    # trailing partition — same probe, but still-hot groups become the
    # blob residual instead of splitting further (so groups whose size
    # first fits at the last split level still enumerate pairwise)
    for depth in range(split_depth + 1):
        hot_k = shared_checkpoint(
            pend.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("_bsz"))
            .filter(F.col("_bsz") > max_bucket)
            .select("band", "bucket")
        )
        if hot_k.count() == 0:
            parts.append(pend.select(id_col, "band", "bucket"))
            return parts, None
        parts.append(
            pend.join(F.broadcast(hot_k), ["band", "bucket"], "left_anti")
            .select(id_col, "band", "bucket")
        )
        hot = pend.join(F.broadcast(hot_k), ["band", "bucket"], "left_semi")
        if depth == split_depth:
            return parts, hot.select(id_col, "band", "bucket")
        if depth == 0:
            hot = hot.join(quant, id_col)  # the one corpus-shaped join
        planes_lit = F.array(*[
            F.array(*[
                F.lit(v)
                for v in hyperplane_signs(1, dim, f"{seed}:{band}:s{depth}")[0]
            ])
            for band in range(bands)
        ])
        dot = F.aggregate(
            F.zip_with(
                F.col("_vq"),
                F.element_at(planes_lit, F.col("band").cast("int") + 1),
                lambda x, s: x * s,
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        mark = (1 << band_planes) if depth == 0 else 0
        pend = shared_checkpoint(
            hot.select(
                F.col(id_col),
                F.col("band"),
                (
                    (F.col("bucket") + F.lit(mark)) * 2
                    + (dot > 0).cast("bigint")
                ).alias("bucket"),
                F.col("_vq"),
            ),
            storage_level=StorageLevel.DISK_ONLY,
        )
    raise AssertionError("unreachable: final iteration always returns")


def cosine_pairs_lsh(
    embeddings: DataFrame,
    threshold: float = 0.45,
    bands: int = 8,
    band_planes: int = 3,
    dim: int = 64,
    seed: str = "hp",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_bucket: int = 200,
    split_depth: int = 16,
    broadcast_verify_rows: int = 1_000_000,
) -> DataFrame:
    """Banded-LSH cosine-similarity pairs — the SCALE path with
    :func:`cosine_pairs`' exact output schema (id_a, id_b, cosine).

    Candidates are pairs agreeing on ≥1 band's full hyperplane sign
    pattern (:func:`banded_semantic_buckets`); each candidate's cosine is
    then computed EXACTLY, so precision is 1.0 and only recall is
    approximate (≈0.92 at cosine 0.45 with the 8×3 default, higher for
    more-similar pairs — the standard LSH trade, tunable via
    bands/band_planes). The pair join is a (band, bucket) equi-join:
    shuffle on the bucket key, work ∝ Σ bucket_size², never the n²
    broadcast the exact baseline needs.

    ``max_bucket`` bounds the per-bucket join blowup (the enumeration
    cost is Σ bucket², so the cap must be ENUMERATION-sized — hundreds,
    not tens of thousands: at a 200k-vector rehearsal, cap 10⁴ still
    admitted ~5·10⁹ candidate rows and OOM'd the distinct). Oversized
    buckets are SPLIT, not dropped: the key is extended one seeded
    hyperplane at a time (≤ ``split_depth`` levels, only hot regions
    pay) until every group fits — see :func:`_split_hot_buckets` for why
    the round-8 drop-based cap was a silent zero-output cliff once the
    corpus outgrew bucket-count × max_bucket. A group still over-cap
    after ``split_depth`` levels is a near-identical blob (identical
    vectors agree on every plane); it degrades to anchor-star candidates
    — O(B) edges, connectivity preserved for downstream clustering,
    every emitted pair still exactly verified. On corpora with no
    oversized buckets (the declared q301 oracle corpus) the plan and
    results are identical to the plain banded join, which is what the
    DuckDB oracle replicates.

    Recall under splitting is similarity-dependent, and that is the
    right semantic for near-dup dedup: each extra plane keeps a pair
    with probability 1 − θ/π, so TRUE near-duplicates (cosine ≥ 0.8,
    p ≥ 0.8) survive deep splits at high probability while
    weakly-similar pairs (τ ≈ 0.45, p ≈ 0.65) wash out — recovering
    those at scale is a range search and needs more bands (linear cost),
    not a bigger cap (quadratic cost). MEASURED at sf10 (200k vectors,
    split depth 11, tools/recall_probe.py, SCALE.md round-10 table):
    planted-pair recall 98.3% at cosine ≥ 0.95, 86.7% at [0.90, 0.95),
    77.6% at [0.85, 0.90), 47.2% at the [0.80, 0.85) boundary band —
    83.1% overall at ≥ 0.8.

    The hot-bucket probe makes this operator eager at call time (one
    count per split level, ≥ 1) — same contract as the guarded exact
    baselines.

    Config contract (``broadcast_verify_rows`` × heap): each broadcast
    verify leg builds the full embedding table in executor memory,
    ~300 B/row at dim 64 — the 1M default fits two built legs in the
    default 8 GiB single-JVM heap. A bigger ONE-BOX corpus must raise
    the bound and the heap TOGETHER (tools/sf100_probe.py runs 2M rows
    at 48 GiB with bound 4M; measured trials 835.1/883.3 s — SCALE.md
    three-decade table). On a cluster the per-executor build is the
    same table, so the bound is per-executor-memory, not corpus-size.
    """
    n_vecs = embeddings.count()  # eager anyway (split probe); sizes verify
    # Round 11 (guide §5): the banded bucket relation is consumed by the
    # hot-bucket probe AND both sides of the candidate self-join — the
    # per-vector 8x3-plane sign computation (1.5k multiplies/vector) ran
    # once per consumer unpersisted.
    bb = share_relation(
        banded_semantic_buckets(
            embeddings, bands, band_planes, dim, seed, vec_col, id_col
        )
    )
    parts, residual = _split_hot_buckets(
        bb, embeddings, bands, band_planes, dim, seed, vec_col, id_col,
        max_bucket, split_depth,
    )
    small = parts[0]
    for p in parts[1:]:
        small = small.unionByName(p)
    a = small.alias("a")
    c = small.alias("b")
    cand = a.join(
        c,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
    )
    if residual is not None:
        w = Window.partitionBy("band", "bucket")
        star = (
            residual.withColumn("_anchor", F.min(id_col).over(w))
            .filter(F.col(id_col) != F.col("_anchor"))
            .select(
                F.col("_anchor").alias("id_a"), F.col(id_col).alias("id_b")
            )
        )
        cand = cand.unionByName(star)
    cand = cand.distinct()  # a pair may agree on several bands; verify once
    # Verify-leg join strategy: candidates are SKINNY (two ids) but the
    # join OUTPUT carries a vector, so an SMJ chain shuffles
    # candidates × vector-bytes TWICE — ~500 GB of spill at the 2M-vector
    # probe (1.6e9 candidates × 64 floats), which filled the single-node
    # disk. When the embedding table fits a broadcast
    # (≤ broadcast_verify_rows; ~300 B/row at dim 64 → ≲ 750 MB), both
    # legs broadcast and candidates stream through two hash joins with NO
    # candidate shuffle at all. Past that bound the shuffle chain is the
    # honest distributed plan: its per-node spill is
    # candidates × vector-bytes / executors, disk-shaped on a cluster —
    # only the one-box rehearsal needs the broadcast regime. The default
    # bound fits two built legs in the default 8 GiB heap (~0.7 GB
    # on-heap each at dim 64); at 2M rows the build failed at 8 GiB, so
    # a bigger single-box probe must raise the heap AND the bound
    # together (tools/sf100_probe.py does).
    # normed table consumed by both verify legs — one scan + norm pass
    e = share_relation(with_norm(embeddings, vec_col, id_col))
    ea = e.select(
        F.col(id_col).alias("id_a"), F.col("v").alias("va"), F.col("norm").alias("na")
    )
    eb = e.select(
        F.col(id_col).alias("id_b"), F.col("v").alias("vb"), F.col("norm").alias("nb")
    )
    if n_vecs <= broadcast_verify_rows:
        ea, eb = F.broadcast(ea), F.broadcast(eb)
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def ann_topk(
    embeddings: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k cosine neighbors for each query vector (exact, one corpus scan).

    The query side is broadcast (small); rank ties broken by neighbor id so
    results are deterministic.
    """
    e = with_norm(embeddings, vec_col, id_col)
    q = e.filter(F.col(id_col).isin(query_ids)) if query_ids is not None else e
    q = F.broadcast(q.select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv"), F.col("norm").alias("qnorm")
    ))
    cos = _dot(F.col("qv"), F.col("v")) / (F.col("qnorm") * F.col("norm"))
    scored = (
        e.join(q, F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(cos, 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def ivf_ann_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[tuple[int, list[float]]] | None = None,
    kmeans_iters: int = 0,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: corpus partitioned into
    centroid cells, queries probe only the ``n_probe`` nearest cells.

    Cell centroids: pass trained ``centroids`` (from
    :func:`kmeans_centroids`), or set ``kmeans_iters`` > 0 to train in place
    (Lloyd's to convergence, capped at that many iterations), or leave both
    unset for a deterministic corpus sample (cheapest; assignment mechanics —
    the part that matters for the Spark plan — are identical). Assignment is
    a broadcast-centroid argmax (one corpus scan); the query side scans only
    matching cells via an equi-join on cell id — at 100 TB that's the
    difference between a full cross product and touching
    n_probe/n_centroids of the data.
    """
    e = with_norm(embeddings, vec_col, id_col)
    if centroids is None:
        if kmeans_iters > 0:
            centroids = kmeans_centroids(
                embeddings, n_centroids, max_iter=kmeans_iters,
                vec_col=vec_col, id_col=id_col,
            )
        else:
            centroids = [
                (int(r[id_col]), [float(x) for x in r["v"]])
                for r in e.orderBy(F.col(id_col).asc()).limit(n_centroids).collect()
            ]

    def cell_scores(v: Column, norm: Column) -> list[Column]:
        out = []
        for cid, cv in centroids:
            carr = F.array(*[F.lit(x) for x in cv])
            cnorm = sum(x * x for x in cv) ** 0.5
            out.append(
                F.struct(
                    (_dot(v, carr) / (norm * F.lit(cnorm))).alias("score"),
                    F.lit(cid).alias("cell"),
                )
            )
        return out

    # corpus side: argmax cell per vector
    assigned = e.withColumn(
        "cell",
        F.sort_array(F.array(*cell_scores(F.col("v"), F.col("norm"))), asc=False)[0]["cell"],
    )
    # query side: top n_probe cells per query, exploded → (query, cell)
    q = e.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
        F.slice(
            F.sort_array(F.array(*cell_scores(F.col("v"), F.col("norm"))), asc=False),
            1,
            n_probe,
        ).alias("probes"),
    ).select(
        "query_id", "qv", "qnorm", F.explode("probes.cell").alias("cell")
    )
    cos = _dot(F.col("qv"), F.col("v")) / (F.col("qnorm") * F.col("norm"))
    scored = (
        assigned.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(cos, 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def _refine_once(
    e: DataFrame, centroids: list[tuple[int, list[float]]]
) -> list[tuple[int, list[float]]]:
    """One Lloyd's step over a pre-normed corpus ``e = (id, v, norm)``:
    broadcast-argmax assignment + grouped Arrow-batched mean. Empty cells
    keep their previous centroid."""
    import numpy as np
    import pandas as pd

    score_structs = []
    for cid, cv in centroids:
        carr = F.array(*[F.lit(float(x)) for x in cv])
        cnorm = float(sum(x * x for x in cv) ** 0.5) or 1.0
        score_structs.append(
            F.struct(
                (_dot(F.col("v"), carr) / (F.col("norm") * F.lit(cnorm))).alias("score"),
                F.lit(cid).alias("cell"),
            )
        )
    assigned = e.withColumn(
        "cell", F.sort_array(F.array(*score_structs), asc=False)[0]["cell"]
    ).select("cell", "v")

    def mean_vec(pdf: pd.DataFrame) -> pd.DataFrame:
        mat = np.stack(pdf["v"].to_numpy())
        return pd.DataFrame(
            {"cell": [int(pdf["cell"].iloc[0])], "centroid": [mat.mean(axis=0).tolist()]}
        )

    out = assigned.groupBy("cell").applyInPandas(
        mean_vec, schema="cell int, centroid array<double>"
    )
    updated = {r["cell"]: list(r["centroid"]) for r in out.collect()}
    return [(cid, updated.get(cid, cv)) for cid, cv in centroids]


def refine_centroids(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[tuple[int, list[float]]]:
    """One k-means refinement step for IVF cells via grouped applyInPandas.

    Vectors are assigned to their nearest centroid (broadcast argmax, same
    machinery as ivf_ann_topk) and each cell's new centroid is the Arrow-
    batched mean of its members — the grouped-map counterpart to the
    engine's mapInPandas (multimodal) and applyInPandasWithState (stateful)
    surfaces. Returns updated (cell_id, centroid) pairs.
    """
    return _refine_once(with_norm(embeddings, vec_col, id_col), centroids)


def kmeans_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    max_iter: int = 10,
    tol: float = 1e-4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[tuple[int, list[float]]]:
    """Lloyd's k-means to convergence for IVF cell training.

    Deterministic init (first ``n_centroids`` vectors by id), then refine
    until the largest centroid displacement drops below ``tol`` or
    ``max_iter`` steps. Each iteration is ONE scan of the (persisted) normed
    corpus plus a k-row grouped mean; the only driver-side state is the
    k×dim centroid table — the standard distributed-k-means shape, so
    iteration count, not data volume, bounds driver work at 100 TB.
    """
    e = with_norm(embeddings, vec_col, id_col).persist()
    try:
        centroids = [
            (int(r[id_col]), [float(x) for x in r["v"]])
            for r in e.orderBy(F.col(id_col).asc()).limit(n_centroids).collect()
        ]
        for _ in range(max_iter):
            updated = _refine_once(e, centroids)
            move = max(
                sum((a - b) ** 2 for a, b in zip(cv, uv)) ** 0.5
                for (_, cv), (_, uv) in zip(centroids, updated)
            )
            centroids = updated
            if move < tol:
                break
        return centroids
    finally:
        e.unpersist()


def lsh_cosine_pairs(
    embeddings: DataFrame,
    threshold: float = 0.45,
    num_planes: int = 16,
    bands: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """Random-hyperplane LSH near-neighbor pairs, exact-cosine-verified
    (float-plane variant; :func:`cosine_pairs_lsh` is the integer-exact,
    oracle-replicable production path).

    Signature bit i = sign(<v, r_i>) for fixed pseudo-random planes r_i
    (seeded, reproducible). Bands of sign-bits → bucket equi-join →
    candidates → exact cosine computed for the CANDIDATES ONLY (the
    pre-round-7 version verified by semi-joining against the full
    brute-force pair list, which silently re-ran the O(n²) baseline the
    LSH exists to avoid). False-positive-free; recall set by bands ×
    planes-per-band.
    """
    rnd = __import__("random").Random(7)
    planes = [
        [rnd.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(num_planes)
    ]
    e = with_norm(embeddings, vec_col, id_col)
    sign_cols = [
        (_dot(F.col("v"), F.array(*[F.lit(x) for x in p])) > 0).cast("int").alias(f"s{i}")
        for i, p in enumerate(planes)
    ]
    sig = e.select(F.col(id_col), *sign_cols)
    rows_per_band = num_planes // bands
    band_cols = [
        F.struct(
            F.lit(band).alias("band"),
            F.xxhash64(*[F.col(f"s{band * rows_per_band + r}") for r in range(rows_per_band)]).alias("bucket"),
        )
        for band in range(bands)
    ]
    buckets = sig.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("bb")).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    ea = e.select(
        F.col(id_col).alias("id_a"), F.col("v").alias("va"), F.col("norm").alias("na")
    )
    eb = e.select(
        F.col(id_col).alias("id_b"), F.col("v").alias("vb"), F.col("norm").alias("nb")
    )
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        candidates.join(ea, "id_a")
        .join(eb, "id_b")
        .select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


# Fixed-point scale for the semantic-dedup projection: embeddings are
# floor-quantized to integers before the ±1 dot product, so the projection is
# pure bigint arithmetic — order-independent and bit-identical in any engine
# (float summation order differences can never flip a bucket bit).
SEM_SCALE = 1_000_000


def hyperplane_signs(num_planes: int = 16, dim: int = 64, seed: str = "hp") -> list[list[int]]:
    """Deterministic ±1 (Rademacher) hyperplane matrix from
    md5(seed:plane:dim) parity — reproducible in any engine; the DuckDB
    oracle injects the same literal matrix."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()[:8], 16) % 2
            else -1
            for i in range(dim)
        ]
        for j in range(num_planes)
    ]


def semantic_buckets(
    embeddings: DataFrame,
    num_planes: int = 16,
    dim: int = 64,
    seed: str = "hp",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, bucket): bucket = Σ_j (⟨floor(v·SEM_SCALE), r_j⟩ > 0) · 2^j over
    the deterministic ±1 planes from ``hyperplane_signs``. A narrow
    zero-shuffle projection — the SimHash of the embedding space, in exact
    fixed-point arithmetic."""
    planes = hyperplane_signs(num_planes, dim, seed)
    c = F.col(vec_col)
    vq = F.transform(c, lambda x: F.floor(x.cast("double") * SEM_SCALE).cast("bigint"))
    # ⟨vq, s_j⟩ with s ∈ {±1} rewritten as 2·Σ_{s_ij=+1} vq_i − Σ_i vq_i:
    # one shared total + per-plane gathers over only the +1 positions —
    # halves the per-row work vs a full zip_with product per plane, with
    # bit-identical integer results.
    total = F.aggregate(
        F.col("vq"), F.lit(0).cast("bigint"), lambda acc, v: acc + v
    )
    quantized = embeddings.select(
        F.col(id_col), vq.alias("vq")
    ).select(F.col(id_col), F.col("vq"), total.alias("vq_total"))
    bucket = None
    for j, p in enumerate(planes):
        plus_idx = [i + 1 for i, s in enumerate(p) if s == 1]  # 1-based
        s_plus = F.aggregate(
            F.transform(
                F.array(*[F.lit(i) for i in plus_idx]),
                lambda i: F.element_at(F.col("vq"), i),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )
        bit = (2 * s_plus - F.col("vq_total") > 0).cast("bigint") * (1 << j)
        bucket = bit if bucket is None else bucket + bit
    return quantized.select(F.col(id_col), bucket.alias("bucket"))


def semantic_dedup(
    embeddings: DataFrame,
    num_planes: int = 16,
    dim: int = 64,
    seed: str = "hp",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Semantic (embedding-space) dedup: bucket by hyperplane sign pattern,
    keep the min-id vector per bucket (SemDeDup-style cluster-and-keep-one,
    with LSH buckets standing in for k-means cells).

    Plan: narrow bucket projection → one hash agg on the bucket key. At
    100 TB this is a single shuffle whose key domain is 2^num_planes —
    raise num_planes to keep bucket cardinality ≥ executor-count × 1000
    for even distribution; the agg is map-side partial either way.
    """
    b = semantic_buckets(embeddings, num_planes, dim, seed, vec_col, id_col)
    return (
        b.groupBy("bucket")
        .agg(
            F.min(id_col).cast("bigint").alias("keeper_id"),
            F.count(F.lit(1)).cast("bigint").alias("bucket_size"),
        )
        .select("bucket", "keeper_id", "bucket_size")
    )


def embedding_dim_stats(
    embeddings: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Per-dimension corpus statistics (min/max/mean/mean-square) — the
    calibration pass a quantizer or normalizer runs before committing
    scales (per-dim asymmetric quantization needs exactly these moments).

    posexplode → one hash agg keyed by dimension index (key domain = dim,
    tiny and perfectly uniform; partial aggregation reduces every partition
    to ≤dim rows before the exchange, so shuffle volume is executors × dim
    regardless of corpus size — the textbook mergeable-statistics shape).
    """
    exploded = embeddings.select(
        F.posexplode(_vec_double(vec_col)).alias("dim", "x")
    )
    n = F.count(F.lit(1))
    return (
        exploded.groupBy("dim")
        .agg(
            n.cast("bigint").alias("n"),
            F.round(F.min("x"), 6).alias("min_x"),
            F.round(F.max("x"), 6).alias("max_x"),
            F.round(F.sum("x") / n, 6).alias("mean_x"),
            F.round(F.sum(F.col("x") * F.col("x")) / n, 6).alias("mean_sq"),
        )
        .select(F.col("dim").cast("bigint").alias("dim"), "n", "min_x", "max_x", "mean_x", "mean_sq")
    )


def kcenter_assign(
    embeddings: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Cluster-balance report: assign every vector to its nearest of k
    deterministic centers and report per-center mass — the cheap
    cluster-coverage diagnostic for a corpus (the assignment half of
    :func:`kmeans_centroids` with reproducible, data-derived centers).

    Centers are the k vectors with the smallest cross-engine md5 bucket of
    their id — a pure function of the data, so re-runs and the DuckDB oracle
    pick identical centers. Assignment is argmax cosine, rounded to 6dp
    before the comparison with center-id tiebreak (sub-1e-6 similarity
    differences cannot flip the winner differently across engines).

    Scale: the center relation is k rows — broadcast; the corpus side is one
    scan with a k-way per-row argmax (k·d multiply-adds per row, JVM fold),
    then a k-key aggregate. No wide shuffle of the corpus at any point.
    """
    from esop_spark.operators.dedup import md5_hash32

    base = with_norm(embeddings, vec_col, id_col)
    centers = (
        base.select(
            F.col(id_col).alias("center_id"),
            F.col("v").alias("cv"),
            F.col("norm").alias("cnorm"),
            F.pmod(
                md5_hash32(F.concat(F.lit("kc:"), F.col(id_col).cast("string"))),
                F.lit(1_000_000),
            ).alias("bucket"),
        )
        .orderBy(F.col("bucket").asc(), F.col("center_id").asc())
        .limit(k)
        .drop("bucket")
    )
    scored = base.join(F.broadcast(centers)).select(
        F.col(id_col),
        F.col("center_id"),
        F.round(
            _dot(F.col("v"), F.col("cv")) / (F.col("norm") * F.col("cnorm")), 6
        ).alias("cos"),
    )
    best = scored.groupBy(id_col).agg(
        F.max(F.struct(F.col("cos"), (-F.col("center_id")).alias("nc"))).alias("b")
    ).select(
        F.col(id_col),
        (-F.col("b.nc")).cast("bigint").alias("center_id"),
        F.col("b.cos").alias("cos"),
    )
    # exact micro-unit mean (see centroid_purity): order-independent
    # because the 6dp-rounded cos values sum as integers
    cos_micro = F.round(F.col("cos") * 1e6).cast("bigint")
    return (
        best.groupBy("center_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.round(
                F.sum(cos_micro) / F.count(F.lit(1)) / F.lit(1000000.0), 6
            ).alias("mean_cos"),
            F.min(id_col).cast("bigint").alias("min_member"),
        )
    )


def embedding_outliers(
    embeddings: DataFrame,
    z_thresh: float = 3.0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-vector outlier report against per-dimension corpus statistics:
    max |z-score| across dimensions, how many dimensions exceed the
    threshold, and the outlier verdict. The embedding-space data-quality
    gate (truncated/corrupt/out-of-distribution vectors) that runs before
    any ANN index build.

    The per-dim stats are the same mergeable moments as
    :func:`embedding_dim_stats` (partial aggs reduce each partition to
    ≤dim rows); they broadcast back onto the exploded corpus, so the whole
    operator is two scans + a dim-key broadcast join — no corpus-wide
    shuffle. z is rounded to 6dp BEFORE comparisons so sub-1e-6 float
    differences can't flip a verdict across engines.
    """
    u = embeddings.select(
        F.col(id_col), F.posexplode(_vec_double(vec_col)).alias("dim", "x")
    )
    stats = u.groupBy("dim").agg(
        (F.sum("x") / F.count(F.lit(1))).alias("mu"),
        (F.sum(F.col("x") * F.col("x")) / F.count(F.lit(1))).alias("msq"),
    ).select(
        "dim",
        "mu",
        F.sqrt(F.greatest(F.col("msq") - F.col("mu") * F.col("mu"), F.lit(0.0))).alias("sd"),
    )
    z = u.join(F.broadcast(stats), "dim").select(
        F.col(id_col),
        F.round(
            F.abs(F.col("x") - F.col("mu")) / F.nullif(F.col("sd"), F.lit(0.0)), 6
        ).alias("z"),
    )
    return z.groupBy(id_col).agg(
        F.max("z").alias("max_absz"),
        F.sum((F.col("z") > F.lit(z_thresh)).cast("bigint")).cast("bigint").alias("n_over"),
        (F.max("z") > F.lit(z_thresh)).alias("is_outlier"),
    )


# -- Product quantization (IVF-PQ's compression half) ------------------------
#
# At 100 TB the ANN bottleneck is MEMORY, not compute: a 64-dim float64
# vector is 512 bytes; its PQ code (m=16 subspaces × 4-bit centroid ids)
# is 8 bytes — a 64× compression that lets a scan-shaped ADC search sweep
# the whole corpus from cache. Training is per-subspace L2 k-means (same
# driver-bounded shape as the IVF centroid training: k·dim floats of
# driver state, one corpus scan per Lloyd's iteration); encoding and ADC
# query are pure scan projections with zero shuffles (the final top-k is
# the same per-query window as ann_topk).


def _l2_code_col(sv: Column, book: list[list[float]]) -> Column:
    """argmin_i ||sv − book[i]||² as a column. ||sv||² is common to every
    candidate, so the comparison key is −2·<sv,c> + ||c||²; ties break on
    the code id for determinism."""
    structs = []
    for i, c in enumerate(book):
        carr = F.array(*[F.lit(float(x)) for x in c])
        c2 = float(sum(x * x for x in c))
        structs.append(
            F.struct(
                (F.lit(c2) - 2.0 * _dot(sv, carr)).alias("d"),
                F.lit(i).alias("code"),
            )
        )
    return F.sort_array(F.array(*structs), asc=True)[0]["code"]


def pq_train(
    embeddings: DataFrame,
    m: int = 16,
    k: int = 16,
    max_iter: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Train m per-subspace codebooks of k centroids each (classic PQ,
    Jégou et al., TPAMI'11) with L2 Lloyd's iterations. Deterministic init
    (first k subvectors by id). Returns books[m][k][dim/m]."""
    import numpy as np
    import pandas as pd

    dim = len(embeddings.select(_vec_double(vec_col).alias("v")).first()["v"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    books: list[list[list[float]]] = []
    base = embeddings.select(
        F.col(id_col).alias("_id"), _vec_double(vec_col).alias("_v")
    ).persist()
    try:
        for j in range(m):
            sl = base.select("_id", F.slice("_v", j * sub + 1, sub).alias("sv"))
            book = [
                [float(x) for x in r["sv"]]
                for r in sl.orderBy(F.col("_id").asc()).limit(k).collect()
            ]
            for _ in range(max_iter):
                assigned = sl.withColumn("code", _l2_code_col(F.col("sv"), book))

                def mean_sv(pdf: pd.DataFrame) -> pd.DataFrame:
                    mat = np.stack(pdf["sv"].to_numpy())
                    return pd.DataFrame(
                        {
                            "code": [int(pdf["code"].iloc[0])],
                            "c": [mat.mean(axis=0).tolist()],
                        }
                    )

                got = {
                    r["code"]: [float(x) for x in r["c"]]
                    for r in assigned.groupBy("code")
                    .applyInPandas(mean_sv, schema="code int, c array<double>")
                    .collect()
                }
                book = [got.get(i, c) for i, c in enumerate(book)]
            books.append(book)
        return books
    finally:
        base.unpersist()


def pq_encode(
    embeddings: DataFrame,
    books: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, codes array<int>) — one zero-shuffle projection; every
    subspace's argmin is a JVM sort_array over k literal structs."""
    dim = sum(len(b[0]) for b in books)  # m · sub
    sub = len(books[0][0])
    v = _vec_double(vec_col)
    codes = [
        _l2_code_col(F.slice(v, j * sub + 1, sub), book)
        for j, book in enumerate(books)
    ]
    return embeddings.select(
        F.col(id_col), F.array(*codes).alias("codes")
    )


def pq_ann_topk(
    embeddings: DataFrame,
    books: list[list[list[float]]],
    query_ids: list[int],
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k: per query, the distance to each corpus vector is
    approximated by Σ_j lut_q[j][code_j], where lut_q[j][i] =
    ||q_j − books[j][i]||² is computed driver-side (m·k floats per query)
    and shipped as one flat literal array. The corpus side reads only the
    8-byte codes — scan-shaped, zero shuffles, then the ann_topk window."""
    m, kk = len(books), len(books[0])
    sub = len(books[0][0])
    qrows = (
        embeddings.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("query_id"), _vec_double(vec_col).alias("qv"))
        .collect()
    )
    spark = embeddings.sparkSession
    lut_rows = []
    for r in qrows:
        qv = [float(x) for x in r["qv"]]
        flat = []
        for j, book in enumerate(books):
            qj = qv[j * sub : (j + 1) * sub]
            for c in book:
                flat.append(sum((a - b) ** 2 for a, b in zip(qj, c)))
        lut_rows.append((int(r["query_id"]), flat))
    luts = spark.createDataFrame(lut_rows, "query_id long, lut array<double>")
    codes = pq_encode(embeddings, books, vec_col, id_col)
    dist = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(
            F.col("lut"), (j * kk + F.element_at(F.col("codes"), j + 1) + 1).cast("int")
        ),
    )
    scored = (
        codes.crossJoin(F.broadcast(luts))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(dist, 6).alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def ivfpq_ann_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    books: list[list[list[float]]] | None = None,
    m: int = 16,
    pq_k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF+PQ: the full FAISS-style composition — coarse cells bound WHICH
    vectors a query touches (n_probe/n_centroids of the corpus), PQ codes
    bound WHAT is read per touched vector (8-byte codes, driver-shipped
    ADC lookup tables). Both halves reuse their standalone operators, so
    the plan is the IVF cell equi-join over the code relation with the ADC
    distance as the ranking key; at 100 TB the scan cost is
    codes(8 B/vector) · n_probe/n_centroids, with the float vectors never
    read at query time."""
    e = with_norm(embeddings, vec_col, id_col)
    if centroids is None:
        centroids = [
            (int(r[id_col]), [float(x) for x in r["v"]])
            for r in e.orderBy(F.col(id_col).asc()).limit(n_centroids).collect()
        ]
    if books is None:
        books = pq_train(embeddings, m=m, k=pq_k, vec_col=vec_col, id_col=id_col)
    mm, kk = len(books), len(books[0])
    sub = len(books[0][0])

    def cell_scores(v: Column, norm: Column) -> list[Column]:
        out = []
        for cid, cv in centroids:
            carr = F.array(*[F.lit(x) for x in cv])
            cnorm = sum(x * x for x in cv) ** 0.5 or 1.0
            out.append(
                F.struct(
                    (_dot(v, carr) / (norm * F.lit(cnorm))).alias("score"),
                    F.lit(cid).alias("cell"),
                )
            )
        return out

    codes = pq_encode(embeddings, books, vec_col, id_col)
    assigned = e.withColumn(
        "cell",
        F.sort_array(F.array(*cell_scores(F.col("v"), F.col("norm"))), asc=False)[0]["cell"],
    ).select(id_col, "cell").join(codes, id_col)

    qrows = (
        e.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("query_id"), "v", "norm")
        .collect()
    )
    spark = embeddings.sparkSession
    probe_rows = []
    for r in qrows:
        qv = [float(x) for x in r["v"]]
        qnorm = float(r["norm"]) or 1.0
        ranked = sorted(
            (
                (
                    sum(a * b for a, b in zip(qv, cv))
                    / (qnorm * (sum(x * x for x in cv) ** 0.5 or 1.0)),
                    cid,
                )
                for cid, cv in centroids
            ),
            key=lambda t: (-t[0], t[1]),
        )
        cells = [cid for _, cid in ranked[:n_probe]]
        flat = []
        for j, book in enumerate(books):
            qj = qv[j * sub : (j + 1) * sub]
            for c in book:
                flat.append(sum((a - b) ** 2 for a, b in zip(qj, c)))
        for cell in cells:
            probe_rows.append((int(r["query_id"]), cell, flat))
    probes = spark.createDataFrame(
        probe_rows, "query_id long, cell int, lut array<double>"
    )
    dist = F.aggregate(
        F.sequence(F.lit(0), F.lit(mm - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(
            F.col("lut"), (j * kk + F.element_at(F.col("codes"), j + 1) + 1).cast("int")
        ),
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(dist, 6).alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def centroid_purity(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-space cluster-quality report: build the per-label mean
    vector (centroid), assign every vector to its nearest centroid by
    cosine, and report per-label how often the nearest centroid is the
    vector's own label — the standard embedding-health metric (a degraded
    encoder or a mislabeled slice shows up as purity collapse long before
    a downstream eval does).

    Cross-engine determinism: centroid components are rounded to 6dp
    (averaging order can differ between engines below that), and the
    argmax compares 6dp-rounded cosines with a smallest-label tiebreak —
    same scheme kcenter_assign uses.

    Output: (label, n_members, n_correct, purity, mean_cos) per label.

    Scale: centroids via posexplode → (label, dim) mergeable mean — the
    shuffle is executors × labels × dim rows, corpus-independent; the
    centroid relation (k rows) broadcasts back; assignment is a k-way
    per-row fold inside the scan stage; final agg is k keys. The corpus
    is never shuffled."""
    v = _vec_double(vec_col)
    base = embeddings.select(
        F.col(id_col),
        F.col(label_col).alias("true_label"),
        v.alias("v"),
        F.sqrt(_dot(v, v)).alias("norm"),
    )
    dims = embeddings.select(
        F.col(label_col).alias("clabel"),
        F.posexplode(_vec_double(vec_col)).alias("dim", "x"),
    )
    # centroid components summed in exact integer NANO-units (x ≤ ~10, so
    # Σ round(x·1e9) stays < 2^63): raw-double AVG is summation-order
    # dependent at the last ulp, and a mean sitting on a .5e-7 rounding
    # tie then flips the 6th decimal between parallel runs — the q85
    # failure mode. Integer sums are order-independent.
    x_nano = F.round(F.col("x") * 1e9).cast("bigint")
    cents = (
        dims.groupBy("clabel", "dim")
        .agg(
            F.round(
                F.sum(x_nano) / F.count(F.lit(1)) / F.lit(1e9), 6
            ).alias("c")
        )
        .groupBy("clabel")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "c"))),
                lambda s: s["c"],
            ).alias("cvec")
        )
        .select(
            "clabel",
            "cvec",
            F.sqrt(_dot(F.col("cvec"), F.col("cvec"))).alias("cnorm"),
        )
    )
    scored = base.join(F.broadcast(cents)).select(
        id_col,
        "true_label",
        "clabel",
        F.round(
            _dot(F.col("v"), F.col("cvec")) / (F.col("norm") * F.col("cnorm")), 6
        ).alias("cos"),
    )
    best = scored.groupBy(id_col, "true_label").agg(
        F.max(F.struct(F.col("cos"), (-F.col("clabel")).alias("nc"))).alias("b")
    ).select(
        F.col("true_label"),
        (-F.col("b.nc")).alias("pred_label"),
        F.col("b.cos").alias("cos"),
    )
    # mean_cos via EXACT integer micro-units: the per-row cos is already
    # 6dp, so Σ(cos·1e6) is an integer — summation order can no longer
    # move the average across a rounding boundary (F.avg over doubles
    # measurably flipped the 6th decimal between parallel runs when the
    # true mean sat exactly on a .5e-7 tie).
    cos_micro = F.round(F.col("cos") * 1e6).cast("bigint")
    return (
        best.groupBy("true_label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.sum(
                F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
            ).cast("bigint").alias("n_correct"),
            F.round(
                F.sum(cos_micro) / F.count(F.lit(1)) / F.lit(1000000.0), 6
            ).alias("mean_cos"),
        )
        .select(
            F.col("true_label").cast("bigint").alias("label"),
            "n_members",
            "n_correct",
            F.round(F.col("n_correct") / F.col("n_members"), 6).alias("purity"),
            "mean_cos",
        )
    )


def embedding_covariance(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Upper-triangle covariance matrix of the embedding dimensions:
    cov(i,j) = E[x_i·x_j] − E[x_i]·E[x_j] — the input every linear
    compression of the embedding space (PCA/whitening/OPQ rotation)
    trains on.

    Output: (dim_i, dim_j, cov) for i ≤ j, 6dp.

    Scale: the moment relation aggregates to d(d+1)/2 keys (mergeable
    sums with map-side combine — shuffle volume is executors × d²
    regardless of corpus size); per-dim means are a d-row broadcast. The
    d² blow-up happens per row INSIDE the scan stage (JVM explode), the
    aggregate output is corpus-independent — exactly the shape that lets
    a 100 TB corpus train a rotation on one machine afterwards."""
    v = _vec_double(vec_col)
    p1 = embeddings.select(v.alias("v")).select(
        "v", F.posexplode("v").alias("i", "xi")
    )
    p2 = p1.select(
        "i", "xi", F.posexplode("v").alias("j", "xj")
    ).filter(F.col("j") >= F.col("i"))
    moments = p2.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("xi") * F.col("xj")).alias("sxy"),
    )
    means = (
        embeddings.select(v.alias("v"))
        .select(F.posexplode("v").alias("d", "x"))
        .groupBy("d")
        .agg(F.sum("x").alias("sx"), F.count(F.lit(1)).alias("nd"))
        .select("d", (F.col("sx") / F.col("nd")).alias("mean"))
    )
    return (
        moments.join(
            F.broadcast(means.select(F.col("d").alias("i"), F.col("mean").alias("mi"))),
            "i",
        )
        .join(
            F.broadcast(means.select(F.col("d").alias("j"), F.col("mean").alias("mj"))),
            "j",
        )
        .select(
            F.col("i").cast("bigint").alias("dim_i"),
            F.col("j").cast("bigint").alias("dim_j"),
            # + 0.0 canonicalizes IEEE negative zero (-0.0 + 0.0 == +0.0):
            # near-zero covariances round to zero with an engine-dependent
            # sign bit otherwise, and a string-keyed row sort tells them apart
            (
                F.round(F.col("sxy") / F.col("n") - F.col("mi") * F.col("mj"), 6)
                + F.lit(0.0)
            ).alias("cov"),
        )
    )


def pca_top_component(
    cov_rows: list,
    dim: int,
    iters: int = 100,
) -> tuple[float, list[float]]:
    """Top principal component by power iteration over a COLLECTED
    covariance matrix (d² values — driver-sized by construction, the same
    boundary as IVF centroids). Deterministic: starts from the all-ones
    vector, no randomness. Returns (eigenvalue, unit eigenvector with a
    positive first nonzero component).

    The distributed half is :func:`embedding_covariance`; this half is
    O(iters·d²) driver math — at d=4096 that is a 16M-entry matrix,
    still a single-machine job (and the point of aggregating moments
    instead of shipping vectors)."""
    import math

    cov = [[0.0] * dim for _ in range(dim)]
    for r in cov_rows:
        i, j, c = int(r["dim_i"]), int(r["dim_j"]), float(r["cov"])
        cov[i][j] = c
        cov[j][i] = c
    vec = [1.0] * dim
    val = 0.0
    for _ in range(iters):
        nxt = [sum(cov[i][k] * vec[k] for k in range(dim)) for i in range(dim)]
        norm = math.sqrt(sum(x * x for x in nxt))
        if norm == 0.0:
            return 0.0, vec
        vec = [x / norm for x in nxt]
        val = norm
    for x in vec:
        if abs(x) > 1e-12:
            if x < 0:
                vec = [-y for y in vec]
            break
    return val, vec


def save_ivf_index(
    spark: "SparkSession",
    centroids: list[tuple[int, list[float]]],
    path: str,
) -> None:
    """Persist trained IVF centroids as parquet — index lifecycle for the
    ANN paths (train once on a sample, reuse across sessions/queries
    instead of re-running Lloyd's per job). Centroid relations are k rows;
    the parquet is KB-sized regardless of corpus size."""
    spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in centroids],
        "cell int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_ivf_index(
    spark: "SparkSession", path: str
) -> list[tuple[int, list[float]]]:
    """Load :func:`save_ivf_index` output back into the driver-side
    centroid list the IVF operators consume (k rows — driver-trivial)."""
    rows = spark.read.parquet(path).orderBy("cell").collect()
    return [(r["cell"], list(r["centroid"])) for r in rows]


def save_pq_codebooks(
    spark: "SparkSession", books: list[list[list[float]]], path: str
) -> None:
    """Persist PQ codebooks (books[m][k][sub_dim]) as parquet rows
    (subspace, code, centroid) — m·k rows total."""
    rows = [
        (m_i, k_i, [float(x) for x in vec])
        for m_i, book in enumerate(books)
        for k_i, vec in enumerate(book)
    ]
    spark.createDataFrame(
        rows, "subspace int, code int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_pq_codebooks(
    spark: "SparkSession", path: str
) -> list[list[list[float]]]:
    """Load :func:`save_pq_codebooks` output back into books[m][k][...]."""
    rows = spark.read.parquet(path).orderBy("subspace", "code").collect()
    m = max(r["subspace"] for r in rows) + 1
    books: list[list[list[float]]] = [[] for _ in range(m)]
    for r in rows:
        books[r["subspace"]].append(list(r["centroid"]))
    return books


def hard_negatives(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    dup_tau: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Q117: hard-negative mining for contrastive training — per query,
    the top-k most-similar neighbors whose cosine stays BELOW the
    near-duplicate threshold (similar enough to be hard, not so similar
    they're positives/dups).

    Same broadcast-query scan as :func:`ann_topk` with the dup band
    excluded before ranking; at corpus scale the scan feeds from the IVF
    probe path instead (drop-in, since the filter is per-candidate).
    """
    e = with_norm(embeddings, vec_col, id_col)
    q = F.broadcast(
        e.filter(F.col(id_col).isin(query_ids)).select(
            F.col(id_col).alias("query_id"),
            F.col("v").alias("qv"),
            F.col("norm").alias("qnorm"),
        )
    )
    cos = _dot(F.col("qv"), F.col("v")) / (F.col("qnorm") * F.col("norm"))
    scored = (
        e.join(q, F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("cosine") < dup_tau)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def matryoshka_eval(
    embeddings: DataFrame,
    dims: tuple[int, ...] = (8, 16, 32, 64),
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Truncation-fidelity audit for matryoshka-style retrieval: how well
    does cosine over only the first ``d`` dimensions agree with full-dim
    cosine? Reports, per candidate prefix length ``d``: Pearson correlation
    between truncated and full cosine and the mean absolute error, over the
    deterministic adjacent-id pair sample (vec_id, vec_id+1).

    Cross-engine determinism follows the q117 recipe: both cosines are
    quantized to 1e-6 fixed-point BIGINTs, the correlation's moment sums
    are EXACT decimal/hugeint integer sums, and only the final closed-form
    division runs in floating point — identical inputs, identical single
    expression, identical IEEE doubles on both engines.

    Scale: the pair relation is a self-join on an id shift (one shuffle,
    uniform key); per-pair work is d multiply-adds per prefix via JVM
    higher-order functions; the aggregation is map-side partial to
    |dims| groups. At 100 TB the sample would be hash-thinned first
    (``hash_sample``) — the audit needs pairs, not the corpus.
    """
    e = embeddings.select(F.col(id_col).alias("_id"), _vec_double(vec_col).alias("v"))
    pairs = (
        e.alias("a")
        .join(e.alias("b"), F.col("a._id") + 1 == F.col("b._id"))
        .select(F.col("a.v").alias("va"), F.col("b.v").alias("vb"))
    )

    def _q6(cos: Column) -> Column:
        # round to 6dp FIRST (the exact quantity q25/q26 prove equal across
        # engines), then scale to integer — one extra rounding that kills
        # any 1e-7-digit disagreement at the fixed-point boundary
        return F.round(F.round(cos, 6) * F.lit(1_000_000.0), 0).cast("bigint")

    full_cos = _dot(F.col("va"), F.col("vb")) / (
        F.sqrt(_dot(F.col("va"), F.col("va"))) * F.sqrt(_dot(F.col("vb"), F.col("vb")))
    )
    per_dim = F.array(
        *[
            F.struct(
                F.lit(d).cast("bigint").alias("dim"),
                _q6(
                    _dot(F.slice("va", 1, d), F.slice("vb", 1, d))
                    / (
                        F.sqrt(_dot(F.slice("va", 1, d), F.slice("va", 1, d)))
                        * F.sqrt(_dot(F.slice("vb", 1, d), F.slice("vb", 1, d)))
                    )
                ).alias("x"),
            )
            for d in dims
        ]
    )
    obs = (
        pairs.withColumn("y", _q6(full_cos))
        .select(F.explode(per_dim).alias("s"), "y")
        .select(F.col("s.dim").alias("dim"), F.col("s.x").alias("x"), "y")
    )
    dec = "decimal(38,0)"
    agg = obs.groupBy("dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).alias("syy"),
        F.sum(F.abs(F.col("x") - F.col("y")).cast(dec)).alias("sabs"),
    )
    n = F.col("n_pairs").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    corr = (F.col("sxy").cast("double") - sx * sy / n) / (
        F.sqrt(F.col("sxx").cast("double") - sx * sx / n)
        * F.sqrt(F.col("syy").cast("double") - sy * sy / n)
    )
    return agg.select(
        "dim",
        "n_pairs",
        F.round(corr, 6).alias("pearson_corr"),
        F.round(F.col("sabs").cast("double") / n / F.lit(1_000_000.0), 6).alias(
            "mean_abs_err"
        ),
    )


def int8_codes(
    embeddings: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Per-vector int8 code arrays (quantize_int8's codes as BIGINTs) —
    the representation a quantized index actually searches with. Cosine is
    invariant to the per-vector scale, so searching CODE space is exactly
    searching the reconstructed vectors, with the bonus that dot products
    and squared norms become exact integer arithmetic (cross-engine
    deterministic). Narrow projection, zero shuffles."""
    staged = embeddings.select(
        F.col(id_col), _vec_double(vec_col).alias("v0")
    ).withColumn(
        "_scale",
        F.aggregate(F.col("v0"), F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x)))
        / F.lit(127.0),
    )
    codes = F.transform(
        F.col("v0"),
        lambda x: F.when(F.col("_scale") == 0.0, F.lit(0.0)).otherwise(
            F.round(x / F.col("_scale"), 0)
        ).cast("bigint"),
    )
    return staged.select(F.col(id_col), codes.alias("c"))


def _int8_ann_topk(
    codes: DataFrame, query_ids: list[int], k: int, id_col: str = "vec_id"
) -> DataFrame:
    """Exact top-k cosine over int8 code arrays: integer dot / integer
    norms (exact on every engine), three final flops, round-6, ranked with
    the id tiebreak. Same broadcast-query shape as :func:`ann_topk`."""
    zero = F.lit(0).cast("bigint")
    sq = F.aggregate(
        F.zip_with("c", "c", lambda a, b: a * b), zero, lambda acc, v: acc + v
    )
    e = codes.withColumn("_n2", sq)
    q = F.broadcast(
        e.filter(F.col(id_col).isin(query_ids)).select(
            F.col(id_col).alias("query_id"),
            F.col("c").alias("qc"),
            F.col("_n2").alias("_qn2"),
        )
    )
    dot = F.aggregate(
        F.zip_with("qc", "c", lambda a, b: a * b), zero, lambda acc, v: acc + v
    )
    cos = dot.cast("double") / (
        F.sqrt(F.col("_qn2").cast("double")) * F.sqrt(F.col("_n2").cast("double"))
    )
    scored = e.join(q, F.col("query_id") != F.col(id_col)).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(cos, 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w).cast("bigint")).filter(
        F.col("rank") <= k
    )


def quantized_ann_recall(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Retrieval-fidelity audit for the int8 storage path: per query,
    recall@k of exact top-k cosine search in int8 CODE space (= searching
    the reconstructed vectors, since cosine ignores the per-vector scale)
    against full-precision top-k. This is the measurement that justifies
    (or vetoes) shipping the 4×-smaller quantized index at 100 TB — the
    whole audit is two broadcast-query scans plus a tiny join on the
    ≤ |queries|·k rank rows.

    Output: ``query_id, n_overlap, recall`` (recall = overlap / k).
    """
    exact = ann_topk(embeddings, query_ids, k, vec_col, id_col)
    approx = _int8_ann_topk(int8_codes(embeddings, vec_col, id_col), query_ids, k, id_col)
    overlap = (
        exact.select("query_id", "neighbor_id")
        .join(approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_overlap"))
    )
    base = exact.select("query_id").distinct()
    return base.join(overlap, "query_id", "left").select(
        F.col("query_id").cast("bigint"),
        F.coalesce(F.col("n_overlap"), F.lit(0)).cast("bigint").alias("n_overlap"),
        F.round(F.coalesce(F.col("n_overlap"), F.lit(0)) / F.lit(float(k)), 6).alias(
            "recall"
        ),
    )


def knn_label_audit(
    embeddings: DataFrame,
    k: int = 5,
    sample_rate: float = 0.1,
    seed: str = "knn0",
    max_queries: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Label-noise audit via k-nearest-neighbor vote on a hash sample.

    For a deterministic content-hash sample of vectors (the audit-sample
    pattern of the LSH recall audit, q104), find the exact k nearest
    cosine neighbors in the FULL corpus (self excluded), take the majority
    neighbor label (ties → smaller label), and report per true label how
    often the vote agrees — low agreement flags mislabeled or boundary
    regions in a labeled training set.

    Scale: the sampled query side is broadcast against one scan of the
    corpus (the q26 plan); per-query top-k is a bounded window over the
    query grain. A rate-only sample makes the audit QUADRATIC in corpus
    size (queries × corpus both grow — measured 15× wall at 10× data);
    ``max_queries`` caps the query side at an absolute count (the
    smallest-hash-bucket rows, a fixed-size uniform sample), restoring
    O(max_queries × n) — linear in the corpus. Set it for any real run.
    """
    v = _vec_double(vec_col)
    # Round 11 (guide §5): the normed projection feeds the broadcast query
    # sample AND the corpus scoring leg — persist so the norm pass runs once.
    e = share_relation(
        embeddings.select(
            F.col(id_col),
            F.col(label_col),
            v.alias("v"),
            F.sqrt(_dot(v, v)).alias("norm"),
        )
    )
    from esop_spark.operators.sampling import BUCKETS, sample_bucket

    qs = e.withColumn("_b", sample_bucket(F.col(id_col), seed)).filter(
        F.col("_b") < int(sample_rate * BUCKETS)
    )
    if max_queries is not None:
        qs = qs.orderBy(F.col("_b").asc(), F.col(id_col).asc()).limit(max_queries)
    q = F.broadcast(
        qs.select(
            F.col(id_col).alias("query_id"),
            F.col(label_col).alias("own_label"),
            F.col("v").alias("qv"),
            F.col("norm").alias("qnorm"),
        )
    )
    cos = _dot(F.col("qv"), F.col("v")) / (F.col("qnorm") * F.col("norm"))
    scored = e.join(q, F.col("query_id") != F.col(id_col)).select(
        "query_id",
        "own_label",
        F.col(label_col).alias("nb_label"),
        F.round(cos, 6).alias("cosine"),
        F.col(id_col).alias("neighbor_id"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    topk = scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    votes = topk.groupBy("query_id", "own_label", "nb_label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    best = votes.groupBy("query_id", "own_label").agg(
        F.max(F.struct(F.col("n_votes"), (-F.col("nb_label")).alias("neg"))).alias("m")
    ).select(
        "query_id",
        "own_label",
        (-F.col("m.neg")).alias("pred_label"),
        F.col("m.n_votes").alias("n_votes"),
    )
    return best.groupBy(F.col("own_label").cast("bigint").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.sum((F.col("pred_label") == F.col("own_label")).cast("int"))
        .cast("bigint")
        .alias("n_agree"),
        F.round(
            F.sum((F.col("pred_label") == F.col("own_label")).cast("int"))
            / F.count(F.lit(1)),
            6,
        ).alias("agree_rate"),
    )


def embed_documents(
    documents: DataFrame,
    dim: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic content-hash document embedder: dimension j is the
    seeded 32-bit md5 hash of the text mapped into [-1, 1] (granularity
    1e-3). This is the ENGINE-side stand-in for a model embedder — the
    plumbing (schema, per-doc vector, downstream ANN compatibility) is
    real and cross-engine reproducible; a real encoder plugs in through
    the same Arrow ``mapInPandas`` seam the multimodal decoder uses
    (multimodal.py), swapping this column expression for a batched model
    call.

    Scale: a pure scan projection — ``dim`` hash evaluations per row, no
    shuffle; the output feeds ann_topk / semantic_dedup unchanged.
    """
    from esop_spark.operators.dedup import md5_hash32

    comps = [
        (
            (
                F.pmod(
                    md5_hash32(
                        F.concat(F.lit(f"emb{j}:"), F.col(text_col))
                    ),
                    F.lit(2001),
                )
                - 1000
            )
            / 1000.0
        ).alias(f"_e{j}")
        for j in range(dim)
    ]
    base = documents.select(F.col(id_col), *comps)
    vec = F.array(*[F.col(f"_e{j}") for j in range(dim)])
    return base.select(
        F.col(id_col),
        vec.alias("embedding"),
        F.round(F.sqrt(_dot(vec, vec)), 6).alias("norm"),
    )


def cluster_topic_terms(
    documents: DataFrame,
    embeddings: DataFrame,
    num_planes: int = 6,
    top_buckets: int = 8,
    k: int = 3,
    dim: int = 64,
    seed: str = "hp",
    doc_id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
) -> DataFrame:
    """Topic labeling for embedding-space clusters: bucket vectors by
    hyperplane sign pattern (the deterministic stand-in for k-means cells,
    same family as :func:`semantic_dedup`), take the ``top_buckets``
    largest clusters, and label each with its top-``k`` TF-IDF terms from
    the member documents — the human-readable "what is this cluster"
    report curation teams run after clustering a corpus.

    Cross-modal join: embeddings supply the cluster geometry, documents
    supply the describable text; they meet on the id equality
    ``vec_id = doc_id``.

    Scale: the bucket projection is narrow; the top-bucket selection is a
    TakeOrdered over the 2^num_planes-row bucket-size relation; membership
    and the bucket-size relation are broadcast back (top_buckets rows), so
    the only corpus-wide shuffles are the TF-IDF term aggregations over
    MEMBER documents only — the relation shrinks to the clusters under
    inspection before any term explode happens.
    """
    from esop_spark.operators.text import tfidf_top_terms

    buckets = semantic_buckets(
        embeddings, num_planes, dim, seed, id_col=vec_id_col
    )
    # Round 11 (guide §5): `top` (≤top_buckets rows) is broadcast into
    # both the membership join and the final report join — unpersisted,
    # each consumer re-ran the bucket projection + TakeOrdered; and
    # docs_in (member docs only) feeds tfidf_top_terms' THREE consumers
    # (tf leg, df leg, corpus count), each of which re-ran the
    # documents ⋈ members join. 20 scans → 2 in the after plan.
    top = share_relation(
        buckets.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy(F.col("n_members").desc(), F.col("bucket").asc())
        .limit(top_buckets)
    )
    members = buckets.join(F.broadcast(top), "bucket").select(
        F.col(vec_id_col).alias(doc_id_col), "bucket", "n_members"
    )
    docs_in = share_relation(documents.join(members, doc_id_col))
    terms = tfidf_top_terms(docs_in, group_col="bucket", k=k)
    return terms.join(
        F.broadcast(top.select("bucket", F.col("n_members").cast("bigint").alias("n_members"))),
        "bucket",
    ).select(
        F.col("bucket").cast("bigint").alias("bucket"),
        "n_members",
        "term",
        "tf",
        "df",
        "tfidf",
        "rank",
    )


def prototypicality(
    embeddings: DataFrame,
    deciles: int = 10,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
    num_partitions: int = 32,
) -> DataFrame:
    """Prototypicality profile for pruning: cosine of every vector to its
    OWN label centroid, ranked within the label and folded to a per-
    (label, decile) report — the SSL-prototypes/SemDeDup-style signal
    ("drop the most prototypical X%, they are redundant; inspect the
    least prototypical tail, it is noise") with exact decile boundaries.

    Determinism is the q85 scheme end-to-end: centroid components are
    mean-of-integer-nano sums rounded to 6dp (order-independent), cosines
    round to 6dp, and the within-label ranking orders by the INTEGER
    micro-cosine (descending) with the id string as tiebreak — through
    :func:`esop_spark.operators.sampling._distributed_stratum_rank`, so a
    dominant label never funnels through one task. Decile =
    ``1 + (rank-1)*deciles // n_label`` — integer math, exact everywhere.

    Scale: centroids are a (labels x dims)-grain mergeable-mean agg
    broadcast back (k·d rows); the rank is the range-partitioned
    construction; the report grain is labels x deciles."""
    from esop_spark.operators.sampling import _distributed_stratum_rank

    v = _vec_double(vec_col)
    base = embeddings.select(
        F.col(id_col),
        F.col(label_col).alias("lbl"),
        v.alias("v"),
        F.sqrt(_dot(v, v)).alias("norm"),
    )
    dims = embeddings.select(
        F.col(label_col).alias("lbl"),
        F.posexplode(_vec_double(vec_col)).alias("dim", "x"),
    )
    x_nano = F.round(F.col("x") * 1e9).cast("bigint")
    cents = (
        dims.groupBy("lbl", "dim")
        .agg(
            F.round(F.sum(x_nano) / F.count(F.lit(1)) / F.lit(1e9), 6).alias("c")
        )
        .groupBy("lbl")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "c"))),
                lambda s: s["c"],
            ).alias("cvec")
        )
        .select(
            "lbl", "cvec", F.sqrt(_dot(F.col("cvec"), F.col("cvec"))).alias("cnorm")
        )
    )
    scored = base.join(F.broadcast(cents), "lbl").select(
        id_col,
        "lbl",
        F.round(
            _dot(F.col("v"), F.col("cvec")) / (F.col("norm") * F.col("cnorm")), 6
        ).alias("cos"),
    )
    ranked = _distributed_stratum_rank(
        scored,
        "lbl",
        (-F.round(F.col("cos") * 1e6)).cast("bigint"),
        F.col(id_col),
        num_partitions,
    )
    counts = scored.groupBy("lbl").agg(F.count(F.lit(1)).alias("n_lbl"))
    cos_micro = F.round(F.col("cos") * 1e6).cast("bigint")
    return (
        ranked.join(F.broadcast(counts), "lbl")
        .withColumn(
            "decile", F.expr(f"1 + ((_rn - 1) * {deciles}) div n_lbl")
        )
        .groupBy(
            F.col("lbl").cast("bigint").alias("label"),
            F.col("decile").cast("bigint").alias("decile"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.round(F.max("cos"), 6).alias("max_cos"),
            F.round(F.min("cos"), 6).alias("min_cos"),
            F.sum(cos_micro).alias("_s"),
        )
        # mean at micro precision via INTEGER half-away-from-zero division:
        # float ROUND of sum/n/1e6 diverges across engines when the mean
        # lands exactly on a .5e-7 decimal (Spark rounds the shortest
        # decimal repr, DuckDB the binary value) — integer math cannot
        .select(
            "label",
            "decile",
            "n_vecs",
            "max_cos",
            "min_cos",
            (
                F.when(
                    F.col("_s") >= 0,
                    F.expr("(2 * _s + n_vecs) div (2 * n_vecs)"),
                ).otherwise(-F.expr("(2 * (-_s) + n_vecs) div (2 * n_vecs)"))
                / F.lit(1e6)
            ).alias("mean_cos"),
        )
    )


def _dcg_gains9(k: int) -> list[int]:
    """Integer nano-scaled DCG gains 1/log2(i+1), i = 1..k, computed ONCE
    driver-side and inlined as literals in BOTH engines — no runtime
    libm-log parity to worry about."""
    import math

    return [round(1e9 / math.log2(i + 1)) for i in range(1, k + 1)]


def retrieval_metrics(
    embeddings: DataFrame,
    k: int = 10,
    sample_rate: float = 0.1,
    max_queries: int | None = 25,
    seed: str = "rm0",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Retrieval quality metrics (MRR, hits@k, nDCG@k) for exact cosine
    top-k over a deterministic query sample, with same-label as the
    relevance oracle — the eval every embedding-search stack runs before
    swapping encoders or index parameters.

    Determinism: DCG gains are driver-computed integer literals (no
    engine libm), relevance/ranks are exact, and nDCG divides two exact
    bigints. Ranking ties break on neighbor id.

    Scale: the q26/q127 shape — bounded query broadcast (``max_queries``
    caps it absolutely; a rate-only sample makes the eval quadratic in
    corpus size) against one corpus scan; per-query top-k is a window over
    the query grain; ideal-DCG needs only the per-label count relation
    (broadcast)."""
    from esop_spark.operators.sampling import BUCKETS, sample_bucket

    gains = _dcg_gains9(k)
    cum = [sum(gains[: i + 1]) for i in range(k)]
    v = _vec_double(vec_col)
    # Round 11 (guide §5): same persist as knn_label_audit — query sample
    # and corpus scoring legs share one normed pass.
    e = share_relation(
        embeddings.select(
            F.col(id_col),
            F.col(label_col),
            v.alias("v"),
            F.sqrt(_dot(v, v)).alias("norm"),
        )
    )
    qs = e.withColumn("_b", sample_bucket(F.col(id_col), seed)).filter(
        F.col("_b") < int(sample_rate * BUCKETS)
    )
    if max_queries is not None:
        qs = qs.orderBy(F.col("_b").asc(), F.col(id_col).asc()).limit(max_queries)
    q = F.broadcast(
        qs.select(
            F.col(id_col).alias("query_id"),
            F.col(label_col).alias("own_label"),
            F.col("v").alias("qv"),
            F.col("norm").alias("qnorm"),
        )
    )
    label_counts = embeddings.groupBy(F.col(label_col).alias("own_label")).agg(
        F.count(F.lit(1)).alias("n_label")
    )
    cos = _dot(F.col("qv"), F.col("v")) / (F.col("qnorm") * F.col("norm"))
    scored = e.join(q, F.col("query_id") != F.col(id_col)).select(
        "query_id",
        "own_label",
        (F.col(label_col) == F.col("own_label")).alias("rel"),
        F.round(cos, 6).alias("cosine"),
        F.col(id_col).alias("neighbor_id"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    topk = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    gain_case = F.lit(0).cast("bigint")
    for i, g in enumerate(gains, start=1):
        gain_case = F.when(F.col("rank") == i, F.lit(g)).otherwise(gain_case)
    idcg_case = F.lit(cum[-1]).cast("bigint")
    for j in range(k, 0, -1):
        idcg_case = F.when(
            F.least(F.lit(k), F.col("n_relevant")) == j, F.lit(cum[j - 1])
        ).otherwise(idcg_case)
    per_q = (
        topk.groupBy("query_id", "own_label")
        .agg(
            F.sum(F.when(F.col("rel"), gain_case).otherwise(0)).alias("dcg9"),
            F.sum(F.col("rel").cast("bigint")).cast("bigint").alias("hits_at_k"),
            F.min(F.when(F.col("rel"), F.col("rank"))).alias("first_rel"),
        )
        .join(F.broadcast(label_counts), "own_label")
        .withColumn("n_relevant", (F.col("n_label") - 1).cast("bigint"))
    )
    return per_q.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("own_label").cast("bigint").alias("label"),
        "n_relevant",
        F.coalesce(F.col("first_rel"), F.lit(0)).cast("bigint").alias(
            "first_rel_rank"
        ),
        F.round(
            F.when(
                F.col("first_rel").isNotNull(), F.lit(1.0) / F.col("first_rel")
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("mrr"),
        "hits_at_k",
        F.round(
            F.when(
                F.col("n_relevant") > 0, F.col("dcg9") / idcg_case
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("ndcg_at_k"),
    )


def mmr_select(
    embeddings: DataFrame,
    query_id: int = 0,
    k: int = 3,
    pool: int = 20,
    lam_pct: int = 70,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Maximal Marginal Relevance selection: greedily pick ``k`` vectors
    maximizing ``λ·relevance − (1−λ)·max-similarity-to-already-selected``
    — the diversity-aware retrieval/sampling step (near-duplicates of an
    already-picked result are penalized out).

    Plan shape: the CORPUS pays exactly one broadcast-query scan (the q26
    relevance top-``pool``); the greedy loop then runs entirely on the
    ``pool``-row candidate relation, collecting one winner row per step —
    ``k`` driver rows total, the same bounded-collect class as the IVF
    centroid pull.  Scores are rounded to 6 dp with an id tiebreak before
    every argmax (the float convention every embedding oracle here uses),
    so selection is deterministic and engine-portable.
    """
    lam = lam_pct / 100.0
    e = with_norm(embeddings, vec_col, id_col)
    qv = F.broadcast(
        e.filter(F.col(id_col) == query_id).select(
            F.col("v").alias("qv"), F.col("norm").alias("qnorm")
        )
    )
    rel = F.round(
        _dot(F.col("qv"), F.col("v")) / (F.col("qnorm") * F.col("norm")), 6
    )
    cand = (
        e.filter(F.col(id_col) != query_id)
        .crossJoin(qv)
        .select(F.col(id_col).alias("vid"), "v", "norm", rel.alias("rel"))
        .orderBy(F.desc("rel"), F.asc("vid"))
        .limit(pool)
        .persist()  # the greedy loop re-reads this pool-row relation k times
    )
    spark = embeddings.sparkSession
    selected: list = []  # (rank, vid, rel, score, v, norm)
    for step in range(1, k + 1):
        remaining = cand.filter(
            ~F.col("vid").isin([s[1] for s in selected])
            if selected
            else F.lit(True)
        )
        if not selected:
            scored = remaining.withColumn(
                "mmr_score", F.round(F.col("rel") * lam, 6)
            )
        else:
            sel_df = F.broadcast(
                spark.createDataFrame(
                    [(s[4], s[5]) for s in selected], ["sv", "snorm"]
                )
            )
            maxsim = (
                remaining.crossJoin(sel_df)
                .withColumn(
                    "sim",
                    F.round(
                        _dot(F.col("sv"), F.col("v"))
                        / (F.col("snorm") * F.col("norm")),
                        6,
                    ),
                )
                .groupBy("vid", "rel", "v", "norm")
                .agg(F.max("sim").alias("maxsim"))
            )
            scored = maxsim.withColumn(
                "mmr_score",
                F.round(
                    F.col("rel") * lam - F.col("maxsim") * (1.0 - lam), 6
                ),
            )
        win = scored.orderBy(F.desc("mmr_score"), F.asc("vid")).limit(1).collect()[0]
        selected.append(
            (step, win["vid"], win["rel"], win["mmr_score"], win["v"], win["norm"])
        )
    cand.unpersist()
    return spark.createDataFrame(
        [(s[0], s[1], float(s[2]), float(s[3])) for s in selected],
        "rank bigint, vec_id bigint, relevance double, mmr_score double",
    )


def bucket_balance(
    embeddings: DataFrame,
    num_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN-index balance audit: the hyperplane bucket-size distribution in
    one row — max/min bucket and the imbalance factor (max vs perfectly
    even, milli). A skewed index means hot probe partitions at serving
    time; this is the q146 hot-keys probe specialized to the semantic
    bucket key.

    Integer-exact; one bucket aggregation (≤2^planes keys) after the
    scan-stage projection."""
    b = semantic_buckets(
        embeddings, num_planes, vec_col=vec_col, id_col=id_col
    )
    sizes = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("sz"))
    return sizes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum("sz").cast("bigint").alias("n_vecs"),
        F.max("sz").cast("bigint").alias("max_bucket"),
        F.min("sz").cast("bigint").alias("min_bucket"),
    ).select(
        "n_buckets",
        "n_vecs",
        "max_bucket",
        "min_bucket",
        F.expr("(max_bucket * n_buckets * 1000) div n_vecs")
        .cast("bigint")
        .alias("imbalance_milli"),
    )


def centroid_drift(
    embeddings: DataFrame,
    documents: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    source_col: str = "source",
) -> DataFrame:
    """Per-source embedding drift: cosine between each source's centroid
    and the global centroid — 'does this slice live in a different part of
    embedding space'. The slice-level health check next to q85's label
    purity and q92's score-space PSI.

    Exactness: centroid components via the q85 integer-nano mean (rounded
    to 6dp — order-independent); cosines rounded to 6dp.

    Scale: one (source × dim) mergeable-mean shuffle (corpus-independent
    width), the global centroid derived from the same relation, cosines on
    the |sources| grain."""
    joined = embeddings.join(
        documents.select(
            F.col("doc_id").alias(id_col), F.col(source_col).alias("src")
        ),
        id_col,
    )
    dims = joined.select(
        "src", F.posexplode(_vec_double(vec_col)).alias("dim", "x")
    )
    x_nano = F.round(F.col("x") * 1e9).cast("bigint")
    per_dim = dims.groupBy("src", "dim").agg(
        F.sum(x_nano).alias("s"), F.count(F.lit(1)).alias("n")
    )
    src_cent = (
        per_dim.withColumn(
            "c", F.round(F.col("s") / F.col("n") / F.lit(1e9), 6)
        )
        .groupBy("src")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "c"))),
                lambda s: s["c"],
            ).alias("cvec"),
            F.first("n").cast("bigint").alias("n_vecs"),
        )
    )
    glob_cent = (
        per_dim.groupBy("dim")
        .agg(
            F.round(F.sum("s") / F.sum("n") / F.lit(1e9), 6).alias("c")
        )
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "c"))),
                lambda s: s["c"],
            ).alias("gvec")
        )
    )
    return src_cent.crossJoin(F.broadcast(glob_cent)).select(
        F.col("src").alias("source"),
        "n_vecs",
        F.round(
            _dot(F.col("cvec"), F.col("gvec"))
            / (
                F.sqrt(_dot(F.col("cvec"), F.col("cvec")))
                * F.sqrt(_dot(F.col("gvec"), F.col("gvec")))
            ),
            6,
        ).alias("drift_cos"),
    )


def jl_projection_audit(
    embeddings: DataFrame,
    proj_planes: int = 16,
    max_docs: int = 100,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Johnson–Lindenstrauss distance-preservation audit: project vectors
    onto ``proj_planes`` deterministic ±1 hyperplanes (the q56 sign
    matrix, kept as signed PROJECTION VALUES rather than sign bits) and
    measure how well pairwise cosine survives — the go/no-go check before
    shipping a dimensionality-reduced index.

    Exactness end-to-end: vectors quantize to integer fixed-point
    (SEM_SCALE), projections and dot products are INTEGER sums (order-
    independent in any engine), and only the final cosine divides in
    double and rounds to 6 dp. The audit sample is the q136 capped
    smallest-hash-bucket subset, so the O(sample²) pair set is a fixed
    budget, never corpus-scale.

    Output one row: (n_docs, n_pairs, mean_abs_err, max_abs_err)."""
    signs = hyperplane_signs(proj_planes, dim, seed="jl")
    c = F.col(vec_col)
    vq = F.transform(
        c, lambda x: F.floor(x.cast("double") * SEM_SCALE).cast("bigint")
    )
    proj_cols = [
        F.aggregate(
            F.zip_with(
                F.col("vq"),
                F.array(*[F.lit(int(s)) for s in signs[j]]),
                lambda x, y: x * y,
            ),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )
        for j in range(proj_planes)
    ]
    bucket = F.expr(
        "cast(conv(substring(md5(concat('jl:', cast(vid as string))), 1, 8),"
        " 16, 10) as bigint) % 1000000"
    )
    sample = (
        embeddings.select(F.col(id_col).alias("vid"), vq.alias("vq"))
        .withColumn("b", bucket)
        .orderBy("b", "vid")
        .limit(max_docs)
        .withColumn("pv", F.array(*proj_cols))
    )
    sample = share_relation(sample)

    def _idot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )

    a = sample.alias("a")
    b = sample.alias("b")
    pairs = a.join(b, F.col("a.vid") < F.col("b.vid")).select(
        F.round(
            _idot(F.col("a.vq"), F.col("b.vq")).cast("double")
            / (
                F.sqrt(_idot(F.col("a.vq"), F.col("a.vq")).cast("double"))
                * F.sqrt(_idot(F.col("b.vq"), F.col("b.vq")).cast("double"))
            ),
            6,
        ).alias("cos_o"),
        F.round(
            _idot(F.col("a.pv"), F.col("b.pv")).cast("double")
            / (
                F.sqrt(_idot(F.col("a.pv"), F.col("a.pv")).cast("double"))
                * F.sqrt(_idot(F.col("b.pv"), F.col("b.pv")).cast("double"))
            ),
            6,
        ).alias("cos_p"),
    )
    err9 = F.round(F.abs(F.col("cos_p") - F.col("cos_o")) * 1e9).cast(
        "bigint"
    )
    return (
        pairs.select(err9.alias("e9"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(F.sum("e9") / F.count(F.lit(1)) / F.lit(1e9), 6).alias(
                "mean_abs_err"
            ),
            F.round(F.max("e9") / F.lit(1e9), 6).alias("max_abs_err"),
        )
        .select(
            F.lit(int(max_docs)).cast("bigint").alias("n_docs_cap"),
            "n_pairs",
            "mean_abs_err",
            "max_abs_err",
        )
    )


def twonn_intrinsic_dim(
    embeddings: DataFrame,
    max_docs: int = 200,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """TwoNN intrinsic-dimension estimate (Facco et al. 2017): for each
    sampled point the ratio μ = d₂/d₁ of its two nearest-neighbor
    distances, and the MLE d̂ = n / Σ ln μ — the "how many effective
    dimensions does this embedding space actually use" audit that decides
    whether an aggressive projection (q192's JL) is safe.

    Runs on the q136 capped smallest-md5-bucket sample, so the O(sample²)
    distance set is a fixed budget at any corpus size; the per-point
    nearest-two window partitions by sample point (≤``max_docs`` rows
    each). Distances are exact integer squared-L2 in SEM_SCALE fixed
    point; zero-distance duplicates are excluded from the MLE. Only the
    final ln/division is float. Output one row:
    (n_docs_cap, n_used, sum_log_mu, intrinsic_dim)."""
    c = F.col(vec_col)
    vq = F.transform(
        c, lambda x: F.floor(x.cast("double") * SEM_SCALE).cast("bigint")
    )
    bucket = F.expr(
        "cast(conv(substring(md5(concat('nn:', cast(vid as string))), 1, 8),"
        " 16, 10) as bigint) % 1000000"
    )
    sample = (
        embeddings.select(F.col(id_col).alias("vid"), vq.alias("vq"))
        .withColumn("b", bucket)
        .orderBy("b", "vid")
        .limit(max_docs)
    )
    sample = share_relation(sample)
    a = sample.alias("a")
    b = sample.alias("b")
    d2 = F.aggregate(
        F.zip_with(
            F.col("a.vq"), F.col("b.vq"), lambda x, y: (x - y) * (x - y)
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    pairs = a.join(b, F.col("a.vid") != F.col("b.vid")).select(
        F.col("a.vid").alias("vid"),
        F.col("b.vid").alias("nid"),
        d2.alias("dist2"),
    )
    w = Window.partitionBy("vid").orderBy("dist2", "nid")
    two = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .groupBy("vid")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("dist2"))).alias("d1"),
            F.min(F.when(F.col("rn") == 2, F.col("dist2"))).alias("d2"),
        )
        .filter(F.col("d1") > 0)
        .select(
            (
                F.log(F.col("d2").cast("double") / F.col("d1").cast("double"))
                / 2.0
            ).alias("log_mu")
        )
    )
    return two.agg(
        F.lit(int(max_docs)).cast("bigint").alias("n_docs_cap"),
        F.count(F.lit(1)).cast("bigint").alias("n_used"),
        F.round(F.sum("log_mu"), 6).alias("sum_log_mu"),
        F.round(F.count(F.lit(1)) / F.sum("log_mu"), 6).alias(
            "intrinsic_dim"
        ),
    )


def top_eigen_share(
    embeddings: DataFrame,
    iters: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-eigenvalue share of the embedding covariance by DISTRIBUTED
    power iteration: how much variance the first principal component
    explains — near 1 means the space has collapsed to a line (an
    embedding-health red flag); near 1/d means isotropy.

    The corpus contributes exactly one covariance aggregation (q96's
    moment relation, d²-grain output rounded to 6dp so both engines
    iterate on IDENTICAL matrices); the power iterations are ``iters``
    broadcast joins of the d-row vector against the d²-row matrix — the
    q196 bounded-grain walk, no driver-side linear algebra and nothing
    corpus-sized after the first agg. Rayleigh quotient at the end; the
    all-ones start vector is deterministic. Output one row:
    (iters, top_eigen, trace, explained_share)."""
    upper = embedding_covariance(embeddings, vec_col, id_col)
    cov = upper.select(
        F.col("dim_i").alias("i"), F.col("dim_j").alias("j"), "cov"
    ).unionByName(
        upper.filter(F.col("dim_i") != F.col("dim_j")).select(
            F.col("dim_j").alias("i"), F.col("dim_i").alias("j"), "cov"
        )
    )
    cov = share_relation(cov)
    v = cov.select(F.col("i").alias("d")).distinct().select(
        "d", F.lit(1.0).alias("val")
    )
    for it in range(iters):
        va, ca = f"ev{it}", f"ec{it}"
        v = (
            cov.alias(ca)
            .join(
                F.broadcast(v.alias(va)),
                F.col(f"{ca}.j") == F.col(f"{va}.d"),
            )
            .groupBy(F.col(f"{ca}.i").alias("d"))
            .agg(F.sum(F.col(f"{ca}.cov") * F.col(f"{va}.val")).alias("val"))
        )
    v = share_relation(v)
    u = (
        cov.alias("fc")
        .join(F.broadcast(v.alias("fv")), F.col("fc.j") == F.col("fv.d"))
        .groupBy(F.col("fc.i").alias("d"))
        .agg(F.sum(F.col("fc.cov") * F.col("fv.val")).alias("uval"))
    )
    ray = (
        v.join(u, "d")
        .agg(
            F.sum(F.col("uval") * F.col("val")).alias("num"),
            F.sum(F.col("val") * F.col("val")).alias("den"),
        )
        .select((F.col("num") / F.col("den")).alias("lam"))
    )
    trace = cov.filter(F.col("i") == F.col("j")).agg(
        F.sum("cov").alias("trace")
    )
    return ray.crossJoin(F.broadcast(trace)).select(
        F.lit(int(iters)).cast("bigint").alias("iters"),
        F.round("lam", 6).alias("top_eigen"),
        F.round("trace", 6).alias("trace"),
        F.round(F.col("lam") / F.col("trace"), 6).alias("explained_share"),
    )


def hubness_audit(
    embeddings: DataFrame,
    k: int = 3,
    max_docs: int = 200,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Hubness audit: the in-degree distribution of the kNN graph on a
    capped sample — in high-dimensional (or anisotropic, see q203)
    spaces a few "hub" points appear in everyone's neighbor list and
    silently dominate retrieval; skew here predicts degraded ANN quality
    before any recall test shows it.

    q136-capped O(sample²) exact integer distances, per-point top-k via a
    window partitioned by query point (≤max_docs rows each), then the
    in-degree census on the bounded degree grain. Output one row:
    (n_docs, k, max_in_degree, zero_in_degree, skew = max/k)."""
    c = F.col(vec_col)
    vq = F.transform(
        c, lambda x: F.floor(x.cast("double") * SEM_SCALE).cast("bigint")
    )
    bucket = F.expr(
        "cast(conv(substring(md5(concat('hub:', cast(vid as string))), 1, 8),"
        " 16, 10) as bigint) % 1000000"
    )
    sample = (
        embeddings.select(F.col(id_col).alias("vid"), vq.alias("vq"))
        .withColumn("b", bucket)
        .orderBy("b", "vid")
        .limit(max_docs)
    )
    sample = share_relation(sample)
    a = sample.alias("a")
    b = sample.alias("b")
    d2 = F.aggregate(
        F.zip_with(
            F.col("a.vq"), F.col("b.vq"), lambda x, y: (x - y) * (x - y)
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    pairs = a.join(b, F.col("a.vid") != F.col("b.vid")).select(
        F.col("a.vid").alias("src"),
        F.col("b.vid").alias("dst"),
        d2.alias("dist2"),
    )
    w = Window.partitionBy("src").orderBy("dist2", "dst")
    knn = pairs.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )
    indeg = knn.groupBy("dst").agg(F.count(F.lit(1)).alias("deg"))
    n_pts = sample.select(F.count(F.lit(1)).alias("n"))
    return (
        indeg.agg(
            F.max("deg").alias("max_deg"),
            F.count(F.lit(1)).alias("n_with_in"),
        )
        .crossJoin(F.broadcast(n_pts))
        .select(
            F.col("n").cast("bigint").alias("n_docs"),
            F.lit(int(k)).cast("bigint").alias("k"),
            F.col("max_deg").cast("bigint").alias("max_in_degree"),
            (F.col("n") - F.col("n_with_in"))
            .cast("bigint")
            .alias("zero_in_degree"),
            F.round(F.col("max_deg") / F.lit(float(k)), 6).alias("skew"),
        )
    )


def label_lang_cramers_v(
    embeddings: DataFrame,
    documents: DataFrame,
    id_col: str = "vec_id",
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """Cramér's V between the embedding-table cluster labels and the
    document-table language — the cross-TABLE provenance audit: if the
    embeddings really encode these documents, semantic clusters should
    associate with language far above chance; V ≈ 0 says the two tables
    have drifted apart (wrong join keys, stale embedding run).

    One equi-join on the id key (uniform keys), one agg to the dense
    |labels|×|langs| grid; the chi² sum runs on that bounded grid with
    DECIMAL(38) cross-products (n_lc·n — marginal products overflow int64
    at corpus scale). Output one row:
    (n_pairs, n_labels, n_langs, chi2, cramers_v)."""
    joined = embeddings.select(
        F.col(id_col).alias("id"), F.col("label")
    ).join(
        documents.select(F.col(doc_id_col).alias("id"), F.col("lang")),
        "id",
    )
    cells = joined.groupBy("label", "lang").agg(
        F.count(F.lit(1)).alias("n_lc")
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wl = Window.partitionBy("label")
    wc = Window.partitionBy("lang")
    d38 = "decimal(38,0)"
    grid = cells.select(
        "n_lc",
        F.sum("n_lc").over(wl).alias("n_l"),
        F.sum("n_lc").over(wc).alias("n_c"),
        F.sum("n_lc").over(tot).alias("n"),
        F.size(F.collect_set("label").over(tot)).alias("k_labels"),
        F.size(F.collect_set("lang").over(tot)).alias("k_langs"),
    )
    # chi² over ALL cells — including EMPTY ones, which a naive
    # observed-cell sum of (o−e)²/e silently drops — via the identity
    # chi² = Σ_obs n·n_lc²/(n_l·n_c) − n (empty cells contribute 0 to the
    # sum; their expected mass is the subtracted n). DECIMAL(38) numerator:
    # n·n_lc² overflows int64 at corpus scale.
    term = (
        F.col("n").cast(d38)
        * F.col("n_lc").cast(d38)
        * F.col("n_lc").cast(d38)
    ).cast("double") / (
        F.col("n_l").cast("double") * F.col("n_c").cast("double")
    )
    agg = grid.select(
        "n", "k_labels", "k_langs", term.alias("t")
    ).agg(
        F.max("n").alias("n"),
        F.max("k_labels").alias("kl"),
        F.max("k_langs").alias("kc"),
        (F.sum("t") - F.max("n")).alias("chi2"),
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n_pairs"),
        F.col("kl").cast("bigint").alias("n_labels"),
        F.col("kc").cast("bigint").alias("n_langs"),
        F.round("chi2", 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2")
                / (F.col("n") * (F.least("kl", "kc") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


def centroid_silhouette(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
) -> DataFrame:
    """Simplified (centroid-based) silhouette per cluster: for every vector,
    a = euclidean distance to its own label's centroid, b = min distance to
    any other centroid, s = (b − a) / max(a, b); report per label the member
    count and the mean s, a, b. The standard medoid-free clustering-quality
    score — O(n·k) instead of the O(n²) pairwise silhouette, which is the
    only version that exists at corpus scale.

    Cross-engine determinism: centroids use the nano-unit integer mean
    (centroid_purity's scheme), then BOTH the vector and centroid components
    are snapped to micro-unit integers, so every squared distance is an
    exact bigint (components ≲100 keep Σdiff² < 2^63 at 64 dims); dist =
    round(sqrt(d2)/1e6, 6) is then the same double in any engine, and the
    per-cluster means sum micro-int silhouettes (order-independent).

    Scale shape: centroids are a (labels × dim)-grain mergeable mean; the
    k-row centroid relation broadcasts; a/b is a k-way fold inside the scan
    stage; the final agg grain is k labels. The corpus is never shuffled."""
    base = embeddings.select(
        F.col(id_col),
        F.col(label_col).alias("true_label"),
        F.transform(
            _vec_double(vec_col),
            lambda x: F.round(x * 1e6).cast("bigint"),
        ).alias("vm"),
    )
    dims = embeddings.select(
        F.col(label_col).alias("clabel"),
        F.posexplode(_vec_double(vec_col)).alias("dim", "x"),
    )
    x_nano = F.round(F.col("x") * 1e9).cast("bigint")
    cents = (
        dims.groupBy("clabel", "dim")
        .agg(
            F.round(F.sum(x_nano) / F.count(F.lit(1)) / F.lit(1e9), 6).alias("c")
        )
        .groupBy("clabel")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "c"))),
                lambda s: F.round(s["c"] * 1e6).cast("bigint"),
            ).alias("cm")
        )
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("vm"), F.col("cm"), lambda x, c: (x - c) * (x - c)
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    dist = F.round(F.sqrt(d2) / F.lit(1e6), 6)
    scored = base.join(F.broadcast(cents)).select(
        id_col,
        "true_label",
        "clabel",
        dist.alias("d"),
    )
    ab = scored.groupBy(id_col, "true_label").agg(
        F.min(
            F.when(F.col("clabel") == F.col("true_label"), F.col("d"))
        ).alias("a"),
        F.min(
            F.when(F.col("clabel") != F.col("true_label"), F.col("d"))
        ).alias("b"),
    )
    s = F.when(
        F.greatest("a", "b") > 0,
        F.round((F.col("b") - F.col("a")) / F.greatest("a", "b"), 6),
    ).otherwise(F.lit(0.0))
    micro = lambda c: F.round(c * 1e6).cast("bigint")  # noqa: E731
    return (
        ab.select("true_label", micro(s).alias("sm"), micro(F.col("a")).alias("am"),
                  micro(F.col("b")).alias("bm"))
        .groupBy("true_label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.round(F.sum("sm") / F.count(F.lit(1)) / F.lit(1e6), 6).alias(
                "mean_silhouette"
            ),
            F.round(F.sum("am") / F.count(F.lit(1)) / F.lit(1e6), 6).alias(
                "mean_intra"
            ),
            F.round(F.sum("bm") / F.count(F.lit(1)) / F.lit(1e6), 6).alias(
                "mean_inter"
            ),
        )
        .select(
            F.col("true_label").cast("bigint").alias("label"),
            "n_members",
            "mean_silhouette",
            "mean_intra",
            "mean_inter",
        )
    )


def top2_eigen_share(
    embeddings: DataFrame,
    iters: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-TWO eigenvalues of the embedding covariance by power iteration
    with deflation: λ1 first, then the same loop on the deflated matrix
    C − λ1·v1·v1ᵀ for λ2. The pair answers what λ1 alone cannot: whether
    the space collapsed to a LINE (share1 high, λ2/λ1 tiny) or to a PLANE
    (both shares high) — different repair actions (recenter vs re-train).

    Scale shape: the corpus contributes exactly ONE distributed
    aggregation (the d²-grain covariance, mergeable, map-side combined);
    the d×d eigensolve runs driver-side on the collected matrix — the
    :func:`pca_top_component` boundary (d² values is driver-sized by
    construction, like IVF centroids). Executors never see a power
    iteration; an earlier all-executor formulation spent minutes in
    Catalyst analysis alone (each deflated-stage iteration re-embedded
    the stage-1 plan) and 10 s of job overhead after checkpointing.

    Cross-engine determinism: the covariance is 6dp-rounded (both engines
    iterate on IDENTICAL matrices); the unit v1, λ1, and the deflated
    matrix are re-rounded to 6dp with HALF_UP (java.math.BigDecimal
    semantics, matching SQL ROUND) before stage 2, so float drift cannot
    compound across stages.

    Output one row: (iters, eigen1, eigen2, trace, share1, share2,
    top2_share)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    def r6(x: float) -> float:
        # SQL ROUND(x, 6): half away from zero on the double's exact
        # binary value (Spark routes doubles through BigDecimal HALF_UP);
        # +0.0 canonicalizes -0.0
        return float(
            Decimal(x).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        ) + 0.0

    rows = embedding_covariance(embeddings, vec_col, id_col).collect()
    d = max(int(r["dim_j"]) for r in rows) + 1
    c = [[0.0] * d for _ in range(d)]
    for row in rows:
        i, j = int(row["dim_i"]), int(row["dim_j"])
        c[i][j] = row["cov"]
        c[j][i] = row["cov"]

    def power(mat: list, n: int) -> list:
        v = [1.0] * d
        for _ in range(n):
            v = [
                sum(mat[i][j] * v[j] for j in range(d)) for i in range(d)
            ]
        return v

    def rayleigh(mat: list, v: list) -> float:
        den = sum(x * x for x in v)
        if den <= 0:
            return 0.0
        u = [sum(mat[i][j] * v[j] for j in range(d)) for i in range(d)]
        return r6(sum(u[i] * v[i] for i in range(d)) / den)

    v_raw = power(c, iters)
    nrm = math.sqrt(sum(x * x for x in v_raw))
    v1 = [r6(x / nrm) if nrm > 0 else 0.0 for x in v_raw]
    lam1 = rayleigh(c, v1)
    c2 = [
        [r6(c[i][j] - lam1 * v1[i] * v1[j]) for j in range(d)]
        for i in range(d)
    ]
    lam2 = rayleigh(c2, power(c2, iters))
    trace = sum(c[i][i] for i in range(d))

    spark = embeddings.sparkSession
    out = spark.createDataFrame(
        [(int(iters), r6(lam1), r6(lam2), r6(trace), r6(lam1 / trace),
          r6(lam2 / trace), r6((lam1 + lam2) / trace))],
        "iters bigint, eigen1 double, eigen2 double, trace double, "
        "share1 double, share2 double, top2_share double",
    )
    return out


def linear_mmd(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Linear maximum-mean-discrepancy between every label pair:
    MMD² = ‖μ_a − μ_b‖² over 6dp-rounded per-label mean vectors, with a
    pooled dispersion scale √(v_a/n_a + v_b/n_b) (v = E‖x−μ‖²) and their
    ratio — the quick two-sample separation test for embedding groups
    (does the 'en' cluster actually differ from 'fr', is a label split
    drifting). q261's silhouette scores MEMBER assignment quality; MMD
    compares the DISTRIBUTIONS' first moments with a variance yardstick.

    Scale shape: one (label × dim) mergeable mean agg and one label-grain
    second-moment agg — the corpus is touched once; all pairwise math
    happens on the |labels|²×d bounded grain. Means round to 6dp before
    the pairwise step so both engines difference identical vectors.

    Output per pair: (label_a, label_b, n_a, n_b, mmd2, pooled_scale,
    ratio)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = embeddings.select(
        F.col(label_col).alias("lab"), v.alias("v")
    ).select("lab", F.posexplode("v").alias("d", "x"))
    means = (
        base.groupBy("lab", "d")
        .agg(F.sum("x").alias("sx"), F.count(F.lit(1)).alias("n"))
        .select(
            "lab",
            "d",
            "n",
            (F.round(F.col("sx") / F.col("n"), 6) + F.lit(0.0)).alias("m"),
        )
    )
    means = share_relation(means)
    # v_g = E‖x‖² − ‖μ‖² from the same moment relation family
    sq = base.groupBy("lab").agg(
        F.sum(F.col("x") * F.col("x")).alias("sxx")
    )
    norms = means.groupBy("lab").agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum(F.col("m") * F.col("m")).alias("mu2"),
    )
    disp = sq.join(norms, "lab").select(
        "lab",
        "n",
        # sxx is summed over n·d cells; E‖x‖² = sxx / n
        (F.col("sxx") / F.col("n") - F.col("mu2")).alias("vg"),
    )
    ma = means.select(
        F.col("lab").alias("la"), "d", F.col("m").alias("mx")
    )
    mb = means.select(
        F.col("lab").alias("lb"), "d", F.col("m").alias("my")
    )
    mmd = (
        ma.join(mb, "d")
        .filter(F.col("la") < F.col("lb"))
        .groupBy("la", "lb")
        .agg(
            F.sum((F.col("mx") - F.col("my")) ** 2).alias("mmd2")
        )
    )
    da = disp.select(
        F.col("lab").alias("la"),
        F.col("n").alias("n_a"),
        F.col("vg").alias("va"),
    )
    db = disp.select(
        F.col("lab").alias("lb"),
        F.col("n").alias("n_b"),
        F.col("vg").alias("vb"),
    )
    return (
        mmd.join(F.broadcast(da), "la")
        .join(F.broadcast(db), "lb")
        .select(
            F.col("la").alias("label_a"),
            F.col("lb").alias("label_b"),
            "n_a",
            "n_b",
            F.round("mmd2", 6).alias("mmd2"),
            F.round(
                F.sqrt(F.col("va") / F.col("n_a") + F.col("vb") / F.col("n_b")),
                6,
            ).alias("pooled_scale"),
            # two dispersion-free groups (both constant) have no scale to
            # compare against: NULL, not a divide error
            F.when(
                F.col("va") / F.col("n_a") + F.col("vb") / F.col("n_b") > 0,
                F.round(
                    F.col("mmd2")
                    / (F.col("va") / F.col("n_a") + F.col("vb") / F.col("n_b")),
                    6,
                ),
            ).alias("ratio"),
        )
    )
