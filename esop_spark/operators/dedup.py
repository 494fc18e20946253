"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Generalizes the reference's content-addressed dedup (immutable SSTables keyed
by `<generation>-<digest>`, /root/reference/core/src/main/java/com/instaclustr/esop/impl/SSTableUtils.java:48-74
and the upload-skip anti-join UploadTracker.java:106-124) to document corpora.

Scale design:
- Exact dedup is one hash-shuffle on the content key (uniformly distributed —
  no skew) with map-side partial aggregation.
- N-gram Jaccard is exact but O(pairs-sharing-a-shingle); usable as the
  verifier stage. The scale path is MinHash+LSH: candidate generation via
  band-bucket equi-join (shuffle on (band, bucket), tunable collision rate),
  then exact-Jaccard verification of candidates only.
- SimHash uses pigeonhole banding: pairs within Hamming distance h must agree
  on at least one of (h+1) disjoint chunks, so candidate generation is again
  an equi-join, never a cross join.
- Everything is JVM-side (higher-order functions, xxhash64, bit ops) — no
  Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.storagelevel import StorageLevel

from esop_spark.operators.graph import connected_components
from esop_spark.operators.iterate import (
    release_shared_relations,  # re-exported: bench.py, tools/, perfbench/
    share_relation,
    shared_checkpoint,
)
from esop_spark.plans.barriers import pin_projection_barrier

# 31-bit hash domain: a*x+b stays < 2^62, safe under ANSI int64 arithmetic.
HASH_P = 2147483647  # 2^31 - 1 (Mersenne prime)


def md5_hash32(col: Column) -> Column:
    """Cross-engine 32-bit hash: first 8 hex chars of md5, parsed as int.

    Exists so the seeded MinHash/SimHash families are reproducible OUTSIDE
    Spark: DuckDB computes the identical value as
    ``CAST(concat('0x', substr(md5(x), 1, 8)) AS BIGINT)``, which is what
    lets q22/q24 run against a full SQL oracle. xxhash64 stays the default
    family for production (one JVM intrinsic vs md5's digest cost)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """The seeded (a_i, b_i) family shared by the Spark operator and any
    external replication (the oracle SQL inlines these as literals)."""
    rnd = __import__("random").Random(42)
    return [
        (rnd.randrange(1, HASH_P), rnd.randrange(0, HASH_P))
        for _ in range(num_hashes)
    ]


def _element_hash(col_name: str, hash_family: str) -> Column:
    if hash_family == "md5":
        return md5_hash32(F.col(col_name))
    return F.xxhash64(col_name)


def dedup_exact(df: DataFrame, key: Column, id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on a content key: one representative (min id) per group.

    Returns (dedup_key, canonical_id, n_dups). A single hash aggregation —
    the Spark-idiomatic `dropDuplicates` generalization that also reports
    group sizes.
    """
    return (
        df.select(key.alias("dedup_key"), F.col(id_col))
        .groupBy("dedup_key")
        .agg(
            F.min(id_col).cast("bigint").alias("canonical_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_dups"),
        )
    )


def _shingle_array_expr(n: int) -> str:
    # Operates on a pre-materialized `words` array column — referencing
    # split(text) inside the lambda would re-split the text for every
    # sequence element (O(words²) per document).
    # NULL-pad + filter instead of sequence(1, size-n+1): Spark's sequence()
    # produces a DESCENDING range when size < n, which would fabricate shingles.
    return (
        f"array_distinct(filter(transform(sequence(1, size(words)),"
        f" i -> IF(i + {n - 1} <= size(words),"
        f" concat_ws(' ', slice(words, i, {n})), NULL)),"
        f" x -> x IS NOT NULL))"
    )


def _words(documents: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return documents.select(F.col(id_col), F.split(F.col(text_col), " ").alias("words"))


def shingles(documents: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    One projection + one generate, nothing else: carrying extra per-doc
    state (e.g. a precomputed shingle count) through the explode was
    MEASURED 3× slower at sf0.1 — the wider shuffle rows and the duplicated
    array expression cost more than the two broadcast-able counts joins
    they would have saved. Per-doc counts come from the separate
    :func:`doc_shingle_counts` narrow projection instead.
    """
    return _words(documents, text_col, id_col).select(
        F.col(id_col),
        F.explode(F.expr(_shingle_array_expr(n))).alias("shingle"),
    )


def doc_shingle_counts(
    documents: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct-shingle count per document as a PURE projection: (id, n_sh).

    `size(array_distinct(...))` straight off the scan — no explode, no
    shuffle. Replacing the former `shingles.groupBy(id).count()` (which
    re-ran the shingle pipeline AND shuffled the full exploded relation)
    with this cut q23 from 3.6s to 2.6s at sf0.1."""
    return _words(documents, text_col, id_col).select(
        F.col(id_col), F.size(F.expr(_shingle_array_expr(n))).alias("n_sh")
    )


def _jaccard_from_shared(
    shared: DataFrame, counts: DataFrame, threshold: float, id_col: str
) -> DataFrame:
    """(id_a, id_b, shared) + per-doc shingle totals (id, n_sh) → exact
    jaccard ≥ threshold. Tail stage shared by every dedup path; the counts
    relation is one row per doc and AQE broadcast-joins it at runtime.

    Round 11 A/B note: persisting ``counts`` here (it is consumed twice)
    measured FLAT across the family (q23 2.87→2.93, q22 1.73→1.69,
    q302 1.60→1.47, q304 6.73→6.34 min-of-5) — the narrow no-explode
    projection recomputes as cheaply as the materialize+read round trip —
    and was not kept."""
    ca = counts.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        shared.join(ca, "id_a")
        .join(cb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("shared")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _verify_jaccard(
    candidates: DataFrame, sh: DataFrame, counts: DataFrame, threshold: float, id_col: str
) -> DataFrame:
    """Exact-Jaccard verification of a candidate pair list against the FULL
    hashed-shingle relation ``sh = (id, sh)``: shared counts come from
    joining shingles to the candidates (cost ∝ candidates ×
    shingles-per-doc, never all-pairs). Shared by the df-capped exact path
    and the MinHash-LSH path."""
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    shared = (
        candidates.join(sa, "id_a")
        .join(
            sb.withColumnRenamed("id_b", "_idb"),
            (F.col("id_b") == F.col("_idb")) & (F.col("sh_a") == F.col("sh_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return _jaccard_from_shared(shared, counts, threshold, id_col)


def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """N-gram Jaccard similarity pairs ≥ threshold; Jaccard values are exact.

    shingle → self-equi-join on shingle → candidate pairs → exact verify.
    ``max_df`` prunes the candidate INDEX: shingles occurring in more than
    max_df documents are excluded from the self-join (the standard
    hot-shingle cap — a df-:math:`d` shingle alone contributes d² join
    rows, the Σdf² scale-killer), while verification still counts EVERY
    shared shingle, so reported jaccard values stay exact. A pair is only
    missed if all of its shared shingles are hotter than the cap —
    boilerplate-only overlap, which is exactly what the cap is meant to
    ignore. max_df=None keeps the fully exact one-stage join.

    Verification shape (the capped branch): the shared-shingle count is
    split by key hotness instead of re-joining candidates against the
    full shingle relation. The rare half falls straight out of the
    candidate self-join's aggregation (same shuffle that found the pair),
    and only the HOT half — shingles hotter than max_df, a handful of
    boilerplate keys per document — is counted by joining the candidate
    pairs to the hot postings. shared = shared_rare + shared_hot is the
    exact intersection count (every shared shingle is exactly one of the
    two), but the verify mass drops from candidates × full-doc shingle
    lists (corpus-shaped — the round-6 sf10 rehearsal's worst ratio) to
    candidates × hot-shingles-per-doc.
    """
    # join on a 64-bit shingle hash instead of the shingle string: narrower
    # shuffle rows + cheaper key compare; collision probability over the
    # shingle population is ~n²/2^65 — immaterial to the pair counts.
    sh = shingles(documents, n, text_col, id_col).select(
        id_col, F.xxhash64("shingle").alias("sh")
    )
    counts = doc_shingle_counts(documents, n, text_col, id_col)
    # Join strategy NOTE — SHUFFLE_HASH was measured here and REJECTED:
    # skipping both sort legs won 2x at sf0.1 (2.5-3.4s SMJ -> 1.3-1.4s
    # SHJ) but LOST 2x at sf10 (q23 46.8s -> 93.5s) with GCLocker thrash —
    # 32 concurrent per-task build maps of ~500k entries on one 8 GiB
    # local heap. Sort-merge spills gracefully at any partition size,
    # which is the property that survives a 100x scale-up; revisit only
    # with a size-aware runtime switch (AQE's localMapThreshold gate is
    # tied to the advisory partition size, so it cannot express
    # "SHJ only when partitions are far below advisory").
    a = sh.alias("a")
    b = sh.alias("b")
    if max_df is None:
        # fully exact one-stage: shared counts fall straight out of the
        # self-join aggregation (the exchange is reused for both sides)
        shared = (
            a.join(
                b,
                (F.col("a.sh") == F.col("b.sh"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .groupBy(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .agg(F.count(F.lit(1)).alias("shared"))
        )
        return _jaccard_from_shared(shared, counts, threshold, id_col)
    sh = share_relation(sh)  # reused by the df agg, the capped join, and the hot leg
    # the hot-key list is tiny (df > max_df ⇒ at most |corpus|/max_df keys);
    # checkpoint it eagerly so the document-frequency aggregation runs once
    # for both the anti-join (rare side) and semi-join (hot postings)
    hot_keys = shared_checkpoint(
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("sh")
    )
    rare = sh.join(hot_keys, "sh", "left_anti")
    ra = rare.alias("a")
    rb = rare.alias("b")
    # rare half of the intersection count, straight off the candidate join —
    # candidate-pair-shaped, so the eager checkpoint is bounded by output
    # scale (and feeds two consumers: the hot probe and the final sum);
    # registry-registered so repeated calls in one session don't pin
    # candidate-pair blocks until JVM GC. DISK_ONLY: at a realistic cap
    # (max_df=10⁴ on the boilerplate rehearsal corpus) this relation is
    # ~1.9e8 rows, and the default deserialized MEMORY_AND_DISK block
    # build materializes whole partitions on-heap — 32 concurrent tasks
    # OOM'd the 8 GiB rehearsal heap; DISK_ONLY streams through the
    # serializer instead (the k-core peel's precedent)
    shared_rare = shared_checkpoint(
        ra.join(
            rb,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_rare")),
        storage_level=StorageLevel.DISK_ONLY,
    )
    hot = sh.join(hot_keys, "sh", "left_semi")
    ha = hot.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    hb = hot.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    shared_hot = (
        shared_rare.select("id_a", "id_b")
        .join(ha, "id_a")
        .join(
            hb.withColumnRenamed("id_b", "_idb"),
            (F.col("id_b") == F.col("_idb")) & (F.col("sh_a") == F.col("sh_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_hot"))
    )
    shared = (
        shared_rare.join(shared_hot, ["id_a", "id_b"], "left")
        .select(
            "id_a",
            "id_b",
            (
                F.col("shared_rare") + F.coalesce(F.col("shared_hot"), F.lit(0))
            ).alias("shared"),
        )
    )
    return _jaccard_from_shared(shared, counts, threshold, id_col)


def dedup_clusters(pairs: DataFrame, max_iters: int = 50) -> DataFrame:
    """Connected components over near-duplicate pairs → canonical clusters.

    The missing tail of dedup-at-scale: pair lists (from any of the exact /
    MinHash-LSH / SimHash paths) must be folded into groups so one canonical
    document survives per cluster. The reference's analogue is content-
    addressed identity (one object per sstable id, SSTableUtils.java:48-74);
    for fuzzy duplicates identity is the transitive closure of the pair
    relation.

    A thin wrapper over :func:`graph.connected_components` (a local
    union-find per partition, then one exchange and one eager checkpoint
    per propagation round, convergence observed on that checkpoint): the
    pair columns become the edge relation and the output is cast to
    bigint.

    Input: (id_a, id_b [, ...]) pair DataFrame. Output: one row per
    distinct doc appearing in any pair — (doc_id, cluster_id, cluster_size)
    with cluster_id = min doc_id in the component.
    """
    comp = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        max_iters=max_iters,
    )
    return comp.select(
        F.col("node").cast("bigint").alias("doc_id"),
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
    )


def contamination(
    train: DataFrame,
    test: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-corpus n-gram containment: per test document, the fraction of
    its distinct shingles that appear ANYWHERE in the train corpus — the
    standard decontamination signal for eval/test splits of a training set.

    One distinct over the train shingle relation (global set, hashed keys),
    one LEFT SEMI-ish aggregation join for matches, per-doc totals from the
    narrow :func:`doc_shingle_counts` projection. Both legs are plain hash
    shuffles on a 64-bit shingle hash — uniform keys, no skew; at corpus
    scale the train-distinct side can additionally be bloom-pruned before
    the join, and n is typically raised to 8–13 so the shingle sets shrink.

    Output: (doc_id, n_sh, n_contaminated, contamination) for every test
    document, contamination = matched/n_sh rounded to 6dp (0.0 when the
    document is shorter than one shingle).
    """
    train_sh = (
        shingles(train, n, text_col, id_col)
        .select(F.xxhash64("shingle").alias("sh"))
        .distinct()
    )
    test_sh = shingles(test, n, text_col, id_col).select(
        id_col, F.xxhash64("shingle").alias("sh")
    )
    matched = (
        test_sh.join(train_sh, "sh", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    counts = doc_shingle_counts(test, n, text_col, id_col)
    return (
        counts.join(matched, id_col, "left")
        .select(
            F.col(id_col).cast("bigint").alias(id_col),
            F.col("n_sh").cast("bigint").alias("n_sh"),
            F.coalesce(F.col("n_contaminated"), F.lit(0))
            .cast("bigint")
            .alias("n_contaminated"),
            F.round(
                F.coalesce(F.col("n_contaminated"), F.lit(0))
                / F.greatest(F.col("n_sh"), F.lit(1)),
                6,
            ).alias("contamination"),
        )
    )


def minhash_signatures(
    documents: DataFrame,
    num_hashes: int = 32,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
    base: DataFrame | None = None,
) -> DataFrame:
    """MinHash signatures: h_i(S) = min over shingles of (a_i·x + b_i) mod p,
    x = hash(shingle). All num_hashes minima are computed in ONE hash
    aggregation over the exploded shingle relation (map-side combine).

    ``hash_family="md5"`` switches x to the cross-engine 32-bit md5 hash so
    the whole signature is replicable in plain SQL (the q22 oracle).

    ``base`` (optional) supplies an already-built — typically persisted —
    (id, shingle) relation so LSH callers share one shingle materialization
    across the signature and verification legs."""
    sh = (base if base is not None else shingles(documents, n, text_col, id_col)).withColumn(
        "x", F.pmod(_element_hash("shingle", hash_family), F.lit(HASH_P))
    )
    aggs = [
        F.min((F.col("x") * F.lit(a) + F.lit(b)) % HASH_P).alias(f"h{i}")
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    ]
    return sh.groupBy(id_col).agg(*aggs)


def with_minhash_signature(
    documents: DataFrame,
    num_hashes: int = 32,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Per-ROW minhash signature as a pure projection — no explode, no
    aggregation, no shuffle: h_i = min over the doc's distinct shingles of
    (a_i·x + b_i) mod p, computed with array_min over the shingle array.
    Values are IDENTICAL to :func:`minhash_signatures` (same shingle set,
    same hash family, same coefficients); this form exists for streaming
    callers, where the batch explode→groupBy shape would force a shuffled
    stateful aggregation just to rebuild what is a per-row function.

    The hashed-shingle array is materialized once as an intermediate
    column (Spark does no CSE inside higher-order-function lambdas; naive
    per-h_i lambdas would re-hash every shingle num_hashes times) —
    and pinned behind an ``explode(array(...))`` Generate barrier:
    CollapseProject otherwise merges the two projections and inlines the
    array CONSTRUCTION into every h_i's lambda, re-hashing the shingles
    num_hashes times anyway (measured 18× on the 200-hash weighted
    family; the optimizer cannot collapse across a Generate).

    Docs with < n words have no shingles: their minima are NULL (the
    batch groupBy simply has no row) — rows where h0 IS NULL are dropped,
    matching the batch relation exactly.

    For BATCH use prefer :func:`minhash_signatures`: the exploded
    aggregation shares its shingle relation with the verification leg,
    which this projection cannot."""

    def _hash_col(c: Column) -> Column:
        return md5_hash32(c) if hash_family == "md5" else F.xxhash64(c)

    xs = F.transform(
        F.expr(_shingle_array_expr(n)),
        lambda s: F.pmod(_hash_col(s), F.lit(HASH_P)),
    )
    sig = (
        # Generate barrier (plans.barriers): CollapseProject cannot inline
        # the array construction into the num_hashes consumers below
        pin_projection_barrier(
            _words(documents, text_col, id_col), xs, "_xsm", id_col
        )
        .select(
            F.col(id_col),
            *[
                F.array_min(
                    F.transform(
                        F.col("_xsm"),
                        lambda x: (x * F.lit(a) + F.lit(b)) % F.lit(HASH_P),
                    )
                ).alias(f"h{i}")
                for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
            ],
        )
    )
    return sig.filter(F.col("h0").isNotNull())


def _weighted_elements_expr(tf_cap: int) -> str:
    """Per-ROW replicated-element array for the weighted MinHash family:
    the j-th occurrence of word w contributes element "w#j", occurrences
    beyond ``tf_cap`` are dropped — the same {term#1..term#min(tf,cap)}
    set :func:`weighted_minhash_lsh_pairs` builds with its linear
    explode+agg, here as a pure array expression over a ``words`` column.
    O(len²) per document (each position counts its prefix occurrences), so
    this form is for STREAMING callers only — micro-batch rows, no
    shuffle; batch code uses :func:`word_tf`."""
    # element_at is 1-based like the position sequence (words[p] would be
    # 0-based bracket indexing and read one past the end at p = size)
    occ = "size(filter(slice(words, 1, p), x -> x = element_at(words, p)))"
    return (
        f"filter(transform(sequence(1, size(words)), p -> "
        f"IF({occ} <= {tf_cap}, "
        f"concat(element_at(words, p), '#', CAST({occ} AS STRING)), NULL)), "
        f"x -> x IS NOT NULL)"
    )


def with_weighted_minhash_signature(
    documents: DataFrame,
    num_hashes: int = 200,
    tf_cap: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Per-ROW weighted MinHash signature as a pure projection — the
    :func:`with_minhash_signature` analogue for the replicated-element
    (capped-tf) family: values are IDENTICAL to the batch
    :func:`weighted_minhash_lsh_pairs` signature chain (same element set,
    same hash family, same coefficients), so a streamed corpus lands in
    the batch job's band buckets. Exists for streaming callers; batch code
    prefers the explode+agg form, which shares its element relation with
    the verification leg."""

    def _hash_col(c: Column) -> Column:
        return md5_hash32(c) if hash_family == "md5" else F.xxhash64(c)

    xs = F.transform(
        F.expr(_weighted_elements_expr(tf_cap)),
        lambda s: F.pmod(_hash_col(s), F.lit(HASH_P)),
    )
    sig = (
        # Generate barrier (plans.barriers) — see with_minhash_signature:
        # without it, CollapseProject inlines the O(len²) element
        # construction into every one of the num_hashes lambdas (measured
        # 86 s → 4.8 s for 5000 docs × 200 hashes at sf0.1)
        pin_projection_barrier(
            _words(documents, text_col, id_col), xs, "_xsm", id_col
        )
        .select(
            F.col(id_col),
            *[
                F.array_min(
                    F.transform(
                        F.col("_xsm"),
                        lambda x: (x * F.lit(a) + F.lit(b)) % F.lit(HASH_P),
                    )
                ).alias(f"h{i}")
                for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
            ],
        )
    )
    return sig.filter(F.col("h0").isNotNull())


def _band_buckets(
    sig: DataFrame,
    num_hashes: int,
    bands: int,
    hash_family: str,
    id_col: str,
) -> DataFrame:
    """Signature rows → exploded (id, band, bucket) relation. The bucket is
    the hash of one band's signature slice (md5 for the cross-engine
    family, xxhash64 for production)."""
    rows_per_band = num_hashes // bands

    def bucket_of(band: int) -> Column:
        hs = [F.col(f"h{band * rows_per_band + r}") for r in range(rows_per_band)]
        if hash_family == "md5":
            return F.md5(F.concat_ws("-", *hs))
        return F.xxhash64(*hs).cast("string")

    band_cols = [
        F.struct(F.lit(band).alias("band"), bucket_of(band).alias("bucket"))
        for band in range(bands)
    ]
    return sig.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("bb")).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def _lsh_candidates(
    documents: DataFrame,
    num_hashes: int,
    bands: int,
    n: int,
    text_col: str,
    id_col: str,
    hash_family: str,
    max_bucket: int = 100,
) -> tuple[DataFrame, DataFrame]:
    """Shared MinHash-band candidate generation: returns (candidates, base)
    where ``candidates`` is the distinct (id_a < id_b) pair list agreeing on
    ≥1 band bucket and ``base`` is the persisted (id, shingle) relation that
    fed the signatures (callers reuse it for their verification leg).

    Hot-bucket guard: a degenerate band bucket of B near-identical documents
    (empty docs, boilerplate headers — certain at corpus scale) would emit
    B(B-1)/2 pairs from the naive self-join; 10M empty docs is 5·10^13
    pairs from ONE bucket. Buckets larger than ``max_bucket`` therefore
    switch from all-pairs to STAR pairing: every member pairs with the
    bucket's min-id anchor (B-1 pairs, O(B) not O(B²)). The anchor edges
    keep the duplicate cluster fully connected — connected-components
    dedup (`neardup_clusters`) reconstitutes the same clusters — while the
    pairwise recall inside an oversized bucket degrades exactly where
    pairwise enumeration is meaningless anyway. Mirrors the `max_df`
    hot-shingle cap the exact n-gram join already has (see
    `ngram_jaccard_pairs`). Bucket sizing and the star switch share one
    hash shuffle on (band, bucket) via a window, the same key the pair
    join shuffles on."""
    # one persisted (id, shingle) materialization feeds BOTH the signature
    # aggregation and the verification leg (measured ~20% off q22 at sf0.1;
    # MEMORY_AND_DISK default, so an oversized corpus spills, not OOMs).
    # Registered for deferred release: the verify leg runs at the caller's
    # materialization time, so the relation is freed by the next
    # release_shared_relations() hook, not here.
    base = share_relation(shingles(documents, n, text_col, id_col))
    sig = minhash_signatures(
        documents, num_hashes, n, text_col, id_col, hash_family, base=base
    )
    buckets = _band_buckets(sig, num_hashes, bands, hash_family, id_col)
    return _bucket_pairs(buckets, id_col, max_bucket), base


def _bucket_pairs(buckets: DataFrame, id_col: str, max_bucket: int) -> DataFrame:
    """(id, band, bucket) relation → distinct candidate pair list (id_a <
    id_b) agreeing on ≥1 band bucket, with the hot-bucket star cap (see
    :func:`_lsh_candidates`). Shared by the word-shingle LSH paths and the
    weighted (replicated-element) MinHash path."""
    # bucket sizes via partial-agg groupBy (map-side combine), joined back;
    # the annotated relation is persisted because THREE legs consume it
    # (both sides of the small self-join + the star leg) — without the
    # persist the whole signature pipeline re-runs per leg (measured 2×
    # q22 at sf0.1). N·bands narrow rows, MEMORY_AND_DISK.
    sizes = buckets.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("_bsz"), F.min(id_col).alias("_anchor")
    )
    sized = share_relation(buckets.join(sizes, ["band", "bucket"]))
    small = sized.filter(F.col("_bsz") <= max_bucket)
    a = small.alias("a")
    b = small.alias("b")
    pairs_small = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
    pairs_big = (
        sized.filter((F.col("_bsz") > max_bucket) & (F.col(id_col) != F.col("_anchor")))
        .select(F.col("_anchor").alias("id_a"), F.col(id_col).alias("id_b"))
    )
    return pairs_small.unionByName(pairs_big).distinct()


def minhash_lsh_pairs(
    documents: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs, exact-Jaccard-verified.

    Candidate pairs agree on at least one band bucket (equi-join on
    (band, bucket_hash)); candidates are then verified with exact n-gram
    Jaccard so there are no false positives (false-negative rate set by
    bands/rows-per-band — MEASURED at sf10 with 400 planted perturbed
    pairs, tools/text_recall_probe.py / SCALE.md round-10 table: 97.2%
    recall at jaccard ≥ 0.8, 80.6% at [0.6, 0.7), 49.0% at the
    [0.5, 0.6) boundary, each within a few points of 1−(1−j⁴)⁸). With
    ``hash_family="md5"`` the band bucket is the md5 of the signature
    slice (cross-engine reproducible).
    """
    candidates, base = _lsh_candidates(
        documents, num_hashes, bands, n, text_col, id_col, hash_family
    )
    # Verify ONLY the candidates: shared-shingle counts are computed by
    # joining the shingle relation to the candidate pair list, never across
    # all pairs — this is what makes LSH the scale path (cost ∝ candidates,
    # not ∝ pairs-sharing-a-shingle).
    sh = base.select(id_col, F.xxhash64("shingle").alias("sh"))
    counts = doc_shingle_counts(documents, n, text_col, id_col)
    return _verify_jaccard(candidates, sh, counts, threshold, id_col)


def word_tf(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Bag-of-words term frequencies per document: (id, term, tf).

    One explode + one hash aggregation (map-side combine) — linear in
    corpus token count, never in document-length², so it holds for the
    book-length documents a real corpus contains (an array-expression
    construction would pay O(len²) per document inside one task)."""
    return (
        _words(documents, text_col, id_col)
        .select(F.col(id_col), F.explode("words").alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("int").alias("tf"))
    )


def _wj_prune_floor(threshold: float) -> float:
    """Bound the weighted-Jaccard prune compares against, just below τ. A
    true pair's unrounded J_w can sit at τ − 5e-7 (the final filter is on
    J_w rounded to 6 places), so the floor must stay at or below that for
    every τ. ``τ·0.999`` alone fails for τ ≤ 5e-4; ``τ − 1e-6`` alone
    leaves only 5e-7 of room for float error in the prune products. The
    smaller of the two is safe at every τ."""
    return min(threshold * 0.999, threshold - 1e-6)


def weighted_jaccard_pairs(
    documents: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_rows: int = 500_000,
    max_vocab: int = 4096,
    max_cells: int = 64_000_000,
    reroute: bool = False,
) -> DataFrame:
    """Exact WEIGHTED (bag-of-words, tf-multiset) Jaccard pairs ≥ threshold:
    J_w(A,B) = Σ_t min(tf_A(t), tf_B(t)) / Σ_t max(tf_A(t), tf_B(t)).

    The tf-weighted analogue of :func:`ngram_jaccard_pairs` for corpora
    where SET overlap saturates — a bounded vocabulary (template/log/DSL
    corpora) makes every distinct-shingle measure near-degenerate while
    term *frequencies* still separate true rewrites from background (this
    corpus: 31-word vocabulary, set-jaccard background ≈ saturated,
    weighted background median 0.35 with true near-dups above 0.8).

    **Guarded like** :func:`~esop_spark.operators.similarity.cosine_pairs`,
    and with the SAME plan shape: dense per-doc tf vectors over the
    collected (small by contract) vocabulary, one side broadcast, the
    other STREAMED partitioned by id across the shuffle width — no
    equi-key exists for an all-pairs measure, and a mass-bucket join key
    was MEASURED worse here (masses concentrate in ~10 log-buckets, AQE
    coalesces the exchange to one task per hot bucket: 86 s vs 4.7 s at
    sf0.1). Inside the join condition a mass-ratio bound prunes before
    any vector work: J_w ≤ min(mass)/max(mass) (Σmin ≤ the smaller total
    mass, Σmax ≥ the larger), so pairs below the prune floor (just under
    τ, :func:`_wj_prune_floor`) never reach the fold; the slop keeps a
    float product or the 6-place rounding from dropping a true pair, and
    the authoritative filter is the rounded
    J_w ≥ threshold at the end, identical to the SQL oracle's.

    Per surviving pair, Σmin is one integer ``zip_with``/fold over the
    dense vectors; Σmax falls out of Σmax = mass_a + mass_b − Σmin. Why
    dense: a per-pair tf-MAP probe was measured 18× slower (``element_at``
    on Spark's array-backed maps is a linear scan — O(V²) string compares
    per pair).

    Guards: ``max_rows`` bounds the broadcast side and the O(n²) pair
    count (raise or, with ``reroute=True``, degrade to the banded
    :func:`weighted_minhash_lsh_pairs` — same schema, capped-tf values);
    ``max_vocab`` bounds the dense width AND the driver-side vocabulary
    collect — a corpus with a large vocabulary has rare terms, which is
    precisely when the set-based family (``ngram_jaccard_pairs``/LSH)
    applies instead; ``max_cells`` bounds their PRODUCT — the broadcast
    side is n_rows dense int vectors of len(vocab) elements, so the two
    row/width guards are individually satisfiable yet jointly unsafe
    (500k rows × 4096-wide ≈ 8 GB serialized, over Spark's broadcast
    limit). 64M cells ≈ 0.5 GB broadcast at 8 B/element — comfortably
    replicable to every executor."""
    n_rows = documents.count()
    if n_rows > max_rows:
        if reroute:
            return weighted_minhash_lsh_pairs(
                documents, threshold=threshold, text_col=text_col, id_col=id_col
            )
        raise ValueError(
            f"weighted_jaccard_pairs is the exact pair-shaped small-corpus "
            f"baseline; got {n_rows} rows > max_rows={max_rows}. Use the "
            f"banded scale path (weighted_minhash_lsh_pairs — same schema, "
            f"exact capped-tf values on candidates, approximate recall), "
            f"pass reroute=True, or raise max_rows explicitly."
        )
    # distinct-term collect is one partial-agg distinct; the guard bounds
    # what lands on the driver before anything is pulled wide
    vocab_rows = (
        _words(documents, text_col, id_col)
        .select(F.explode("words").alias("w"))
        .distinct()
        .limit(max_vocab + 1)
        .collect()
    )
    if len(vocab_rows) > max_vocab:
        raise ValueError(
            f"weighted_jaccard_pairs builds dense tf vectors over the "
            f"corpus vocabulary; vocabulary exceeds max_vocab={max_vocab}. "
            f"A large vocabulary means rare terms exist — use the set-based "
            f"family (ngram_jaccard_pairs / minhash_lsh_pairs) or the "
            f"banded weighted_minhash_lsh_pairs instead."
        )
    vocab = sorted(r["w"] for r in vocab_rows)
    if n_rows * len(vocab) > max_cells:
        if reroute:
            return weighted_minhash_lsh_pairs(
                documents, threshold=threshold, text_col=text_col, id_col=id_col
            )
        raise ValueError(
            f"weighted_jaccard_pairs broadcasts {n_rows} dense tf vectors "
            f"of width {len(vocab)} = {n_rows * len(vocab)} cells > "
            f"max_cells={max_cells} (~{max_cells * 8 >> 20} MiB at 8 B/cell "
            f"is the broadcast budget). Use weighted_minhash_lsh_pairs, "
            f"pass reroute=True, or raise max_cells explicitly."
        )
    prep = _words(documents, text_col, id_col).select(
        F.col(id_col),
        F.size("words").alias("mass"),
        F.transform(
            F.lit(vocab),
            lambda w: F.size(F.filter(F.col("words"), lambda x: x == w)),
        ).alias("tfv"),
    )
    # Round 11 (guide §5): prep (dense tf vectors — the expensive
    # per-vocab-word filter transform) feeds BOTH the broadcast side and
    # the streamed side; persist so it is computed once.
    prep = share_relation(prep)
    spark = documents.sparkSession
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    a = prep.repartition(target, F.col(id_col)).alias("a")
    b = F.broadcast(prep).alias("b")
    floor = F.lit(_wj_prune_floor(threshold))
    # the only prune: a segment-mass bound (Σ over 4 vocab ranges of the
    # smaller range mass) cut 62 % of the pairs ratio_ok keeps at sf0.1,
    # but its per-pair walk cost more than the folds it saved (4-core
    # qprof A/B, min 20.3-20.6 s without it vs 20.6-23.3 s with it)
    ratio_ok = F.least(F.col("a.mass"), F.col("b.mass")) >= floor * F.greatest(
        F.col("a.mass"), F.col("b.mass")
    )
    # Σmin over the dense vectors: one zip_with + integer fold per
    # surviving pair. Round 11 A/B: an UNROLLED flat sum of V
    # least(a[i], b[i]) getItem terms (no intermediate array) was
    # measured 14× SLOWER (4.06 → 56.5 s min-of-5 at sf0.1, V=31) —
    # the wide flat expression knocks the pair projection out of
    # whole-stage codegen and every getItem evaluates interpreted,
    # while zip_with's single higher-order expression stays codegen'd
    # with one short loop; its per-pair array allocation is noise next
    # to that. Reverted to the zip_with form.
    shared = F.aggregate(
        F.zip_with(F.col("a.tfv"), F.col("b.tfv"), lambda x, y: F.least(x, y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    wj = F.round(
        shared.cast("double") / (F.col("a.mass") + F.col("b.mass") - shared), 6
    )
    return (
        a.join(
            b,
            (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")) & ratio_ok,
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            wj.alias("wjaccard"),
        )
        .filter(F.col("wjaccard") >= threshold)
    )


def weighted_minhash_lsh_pairs(
    documents: DataFrame,
    num_hashes: int = 200,
    bands: int = 20,
    tf_cap: int = 10,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
    max_bucket: int = 100,
) -> DataFrame:
    """Weighted-MinHash near-duplicate pairs — the scale path behind
    :func:`weighted_jaccard_pairs`, same output schema (id_a, id_b,
    wjaccard), exact capped-tf weighted Jaccard on candidates only.

    Integer-weight REPLICATION reduction: each term contributes elements
    term#1 … term#min(tf, tf_cap), and the ordinary set Jaccard of the
    replicated element sets IS the weighted Jaccard of the capped tf
    vectors (Σmin/Σmax term by term) — so the entire existing MinHash
    machinery applies unchanged: the seeded (a·x+b) mod p signature family
    over the replicated elements, band buckets, the hot-bucket star cap
    (:func:`_bucket_pairs`), and candidate-only exact verification
    (:func:`_verify_jaccard`, whose set Jaccard over replicated elements
    equals the capped weighted measure). ``hash_family="md5"`` keeps the
    whole chain replicable in plain SQL (the q304 oracle).

    Why banding must be DEEP here (rows-per-band 10 vs q22's 4): on a
    bounded-vocabulary corpus the BACKGROUND weighted similarity is high
    (median ≈ 0.35, p99 ≈ 0.58 on this corpus) — shallow bands would admit
    a constant fraction of all N² pairs as candidates. 20 bands × 10 rows
    puts the S-curve at ≈ (1/20)^(1/10) ≈ 0.74: recall ≈ 0.90 at J_w = 0.8
    (→ 0.9998 at 0.9) while a background pair at 0.5 collides with
    probability ≈ 0.0010 per band (≈ 2% overall) — candidates stay
    candidate-shaped, never corpus². MEASURED at sf10 with 400 planted
    multiset-edited pairs (tools/weighted_recall_probe.py, SCALE.md
    round-10 table): 90.2% at J_w ∈ [0.80, 0.85), 100% in every bin
    ≥ 0.85 — the S-curve lands where this paragraph puts it.

    Scale shape: replicated rows = Σ_doc Σ_t min(tf, cap) ≤ cap·|tokens| —
    linear in corpus size, one explode + hash agg (word_tf) + one explode;
    tf_cap bounds the blowup exactly like the q23 max_df cap bounds df.
    Capping is part of the DECLARED semantics (the oracle applies the same
    least(tf, cap)): weights above the cap carry no extra near-dup signal,
    they are the term-frequency analogue of boilerplate."""
    candidates, base = _weighted_lsh_candidates(
        documents, num_hashes, bands, tf_cap, text_col, id_col, hash_family,
        max_bucket,
    )
    counts = base.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    sh = base.select(id_col, F.xxhash64("shingle").alias("sh"))
    return _verify_jaccard(candidates, sh, counts, threshold, id_col).withColumnRenamed(
        "jaccard", "wjaccard"
    )


def _weighted_lsh_candidates(
    documents: DataFrame,
    num_hashes: int,
    bands: int,
    tf_cap: int,
    text_col: str,
    id_col: str,
    hash_family: str,
    max_bucket: int = 100,
) -> tuple[DataFrame, DataFrame]:
    """Weighted-family candidate generation: returns (candidates, base)
    where ``base`` is the persisted replicated-element relation (id,
    shingle) — the :func:`_lsh_candidates` analogue for capped-tf
    elements, shared with the streaming twin's parity tests."""
    tf = word_tf(documents, text_col, id_col)
    rep = tf.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(sequence(1, least(tf, {tf_cap})),"
                f" i -> concat(term, '#', CAST(i AS STRING)))"
            )
        ).alias("shingle"),
    )
    # one persisted replicated-element materialization feeds the signature
    # aggregation, the per-doc capped-mass counts, and the verify leg —
    # registered for deferred release like every shared relation
    base = share_relation(rep)
    sig = minhash_signatures(
        documents, num_hashes, id_col=id_col, hash_family=hash_family, base=base
    )
    buckets = _band_buckets(sig, num_hashes, bands, hash_family, id_col)
    return _bucket_pairs(buckets, id_col, max_bucket), base


def containment_candidates(
    base: DataFrame,
    id_col: str = "doc_id",
    k: int = 8,
    min_hits: int = 2,
    max_df: int | None = 10_000,
    counts: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric candidate generation for CONTAINMENT: bottom-k shingle
    probes joined against the inverted shingle index.

    Symmetric MinHash bands collide with probability driven by JACCARD,
    which is structurally low for the short-in-long pairs a containment
    miner exists for (4× length ratio caps jaccard at 0.25) and barely
    above the background jaccard of a same-domain corpus — 1-row bands
    turned ~every pair into a candidate (288k background candidates at
    sf0.01, SCALE.md). The asymmetric fix: each document PROBES with its
    own bottom-k shingles (the k smallest by hash — a uniform sample of
    its shingle set), and a probe hits every document containing that
    shingle. For the SHORTER doc of a true pair, P(one probe hits) is
    exactly the containment I/min — the candidate probability tracks the
    quantity being mined, not jaccard. Requiring ``min_hits ≥ 2`` distinct
    probe shingles (adaptively lowered for docs with < min_hits shingles)
    prunes the background: at C = 0.12 a pair survives with p ≈ 0.25, at
    C = 0.8 recall is 1 - P[Binom(8, 0.8) ≤ 1] ≈ 1 - 8.5e-5.

    Scale: probes are N·k rows; the inverted side drops shingles with
    document frequency > ``max_df`` (the q23 hot-shingle cap — boilerplate
    shingles that would pair everything with everything), so candidate
    volume is ≤ N·k·max_df and the join is a plain equi-join on the
    shingle hash. The per-doc bottom-k window partitions on doc_id, whose
    groups are bounded by document length — no stratum-style skew."""
    hashed = base.select(F.col(id_col), F.xxhash64("shingle").alias("h"))
    w_doc = Window.partitionBy(id_col).orderBy("h")
    probes = (
        hashed.withColumn("_rn", F.row_number().over(w_doc))
        .filter(F.col("_rn") <= k)
        .select(F.col(id_col).alias("_pid"), "h")
    )
    inv = hashed.select(F.col(id_col).alias("_iid"), "h")
    if max_df is not None:
        # df census as a mergeable agg + join back — NOT a partitionBy(h)
        # window, which buffers an entire posting list in one task; the
        # hot shingle this filter exists to drop is exactly the key that
        # would blow that buffer up
        dfs = inv.groupBy("h").agg(F.count(F.lit(1)).alias("_df"))
        inv = (
            inv.join(dfs.filter(F.col("_df") <= max_df), "h", "left_semi")
        )
    hits = (
        probes.join(inv, "h")
        .filter(F.col("_pid") != F.col("_iid"))
        .select(
            F.least("_pid", "_iid").alias("id_a"),
            F.greatest("_pid", "_iid").alias("id_b"),
            "h",
        )
        .distinct()
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_hits"))
    )
    if counts is None:
        raise ValueError("containment_candidates requires the per-doc counts relation")
    ca = counts.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("_na"))
    cb = counts.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("_nb"))
    return (
        hits.join(ca, "id_a")
        .join(cb, "id_b")
        .filter(
            F.col("_hits")
            >= F.least(F.lit(min_hits), F.col("_na"), F.col("_nb"))
        )
        .select("id_a", "id_b")
    )


def containment_pairs(
    documents: DataFrame,
    num_hashes: int = 32,
    bands: int = 32,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
    probe_k: int = 8,
    min_hits: int = 2,
    max_df: int | None = 10_000,
) -> DataFrame:
    """Containment near-duplicates: |S(a) ∩ S(b)| / min(|S(a)|, |S(b)|) ≥
    threshold — catches a short document embedded in a long one, the case
    symmetric Jaccard structurally misses (a ⊂ b with |b| = 4|a| caps
    jaccard at 0.25 but containment at 1.0). Quote-inclusion and
    template-expansion dedup in real corpora is this shape.

    Candidates come from :func:`containment_candidates` (asymmetric
    bottom-k probes — collision probability tracks containment, unlike the
    earlier 1-row MinHash bands whose jaccard-driven collisions made
    ~every pair a candidate); verification is the exact containment count
    restricted to candidates, identical to before. ``num_hashes``/
    ``bands``/``hash_family`` are retained for signature compatibility but
    no longer drive candidate generation."""
    base = share_relation(shingles(documents, n, text_col, id_col))
    counts = doc_shingle_counts(documents, n, text_col, id_col)
    candidates = containment_candidates(
        base, id_col, k=probe_k, min_hits=min_hits, max_df=max_df, counts=counts
    )
    sh = base.select(id_col, F.xxhash64("shingle").alias("sh"))
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    shared = (
        candidates.join(sa, "id_a")
        .join(
            sb.withColumnRenamed("id_b", "_idb"),
            (F.col("id_b") == F.col("_idb")) & (F.col("sh_a") == F.col("sh_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    ca = counts.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        shared.join(ca, "id_a")
        .join(cb, "id_b")
        .withColumn(
            "containment",
            F.round(
                F.col("shared").cast("double") / F.least(F.col("n_a"), F.col("n_b")),
                6,
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def _positional_kgram_expr(n: int) -> str:
    # like _shingle_array_expr but ORDER-PRESERVING and non-distinct: the
    # array index IS the k-gram's position, which winnowing needs
    return (
        f"filter(transform(sequence(1, size(words)),"
        f" i -> IF(i + {n - 1} <= size(words),"
        f" concat_ws(' ', slice(words, i, {n})), NULL)),"
        f" x -> x IS NOT NULL)"
    )


_WINNOW_POS_M = 1 << 20  # position packing base; docs are ≪ 1M tokens


def winnow_fingerprints(
    documents: DataFrame,
    k: int = 4,
    w: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every k-gram, slide a w-window
    over the hash sequence, keep the minimum of each window (ties →
    RIGHTMOST position, the paper's rule). The selected (hash, pos) set is
    a position-robust sketch: any shared substring of length ≥ w+k-1
    guarantees a shared fingerprint, which plain bottom-k sampling cannot
    promise. Output: (id, n_fp, fp_checksum) — count and sum of the
    distinct packed fingerprints (hash·2²⁰ + 2²⁰−pos, so one bigint
    carries the tie-broken identity).

    Scale: position windows partition per document and are bounded by
    document length (never corpus-size skew); everything else is
    projection + one per-doc agg. ``hash_family="md5"`` swaps in the
    cross-engine 32-bit md5 family so a SQL oracle replicates the sketch
    bit-for-bit. Trailing windows shorter than ``w`` still emit (frame
    truncates at the document end) — deterministic and mirrored in the
    oracle."""
    kg = _words(documents, text_col, id_col).select(
        F.col(id_col),
        F.posexplode(F.expr(_positional_kgram_expr(k))).alias("pos0", "kgram"),
    )
    # fold to unsigned 32 bits so hash·2²⁰ never overflows bigint
    # (md5_hash32 is already < 2³², xxhash64 is full signed 64-bit)
    h = F.pmod(_element_hash("kgram", hash_family), F.lit(1 << 32))
    packed = kg.select(
        F.col(id_col),
        F.col("pos0"),
        (
            h * F.lit(_WINNOW_POS_M)
            + (F.lit(_WINNOW_POS_M) - (F.col("pos0") + 1))
        ).alias("c"),
    )
    win = (
        Window.partitionBy(id_col).orderBy("pos0").rowsBetween(0, w - 1)
    )
    sel = packed.select(
        F.col(id_col), F.min("c").over(win).alias("fp")
    ).distinct()
    return sel.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fp"),
        F.sum("fp").cast("bigint").alias("fp_checksum"),
    )


def simhash_signatures(
    documents: DataFrame,
    num_bits: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """SimHash: token-frequency-weighted bit votes over hash(token).

    Exploded (doc, token, weight) → posexploded bit contributions →
    two hash aggregations. JVM-side bit arithmetic throughout.
    ``hash_family="md5"`` uses the cross-engine 32-bit hash (num_bits must
    be ≤ 32 then — the hash only carries 32 bits of entropy).
    """
    if hash_family == "md5" and num_bits > 32:
        raise ValueError("md5 hash family carries 32 bits; lower num_bits")
    tok = (
        documents.select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("w"))
        .withColumn("h", _element_hash("tok", hash_family))
    )
    contrib = tok.select(
        id_col,
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {num_bits - 1}),"
                f" j -> CASE WHEN ((h >> j) & 1) = 1 THEN w ELSE -w END)"
            )
        ).alias("bit", "vote"),
    )
    return (
        contrib.groupBy(id_col, "bit")
        .agg(F.sum("vote").alias("s"))
        .groupBy(id_col)
        .agg(
            F.sum(
                F.when(F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).otherwise(F.lit(0))
            ).alias("simhash")
        )
    )


def with_simhash_signature(
    documents: DataFrame,
    num_bits: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Per-ROW simhash as a pure projection — the
    :func:`with_minhash_signature` analogue for the SimHash family:
    no explode, no aggregation, no shuffle, values IDENTICAL to
    :func:`simhash_signatures` (the batch form groups (doc, token) and
    votes ±tf per bit; folding ±1 per token INSTANCE sums to the same
    per-bit votes). Exists for streaming callers, where the batch
    explode → two-groupBy shape would force shuffled stateful
    aggregations to rebuild what is a per-row function.

    One array fold builds all ``num_bits`` votes in a single pass
    (O(tokens · num_bits) per row); the hashed-token array has exactly
    one consumer, so no CollapseProject barrier is needed — inlining a
    single-consumer construction duplicates nothing."""
    if hash_family == "md5" and num_bits > 32:
        raise ValueError("md5 hash family carries 32 bits; lower num_bits")
    hash_sql = (
        "CAST(conv(substr(md5(t), 1, 8), 16, 10) AS BIGINT)"
        if hash_family == "md5"
        else "xxhash64(t)"
    )
    votes = (
        f"aggregate(transform(split({text_col}, ' '), t -> {hash_sql}), "
        f"array_repeat(CAST(0 AS BIGINT), {num_bits}), "
        f"(acc, h) -> zip_with(acc, sequence(0, {num_bits - 1}), "
        f"(a, j) -> a + IF(((h >> j) & 1) = 1, 1, -1)))"
    )
    sim = (
        f"aggregate(zip_with({votes}, sequence(0, {num_bits - 1}), "
        f"(s, j) -> IF(s > 0, shiftleft(CAST(1 AS BIGINT), j), "
        f"CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    return documents.select(F.col(id_col), F.expr(sim).alias("simhash"))


def simhash_chunks(
    sig: DataFrame, num_bits: int, chunks: int, id_col: str = "doc_id"
) -> DataFrame:
    """(id, simhash) → exploded (id, chunk_idx, chunk_val) pigeonhole
    bands — the banding step of :func:`simhash_pairs`, factored so the
    streaming twin lands in the SAME (chunk_idx, chunk_val) buckets the
    batch equi-join uses. Keeps the simhash column — the batch caller's
    verify leg reads it; the streaming caller just doesn't select it."""
    chunk_bits = num_bits // chunks
    mask = (1 << chunk_bits) - 1
    return sig.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {chunks - 1}),"
                f" c -> (simhash >> (c * {chunk_bits})) & {mask})"
            )
        ).alias("chunk_idx", "chunk_val"),
    )


def simhash_pairs(
    documents: DataFrame,
    num_bits: int = 48,
    max_hamming: int = 3,
    chunks: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """SimHash near-duplicate pairs within a Hamming radius.

    Pigeonhole banding: with `chunks` > max_hamming disjoint chunks, any pair
    within the radius shares at least one exact chunk → candidate generation
    is an equi-join on (chunk_idx, chunk_value); candidates verified with
    bit_count(xor).
    """
    sig = simhash_signatures(documents, num_bits, text_col, id_col, hash_family)
    chunked = simhash_chunks(sig, num_bits, chunks, id_col)
    a = chunked.alias("a")
    b = chunked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            .cast("bigint")
            .alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def bloom_positions(col: Column, m_bits: int, k: int) -> list[Column]:
    """The k bloom bit positions of a key: independent seeded xxhash64
    draws mod m. Shared by build and probe sides so membership is exact
    on the no-false-negative side."""
    return [
        F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m_bits)) for i in range(k)
    ]


def bloom_build(keys: DataFrame, key_col: str, m_bits: int, k: int) -> list[int]:
    """Collect the m-bit bloom filter of a (small) key relation as a list
    of 64-bit words. Driver-bounded by construction: the collect is the
    DISTINCT bit-position set (≤ min(k·|keys|, m_bits) ints), never the
    keys themselves — an eval benchmark of 10M shingles at k=4 collects
    ≤ 40M ints once, and the broadcast bitmap itself is m/8 bytes
    (2^27 bits = 16 MB), the classic prefilter trade."""
    # OR the bits into 64-bit words IN SPARK (map-side partial bit_or),
    # so the driver collects ≤ m/64 words — not the k·|keys| position
    # list. (The former distinct+collect of raw positions moved ~50×
    # more rows and was the dominant per-call cost of q81.)
    packed = (
        keys.select(
            F.explode(F.array(*bloom_positions(F.col(key_col), m_bits, k))).alias("p")
        )
        .select(
            F.expr("CAST(p DIV 64 AS INT)").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("word"))
        .collect()
    )
    words = [0] * ((m_bits + 63) // 64)
    for row in packed:
        # rows carry signed 64-bit words already — valid LongType literals
        words[row["w"]] = row["word"]
    return words


def bloom_probe_col(col: Column, words: list[int], m_bits: int, k: int) -> Column:
    """True iff every one of the key's k positions is set in the broadcast
    bitmap — a pure JVM column expression (array literal + bit tests), so
    the prefilter fuses into the scan stage with zero shuffle."""
    # ONE array<bigint> literal — F.array(*4096 F.lit()s) builds a
    # CreateArray of 4096 child expressions (evaluated per row, and big
    # enough to blow past codegen limits); F.lit(list) is a single folded
    # Literal the bit tests index into.
    lit_words = F.lit(words)
    checks = [
        (
            F.call_function(
                "shiftright",
                F.element_at(lit_words, (p / 64).cast("int") + 1),
                p.cast("int") % 64,
            ).bitwiseAND(F.lit(1))
        )
        == 1
        for p in bloom_positions(col, m_bits, k)
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out & c
    return out


def bloom_contamination(
    train: DataFrame,
    test: DataFrame,
    n: int = 3,
    m_bits: int = 1 << 18,
    k: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Contamination of the TRAIN corpus against an eval/benchmark set,
    with a broadcast bloom prefilter ahead of the exact semi-join — the
    100 TB decontamination shape (same role as the reference's freshen
    probe before upload, UploadTracker.java:106-124: cheap membership test
    first, exact work only on probable hits).

    The bloom is built from the eval shingles (the SMALL side); train
    shingles that fail the bloom are dropped inside the scan stage, so the
    semi-join shuffle carries only probable hits (fp rate (1-e^{-kn/m})^k).
    False positives are then removed by the exact semi-join on the shingle
    text, so the result is byte-identical to the unfiltered exact join —
    the filter changes the plan, never the answer.

    Output: (doc_id, n_sh, n_contaminated, contamination) per train doc.
    """
    # Round 11 A/B note: persisting eval_sh (it feeds the bloom build and
    # the exact semi-join) measured SLOWER (4.53 → 5.41 s min-of-5) and
    # was reverted — the eval slice is tiny and both consumers fuse its
    # recompute into their own scan stages.
    eval_sh = (
        shingles(test, n, text_col, id_col).select("shingle").distinct()
    )
    words = bloom_build(eval_sh, "shingle", m_bits, k)
    # shingles() already explodes array_distinct, so (id, shingle) rows are
    # unique by construction — the former .distinct() here re-shuffled the
    # full corpus SHINGLE relation (54× the doc rows) for nothing. What it
    # was accidentally buying was parallelism: with a single-split input
    # the fused explode→probe→join stage runs in ONE task. Spread the
    # narrow DOC rows instead when the scan has fewer partitions than the
    # shuffle width — a shuffle of text rows, not exploded shingles. On a
    # real multi-split corpus (splits ≫ cores) the repartition is skipped.
    spark = train.sparkSession
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    spread = train
    if train.rdd.getNumPartitions() < target:
        spread = train.repartition(target, F.col(id_col))
    train_sh = shingles(spread, n, text_col, id_col).filter(
        bloom_probe_col(F.col("shingle"), words, m_bits, k)
    )
    matched = (
        train_sh.join(eval_sh, "shingle", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    counts = doc_shingle_counts(train, n, text_col, id_col)
    return counts.join(matched, id_col, "left").select(
        F.col(id_col).cast("bigint").alias(id_col),
        F.col("n_sh").cast("bigint").alias("n_sh"),
        F.coalesce(F.col("n_contaminated"), F.lit(0))
        .cast("bigint")
        .alias("n_contaminated"),
        F.round(
            F.coalesce(F.col("n_contaminated"), F.lit(0))
            / F.greatest(F.col("n_sh"), F.lit(1)),
            6,
        ).alias("contamination"),
    )


def canonical_reps(
    clusters: DataFrame,
    scored: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality_score",
) -> DataFrame:
    """Pick the canonical surviving document of every near-duplicate
    cluster: highest score wins, ties break to the SMALLEST doc id — the
    quality-aware refinement of the reference's "first writer wins"
    content-addressed rule (and of dedup_exact's min-id winner).

    `clusters` is dedup_clusters output (doc_id, cluster_id, cluster_size);
    `scored` provides (doc_id, score_col). Output: one row per cluster —
    (cluster_id, rep_doc_id, rep_score, cluster_size, n_dropped).

    Scale: one join on doc_id plus one cluster aggregation using max_by on
    a single packed order key (score·10^9 − doc_id: strict total order, so
    the argmax is deterministic and identical cross-engine). No window, no
    per-cluster single-task structure."""
    ordkey = (
        F.col(score_col).cast("bigint") * F.lit(1_000_000_000) - F.col(id_col)
    )
    return (
        clusters.join(scored.select(id_col, score_col), id_col)
        .groupBy("cluster_id")
        .agg(
            F.max_by(F.col(id_col), ordkey).cast("bigint").alias("rep_doc_id"),
            F.max(F.col(score_col)).cast("bigint").alias("rep_score"),
            F.count(F.lit(1)).cast("bigint").alias("cluster_size"),
            (F.count(F.lit(1)) - 1).cast("bigint").alias("n_dropped"),
        )
        .select(
            F.col("cluster_id").cast("bigint").alias("cluster_id"),
            "rep_doc_id",
            "rep_score",
            "cluster_size",
            "n_dropped",
        )
    )


def incremental_minhash_pairs(
    documents: DataFrame,
    is_new: Column,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
    max_bucket: int = 100,
) -> DataFrame:
    """Incremental corpus dedup: near-duplicate (old, new) pairs between an
    existing release (rows where ``is_new`` is false) and a delta (true),
    via the same MinHash band machinery as minhash_lsh_pairs but with
    candidates restricted to CROSS-release pairs — the composition of
    corpus versioning (q71's delta worklist) with near-dup detection, and
    the shape a production pipeline runs on every crawl refresh (dedupe
    the new dump against what is already shipped, not all-pairs again).

    Candidates = (old, new) sharing ≥1 band bucket; exact-Jaccard verified
    (no false positives). Output: (id_old, id_new, jaccard).

    Scale: the old side's signatures would be PRECOMPUTED and stored in a
    real deployment (signatures are an embarrassingly-parallel projection
    of each release — this function recomputes them only because its input
    is one DataFrame); the band join is old×new per bucket, so candidate
    volume tracks the delta size, not the full corpus. Old-side buckets
    larger than ``max_bucket`` route new members to the bucket's min-id
    anchor (star pairing), the same hot-bucket guard as _lsh_candidates.
    """
    base = share_relation(shingles(documents, n, text_col, id_col))
    sig = minhash_signatures(
        documents, num_hashes, n, text_col, id_col, hash_family, base=base
    )
    buckets = _band_buckets(sig, num_hashes, bands, hash_family, id_col)
    flags = documents.select(F.col(id_col), is_new.alias("_new"))
    fb = buckets.join(flags, id_col)
    old_b = fb.filter(~F.col("_new")).drop("_new")
    new_b = fb.filter(F.col("_new")).drop("_new")
    sizes = old_b.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("_bsz"), F.min(id_col).alias("_anchor")
    )
    annotated_new = share_relation(new_b.join(sizes, ["band", "bucket"]))
    pairs_small = (
        annotated_new.filter(F.col("_bsz") <= max_bucket)
        .join(
            old_b.select(
                "band", "bucket", F.col(id_col).alias("id_a")
            ),
            ["band", "bucket"],
        )
        .select("id_a", F.col(id_col).alias("id_b"))
    )
    pairs_big = annotated_new.filter(F.col("_bsz") > max_bucket).select(
        F.col("_anchor").alias("id_a"), F.col(id_col).alias("id_b")
    )
    candidates = pairs_small.unionByName(pairs_big).distinct()
    sh = base.select(id_col, F.xxhash64("shingle").alias("sh"))
    counts = doc_shingle_counts(documents, n, text_col, id_col)
    verified = _verify_jaccard(candidates, sh, counts, threshold, id_col)
    return verified.select(
        F.col("id_a").alias("id_old"),
        F.col("id_b").alias("id_new"),
        "jaccard",
    )


def slice_overlap(
    documents: DataFrame,
    slice_col: str = "source",
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-slice duplication matrix: for every pair of slices (sources,
    domains, crawl dumps), the overlap of their distinct shingle sets —
    which feeds the "these two domains mirror each other" decision that
    doc-pair dedup can't see directly.

    Output: (slice_a, slice_b, n_a, n_b, shared, overlap) for pairs with
    shared > 0, slice_a < slice_b; overlap = shared / min(n_a, n_b)
    (containment of the smaller side).

    Scale: the joined relation is the DISTINCT (slice, shingle) set — one
    hash shuffle on the shingle — and each shingle contributes at most
    C(slices_with_it, 2) ≤ C(k, 2) pair rows before the (a, b) aggregation,
    so the blow-up is bounded by the slice count, not the corpus. Per-slice
    totals are a k-row broadcast."""
    sh = (
        shingles(documents, n, text_col, id_col)
        .join(
            documents.select(F.col(id_col), F.col(slice_col).alias("s")), id_col
        )
        .select("s", F.xxhash64("shingle").alias("sh"))
        .distinct()
    )
    cnt = sh.groupBy("s").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh")) & (F.col("a.s") < F.col("b.s")),
        )
        .groupBy(F.col("a.s").alias("slice_a"), F.col("b.s").alias("slice_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    ca = cnt.select(F.col("s").alias("slice_a"), F.col("n_sh").alias("n_a"))
    cb = cnt.select(F.col("s").alias("slice_b"), F.col("n_sh").alias("n_b"))
    return (
        shared.join(F.broadcast(ca), "slice_a")
        .join(F.broadcast(cb), "slice_b")
        .select(
            "slice_a",
            "slice_b",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.col("shared").cast("bigint").alias("shared"),
            F.round(
                F.col("shared") / F.least(F.col("n_a"), F.col("n_b")), 6
            ).alias("overlap"),
        )
    )


def novelty_scores(
    documents: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document novelty: the fraction of a doc's distinct shingles
    whose FIRST corpus occurrence (min doc id) is this document — i.e. how
    much genuinely new text the doc contributes under the deterministic
    ingestion order. Boilerplate-heavy docs score near 0 even when no
    single other document duplicates them (the signal pairwise dedup
    misses); a dedup sweep ordered by ascending novelty drops the least
    original content first.

    Output: (doc_id, n_sh, n_novel, novelty).

    Scale: one distinct over (id, shingle-hash), one min-aggregation per
    shingle (uniform 64-bit keys), one join back, one per-doc agg — every
    stage map-side combinable, nothing quadratic."""
    sh = (
        shingles(documents, n, text_col, id_col)
        .select(F.col(id_col), F.xxhash64("shingle").alias("sh"))
        .distinct()
    )
    first = sh.groupBy("sh").agg(F.min(id_col).alias("_first"))
    return (
        sh.join(first, "sh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sh"),
            F.sum(F.when(F.col("_first") == F.col(id_col), 1).otherwise(0))
            .cast("bigint")
            .alias("n_novel"),
        )
        .select(
            F.col(id_col).cast("bigint").alias(id_col),
            "n_sh",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_sh"), 6).alias("novelty"),
        )
    )


def lsh_recall_audit(
    documents: DataFrame,
    sample_rate: float = 0.2,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
    seed: str = "audit",
    max_docs: int | None = None,
) -> DataFrame:
    """Measured precision/recall of the production MinHash-LSH band
    configuration against ground truth, on a deterministic content-hash
    sample of the corpus ("measure, don't guess" for the banding knobs).

    Ground truth = fully exact n-gram Jaccard over every pair of the
    sampled docs (no df cap); candidates = the SAME banding code the
    production pair generator uses (:func:`_lsh_candidates`). Per-pair
    band candidacy depends only on the two signatures, so the recall
    estimate is unbiased for the full corpus; candidate *density* (and so
    precision) is measured at sample scale, noted in the output.

    Cost is quadratic in the SAMPLE. A rate-only sample therefore grows
    quadratically with the corpus (the q127 lesson, SCALE.md fifth-wave
    table); ``max_docs`` caps the sample at an absolute count (the
    smallest-hash-bucket rows, a fixed-size uniform sample) so the audit
    is O(max_docs²) shingle-join work at any corpus size — set it for any
    real run. Output is a single summary row built from four 1-row
    aggregates cross-joined driver-free.
    """
    from esop_spark.operators.sampling import BUCKETS, sample_bucket

    sampled = documents.withColumn(
        "_b", sample_bucket(F.col(id_col), seed)
    ).filter(F.col("_b") < int(sample_rate * BUCKETS))
    if max_docs is not None:
        sampled = sampled.orderBy(F.col("_b").asc(), F.col(id_col).asc()).limit(
            max_docs
        )
    sampled = sampled.drop("_b")
    truth = ngram_jaccard_pairs(
        sampled, n=n, threshold=threshold, text_col=text_col,
        id_col=id_col, max_df=None,
    ).select("id_a", "id_b")
    cand, base = _lsh_candidates(
        sampled, num_hashes, bands, n, text_col, id_col, hash_family
    )
    cand = cand.select("id_a", "id_b")
    n_docs = sampled.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    n_true = truth.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true_pairs")
    )
    n_cand = cand.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates")
    )
    n_found = truth.join(cand, ["id_a", "id_b"], "left_semi").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_found")
    )
    # base stays persisted (shared-relation registry) while cand is
    # consumed by both counting legs; released at the next between-queries
    # release_shared_relations() hook
    _ = base
    out = (
        n_docs.crossJoin(n_true).crossJoin(n_cand).crossJoin(n_found)
    )
    return out.select(
        "n_docs",
        "n_true_pairs",
        "n_candidates",
        "n_found",
        F.round(
            F.col("n_found") / F.nullif(F.col("n_true_pairs"), F.lit(0)), 6
        ).alias("recall"),
        F.round(
            F.col("n_found") / F.nullif(F.col("n_candidates"), F.lit(0)), 6
        ).alias("precision"),
    )


CLUSTER_HIST_EDGES = (2, 4, 8, 16, 32, 64, 128, 256, 512, 1024)


def cluster_size_histogram(clusters: DataFrame) -> DataFrame:
    """Size-bucketed histogram of near-dup clusters (input =
    :func:`dedup_clusters` output) with the removable-doc mass per bucket —
    the report a curator reads to see whether dup mass sits in a few huge
    boilerplate clusters (dedup wins concentrated, cheap) or a long tail
    of pairs (wins diffuse).

    One aggregation to the cluster grain, then a CASE-chain bucket agg on
    the ≤|edges|-row histogram grain. Integer bucket edges — no float log2
    at boundaries, so any engine bins identically.
    """
    per = clusters.groupBy("cluster_id").agg(
        F.max("cluster_size").alias("size")
    )
    bucket = F.lit(CLUSTER_HIST_EDGES[-1] * 2)
    for b in reversed(CLUSTER_HIST_EDGES):
        bucket = F.when(F.col("size") <= b, F.lit(b)).otherwise(bucket)
    return (
        per.select(bucket.cast("bigint").alias("size_le"), "size")
        .groupBy("size_le")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum("size").cast("bigint").alias("n_docs"),
            (F.sum("size") - F.count(F.lit(1)))
            .cast("bigint")
            .alias("n_removable"),
        )
    )


def fuzzy_title_pairs(
    documents: DataFrame,
    title_tokens: int = 4,
    max_distance: int = 6,
    max_block: int = 200,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """Blocked edit-distance record linkage: near-duplicate document TITLES
    (the first ``title_tokens`` tokens) within Levenshtein ``max_distance``.

    The classic fuzzy-join shape: an un-blocked edit-distance join is
    O(n²) and un-shardable, so candidates are restricted to a BLOCK — here
    (lang, first token). Levenshtein is then evaluated only inside blocks,
    turning the quadratic comparison into an equi-join whose cost is
    Σ_block |block|², with the standard recall trade (pairs differing in
    the blocking key are never compared — documented, deterministic).

    Hot-block guard (same shape as ``_lsh_candidates``'s ``max_bucket``):
    blocks larger than ``max_block`` would still be quadratic (a boilerplate
    title shared by 10⁶ docs at 100 TB), so oversized blocks degrade to
    STAR pairing against the block's min-id anchor — linear in block size,
    deterministic, and SQL-expressible so the oracle replicates it exactly.

    Output: ``id_a, id_b, edit_distance`` with ``id_a < id_b``.
    Scale: one shuffle to the block grain for sizing/anchor, one equi-join
    on the block key; ``levenshtein`` is a JVM intrinsic on both engines.
    """
    titles = documents.select(
        F.col(id_col),
        F.col(lang_col).alias("_lang"),
        F.array_join(
            F.slice(F.split(F.col(text_col), " "), 1, title_tokens), " "
        ).alias("_title"),
    ).withColumn("_b0", F.split(F.col("_title"), " ").getItem(0))
    blocks = titles.groupBy("_lang", "_b0").agg(
        F.count(F.lit(1)).alias("_bsz"),
        F.min(id_col).alias("_anchor"),
        F.min_by("_title", F.col(id_col)).alias("_anchor_title"),
    )
    # Round 11 (guide §5): sized feeds the small-block self-join (both
    # legs) and the big-block star leg — three evaluations of the
    # titles ⋈ blocks subtree unpersisted.
    sized = share_relation(titles.join(blocks, ["_lang", "_b0"]))
    small = sized.filter(F.col("_bsz") <= max_block)
    pairs_small = (
        small.alias("a")
        .join(
            small.alias("b"),
            (F.col("a._lang") == F.col("b._lang"))
            & (F.col("a._b0") == F.col("b._b0"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.levenshtein(F.col("a._title"), F.col("b._title")).alias("edit_distance"),
        )
    )
    big = sized.filter(F.col("_bsz") > max_block)
    pairs_big = big.filter(F.col(id_col) != F.col("_anchor")).select(
        F.least(F.col("_anchor"), F.col(id_col)).alias("id_a"),
        F.greatest(F.col("_anchor"), F.col(id_col)).alias("id_b"),
        F.levenshtein(F.col("_title"), F.col("_anchor_title")).alias("edit_distance"),
    )
    return (
        pairs_small.unionByName(pairs_big)
        .filter(F.col("edit_distance") <= max_distance)
        .select(
            F.col("id_a").cast("bigint"),
            F.col("id_b").cast("bigint"),
            F.col("edit_distance").cast("bigint"),
        )
    )


def dedup_inflation(
    documents: DataFrame,
    text_col: str = "text",
    slice_col: str = "source",
) -> DataFrame:
    """Per-slice exact-duplicate inflation: how much larger the corpus is
    than its deduplicated form, in documents and in token mass — the
    "effective dataset size" planning number a dedup pass will reclaim.
    Within-slice semantics: duplicates are counted against the slice they
    sit in (cross-slice copies are q86's overlap matrix instead).

    Scale: one hash agg on (slice, md5(text)) — uniform content keys,
    map-side combine, shuffle volume ∝ distinct texts; then a |slices|-grain
    rollup. The same shape as exact dedup (q21) with token weights carried.
    """
    g = documents.groupBy(
        F.col(slice_col).alias("slice"), F.md5(F.col(text_col)).alias("h")
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.first(F.size(F.split(F.col(text_col), " "))).cast("bigint").alias("tok"),
    )
    return g.groupBy("slice").agg(
        F.sum("cnt").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_unique_docs"),
        F.sum(F.col("cnt") * F.col("tok")).cast("bigint").alias("total_tokens"),
        F.sum("tok").cast("bigint").alias("unique_tokens"),
        F.round(F.sum("cnt") / F.count(F.lit(1)), 6).alias("doc_inflation"),
        F.round(
            F.sum(F.col("cnt") * F.col("tok")) / F.sum("tok"), 6
        ).alias("token_inflation"),
    )


def minhash_calibration(
    documents: DataFrame,
    sample_rate: float = 0.5,
    max_docs: int | None = 200,
    num_hashes: int = 32,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
    seed: str = "audit",
) -> DataFrame:
    """MinHash estimator calibration on a capped content-hash sample: for
    every overlapping pair in the sample, compare the signature estimate
    (matching minima / num_hashes) against the exact n-gram Jaccard, and
    report the error distribution — the companion audit to
    :func:`lsh_recall_audit` (that one audits the BANDING; this audits the
    ESTIMATOR the banding is built on, i.e. whether num_hashes is enough).

    Error means use integer-scaled sums (round(err·1e9) summed as bigint)
    so the result is summation-order-independent across engines.

    Scale: O(max_docs²) pair work by construction (the capped-audit
    pattern); signatures are one hash agg over the sample's shingles.
    """
    from esop_spark.operators.sampling import BUCKETS, sample_bucket

    sampled = documents.withColumn(
        "_b", sample_bucket(F.col(id_col), seed)
    ).filter(F.col("_b") < int(sample_rate * BUCKETS))
    if max_docs is not None:
        sampled = sampled.orderBy(F.col("_b").asc(), F.col(id_col).asc()).limit(
            max_docs
        )
    sampled = sampled.drop("_b")

    exact = ngram_jaccard_pairs(
        sampled, n=n, threshold=0.0, text_col=text_col, id_col=id_col, max_df=None
    ).select("id_a", "id_b", F.col("jaccard").alias("exact_jaccard"))
    sig = minhash_signatures(
        sampled, num_hashes, n, text_col, id_col, hash_family
    )
    harr = F.array(*[F.col(f"h{i}") for i in range(num_hashes)])
    sig_a = sig.select(F.col(id_col).alias("id_a"), harr.alias("ha"))
    sig_b = sig.select(F.col(id_col).alias("id_b"), harr.alias("hb"))
    est = (
        F.aggregate(
            F.zip_with(F.col("ha"), F.col("hb"), lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        / F.lit(float(num_hashes))
    )
    pairs = (
        exact.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select(
            "exact_jaccard",
            F.round(est, 6).alias("est"),
        )
        .select(
            "exact_jaccard",
            "est",
            F.round(F.abs(F.col("est") - F.col("exact_jaccard")), 6).alias("err"),
        )
    )
    scaled = F.round(F.col("err") * 1_000_000_000).cast("bigint")
    return pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(
            F.sum(scaled) / F.count(F.lit(1)) / 1_000_000_000.0, 6
        ).alias("mean_abs_err"),
        F.max("err").alias("max_abs_err"),
        F.round(
            F.sum(F.round(F.col("exact_jaccard") * 1_000_000_000).cast("bigint"))
            / F.count(F.lit(1))
            / 1_000_000_000.0,
            6,
        ).alias("mean_exact"),
        F.round(
            F.sum(F.round(F.col("est") * 1_000_000_000).cast("bigint"))
            / F.count(F.lit(1))
            / 1_000_000_000.0,
            6,
        ).alias("mean_est"),
    )


def dedup_threshold_curve(
    documents: DataFrame,
    n: int = 3,
    thresholds_pct: tuple[int, ...] = (50, 60, 70, 80, 90),
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """Dedup threshold sweep: exact near-dup pair counts at a grid of
    Jaccard thresholds from ONE pair computation — the curve a curation
    team reads before committing to a cutoff ("0.8 removes 2% of docs,
    0.7 removes 9% — where is the knee?"). Per threshold: surviving pair
    count, documents touched, and the greedy upper bound on removals
    (dropping every higher-id partner disconnects all pairs).

    Plan: the (capped) exact pair relation of
    :func:`ngram_jaccard_pairs` at the LOWEST threshold is computed once;
    the grid is an explode over |thresholds| literals on that pair
    relation, then countDistinct aggs at the threshold grain. Pair volume
    is the q23 cost; the sweep itself adds |thresholds| x pairs rows
    pre-combine — never a second self-join."""
    t_min = min(thresholds_pct) / 100.0
    pairs = ngram_jaccard_pairs(
        documents, n, t_min, text_col, id_col, max_df=max_df
    )
    grid = pairs.select(
        "id_a",
        "id_b",
        "jaccard",
        F.explode(
            F.array(*[F.lit(int(t)) for t in sorted(thresholds_pct)])
        ).alias("threshold_pct"),
    ).filter(
        # integer comparison: micro-jaccard vs pct*1e4 — no float boundary
        # ambiguity on exact-threshold pairs in either engine
        F.round(F.col("jaccard") * 1e6).cast("bigint")
        >= F.col("threshold_pct") * 10_000
    )
    # ONE aggregation over the 2×-exploded pair relation (each pair emits
    # its two endpoints; id_b rides along): n_pairs = rows div 2,
    # docs-touched = distinct endpoint, removal bound = distinct id_b.
    # Round 11: the former two-branch shape (pair-grain agg ⋈ endpoint-
    # grain agg) gave the pair pipeline two consumers, and exchange reuse
    # only de-duplicates the map side — the Σdf² self-join reduce + agg
    # ran TWICE per run (plan showed both full subtrees; guide §1.2).
    touched = grid.select(
        "threshold_pct", "id_b", F.explode(F.array("id_a", "id_b")).alias("d")
    )
    return touched.groupBy("threshold_pct").agg(
        F.expr("count(1) div 2").cast("bigint").alias("n_pairs"),
        F.countDistinct("d").cast("bigint").alias("n_docs_touched"),
        F.countDistinct("id_b").cast("bigint").alias("drop_upper_bound"),
    ).select(
        F.col("threshold_pct").cast("bigint").alias("threshold_pct"),
        "n_pairs",
        "n_docs_touched",
        "drop_upper_bound",
    )


def save_minhash_index(signatures: DataFrame, path: str) -> None:
    """Persist the MinHash signature relation
    (:func:`minhash_signatures` output: id + sig array) as parquet — the
    dedup-index lifecycle: sign a release ONCE, reuse the signatures for
    every later cross-release candidate join
    (:func:`incremental_minhash_pairs`) instead of re-shingling the old
    corpus each time. Unlike the KB-sized IVF/PQ indexes this relation is
    corpus-length (one row per doc), so it writes distributed —
    no coalesce, no driver collect."""
    signatures.write.mode("overwrite").parquet(path)


def load_minhash_index(spark, path: str) -> DataFrame:
    """Load a :func:`save_minhash_index` signature relation lazily (a
    DataFrame, never driver-side — corpus-length)."""
    return spark.read.parquet(path)


def sparse_cosine_topk(
    documents: DataFrame,
    k: int = 10,
    max_docs: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Lexical (TF-weighted sparse-vector) cosine top-k pairs on a capped
    sample — the bag-of-words similarity matrix that complements the
    EMBEDDING cosine (q26/q136): a pair lexically close but semantically
    far (or vice versa) localizes embedder failures.

    The q136-capped sample bounds the pair set; the cosine numerator is
    a TERM join (Σ tf_a·tf_b — only shared terms pair, so cost tracks
    shared vocabulary, not sample²·vocab), norms are per-doc aggregates
    broadcast back. Exact integer tf products; one float division per
    surviving pair. Output: top-k (id_a, id_b, cosine) by cosine desc."""
    bucket = F.expr(
        "cast(conv(substring(md5(concat('sc:', cast(did as string))),"
        " 1, 8), 16, 10) as bigint) % 1000000"
    )
    sample_ids = (
        documents.select(F.col(id_col).alias("did"))
        .withColumn("b", bucket.cast("bigint"))
        .orderBy("b", "did")
        .limit(max_docs)
    )
    tf = (
        documents.join(
            F.broadcast(sample_ids),
            F.col(id_col) == F.col("did"),
        )
        .select(
            F.col("did"),
            F.explode(F.split(F.col(text_col), " ")).alias("term"),
        )
        .groupBy("did", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    tf = share_relation(tf)
    norms = tf.groupBy("did").agg(
        F.sum(F.col("tf") * F.col("tf")).alias("n2")
    )
    a = tf.select(
        F.col("did").alias("ida"), F.col("term"), F.col("tf").alias("tfa")
    )
    b = tf.select(
        F.col("did").alias("idb"), F.col("term"), F.col("tf").alias("tfb")
    )
    dots = (
        a.join(b, "term")
        .filter(F.col("ida") < F.col("idb"))
        .groupBy("ida", "idb")
        .agg(F.sum(F.col("tfa") * F.col("tfb")).alias("dot"))
    )
    na = norms.select(F.col("did").alias("ida"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("did").alias("idb"), F.col("n2").alias("nb2"))
    return (
        dots.join(F.broadcast(na), "ida")
        .join(F.broadcast(nb), "idb")
        .select(
            F.col("ida").cast("bigint").alias("id_a"),
            F.col("idb").cast("bigint").alias("id_b"),
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("na2").cast("double"))
                    * F.sqrt(F.col("nb2").cast("double"))
                ),
                6,
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("id_a").asc(), F.col("id_b").asc())
        .limit(k)
    )
